package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * STANAG 4676 (NATO track message) format plugin — the Spark-native
 * re-expression of the reference's JDOM track decoder + ingest handler
 * (extensions/formats/stanag4676/format/.../parser/NATO4676Decoder.java,
 * IngestMessageHandler.java:64-280): one 4676 XML TrackMessage per row
 * parses declaratively with `from_xml`, `<items>` children discriminate on
 * their `xsi:type` attribute (TrackPoint vs MotionEventInformation —
 * NATO4676Decoder.java:397-419), and [[trackPoints]] emits one row per
 * TrackPoint item with the exact field set
 * IngestMessageHandler.setTrackPointData extracts (mission, track
 * number/uuid/status/classification, item uuid/source/classification,
 * event time, speed, course, lat/lon/elevation; end time fixed at −1).
 *
 * Ported quirks, pinned by Stanag4676SourceSpec:
 *  - mission id falls back to the track COMMENT when missionID is absent,
 *    then strips a "Mission:" prefix and trims (IngestMessageHandler
 *    .java:82-95); absent both → empty string;
 *  - track status/classification default to "" while the ITEM
 *    classification defaults to "UNKNOWN" (IngestMessageHandler.java:
 *    97-105 vs 184-187);
 *  - timestamps accept the decoder's fallback chain — micros truncate to
 *    millis via the `(\.\d{3})\d+Z` rewrite, then millis-Z / millis /
 *    seconds-Z / seconds forms (NATO4676Decoder.DateStringToLong:
 *    1320-1344), GMT calendar.
 *
 * Out of scope, documented: the embedded base64 motion-imagery chips
 * (IngestMessageHandler decodes/rescales them with ImageIO — the same
 * sandbox codec boundary as Multimodal) and the identity/classification/
 * management item families that the reference parses but never emits into
 * store features.
 */
object Stanag4676Source {

  /** TrackMessage subset schema for `from_xml`. The `xsi:type`
    * discriminator surfaces as the attribute field `_xsi:type`. */
  val trackMessageSchema: StructType = {
    val item = StructType(Seq(
      StructField("_xsi:type", StringType),
      StructField("trackItemUUID", StringType),
      StructField("trackItemSecurity",
        StructType.fromDDL("classification STRING, policyName STRING")),
      StructField("trackItemTime", StringType),
      StructField("trackItemSource", StringType),
      StructField("trackItemComment", StringType),
      StructField("trackPointPosition", StructType.fromDDL(
        "latitude DOUBLE, longitude DOUBLE, elevation DOUBLE")),
      StructField("motionEventPosition", StructType.fromDDL(
        "latitude DOUBLE, longitude DOUBLE, elevation DOUBLE")),
      StructField("trackPointSpeed", DoubleType),
      StructField("trackPointCourse", DoubleType),
      StructField("trackPointType", StringType),
      StructField("trackPointSource", StringType),
      StructField("motionEvent", StringType),
      StructField("motionEventEndTime", StringType)))
    val track = StructType(Seq(
      StructField("trackUUID", StringType),
      StructField("trackNumber", StringType),
      StructField("trackStatus", StringType),
      StructField("trackSecurity",
        StructType.fromDDL("classification STRING, policyName STRING")),
      StructField("trackComment", StringType),
      StructField("missionID", StringType),
      StructField("exerciseIndicator", StringType),
      StructField("simulationIndicator", StringType),
      StructField("items", ArrayType(item))))
    StructType(Seq(
      StructField("stanagVersion", StringType),
      StructField("msgCreatedTime", StringType),
      StructField("senderId",
        StructType.fromDDL("stationID STRING, nationality STRING")),
      StructField("tracks", ArrayType(track))))
  }

  /** DateStringToLong's fallback chain: truncate sub-milli digits, then
    * millis-Z / millis / seconds-Z / seconds. */
  def trackTime(c: Column): Column = {
    val t = regexp_replace(c, "(\\.\\d{3})\\d+[Z]", "$1Z")
    coalesce(
      try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")),
      try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ss.SSS")),
      try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
      try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ss")))
  }

  /** mission fallback: missionID, else the track comment; strip a LEADING
    * "Mission:" prefix only, trim; absent both → "". */
  private def missionOf(trk: Column): Column = trim(regexp_replace(
    coalesce(trk.getField("missionID"), trk.getField("trackComment"), lit("")),
    "^\\s*Mission:", ""))

  /** parse the raw document column; adds a `msg` struct. */
  def parse(docs: DataFrame, xmlCol: String): DataFrame =
    docs.withColumn("msg", from_xml(col(xmlCol), trackMessageSchema))

  /** one row per TrackPoint item with the setTrackPointData field set
    * (end_ts fixed at −1, as the handler emits —
    * IngestMessageHandler.java:180-181). */
  def trackPoints(docs: DataFrame, idCol: String, xmlCol: String): DataFrame = {
    val pos = col("item.trackPointPosition")
    parse(docs, xmlCol)
      .select(col(idCol).as("input_id"), explode(col("msg.tracks")).as("trk"))
      .select(col("input_id"), col("trk"), explode(col("trk.items")).as("item"))
      .where(col("item").getField("_xsi:type") === "TrackPoint")
      .select(
        col("input_id"),
        missionOf(col("trk")).as("mission"),
        coalesce(col("trk.trackNumber"), lit("")).as("track_number"),
        col("trk.trackUUID").as("track_uuid"),
        coalesce(col("trk.trackStatus"), lit("")).as("track_status"),
        coalesce(col("trk.trackSecurity.classification"), lit("")).as("track_classification"),
        col("item.trackItemUUID").as("track_item_uuid"),
        coalesce(col("item.trackPointSource"), lit("")).as("track_point_source"),
        trackTime(col("item.trackItemTime")).as("ts"),
        col("item.trackPointSpeed").as("speed"),
        col("item.trackPointCourse").as("course"),
        coalesce(col("item.trackItemSecurity.classification"), lit("UNKNOWN"))
          .as("track_item_classification"),
        pos.getField("latitude").as("lat"),
        pos.getField("longitude").as("lon"),
        pos.getField("elevation").as("elevation"),
        lit(-1L).as("end_ts_ms"))
  }
}
