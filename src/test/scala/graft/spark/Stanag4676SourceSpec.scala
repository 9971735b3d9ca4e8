package graft.spark

import org.apache.spark.sql.functions._

/**
 * STANAG 4676 plugin census over a deterministic fixture message —
 * the decode rules of NATO4676Decoder + the emission rules of
 * IngestMessageHandler (field defaults, mission fallback, date fallback
 * chain, xsi:type discrimination).
 */
class Stanag4676SourceSpec extends SparkTestBase {
  import spark.implicits._

  private val fixture =
    """<TrackMessage xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
      |<stanagVersion>3.1</stanagVersion>
      |<msgCreatedTime>2024-02-01T00:00:00Z</msgCreatedTime>
      |<senderId><stationID>ST1</stationID><nationality>XX</nationality></senderId>
      |<tracks>
      |  <trackUUID>t-001</trackUUID>
      |  <trackNumber>TN1</trackNumber>
      |  <trackStatus>MAINTAINING</trackStatus>
      |  <trackSecurity><classification>NATO_SECRET</classification></trackSecurity>
      |  <missionID>Mission: Alpha </missionID>
      |  <items xsi:type="TrackPoint">
      |    <trackItemUUID>p1</trackItemUUID>
      |    <trackItemSecurity><classification>NATO_UNCLASSIFIED</classification></trackItemSecurity>
      |    <trackItemTime>2024-02-01T10:00:00.123456Z</trackItemTime>
      |    <trackPointPosition><latitude>51.5</latitude><longitude>-0.1</longitude><elevation>12.0</elevation></trackPointPosition>
      |    <trackPointSpeed>10.5</trackPointSpeed>
      |    <trackPointCourse>90.0</trackPointCourse>
      |    <trackPointSource>RADAR</trackPointSource>
      |  </items>
      |  <items xsi:type="TrackPoint">
      |    <trackItemUUID>p2</trackItemUUID>
      |    <trackItemTime>2024-02-01T10:00:05Z</trackItemTime>
      |    <trackPointPosition><latitude>51.6</latitude><longitude>-0.2</longitude><elevation>13.0</elevation></trackPointPosition>
      |  </items>
      |  <items xsi:type="TrackPoint">
      |    <trackItemUUID>p3</trackItemUUID>
      |    <trackItemTime>2024-02-01T10:00:10.500</trackItemTime>
      |    <trackPointPosition><latitude>51.7</latitude><longitude>-0.3</longitude><elevation>14.0</elevation></trackPointPosition>
      |  </items>
      |  <items xsi:type="TrackIdentityInformation">
      |    <trackItemUUID>ignored</trackItemUUID>
      |  </items>
      |  <items xsi:type="MotionEventInformation">
      |    <trackItemUUID>m1</trackItemUUID>
      |    <trackItemTime>2024-02-01T10:00:07Z</trackItemTime>
      |    <motionEventPosition><latitude>51.65</latitude><longitude>-0.25</longitude><elevation>13.5</elevation></motionEventPosition>
      |    <motionEvent> TURN </motionEvent>
      |    <motionEventEndTime>2024-02-01T10:00:09Z</motionEventEndTime>
      |  </items>
      |</tracks>
      |<tracks>
      |  <trackUUID>t-002</trackUUID>
      |  <trackComment>Mission:Beta</trackComment>
      |  <items xsi:type="TrackPoint">
      |    <trackItemUUID>q1</trackItemUUID>
      |    <trackItemTime>2024-02-01T11:00:00Z</trackItemTime>
      |    <trackPointPosition><latitude>40.0</latitude><longitude>5.0</longitude><elevation>0.0</elevation></trackPointPosition>
      |  </items>
      |</tracks>
      |<tracks>
      |  <trackUUID>t-003</trackUUID>
      |</tracks>
      |</TrackMessage>""".stripMargin

  private lazy val docs = Seq((1L, fixture)).toDF("input_id", "xml")

  test("trackPoints census: 4 points, exact field extraction + defaults") {
    val pts = Stanag4676Source.trackPoints(docs, "input_id", "xml")
      .orderBy("track_item_uuid").collect()
    assert(pts.length == 4)
    val p1 = pts(0)
    assert(p1.getAs[String]("track_item_uuid") == "p1")
    assert(p1.getAs[String]("mission") == "Alpha", "Mission: prefix stripped, trimmed")
    assert(p1.getAs[String]("track_number") == "TN1")
    assert(p1.getAs[String]("track_uuid") == "t-001")
    assert(p1.getAs[String]("track_status") == "MAINTAINING")
    assert(p1.getAs[String]("track_classification") == "NATO_SECRET")
    assert(p1.getAs[String]("track_item_classification") == "NATO_UNCLASSIFIED")
    assert(p1.getAs[String]("track_point_source") == "RADAR")
    assert(p1.getAs[Double]("speed") == 10.5 && p1.getAs[Double]("course") == 90.0)
    assert(p1.getAs[Double]("lat") == 51.5 && p1.getAs[Double]("lon") == -0.1)
    assert(p1.getAs[Double]("elevation") == 12.0)
    assert(p1.getAs[Long]("end_ts_ms") == -1L)
    // micros truncate to millis (DateStringToLong's regex rewrite)
    assert(p1.getAs[java.sql.Timestamp]("ts") ==
      java.sql.Timestamp.valueOf("2024-02-01 10:00:00.123"))
    // p2: seconds-Z form; missing item security -> UNKNOWN; source -> ""
    val p2 = pts(1)
    assert(p2.getAs[java.sql.Timestamp]("ts") ==
      java.sql.Timestamp.valueOf("2024-02-01 10:00:05"))
    assert(p2.getAs[String]("track_item_classification") == "UNKNOWN")
    assert(p2.getAs[String]("track_point_source") == "")
    // p3: millis WITHOUT Z form
    assert(pts(2).getAs[java.sql.Timestamp]("ts") ==
      java.sql.Timestamp.valueOf("2024-02-01 10:00:10.5"))
    // q1: mission falls back to the comment; absent status -> ""
    val q1 = pts(3)
    assert(q1.getAs[String]("mission") == "Beta")
    assert(q1.getAs[String]("track_status") == "")
    assert(q1.getAs[String]("track_classification") == "")
  }

  test("mission strip is anchored: only a LEADING \"Mission:\" goes, a mid-text one survives") {
    def doc(mission: String) =
      s"""<TrackMessage xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
         |<tracks>
         |  <trackUUID>t-m</trackUUID>
         |  <missionID>$mission</missionID>
         |  <items xsi:type="TrackPoint">
         |    <trackItemUUID>p</trackItemUUID>
         |    <trackItemTime>2024-02-01T10:00:00Z</trackItemTime>
         |    <trackPointPosition><latitude>1.0</latitude><longitude>2.0</longitude><elevation>0.0</elevation></trackPointPosition>
         |  </items>
         |</tracks>
         |</TrackMessage>""".stripMargin
    val missions = Seq((1L, doc("Op Mission: Gamma")), (2L, doc(" Mission: Delta Mission: X")))
      .toDF("input_id", "xml")
    val got = Stanag4676Source.trackPoints(missions, "input_id", "xml")
      .select("input_id", "mission").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "Op Mission: Gamma", 2L -> "Delta Mission: X"))
  }

  test("identity/classification/management items never leak into the point frames") {
    val all = Stanag4676Source.trackPoints(docs, "input_id", "xml")
      .select("track_item_uuid").collect().map(_.getString(0)).toSet
    assert(!all.contains("ignored"))
  }
}
