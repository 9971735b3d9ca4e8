package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * GPX format plugin — the Spark-native re-expression of the reference's
 * streaming GPX consumer (extensions/formats/gpx/.../GPXConsumer.java:88-926),
 * for its waypoint family: one GPX document string per row parses
 * declaratively with `from_xml`, then explodes into a typed waypoint
 * frame. Waypoint ids embed the reference's `toID` coordinate format:
 * DecimalFormat("0000000000") of value × 1e7 (HALF_EVEN — Spark's
 * `bround`), sign leading (GPXConsumer.toID:922-925). GpxSourceSpec pins
 * them against the reference's own sample document
 * (GPXConsumerTest.java:40-205).
 */
object GpxSource {

  /** GPX 1.1 waypoint schema for `from_xml` (attributes use the default
    * `_` prefix). */
  val gpxSchema: StructType = StructType.fromDDL(
    "wpt ARRAY<STRUCT<_lat: DOUBLE, _lon: DOUBLE, ele: DOUBLE, name: STRING, " +
      "desc: STRING, sym: STRING, type: STRING>>")

  /** the reference's toID coordinate key: DecimalFormat("0000000000") of
    * value × 1e7 — HALF_EVEN integer, zero-padded to 10 digits, sign
    * leading. */
  def coordId(v: Column): Column = concat(
    when(v < 0, lit("-")).otherwise(lit("")),
    lpad(abs(bround(v * 1e7, 0)).cast("long").cast("string"), 10, "0"))

  /** one row per waypoint; the id embeds name and the toID coordinates
    * exactly as the reference's composeID does for wpt. */
  def waypoints(docs: DataFrame, idCol: String, xmlCol: String): DataFrame =
    docs.select(col(idCol).as("input_id"),
        explode(from_xml(col(xmlCol), gpxSchema).getField("wpt")).as("w"))
      .select(
        concat_ws("_",
          regexp_replace(col("w.name"), lit("\\s+"), lit("_")),
          coordId(col("w._lat")), coordId(col("w._lon"))).as("id"),
        col("w._lat").as("lat"), col("w._lon").as("lon"),
        col("w.ele").as("elevation"), col("w.name").as("name"),
        col("w.desc").as("description"), col("w.sym").as("symbol"),
        col("w.type").as("wpt_type"))
}
