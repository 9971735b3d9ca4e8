package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The reference's GDELT flat-file format plugin re-expressed as a
 * declarative line parser (extensions/formats/gdelt/.../GDELTUtils.java:
 * 39-180, GDELTIngestPlugin.java:150-360). It takes a frame of raw LINES
 * and yields the typed feature frame; malformed rows drop exactly where the reference's
 * catch-and-continue loops drop them (expressed as try_-family nulls +
 * filters, so the plan stays codegen'd and scan-parallel).
 */
object FlatGeoSource {

  // try_element_at, not element_at: ANSI mode throws on out-of-bounds
  // indices, and Catalyst may evaluate a projection expression on rows a
  // sibling filter would have dropped — null-then-filter is the safe shape
  private def at(v: Column, zeroBased: Int): Column =
    try_element_at(v, lit(zeroBased + 1))

  /** empty tokens become NULL attributes, as the reference's
    * `if (x != null && !x.isEmpty()) set(x)` guards leave them. */
  private def nonEmpty(c: Column): Column = when(length(c) > 0, c)

  /**
   * GDELT event lines (tab-separated, 57 or 58 columns under JAVA
   * `String.split` semantics — trailing empty fields do not count, so
   * trailing tabs strip before splitting). Reference rules: wrong column
   * count → skip; actionGeoType (col 49) unparseable or 0 (no geo) →
   * skip; empty/unparseable action lat/lon (cols 53/54) → skip;
   * timestamp = col 1 as yyyyMMdd. `extended` adds the
   * actor/country/mentions/tone set: EMPTY tokens yield null attributes,
   * but a non-empty unparseable numeric throws in the reference's
   * per-line try and drops the WHOLE line — mirrored by the
   * nonEmpty-and-uncastable filters. The source URL (col 57) exists only
   * on 58-column lines.
   */
  def gdeltEvents(lines: DataFrame, lineCol: String,
                  extended: Boolean = false): DataFrame = {
    // Java line.split("\t") drops trailing empty tokens
    val v = split(regexp_replace(col(lineCol), "\t+$", ""), "\t", -1)
    val base = lines.select(v.as("v"))
      .where(size(col("v")) >= 57 && size(col("v")) <= 58)
      .where(at(col("v"), 49).try_cast("int").isNotNull &&
        at(col("v"), 49).try_cast("int") =!= 0)
      .withColumn("lat", at(col("v"), 53).try_cast("double"))
      .withColumn("lon", at(col("v"), 54).try_cast("double"))
      .where(col("lat").isNotNull && col("lon").isNotNull)
      .withColumn("eventid", at(col("v"), 0).try_cast("int"))
      .withColumn("ts",
        try_to_timestamp(at(col("v"), 1), lit("yyyyMMdd")).cast("date"))
      .where(col("eventid").isNotNull && col("ts").isNotNull)
    if (!extended) base.select(col("eventid"), col("ts"), col("lat"), col("lon"))
    else {
      // a NON-empty numeric token that fails to parse kills the line
      def numericOk(zeroBased: Int): Column = {
        val tok = at(col("v"), zeroBased)
        length(tok) === 0 || tok.try_cast("double").isNotNull
      }
      base
        .where(numericOk(31) && numericOk(32) && numericOk(33) && numericOk(34))
        .select(
          col("eventid"), col("ts"), col("lat"), col("lon"),
          nonEmpty(at(col("v"), 6)).as("actor1"),
          nonEmpty(at(col("v"), 16)).as("actor2"),
          nonEmpty(at(col("v"), 51)).as("action_country"),
          at(col("v"), 31).try_cast("int").as("n_mentions"),
          at(col("v"), 32).try_cast("int").as("n_sources"),
          at(col("v"), 33).try_cast("int").as("n_articles"),
          at(col("v"), 34).try_cast("double").as("avg_tone"),
          when(size(col("v")) === 58, nonEmpty(at(col("v"), 57))).as("source_url"))
    }
  }
}
