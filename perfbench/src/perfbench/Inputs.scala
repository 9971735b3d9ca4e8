package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is column arithmetic over
  * `xxhash64(id, seed, k)`, so the same seed gives the same rows at any
  * parallelism; the cluster centres come from `scala.util.Random` on the
  * same seed. The program under test only ever sees the generated rows. */
object Inputs {
  val Clusters = 100

  /** cluster centres as (lon, lat), away from the antimeridian and poles. */
  def centres(seed: Long): IndexedSeq[(Double, Double)] = {
    val r = new scala.util.Random(seed)
    IndexedSeq.fill(Clusters)((r.nextDouble() * 340.0 - 170.0, r.nextDouble() * 150.0 - 75.0))
  }

  private def h(seed: Long, k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
  private def unit(seed: Long, k: Int): Column = pmod(h(seed, k), lit(1000000007L)) / 1000000007.0

  /** (doc_id, lon, lat): `clusteredPct`% in ±0.2° triangular clusters
    * around the seeded centres, the rest uniform over lon [-180, 180),
    * lat [-85, 85). */
  def points(spark: SparkSession, seed: Long, n: Long, clusteredPct: Int = 75): DataFrame = {
    val cs = centres(seed)
    val cLon = array(cs.map(c => lit(c._1)): _*)
    val cLat = array(cs.map(c => lit(c._2)): _*)
    val clustered = pmod(h(seed, 1), lit(100L)) < clusteredPct
    val which = pmod(h(seed, 2), lit(Clusters.toLong)).cast("int") + 1
    val jLon = (unit(seed, 3) + unit(seed, 4)) * 0.2 - 0.2
    val jLat = (unit(seed, 5) + unit(seed, 6)) * 0.2 - 0.2
    spark.range(n)
      .select(
        col("id").as("doc_id"),
        when(clustered, element_at(cLon, which) + jLon)
          .otherwise(unit(seed, 7) * 360.0 - 180.0).as("lon"),
        when(clustered, element_at(cLat, which) + jLat)
          .otherwise(unit(seed, 8) * 170.0 - 85.0).as("lat"),
        col("id"))
  }

  /** crawl-page rows in the shape `Ingest.run` takes
    * (doc_id, url, warc_ts, html, text, lang, lon, lat). */
  def pages(spark: SparkSession, seed: Long, n: Long): DataFrame =
    points(spark, seed, n)
      .withColumn("url", concat(lit("https://host-"),
        format_string("%05d", pmod(h(seed, 9), lit(50000L))), lit(".example/"),
        lower(hex(h(seed, 10)))))
      .withColumn("warc_ts", timestamp_seconds(lit(1293840000L) + pmod(h(seed, 11), lit(94608000L))))
      .withColumn("html", to_binary(concat(lit("3c68746d6c3e"), lower(hex(h(seed, 12)))), lit("hex")))
      .withColumn("text", concat_ws(" ", (13 until 21).map(k => lower(hex(h(seed, k)))): _*))
      .withColumn("lang", element_at(array(Seq("en", "de", "fr", "es", "zh").map(lit): _*),
        pmod(h(seed, 21), lit(5L)).cast("int") + 1))
      .select("doc_id", "url", "warc_ts", "html", "text", "lang", "lon", "lat")

  /** a corpus with planted near-duplicates: docs come in groups of five
    * sharing 24 group words. Docs 0 and 1 of a group are the 24 words plus
    * one tail word each (word-3-gram Jaccard 22/24); docs 2-4 append 24
    * words of their own, which keeps every other pair of the group below
    * Jaccard 0.5. So at tau 0.5 the true pairs are exactly (5g, 5g+1). */
  def corpus(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val grp = col("id").divide(5).cast("long")
    val member = col("id") % 5
    val base = concat_ws(" ", (0 until 24).map(j => lower(hex(xxhash64(grp, lit(seed), lit(j))))): _*)
    val nearTail = concat(lit(" tail"), (col("id") % 2).cast("string"))
    val farTail = concat_ws(" ",
      (0 until 24).map(j => lower(hex(xxhash64(col("id"), lit(seed), lit(100 + j))))): _*)
    spark.range(n).select(
      col("id").as("doc_id"),
      when(member < 2, concat(base, nearTail)).otherwise(concat(base, lit(" "), farTail)).as("text"))
  }
}
