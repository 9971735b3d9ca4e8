package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.functions._

/**
 * The 100 TB read path: queries over the INGESTED store (stored `cell_id`
 * sort column) must push their range predicates into the parquet scan so
 * Iceberg/parquet row-group min/max stats prune I/O — the Spark analogue
 * of the reference's scanner ranges (AccumuloConstraintsQuery). Input
 * WITHOUT a stored cell id never pays a per-row encode or range test.
 */
class PushdownSpec extends SparkTestBase {

  private lazy val storeDir: String = {
    val dir = graft.TestTmp.dir("graft-pushdown").toString
    val pages = Tables.synthPages(spark, 5000)
    Ingest.run(spark, pages, dir, Ingest.Config(numBuckets = 4, batchSize = 4))
    dir
  }

  test("stored-cell_id box query pushes range predicates to the parquet scan") {
    val store = Ingest.readStore(spark, storeDir)
    val q = Ops.spatialBoxQuery(store, -20, 55, -10, 48)
    val plan = q.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(cell_id"),
      s"cell_id range not pushed to scan:\n${plan.take(2000)}")
    // same result as the exact box filter with no prefilter
    val want = Ops.spatialBoxQuery(store.drop("cell_id"), -20, 55, -10, 48)
      .select("url").collect().map(_.getString(0)).toSet
    val got = q.select("url").collect().map(_.getString(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("binary-search predicate keeps a pushable bounding envelope") {
    val store = Ingest.readStore(spark, storeDir)
    // many polygons → many ranges → CellInRanges path with bounding range
    val regions = Tables.regionGeoms(40)
    val joined = SpatialJoin.polygonJoin(store, regions)
    val plan = joined.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(cell_id"),
      s"bounding cell_id range not pushed:\n${plan.take(2000)}")
    // the merged per-polygon range budget drops no match: same pairs as
    // the exact PIP join with no prefilter
    def pairs(q: org.apache.spark.sql.DataFrame) =
      q.select("url", "region_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = pairs(SpatialJoin.polygonJoin(store.drop("cell_id"), regions))
    assert(pairs(joined) == want && want.nonEmpty)
  }

  private def pushedFilters(q: org.apache.spark.sql.DataFrame): String =
    q.queryExecution.executedPlan.toString.linesIterator.filter(_.contains("PushedFilters")).mkString

  private def urls(q: org.apache.spark.sql.DataFrame): Set[String] =
    q.select("url").collect().map(_.getString(0)).toSet

  private val triangle = new org.locationtech.jts.io.WKTReader()
    .read("POLYGON ((-20 -10, 55 -10, 10 48, -20 -10))")
  private val (tsMin, tsMax) = (java.sql.Timestamp.valueOf("2011-06-01 00:00:00"),
    java.sql.Timestamp.valueOf("2012-09-01 00:00:00"))

  test("stored-cell_id radius and geometry queries push range predicates to the scan") {
    val store = Ingest.readStore(spark, storeDir)
    val queries: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "radius" -> (df => Ops.radiusQueryMeters(df, 10.0, 20.0, 3000000.0)),
      "geometry" -> (df => Ops.spatialGeometryQuery(df, triangle)))
    for ((name, run) <- queries) {
      val q = run(store)
      assert(pushedFilters(q).contains("GreaterThanOrEqual(cell_id"),
        s"$name: cell_id range not pushed to scan:\n${q.queryExecution.executedPlan.toString.take(2000)}")
      val want = urls(run(store.drop("cell_id")))
      assert(urls(q) == want && want.nonEmpty, name)
    }
  }

  test("stored cell_id_st is range-filtered in the scan, never re-encoded") {
    val dir = graft.TestTmp.dir("graft-pushdown-st").toString
    val ev = Tables.synthPages(spark, 3000).select(col("url"), col("lon"), col("lat"),
      col("warc_ts").as("ts"))
    ev.withColumn("cell_id_st", GeoFunctions.gw_cell_id_st(col("lon"), col("lat"), col("ts")))
      .sortWithinPartitions("cell_id_st").write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val q = Ops.stBoxQuery(stored, -90, 90, -60, 60, tsMin, tsMax)
    // the plan string cuts long filter lists; with no `cell_id` column
    // stored, a pushed cell range can only be on cell_id_st
    assert(!stored.columns.contains("cell_id") &&
      pushedFilters(q).contains("GreaterThanOrEqual(cell_id"),
      s"cell_id_st range not pushed to scan:\n${q.queryExecution.executedPlan.toString.take(2000)}")
    assert(!q.queryExecution.executedPlan.toString.toLowerCase.contains("cellidspatialtemporal"))
    val want = urls(Ops.stBoxQuery(ev, -90, 90, -60, 60, tsMin, tsMax))
    assert(urls(q) == want && want.nonEmpty)
  }

  test("without a stored cell id no operator encodes or range-tests a cell, and none adds columns") {
    val pts = Tables.synthPages(spark, 2000).select(col("url"), col("lon"), col("lat"),
      col("warc_ts").as("ts"))
    val queries = Seq(
      "box" -> (Ops.spatialBoxQuery(pts, -20, 55, -10, 48), pts.columns.toSeq),
      "geometry" -> (Ops.spatialGeometryQuery(pts, triangle), pts.columns.toSeq),
      "radius" -> (Ops.radiusQueryMeters(pts, 10.0, 20.0, 3000000.0), pts.columns.toSeq),
      "st_box" -> (Ops.stBoxQuery(pts, -90, 90, -60, 60, tsMin, tsMax), pts.columns.toSeq),
      "polygon_join" -> (SpatialJoin.polygonJoin(pts, Tables.regionGeoms(40)),
        pts.columns.toSeq :+ "region_id"))
    for ((name, (q, cols)) <- queries) {
      val plan = q.queryExecution.executedPlan.toString.toLowerCase
      for (encode <- Seq("cellidspatial", "cellidspatialtemporal", "cellinranges"))
        assert(!plan.contains(encode), s"$name: plan runs $encode:\n${plan.take(2000)}")
      assert(q.columns.toSeq == cols, name)
      assert(q.count() > 0, name)
    }
  }

  test("column pruning reaches the scan (ReadSchema excludes unused cols)") {
    val store = Ingest.readStore(spark, storeDir)
    val q = store.select(col("url"), col("lon")).where(col("lon") > 0)
    val plan = q.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("lon") &&
      !readSchema.contains("text") && !readSchema.contains("html"),
      s"scan reads more than projected: $readSchema")
  }
}
