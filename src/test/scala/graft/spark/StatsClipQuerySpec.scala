package graft.spark

import org.apache.spark.sql.functions._

/** Spark-side behavior of the stats-clipped scan (QueryIndexHelper port):
  * pruning is real, results are identical, disjoint stats short-circuit. */
class StatsClipQuerySpec extends SparkTestBase {

  private lazy val pts = Tables.synthPages(spark, 2000).cache()

  test("clip concentrates the range-decomposition budget: fewer false positives pass the coarse prefilter") {
    // a REGIONAL store (one recrawl shard) queried with a box that mostly
    // overhangs it: unclipped, the decomposition budget is spent coarsely
    // over dead space; clipped, the same budget resolves the lived-in
    // envelope finely, so strictly fewer rows survive the coarse cell
    // prefilter (the rows the fine filter would otherwise re-touch)
    val shard = pts.where(col("lon").between(0.0, 50.0) && col("lat").between(0.0, 40.0))
      .withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat")))
      .cache()
    val stats = Ops.bboxStatsEnv(shard).get
    val budget = 16
    val q = (25.0, 179.0, 20.0, 89.0)
    val unclipped = SpatialPlanner.spatialBoxRanges(q._1, q._2, q._3, q._4, budget)
    val e = graft.index.StatsClip.clipEnvelope(
      graft.index.StatsClip.Env(q._1, q._2, q._3, q._4), Some(stats)).get
    val clipped = SpatialPlanner.spatialBoxRanges(e.minX, e.maxX, e.minY, e.maxY, budget)
    def coarsePass(rs: Seq[(Array[Byte], Array[Byte])]): Long =
      shard.where(SpatialPlanner.rangesPredicate(col("cell_id"), rs)).count()
    val (cu, cc) = (coarsePass(unclipped), coarsePass(clipped))
    assert(cc < cu, s"clip must cut coarse false positives: $cc vs $cu")
    // and the final result sets are identical
    val plain = Ops.spatialBoxQuery(shard, q._1, q._2, q._3, q._4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaClip = Ops.spatialBoxQueryClipped(shard, q._1, q._2, q._3, q._4, Some(stats))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaClip == plain && plain.nonEmpty)
    shard.unpersist()
  }

  test("clipped scan returns exactly the unclipped result set") {
    val stats = Ops.bboxStatsEnv(pts).get
    val plain = Ops.spatialBoxQuery(pts, -180.0, -100.0, 40.0, 90.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clipped = Ops.spatialBoxQueryClipped(pts, -180.0, -100.0, 40.0, 90.0, Some(stats))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clipped == plain && plain.nonEmpty)
  }

  test("a query box disjoint from the stats envelope scans nothing (folds to an empty relation)") {
    val stats = graft.index.StatsClip.Env(0.0, 10.0, 0.0, 10.0)
    val df = Ops.spatialBoxQueryClipped(pts, 100.0, 120.0, 50.0, 60.0, Some(stats))
    assert(df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected an empty LocalRelation, got:\n${df.queryExecution.optimizedPlan}")
    assert(df.count() == 0)
  }
}
