package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import graft.spark.{GeoFunctions, SpatialJoin, SpatialPlanner, Tables}

/** The headline job: `polygonJoin` of Spark-cached seeded points (no
  * stored cell id) against the 40 region boxes, then the level-8 tile id
  * and a per-region aggregate. Pure CPU: encode, range prefilter, STRtree
  * point-in-polygon, tile id; no I/O. */
final class JoinTile(seed: Long, n: Long) extends Workload {
  type Out = Map[String, Long]
  val name = "join_tile"
  val inputRows: Long = n
  def sizes: Seq[(String, Long)] = Seq("points" -> n, "regions" -> regions.size.toLong)

  private val regions = Tables.regionGeoms(40)
  private var pts: DataFrame = _
  private var expected: Map[String, Long] = Map.empty

  def prepare(ctx: Ctx): Unit = {
    pts = Inputs.points(ctx.spark, seed, n).select("doc_id", "lon", "lat")
      .repartition(ctx.cores * 2).cache()
    pts.count()
    op(ctx, -1)
  }

  /** per-region counts from plain lon/lat BETWEEN predicates, one pass. */
  def prepareChecks(ctx: Ctx): Seq[Check] = {
    val counts = Tables.regionBoxes(regions.size).map { case (id, lonMin, lonMax, latMin, latMax) =>
      count(when(col("lon").between(lonMin, lonMax) && col("lat").between(latMin, latMax), 1)).as(id)
    }
    val row = pts.agg(counts.head, counts.tail: _*).first()
    expected = row.schema.fieldNames.zipWithIndex
      .map { case (id, k) => id -> row.getLong(k) }.filter(_._2 > 0).toMap
    Nil
  }

  def op(ctx: Ctx, i: Int): Out = {
    val job = ctx.tracer.span("spatialjoin.polygonJoin") {
      SpatialJoin.polygonJoin(pts, regions)
        .withColumn("tile", GeoFunctions.gw_tile_id(col("lon"), col("lat"), 8))
        .groupBy("region_id").agg(count(lit(1)).as("n"), sum("tile").as("tiles"))
    }
    ctx.tracer.span("spark.collect")(job.collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def check(ctx: Ctx, i: Int, out: Out): Check = {
    val exp = expected.values.sum
    val found = expected.map { case (k, v) => math.min(v, out.getOrElse(k, 0L)) }.sum
    if (out == expected) Check(ok = true, found, exp)
    else Check(ok = false, found, exp,
      s"per-region counts differ: ${(out.keySet ++ expected.keySet).toSeq.sorted
        .filter(k => out.get(k) != expected.get(k)).take(5)
        .map(k => s"$k got ${out.get(k)} want ${expected.get(k)}").mkString(", ")}")
  }

  /** The ablation ladder: cumulative prefixes of the job over the same
    * cached input; a layer's self time is the difference between the
    * median times of its prefix and the one before. The prefixes take
    * turns in every round, so JIT drift lands on all of them alike. The
    * funnel counts are the SQLMetrics of the prefilter and
    * point-in-polygon prefixes. */
  override def probe(ctx: Ctx, layers: Layers): Seq[Check] = {
    val perPoly = math.max(1, SpatialPlanner.MaxRangeDecomposition / regions.size)
    val ranges = regions.flatMap { case (_, g) => SpatialPlanner.spatialGeometryRanges(g, perPoly) }
    val cell = GeoFunctions.gw_cell_id(col("lon"), col("lat"))
    val prefixes: Seq[(String, () => DataFrame)] = Seq(
      "scan" -> (() => pts.agg(count(lit(1)), max("lon"), max("lat"))),
      "cell_id" -> (() => pts.withColumn("c", cell).agg(count(lit(1)), max("c"))),
      "prefilter" -> (() => pts.withColumn("c", cell)
        .where(SpatialPlanner.rangesPredicate(col("c"), ranges)).agg(count(lit(1)))),
      "pip" -> (() => SpatialJoin.polygonJoin(pts, regions).agg(count(lit(1)))),
      "tile" -> (() => SpatialJoin.polygonJoin(pts, regions)
        .withColumn("tile", GeoFunctions.gw_tile_id(col("lon"), col("lat"), 8))
        .agg(count(lit(1)), sum("tile"))))
    val reps = 5
    prefixes.foreach(_._2().collect()) // warm-up: codegen and JIT out of the timed rounds
    val rounds = (0 until reps).map { r =>
      prefixes.zipWithIndex.map { case ((label, df), k) =>
        val opId = 1000000 + r * prefixes.size + k
        val t0 = System.nanoTime()
        ctx.asOp(opId, s"ladder.$label")(df().collect())
        val dt = (System.nanoTime() - t0) / 1e9
        label -> (dt, ctx.probe.map(_.plansOf(opId)).getOrElse(Nil))
      }.toMap
    }
    val medians = prefixes.map { case (label, _) =>
      label -> (Stats.median(rounds.map(_(label)._1)), rounds.last(label)._2)
    }.toMap
    def t(l: String) = medians(l)._1
    layers.add("scan.cached_s", t("scan"))
    layers.add("expressions.cell_id_self_s", t("cell_id") - t("scan"))
    layers.add("planner.prefilter_self_s", t("prefilter") - t("cell_id"))
    layers.add("spatialjoin.pip_self_s", t("pip") - t("prefilter"))
    layers.add("expressions.tile_id_self_s", t("tile") - t("pip"))
    val scanned = SparkProbe.sum(medians("prefilter")._2, "numOutputRows")(_.isInstanceOf[InMemoryTableScanExec])
    val passed = SparkProbe.sum(medians("prefilter")._2, "numOutputRows")(_.isInstanceOf[FilterExec])
    val hits = SparkProbe.sum(medians("pip")._2, "numOutputRows")(_.isInstanceOf[GenerateExec])
    if (scanned > 0) layers.add("planner.prefilter_pass_ratio", passed.toDouble / scanned)
    if (passed > 0) layers.add("spatialjoin.pip_hit_ratio", hits.toDouble / passed)
    Nil
  }

  def release(ctx: Ctx): Unit = if (pts != null) pts.unpersist(blocking = true)
}
