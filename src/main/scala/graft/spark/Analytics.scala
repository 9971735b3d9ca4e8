package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import graft.index.MinimalBinHistogram
import org.apache.spark.sql.functions._

/**
 * Clustering / density analytics — Spark-native re-expressions of the
 * reference's MapReduce dataflows (SURVEY §2.6): KMeans
 * (analytics/mapreduce/.../kmeans/KMeansMapReduce.java:62-308 +
 * KMeansIterationsJobRunner.java:43), DBSCAN
 * (dbscan/DBScanMapReduce.java:83-404), KDE heatmap
 * (kde/KDEJobRunner.java:55-406, GaussianFilter.java:16-24), convex hull
 * per cluster (clustering/ConvexHullMapReduce.java:68).
 *
 * Numeric discipline: all accumulations that feed comparisons are integer
 * (centi-degree sums, quantized kernel weights) so results are exactly
 * reproducible by a SQL oracle and invariant to partitioning/order — the
 * property the reference gets from single-reducer determinism, kept here
 * under full parallelism.
 */
object Analytics {

  /** centi-degree integer coordinate (pages lie on a 0.01° grid). */
  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /**
   * One Lloyd assignment pass against broadcast centroids: each point to
   * its nearest centroid (ties → lowest centroid id), returning integer
   * per-cluster stats (cnt, sum of centi-degree lon/lat) — the map +
   * combine of KMeansMapReduce, as one aggregation.
   *
   * The argmin is a single codegen'd column expression
   * ([[NearestCentroid2D]]) — NOT an explode + per-id window: the window
   * form hash-shuffles all n×k scored rows every iteration, while this
   * plan's only exchange is the k-row partial-aggregate handoff (the
   * reference's mapper+combiner shape, KMeansMapReduce.java:62-308;
   * AnalyticsSpec pins scan→partial-agg with a single Exchange).
   */
  def kmeansAssignStats(pts: DataFrame, centroids: Seq[(Long, Double, Double)]): DataFrame =
    pts.select(GeoFunctions.gw_nearest_centroid(col("lon"), col("lat"), centroids)
        .getField("cid").as("centroid_id"),
        col("lon"), col("lat"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("lon"))).as("sum_lon_c"),
        sum(cents(col("lat"))).as("sum_lat_c"))

  /** full Lloyd iterations: centroids refreshed from integer sums each
    * round (new coord = sum_c / cnt / 100 — one double division, exactly
    * reproducible). Driver loops on k-sized aggregates only. */
  def kmeans(pts: DataFrame, init: Seq[(Long, Double, Double)], iters: Int): DataFrame = {
    require(iters >= 1, s"kmeans needs at least one Lloyd iteration (got iters=$iters)")
    var centroids = init
    var stats: DataFrame = null
    for (_ <- 0 until iters) {
      stats = kmeansAssignStats(pts, centroids)
      // carry forward memberless centroids:
      // the groupBy emits no row for them, and silently shrinking k would
      // change every later iteration AND the k the caller asked for
      centroids = refreshCentroids(centroids, stats.collect())
    }
    stats
  }

  /** recompute centroids from a stats collect, carrying forward any
    * centroid that attracted no members this iteration (logged) —
    * shared by [[kmeans]] and [[multiLevelKmeans]]. */
  private def refreshCentroids(prev: Seq[(Long, Double, Double)],
                               rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Double, Double)] = {
    val updated = rows.map { r =>
      r.getLong(0) -> ((r.getLong(2).toDouble / r.getLong(1) / 100.0,
        r.getLong(3).toDouble / r.getLong(1) / 100.0))
    }.toMap
    val lost = prev.map(_._1).filterNot(updated.contains)
    if (lost.nonEmpty)
      println(s"[graft] kmeans: centroids ${lost.mkString(",")} attracted no members this iteration; carried forward unchanged")
    prev.map { case (cid, lon, lat) =>
      updated.get(cid).map { case (x, y) => (cid, x, y) }.getOrElse((cid, lon, lat))
    }.sortBy(_._1)
  }

  /**
   * DBSCAN: cell-partitioned eps-neighbor join (same tiling as
   * Ops.distanceJoin), core points by neighbor count, clusters =
   * connected components of the core-core graph via min-label
   * propagation, borders attached to their lowest core cluster.
   * Output: (id, cluster, role 'core'|'border'|'noise'); cluster = -1
   * for noise. Driver loops on an aggregate change-count only.
   */
  def dbscan(pts: DataFrame, idCol: String, eps: Double, minPts: Int,
             bits: Int = 6): DataFrame = {
    require(360.0 / (1L << bits) >= eps, s"cell size at $bits bits must be >= eps=$eps")
    val base = pts.select(col(idCol).as("id"), col("lon"), col("lat"))
    val d2 = (col("a_lon") - col("b_lon")) * (col("a_lon") - col("b_lon")) +
      (col("a_lat") - col("b_lat")) * (col("a_lat") - col("b_lat"))
    // directed eps-edges including self-loops (counts the point itself)
    val edges = Ops.neighborhoodSelfJoin(base, bits, eps, eps)
      .where(d2 <= lit(eps * eps))
      .select(col("a_id"), col("b_id"))
    dbscanTail(edges, base.select("id"), minPts)
  }

  /**
   * Geometry-input DBSCAN — the reference clusters arbitrary geometries,
   * not just points (DBScanMapReduce over ClusterItem geometries), with
   * item distance = closest-two-points (ClusterItemDistanceFn.java:58-77:
   * DistanceOp.nearestPoints + coordinate metric). eps-candidates come
   * from an envelope tile cover: each geometry's envelope expanded by eps
   * joins the raw envelope cover of its partners on a shared tile, each
   * qualifying pair meets on exactly ONE canonical tile (the min common
   * cover cell), and the exact closest-points filter runs only on those
   * candidates — the geometry twin of the crossing-based point emission.
   * Output matches [[dbscan]]: (id, cluster, role core|border|noise).
   */
  def dbscanGeometry(geoms: DataFrame, idCol: String, wkbCol: String,
                     eps: Double, minPts: Int, bits: Int = 6): DataFrame = {
    val base = geoms.select(col(idCol).as("id"), col(wkbCol).as("wkb"))
    dbscanTail(geometryEpsEdges(base, eps, bits), base.select("id"), minPts)
  }

  /** directed eps-edges (incl. self-loops) between WKB geometries: envelope
    * cover join at `bits` + exact JTS closest-points distance.
    *
    * Scale note (no silent caps): each row emits one candidate-join row per
    * tile its (eps-expanded) envelope overlaps, so the shuffle width is
    * ∝ envelope area / cell area. Pick `bits` so a TYPICAL envelope spans
    * O(1) cells (default 6 → 5.6° cells); world-spanning geometries emit
    * the full grid and belong in a broadcast pass instead. */
  private[spark] def geometryEpsEdges(base: DataFrame, eps: Double, bits: Int): DataFrame = {
    val g = base.withColumn("env", GeoFunctions.st_envelope(col("wkb")))
    def tx(c: Column) = GeoFunctions.gw_tile_x(c, bits)
    def ty(c: Column) = GeoFunctions.gw_tile_y(c, bits)
    // A rides the eps-expanded cover, B the raw cover: any pair within eps
    // has overlapping (expanded-A, raw-B) tile rectangles, so it meets on
    // the rectangles' min common cell — kept once by the canonical-cell
    // filter, no distinct pass over candidate pairs
    val a = g.select(col("id").as("a_id"), col("wkb").as("a_wkb"),
        tx(col("env")(0) - eps).as("a_xlo"), tx(col("env")(1) + eps).as("a_xhi"),
        ty(col("env")(2) - eps).as("a_ylo"), ty(col("env")(3) + eps).as("a_yhi"),
        (col("env")(0) - eps).as("a_x0"), (col("env")(1) + eps).as("a_x1"),
        (col("env")(2) - eps).as("a_y0"), (col("env")(3) + eps).as("a_y1"))
      .withColumn("jx", explode(sequence(col("a_xlo"), col("a_xhi"))))
      .withColumn("jy", explode(sequence(col("a_ylo"), col("a_yhi"))))
    val b = g.select(col("id").as("b_id"), col("wkb").as("b_wkb"),
        tx(col("env")(0)).as("b_xlo"), tx(col("env")(1)).as("b_xhi"),
        ty(col("env")(2)).as("b_ylo"), ty(col("env")(3)).as("b_yhi"),
        col("env")(0).as("b_x0"), col("env")(1).as("b_x1"),
        col("env")(2).as("b_y0"), col("env")(3).as("b_y1"))
      .withColumn("jx", explode(sequence(col("b_xlo"), col("b_xhi"))))
      .withColumn("jy", explode(sequence(col("b_ylo"), col("b_yhi"))))
    a.join(b, Seq("jx", "jy"))
      .where(col("jx") === greatest(col("a_xlo"), col("b_xlo")) &&
        col("jy") === greatest(col("a_ylo"), col("b_ylo")))
      // cheap envelope-overlap prune before any WKB parse
      .where(col("a_x1") >= col("b_x0") && col("b_x1") >= col("a_x0") &&
        col("a_y1") >= col("b_y0") && col("b_y1") >= col("a_y0"))
      .where(GeoFunctions.st_geom_distance(col("a_wkb"), col("b_wkb")) <= eps)
      .select(col("a_id"), col("b_id"))
  }

  /** shared DBSCAN tail over directed eps-edges WITH self-loops:
    * core by neighbor count, min-label components, borders, noise. */
  private def dbscanTail(rawEdges: DataFrame, ids: DataFrame, minPts: Int): DataFrame = {
    val edges = rawEdges.cache()
    val base = ids
    val counts = edges.groupBy("a_id").agg(count(lit(1)).as("n"))
    val core = counts.where(col("n") >= minPts).select(col("a_id").as("id")).cache()
    // min-label propagation over core-core edges
    val coreEdges = edges
      .join(core.withColumnRenamed("id", "a_id"), "a_id")
      .join(core.withColumnRenamed("id", "b_id"), "b_id")
      .select("a_id", "b_id")
      .cache()
    // connected components (driver collapse or checkpointed rounds — see
    // Graphs) over the core-core edges; self-loops are present, so the
    // shared helper's inner join loses no core node
    val labels = Graphs.minLabelComponents(
      coreEdges.select(col("a_id").as("src"), col("b_id").as("dst")))
    val coreOut = labels.select(col("id"), col("lbl").as("cluster"), lit("core").as("role"))
    // border: non-core with >= 1 core neighbor → lowest core cluster
    val nonCore = base.select("id").join(core, Seq("id"), "left_anti")
    // localCheckpoint: this small aggregate appears TWICE in the output
    // plan (union branch + noise's anti-join) — materialize it once
    val borderLbl = edges.withColumnRenamed("a_id", "id")
      .join(nonCore, "id")
      .join(labels.withColumnRenamed("id", "b_id").withColumnRenamed("lbl", "b_lbl"), "b_id")
      .groupBy("id").agg(min("b_lbl").as("cluster"))
      .withColumn("role", lit("border"))
      .localCheckpoint(true)
    val noise = base.select("id")
      .join(core, Seq("id"), "left_anti")
      .join(borderLbl.select("id"), Seq("id"), "left_anti")
      .withColumn("cluster", lit(-1L)).withColumn("role", lit("noise"))
    // materialize the (narrow, O(n)-row) result so the eps-edge and core
    // caches can be released NOW — without this, every dbscan call leaks
    // two cached tables into executor memory for the session's lifetime
    val out = coreOut.unionByName(borderLbl).unionByName(noise).localCheckpoint()
    coreEdges.unpersist() // read by the labels' lazy remap until `out` exists
    edges.unpersist()
    core.unpersist()
    out
  }

  /** 5x5 quantized Gaussian kernel (sigma=1), integer weights — the
    * reference's GaussianFilter splat (kde/GaussianFilter.java:16-24,
    * 62-140) with portable arithmetic. */
  val KdeKernel: Seq[(Int, Int, Long)] = {
    val raw = for (dx <- -2 to 2; dy <- -2 to 2) yield
      (dx, dy, math.round(1000000.0 * math.exp(-(dx * dx + dy * dy) / 2.0)))
    raw.toSeq
  }

  /**
   * KDE heatmap: every point splats the 5x5 kernel onto its tile
   * neighborhood; weights summed per cell (integer — order-free);
   * percentile rank per cell over the level. Two chained aggregations —
   * the reference's two MR jobs (KDEJobRunner.java:111-231).
   */
  /** the splat + per-cell sum (job 1 of the KDE pipeline). */
  def kdeWeights(pts: DataFrame, bits: Int): DataFrame = {
    val maxIdx = (1L << bits) - 1
    val kern = KdeKernel.map { case (dx, dy, w0) =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"), lit(w0).as("w"))
    }
    val cells = pts
      .select(GeoFunctions.gw_tile_x(col("lon"), bits).as("cx"),
        GeoFunctions.gw_tile_y(col("lat"), bits).as("cy"))
      .select(explode(array(kern: _*)).as("k"), col("cx"), col("cy"))
      .select((col("cx") + col("k.dx")).as("tx"), (col("cy") + col("k.dy")).as("ty"),
        col("k.w").as("w"))
      .where(col("tx") >= 0 && col("tx") <= maxIdx && col("ty") >= 0 && col("ty") <= maxIdx)
    cells.groupBy("tx", "ty").agg(sum("w").as("weight"))
  }

  /**
   * Fully distributed prefix sum over a (groupCols..., weight, wcnt)
   * table: per group, `cum_before` = Σ wcnt of strictly-smaller weights
   * and `total` = Σ wcnt — the exact integer CDF inputs, with NO
   * single-partition pass over the weight table at any cardinality
   * (round 2 assumed the distinct-weight table was tiny; on sparse
   * high-entropy data it approaches the cell count). Classic two-pass
   * shape: range-partition by (group, weight), per-partition running sums
   * (window partitioned by partition id), then per-partition totals — a
   * table bounded by `spark.sql.shuffle.partitions` × #groups, NOT by
   * data — carry the cross-partition offsets via a bounded broadcast.
   * Exact integers throughout, so the result is independent of where the
   * range boundaries land.
   */
  private[spark] def distributedCumCounts(wcnts: DataFrame,
                                          groupCols: Seq[String]): DataFrame = {
    val gcols = groupCols.map(col)
    val nParts = wcnts.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // pin the partition assignment: spark_partition_id must not be
    // recomputed under a different physical plan downstream
    val parts = wcnts
      .repartitionByRange(nParts, gcols :+ col("weight"): _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val localW = Window.partitionBy(col("pid") +: gcols: _*).orderBy(col("weight"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = parts.withColumn("lcum", sum(col("wcnt")).over(localW))
    // per-(pid, group) totals: <= nParts + #groups rows — config-bounded,
    // so the unpartitioned-per-group window and the broadcast below are
    // bounded by configuration, never by data volume
    val offW = Window.partitionBy(gcols: _*).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.partitionBy(gcols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = parts.groupBy(col("pid") +: gcols: _*)
      .agg(sum(col("wcnt")).as("ptot"))
      .withColumn("off", coalesce(sum(col("ptot")).over(offW), lit(0L)))
      .withColumn("total", sum(col("ptot")).over(totW))
      .select(col("pid") +: gcols :+ col("off") :+ col("total"): _*)
    local.join(broadcast(offsets), "pid" +: groupCols)
      .withColumn("cum_before", col("off") + col("lcum") - col("wcnt"))
      .select(gcols :+ col("weight") :+ col("wcnt") :+ col("cum_before") :+ col("total"): _*)
  }

  /**
   * Heatmap = weights + per-cell percentile rank, computed as a
   * DISTRIBUTED CDF: [[distributedCumCounts]] supplies the exact
   * cumulative counts over the distinct-weight table (two-pass prefix
   * sum — no single-partition sort even when every cell weight is
   * distinct), and the per-cell tiebreak rank is a window PARTITIONED by
   * weight. Output is bit-identical to
   * `percent_rank() OVER (ORDER BY weight, tx, ty)` — rank(cell) =
   * (#cells with smaller weight) + (rank within its weight by (tx, ty)) —
   * without ever pulling all cells through one task (the reference runs
   * this as a single sorted reduce per level, AccumuloKDEReducer.java:20-118;
   * at render-grade grids that is the scale bottleneck this avoids).
   */
  def kdeHeatmap(pts: DataFrame, bits: Int): DataFrame = {
    val (out, w) = kdeHeatmapLazy(pts, bits)
    // materialize the (occupied-cells-sized) result so the weight cache
    // can be released NOW — the same session-lifetime leak fix as dbscan
    val res = out.localCheckpoint()
    w.unpersist()
    res
  }

  /** the lazy dataflow behind [[kdeHeatmap]] plus its weight-cache handle
    * — spec hooks inspect the FULL physical plan here (the public method
    * checkpoints, which truncates the visible plan). */
  private[spark] def kdeHeatmapLazy(pts: DataFrame, bits: Int): (DataFrame, DataFrame) = {
    val w = kdeWeights(pts, bits).cache()
    val cum = distributedCumCounts(
      w.groupBy("weight").agg(count(lit(1)).as("wcnt")), Seq.empty)
    val withinW = Window.partitionBy(col("weight")).orderBy(col("tx"), col("ty"))
    val out = w.join(cum.select("weight", "cum_before", "total"), "weight")
      .withColumn("rw", row_number().over(withinW).cast("long"))
      .withColumn("pr",
        when(col("total") === 1, lit(0.0))
          .otherwise((col("cum_before") + col("rw") - 1).cast("double") /
            (col("total") - 1).cast("double")))
      .select(col("tx"), col("ty"), col("weight"), col("pr"))
    (out, w)
  }

  /**
   * PYRAMID KDE: the heatmap at every zoom level minBits..maxBits in ONE
   * job — the reference runs its KDE once per level, minLevel..maxLevel
   * (kde/KDEJobRunner.java:111-231); here the level is a column, so the
   * splat, the per-cell sum, the per-level max and the per-level
   * percentile all share one dataflow. Three bands per cell, matching the
   * reference's 3-band tile emit (AccumuloKDEReducer.java:20-256): raw
   * `weight`, `norm` = weight / max-weight-of-level (a broadcast join
   * against the #levels-row max table — never a per-level global window),
   * and percentile `pr` (per-level distributed CDF via
   * [[distributedCumCounts]]). Output: (level, tx, ty, weight, norm, pr).
   *
   * The per-level tile coordinate is computed with the same bucket rule as
   * the single-level splat (`max(ceil(norm·2^level)−1, 0)`), with the bin
   * count `2^level` as a column, so one pass covers all levels.
   */
  def kdeMultiLevel(pts: DataFrame, minBits: Int, maxBits: Int): DataFrame = {
    require(minBits >= 1 && maxBits >= minBits && maxBits <= 30)
    val kern = KdeKernel.map { case (dx, dy, w0) =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"), lit(w0).as("w"))
    }
    // clamp like GeoCodec.bucketLon/bucketLat (normalizeDimension): out-of
    // -range coordinates land in the EDGE cells, exactly as the
    // single-level splat's gw_tile_x/gw_tile_y do — without this they
    // would silently vanish through the tx/ty bounds filter below
    val lonC = least(greatest(col("lon"), lit(-180.0)), lit(180.0))
    val latC = least(greatest(col("lat"), lit(-90.0)), lit(90.0))
    val cells = pts
      .select(col("lon"), col("lat"),
        explode(sequence(lit(minBits), lit(maxBits))).as("level"))
      .withColumn("bins", expr("shiftleft(1L, level)"))
      .withColumn("cx", greatest(ceil((lonC + 180.0) / 360.0 * col("bins")) - 1, lit(0L)).cast("long"))
      .withColumn("cy", greatest(ceil((latC + 180.0) / 360.0 * col("bins")) - 1, lit(0L)).cast("long"))
      .select(col("level"), col("bins"), explode(array(kern: _*)).as("k"), col("cx"), col("cy"))
      .select(col("level"), col("bins"),
        (col("cx") + col("k.dx")).as("tx"), (col("cy") + col("k.dy")).as("ty"),
        col("k.w").as("w"))
      .where(col("tx") >= 0 && col("tx") < col("bins") && col("ty") >= 0 && col("ty") < col("bins"))
      .groupBy("level", "tx", "ty").agg(sum("w").as("weight"))
      .cache()
    val maxes = cells.groupBy("level").agg(max(col("weight")).as("maxw"))
    val cum = distributedCumCounts(
      cells.groupBy("level", "weight").agg(count(lit(1)).as("wcnt")), Seq("level"))
    val withinW = Window.partitionBy(col("level"), col("weight")).orderBy(col("tx"), col("ty"))
    val out = cells
      .join(broadcast(maxes), "level")
      .join(cum.select("level", "weight", "cum_before", "total"), Seq("level", "weight"))
      .withColumn("norm", col("weight").cast("double") / col("maxw").cast("double"))
      .withColumn("rw", row_number().over(withinW).cast("long"))
      .withColumn("pr",
        when(col("total") === 1, lit(0.0))
          .otherwise((col("cum_before") + col("rw") - 1).cast("double") /
            (col("total") - 1).cast("double")))
      .select(col("level"), col("tx"), col("ty"), col("weight"), col("norm"), col("pr"))
      // materialize (≤ Σ_level 4^level occupied cells) and release the
      // cell cache — repeated calls must not accumulate executor storage
      .localCheckpoint()
    cells.unpersist()
    out
  }

  /**
   * Per-GROUP best cluster count by the reference's jump rule —
   * DistortionGroupManagement.DistortionGroup.bestCount
   * (analytics/api/.../clustering/DistortionGroupManagement.java:302-348):
   * scan distortions in ascending cluster-count order, jump = distortion
   * minus the previous (base 0.0), the FIRST maximal jump wins (strict
   * `>`, so ties resolve to the smallest count). Input: one row per
   * (group, cluster_count) with its distortion — a k-sized table (a few
   * counts per group), so the window is never data-sized. Output:
   * (groupCol, best_count).
   */
  def bestGroupCount(distortions: DataFrame, groupCol: String = "group_id",
                     countCol: String = "cluster_count",
                     distortionCol: String = "distortion"): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(countCol))
    distortions
      .withColumn("_jump",
        col(distortionCol) - lag(col(distortionCol), 1, 0.0).over(w))
      .groupBy(col(groupCol))
      // lexicographic max over (jump, -count): max jump, then SMALLEST
      // count — the reference's first-maximal-wins scan order
      .agg(max_by(col(countCol), struct(col("_jump"), -col(countCol)))
        .as("best_count"))
  }

  /** DistortionGroupManagement.retainBestGroups' retention semantics:
    * keep only the centroid rows whose (group, cluster count) is the
    * group's jump-selected best — the post-jump cleanup that leaves one
    * clustering per group. */
  def retainBestGroupCentroids(centroids: DataFrame, distortions: DataFrame,
                               groupCol: String = "group_id",
                               countCol: String = "cluster_count"): DataFrame =
    centroids.join(
      broadcast(bestGroupCount(distortions, groupCol, countCol)
        .withColumnRenamed("best_count", countCol)),
      Seq(groupCol, countCol))

  /** the reference's distortion statistic from a (Σ min-d², n) aggregate —
    * expectation = Σ d² / n, distortion = (expectation / numDims)^(−numDims/2)
    * (KMeansDistortionMapReduce reducer, KMeansDistortionMapReduce.java:
    * 211-253; its test pins (0.34 + 0.75)/2 at dims=2 → 3.6697247706422016).
    * None when the group is empty (the reducer's ptCount == 0 no-write). */
  def distortion(sumSquaredError: Double, count: Long, dims: Int = 2): Option[Double] =
    if (count <= 0) None
    else Some(math.pow(sumSquaredError / count / dims, -(dims / 2.0)))

  /** the mergeable Ben-Haim/Tom-Tov histogram as a typed Aggregator —
    * per-partition streaming [[MinimalBinHistogram]]s merged
    * pairwise by the paper's Algorithm 2, the exact shape of the
    * reference's mergeable FeatureNumericHistogramStatistics
    * (DataStatistics.merge). Only k·nbins numbers ever cross the wire. */
  private final class MinimalBinAgg(nbins: Int)
      extends Aggregator[Double, MinimalBinHistogram, Array[Byte]] {
    override def zero: MinimalBinHistogram = new MinimalBinHistogram(nbins)
    override def reduce(h: MinimalBinHistogram, v: Double): MinimalBinHistogram = { h.add(v); h }
    override def merge(a: MinimalBinHistogram, b: MinimalBinHistogram): MinimalBinHistogram = {
      a.merge(b); a
    }
    override def finish(h: MinimalBinHistogram): Array[Byte] = h.toBytes
    override def bufferEncoder: Encoder[MinimalBinHistogram] = Encoders.javaSerialization
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** distributed approximate quantiles/CDF over a numeric column via the
    * dynamic-bin histogram: returns the merged histogram itself so the
    * caller can take quantiles, cdf and per-bin counts from ONE pass. */
  def minimalBinHistogram(df: DataFrame, valueCol: String,
                          nbins: Int = 1024): MinimalBinHistogram = {
    val spark = df.sparkSession
    import spark.implicits._
    // nulls are skipped (the reference statistics ingest only present
    // values); without the filter the primitive deserializer would throw
    val bytes = df.select(col(valueCol).cast("double"))
      .where(col(valueCol).isNotNull).as[Double]
      .select(new MinimalBinAgg(nbins).toColumn).collect()(0)
    MinimalBinHistogram.fromBytes(bytes)
  }

  /** one grouped Lloyd assignment pass for ALL parents at once: each point
    * scored only against its own parent's centroids via the codegen'd
    * [[NearestCentroidGrouped2D]] argmin (no explode, no per-id window —
    * the only exchange is the (parent, centroid)-row partial-agg handoff),
    * integer stats grouped by (parent_id, centroid_id). */
  private[spark] def groupedAssignStats(assigned: DataFrame,
                                 centroids: Seq[(Long, Long, Double, Double)]): DataFrame =
    assigned
      .select(col("parent_id"),
        GeoFunctions.gw_nearest_centroid_grouped(
          col("parent_id"), col("lon"), col("lat"), centroids).as("centroid_id"),
        col("lon"), col("lat"))
      // a parent with no centroids argmins to -1: drop those rows (the
      // pre-argmin explode+same-parent-join dropped them implicitly) —
      // otherwise they fabricate a (parent, -1) stats group downstream
      .where(col("centroid_id") =!= -1L)
      .groupBy("parent_id", "centroid_id")
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("lon"))).as("sum_lon_c"),
        sum(cents(col("lat"))).as("sum_lat_c"))

  /** multi-level (zoom) clustering: kmeans at level 1, then kmeans again
    * within each level-1 cluster (reference: MultiLevelKMeansClustering
    * JobRunner, GroupAssignmentMapReduce ZOOM_LEVEL regrouping). Output:
    * (parent_id, centroid_id, cnt, sum_lon_c, sum_lat_c).
    *
    * Level 2 runs every parent in the SAME job: child init is one
    * windowed pass (childK lowest ids per parent), each Lloyd iteration
    * is one [[groupedAssignStats]] aggregation over all parents, and the
    * driver only ever collects k₁·childK-sized centroid aggregates — no
    * per-parent job chains, so wall time is iters jobs regardless of k₁
    * (the reference pays one MR chain per zoom group). */
  def multiLevelKmeans(pts: DataFrame, init1: Seq[(Long, Double, Double)],
                       childK: Int, iters: Int): DataFrame = {
    require(iters >= 1,
      s"multiLevelKmeans needs at least one Lloyd iteration per level (got iters=$iters)")
    // level 1: final assignment of every point to a parent
    var centroids = init1
    for (_ <- 0 until iters) {
      val stats = kmeansAssignStats(pts, centroids)
      centroids = refreshCentroids(centroids, stats.collect()) // carry-forward, like kmeans
    }
    // final level-1 assignment: one codegen'd argmin column, no shuffle.
    // localCheckpoint, not cache(): the returned stats plan reads it after
    // this call returns, and a cache() here would pin executor storage for
    // the session lifetime (nothing could safely unpersist it)
    val assigned = pts.select(
        GeoFunctions.gw_nearest_centroid(col("lon"), col("lat"), centroids)
          .getField("cid").as("parent_id"),
        col("id"), col("lon"), col("lat"))
      .localCheckpoint(true)
    // level-2 init: the childK lowest point ids per parent, in one window
    val initW = Window.partitionBy(col("parent_id")).orderBy(col("id"))
    var cents2 = assigned
      .withColumn("irn", row_number().over(initW))
      .where(col("irn") <= childK)
      .select("parent_id", "id", "lon", "lat").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    var stats: DataFrame = null
    for (_ <- 0 until iters) {
      stats = groupedAssignStats(assigned, cents2)
      // grouped carry-forward: a memberless child centroid keeps its spot
      // (same contract as refreshCentroids)
      val updated = stats.collect().map { r =>
        (r.getLong(0), r.getLong(1)) -> ((
          r.getLong(3).toDouble / r.getLong(2) / 100.0,
          r.getLong(4).toDouble / r.getLong(2) / 100.0))
      }.toMap
      val lost = cents2.map(t => (t._1, t._2)).filterNot(updated.contains)
      if (lost.nonEmpty)
        println(s"[graft] multiLevelKmeans: child centroids ${lost.mkString(",")} attracted no members this iteration; carried forward unchanged")
      cents2 = cents2.map { case (p, cid, lon, lat) =>
        updated.get((p, cid)).map { case (x, y) => (p, cid, x, y) }.getOrElse((p, cid, lon, lat))
      }.sortBy(t => (t._1, t._2))
    }
    stats.select("parent_id", "centroid_id", "cnt", "sum_lon_c", "sum_lat_c")
  }

  /**
   * PYRAMID KDE raster tiles: per-(level, tile) 3-band tiles assembled
   * from [[kdeMultiLevel]] — the missing half of AccumuloKDEReducer
   * parity (AccumuloKDEReducer.java:20-256 emits, per level, tiles whose
   * bands are raw weight, normalized weight and percentile; the per-level
   * loop is KDEJobRunner.java:111-231). One job: every level's cells are
   * computed, normalized and percent-ranked by the shared multi-level
   * dataflow, then grouped under a FIXED `tileBits` tile grid — a level-l
   * tile holds a (2^(l−tileBits))² row-major cell grid, so tiles deepen
   * as the pyramid zooms, exactly like map-tile pyramids. Assembly is an
   * order-independent map-from-entries lookup per position; absent cells
   * are zero-filled.
   */
  def kdeTilesMultiLevel(pts: DataFrame, minBits: Int, maxBits: Int,
                         tileBits: Int): DataFrame = {
    require(tileBits < minBits, s"tileBits=$tileBits must be < minBits=$minBits")
    require(maxBits - tileBits <= 15,
      s"tile side 2^${maxBits - tileBits} at the finest level too large to assemble (max 2^15 per axis)")
    val cells = kdeMultiLevel(pts, minBits, maxBits) // checkpointed table
    cells
      .withColumn("side", expr(s"shiftleft(1L, level - $tileBits)"))
      .withColumn("tile_x", expr(s"shiftright(tx, level - $tileBits)"))
      .withColumn("tile_y", expr(s"shiftright(ty, level - $tileBits)"))
      .withColumn("pos", (col("ty").bitwiseAND(col("side") - 1) * col("side") +
        col("tx").bitwiseAND(col("side") - 1)).cast("int"))
      .groupBy("level", "tile_x", "tile_y")
      .agg(map_from_entries(collect_list(struct(col("pos"), col("weight")))).as("wm"),
        map_from_entries(collect_list(struct(col("pos"), col("norm")))).as("nm"),
        map_from_entries(collect_list(struct(col("pos"), col("pr")))).as("pm"))
      .withColumn("side", expr(s"shiftleft(1L, level - $tileBits)"))
      // band order (weight, pct, norm)
      .select(col("level"), col("tile_x"), col("tile_y"),
        transform(sequence(lit(0), (col("side") * col("side") - 1).cast("int")),
          i => coalesce(element_at(col("wm"), i), lit(0L))).as("band_weight"),
        transform(sequence(lit(0), (col("side") * col("side") - 1).cast("int")),
          i => coalesce(element_at(col("pm"), i), lit(0.0))).as("band_pct"),
        transform(sequence(lit(0), (col("side") * col("side") - 1).cast("int")),
          i => coalesce(element_at(col("nm"), i), lit(0.0))).as("band_norm"))
  }

  /** two-dataset KDE difference on the shared cell grid (the reference's
    * seasonal ComparisonStatsJobRunner): full-outer join of the two
    * heatmaps, missing cells count as 0. */
  def kdeCompare(ptsA: DataFrame, ptsB: DataFrame, bits: Int): DataFrame = {
    val a = kdeWeights(ptsA, bits).select(col("tx"), col("ty"), col("weight").as("w_a"))
    val b = kdeWeights(ptsB, bits).select(col("tx"), col("ty"), col("weight").as("w_b"))
    a.join(b, Seq("tx", "ty"), "full_outer")
      .select(col("tx"), col("ty"),
        coalesce(col("w_a"), lit(0L)).as("w_a"),
        coalesce(col("w_b"), lit(0L)).as("w_b"),
        (coalesce(col("w_a"), lit(0L)) - coalesce(col("w_b"), lit(0L))).as("diff"))
  }

  /** convex (or concave, threshold>0) hull WKT per group: groupBy →
    * collect coordinates → hull (ConvexHullMapReduce semantics; the
    * concave variant is the reference's Park & Oh edge-digging algorithm,
    * analytics/api/.../GeometryHullTool.java:268-379, reimplemented in
    * [[Hulls.concaveHullParkOh]] — `concaveThreshold` is the paper's N,
    * reference default 1.8; 0 selects the convex hull).
    *
    * `area_x2_c2` is twice the hull area in centi-degree² units, computed
    * by an exact integer shoelace over the ring vertices (inputs lie on
    * the 0.01° grid, so `round(coord*100)` is lossless) — the
    * oracle-comparable twin of the double `area`. */
  def convexHullPerGroup(df: DataFrame, groupCol: String,
                         concaveThreshold: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("long").as("g"), col("lon"), col("lat"))
      .as[(Long, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        val gf = new org.locationtech.jts.geom.GeometryFactory()
        val coords = it.map(t => new org.locationtech.jts.geom.Coordinate(t._2, t._3)).toArray
        val hull =
          if (concaveThreshold <= 0.0)
            new org.locationtech.jts.algorithm.ConvexHull(coords, gf).getConvexHull
          else
            Hulls.concaveHullParkOh(coords, gf, concaveThreshold)
        // exact integer shoelace in centi-degrees over the ring (abs:
        // JTS ring orientation is CW, the oracle's edge walk is CCW)
        val ring =
          if (hull.isInstanceOf[org.locationtech.jts.geom.Polygon]) hull.getCoordinates
          else Array.empty[org.locationtech.jts.geom.Coordinate]
        var s2 = 0L
        var i = 0
        while (i < ring.length - 1) {
          val ax = math.round(ring(i).x * 100); val ay = math.round(ring(i).y * 100)
          val bx = math.round(ring(i + 1).x * 100); val by = math.round(ring(i + 1).y * 100)
          s2 += ax * by - ay * bx
          i += 1
        }
        (g, hull.getNumPoints.toLong, hull.getArea, math.abs(s2), hull.toText)
      }
      .toDF("group_id", "n_vertices", "area", "area_x2_c2", "wkt")
  }

  /**
   * Per-cluster hull over GEOMETRY-input DBSCAN members — the batch twin
   * of the reference's cluster compression: DBScanClusterList accumulates
   * member coordinates and compresses them to a concave hull, merged
   * clusters union their hulls via the hull-connect walk
   * (DBScanClusterList.java:34-47 connectGeometryTool;
   * ClusterUnionList.java:51-65 merge→union; SingleItemClusterList
   * checkForCompression). The incremental single-thread accumulation
   * re-expresses as ONE hull over every member geometry's coordinates per
   * cluster (same covered set, order-free). Noise is excluded. Output:
   * (cluster, n_members, n_vertices, min_x, max_x, min_y, max_y, wkt).
   */
  def dbscanGeometryHulls(geoms: DataFrame, idCol: String, wkbCol: String,
                          eps: Double, minPts: Int, bits: Int = 6,
                          concaveThreshold: Double = 0.0): DataFrame = {
    val spark = geoms.sparkSession
    import spark.implicits._
    val base = geoms.select(col(idCol).as("id"), col(wkbCol).as("wkb"))
    val assign = dbscanGeometry(geoms, idCol, wkbCol, eps, minPts, bits)
      .where(col("cluster") =!= -1L)
    assign.join(base, "id")
      .select(col("cluster"), col("wkb"))
      .as[(Long, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (cl, it) =>
        val gf = new org.locationtech.jts.geom.GeometryFactory()
        val reader = new org.locationtech.jts.io.WKBReader(gf)
        var n = 0L
        val coords = scala.collection.mutable.LinkedHashSet.empty[
          org.locationtech.jts.geom.Coordinate]
        it.foreach { case (_, wkb) =>
          n += 1
          reader.read(wkb).getCoordinates.foreach(coords += _)
        }
        val arr = coords.toArray
        val hull =
          if (concaveThreshold <= 0.0)
            new org.locationtech.jts.algorithm.ConvexHull(arr, gf).getConvexHull
          else Hulls.concaveHullParkOh(arr, gf, concaveThreshold)
        val e = hull.getEnvelopeInternal
        (cl, n, hull.getNumPoints.toLong, e.getMinX, e.getMaxX, e.getMinY, e.getMaxY,
          hull.toText)
      }
      .toDF("cluster", "n_members", "n_vertices", "min_x", "max_x", "min_y", "max_y", "wkt")
  }
}
