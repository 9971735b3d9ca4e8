package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GeoFunctions._

/**
 * Spark-native re-expressions of the reference's query/analytic operators.
 * Every operator is a declarative DataFrame transform (Catalyst plans,
 * whole-stage codegen) — no RDDs, no driver-side loops over data.
 */
object Ops {

  // ---------------------------------------------------------------- scans

  /** Spatial range (box) query through the index pipeline: coarse
    * cell-id range prefilter from SFC decomposition over a stored
    * `cell_id` ([[SpatialPlanner.prefilterStored]]) + exact MBR test.
    * Output: the input columns.
    * (reference: SpatialQuery via BaseDataStore.query, SURVEY §3.1) */
  def spatialBoxQuery(pts: DataFrame, lonMin: Double, lonMax: Double,
                      latMin: Double, latMax: Double): DataFrame =
    SpatialPlanner.prefilterStored(pts, "cell_id",
        SpatialPlanner.spatialBoxRanges(lonMin, lonMax, latMin, latMax))
      .where(SpatialPlanner.boxPredicate(col("lon"), col("lat"), lonMin, lonMax, latMin, latMax))

  /** Spatial geometry query: envelope-decomposed cell prefilter over a
    * stored `cell_id` + exact prepared-geometry test (OVERLAPS →
    * intersects). Output: the input columns.
    * (reference: SpatialQueryFilter.java:50-80; prepared interning :284-301) */
  def spatialGeometryQuery(pts: DataFrame, geom: org.locationtech.jts.geom.Geometry): DataFrame = {
    val coarse = SpatialPlanner.prefilterStored(pts, "cell_id",
      SpatialPlanner.spatialGeometryRanges(geom))
    if (geom.isRectangle) {
      // residual-filter elision: the geometry IS its envelope, so the MBR
      // test alone decides — no prepared-geometry work per row
      // (reference: BasicQuery.constraintsMatchGeometry / equalsTopo check,
      // IndexOnlySpatialQuery.java:30-39)
      val e = geom.getEnvelopeInternal
      coarse.where(SpatialPlanner.boxPredicate(col("lon"), col("lat"),
        e.getMinX, e.getMaxX, e.getMinY, e.getMaxY))
    } else {
      val wkb = new org.locationtech.jts.io.WKBWriter(2).write(geom)
      coarse.where(st_covers_point(col("lon"), col("lat"), wkb))
    }
  }

  /**
   * Box query over an ENVELOPE-indexed store: rows carry one row per
   * insertion id (multi-tier, coarse tiers hold duplicates), so the scan
   * fans ranges across every tier and dedupes by data id — the
   * reference's full tier fan-out + DedupeFilter pipeline
   * (TieredSFCIndexStrategy.getQueryRanges:78-161; DedupeFilter.java:18-60;
   * dedupe gated on the store's duplicate count like ConstraintsQuery
   * .java:47-49). The fine filter is the envelope-overlap MBR test.
   */
  def spatialBoxQueryEnvelopes(store: DataFrame, idCol: String,
                               lonMin: Double, lonMax: Double,
                               latMin: Double, latMax: Double,
                               hasDuplicates: Boolean = true): DataFrame = {
    val ranges = SpatialPlanner.spatialBoxRanges(lonMin, lonMax, latMin, latMax,
      pointOnly = false)
    val overlaps = // OVERLAPS on stored envelopes (BasicQueryFilter.java:40-63)
      col("env_lon_max") >= lit(lonMin) && col("env_lon_min") <= lit(lonMax) &&
        col("env_lat_max") >= lit(latMin) && col("env_lat_min") <= lit(latMax)
    val hits = store
      .where(SpatialPlanner.rangesPredicate(col("cell_id"), ranges))
      .where(overlaps)
    // drop the index-artifact column BEFORE the dedupe: a multi-tier entry
    // matches via several cell_ids and dropDuplicates keeps an arbitrary
    // row — identical payloads make the surviving row's CONTENT
    // deterministic (the reference's DedupeFilter returns the entry, not
    // its row id)
    if (hasDuplicates) hits.drop("cell_id").dropDuplicates(idCol) else hits
  }

  /** envelope-store encode: one row per tiered insertion id, with the
    * geometry envelope and the duplicate count carried along
    * (EntryRowID.numDuplicates semantics). */
  def encodeEnvelopes(geoms: DataFrame, idCol: String): DataFrame = {
    val cells = graft.spark.Tiling.gw_cell_ids_envelope(
      col("env_lon_min"), col("env_lon_max"), col("env_lat_min"), col("env_lat_max"))
    geoms
      .withColumn("cells", cells)
      .withColumn("num_duplicates", size(col("cells")) - 1)
      .withColumn("cell_id", explode(col("cells")))
      .drop("cells")
  }

  /** Spatial-temporal box query over the 20/20/20 YEAR-binned index: the
    * range prefilter runs over a stored `cell_id_st` (encoded from `lon`,
    * `lat`, `ts`), then the exact box and time tests on those columns.
    * Output: the input columns. */
  def stBoxQuery(evts: DataFrame, lonMin: Double, lonMax: Double,
                 latMin: Double, latMax: Double,
                 tsMin: java.sql.Timestamp, tsMax: java.sql.Timestamp): DataFrame =
    SpatialPlanner.prefilterStored(evts, "cell_id_st",
        SpatialPlanner.stBoxRanges(lonMin, lonMax, latMin, latMax, tsMin.getTime, tsMax.getTime))
      .where(SpatialPlanner.boxPredicate(col("lon"), col("lat"), lonMin, lonMax, latMin, latMax))
      .where(col("ts") >= lit(tsMin) && col("ts") <= lit(tsMax))

  /** the store's bounding-box statistic as a pure envelope — the
    * reference's client-side FeatureBoundingBoxStatistics read feeding
    * QueryIndexHelper (a 4-double collect, like its metadata-table get).
    * None for an EMPTY store (null aggregates) — the unset statistic;
    * feed it to the clipped scans to short-circuit to an empty result. */
  def bboxStatsEnv(pts: DataFrame): Option[graft.index.StatsClip.Env] = {
    val r = pts.agg(min(col("lon")), max(col("lon")), min(col("lat")), max(col("lat"))).collect()(0)
    if (r.isNullAt(0)) None
    else Some(graft.index.StatsClip.Env(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
  }

  /** Stats-clipped spatial box query
    * (QueryIndexHelper.clipIndexedBBOXConstraints, reference
    * extensions/adapters/vector/.../util/QueryIndexHelper.java:141-165):
    * intersect the query box with the store's bounding-box statistic
    * BEFORE SFC decomposition. An oversized query decomposes only the
    * lived-in envelope — strictly fewer ranges, identical result set — and
    * a provably-disjoint one scans nothing at all. The clipped box is also
    * sound as the fine filter: rows outside the stats envelope do not
    * exist by the statistic's definition. */
  def spatialBoxQueryClipped(pts: DataFrame, lonMin: Double, lonMax: Double,
                             latMin: Double, latMax: Double,
                             statsEnv: Option[graft.index.StatsClip.Env]): DataFrame = {
    import graft.index.StatsClip
    StatsClip.clipEnvelope(StatsClip.Env(lonMin, lonMax, latMin, latMax), statsEnv) match {
      case None    => pts.where(lit(false))
      case Some(e) => spatialBoxQuery(pts, e.minX, e.maxX, e.minY, e.maxY)
    }
  }

  /** Spatial box scan by the COMPOUND ROW KEY (salt byte ‖ cell id) — the
    * reference's physical access path: CompoundIndexStrategy.getQueryRanges
    * fans the SFC ranges across every salt prefix and the sorted store is
    * range-scanned per compound range (HashKeyIndexStrategy.getQueryRanges
    * via CompoundIndexStrategy, core/index/.../CompoundIndexStrategy.java).
    * Our usual scans push the cell predicate on the `cell_id` COLUMN
    * instead (equivalent pruning without the salt fan-out); this is the
    * row_key-ordered twin, pruning parquet row groups through the store's
    * (salt, cell) sort. `saltCount` must match the ingest config. */
  def spatialBoxQueryRowKey(store: DataFrame, lonMin: Double, lonMax: Double,
                            latMin: Double, latMax: Double, saltCount: Int,
                            rowKeyCol: String = "row_key"): DataFrame = {
    require(saltCount >= 1, s"saltCount must be >= 1 (the ingest config's value), got $saltCount")
    // divide the decomposition budget across the salt fan-out like the
    // reference (CompoundIndexStrategy.getQueryRanges caps the inner
    // strategy at maxRanges / partitionCount) — otherwise a large box
    // materializes saltCount x MaxRangeDecomposition literal ranges in
    // the driver plan
    val cellRanges = SpatialPlanner.spatialBoxRanges(lonMin, lonMax, latMin, latMax,
      math.max(1, SpatialPlanner.MaxRangeDecomposition / saltCount))
    // salt-major emission preserves disjoint sorted order (fixed-width
    // one-byte prefix dominates the compound key comparison)
    val ranges = SpatialPlanner.compoundRanges(saltCount, cellRanges)
    store
      .where(SpatialPlanner.rangesPredicate(col(rowKeyCol), ranges))
      .where(SpatialPlanner.boxPredicate(col("lon"), col("lat"), lonMin, lonMax, latMin, latMax))
  }

  /** Meters-radius point query (the reference's DWITHIN shape): SOUND
    * haversine-disk envelope(s) — TWO when the radius crosses the
    * antimeridian — bound the coarse SFC ranges and the box fine filter,
    * then the haversine distance decides. The envelopes come from
    * [[GeoCodec.haversineDiskEnvelopes]] (the disk's true east/west
    * extremes, poleward of the center), so no point within the radius is
    * ever excluded by the cover; the 4-cardinal
    * GeometryCalculations envelope would under-cover near the E/W edges.
    * The range prefilter runs over a stored `cell_id`. Output: the input
    * columns. */
  def radiusQueryMeters(pts: DataFrame, lon: Double, lat: Double,
                        radiusMeters: Double): DataFrame = {
    val envs = GeoCodec.haversineDiskEnvelopes(lon, lat, radiusMeters)
    val inEnvelopes = envs.map { e =>
      SpatialPlanner.boxPredicate(col("lon"), col("lat"), e.minX, e.maxX, e.minY, e.maxY)
    }.reduce(_ || _)
    SpatialPlanner.prefilterStored(pts, "cell_id", SpatialPlanner.mergeRanges(envs.flatMap { e =>
        SpatialPlanner.spatialBoxRanges(e.minX, e.maxX, e.minY, e.maxY,
          math.max(1, SpatialPlanner.MaxRangeDecomposition / envs.size))
      }))
      .where(inEnvelopes)
      .where(st_distance_haversine(col("lon"), col("lat"), lit(lon), lit(lat)) <= radiusMeters)
  }

  // ---------------------------------------------------------------- joins

  /**
   * Shared scaffold for cell-partitioned self-joins: every left row
   * expands to the tiles overlapped by its ±(dxDeg, dyDeg) threshold box
   * at `bits`, the right side keys by its own tile, so any pair within
   * the threshold meets on exactly one key. Input columns are prefixed
   * `a_`/`b_` in the output. This is the reference's partitioner-shuffle
   * (AbstractPartitioner.getCubeIdentifiers + NNMapReduce keying) as one
   * equi-join; AQE splits hot cells at runtime.
   *
   * `wrapX = true` wraps the x-neighborhood modulo the tile count so
   * pairs straddling the ANTIMERIDIAN still meet on a key — required
   * whenever the fine metric itself wraps (haversine; the reference's
   * orthodromic partitioner expands through normalized longitude,
   * OrthodromicDistancePartitioner.java:98-145). Leave false for
   * euclidean-degree metrics, whose distance does not wrap either.
   */
  private[spark] def neighborhoodSelfJoin(pts: DataFrame, bits: Int,
                                          dxDeg: Double, dyDeg: Double,
                                          wrapX: Boolean = false): DataFrame = {
    val cols = pts.columns
    val bins = 1L << bits
    val cellDeg = 360.0 / bins
    // a wrapped x-neighborhood wider than the grid would emit the same
    // join key twice (through pmod) and duplicate every matching pair —
    // when the ±dx box can cover every tile, emit the full grid once
    // instead (the old stencil's distinct-residue reduction)
    val xCoversGrid = 2 * dxDeg / cellDeg + 2 > bins
    // CROSSING-BASED cell emission (AbstractPartitioner.getCubeIdentifiers:
    // the point's own cell + the cells its ±threshold box overlaps — the
    // reference's OrthodromicDistancePartitioner expansion, NOT a full
    // (2k+1)² stencil): each left row emits only the tiles of
    // [x−dx, x+dx] × [y−dy, y+dy]. Any partner within the threshold has
    // its own tile inside that box, so every qualifying pair still meets
    // on exactly one key, while points away from cell borders emit 1-4
    // cells instead of 9 — at 100 TB this emission factor IS the shuffle
    // width of every distance join / DBSCAN edge pass.
    // Raw (unclamped) twin of GeoCodec.bucketPoint's ceil−1 rule, so the
    // emitted span covers every clamped own-tile a partner can have; x
    // stays unclamped for the antimeridian wrap (pmod folds negatives).
    def rawTile(c: Column) = (ceil((c + 180.0) / 360.0 * bins) - 1.0).cast("long")
    val (txLo, txHi) =
      if (xCoversGrid) (lit(0L), lit(bins - 1))
      else if (wrapX) (rawTile(col("a_lon") - dxDeg), rawTile(col("a_lon") + dxDeg))
      else (greatest(rawTile(col("a_lon") - dxDeg), lit(0L)),
        least(rawTile(col("a_lon") + dxDeg), lit(bins - 1)))
    // latitude rides the half-range trick (same 360° normalization); its
    // domain ends clamp — out-of-domain tiles match no partner anyway
    val (tyLo, tyHi) = (greatest(rawTile(col("a_lat") - dyDeg), lit(0L)),
      least(rawTile(col("a_lat") + dyDeg), lit(bins - 1)))
    val a = pts
      .select(cols.map(c => col(c).as(s"a_$c")): _*)
      .select(col("*"), explode(sequence(txLo, txHi)).as("tx"))
      .select(col("*"), explode(sequence(tyLo, tyHi)).as("jy"))
      .withColumn("jx",
        if (wrapX && !xCoversGrid) pmod(col("tx"), lit(bins)) else col("tx"))
      .drop("tx")
    val b = pts.select(cols.map(c => col(c).as(s"b_$c")) ++
      Seq(gw_tile_x(col("lon"), bits).as("jx"), gw_tile_y(col("lat"), bits).as("jy")): _*)
    a.join(b, Seq("jx", "jy")).drop("jx", "jy")
  }

  /**
   * Metric of the distance self-joins — the reference's pluggable
   * DistanceFn (euclidean, or CoordinateCircleDistanceFn meters). It
   * decides the tile neighborhood (half-widths, antimeridian wrap), the
   * rows admitted to the join, and the exact score with its bound; the
   * score orders pairs by distance, `dist` converts it to the metric's unit.
   */
  sealed trait Metric {
    private[spark] def halfWidths(d: Double, bits: Int): (Double, Double)
    private[spark] def wrapX: Boolean
    private[spark] def band: Column
    private[spark] def score: Column
    private[spark] def bound(d: Double): Double
    private[spark] def dist(score: Column): Column
  }

  /** Euclidean degrees. Filters and ranks on d², never on sqrt: a sqrt can
    * merge adjacent d² values and reorder ties. Does not wrap. */
  case object Degrees extends Metric {
    private[spark] def halfWidths(d: Double, bits: Int): (Double, Double) = {
      require(360.0 / (1L << bits) >= d, s"cell size at $bits bits must be >= d=$d")
      (d, d)
    }
    private[spark] def wrapX = false
    private[spark] def band: Column = lit(true)
    private[spark] def score: Column =
      (col("a_lon") - col("b_lon")) * (col("a_lon") - col("b_lon")) +
        (col("a_lat") - col("b_lat")) * (col("a_lat") - col("b_lat"))
    private[spark] def bound(d: Double): Double = d * d
    private[spark] def dist(score: Column): Column = sqrt(score)
  }

  /**
   * Haversine meters, with the neighborhood sized from the radius at the
   * band's worst-case latitude (the reference's orthodromic buffering,
   * OrthodromicDistancePartitioner.java:210-240, as one static bound so the
   * join stays a single equi-join) and wrapped at the antimeridian, as
   * haversine is. LATITUDE BAND CONTRACT: rows with |lat| > `maxAbsLatDeg`
   * are EXCLUDED from the join — the lon bound only holds inside the band.
   * Polar data needs a wider band (cos(89°) still bounds, at ~57× the lon
   * expansion); callers with possibly-polar data should pre-count the
   * excluded rows, which the join does not (an extra scan per call).
   */
  final case class Meters(maxAbsLatDeg: Double = 85.0) extends Metric {
    private[spark] def halfWidths(d: Double, bits: Int): (Double, Double) = {
      val latDeg = d / (2 * math.Pi * 6371008.8 / 360.0) // Δφ <= d/R exactly
      // EXACT in-band lon bound, not the small-angle d/(R·cos φ), which
      // under-covers near the band edge: hav(d/R) = hav(Δφ) +
      // cosφ1·cosφ2·hav(Δλ) gives Δλ <= 2·asin(sin(d/2R)/cos(maxAbsLat))
      // (the same form backs GeoCodec.haversineDiskEnvelopes)
      val sinHalf = math.sin(d / (2.0 * 6371008.8)) / math.cos(math.toRadians(maxAbsLatDeg))
      val lonDeg = if (sinHalf >= 1.0) 360.0 else math.toDegrees(2.0 * math.asin(sinHalf))
      val cellDeg = 360.0 / (1L << bits)
      require(lonDeg <= 8 * cellDeg && latDeg <= 8 * cellDeg,
        s"radius spans too many cells at $bits bits (lonDeg=$lonDeg, latDeg=$latDeg)")
      (lonDeg, latDeg)
    }
    private[spark] def wrapX = true
    private[spark] def band: Column = abs(col("lat")) <= lit(maxAbsLatDeg)
    private[spark] def score: Column =
      st_distance_haversine(col("a_lon"), col("a_lat"), col("b_lon"), col("b_lat"))
    private[spark] def bound(d: Double): Double = d
    private[spark] def dist(score: Column): Column = score
  }

  /**
   * Candidate core of the distance self-joins, which the reference computes
   * as one job (NNMapReduce + NNProcessor, NNMapReduce.java:119-431): the
   * DIRECTED pairs (a, b), a ≠ b, within `d` under `metric`, with their
   * exact `score`. Over [[neighborhoodSelfJoin]], each qualifying pair
   * meets on exactly one key (no primary-cell flag needed, unlike
   * NNMapReduce.java:119-203); AQE splits hot cells.
   *
   * `window` = (tsCol, dtMillis) also requires the event times within
   * `dtMillis` (the join form of SpatialTemporalQuery.java:132-164),
   * compared in MICROseconds so the millisecond contract is exact (seconds
   * truncation both drops and admits sub-second pairs wrongly).
   * `partitionCap` is NNProcessor's per-cell member bound
   * (NNProcessor.java:71,111; Int.MaxValue = off, the reference uses
   * 75 000): an over-cap cell keeps its `partitionCap` LOWEST ids on both
   * sides (a deterministic twin of the reference's arrival-order drop).
   */
  private def distanceCandidates(pts: DataFrame, idCol: String, d: Double, bits: Int,
                                 metric: Metric, window: Option[(String, Long)],
                                 partitionCap: Int): DataFrame = {
    val (dxDeg, dyDeg) = metric.halfWidths(d, bits)
    val ts = window.map { case (tsCol, _) => unix_micros(col(tsCol).cast("timestamp")).as("ts_us") }
    val base = pts.where(metric.band)
      .select(Seq(col(idCol).as("id"), col("lon"), col("lat")) ++ ts: _*)
    val capped =
      if (partitionCap == Int.MaxValue) base
      else base
        .withColumn("cap_rn", row_number().over(Window
          .partitionBy(gw_tile_x(col("lon"), bits), gw_tile_y(col("lat"), bits))
          .orderBy(col("id"))))
        .where(col("cap_rn") <= partitionCap)
        .drop("cap_rn")
    val inWindow = window.fold(lit(true)) { case (_, dtMillis) =>
      abs(col("a_ts_us") - col("b_ts_us")) <= lit(dtMillis * 1000L)
    }
    neighborhoodSelfJoin(capped, bits, dxDeg, dyDeg, metric.wrapX)
      .where(col("a_id") =!= col("b_id") && inWindow)
      .withColumn("score", metric.score)
      .where(col("score") < lit(metric.bound(d)))
  }

  /** Distance self-join: the undirected pairs (a_id, b_id, dist),
    * a_id < b_id, within `d` under `metric` (`dist` in its unit), and
    * within the event-time `window` when one is given. */
  def distanceJoin(pts: DataFrame, idCol: String, d: Double, bits: Int,
                   metric: Metric = Degrees,
                   window: Option[(String, Long)] = None): DataFrame =
    distanceCandidates(pts, idCol, d, bits, metric, window, Int.MaxValue)
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), metric.dist(col("score")).as("dist"))

  /**
   * Per-item k-nearest within threshold — the neighbor-capped distance
   * join (NNMapReduce's `maxNeighbors`, MAX_MEMBER_SELECTION →
   * NNProcessor.setUpperBoundPerPartition, NNMapReduce.java:211,243,404-410,
   * plus the `partitionCap` of [[distanceCandidates]]). Each item keeps its
   * k in-threshold neighbors lowest by (score, b_id): a row_number window
   * Spark rewrites to WindowGroupLimit, so the limit runs map-side BEFORE
   * the rank shuffle (a skewed point ships at most k·partitions rows,
   * plan-pinned in DistanceJoinSpec). Output is DIRECTED: (a_id, b_id,
   * rnk), a ≠ b.
   */
  def distanceJoinTopK(pts: DataFrame, idCol: String, d: Double, bits: Int,
                       k: Int, partitionCap: Int = Int.MaxValue,
                       metric: Metric = Degrees): DataFrame = {
    val rankW = Window.partitionBy(col("a_id")).orderBy(col("score"), col("b_id"))
    distanceCandidates(pts, idCol, d, bits, metric, None, partitionCap)
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .where(col("rnk") <= k)
      .select(col("a_id"), col("b_id"), col("rnk"))
  }

  /** per-region counts over the point-in-polygon join — server-side
    * aggregation pushdown composed with the spatial join
    * (CountAggregation over a SpatialQuery scan). */
  def regionCounts(pts: DataFrame,
                   regions: Seq[(String, org.locationtech.jts.geom.Geometry)]): DataFrame =
    SpatialJoin.polygonJoin(pts, regions)
      .groupBy("region_id").agg(count(lit(1)).as("cnt"))

  /**
   * kNN to centroids: every point scored against every (broadcast) centroid,
   * top-k per centroid by (distance², id).
   * (reference: AnalyticRecipes.searchKNearestNeighbor, AnalyticRecipes.scala:38-41)
   */
  def knnToCentroids(pts: DataFrame, idCol: String,
                     centroids: DataFrame, centroidIdCol: String, k: Int): DataFrame = {
    val c = centroids.select(col(centroidIdCol).as("centroid_id"),
      col("lon").as("c_lon"), col("lat").as("c_lat"))
    val d2 = (col("lon") - col("c_lon")) * (col("lon") - col("c_lon")) +
      (col("lat") - col("c_lat")) * (col("lat") - col("c_lat"))
    val w = Window.partitionBy(col("centroid_id")).orderBy(col("d2"), col("id"))
    pts.select(col(idCol).as("id"), col("lon"), col("lat"))
      .join(broadcast(c))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("centroid_id"), col("id"), col("rn"))
  }

  /** distinct kNN: each point first assigned to its single closest centroid,
    * then top-k within that centroid — a point belongs to at most one group.
    * (reference: AnalyticRecipes.searchDistinctKNearestNeighbor, :26-28,85-92)
    *
    * The closest-centroid step is the codegen'd [[NearestCentroid2D]]
    * argmin (centroids collected driver-side — they are broadcast-sized by
    * contract, exactly as the reference's recipe broadcasts them), so the
    * n×k scored rows never exist: only the n assigned rows reach the top-k
    * window, and WindowGroupLimit trims those to ≤k per centroid per map
    * partition before the one remaining exchange. */
  def distinctKnnToCentroids(pts: DataFrame, idCol: String,
                             centroids: DataFrame, centroidIdCol: String, k: Int): DataFrame = {
    // explicit casts: an INT id or FLOAT/DECIMAL coordinate column must
    // not ClassCastException where the old broadcast join coerced freely
    val cents = centroids.select(col(centroidIdCol).cast("long"),
        col("lon").cast("double"), col("lat").cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    if (cents.isEmpty) // argmin over zero centroids is undefined; the old join shape returned nothing
      return pts.select(lit(0L).as("centroid_id"), col(idCol).as("id"), lit(0L).as("rn"))
        .where(lit(false))
    val near = GeoFunctions.gw_nearest_centroid(col("lon"), col("lat"), cents)
    val topk = Window.partitionBy(col("centroid_id")).orderBy(col("d2"), col("id"))
    pts.select(col(idCol).as("id"),
        near.getField("cid").as("centroid_id"), near.getField("d2").as("d2"))
      .withColumn("rn", row_number().over(topk).cast("long"))
      .where(col("rn") <= k)
      .select(col("centroid_id"), col("id"), col("rn"))
  }

  // ------------------------------------------------------------ analytics

  /** ingest-maintained statistics in one pass: count / bbox / time range
    * (reference: CountDataStatistics, BoundingBoxDataStatistics.java:21-120). */
  def bboxStats(pts: DataFrame, groupCols: Seq[String]): DataFrame =
    pts.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("cnt"),
      min(col("lon")).as("min_lon"), max(col("lon")).as("max_lon"),
      min(col("lat")).as("min_lat"), max(col("lat")).as("max_lat"))

  /** fixed-bin numeric histogram (reference: FixedBinNumericStatistics.java:30). */
  def fixedBinHistogram(df: DataFrame, valueCol: String, binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    df.groupBy(floor(col(valueCol) / binWidth).as("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** exact dedup by content hash: group identical text, keep min id
    * (the exact tier of the dedup ladder; MinHash/SimHash build on this). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_cnt"))

  /** text quality metrics via order-independent integer arithmetic
    * (token estimate, whitespace and stopword densities). */
  def textQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val len = length(col(textCol))
    val spaces = len - length(regexp_replace(col(textCol), lit(" "), lit("")))
    val theCount = (len - length(regexp_replace(col(textCol), lit("the"), lit("")))) / 3
    docs.select(
      col(idCol),
      len.cast("long").as("n_chars"),
      spaces.cast("long").as("n_spaces"),
      (spaces + 1).cast("long").as("token_est"),
      theCount.cast("long").as("the_cnt"))
  }

  /**
   * Brute-force cosine top-k over embeddings, with int-quantized arithmetic
   * (round(x*1000) as long) so ranking is exact and portable: the baseline
   * for approximate-nearest-neighbor variants.
   */
  def annBruteForce(emb: DataFrame, idCol: String, vecCol: String,
                    queryIds: Seq[Long], k: Int, maxQueries: Int = 1000): DataFrame = {
    // scale guard: the query side broadcasts and every base vector is
    // scored against every query — linear in |base| but linear in
    // |queries| too. Large query sets belong on annIvf (probe only the
    // nProbe nearest inverted lists).
    require(queryIds.size <= maxQueries,
      s"annBruteForce scores all ${queryIds.size} queries against every row (> maxQueries=$maxQueries): " +
        "use annIvf for large query sets, or raise maxQueries explicitly")
    // per-vector quantization and norms computed once per side pre-join;
    // the q_ids × n join only pays the dot product
    val q = emb.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("q_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("qn", GeoFunctions.dot_long(col("qv"), col("qv")))
    val dot = GeoFunctions.dot_long(col("qv"), col("vv"))
    val joined = emb.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("vv"))
      .withColumn("vn", GeoFunctions.dot_long(col("vv"), col("vv")))
      .join(broadcast(q))
      .withColumn("dot", dot)
      .withColumn("cos", col("dot").cast("double") / sqrt(col("qn").cast("double") * col("vn").cast("double")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("rn"))
  }

  private def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000).cast("long"))

  /**
   * IVF approximate nearest neighbor: vectors are assigned to their
   * closest coarse centroid (integer L2 via d² = |v|² + |c|² − 2·v·c,
   * exact), queries probe the `nProbe` nearest inverted lists and rank
   * candidates by quantized cosine. Deterministic coarse quantizer (the
   * first `nlist` vectors; swap in Analytics.kmeans centroids off-oracle)
   * so the oracle reproduces the exact candidate sets. The list join is a
   * bucket equi-join — the scale path next to the LSH variant.
   *
   * List ASSIGNMENT is a codegen'd map-side argmin ([[NearestCentroidVec]]
   * via gw_nearest_centroid_vec) — the full vector side never crosses an
   * Exchange or Window before the final list equi-join (reference
   * KMeansMapReduce.java:62-308 assigns in the mapper too). Only the
   * broadcast-sized `isin(queryIds)` probe subset pays a centroid join +
   * rank window to pick its nProbe lists, and the probe side is broadcast
   * into the candidate join, so at scale the base vectors stream
   * scan→argmin→hash-probe with zero shuffles.
   */
  def annIvf(emb: DataFrame, idCol: String, vecCol: String,
             nlist: Int, nProbe: Int, queryIds: Seq[Long], k: Int): DataFrame = {
    import GeoFunctions.dot_long
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.select(col(idCol).as("id"), quantize(col(vecCol)).as("v"))
      .withColumn("n2", dot_long(col("v"), col("v")))
    // the coarse quantizer is nlist-sized (k-sized, like Lloyd centroids):
    // one bounded driver collect, then assignment runs map-side
    val centSeq: Seq[(Long, Array[Long])] =
      q.where(col("id") < nlist).select(col("id"), col("v")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    // same argmin as the old window ORDER BY (d2, cid): per-row |v|² is
    // constant under argmin and NearestCentroidVec tie-breaks to lowest cid
    val lists = q.select(col("id").as("vec_id"),
      GeoFunctions.gw_nearest_centroid_vec(col("v"), centSeq).as("cid"),
      col("v").as("vv"), col("n2").as("vn2"))
    val cents = centSeq.map { case (cid, cv) =>
      (cid, cv.toSeq, cv.foldLeft(0L)((s, x) => s + x * x)) }.toDF("cid", "cv", "cn2")
    val d2 = col("n2") + col("cn2") - lit(2L) * dot_long(col("v"), col("cv"))
    val probeW = Window.partitionBy(col("id")).orderBy(col("d2"), col("cid"))
    val probes = q.where(col("id").isin(queryIds: _*))
      .join(broadcast(cents))
      .withColumn("d2", d2)
      .withColumn("crn", row_number().over(probeW))
      .where(col("crn") <= nProbe)
      .select(col("id").as("q_id"), col("cid"), col("v").as("qv"), col("n2").as("qn2"))
    val cos = dot_long(col("qv"), col("vv")).cast("double") /
      sqrt(col("qn2").cast("double") * col("vn2").cast("double"))
    val topkW = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    broadcast(probes).join(lists, "cid")
      .withColumn("cos", cos)
      .withColumn("rn", row_number().over(topkW).cast("long"))
      .where(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("rn"))
  }

  // ------------------------------------------------------- stats & pruning

  /** one-pass global profile — the ingest-maintained statistics bundle
    * (StatsCompositionTool; Count/BoundingBox/TimeRange statistics). */
  def statsProfile(pts: DataFrame, tsCol: Option[String] = None,
                   idCol: String = "doc_id"): DataFrame = {
    val base = Seq(
      count(lit(1)).as("cnt"),
      countDistinct(col(idCol)).as("n_ids"),
      min(col("lon")).as("min_lon"), max(col("lon")).as("max_lon"),
      min(col("lat")).as("min_lat"), max(col("lat")).as("max_lat"))
    val withTs = tsCol.map(c => Seq(min(col(c)).as("min_ts"), max(col(c)).as("max_ts")))
      .getOrElse(Seq.empty)
    val all = base ++ withTs
    pts.agg(all.head, all.tail: _*)
  }

  /** resolution subsampling: keep exactly one row (lowest id) per occupied
    * tile at `bits` — FixedCardinalitySkippingIterator semantics
    * (QueryOptions.maxResolutionSubsamplingPerDimension). */
  def subsample(pts: DataFrame, idCol: String, bits: Int): DataFrame = {
    val w = Window.partitionBy(col("tx"), col("ty")).orderBy(col(idCol))
    pts.withColumn("tx", GeoFunctions.gw_tile_x(col("lon"), bits))
      .withColumn("ty", GeoFunctions.gw_tile_y(col("lat"), bits))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(idCol), col("tx"), col("ty"))
  }

  /**
   * RANGE (interval) join: rows joined to every interval containing their
   * value — the 1-D analogue of the tile-cover polygon join, and the
   * scalable replacement for the BETWEEN theta join Spark would otherwise
   * plan as a nested loop: intervals explode to the fixed-width bins they
   * cover, values key by their bin, candidates meet on a bin equi-join
   * and the exact BETWEEN decides. Intervals spanning many bins explode
   * accordingly — pick `binWidth` near the typical interval width.
   * Output: row columns + the interval table's columns.
   */
  def rangeJoinBinned(rows: DataFrame, valueCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      binWidth: Double): DataFrame = {
    require(binWidth > 0)
    require(!rows.columns.contains("__bin") && !intervals.columns.contains("__bin"),
      "rangeJoinBinned reserves the __bin column name; rename it on the input")
    val ivBinned = intervals
      .withColumn("__bin", explode(sequence(
        floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    rows
      .withColumn("__bin", floor(col(valueCol) / binWidth).cast("long"))
      .join(ivBinned, Seq("__bin"))
      .where(col(valueCol) >= col(loCol) && col(valueCol) <= col(hiCol))
      .drop("__bin")
  }

  /**
   * AS-OF join: for each left row, the LATEST right row with the same key
   * and right ts <= left ts — the temporal join Spark lacks natively,
   * expressed as union + one per-key window (single sort, NO range
   * explosion and no per-row right-side scan: the classic scalable
   * as-of form). Right rows order before left rows at equal ts, so
   * same-timestamp matches count; `tieCol` (present on both sides) makes
   * the ordering total. The matched right payload arrives as a struct
   * column `__m` (null when no right row precedes).
   */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
               tieCol: String): DataFrame = {
    for (reserved <- Seq("__side", "__tie", "__r", "__m"); df <- Seq(left, right))
      require(!df.columns.contains(reserved),
        s"asofJoin reserves column name '$reserved' (rename it on the input)")
    val payloadCols = right.columns.filterNot(c => c == keyCol || c == tieCol)
    val r2 = right.select(col(keyCol), col(tieCol).as("__tie"),
        struct(payloadCols.map(col) :+ col(tieCol): _*).as("__r"))
      .withColumn(tsCol, col(s"__r.$tsCol"))
      .withColumn("__side", lit(0))
    val l2 = left.withColumn("__side", lit(1)).withColumn("__tie", col(tieCol))
    val u = l2.unionByName(r2, allowMissingColumns = true)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, 0)
    u.withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .drop("__side", "__tie", "__r")
  }

  /**
   * Gap-based sessionization: per-entity event runs split where the gap
   * to the previous event exceeds `gapMicros` — pure window arithmetic
   * (lag → new-session flag → running sum), so the only shuffle is the
   * per-entity partition and Catalyst keeps the three window functions in
   * one Window node. Output: (user, session_id, n_events, start_ts,
   * end_ts). Tie-break inside a user is (ts, id) so results are total-
   * order deterministic.
   */
  def sessionize(events: DataFrame, userCol: String, idCol: String, tsCol: String,
                 gapMicros: Long): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    // NTZ timestamps need the intermediate cast (session TZ is UTC)
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val prev = lag(us, 1).over(byUser)
    events
      .withColumn("new_sess",
        when(prev.isNull || us - prev > gapMicros, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"))
  }

  /** render decimation: keep at most `maxPerCell` rows (lowest ids —
    * deterministic) per screen cell at the view's resolution — the
    * reference's render-time thinning (QueryOptions
    * maxResolutionSubsamplingPerDimension + the WMS decimation process;
    * [[subsample]] is the maxPerCell=1 special case). Window top-k per
    * tile: Spark's WindowGroupLimit keeps the shuffle at k rows/cell. */
  def decimateForRender(pts: DataFrame, idCol: String, viewBits: Int,
                        maxPerCell: Int): DataFrame = {
    val w = Window.partitionBy(col("tx"), col("ty")).orderBy(col(idCol))
    pts.withColumn("tx", GeoFunctions.gw_tile_x(col("lon"), viewBits))
      .withColumn("ty", GeoFunctions.gw_tile_y(col("lat"), viewBits))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxPerCell)
      .drop("rn")
  }

  /** rows per tile at `bits` — the row-range histogram that drives split
    * sizing (RowRangeHistogramStatistics / SplitsProvider). */
  def rangeHistogram(pts: DataFrame, bits: Int): DataFrame =
    pts.select(GeoFunctions.gw_tile_x(col("lon"), bits).as("tx"),
        GeoFunctions.gw_tile_y(col("lat"), bits).as("ty"))
      .groupBy("tx", "ty").agg(count(lit(1)).as("cnt"))

  /** find, for each target partition 0..n−1, an int whose Spark hash
    * partitioning lands exactly there — pmod(murmur3(j, seed=42), n) —
    * so `repartition(n, steeringCol)` maps split → partition 1:1 (hash
    * collisions would otherwise stack two planned splits on one task and
    * leave another idle, undoing the equalization). */
  private[spark] def hashPreimages(n: Int): Array[Int] = {
    val out = Array.fill(n)(-1)
    var remaining = n
    var j = 0
    while (remaining > 0) {
      require(j < 100000L * n, s"no murmur3 pre-image found for some partition of $n")
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(j, 42)
      val p = ((h % n) + n) % n
      if (out(p) < 0) { out(p) = j; remaining -= 1 }
      j += 1
    }
    out
  }

  /**
   * Histogram-equalized scan partitioning — the reference's MR input-split
   * equalizer as a Spark repartition (SplitsProvider.java:40-128 via
   * [[graft.index.Splits.plan]]): plan `minSplits..maxSplits` splits of
   * equal ESTIMATED cardinality from the store's own key-prefix histogram
   * (e.g. [[MultiIndex.prefixHistogram]], maintained at ingest), then
   * assign every row its split with one codegen'd binary search and
   * shuffle on a hash-steered key so split i IS partition i.
   *
   * Unlike `repartitionByRange` this samples NOTHING: the boundaries come
   * from stored statistics, so the store is read exactly once — at 100 TB
   * the sampling pass this removes is a full extra scan. Rows outside
   * `ranges` are dropped (pass the store's full extent to keep all).
   * Output carries `split_id` (0..k−1, the planned rank).
   */
  def balancedScanPartitions(store: DataFrame, keyCol: String,
                             hist: Seq[(Array[Byte], Long)],
                             ranges: Seq[(Array[Byte], Array[Byte])],
                             minSplits: Int, maxSplits: Int): DataFrame = {
    import graft.index.{ByteUtils, Splits}
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val sortedHist = hist.toIndexedSeq
      .sortWith((a, b) => ByteUtils.compareUnsigned(a._1, b._1) < 0)
    val planned = Splits.plan(ranges.map(r => Splits.KeyRange(r._1, r._2)),
      sortedHist, minSplits, maxSplits)
    val flat = planned.zipWithIndex
      .flatMap { case (s, i) => s.ranges.map(r => (r.start, r.end, i)) }
      .sortWith((a, b) => ByteUtils.compareUnsigned(a._1, b._1) < 0)
    val starts = flat.map(_._1).toArray
    val ends = flat.map(_._2).toArray
    val ranks = flat.map(_._3).toArray
    val steer = hashPreimages(planned.size)
    val key = expression(col(keyCol))
    store
      .withColumn("split_id", column(RangeSplitId(key, starts, ends, ranks)))
      .where(col("split_id") >= 0)
      .repartition(planned.size,
        column(RangeSplitId(key, starts, ends, ranks.map(steer))))
  }
}
