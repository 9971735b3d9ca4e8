package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, GeometryFactory}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.io.WKBReader

/**
 * Point-in-polygon join: every point matched against a broadcast set of
 * polygons via an STRtree of PreparedGeometries. Over a stored `cell_id`
 * a cell-id range pre-filter from SFC decomposition of the polygon
 * envelopes prunes the scan first; over points without one the STRtree
 * envelope probe is the only coarse test.
 *
 * This is the Spark-native form of the reference's per-polygon
 * SpatialQuery scan (core/geotime/.../query/SpatialQuery.java:28-125 +
 * SpatialQueryFilter.java:50-80 prepared-geometry test, interning at
 * :284-301): the scan's range constraint becomes a pushdown-friendly
 * predicate on `cell_id`, the tablet-server filter becomes a codegen-stage
 * expression evaluating against the task-broadcast tree.
 *
 * Scale: polygons ship once per task via the serialized expression (the
 * "broadcast dim"); the points side streams with no shuffle at all — the
 * whole join is scan → filter → project, so it scales linearly with
 * input splits and is immune to skew.
 */
object SpatialJoin {

  /** array of region ids whose polygon intersects the (lon, lat) point;
    * tree + prepared geometries built once per task, interned by WKB. */
  case class RegionsForPoint(left: Expression, right: Expression,
                             ids: Array[String], wkbs: Array[Array[Byte]])
      extends BinaryExpression {
    // analysis-time type check: wrong-typed lon/lat would pass codegen
    // (Java widening) but crash interpreted eval — fail the query upfront
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (left.dataType == org.apache.spark.sql.types.DoubleType &&
          right.dataType == org.apache.spark.sql.types.DoubleType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"regions_for_point expects (double, double), got (${left.dataType}, ${right.dataType})")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true

    @transient private lazy val tree: STRtree = {
      val t = new STRtree()
      val reader = new WKBReader()
      var i = 0
      while (i < ids.length) {
        val g = reader.read(wkbs(i))
        t.insert(g.getEnvelopeInternal, (ids(i), PreparedGeometryFactory.prepare(g)))
        i += 1
      }
      t.build()
      t
    }
    @transient private lazy val gf = new GeometryFactory()
    // expression instances are task-local: reuse one mutable point/envelope
    // per task instead of allocating per row (GC off the hot path)
    @transient private lazy val pt = gf.createPoint(new Coordinate(0, 0))
    @transient private lazy val env = new Envelope()

    /** codegen entry point: STRtree probe + prepared-geometry tests. */
    def regionsFor(lon: Double, lat: Double): org.apache.spark.sql.catalyst.util.ArrayData = {
      val c = pt.getCoordinate
      c.x = lon; c.y = lat
      pt.geometryChanged()
      env.init(lon, lon, lat, lat)
      val hits = tree.query(env)
      if (hits.isEmpty) new GenericArrayData(Array.empty[Any])
      else {
        val out = new java.util.ArrayList[String](hits.size())
        var i = 0
        while (i < hits.size()) {
          val (id, prep) = hits.get(i).asInstanceOf[(String, PreparedGeometry)]
          if (prep.intersects(pt)) out.add(id)
          i += 1
        }
        val arr = out.toArray(new Array[String](out.size()))
        java.util.Arrays.sort(arr.asInstanceOf[Array[Object]])
        new GenericArrayData(arr.map(s => UTF8String.fromString(s): Any))
      }
    }

    override def nullSafeEval(lonA: Any, latA: Any): Any =
      regionsFor(lonA.asInstanceOf[Double], latA.asInstanceOf[Double])
    override def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                           ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("regionsForPoint", this, classOf[RegionsForPoint].getName)
      defineCodeGen(ctx, ev, (lon, lat) => s"$ref.regionsFor($lon, $lat)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** per-row WKB geometry vs (lon, lat) point intersection — the exact
    * test for joins whose geometry side is NOT a constant (distributed
    * polygon tables). */
  case class WkbCoversPoint(first: Expression, second: Expression, third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (first.dataType == org.apache.spark.sql.types.BinaryType &&
          second.dataType == org.apache.spark.sql.types.DoubleType &&
          third.dataType == org.apache.spark.sql.types.DoubleType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"st_wkb_covers_point expects (binary, double, double), got " +
          s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override def nullIntolerant: Boolean = true
    @transient private lazy val reader = new WKBReader()
    @transient private lazy val gf = new GeometryFactory()
    @transient private lazy val pt = gf.createPoint(new Coordinate(0, 0))
    // task-local prepared-geometry interning (the reference's
    // SpatialQueryFilter.java:284-301): a hot tile tests the SAME polygon
    // against many points — parse + prepare each distinct WKB once per
    // task, capped so a pathological region table cannot balloon memory
    @transient private lazy val interned =
      new java.util.HashMap[java.nio.ByteBuffer, PreparedGeometry]()
    private val MaxInterned = 10000

    /** codegen entry point: interned prepared-geometry intersects test. */
    def test(wkb: Array[Byte], lon: Double, lat: Double): Boolean = {
      val key = java.nio.ByteBuffer.wrap(wkb)
      var g = interned.get(key)
      if (g == null) {
        g = PreparedGeometryFactory.prepare(reader.read(wkb))
        if (interned.size() < MaxInterned) interned.put(key, g)
      }
      val c = pt.getCoordinate
      c.x = lon; c.y = lat
      pt.geometryChanged()
      g.intersects(pt)
    }

    override def nullSafeEval(wkb: Any, lon: Any, lat: Any): Any =
      test(wkb.asInstanceOf[Array[Byte]], lon.asInstanceOf[Double], lat.asInstanceOf[Double])
    override def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                           ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("wkbCoversPoint", this, classOf[WkbCoversPoint].getName)
      defineCodeGen(ctx, ev, (wkb, lon, lat) => s"$ref.test($wkb, $lon, $lat)")
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                   t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  def st_wkb_covers_point(wkb: Column, lon: Column, lat: Column): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(WkbCoversPoint(expression(wkb), expression(lon), expression(lat)))
  }

  /**
   * Point-in-polygon join for a LARGE (distributed, non-broadcastable)
   * polygon table: each polygon explodes to its covering grid tiles at
   * `bits`, points key by their tile, candidates meet on a standard tile
   * equi-join (AQE splits hot tiles), and the per-row WKB exact test
   * decides. Same output contract as [[polygonJoin]] — (point cols +
   * region_id) — chosen when the dim side exceeds broadcast size.
   * `regions` must carry (region_id, geom WKB, lon_min, lon_max,
   * lat_min, lat_max).
   */
  def polygonJoinLarge(pts: DataFrame, regions: DataFrame, bits: Int = 6): DataFrame = {
    // collision-safe working names: user point tables can legitimately
    // carry tx/ty/geom columns (knnRing keeps only id, lon and lat of its
    // inputs for the same reason); region_id stays the contractual output name
    for (reserved <- Seq("__pj_tx", "__pj_ty", "__pj_geom", "region_id"))
      require(!pts.columns.contains(reserved),
        s"polygonJoinLarge reserves column name '$reserved' on the points side")
    val cover = Tiling.tileCover(
        regions.select(col("region_id").as("env_id"), col("lon_min"), col("lon_max"),
          col("lat_min"), col("lat_max")), bits)
      .select(col("env_id").as("region_id"), col("tx").as("__pj_tx"), col("ty").as("__pj_ty"))
      .join(regions.select(col("region_id"), col("geom").as("__pj_geom")), Seq("region_id"))
    val keyed = pts
      .withColumn("__pj_tx", GeoFunctions.gw_tile_x(col("lon"), bits))
      .withColumn("__pj_ty", GeoFunctions.gw_tile_y(col("lat"), bits))
    keyed.join(cover, Seq("__pj_tx", "__pj_ty"))
      .where(st_wkb_covers_point(col("__pj_geom"), col("lon"), col("lat")))
      .drop("__pj_tx", "__pj_ty", "__pj_geom")
  }

  /** strategy selection for the point-in-polygon join — the join-level
    * analogue of the reference's index-selection heuristics
    * (ChooseBestMatchIndexQueryStrategy.java:27): a dim side under
    * `maxBroadcast` rows ships inside the expression (shuffle-free),
    * otherwise the tile-cover equi-join runs distributed. */
  def polygonJoinAuto(pts: DataFrame, regions: DataFrame,
                      maxBroadcast: Int = 100000, bits: Int = 6): DataFrame = {
    // ONE pass sizes the dim side AND supplies the broadcast rows: a
    // count-then-collect pair scans an expensive regions plan twice and
    // can decide on different data than it ships
    val sample = regions.select("region_id", "geom").limit(maxBroadcast + 1).collect()
    if (sample.isEmpty)
      // joining against an empty dim table is an empty join, not an error
      pts.withColumn("region_id", lit(null).cast("string")).where(lit(false))
    else if (sample.length <= maxBroadcast) {
      val reader = new org.locationtech.jts.io.WKBReader()
      val seq = sample.map(r => (r.getString(0), reader.read(r.getAs[Array[Byte]](1)))).toSeq
      polygonJoin(pts, seq)
    } else polygonJoinLarge(pts, regions, bits)
  }

  /**
   * (point, region) pairs for all polygons a point falls in.
   * Output: input columns + `region_id`, one row per match.
   */
  def polygonJoin(pts: DataFrame, regions: Seq[(String, Geometry)]): DataFrame = {
    require(regions.nonEmpty)
    import org.apache.spark.sql.GraftBridge.{column, expression}
    // TRUST CONTRACT ([[SpatialPlanner.prefilterStored]]): a stored
    // `cell_id` holds default-tier gw_cell_id values (the committed
    // store's does); a table keyed another way drops or renames its
    // `cell_id` before the join, or matches are silently dropped.
    val perPoly = math.max(1, SpatialPlanner.MaxRangeDecomposition / regions.size)
    val wkbWriter = new org.locationtech.jts.io.WKBWriter(2)
    val matches: Column = column(RegionsForPoint(
      expression(col("lon")), expression(col("lat")),
      regions.map(_._1).toArray, regions.map(r => wkbWriter.write(r._2)).toArray))
    // coarse union prefilter: decomposed ranges of every polygon envelope
    SpatialPlanner.prefilterStored(pts, "cell_id", regions.flatMap { case (_, g) =>
        SpatialPlanner.spatialGeometryRanges(g, perPoly)
      })
      .withColumn("region_id", explode(matches))
  }

  /**
   * Exact k nearest neighbors (euclidean degrees) of each query point by
   * ring expansion over SFC tiles — the scale path for point kNN (north
   * star; the reference only ships centroid-kNN, AnalyticRecipes.scala:38-41,
   * plus tier-coordinate neighbor walks, TieredSFCIndexStrategy.java:222-238).
   *
   * Tier at `bits`: candidates = points in the 3x3 tile neighborhood of
   * each query. A query is resolved when it has >= k candidates and its
   * k-th distance is strictly below one cell span — every unseen point is
   * then provably farther. The walk starts at the tier whose 3x3
   * neighborhood holds ~4k points under uniformity (one count of the
   * points).
   *
   * The query set is the broadcast side, so it must fit on the driver: it
   * is collected once and the open queries are held there. Each tier is
   * ONE plan: the points, keyed by tile, meet a driver-built local relation
   * of every open query's 9 neighbor tiles in a broadcast join, a per-query
   * window takes the top k and applies the stop rule, and the resolved
   * rows (at most k per query) are collected. Resolved queries leave the
   * open set and the walk goes one tier coarser until none is open; bits=0
   * is a single world cell, so termination is brute-force exact. The tiers
   * after the first rescan the points, so those are cached for them and
   * released on return; the rows come back as a local frame, so no cache
   * or checkpoint outlives the call. A query or point without a position
   * takes no part. Output: (`q_id`, `id`, `rn`) with the input id types.
   */
  def knnRing(pts: DataFrame, idCol: String, queries: DataFrame, qIdCol: String,
              k: Int): DataFrame = {
    require(k >= 1, s"knnRing needs k >= 1, got $k")
    val spark = pts.sparkSession
    val base = pts.select(col(idCol).as("id"), col("lon"), col("lat"))
    val qs = queries.select(col(qIdCol).as("q_id"),
      col("lon").as("q_lon"), col("lat").as("q_lat"))
    val qSchema = qs.schema.add("key", LongType, nullable = false)
    // binary ids compare by content; every other id type by equals
    def idKey(v: Any): Any = v match { case b: Array[Byte] => b.toSeq; case o => o }
    // a query without a position has no neighborhood and no answer
    var open = qs.collect().filter(r => !r.isNullAt(1) && !r.isNullAt(2))
    val start = knnStartTier(base, k)
    var bits = start
    var cached = false
    val out = Array.newBuilder[Row]
    try {
      while (open.nonEmpty && bits >= 0) {
        // the tiers after the first rescan the points
        if (bits == start - 1) { base.cache(); cached = true }
        val neigh = for {
          q <- open
          qx = GeoCodec.bucketLon(q.getDouble(1), bits)
          qy = GeoCodec.bucketLat(q.getDouble(2), bits)
          dx <- -1 to 1
          dy <- -1 to 1
        } yield Row(q.get(0), q.get(1), q.get(2), tileKey(qx + dx, qy + dy, bits))
        val qSide = spark.createDataFrame(java.util.Arrays.asList(neigh: _*), qSchema)
        val rows = resolvedAt(base, broadcast(qSide), k, bits).collect()
        out ++= rows
        val done = rows.iterator.map(r => idKey(r.get(0))).toSet
        open = open.filterNot(r => done.contains(idKey(r.get(0))))
        bits -= 1
      }
    } finally if (cached) base.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(out.result(): _*), StructType(Seq(
      qs.schema("q_id"), base.schema("id"), StructField("rn", LongType, nullable = false))))
  }

  /** packed probe key of tile (jx, jy) at `bits`: the two-digit base-m
    * number (jx+1, jy+1), m = 2^bits + 2. A 3x3 neighborhood reaches one
    * tile past each grid edge (−1 and 2^bits), so both digits lie in
    * [0, m−1] and the key is injective over every tile a query can name
    * (`x·2^bits + y` would alias (x, −1) with (x−1, 2^bits−1)); it stays
    * below 2^63 for bits <= 31. */
  private[spark] def tileKey(jx: Long, jy: Long, bits: Int): Long =
    (jx + 1) * ((1L << bits) + 2) + (jy + 1)

  private def tileKey(jx: Column, jy: Column, bits: Int): Column =
    (jx + 1) * lit((1L << bits) + 2) + (jy + 1)

  /** density-derived first tier (see [[knnRing]]); skewed regions fall
    * through to coarser tiers correctly. */
  private[spark] def knnStartTier(base: DataFrame, k: Int): Int = {
    // an RDD count is one job; Dataset.count adds a shuffle-stage job
    val nPts = base.select().rdd.count().toDouble
    val target = math.max(1.0, 9.0 * nPts / (4.0 * k))
    math.min(16, math.max(0, (math.log(target) / math.log(4.0)).toInt))
  }

  /** the (q_id, id, rn) rows one tier proves exact: each query's top k by
    * (d2, id) among the points sharing a `key` with its neighbor rows in
    * `qSide` (q_id, q_lon, q_lat, key), kept where the stop rule holds. */
  private def resolvedAt(base: DataFrame, qSide: DataFrame, k: Int, bits: Int): DataFrame = {
    val cellDeg = 360.0 / (1L << bits)
    val p = base.withColumn("key", tileKey(GeoFunctions.gw_tile_x(col("lon"), bits),
      GeoFunctions.gw_tile_y(col("lat"), bits), bits))
    val d2 = (col("lon") - col("q_lon")) * (col("lon") - col("q_lon")) +
      (col("lat") - col("q_lat")) * (col("lat") - col("q_lat"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("id"))
    val wAll = Window.partitionBy(col("q_id"))
    // bits=0 is the single world cell: the join saw every point, so
    // whatever top-k exists is exact regardless of distance.
    val done =
      if (bits == 0) lit(true)
      else col("cnt") >= k && col("kth_d2") < lit(cellDeg * cellDeg)
    p.join(qSide, Seq("key"))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .withColumn("kth_d2", max(col("d2")).over(wAll))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .where(done)
      .select(col("q_id"), col("id"), col("rn"))
  }
}
