package graft.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

class SpatialJoinSpec extends SparkTestBase {

  private lazy val pages = Tables.synthPages(spark, 2000).cache()
  // each join runs over input without and with a stored cell id: the
  // second runs the merged per-polygon range prefilter
  private lazy val inputs = Seq("unstored" -> pages,
    "stored" -> pages.withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat"))).cache())
  private lazy val localPts =
    pages.select("doc_id", "lon", "lat").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  test("polygonJoin == brute-force point-in-polygon over region set") {
    val regions = Tables.regionGeoms(40)
    val gf = new GeometryFactory()
    val want = (for {
      (id, lon, lat) <- localPts
      (rid, g) <- regions
      if g.intersects(gf.createPoint(new Coordinate(lon, lat)))
    } yield (id, rid)).toSet
    for ((kind, in) <- inputs) {
      val got = SpatialJoin.polygonJoin(in, regions)
        .select("doc_id", "region_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, kind)
    }
    assert(want.nonEmpty)
  }

  test("polygonJoin handles concave polygon + multipolygon") {
    val reader = new org.locationtech.jts.io.WKTReader()
    val concave = reader.read(
      "POLYGON ((-40 -30, 40 -30, 40 30, 0 0, -40 30, -40 -30))")
    val multi = reader.read(
      "MULTIPOLYGON (((100 10, 130 10, 130 40, 100 40, 100 10)), ((-130 -40, -100 -40, -100 -10, -130 -10, -130 -40)))")
    val regions = Seq(("concave", concave), ("multi", multi))
    val gf = new GeometryFactory()
    val want = (for {
      (id, lon, lat) <- localPts
      (rid, g) <- regions
      if g.intersects(gf.createPoint(new Coordinate(lon, lat)))
    } yield (id, rid)).toSet
    for ((kind, in) <- inputs) {
      val got = SpatialJoin.polygonJoin(in, regions)
        .select("doc_id", "region_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, kind)
    }
    assert(want.nonEmpty)
  }

  test("polygonJoinLarge (distributed dim) == broadcast polygonJoin") {
    import spark.implicits._
    val writer = new org.locationtech.jts.io.WKBWriter(2)
    val regionsSeq = Tables.regionGeoms(40)
    val regionsDf = regionsSeq.map { case (id, g) =>
      val e = g.getEnvelopeInternal
      (id, writer.write(g), e.getMinX, e.getMaxX, e.getMinY, e.getMaxY)
    }.toDF("region_id", "geom", "lon_min", "lon_max", "lat_min", "lat_max")
    val small = SpatialJoin.polygonJoin(pages, regionsSeq)
      .select("doc_id", "region_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val large = SpatialJoin.polygonJoinLarge(pages, regionsDf)
      .select("doc_id", "region_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(large == small)
    assert(large.nonEmpty)
    // auto-selection picks each strategy by dim size; results identical
    for (threshold <- Seq(1, 100000)) {
      val auto = SpatialJoin.polygonJoinAuto(pages, regionsDf, maxBroadcast = threshold)
        .select("doc_id", "region_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(auto == small, s"threshold $threshold")
    }
  }

  test("knnRing == brute-force kNN for every query point") {
    val queries = pages.where(col("doc_id") % 163 === 0) // ~12 queries
    val k = 10
    val got = SpatialJoin.knnRing(pages, "doc_id", queries, "doc_id", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val qLocal = localPts.filter(_._1 % 163 == 0)
    assert(got.map(_._1).distinct.length == qLocal.length, "every query resolved exactly once")
    val byQ = got.groupBy(_._1)
    for ((qid, qx, qy) <- qLocal) {
      val want = localPts.map { case (id, x, y) =>
        (id, (x - qx) * (x - qx) + (y - qy) * (y - qy))
      }.sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1)
      val gotIds = byQ(qid).sortBy(_._3).map(_._2)
      assert(gotIds.sameElements(want), s"query $qid: got ${gotIds.toSeq} want ${want.toSeq}")
    }
  }

  test("knnRing == brute force on 1500 synthetic pages, every 37th id a query") {
    val pts = Tables.synthPages(spark, 1500)
      .select(col("doc_id").as("id"), col("lon"), col("lat"))
    val local = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val qs = local.filter(_._1 % 37 == 0)
    val got = byQuery(SpatialJoin.knnRing(pts, "id", pts.where(col("id") % 37 === 0), "id", k = 5))
    assert(got.keySet == qs.map(_._1).toSet && qs.nonEmpty)
    for ((qid, qx, qy) <- qs) assert(got(qid) == bruteKnn(local, qx, qy, 5), s"query $qid")
  }

  test("knnRing: empty query set returns an empty frame, not null") {
    val pts = Tables.synthPages(spark, 200)
      .select(col("doc_id").as("id"), col("lon"), col("lat"))
    val out = SpatialJoin.knnRing(pts, "id", pts.where(lit(false)), "id", k = 3)
    assert(out != null && out.count() == 0)
    assert(out.columns.toSeq == Seq("q_id", "id", "rn"))
  }

  test("knnRing rejects k < 1") {
    val qs = pages.where(col("doc_id") === 0)
    for (k <- Seq(0, -1))
      intercept[IllegalArgumentException](SpatialJoin.knnRing(pages, "doc_id", qs, "doc_id", k))
  }

  test("knnRing exact on tiny table (fewer points than k)") {
    val tiny = pages.limit(5)
    val queries = pages.where(col("doc_id") === 0)
    val got = SpatialJoin.knnRing(tiny, "doc_id", queries, "doc_id", k = 10).collect()
    assert(got.length == 5)
  }

  /** (id, lon, lat) rows in three tight (±0.2°) clusters; the rest of the
    * world is empty. */
  private def clustered(n: Int): Seq[(Long, Double, Double)] = {
    val r = new scala.util.Random(17)
    val centres = Seq((10.0, 20.0), (12.0, 21.0), (-40.0, -10.0))
    (0 until n).map { i =>
      val (cx, cy) = centres(i % centres.size)
      (i.toLong, cx + (r.nextDouble() - 0.5) * 0.4, cy + (r.nextDouble() - 0.5) * 0.4)
    }
  }
  private lazy val clusterPts = clustered(3000)
  private lazy val clusterDf = spark.createDataFrame(clusterPts).toDF("id", "lon", "lat").cache()
  // one in-cluster query per centre region, taken from the points
  private lazy val nearQs = clusterPts.filter(_._1 % 250 == 0)
  // at least 90° from every point
  private lazy val farQs = Seq((-1L, 150.0, 60.0), (-2L, -150.0, -60.0), (-3L, 100.0, -70.0))

  private def bruteKnn(pts: Seq[(Long, Double, Double)], qx: Double, qy: Double,
                       k: Int): Seq[Long] =
    pts.map { case (id, x, y) => (id, (x - qx) * (x - qx) + (y - qy) * (y - qy)) }
      .sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1)

  /** q_id -> ids ordered by rn. */
  private def byQuery(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2) }

  /** ids of the RDDs holding cache or local-checkpoint blocks; the shared
    * session's context cleaner may free other suites' blocks meanwhile, so
    * pins compare the ids a call adds. */
  private def cachedRdds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** Spark jobs started while `body` runs (suites run one at a time). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; GraftBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("tileKey is injective over every tile a 3x3 neighborhood names, bits 0-16") {
    for (bits <- 0 to 16) {
      val n = 1L << bits
      // the grid's edge tiles, the out-of-grid neighbors −1 and 2^bits,
      // and seeded interior tiles
      val r = new scala.util.Random(bits)
      val xs = (Seq(-1L, 0L, 1L, n / 2, n - 2, n - 1, n) ++ Seq.fill(8)(r.nextLong(n)))
        .filter(x => x >= -1 && x <= n).distinct
      val m = n + 2
      val keys = for (x <- xs; y <- xs) yield {
        val key = SpatialJoin.tileKey(x, y, bits)
        // the key decodes back to its tile: no two tiles share one
        assert((key / m - 1, key % m - 1) == (x, y), s"bits $bits tile ($x, $y)")
        assert(key >= 0 && key < m * m)
        key
      }
      assert(keys.distinct.size == keys.size, s"bits $bits")
      if (bits <= 5) { // exhaustive over the whole emitted range
        val all = for (x <- -1L to n; y <- -1L to n) yield SpatialJoin.tileKey(x, y, bits)
        assert(all.distinct.size == all.size && all.min == 0 && all.max == m * m - 1, s"bits $bits")
      }
      // the naive x·2^bits + y aliases (1, −1) with (0, 2^bits − 1)
      def naive(x: Long, y: Long) = x * n + y
      assert(naive(1, -1) == naive(0, n - 1))
      assert(SpatialJoin.tileKey(1, -1, bits) != SpatialJoin.tileKey(0, n - 1, bits))
    }
  }

  test("knnRing == brute force when the first tier leaves queries unresolved") {
    val k = 10
    val bits = SpatialJoin.knnStartTier(clusterDf, k)
    // every far query's nearest point lies beyond its 3x3 neighborhood at
    // the first tier, so only a coarser tier can answer it
    for ((_, qx, qy) <- farQs) {
      val near = clusterPts.map { case (_, x, y) => math.hypot(x - qx, y - qy) }.min
      assert(near > 3 * 360.0 / (1L << bits))
    }
    val qs = nearQs ++ farQs
    val got = byQuery(SpatialJoin.knnRing(clusterDf, "id",
      spark.createDataFrame(qs).toDF("id", "lon", "lat"), "id", k))
    assert(got.keySet == qs.map(_._1).toSet)
    for ((qid, qx, qy) <- qs) assert(got(qid) == bruteKnn(clusterPts, qx, qy, k), s"query $qid")
  }

  test("knnRing: Int ids keep their type; duplicate query ids keep their rows") {
    val ptsInt = clusterDf.select(col("id").cast("int").as("id"), col("lon"), col("lat"))
    val qsInt = spark.createDataFrame(nearQs ++ farQs).toDF("id", "lon", "lat")
      .select(col("id").cast("int").as("qid"), col("lon"), col("lat"))
    val out = SpatialJoin.knnRing(ptsInt, "id", qsInt, "qid", k = 5)
    assert(out.columns.toSeq == Seq("q_id", "id", "rn"))
    assert(out.schema.map(_.dataType) == Seq(IntegerType, IntegerType, LongType))
    val rows = out.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    for ((qid, qx, qy) <- nearQs ++ farQs)
      assert(rows.filter(_._1 == qid.toInt).sortBy(_._3).map(_._2.toLong).toSeq ==
        bruteKnn(clusterPts, qx, qy, 5), s"query $qid")
    // a query listed twice, and one id naming two positions: the rows of
    // one id are ranked together, so query 0 sees every candidate twice and
    // query 250 the union of both neighborhoods (pinned to the rows every
    // earlier knnRing path returned for this input)
    val (a, b) = (nearQs(0), nearQs(1))
    val dup = spark.createDataFrame(Seq(a, a, b, (b._1, -40.0, -10.0), farQs.head))
      .toDF("id", "lon", "lat")
    val got = SpatialJoin.knnRing(clusterDf, "id", dup, "id", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq[(Long, Long, Long)](
      (-1, 1669, 1), (-1, 1780, 2), (-1, 1921, 4), (-1, 2041, 3),
      (0, 0, 1), (0, 0, 2), (0, 2556, 3), (0, 2556, 4),
      (250, 250, 1), (250, 374, 3), (250, 2561, 2), (250, 2995, 4)))
  }

  test("knnRing: null-position queries get no rows, null points never match") {
    val nullPt = spark.createDataFrame(Seq((-100L, Option.empty[Double], Option.empty[Double])))
      .toDF("id", "lon", "lat")
    val pts = clusterDf.unionByName(nullPt)
    val qs = nearQs ++ farQs
    val qDf = spark.createDataFrame(qs.map { case (i, x, y) => (i, Option(x), Option(y)) } ++
        Seq((-10L, None, Some(20.0)), (-11L, Some(10.0), None)))
      .toDF("id", "lon", "lat")
    val k = 10
    val got = byQuery(SpatialJoin.knnRing(pts, "id", qDf, "id", k))
    assert(got.keySet == qs.map(_._1).toSet)
    assert(!got.values.exists(_.contains(-100L)))
    for ((qid, qx, qy) <- qs) assert(got(qid) == bruteKnn(clusterPts, qx, qy, k), s"query $qid")
  }

  test("knnRing resolved in the first tier: at most 5 jobs, no blocks left behind") {
    val qs = clusterDf.where(col("id") % 250 === 0)
    val k = 10
    byQuery(SpatialJoin.knnRing(clusterDf, "id", qs, "id", k)) // warm-up
    val before = cachedRdds
    var got: Map[Long, Seq[Long]] = Map.empty
    val jobs = jobsDuring { got = byQuery(SpatialJoin.knnRing(clusterDf, "id", qs, "id", k)) }
    // collect the queries, count the points, and one plan: broadcast,
    // window shuffle, result
    assert(jobs <= 5, s"$jobs jobs")
    assert((cachedRdds -- before).isEmpty, "a cache or local-checkpoint block outlived the call")
    for ((qid, qx, qy) <- nearQs) assert(got(qid) == bruteKnn(clusterPts, qx, qy, k), s"query $qid")
  }

  test("knnRing falling through to coarser tiers leaves no cache or checkpoint") {
    val qs = nearQs ++ farQs
    val k = 10
    val before = cachedRdds
    val got = byQuery(SpatialJoin.knnRing(clusterDf, "id",
      spark.createDataFrame(qs).toDF("id", "lon", "lat"), "id", k))
    assert((cachedRdds -- before).isEmpty, "a cache or local-checkpoint block outlived the call")
    assert(got.keySet == qs.map(_._1).toSet)
    for ((qid, qx, qy) <- qs) assert(got(qid) == bruteKnn(clusterPts, qx, qy, k), s"query $qid")
  }
}
