package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distance self-joins — `Ops.distanceJoin` (undirected pairs) and
 * `Ops.distanceJoinTopK` (directed per-item top-k) under both metrics —
 * against brute-force oracles: the partitioned join must equal compareAll
 * (AnalyticRecipesTest.scala:25-110), with and without an event-time
 * window; the latitude band, the exact in-band longitude bound and the
 * antimeridian wrap of the meters join; millisecond-exact windows; and the
 * map-side top-k limit and per-cell cap of the neighbor-capped join.
 */
class DistanceJoinSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val pages: DataFrame = Tables.synthPages(spark, 2000).cache()

  /** `pts` with a seeded `ts` spread over 30 days, in microseconds. */
  private def withTs(pts: DataFrame): DataFrame =
    pts.withColumn("ts", timestamp_micros(lit(1704067200000000L) +
      pmod(xxhash64(col("id"), lit(7)), lit(30L * 86400L * 1000000L))))

  private def collectTimed(pts: DataFrame): Array[(Long, Double, Double, Long)] =
    pts.select(col("id"), col("lon"), col("lat"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))

  /** no window, and a two-day window over the 30-day spread. */
  private val windows: Seq[Option[(String, Long)]] = Seq(None, Some(("ts", 2L * 86400L * 1000L)))

  private def inWindow(window: Option[(String, Long)], ta: Long, tb: Long): Boolean =
    window.forall { case (_, dtMillis) => math.abs(ta - tb) <= dtMillis * 1000L }

  private def hav(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dLat = math.toRadians(y2 - y1) / 2; val dLon = math.toRadians(x2 - x1) / 2
    val a = math.sin(dLat) * math.sin(dLat) +
      math.cos(math.toRadians(y1)) * math.cos(math.toRadians(y2)) * math.sin(dLon) * math.sin(dLon)
    2.0 * 6371008.8 * math.asin(math.sqrt(a))
  }

  // ------------------------------------------------ undirected pairs

  test("distanceJoin == brute-force all-pairs (AnalyticRecipesTest contract)") {
    val pts = withTs(pages.limit(1000).select(col("doc_id").as("id"), col("lon"), col("lat")))
    val d = 0.8
    val local = collectTimed(pts)
    val all = for (window <- windows) yield {
      val rows = Ops.distanceJoin(pts, "id", d, bits = 8, window = window).collect()
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (ia, xa, ya, ta) <- local; (ib, xb, yb, tb) <- local
        if ia < ib && (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) < d * d &&
          inWindow(window, ta, tb)
      } yield (ia, ib)).toSet
      assert(got == want, s"window=$window")
      assert(want.nonEmpty, "fixture must produce at least one close pair")
      // dist is the degree distance: sqrt of the exact d² the filter used
      val xy = local.map(p => p._1 -> (p._2, p._3)).toMap
      for (r <- rows) {
        val ((xa, ya), (xb, yb)) = (xy(r.getLong(0)), xy(r.getLong(1)))
        assert(r.getDouble(2) == math.sqrt((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)))
      }
      want
    }
    assert(all(1).size < all(0).size, "the window must drop some pairs")
  }

  test("distanceJoin(..., Meters()) == brute-force haversine all-pairs") {
    val pts = withTs(pages.where(abs(col("lat")) <= 85).limit(800)
      .select(col("doc_id").as("id"), col("lon"), col("lat")))
    val dM = 150000.0 // 150 km
    val local = collectTimed(pts)
    val all = for (window <- windows) yield {
      val got = Ops.distanceJoin(pts, "id", dM, bits = 7, Ops.Meters(), window)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        a <- local; b <- local
        if a._1 < b._1 && hav(a._2, a._3, b._2, b._3) < dM && inWindow(window, a._4, b._4)
      } yield (a._1, b._1)).toSet
      assert(got == want, s"window=$window")
      assert(want.nonEmpty)
      want
    }
    assert(all(1).size < all(0).size, "the window must drop some pairs")
  }

  test("distanceJoin window honors sub-second windows exactly (no seconds truncation)") {
    val pts = Seq(
      (1L, 0.0, 0.0, "2024-01-01 00:00:00.900"),
      (2L, 0.0, 0.0, "2024-01-01 00:00:01.100"), // 200 ms from id 1
      (3L, 0.0, 0.0, "2024-01-01 00:00:02.000")  // 900 ms from id 2
    ).toDF("id", "lon", "lat", "s").withColumn("ts", col("s").cast("timestamp"))
    def pairs(dtMillis: Long) =
      Ops.distanceJoin(pts, "id", d = 1.0, bits = 4, window = Some(("ts", dtMillis)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 500 ms window: only the 200 ms pair (seconds truncation would have
    // dropped it — floor(0.9)=0 vs floor(1.1)=1 differ by a whole second)
    assert(pairs(500L) == Set((1L, 2L)))
    // 900 ms window admits the 900 ms pair inclusively
    assert(pairs(900L) == Set((1L, 2L), (2L, 3L)))
    // 199 ms window admits nothing
    assert(pairs(199L) == Set.empty)
  }

  test("distanceJoin(..., Meters()) excludes near-pole rows outside the latitude band") {
    val pts = Seq(
      (0L, 10.0, 89.0), (1L, 10.001, 89.0), // near-pole pair, outside band
      (2L, 20.0, 0.0), (3L, 20.5, 0.0), // equatorial pair ~55 km apart
      (4L, 120.0, 40.0) // isolated
    ).toDF("id", "lon", "lat")
    val got = Ops.distanceJoin(pts, "id", d = 100000.0, bits = 6, Ops.Meters())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 3L)))
  }

  test("distanceJoin(..., Meters()) finds band-edge pairs the linear lon bound would drop") {
    // two points at lat 85 whose lon separation exceeds the small-angle
    // bound d/(R cos lat) in degrees but whose haversine distance is
    // within d — the exact asin bound must cover them
    val d = 108971.0
    val linearLonDeg = (d / (2 * math.Pi * 6371008.8 / 360.0)) / math.cos(math.toRadians(85.0))
    val sep = linearLonDeg + 0.005 // just past the linear bound
    val pts = Seq((1L, 0.0, 85.0), (2L, sep, 85.0)).toDF("id", "lon", "lat")
    val hav = {
      val dLon = math.toRadians(sep) / 2
      val a = math.cos(math.toRadians(85.0)) * math.cos(math.toRadians(85.0)) *
        math.sin(dLon) * math.sin(dLon)
      2.0 * 6371008.8 * math.asin(math.sqrt(a))
    }
    assert(hav < d, s"fixture must be within the radius (hav=$hav)")
    val got = Ops.distanceJoin(pts, "id", d, bits = 6, Ops.Meters())
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"band-edge pair must be found: $got")
  }

  test("distanceJoin(..., Meters()) finds pairs straddling the antimeridian") {
    // wrapped Δlon = 0.08° ≈ 8.8 km at lat 10 — within 20 km; the
    // unwrapped tile neighborhood would put these in non-adjacent cells
    val pts = Seq((1L, 179.96, 10.0), (2L, -179.96, 10.0), (3L, 0.0, 10.0),
      (4L, 179.96, 10.05)).toDF("id", "lon", "lat")
    val got = Ops.distanceJoin(pts, "id", d = 20000.0, bits = 7, Ops.Meters())
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 4L), (2L, 4L)), got.toString)
  }

  test("wrapped neighborhood wider than the grid yields no duplicate pairs") {
    // bits=3 → 8 tiles of 45°; dMeters=2000km → kx=5, 2kx+1=11 > 8: the
    // wrapped offsets must reduce to distinct residues or every pair
    // would join on two keys and duplicate
    val pts = Seq((1L, -170.0, 0.0), (2L, 170.0, 0.0), (3L, -150.0, 0.0),
      (4L, 10.0, 0.0), (5L, 25.0, 0.0)).toDF("id", "lon", "lat")
    val got = Ops.distanceJoin(pts, "id", d = 2000000.0, bits = 3, Ops.Meters())
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.distinct.length, s"duplicate pairs: ${got.toSeq}")
    // brute-force haversine oracle
    val rows = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    def hav(a: (Long, Double, Double), b: (Long, Double, Double)): Double = {
      val dLat = math.toRadians(b._3 - a._3); val dLon = math.toRadians(b._2 - a._2)
      val s = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(a._3)) * math.cos(math.toRadians(b._3)) *
          math.pow(math.sin(dLon / 2), 2)
      2 * 6371008.8 * math.asin(math.sqrt(s))
    }
    val want = (for (a <- rows; b <- rows if a._1 < b._1 && hav(a, b) < 2000000.0)
      yield (a._1, b._1)).toSet
    assert(got.toSet == want, s"got ${got.toSet} want $want")
  }

  // ------------------------------------ neighbor-capped distance join

  private def gridPts(n: Int): Seq[(Long, Double, Double)] =
    (0L until n.toLong).map(i => (i, (i % 25).toDouble * 0.3 - 3.0, (i / 25).toDouble * 0.3 + 10.0))

  test("distanceJoinTopK matches a brute-force per-item top-k oracle (ties -> lowest b_id)") {
    val pts = gridPts(200)
    val d = 0.95; val k = 3
    val got = Ops.distanceJoinTopK(pts.toDF("id", "lon", "lat"), "id", d, bits = 6, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = pts.flatMap { case (i, x, y) =>
      pts.filter { case (j, u, v) => j != i && (x - u) * (x - u) + (y - v) * (y - v) < d * d }
        .map { case (j, u, v) => (j, (x - u) * (x - u) + (y - v) * (y - v)) }
        .sortBy { case (j, dd) => (dd, j) }.take(k).zipWithIndex
        .map { case ((j, _), r) => (i, j, (r + 1).toLong) }
    }.toSet
    assert(got == want)
    // the 0.3 grid puts 4 equidistant axis neighbors inside d=0.95: the
    // rank ties must break to the lowest b_id, so interior point 62's
    // top-3 is (37, 61, 63) in that order
    assert(got.filter(_._1 == 62L).toList.sortBy(_._3).map(_._2) == List(37L, 61L, 63L))
  }

  test("distanceJoinTopK: rank limit runs map-side (WindowGroupLimit Partial below the shuffle)") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    for ((metric, d) <- Seq(Ops.Degrees -> 0.95, Ops.Meters() -> 60000.0)) {
      val df = Ops.distanceJoinTopK(gridPts(200).toDF("id", "lon", "lat"), "id", d, bits = 6, k = 3,
        metric = metric)
      val modes = df.queryExecution.sparkPlan.collect {
        case w: WindowGroupLimitExec => w.mode.toString
      }
      assert(modes.toSet == Set("Partial", "Final"),
        s"$metric: expected a partial+final WindowGroupLimit pair:\n" + df.queryExecution.sparkPlan)
    }
  }

  test("distanceJoinTopK partitionCap drops over-cap cell members entirely (NNProcessor bound)") {
    // one hot cell: 40 co-located points, cap 10 -> only ids 0..9 survive,
    // on BOTH sides of the join
    val hot = (0L until 40L).map(i => (i, 1.0 + (i % 7) * 0.01, 1.0 + (i / 7) * 0.01))
    for ((metric, d) <- Seq(Ops.Degrees -> 2.0, Ops.Meters() -> 200000.0)) {
      val got = Ops.distanceJoinTopK(hot.toDF("id", "lon", "lat"), "id",
          d = d, bits = 2, k = 100, partitionCap = 10, metric = metric)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.map(_._1).toSet == (0L until 10L).toSet, metric)
      assert(got.map(_._2).toSet == (0L until 10L).toSet, metric)
      assert(got.length == 90, s"$metric: 10 surviving members x 9 neighbors each")
    }
  }

  test("distanceJoinTopK(..., Meters()): directed haversine top-k vs brute force") {
    // the 0.3° grid plus points straddling ±180°, whose nearest neighbors
    // lie across the antimeridian: the directed path must wrap
    val dateline = Seq((1000L, 179.9, 10.0), (1001L, 179.97, 10.0), (1002L, -179.98, 10.0),
      (1003L, -179.9, 10.0), (1004L, 179.99, 10.2), (1005L, -179.99, 10.3))
    val pts = gridPts(100) ++ dateline
    val dM = 60000.0; val k = 2
    val got = Ops.distanceJoinTopK(pts.toDF("id", "lon", "lat"), "id", dM, bits = 6, k = k,
        metric = Ops.Meters())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = pts.flatMap { case (i, x, y) =>
      pts.filter { case (j, u, v) => j != i && hav(x, y, u, v) < dM }
        .map { case (j, u, v) => (j, hav(x, y, u, v)) }
        .sortBy { case (j, dd) => (dd, j) }.take(k).zipWithIndex
        .map { case ((j, _), r) => (i, j, (r + 1).toLong) }
    }.toSet
    assert(got == want)
    // the directed path scores each direction itself: haversine must be
    // bit-symmetric in (a, b) for both endpoints to rank the same value
    val df = pts.toDF("id", "lon", "lat")
    val asym = df.as("a").crossJoin(df.as("b")).where(
      GeoFunctions.st_distance_haversine(col("a.lon"), col("a.lat"), col("b.lon"), col("b.lat")) =!=
        GeoFunctions.st_distance_haversine(col("b.lon"), col("b.lat"), col("a.lon"), col("a.lat")))
    assert(asym.count() == 0)
    val lonOf = pts.map(p => p._1 -> p._2).toMap
    assert(got.exists { case (a, b, _) => lonOf(a) * lonOf(b) < -10000.0 },
      "fixture must rank a neighbor across the antimeridian")
  }
}
