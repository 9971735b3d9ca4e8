package graft.spark

import org.apache.spark.sql.functions.col

/**
 * Port of the reference's OrthodromicDistancePartitionerTest (analytics/
 * api/.../partitioner/OrthodromicDistancePartitionerTest.java:56-237)
 * against `cubeIdentifiers` — the crossing-based cell emission of
 * Ops.neighborhoodSelfJoin, pinned to it below: a 10 km threshold around a point
 * emits its own cell (primary) plus ONLY the neighbor cells the ±threshold
 * box overlaps — 4 at a cell corner, 2 on one border, never the full 3×3
 * stencil — wrapping through the antimeridian. (The reference test's
 * Hadoop/serialization scaffolding and CRS plumbing are out of scope; the
 * cell-count, single-primary and range-containment expectations are
 * ported.)
 */
class OrthodromicPartitionerSpec extends SparkTestBase {

  private val bits = 9
  private val bins = 1L << bits
  // 10 km in degrees (the test's DISTANCE_THRESHOLDS = "10000" meters)
  private val thr = 10000.0 / (2 * math.Pi * 6371008.8 / 360.0)

  private def lonRange(tx: Long): (Double, Double) =
    (tx.toDouble / bins * 360 - 180, (tx + 1).toDouble / bins * 360 - 180)
  private def latRange(ty: Long): (Double, Double) =
    (math.max(ty.toDouble / bins * 360 - 180, -90.0),
      math.min((ty + 1).toDouble / bins * 360 - 180, 90.0))
  private def onePrimary(cells: Seq[(Long, Long, Boolean)]): Boolean =
    cells.count(_._3) == 1

  /** The partitioner's cube identifiers — the point's own tile (primary)
    * plus every tile its ±(dxDeg, dyDeg) threshold box overlaps, with the
    * x-axis wrapping through the antimeridian (reference:
    * AbstractPartitioner.getCubeIdentifiers:79-102 — primary insertion id
    * + expansion-box ids, deduped keeping the primary flag —
    * OrthodromicDistancePartitioner.java:98-145 normalized-longitude
    * expansion). The driver-side twin of Ops.neighborhoodSelfJoin's
    * cell emission: a point away from every cell border emits exactly
    * one tile; at a corner, four — never the full (2k+1)² stencil. */
  private def cubeIdentifiers(lon: Double, lat: Double, dxDeg: Double, dyDeg: Double,
                              bits: Int): Seq[(Long, Long, Boolean)] = {
    val bins = 1L << bits
    def raw(v: Double) = math.ceil((v + 180.0) / 360.0 * bins).toLong - 1L
    val px = GeoCodec.bucketLon(lon, bits); val py = GeoCodec.bucketLat(lat, bits)
    val txs = (raw(lon - dxDeg) to raw(lon + dxDeg))
      .map(t => ((t % bins) + bins) % bins).distinct
    val tys = math.max(raw(lat - dyDeg), 0L) to math.min(raw(lat + dyDeg), bins - 1L)
    for (tx <- txs; ty <- tys) yield (tx, ty, tx == px && ty == py)
  }

  test("(0,0): 4 partitions, one primary, every range touches the origin") {
    val cells = cubeIdentifiers(0, 0, thr, thr, bits)
    assert(cells.size === 4)
    assert(onePrimary(cells))
    for ((tx, ty, _) <- cells) {
      val (lo, hi) = lonRange(tx); val (la, lb) = latRange(ty)
      assert(lo < 1e-10 && hi > -1e-10)
      assert(la < 1e-10 && lb > -1e-10)
    }
  }

  test("(-179.99999996, 0): 4 partitions through the antimeridian wrap, one primary") {
    val cells = cubeIdentifiers(-179.99999996, 0, thr, thr, bits)
    assert(cells.size === 4)
    assert(onePrimary(cells))
    // the wrap reached the far-east tile column
    assert(cells.exists(_._1 == bins - 1) && cells.exists(_._1 == 0L))
  }

  test("(88, 0): 2 partitions (one border crossed), ranges span the point") {
    val cells = cubeIdentifiers(88, 0, thr, thr, bits)
    assert(cells.size === 2)
    assert(onePrimary(cells))
    val lons = cells.map(c => lonRange(c._1)); val lats = cells.map(c => latRange(c._2))
    assert(lons.map(_._2).max > 88.0 && lons.map(_._1).min < 88.0)
    assert(lats.map(_._2).max > 0.0 && lats.map(_._1).min < 0.0)
  }

  test("coverage: any partner within the threshold box has its own tile among the emitted cells") {
    val rnd = new scala.util.Random(20260818)
    for (_ <- 0 until 500) {
      val lon = rnd.nextDouble() * 360 - 180
      val lat = rnd.nextDouble() * 168 - 84
      val cells = cubeIdentifiers(lon, lat, thr, thr, bits)
        .map(c => (c._1, c._2)).toSet
      assert(cells.size <= 4) // never the 3x3 stencil for thr < cell
      // partner at a random offset inside the box (wrapped x)
      val pLonRaw = lon + (rnd.nextDouble() * 2 - 1) * thr
      val pLon = if (pLonRaw < -180) pLonRaw + 360 else if (pLonRaw > 180) pLonRaw - 360 else pLonRaw
      val pLat = math.max(-90, math.min(90, lat + (rnd.nextDouble() * 2 - 1) * thr))
      val own = (GeoCodec.bucketLon(pLon, bits), GeoCodec.bucketLat(pLat, bits))
      // wrapped partners only meet when the caller wraps (Ops.Meters does);
      // assert coverage for the unwrapped-partner case and the wrapped case
      if (pLonRaw == pLon)
        assert(cells.contains(own), s"($lon,$lat) thr-box misses partner ($pLon,$pLat)")
      else assert(cells.contains(own), s"wrap case: ($lon,$lat) misses ($pLon,$pLat)")
    }
  }

  test("neighborhoodSelfJoin emits exactly the cube identifiers of each point") {
    val session = spark
    import session.implicits._
    // one probe point at the centre of every tile of a 5x5 block around
    // each query point (x wrapped): a probe pairs with the query point iff
    // the join emitted the probe's tile for it
    val queries = Seq((-1L, 0.0, 0.0), (-2L, -179.99999996, 0.0), (-3L, 88.0, 0.0))
    for ((qid, lon, lat) <- queries) {
      val (qx, qy) = (GeoCodec.bucketLon(lon, bits), GeoCodec.bucketLat(lat, bits))
      val probes = for (dx <- -2 to 2; dy <- -2 to 2) yield {
        val tx = ((qx + dx) % bins + bins) % bins
        val ty = qy + dy
        (tx * bins + ty, (tx + 0.5) / bins * 360 - 180, (ty + 0.5) / bins * 360 - 180)
      }
      val pts = ((qid, lon, lat) +: probes).toDF("id", "lon", "lat")
      val emitted = Ops.neighborhoodSelfJoin(pts, bits, thr, thr, wrapX = true)
        .where(col("a_id") === qid && col("b_id") =!= qid)
        .select("b_lon", "b_lat").as[(Double, Double)].collect()
        .map { case (x, y) => (GeoCodec.bucketLon(x, bits), GeoCodec.bucketLat(y, bits)) }
      assert(emitted.length === emitted.distinct.length, s"($lon,$lat): a tile emitted twice")
      assert(emitted.toSet === cubeIdentifiers(lon, lat, thr, thr, bits).map(c => (c._1, c._2)).toSet,
        s"($lon,$lat)")
    }
  }
}
