package graft.spark

/**
 * GeometryCalculationsTest port (analytics/api/src/test/.../
 * GeometryCalculationsTest.java): geodesic surrounding envelopes with
 * antimeridian splitting, checked with the same orthodromic (Vincenty)
 * distance the reference's JTS.orthodromicDistance uses.
 */
class GeodesySpec extends SparkTestBase {

  private def dist(x1: Double, y1: Double, x2: Double, y2: Double): Double =
    GeoCodec.vincentyMeters(x1, y1, x2, y2)

  test("vincentyDirect: inverse of vincentyMeters along cardinal bearings") {
    for (bearing <- Seq(0.0, 90.0, 180.0, -90.0); d <- Seq(1000.0, 50000.0, 500000.0)) {
      val (x, y) = GeoCodec.vincentyDirect(30.0, 30.0, bearing, d)
      assert(math.abs(dist(30.0, 30.0, x, y) - d) < 0.01,
        s"bearing=$bearing d=$d got ${dist(30.0, 30.0, x, y)}")
    }
  }

  test("buildSurroundingGeometries at (30, 30) with 50 km half-widths: one ~100 km square") {
    val geos = GeoCodec.surroundingEnvelopes(30.0, 30.0, 50000.0, 50000.0)
    assert(geos.size == 1)
    val e = geos.head
    // the reference walks the ring's coordinates asserting each side is
    // 100000 m +- 500 (GeometryCalculationsTest.java:52-63)
    val corners = Seq((e.minX, e.minY), (e.maxX, e.minY), (e.maxX, e.maxY), (e.minX, e.maxY))
    for (Seq((x1, y1), (x2, y2)) <- (corners :+ corners.head).sliding(2)) {
      val d = dist(x1, y1, x2, y2)
      assert(math.abs(d - 100000.0) < 500.0, s"side ($x1,$y1)-($x2,$y2) = $d")
    }
    // distances from the centroid to consecutive corners are roughly even
    // (GeometryCalculationsTest.java:64-74: |d - lastD| < 200)
    val (cx, cy) = ((e.minX + e.maxX) / 2, (e.minY + e.maxY) / 2)
    val ds = corners.map { case (x, y) => dist(cx, cy, x, y) }
    for (Seq(d1, d2) <- (ds :+ ds.head).sliding(2))
      assert(math.abs(d1 - d2) < 200.0, ds.toString)
    // the envelope surrounds the center (GeometryCalculationsTest.java:75-80)
    assert(e.maxX > 30 && e.minX < 30 && e.maxY > 30 && e.minY < 30)
  }

  test("buildSurroundingGeometries at the antimeridian splits into two envelopes in the reference's order") {
    // (GeometryCalculationsTest.java:82-110): center (179.9999999996, 0),
    // 100 km half-widths → first envelope hugs -180, second hugs +180
    val geos = GeoCodec.surroundingEnvelopes(179.9999999996, 0.0, 100000.0, 100000.0)
    assert(geos.size == 2)
    val g0 = geos(0)
    assert(g0.maxX < -179.0 && g0.maxX > -180.0, g0.toString)
    assert(math.abs(g0.minX - -180.0) < 1e-7, g0.toString)
    val g1 = geos(1)
    assert(g1.minX < 180.0 && g1.minX > 179.0, g1.toString)
    assert(math.abs(g1.maxX - 180.0) < 1e-7, g1.toString)
  }

  test("a west-wrapping center (near -180) splits with the +180-hugging envelope first") {
    val geos = GeoCodec.surroundingEnvelopes(-179.9999999996, 0.0, 100000.0, 100000.0)
    assert(geos.size == 2)
    assert(math.abs(geos(0).maxX - 180.0) < 1e-7 && geos(0).minX > 179.0)
    assert(math.abs(geos(1).minX - -180.0) < 1e-7 && geos(1).maxX < -179.0)
  }

  test("polar clamp: latitudes never exceed [-90, 90]") {
    val geos = GeoCodec.surroundingEnvelopes(0.0, 89.9, 10000.0, 50000.0)
    assert(geos.forall(e => e.maxY <= 90.0 && e.minY >= -90.0))
  }

  test("radiusQueryMeters across the dateline == PURE haversine filter (the cover is sound)") {
    import org.apache.spark.sql.functions._
    val pts = Tables.synthPages(spark, 3000)
    val (cx, cy, r) = (179.8, 10.0, 1500000.0)
    val got = Ops.radiusQueryMeters(pts, cx, cy, r)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the same query over a stored cell id runs the two-envelope range
    // prefilter, which must not drop any disk row either
    val gotStored = Ops.radiusQueryMeters(
      pts.withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat"))), cx, cy, r)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(GeoCodec.haversineDiskEnvelopes(cx, cy, r).size == 2,
      "fixture must actually cross the dateline")
    // brute force applies NO envelope: any under-coverage of the disk by
    // the query's envelope cover shows up as a set mismatch here
    val brute = pts
      .where(GeoFunctions.st_distance_haversine(col("lon"), col("lat"), lit(cx), lit(cy)) <= r)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == brute && got.nonEmpty, s"got ${got.size} brute ${brute.size}")
    assert(gotStored == brute, s"stored: got ${gotStored.size} brute ${brute.size}")
    // rows from BOTH sides of the antimeridian are found
    val lons = pts.where(col("doc_id").isin(got.toSeq: _*)).select("lon")
      .collect().map(_.getDouble(0))
    assert(lons.exists(_ > 0) && lons.exists(_ < 0))
  }

  test("haversineDiskEnvelopes covers the disk's poleward E/W extremes; polar disks span all longitudes") {
    // the 4-cardinal envelope under-covers: at (0, 30), r = 2000 km, the
    // disk's true max |dLon| = asin(sin(c)/cos(lat)) exceeds the
    // bearing-90 destination's longitude offset — sample points near the
    // E edge above the center latitude must be inside the cover
    val (cx, cy, r) = (0.0, 30.0, 2000000.0)
    val envs = GeoCodec.haversineDiskEnvelopes(cx, cy, r)
    assert(envs.size == 1)
    val e = envs.head
    def hav(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
      val dLat = math.toRadians(lat2 - lat1) / 2
      val dLon = math.toRadians(lon2 - lon1) / 2
      val a = math.sin(dLat) * math.sin(dLat) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.sin(dLon) * math.sin(dLon)
      2.0 * 6371008.8 * math.asin(math.sqrt(a))
    }
    for (lat <- Seq(30.0, 33.0, 36.0, 39.0); lonOff <- Seq(20.6, 20.7, 20.8)) {
      val d = hav(cx, cy, cx + lonOff, lat)
      if (d <= r)
        assert(lonOff <= e.maxX && lat <= e.maxY && lat >= e.minY,
          s"in-disk point ($lonOff, $lat, d=$d) must be inside the cover $e")
    }
    // a disk over the pole spans all longitudes
    val polar = GeoCodec.haversineDiskEnvelopes(10.0, 85.0, 1000000.0)
    assert(polar == Seq(graft.index.StatsClip.Env(-180.0, 180.0, polar.head.minY, 90.0)))
  }

  test("ExtractGeometryFilterVisitorTest port: DWITHIN buffer boundary at distance") {
    // testDWithin (ExtractGeometryFilterVisitorTest.java:24-51): every
    // coordinate of DWITHIN(geom, POINT(-122.7668 0.4979), 233.7, meters)'s
    // buffer geometry sits at 233.7 m orthodromic distance (+- 2 m). Our
    // ring is built with the Vincenty DIRECT problem and checked with the
    // independent Vincenty INVERSE (st_distance_vincenty's engine) — a
    // real closure check, far inside the reference's tolerance.
    val ring = GeoCodec.geodesicBufferRing(-122.7668, 0.4979, 233.7)
    assert(ring.length == 33 && ring.head == ring.last)
    for ((lon, lat) <- ring.dropRight(1)) {
      val d = GeoCodec.vincentyMeters(-122.7668, 0.4979, lon, lat)
      assert(math.abs(d - 233.7) < 2.0, s"($lon, $lat) at $d m")
      assert(math.abs(d - 233.7) < 0.01, s"closure should be sub-cm, got $d")
    }

    // testDWithinDateLine (:53-79): a 13.7 km buffer around
    // POINT(179.9998 0.79) — the reference checks distance from a point
    // 0.0001 deg away (13707.1 m, +- 2 km); we check from the true center
    // at the true radius AND that the ring wraps the antimeridian with
    // normalized longitudes
    val dl = GeoCodec.geodesicBufferRing(179.9998, 0.79, 13700.0)
    for ((lon, lat) <- dl.dropRight(1)) {
      assert(lon >= -180.0 && lon <= 180.0)
      val d = GeoCodec.vincentyMeters(179.9998, 0.79, lon, lat)
      assert(math.abs(d - 13700.0) < 0.01, s"($lon, $lat) at $d m")
      // the reference's own looser assertion, against ITS offset center
      val dRef = GeoCodec.vincentyMeters(179.9999, 0.79, lon, lat)
      assert(math.abs(dRef - 13707.1) < 2000.0)
    }
    assert(dl.exists(_._1 > 179.0) && dl.exists(_._1 < -179.0),
      "the dateline buffer must carry vertices on BOTH sides of the antimeridian")
  }
}
