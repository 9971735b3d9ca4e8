package graft.spark

/**
 * Meters-radius queries: the haversine disk's envelope cover
 * ([[GeoCodec.haversineDiskEnvelopes]]) is sound across the antimeridian
 * and toward the poles, so the radius query equals a pure haversine filter.
 */
class GeodesySpec extends SparkTestBase {

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
}
