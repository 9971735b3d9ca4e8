package graft.spark

import org.apache.spark.sql.functions._

/**
 * Envelope-indexed store end-to-end: multi-tier insertion ids with
 * coarse-tier duplicates, tier fan-out query ranges, and DedupeFilter
 * semantics (each matching geometry exactly once).
 */
class EnvelopeStoreSpec extends SparkTestBase {

  private lazy val boxes = Tables.regionBoxes(60)

  private lazy val store = {
    import spark.implicits._
    val geoms = boxes.toDF("rid", "env_lon_min", "env_lon_max", "env_lat_min", "env_lat_max")
    Ops.encodeEnvelopes(geoms, "rid").cache()
  }

  test("envelope encode produces multi-tier rows with duplicate counts") {
    val rows = store.collect()
    assert(rows.length > boxes.length, "coarse tiers must duplicate some envelopes")
    // num_duplicates = rows-for-id - 1
    val byId = rows.groupBy(_.getString(0))
    for ((rid, rs) <- byId) {
      val dup = rs.head.getAs[Int]("num_duplicates")
      assert(rs.length == dup + 1, s"$rid: ${rs.length} rows vs num_duplicates=$dup")
      // tier bytes: envelopes land on tiers matching their size, not only 31
      val tiers = rs.map(_.getAs[Array[Byte]]("cell_id")(0)).distinct
      assert(tiers.forall(t => t >= 0 && t <= 31))
    }
    assert(rows.map(_.getAs[Array[Byte]]("cell_id")(0)).distinct.length > 1,
      "multiple tiers in use across the region set")
  }

  test("box query over envelope store: tier fan-out + dedupe == brute force") {
    val queries = Seq(
      (-50.0, 50.0, -40.0, 40.0),
      (60.0, 160.0, -80.0, 40.0),
      (-170.0, -60.0, -20.0, 70.0),
      (0.0, 10.0, 0.0, 10.0))
    for ((lonMin, lonMax, latMin, latMax) <- queries) {
      val got = Ops.spatialBoxQueryEnvelopes(store, "rid", lonMin, lonMax, latMin, latMax)
        .select("rid").collect().map(_.getString(0)).toList
      assert(got.distinct.length == got.length, "dedupe must drop coarse-tier duplicates")
      val want = boxes.collect {
        case (rid, bLonMin, bLonMax, bLatMin, bLatMax)
          if bLonMax >= lonMin && bLonMin <= lonMax &&
            bLatMax >= latMin && bLatMin <= latMax => rid
      }.toSet
      assert(got.toSet == want, s"query ($lonMin,$lonMax,$latMin,$latMax)")
      assert(want.nonEmpty)
    }
  }

  test("fuzz: 60 random stored boxes x 20 random queries == brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val randBoxes = (0 until 60).map { i =>
      val lonMin = rnd.nextDouble() * 340 - 175
      val latMin = rnd.nextDouble() * 160 - 85
      val w = math.pow(10, rnd.nextDouble() * 2.3 - 1) // 0.1°..~20°
      val h = math.pow(10, rnd.nextDouble() * 2.3 - 1)
      (f"f$i%03d", lonMin, math.min(lonMin + w, 180), latMin, math.min(latMin + h, 90))
    }
    val fuzzStore = Ops.encodeEnvelopes(
      randBoxes.toDF("rid", "env_lon_min", "env_lon_max", "env_lat_min", "env_lat_max"),
      "rid").cache()
    for (_ <- 0 until 20) {
      val lonMin = rnd.nextDouble() * 340 - 175
      val latMin = rnd.nextDouble() * 160 - 85
      val (lonMax, latMax) = (math.min(lonMin + 5 + rnd.nextDouble() * 80, 180),
        math.min(latMin + 5 + rnd.nextDouble() * 60, 90))
      val got = Ops.spatialBoxQueryEnvelopes(fuzzStore, "rid", lonMin, lonMax, latMin, latMax)
        .select("rid").collect().map(_.getString(0)).toList
      assert(got.distinct.length == got.length)
      val want = randBoxes.collect {
        case (rid, a, b, c, d) if b >= lonMin && a <= lonMax && d >= latMin && c <= latMax => rid
      }.toSet
      assert(got.toSet == want, s"query ($lonMin,$lonMax,$latMin,$latMax)")
    }
  }

  test("dedupe elision: single-tier stores skip dropDuplicates") {
    // a store with only single-id envelopes (num_duplicates == 0 rows)
    val single = store.where(col("num_duplicates") === 0)
    val q = Ops.spatialBoxQueryEnvelopes(single, "rid", -180, 180, -90, 90,
      hasDuplicates = false)
    val got = q.select("rid").collect().map(_.getString(0)).toList
    assert(got.distinct.length == got.length)
  }
}
