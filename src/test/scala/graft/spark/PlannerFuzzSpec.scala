package graft.spark

import org.apache.spark.sql.functions._

/**
 * Seeded fuzz over the decomposition → prefilter → fine-filter pipeline:
 * many random query boxes (tiny, huge, degenerate, bin-edge-straddling,
 * dateline-crossing) must return exactly the brute-force result set.
 * Every query runs twice: over input WITH a stored cell id (the range
 * prefilter runs, so a decomposition that drops a matching cell fails
 * here) and WITHOUT one (the exact fine filter alone decides).
 */
class PlannerFuzzSpec extends SparkTestBase {

  private lazy val pages = Tables.synthPages(spark, 2500).cache()
  private lazy val inputs = Seq("unstored" -> pages,
    "stored" -> pages.withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat"))).cache())
  private lazy val localPts =
    pages.select("doc_id", "lon", "lat").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  private val rnd = new scala.util.Random(20260817)

  test("50 random boxes: spatialBoxQuery == brute force") {
    val boxes = Seq.fill(40) {
      val lonMin = rnd.nextDouble() * 350 - 180
      val latMin = rnd.nextDouble() * 170 - 90
      val w = math.pow(10, rnd.nextDouble() * 3 - 1) // 0.1°..100°
      val h = math.pow(10, rnd.nextDouble() * 3 - 1)
      (lonMin, math.min(lonMin + w, 180), latMin, math.min(latMin + h, 90))
    } ++ Seq(
      (0.0, 0.0, 0.0, 0.0),               // degenerate point box
      (-180.0, 180.0, -90.0, 90.0),       // whole world
      (-0.005, 0.005, -0.005, 0.005),     // tiny around origin
      (89.999, 90.001, 44.999, 45.001),   // straddles the 90/45 bin edges
      (-180.0, -179.99, 89.9, 90.0),      // corner cell
      (45.0, 45.0, -30.0, 60.0),          // degenerate lon slice
      (179.9, 180.0, -0.1, 0.1),          // east edge
      (-1e-12, 1e-12, -1e-12, 1e-12),     // sub-ulp box
      (120.0, 121.0, 89.99, 90.0),        // pole-hugging
      (0.004999999, 0.005000001, 0.0049999, 0.0050001)) // grid-point epsilon
    for ((lonMin, lonMax, latMin, latMax) <- boxes; (kind, in) <- inputs) {
      val got = Ops.spatialBoxQuery(in, lonMin, lonMax, latMin, latMax)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val want = localPts.collect {
        case (id, lon, lat) if lon >= lonMin && lon <= lonMax &&
          lat >= latMin && lat <= latMax => id
      }.toSet
      assert(got == want, s"$kind box ($lonMin,$lonMax,$latMin,$latMax): " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("15 random dateline-crossing boxes == wrapped brute force") {
    val boxes = Seq.fill(15) {
      val lonMin = 100 + rnd.nextDouble() * 79 // [100, 179]
      val lonMax = -179 + rnd.nextDouble() * 79 // [-179, -100]
      val latMin = rnd.nextDouble() * 150 - 85
      (lonMin, lonMax, latMin, math.min(latMin + 5 + rnd.nextDouble() * 60, 90))
    }
    for ((lonMin, lonMax, latMin, latMax) <- boxes; (kind, in) <- inputs) {
      val got = Ops.spatialBoxQuery(in, lonMin, lonMax, latMin, latMax)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val want = localPts.collect {
        case (id, lon, lat) if (lon >= lonMin || lon <= lonMax) &&
          lat >= latMin && lat <= latMax => id
      }.toSet
      assert(got == want, s"$kind dateline box ($lonMin,$lonMax,$latMin,$latMax)")
    }
  }

  test("12 random triangles: spatialGeometryQuery == brute-force JTS") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    for (_ <- 0 until 12) {
      val cx = rnd.nextDouble() * 300 - 150
      val cy = rnd.nextDouble() * 140 - 70
      val r = 1 + rnd.nextDouble() * 40
      val pts3 = Array.tabulate(3) { i =>
        val a = i * 2.1 + rnd.nextDouble()
        new org.locationtech.jts.geom.Coordinate(cx + r * math.cos(a), cy + r * math.sin(a))
      }
      val tri = gf.createPolygon(pts3 :+ pts3(0))
      if (tri.getArea > 0) {
        val want = localPts.collect {
          case (id, lon, lat) if tri.intersects(gf.createPoint(
            new org.locationtech.jts.geom.Coordinate(lon, lat))) => id
        }.toSet
        for ((kind, in) <- inputs) {
          val got = Ops.spatialGeometryQuery(in, tri)
            .select("doc_id").collect().map(_.getLong(0)).toSet
          assert(got == want, s"$kind triangle around ($cx,$cy) r=$r")
        }
      }
    }
  }

  test("10 random ST boxes == brute force over warc_ts") {
    val ev = pages.select(col("doc_id").as("event_id"), col("lon"), col("lat"),
      col("warc_ts").as("ts"))
    val evInputs = Seq("unstored" -> ev, "stored" -> ev.withColumn("cell_id_st",
      GeoFunctions.gw_cell_id_st(col("lon"), col("lat"), col("ts"))).cache())
    val local = pages.select("doc_id", "lon", "lat", "warc_ts").collect()
    for (_ <- 0 until 10) {
      val lonMin = rnd.nextDouble() * 300 - 170
      val latMin = rnd.nextDouble() * 150 - 85
      val (lonMax, latMax) = (lonMin + 20 + rnd.nextDouble() * 80,
        math.min(latMin + 20 + rnd.nextDouble() * 60, 90))
      val t0 = 1293840000L + (rnd.nextDouble() * 2.5 * 365 * 86400).toLong
      val t1 = t0 + (rnd.nextDouble() * 300 * 86400).toLong
      val tsMin = new java.sql.Timestamp(t0 * 1000)
      val tsMax = new java.sql.Timestamp(t1 * 1000)
      val want = local.collect {
        case r if r.getDouble(1) >= lonMin && r.getDouble(1) <= lonMax &&
          r.getDouble(2) >= latMin && r.getDouble(2) <= latMax &&
          !r.getTimestamp(3).before(tsMin) && !r.getTimestamp(3).after(tsMax) => r.getLong(0)
      }.toSet
      for ((kind, in) <- evInputs) {
        val got = Ops.stBoxQuery(in, lonMin, lonMax, latMin, latMax, tsMin, tsMax)
          .select("event_id").collect().map(_.getLong(0)).toSet
        assert(got == want, s"$kind st box ($lonMin,$lonMax,$latMin,$latMax,$tsMin,$tsMax)")
      }
    }
  }
}
