package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKTReader

/**
 * Spark-layer operator suite: every operator checked against an in-test
 * brute-force oracle, re-expressing the reference's own test contract
 * (AnalyticRecipesTest.scala:25-110 — partitioned results must equal
 * brute force, the distance joins in DistanceJoinSpec; SpatialQueryTest.java:73-170 — exact-geometry
 * semantics; GeoWaveBasicIT.java:894-979 — result-set equality by id set).
 */
class OpsSpec extends SparkTestBase {

  private lazy val pages: DataFrame = Tables.synthPages(spark, 2000).cache()
  // the scan operators run over input without and with a stored cell id;
  // only the second runs the SFC range prefilter
  private lazy val inputs: Seq[(String, DataFrame)] = Seq("unstored" -> pages,
    "stored" -> pages.withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat"))).cache())

  private lazy val localPts: Array[(Long, Double, Double)] =
    pages.select("doc_id", "lon", "lat").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  test("synthPages is deterministic and in-range") {
    val a = Tables.synthPages(spark, 500).select("doc_id", "lon", "lat", "text").collect()
    val b = Tables.synthPages(spark, 500).select("doc_id", "lon", "lat", "text").collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    assert(a.forall(r => r.getDouble(1) >= -180 && r.getDouble(1) <= 180
      && r.getDouble(2) >= -90 && r.getDouble(2) <= 90))
  }

  test("spatialBoxQuery == brute-force box filter") {
    val (lonMin, lonMax, latMin, latMax) = (-20.0, 55.0, -10.0, 48.0)
    val want = localPts.collect {
      case (id, lon, lat) if lon >= lonMin && lon <= lonMax && lat >= latMin && lat <= latMax => id
    }.toSet
    for ((kind, in) <- inputs) {
      val got = Ops.spatialBoxQuery(in, lonMin, lonMax, latMin, latMax)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == want, kind)
    }
    assert(want.nonEmpty)
  }

  test("spatialGeometryQuery == brute-force JTS intersects") {
    val wkt = "POLYGON ((-30 -20, 40 -25, 55 35, -10 45, -30 -20))"
    val geom = new WKTReader().read(wkt)
    val gf = new GeometryFactory()
    val want = localPts.collect {
      case (id, lon, lat) if geom.intersects(gf.createPoint(new Coordinate(lon, lat))) => id
    }.toSet
    for ((kind, in) <- inputs) {
      val got = Ops.spatialGeometryQuery(in, geom)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == want, kind)
    }
    assert(want.nonEmpty)
  }

  test("dateline-crossing box query wraps (LongitudeDefinition split)") {
    // box lon [175, -175] crosses the antimeridian; synthPages plants ~1%
    // of points hugging +-180
    val want = localPts.collect {
      case (id, lon, _) if lon >= 175.0 || lon <= -175.0 => id
    }.toSet
    for ((kind, in) <- inputs) {
      val got = Ops.spatialBoxQuery(in, 175.0, -175.0, -90.0, 90.0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == want, kind)
    }
    assert(want.exists(id => localPts.find(_._1 == id).get._2 > 175),
      "east-side points present")
    assert(want.exists(id => localPts.find(_._1 == id).get._2 < -175),
      "west-side points present")
  }

  test("rectangle geometry query elides the exact predicate (index-only path)") {
    val gf = new GeometryFactory()
    val rect = gf.createPolygon(Array(
      new Coordinate(-10, -5), new Coordinate(40, -5), new Coordinate(40, 30),
      new Coordinate(-10, 30), new Coordinate(-10, -5)))
    val q = Ops.spatialGeometryQuery(pages, rect)
    assert(!q.queryExecution.executedPlan.toString.contains("stcoverspoint"),
      "rectangle should skip the prepared-geometry filter")
    val got = q.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = localPts.collect {
      case (id, lon, lat) if lon >= -10 && lon <= 40 && lat >= -5 && lat <= 30 => id
    }.toSet
    assert(got == want && want.nonEmpty)
  }

  test("stBoxQuery == brute-force spatial-temporal filter") {
    val ev = pages.select(col("doc_id").as("event_id"), col("lon"), col("lat"),
      col("warc_ts").as("ts"))
    val tsMin = java.sql.Timestamp.valueOf("2011-06-01 00:00:00")
    val tsMax = java.sql.Timestamp.valueOf("2012-09-01 00:00:00")
    val want = pages.select("doc_id", "lon", "lat", "warc_ts").collect().collect {
      case r if r.getDouble(1) >= -90 && r.getDouble(1) <= 90 &&
        r.getDouble(2) >= -60 && r.getDouble(2) <= 60 &&
        !r.getTimestamp(3).before(tsMin) && !r.getTimestamp(3).after(tsMax) => r.getLong(0)
    }.toSet
    val stored = ev.withColumn("cell_id_st",
      GeoFunctions.gw_cell_id_st(col("lon"), col("lat"), col("ts")))
    for (in <- Seq(ev, stored)) {
      val got = Ops.stBoxQuery(in, -90, 90, -60, 60, tsMin, tsMax)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got == want, in.columns.mkString(","))
    }
    assert(want.nonEmpty)
  }

  test("knnToCentroids: k per centroid, matches brute force") {
    val cents = pages.where(col("doc_id") % 200 === 0)
    val k = 10
    val got = Ops.knnToCentroids(pages, "doc_id", cents, "doc_id", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val perCentroid = got.groupBy(_._1)
    assert(perCentroid.size == 10 && perCentroid.values.forall(_.length == k))
    val centLocal = localPts.filter(_._1 % 200 == 0)
    for ((cid, cx, cy) <- centLocal) {
      val want = localPts.map { case (id, x, y) =>
        (id, (x - cx) * (x - cx) + (y - cy) * (y - cy))
      }.sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1)
      val gotIds = perCentroid(cid).sortBy(_._3).map(_._2)
      assert(gotIds.sameElements(want), s"centroid $cid")
    }
  }

  test("distinctKnnToCentroids: each point in at most one centroid group") {
    val cents = pages.where(col("doc_id") % 200 === 0)
    val got = Ops.distinctKnnToCentroids(pages, "doc_id", cents, "doc_id", 10).collect()
    val ids = got.map(_.getLong(1))
    assert(ids.distinct.length == ids.length, "a point appeared under two centroids")
    assert(got.map(_.getLong(0)).distinct.length == 10)
  }

  test("tile assignment: tileBounds inverts tileId, point in own tile") {
    for ((_, lon, lat) <- localPts.take(200)) {
      val t = GeoCodec.tileId(lon, lat, 8)
      val b = GeoCodec.tileBounds(t, 8)
      assert(lon >= b(0) - 1e-9 && lon <= b(1) + 1e-9, s"lon $lon not in [${b(0)},${b(1)}]")
      assert(lat >= b(2) - 1e-9 && lat <= b(3) + 1e-9, s"lat $lat not in [${b(2)},${b(3)}]")
    }
  }

  test("text byte-identity: text survives encode+explode+join round trip per url") {
    import GeoFunctions._
    val before = pages.select(col("url"), md5(col("text").cast("binary")).as("h"))
    val after = pages
      .withColumn("cell_id", gw_cell_id(col("lon"), col("lat")))
      .withColumn("tile", gw_tile_id(col("lon"), col("lat"), 8))
      .repartition(8, col("tile"))
      .select(col("url"), md5(col("text").cast("binary")).as("h2"))
    val joined = before.join(after, "url")
    assert(joined.where(col("h") =!= col("h2")).count() == 0)
    assert(joined.count() == pages.count())
  }

  test("CellInRanges binary-search predicate agrees with OR-chain") {
    val ranges = SpatialPlanner.spatialBoxRanges(-10, 70, -5, 40)
    val withCell = pages.withColumn("cell_id",
      GeoFunctions.gw_cell_id(col("lon"), col("lat")))
    val orChain = withCell
      .where(ranges.map { case (s, e) => col("cell_id") >= lit(s) && col("cell_id") <= lit(e) }
        .reduce(_ || _))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sorted = ranges.sortWith((a, b) => graft.index.ByteUtils.compareUnsigned(a._1, b._1) < 0)
    val binSearch = withCell
      .where(GeoFunctions.gw_cell_in_ranges(col("cell_id"),
        sorted.map(_._1).toArray, sorted.map(_._2).toArray))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(orChain == binSearch)
    assert(orChain.nonEmpty)
  }
}
