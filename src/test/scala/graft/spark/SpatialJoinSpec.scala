package graft.spark

import org.apache.spark.sql.functions._
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

  test("knnRing exact on tiny table (fewer points than k)") {
    val tiny = pages.limit(5)
    val queries = pages.where(col("doc_id") === 0)
    val got = SpatialJoin.knnRing(tiny, "doc_id", queries, "doc_id", k = 10).collect()
    assert(got.length == 5)
  }
}
