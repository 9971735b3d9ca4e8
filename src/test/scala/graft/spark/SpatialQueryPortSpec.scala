package graft.spark

import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKBWriter

/**
 * Verbatim port of the reference's SpatialQueryTest OVERLAPS/CONTAINS
 * truth table (core/geotime/src/test/java/.../SpatialQueryTest.java:73-170):
 * query polygon (24,33)-(28,37), four line geometries, expected
 * OVERLAPS = [T,T,F,F], CONTAINS = [F,T,F,F].
 */
class SpatialQueryPortSpec extends SparkTestBase {

  private val gf = new GeometryFactory()
  private val writer = new WKBWriter(2)

  private val queryPoly = gf.createPolygon(Array(
    new Coordinate(24, 33), new Coordinate(28, 33), new Coordinate(28, 37),
    new Coordinate(24, 37), new Coordinate(24, 33)))

  private val lines = Seq(
    Array(new Coordinate(22, 32), new Coordinate(25, 36)),
    Array(new Coordinate(25, 33.5), new Coordinate(26, 34)),
    Array(new Coordinate(21, 33.5), new Coordinate(23, 34)),
    Array(new Coordinate(29, 33.5), new Coordinate(30, 34)))

  private def df = {
    import spark.implicits._
    lines.zipWithIndex
      .map { case (cs, i) => (i.toLong, writer.write(gf.createLineString(cs))) }
      .toDF("id", "geom")
  }

  // the reference's SpatialQueryFilter.CompareOperation
  // (SpatialQueryFilter.java:50-80): OVERLAPS is prepared.intersects,
  // CONTAINS is prepared.contains (the stored geometry WITHIN the query)
  test("OVERLAPS truth table [T,T,F,F] (SpatialQueryTest.testOverlaps)") {
    val got = df.select(col("id"),
        GeoFunctions.st_geom_relate(col("geom"), writer.write(queryPoly), RelateOp.Intersects).as("hit"))
      .orderBy("id").collect().map(_.getBoolean(1))
    assert(got.sameElements(Array(true, true, false, false)))
  }

  test("CONTAINS truth table [F,T,F,F] (SpatialQueryTest.testContains)") {
    val got = df.select(col("id"),
        GeoFunctions.st_geom_relate(col("geom"), writer.write(queryPoly), RelateOp.Within).as("hit"))
      .orderBy("id").collect().map(_.getBoolean(1))
    assert(got.sameElements(Array(false, true, false, false)))
  }

  test("query round trip: box query polygon (24,33)-(28,31) finds points inside") {
    // the first SpatialQueryTest polygon, as an end-to-end box query
    val poly = gf.createPolygon(Array(
      new Coordinate(24, 33), new Coordinate(28, 33), new Coordinate(28, 31),
      new Coordinate(24, 31), new Coordinate(24, 33)))
    import spark.implicits._
    val pts = Seq((1L, 26.0, 32.0), (2L, 23.0, 32.0), (3L, 26.0, 34.0))
      .toDF("doc_id", "lon", "lat")
    val got = Ops.spatialGeometryQuery(pts, poly).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L))
  }

  test("CoordinateCircleDistanceFnTest golden vectors: WGS84 Vincenty meters") {
    import graft.spark.GeoCodec.vincentyMeters
    // CoordinateCircleDistanceFnTest.java:21-65 (Coordinate is (lon, lat))
    val d1 = vincentyMeters(90, 0, 89, 0)
    val d2 = vincentyMeters(89, 0, 90, 0)
    assert(math.abs(d1 - d2) < 1e-7, "symmetry")
    // the reference's literal: one equatorial degree on the ellipsoid.
    // (their tolerance is 1e-5 against GeoTools' Vincenty variant; ours
    // agrees to under a millimeter — haversine would be ~125 m off)
    assert(math.abs(d1 - 111319.49079322655) < 1e-3, s"got $d1")
    assert(vincentyMeters(10.000000001, 89.00000010, 10.000000002, 89.00000001) < 0.04)
    assert(vincentyMeters(-179.9999999, 0.00001, 179.9999999, 0.00001) < 0.03,
      "dateline-adjacent points must measure through the antimeridian")
    assert(vincentyMeters(12.5, 41.9, 12.5, 41.9) == 0.0, "coincident")
    // the codegen'd column expression and SQL name agree with the static call
    import graft.spark.GeoFunctions.st_distance_vincenty
    import spark.implicits._
    val row = Seq((90.0, 0.0, 89.0, 0.0)).toDF("a", "b", "c", "d")
      .select(st_distance_vincenty(col("a"), col("b"), col("c"), col("d")))
      .collect()(0).getDouble(0)
    assert(row == d1)
    GeoFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT st_distance_vincenty(90.0D, 0.0D, 89.0D, 0.0D)").collect()(0).getDouble(0)
    assert(viaSql == d1)
  }

  test("CoordinateCosineDistanceFn: 3D cosine similarity, quirk and all") {
    import graft.spark.GeoFunctions.st_coord_cosine
    import spark.implicits._
    val rows = Seq(
      (1.0, 0.0, 0.0, 1.0, 0.0, 0.0),  // identical -> 1
      (1.0, 0.0, 0.0, 0.0, 1.0, 0.0),  // orthogonal -> 0
      (1.0, 2.0, 3.0, -1.0, -2.0, -3.0)) // opposite -> -1
      .toDF("x1", "y1", "z1", "x2", "y2", "z2")
    val got = rows.select(st_coord_cosine(col("x1"), col("y1"), col("z1"),
      col("x2"), col("y2"), col("z2")).as("c")).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
    // the reference returns the SIMILARITY (1 for identical vectors),
    // not a distance (0 for identical) — ported verbatim
    // zero-norm vectors: Java computes 0/0 = NaN; the ported column must
    // reproduce that (not throw under ANSI, not yield NULL without)
    val nan = Seq((0.0, 0.0, 0.0, 1.0, 2.0, 3.0))
      .toDF("x1", "y1", "z1", "x2", "y2", "z2")
      .select(st_coord_cosine(col("x1"), col("y1"), col("z1"),
        col("x2"), col("y2"), col("z2"))).collect()(0).getDouble(0)
    assert(nan.isNaN)
  }
}
