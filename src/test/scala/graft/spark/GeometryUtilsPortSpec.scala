package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}

/**
 * GeometryUtilsTest port (core/geotime/src/test/.../GeometryUtilsTest.java):
 * per-sub-geometry constraint envelopes from a multipolygon.
 */
class GeometryUtilsPortSpec extends AnyFunSuite {

  private val gf = new GeometryFactory()

  test("testConstraintGeneration: multipolygon decomposes to one envelope per member") {
    // (GeometryUtilsTest.java:103-175): [(10,30)-(20,40)] and [(-9,-2)-(-8,-1)]
    val multi = gf.createMultiPolygon(Array[Polygon](
      gf.createPolygon(Array(
        new Coordinate(20.0, 30), new Coordinate(20, 40), new Coordinate(10, 40),
        new Coordinate(10, 30), new Coordinate(20, 30))),
      gf.createPolygon(Array(
        new Coordinate(-9, -2), new Coordinate(-9, -1), new Coordinate(-8, -1),
        new Coordinate(-8, -2), new Coordinate(-9, -2)))))
    val envs = SpatialPlanner.constraintEnvelopes(multi)
    assert(envs.size == 2)
    assert(envs(0).getMinX == 10.0 && envs(0).getMinY == 30.0 &&
      envs(0).getMaxX == 20.0 && envs(0).getMaxY == 40.0)
    assert(envs(1).getMinX == -9.0 && envs(1).getMinY == -2.0 &&
      envs(1).getMaxX == -8.0 && envs(1).getMaxY == -1.0)
    // a single polygon yields exactly its own envelope
    val single = SpatialPlanner.constraintEnvelopes(
      gf.createPolygon(Array(
        new Coordinate(0.0, 0.0), new Coordinate(5.0, 0.0), new Coordinate(5.0, 5.0),
        new Coordinate(0.0, 0.0))))
    assert(single.size == 1 && single.head.getMaxX == 5.0)
  }
}
