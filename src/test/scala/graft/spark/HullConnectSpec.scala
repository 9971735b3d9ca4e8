package graft.spark

import org.locationtech.jts.geom.Coordinate
import org.scalatest.funsuite.AnyFunSuite

/**
 * GeometryHullToolTest.testDistance port (GeometryHullToolTest.java:41-136):
 * the projection-bounded segment distance behind the concave hull's edge
 * dig.
 */
class HullConnectSpec extends AnyFunSuite {

  test("testDistance truth table (calcDistance / calcDistanceSegment)") {
    // Hulls.calcDistance is the concave hull's decision distance: the
    // perpendicular distance when p projects inside a→b, −1 otherwise
    def d(ax: Double, ay: Double, bx: Double, by: Double, px: Double, py: Double): Double =
      Hulls.calcDistance(new Coordinate(ax, ay), new Coordinate(bx, by), new Coordinate(px, py))
    assert(math.abs(d(3, 3, 6, 6, 5, 5.5) - d(3, 3, 6, 6, 5, 4.5)) < 0.0001)
    assert(d(4, 6, 6, 12, 5, 8) > 0)
    assert(math.abs(d(4, 6, 6, 12, 5, 9) - 0.0) < 0.001)
    assert(d(5, 7, 11, 3, 6, 10) < 0)
    assert(d(5, 7, 11, 3, 7, 5.0) < d(5, 7, 11, 3, 7, 6.5))
  }
}
