package graft.spark

import scala.collection.mutable
import org.locationtech.jts.algorithm.Distance
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, Polygon}

/**
 * Park & Oh edge-digging concave hull ("A New Concave Hull Algorithm and
 * Concaveness Measure for n-dimensional Datasets", Park & Oh 2010) with
 * the reference's exact semantics (GeometryHullTool.concaveHullParkOhMethod,
 * analytics/api/.../GeometryHullTool.java:268-379):
 *
 * start from the convex hull ring; repeatedly take the LONGEST remaining
 * hull edge and find the inner point with the smallest perpendicular
 * "decision distance" (projection must fall within the segment); skip the
 * dig when that point is closer to some other live edge (the reference's
 * fix to Park & Oh's neighbor-only check, :326-334); dig — replace the
 * edge by two edges through the point — only when edgeLength/min(side)
 * exceeds the concaveness threshold N and neither new edge crosses the
 * rest of the ring. Every input point ends on or inside the hull.
 */
object Hulls {

  private final class Edge(val start: Coordinate, val end: Coordinate,
                           val length: Double, val seq: Int) {
    var next: Edge = _
    var last: Edge = _
    def connectLast(l: Edge): Unit = { last = l; l.next = this }
  }

  /** (projection parameter t along a→b, distance of p to the segment) —
    * GeometryHullTool.calcDistanceSegment:865-900. */
  private def distanceSegment(a: Coordinate, b: Coordinate, p: Coordinate): (Double, Double) = {
    val e1x = b.x - a.x; val e1y = b.y - a.y
    val e2x = p.x - a.x; val e2y = p.y - a.y
    val lenSq = e1x * e1x + e1y * e1y
    val t = (e2x * e1x + e2y * e1y) / lenSq
    val o =
      if (t < 0.0) p.distance(a)
      else if (t > 1.0) p.distance(b)
      else {
        val dx = p.x - (a.x + t * e1x); val dy = p.y - (a.y + t * e1y)
        math.sqrt(dx * dx + dy * dy)
      }
    (t, o)
  }

  /** decision distance: perpendicular distance when the projection falls
    * inside the segment, −1 otherwise (calcDistance:902-911). */
  private[spark] def calcDistance(a: Coordinate, b: Coordinate, p: Coordinate): Double = {
    val (t, o) = distanceSegment(a, b, p)
    if (t < 0.0 || t > 1.0) -1.0 else o
  }

  private def edgesIntersect(e1: Edge, e2: Edge): Boolean =
    Distance.segmentToSegment(e1.start, e1.end, e2.start, e2.end) <= 0.0

  /** does `newEdge` cross any ring edge other than the replaced one and
    * its immediate neighbors (intersectAnotherEdge:528-542)? */
  private def intersectAnotherEdge(newEdge: Edge, edgeToReplace: Edge): Boolean = {
    var e = edgeToReplace.next.next
    val stop = edgeToReplace.last
    while (e ne stop) {
      if (edgesIntersect(newEdge, e)) return true
      e = e.next
    }
    false
  }

  /** `concaveThreshold` is Park & Oh's N (the reference defaults it to
    * 1.8, GeometryHullTool.java:42). */
  def concaveHullParkOh(coordsIn: Array[Coordinate], gf: GeometryFactory,
                        concaveThreshold: Double): Geometry = {
    val convex = new org.locationtech.jts.algorithm.ConvexHull(coordsIn, gf).getConvexHull
    if (!convex.isInstanceOf[Polygon]) return convex
    val ring = convex.getCoordinates
    val inner = mutable.LinkedHashSet.from(coordsIn)
    // pollLast = longest edge; ties resolved like java.util.TreeSet with a
    // never-0 comparator (earliest-inserted wins the pollLast among equals)
    val edges = mutable.TreeSet.empty[Edge](Ordering.by((e: Edge) => (e.length, -e.seq)))
    var seq = 0
    def mkEdge(s: Coordinate, e: Coordinate): Edge = {
      seq += 1
      val ed = new Edge(s, e, s.distance(e), seq)
      inner -= s; inner -= e
      edges += ed
      ed
    }
    val firstEdge = mkEdge(ring(0), ring(1))
    var prev = firstEdge
    for (i <- 1 until ring.length - 1) {
      val e = mkEdge(ring(i), ring(i + 1))
      e.connectLast(prev)
      prev = e
    }
    firstEdge.connectLast(prev)
    var lastEdge = firstEdge
    while (edges.nonEmpty && inner.nonEmpty) {
      val edge = edges.last
      edges -= edge
      lastEdge = edge
      var score = Double.MaxValue
      var cand: Coordinate = null
      val it = inner.iterator
      var break = false
      while (it.hasNext && !break) {
        val p = it.next()
        val dist = calcDistance(edge.start, edge.end, p)
        if (math.abs(dist) <= 1e-9 && dist >= -1e-9) { // on the edge segment
          score = 0.0; cand = p; break = true
        } else if (dist > 0 && dist < score) {
          score = dist; cand = p
        }
      }
      if (cand != null) {
        if (score == 0.0) {
          inner -= cand // already on the hull; retry the edge
          edges += edge
        } else if (!edges.exists(e => (e ne edge) && {
          val d = calcDistance(e.start, e.end, cand); d >= 0.0 && d < score
        })) {
          inner -= cand
          val sToC = edge.start.distance(cand)
          val eToC = edge.end.distance(cand)
          if (edge.length / math.min(sToC, eToC) > concaveThreshold) {
            val n1 = new Edge(edge.start, cand, sToC, { seq += 1; seq })
            val n2 = new Edge(cand, edge.end, eToC, { seq += 1; seq })
            if (!intersectAnotherEdge(n1, edge) && !intersectAnotherEdge(n2, edge) &&
              !intersectAnotherEdge(n1, edge.last) && !intersectAnotherEdge(n2, edge.next)) {
              edges += n2
              edges += n1
              n1.connectLast(edge.last)
              n2.connectLast(n1)
              edge.next.connectLast(n2)
              lastEdge = n1
            }
          }
        }
      }
    }
    val out = mutable.ArrayBuffer(lastEdge.start)
    var e = lastEdge.next
    while (e ne lastEdge) { out += e.start; e = e.next }
    out += lastEdge.start
    try gf.createPolygon(out.toArray)
    catch {
      // degenerate dig (shouldn't happen with the crossing guards): fall
      // back to the convex hull like createHullFromGeometry's catch (:246)
      case _: Exception => convex
    }
  }
}
