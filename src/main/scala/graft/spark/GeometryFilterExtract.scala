package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Geometry, GeometryFactory}

/**
 * Geometry-constraint extraction from a boolean spatial filter tree — the
 * port of the reference's remaining ExtractGeometryFilterVisitor arms
 * (extensions/adapters/vector/.../plugin/ExtractGeometryFilterVisitor
 * .java:57-555), completing the visitor table next to the DWITHIN/BBOX/
 * Intersects/Contains arms rounds 2–4 ported:
 *
 *  - CONSTRAIN ops — Intersects, Overlaps, Crosses, Touches, Within,
 *    Contains, Equals (visit(...):245-425) — extract their literal
 *    geometry: every qualifying row meets the literal, so the literal's
 *    decomposed cell ranges are a sound prefilter on an envelope-keyed
 *    (duplicated) store.
 *  - REFUSE ops — Disjoint ("a hole in the Cartesian plane", :299-306),
 *    Beyond (:230-236), Not (:241-254: !finite is unbounded) and every
 *    non-spatial predicate — return infinity (None here): the query still
 *    answers EXACTLY via the fine filter, just unpruned.
 *  - AND intersects finite children, infinite children are neutral
 *    (visit(And):206-228). OR unions finite children; all-infinite →
 *    infinity (visit(Or):256-276).
 *
 * Faithful-port note, pinned by GeometryFilterExtractSpec: the reference's
 * OR arm SKIPS infinite children, so `or(finite, non-spatial)` extracts
 * the finite geometry — as a prefilter that would DROP rows matching only
 * the non-spatial branch. [[extract]] ports that behavior verbatim for
 * parity; the planner entry ([[GeometryQuery.query]]) uses
 * [[extractSound]], which differs in exactly that arm (any unconstrained
 * OR child refuses the whole OR), so served answers are always exact.
 */
object GeometryFilterExtract {

  // ---------------- the visitable AST (row geometry vs literal) ----------------

  sealed trait Node
  final case class Intersects(g: Geometry) extends Node
  final case class Overlaps(g: Geometry) extends Node
  final case class Crosses(g: Geometry) extends Node
  final case class Touches(g: Geometry) extends Node
  final case class Within(g: Geometry) extends Node
  final case class Contains(g: Geometry) extends Node
  final case class GEquals(g: Geometry) extends Node
  final case class BBox(lonMin: Double, lonMax: Double,
                        latMin: Double, latMax: Double) extends Node
  /** planar-degree distance family (the degrees twin of the reference's
    * geodesic DWITHIN arm, which q87/GeodesySpec port separately). */
  final case class DWithinDeg(g: Geometry, d: Double) extends Node
  final case class Beyond(g: Geometry, d: Double) extends Node
  final case class Disjoint(g: Geometry) extends Node
  final case class And(children: List[Node]) extends Node
  final case class Or(children: List[Node]) extends Node
  final case class Not(child: Node) extends Node
  /** LIKE, IS NULL, property comparisons, INCLUDE, … — no spatial bound. */
  case object NonSpatial extends Node

  private val gf = new GeometryFactory()
  private def boxGeom(b: BBox): Geometry = gf.toGeometry(
    new org.locationtech.jts.geom.Envelope(b.lonMin, b.lonMax, b.latMin, b.latMax))

  /** faithful port — None models GeometryUtils.infinity(). */
  def extract(n: Node): Option[Geometry] = n match {
    case Intersects(g) => Some(g)
    case Overlaps(g)   => Some(g)
    case Crosses(g)    => Some(g)
    case Touches(g)    => Some(g)
    case Within(g)     => Some(g)
    case Contains(g)   => Some(g)
    case GEquals(g)    => Some(g)
    case b: BBox       => Some(boxGeom(b))
    case DWithinDeg(g, d) => Some(g.buffer(d))
    case _: Beyond     => None
    case _: Disjoint   => None
    case Not(_)        => None
    case NonSpatial    => None
    case And(cs) =>
      cs.map(extract).foldLeft(Option.empty[Geometry]) {
        case (None, g)          => g // infinite mixed adopts the first finite child
        case (acc, None)        => acc // infinite child is neutral
        case (Some(a), Some(b)) => Some(a.intersection(b))
      }
    case Or(cs) =>
      val finite = cs.flatMap(extract)
      // the reference SKIPS infinite children; empty union → infinity
      val mixed = finite.foldLeft(gf.toGeometry(new org.locationtech.jts.geom.Envelope())) {
        (acc, g) => acc.union(g)
      }
      if (mixed.isEmpty) None else Some(mixed)
  }

  /** sound variant for the planner: identical except OR, where ANY
    * unconstrained child refuses the whole disjunction. */
  def extractSound(n: Node): Option[Geometry] = n match {
    case And(cs) =>
      cs.map(extractSound).foldLeft(Option.empty[Geometry]) {
        case (None, g)          => g
        case (acc, None)        => acc
        case (Some(a), Some(b)) => Some(a.intersection(b))
      }
    case Or(cs) =>
      val parts = cs.map(extractSound)
      if (parts.isEmpty || parts.exists(_.isEmpty)) None
      else Some(parts.flatten.reduce(_.union(_)))
    case other => extract(other)
  }

  // ---------------- exact residual evaluation over a WKB column ----------------

  private def wkbOf(g: Geometry): Array[Byte] =
    new org.locationtech.jts.io.WKBWriter(2).write(g)

  /** Column predicate evaluating the node EXACTLY over a WKB geometry
    * column — the fine filter that keeps refused ops correct. */
  def predicate(n: Node, wkb: Column): Column = n match {
    case Intersects(g) => GeoFunctions.st_geom_relate(wkb, wkbOf(g), RelateOp.Intersects)
    case Overlaps(g)   => GeoFunctions.st_geom_relate(wkb, wkbOf(g), RelateOp.Overlaps)
    case Crosses(g)    => GeoFunctions.st_geom_relate(wkb, wkbOf(g), RelateOp.Crosses)
    case Touches(g)    => GeoFunctions.st_geom_relate(wkb, wkbOf(g), RelateOp.Touches)
    case Within(g)     => GeoFunctions.st_geom_relate(wkb, wkbOf(g), RelateOp.Within)
    case Contains(g)   => GeoFunctions.st_geom_relate(wkb, wkbOf(g), RelateOp.Contains)
    case GEquals(g)    => GeoFunctions.st_geom_relate(wkb, wkbOf(g), RelateOp.GEquals)
    case b: BBox       => GeoFunctions.st_geom_relate(wkb, wkbOf(boxGeom(b)), RelateOp.Intersects)
    case DWithinDeg(g, d) => GeoFunctions.st_geom_distance(wkb, lit(wkbOf(g))) <= d
    case Beyond(g, d)  => GeoFunctions.st_geom_distance(wkb, lit(wkbOf(g))) > d
    case Disjoint(g)   => GeoFunctions.st_geom_relate(wkb, wkbOf(g), RelateOp.Disjoint)
    case And(cs)       => cs.map(predicate(_, wkb)).reduceOption(_ && _).getOrElse(lit(true))
    case Or(cs)        => cs.map(predicate(_, wkb)).reduceOption(_ || _).getOrElse(lit(false))
    case Not(c)        => !predicate(c, wkb)
    case NonSpatial    =>
      throw new IllegalArgumentException(
        "NonSpatial nodes carry no predicate; substitute the real column filter")
  }
}

/**
 * CQL-filter → optimal-query driver over an envelope-keyed geometry store:
 * the spatial twin of TemporalQuery/PropertyQuery. Extraction SOUNDLY
 * constrains → the literal geometry's decomposed cell ranges prefilter the
 * scan; refused shapes (Disjoint/Beyond/Not/OR-with-unconstrained) fall
 * back to a full scan — both answer exactly through the relate fine
 * filter (the reference's CQLQuery keeps the whole CQL as fine filter the
 * same way, CQLQuery.java:63-240).
 */
object GeometryQuery {
  import GeometryFilterExtract._

  /** envelope-keyed store of WKB geometries: one row per tiered insertion
    * id of the geometry's envelope (duplicates flagged for the dedupe). */
  def encodeGeometries(geoms: DataFrame, idCol: String, wkbCol: String): DataFrame = {
    val env = GeoFunctions.st_envelope(col(wkbCol))
    val cells = Tiling.gw_cell_ids_envelope(
      env.getItem(0), env.getItem(1), env.getItem(2), env.getItem(3))
    geoms
      .withColumn("cells", cells)
      .withColumn("num_duplicates", size(col("cells")) - 1)
      .withColumn("cell_id", explode(col("cells")))
      .drop("cells")
  }

  /** returns (constrained?, exact result). */
  def query(store: DataFrame, idCol: String, wkbCol: String,
            filter: Node): (Boolean, DataFrame) = {
    val fine = predicate(filter, col(wkbCol))
    extractSound(filter) match {
      case Some(g) if !g.isEmpty =>
        // pointOnly = false: the store keys non-point envelopes in the
        // higher (duplicating) tiers, so the ranges must span ALL tiers
        val ranges = SpatialPlanner.mergeRanges(
          SpatialPlanner.spatialGeometryRanges(g, pointOnly = false))
        val hits = store
          .where(SpatialPlanner.rangesPredicate(col("cell_id"), ranges))
          .where(fine)
        (true, hits.drop("cell_id").dropDuplicates(idCol))
      case Some(_) => // empty constraint geometry: nothing can match
        (true, store.where(lit(false)).drop("cell_id").dropDuplicates(idCol))
      case None =>
        (false, store.where(fine).drop("cell_id").dropDuplicates(idCol))
    }
  }
}
