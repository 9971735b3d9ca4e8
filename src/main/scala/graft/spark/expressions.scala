package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.WKBReader

/**
 * Catalyst expressions for the SFC index codec. All hot-path expressions
 * emit a static call into [[GeoCodec]] from generated code so they stay
 * inside whole-stage codegen (no UDF boxing).
 *
 * These are the Spark-native equivalents of the reference's
 * `IndexStrategy.getInsertionIds` / raster tile assignment
 * (reference: TieredSFCIndexStrategy.java:188-220, RasterDataAdapter.java:454-586).
 */

/** tiered spatial insertion id (tier 31 ‖ 8 sfc bytes) of a point. */
case class CellIdSpatial(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(lon: Any, lat: Any): Any =
    GeoCodec.cellIdSpatial(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) => s"graft.spark.GeoCodec.cellIdSpatial($lon, $lat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** BIASED finest-tier spatial-temporal insertion id (tier max(sb,tb) ‖
  * "YYYY" ‖ sfc bytes over the unequal-precision compact-Hilbert curve) —
  * the reference's SpatialTemporalDimensionalityTypeProvider.Bias key. */
case class CellIdSTBiased(first: Expression, second: Expression, third: Expression,
                          spatialBits: Int, temporalBits: Int)
    extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(lon: Any, lat: Any, tsMicros: Any): Any =
    GeoCodec.cellIdSTBiased(lon.asInstanceOf[Double], lat.asInstanceOf[Double],
      Math.floorDiv(tsMicros.asInstanceOf[Long], 1000L), spatialBits, temporalBits)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, ts) =>
      s"graft.spark.GeoCodec.cellIdSTBiased($lon, $lat, " +
        s"java.lang.Math.floorDiv($ts, 1000L), $spatialBits, $temporalBits)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** tiered spatial-temporal insertion id (tier 20 ‖ "YYYY" ‖ 8 sfc bytes). */
case class CellIdSpatialTemporal(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(lon: Any, lat: Any, tsMicros: Any): Any =
    GeoCodec.cellIdST(lon.asInstanceOf[Double], lat.asInstanceOf[Double],
      Math.floorDiv(tsMicros.asInstanceOf[Long], 1000L))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, ts) =>
      s"graft.spark.GeoCodec.cellIdST($lon, $lat, java.lang.Math.floorDiv($ts, 1000L))")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** single-tier Hilbert tile id (long) of a point at `bits` per dimension. */
case class TileId(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 0 && bits <= 31)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(lon: Any, lat: Any): Any =
    GeoCodec.tileId(lon.asInstanceOf[Double], lat.asInstanceOf[Double], bits)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) => s"graft.spark.GeoCodec.tileId($lon, $lat, $bits)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** per-dimension grid coordinate of a point at `bits` (lon axis). */
case class TileX(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(lon: Any): Any = GeoCodec.bucketLon(lon.asInstanceOf[Double], bits)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, lon => s"graft.spark.GeoCodec.bucketLon($lon, $bits)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** per-dimension grid coordinate of a point at `bits` (lat axis, half-range). */
case class TileY(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(lat: Any): Any = GeoCodec.bucketLat(lat.asInstanceOf[Double], bits)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, lat => s"graft.spark.GeoCodec.bucketLat($lat, $bits)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** tile bounds [lonMin, lonMax, latMin, latMax] of a single-tier tile id
  * (the reference's getRangeForId; drives raster tile envelopes). */
case class TileBounds(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(tile: Any): Any =
    new GenericArrayData(GeoCodec.tileBounds(tile.asInstanceOf[Long], bits))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * True when a stored cell id falls in any of the given key ranges — the scan
 * prefilter produced by range decomposition. Ranges are sorted; binary
 * search per row. Prefix-only ranges (tier+bin full-extent) are padded with
 * 0xff to key length at construction.
 * (reference: AccumuloConstraintsQuery scanner ranges, BaseDataStore.java:240-247)
 */
case class CellInRanges(child: Expression, starts: Array[Array[Byte]], ends: Array[Array[Byte]])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  /** binary search for the last range whose start <= id, then end check;
    * also the codegen entry point (static-shaped instance call keeps the
    * filter stage inside whole-stage codegen). */
  def contains(id: Array[Byte]): Boolean = {
    var lo = 0
    var hi = starts.length - 1
    var found = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (java.util.Arrays.compareUnsigned(starts(mid), id) <= 0) { found = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    found >= 0 && java.util.Arrays.compareUnsigned(id, ends(found)) <= 0
  }

  override def nullSafeEval(cell: Any): Any = contains(cell.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellInRanges", this, classOf[CellInRanges].getName)
    defineCodeGen(ctx, ev, cell => s"$ref.contains($cell)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Exact geometry fine-filter against a broadcast-style constant polygon:
 * prepared-geometry point test. `contains=false` mirrors the reference's
 * OVERLAPS (prepared.intersects), `contains=true` mirrors CONTAINS
 * (reference: core/geotime/.../store/filter/SpatialQueryFilter.java:50-80,284-301).
 */
case class STCoversPoint(left: Expression, right: Expression, wkb: Array[Byte], contains: Boolean)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  @transient private lazy val prepared: PreparedGeometry =
    PreparedGeometryFactory.prepare(new WKBReader().read(wkb))
  @transient private lazy val gf = new GeometryFactory()
  // task-local reusable point (expression instances are deserialized
  // per task, in interpreted AND codegen mode — the codegen references
  // array rides inside the task closure)
  @transient private lazy val pt = gf.createPoint(new Coordinate(0, 0))

  /** codegen entry point: prepared-geometry test with the task-local
    * mutable point. */
  def test(lon: Double, lat: Double): Boolean = {
    val c = pt.getCoordinate
    c.x = lon
    c.y = lat
    pt.geometryChanged()
    if (contains) prepared.contains(pt) else prepared.intersects(pt)
  }

  override def nullSafeEval(lon: Any, lat: Any): Any =
    test(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stCoversPoint", this, classOf[STCoversPoint].getName)
    defineCodeGen(ctx, ev, (lon, lat) => s"$ref.test($lon, $lat)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 2-D WKB point constructor (matches the reference's JTS 2-D WKB encoding,
  * core/geotime/GeometryUtils.java:249-261). */
case class STPointWkb(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  @transient private lazy val gf = new GeometryFactory()
  @transient private lazy val writer = new org.locationtech.jts.io.WKBWriter(2)
  override def nullSafeEval(lon: Any, lat: Any): Any =
    writer.write(gf.createPoint(new Coordinate(lon.asInstanceOf[Double], lat.asInstanceOf[Double])))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Spatial relate op of [[STGeomRelate]], with the ROW geometry as the
  * CQL predicate's expression1 and the prepared QUERY geometry `q`. */
sealed abstract class RelateOp(val holds: (PreparedGeometry, Geometry) => Boolean)
object RelateOp {
  case object Intersects extends RelateOp((q, g) => q.intersects(g))
  case object Within extends RelateOp((q, g) => q.contains(g)) // row within query
  case object Contains extends RelateOp((q, g) => q.within(g)) // row contains query
  case object Crosses extends RelateOp((q, g) => q.crosses(g))
  case object Touches extends RelateOp((q, g) => q.touches(g))
  case object Overlaps extends RelateOp((q, g) => q.overlaps(g))
  case object Disjoint extends RelateOp((q, g) => q.disjoint(g))
  case object GEquals extends RelateOp((q, g) => q.getGeometry.equalsTopo(g))
}

/**
 * General spatial relate of a stored WKB geometry against a constant query
 * geometry — the fine-filter arm for every ExtractGeometryFilterVisitor op
 * (ExtractGeometryFilterVisitor.java:57-555), resolved to its [[RelateOp]]
 * once, not per row.
 */
case class STGeomRelate(child: Expression, wkb: Array[Byte], op: RelateOp)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  @transient private lazy val prepared: PreparedGeometry =
    PreparedGeometryFactory.prepare(new WKBReader().read(wkb))
  // task-local (see STCoversPoint)
  @transient private lazy val reader = new WKBReader()

  /** codegen entry point. */
  def test(geomWkb: Array[Byte]): Boolean = op.holds(prepared, reader.read(geomWkb))

  override def nullSafeEval(geomWkb: Any): Any = test(geomWkb.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stGeomRelate", this, classOf[STGeomRelate].getName)
    defineCodeGen(ctx, ev, g => s"$ref.test($g)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 2-D WKB multipoint constructor from parallel lon/lat arrays —
  * deterministic fixture-geometry builder for the geometry-input
  * operators (same JTS 2-D WKB encoding as [[STPointWkb]]). */
case class STMultiPointWkb(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  @transient private lazy val gf = new GeometryFactory()
  @transient private lazy val writer = new org.locationtech.jts.io.WKBWriter(2)
  override def nullSafeEval(lons: Any, lats: Any): Any = {
    val xs = lons.asInstanceOf[ArrayData]
    val ys = lats.asInstanceOf[ArrayData]
    val coords = Array.tabulate(xs.numElements())(i =>
      new Coordinate(xs.getDouble(i), ys.getDouble(i)))
    writer.write(gf.createMultiPointFromCoords(coords))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Planar closest-two-points distance between two stored WKB geometries:
  * JTS DistanceOp picks the nearest coordinate pair, the distance is then
  * recomputed as sqrt(dx²+dy²) over that pair — the exact shape of the
  * reference's ClusterItemDistanceFn.measure (DistanceOp.nearestPoints +
  * a pluggable coordinate metric, ClusterItemDistanceFn.java:58-77; the
  * reference plugs geodesic meters, this degree-family twin plugs the
  * planar metric the point DBSCAN/distance-join family already uses). */
case class STGeomDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // task-local: expression instances are deserialized per task (codegen
  // references array rides inside the task closure — see STCoversPoint)
  @transient private lazy val reader = new WKBReader()

  /** codegen entry point. */
  def dist(a: Array[Byte], b: Array[Byte]): Double = {
    val op = new org.locationtech.jts.operation.distance.DistanceOp(
      reader.read(a), reader.read(b))
    val pts = op.nearestPoints()
    val dx = pts(0).x - pts(1).x
    val dy = pts(0).y - pts(1).y
    math.sqrt(dx * dx + dy * dy)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    dist(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stGeomDistance", this, classOf[STGeomDistance].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.dist($a, $b)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** GMT calendar-unit time bin id ("YYYY", "YYYY_MM" with 0-based month —
  * java.util.Calendar semantics, matching the reference's
  * TemporalBinningStrategy.getBinId, TemporalBinningStrategy.java:258-288).
  * Input is a timestamp in microseconds (Spark internal). */
case class TimeBinId(child: Expression, unit: graft.index.TimeUnits.Value)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  @transient private lazy val binning = graft.index.TemporalBinning(unit)
  override def nullSafeEval(tsMicros: Any): Any = {
    val millis = Math.floorDiv(tsMicros.asInstanceOf[Long], 1000L)
    UTF8String.fromBytes(binning.binnedValue(millis)._1)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** envelope [minX, maxX, minY, maxY] of a WKB geometry
  * (reference: GeometryUtils envelope constraints, GeometryUtils.java:82-145). */
case class STEnvelope(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  @transient private lazy val reader = new WKBReader()
  override def nullSafeEval(wkb: Any): Any = {
    val e = reader.read(wkb.asInstanceOf[Array[Byte]]).getEnvelopeInternal
    new GenericArrayData(Array(e.getMinX, e.getMaxX, e.getMinY, e.getMaxY))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** integer dot product of two array<bigint> columns (codegen'd static
  * call — the embedding-similarity hot loop). */
case class DotLongArrays(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    GeoCodec.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.spark.GeoCodec.dotLong($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ellipsoidal geodesic meters between two lon/lat points — Vincenty's
  * inverse formula on WGS84 as a codegen'd static call; the semantics of
  * the reference's default analytic distance function
  * (CoordinateCircleDistanceFn.java:36-69, golden-tested against
  * CoordinateCircleDistanceFnTest). */
case class VincentyMeters(first: Expression, second: Expression,
                          third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoCodec.vincentyMeters(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.spark.GeoCodec.vincentyMeters($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(f, s, t, q)
}

/** deterministic random-hyperplane LSH signature of an array<bigint>
  * embedding (codegen'd static call — the q20 bucket-key hot loop). */
case class HyperplaneSig(child: Expression, dims: Int, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GeoCodec.hyperplaneSig(v.asInstanceOf[ArrayData], dims, bits)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.spark.GeoCodec.hyperplaneSig($v, $dims, $bits)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** geohash cell id of a point (base-32 string; codegen'd static call). */
case class GeohashId(left: Expression, right: Expression, precision: Int)
    extends BinaryExpression {
  require(precision >= 1 && precision <= 12)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(lon: Any, lat: Any): Any =
    GeoCodec.geohash(lon.asInstanceOf[Double], lat.asInstanceOf[Double], precision)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) => s"graft.spark.GeoCodec.geohash($lon, $lat, $precision)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** portable fold hash of a string (codegen'd single loop — replaces the
  * eval-mode aggregate/transform/split column chain in the text ops). */
case class PortableHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(s: Any): Any =
    GeoCodec.portableHash(s.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.spark.GeoCodec.portableHash($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Split id of a stored key: binary search over the histogram-equalized
 * split ranges (sorted by start; `ids(i)` is the value emitted for range
 * i — the planned rank, or a hash-steering pre-image). −1 when the key
 * falls in no planned range. A key equal to a bisection cut lands in the
 * RIGHT split (the cut is the right range's inclusive start and sorts
 * later), matching the reference's exclusive-end / inclusive-start
 * handoff (IntermediateSplitInfo.java:76-94).
 */
case class RangeSplitId(child: Expression, starts: Array[Array[Byte]],
                        ends: Array[Array[Byte]], ids: Array[Int])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  def splitId(key: Array[Byte]): Int = {
    var lo = 0
    var hi = starts.length - 1
    var found = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (java.util.Arrays.compareUnsigned(starts(mid), key) <= 0) { found = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (found >= 0 && java.util.Arrays.compareUnsigned(key, ends(found)) <= 0) ids(found)
    else -1
  }

  override def nullSafeEval(key: Any): Any = splitId(key.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rangeSplitId", this, classOf[RangeSplitId].getName)
    defineCodeGen(ctx, ev, key => s"$ref.splitId($key)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** portable fold hash over a BINARY column (codegen'd single loop) — the
  * media-payload checksum; equals [[PortableHash]] on ASCII payloads. */
case class PortableHashBytes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(b: Any): Any =
    GeoCodec.portableHashBytes(b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.spark.GeoCodec.portableHashBytes($b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** all k-gram fold hashes of a string in one codegen'd pass (the
  * fingerprint primitive; ASCII fixture contract like the oracle twin). */
case class KgramHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(s: Any): Any =
    GeoCodec.kgramHashes(s.asInstanceOf[UTF8String], k)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.spark.GeoCodec.kgramHashes($s, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** all character n-grams (n in [minN, maxN]) of a string in one codegen'd
  * pass — the posting keys of the stored text index (reference:
  * TextIndexStrategy.java:21-130 NGramTokenizer). */
case class CharGrams(child: Expression, minN: Int, maxN: Int) extends UnaryExpression {
  require(minN >= 1 && maxN >= minN)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(s: Any): Any =
    GeoCodec.charGrams(s.asInstanceOf[UTF8String], minN, maxN)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.spark.GeoCodec.charGrams($s, $minN, $maxN)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** a doc's sorted, distinct shingle set from its texts (codegen'd static call). */
case class ShingleSet(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(texts: Any): Any = GeoCodec.shingleSet(texts.asInstanceOf[ArrayData], n)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.spark.GeoCodec.shingleSet($t, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** |a ∩ b| of two ShingleSet arrays by sorted merge (codegen'd static call). */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    GeoCodec.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.spark.GeoCodec.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** MinHash LSH band keys of a ShingleSet array (codegen'd static call). */
case class MinhashBands(child: Expression, bands: Int, rowsPerBand: Int) extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(sh: Any): Any =
    GeoCodec.minhashBands(sh.asInstanceOf[ArrayData], bands, rowsPerBand)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, sh => s"graft.spark.GeoCodec.minhashBands($sh, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Map-side Lloyd assignment: nearest centroid of a point against a
 * broadcast-style constant centroid list, as ONE codegen'd loop — the
 * reference's KMeansMapReduce mapper argmin (analytics/mapreduce/.../kmeans/
 * KMeansMapReduce.java:62-308: each mapper scores a point against all
 * centroids and emits only the winner, so nothing but k-sized aggregates
 * ever crosses the wire). Returns struct(cid, d2). Ties break to the
 * LOWEST centroid id (inputs are sorted by cid; strict `<` keeps the
 * first winner), matching `ORDER BY d2, cid` with `rn = 1`.
 */
case class NearestCentroid2D(left: Expression, right: Expression,
                             cids: Array[Long], clons: Array[Double], clats: Array[Double])
    extends BinaryExpression {
  require(cids.nonEmpty && cids.length == clons.length && cids.length == clats.length)
  require(cids.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "centroids must be sorted by cid (strictly ascending) for deterministic tie-breaks")
  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true

  /** codegen entry point: single primitive-array loop, zero allocation
    * beyond the 2-field result row. */
  def nearest(lon: Double, lat: Double): InternalRow = {
    var bestD2 = Double.PositiveInfinity
    var bestCid = 0L
    var i = 0
    while (i < cids.length) {
      val dx = lon - clons(i)
      val dy = lat - clats(i)
      val d2 = dx * dx + dy * dy
      if (d2 < bestD2) { bestD2 = d2; bestCid = cids(i) }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestCid, bestD2))
  }

  override def nullSafeEval(lon: Any, lat: Any): Any =
    nearest(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid2d", this, classOf[NearestCentroid2D].getName)
    defineCodeGen(ctx, ev, (lon, lat) => s"$ref.nearest($lon, $lat)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[NearestCentroid2D]] constrained to the point's OWN parent's centroids
  * — the grouped Lloyd assignment of multi-level clustering (reference:
  * GroupAssignmentMapReduce ZOOM_LEVEL regrouping). `parents(i)` groups
  * the parallel centroid arrays; per-parent runs are sorted by cid so the
  * strict-`<` tie-break stays lowest-cid. Returns just the winning cid
  * (the grouped stats aggregate needs nothing else). */
case class NearestCentroidGrouped2D(first: Expression, second: Expression, third: Expression,
                                    parents: Array[Long], cids: Array[Long],
                                    clons: Array[Double], clats: Array[Double])
    extends TernaryExpression {
  require(cids.nonEmpty && cids.length == parents.length &&
    cids.length == clons.length && cids.length == clats.length)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  // per-parent slice offsets, built once per task from the sorted arrays
  @transient private lazy val sliceOf: java.util.HashMap[Long, (Int, Int)] = {
    val m = new java.util.HashMap[Long, (Int, Int)]()
    var i = 0
    while (i < parents.length) {
      var j = i
      while (j < parents.length && parents(j) == parents(i)) j += 1
      m.put(parents(i), (i, j))
      i = j
    }
    m
  }

  /** codegen entry point. A parent with no centroids cannot occur in the
    * grouped-Lloyd flow (children are initialized from the parent's own
    * members); −1 is returned defensively rather than throwing mid-task. */
  def nearest(parent: Long, lon: Double, lat: Double): Long = {
    val slice = sliceOf.get(parent)
    if (slice == null) return -1L
    var bestD2 = Double.PositiveInfinity
    var bestCid = -1L
    var i = slice._1
    while (i < slice._2) {
      val dx = lon - clons(i)
      val dy = lat - clats(i)
      val d2 = dx * dx + dy * dy
      if (d2 < bestD2) { bestD2 = d2; bestCid = cids(i) }
      i += 1
    }
    bestCid
  }

  override def nullSafeEval(parent: Any, lon: Any, lat: Any): Any =
    nearest(parent.asInstanceOf[Long], lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroidGrouped2d", this,
      classOf[NearestCentroidGrouped2D].getName)
    defineCodeGen(ctx, ev, (p, lon, lat) => s"$ref.nearest($p, $lon, $lat)")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** nearest centroid of a QUANTIZED EMBEDDING (array<bigint>) by exact
  * integer L2 — the d-dimensional [[NearestCentroid2D]] used by the IVF
  * coarse-quantizer trainer. Minimizes |c|² − 2·v·c (the row's own |v|² is
  * constant under argmin); centroids sorted by cid, strict `<` tie-break. */
case class NearestCentroidVec(child: Expression,
                              cids: Array[Long], cvs: Array[Array[Long]])
    extends UnaryExpression {
  require(cids.nonEmpty && cids.length == cvs.length)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  @transient private lazy val cn2s: Array[Long] =
    cvs.map(cv => { var s = 0L; var i = 0; while (i < cv.length) { s += cv(i) * cv(i); i += 1 }; s })

  /** codegen entry point. */
  def nearest(v: ArrayData): Long = {
    var best = Long.MaxValue
    var bestCid = -1L
    var c = 0
    while (c < cvs.length) {
      val cv = cvs(c)
      var dot = 0L
      var i = 0
      while (i < cv.length) { dot += v.getLong(i) * cv(i); i += 1 }
      val score = cn2s(c) - 2L * dot
      if (score < best) { best = score; bestCid = cids(c) }
      c += 1
    }
    bestCid
  }

  override def nullSafeEval(v: Any): Any =
    nearest(v.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroidVec", this, classOf[NearestCentroidVec].getName)
    defineCodeGen(ctx, ev, v => s"$ref.nearest($v)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column wrappers. */
object GeoFunctions {
  import org.apache.spark.sql.GraftBridge.{column, expression}

  def gw_cell_id(lon: Column, lat: Column): Column =
    column(CellIdSpatial(expression(lon), expression(lat)))
  def gw_cell_id_st(lon: Column, lat: Column, ts: Column): Column =
    column(CellIdSpatialTemporal(expression(lon), expression(lat), expression(ts)))
  def gw_cell_id_st_biased(lon: Column, lat: Column, ts: Column, bias: String): Column = {
    val (sb, tb) = graft.index.TieredStrategy.biasBits(bias)
    column(CellIdSTBiased(expression(lon), expression(lat), expression(ts), sb, tb))
  }
  def gw_tile_id(lon: Column, lat: Column, bits: Int): Column =
    column(TileId(expression(lon), expression(lat), bits))
  def gw_tile_x(lon: Column, bits: Int): Column = column(TileX(expression(lon), bits))
  def gw_tile_y(lat: Column, bits: Int): Column = column(TileY(expression(lat), bits))
  def gw_cell_in_ranges(cell: Column, starts: Array[Array[Byte]], ends: Array[Array[Byte]]): Column =
    column(CellInRanges(expression(cell), starts, ends))
  def st_covers_point(lon: Column, lat: Column, wkb: Array[Byte], contains: Boolean = false): Column =
    column(STCoversPoint(expression(lon), expression(lat), wkb, contains))
  def st_multipoint_wkb(lons: Column, lats: Column): Column =
    column(STMultiPointWkb(expression(lons), expression(lats)))
  def st_geom_distance(a: Column, b: Column): Column =
    column(STGeomDistance(expression(a), expression(b)))
  def dot_long(a: Column, b: Column): Column =
    column(DotLongArrays(expression(a), expression(b)))
  def st_envelope(wkb: Column): Column = column(STEnvelope(expression(wkb)))
  def st_geom_relate(geomWkb: Column, queryWkb: Array[Byte], op: RelateOp): Column =
    column(STGeomRelate(expression(geomWkb), queryWkb, op))
  def gw_time_bin(ts: Column, unit: graft.index.TimeUnits.Value = graft.index.TimeUnits.Year): Column =
    column(TimeBinId(expression(ts), unit))
  def gw_geohash(lon: Column, lat: Column, precision: Int): Column =
    column(GeohashId(expression(lon), expression(lat), precision))

  /** struct(cid, d2) of the nearest centroid (ties → lowest cid). Sorts
    * the centroid list here so every call site gets the deterministic
    * tie-break [[NearestCentroid2D]] requires. */
  def gw_nearest_centroid(lon: Column, lat: Column,
                          centroids: Seq[(Long, Double, Double)]): Column = {
    val sorted = centroids.sortBy(_._1)
    column(NearestCentroid2D(expression(lon), expression(lat),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray, sorted.map(_._3).toArray))
  }

  /** nearest-cid within the row's own parent group (multi-level Lloyd). */
  def gw_nearest_centroid_grouped(parent: Column, lon: Column, lat: Column,
                                  centroids: Seq[(Long, Long, Double, Double)]): Column = {
    val sorted = centroids.sortBy(t => (t._1, t._2))
    column(NearestCentroidGrouped2D(expression(parent), expression(lon), expression(lat),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      sorted.map(_._3).toArray, sorted.map(_._4).toArray))
  }

  /** nearest-cid of a quantized embedding by exact integer L2. */
  def gw_nearest_centroid_vec(v: Column, centroids: Seq[(Long, Array[Long])]): Column = {
    val sorted = centroids.sortBy(_._1)
    column(NearestCentroidVec(expression(v), sorted.map(_._1).toArray, sorted.map(_._2).toArray))
  }

  /** great-circle distance in meters (haversine, sphere R=6371008.8) —
    * pure built-in column arithmetic, so it stays in whole-stage codegen
    * (reference: CoordinateCircleDistanceFn geodetic meters). */
  def st_distance_haversine(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    import org.apache.spark.sql.functions._
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = sin(dLat) * sin(dLat) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon) * sin(dLon)
    lit(2.0 * 6371008.8) * asin(sqrt(a))
  }

  /** ellipsoidal geodesic meters (Vincenty on WGS84, codegen'd) — the
    * reference's CoordinateCircleDistanceFn metric. Haversine stays the
    * join default (monotone, ~0.3% spherical error); use this where the
    * reference's exact analytic meters matter. */
  def st_distance_vincenty(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    column(VincentyMeters(expression(lon1), expression(lat1),
      expression(lon2), expression(lat2)))

  /** the reference's CoordinateCosineDistanceFn, verbatim quirk included:
    * despite the Distance name it returns the cosine SIMILARITY of the
    * two 3D coordinate vectors (CoordinateCosineDistanceFn.java:14-34).
    * Pure column arithmetic — stays in whole-stage codegen. */
  def st_coord_cosine(x1: Column, y1: Column, z1: Column,
                      x2: Column, y2: Column, z2: Column): Column = {
    import org.apache.spark.sql.functions.{lit, sqrt, when}
    val ab = x1 * x2 + y1 * y2 + z1 * z2
    val na = sqrt(x1 * x1 + y1 * y1 + z1 * z1)
    val nb = sqrt(x2 * x2 + y2 * y2 + z2 * z2)
    // Spark's ANSI division by zero throws (and non-ANSI yields NULL);
    // branch to keep Java's IEEE semantics exactly: 0/0 = NaN for a
    // zero-norm vector, ±Infinity when squared components underflow to
    // a zero denominator while the dot product stays nonzero. The
    // division only evaluates when the denominator is nonzero.
    when(na * nb === 0.0,
      when(ab === 0.0, lit(Double.NaN))
        .when(ab > 0.0, lit(Double.PositiveInfinity))
        .otherwise(lit(Double.NegativeInfinity)))
      .otherwise(ab / (na * nb))
  }

  /** register SQL-callable names on a session (bits/unit arguments must be
    * foldable literals). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def intLit(e: Expression): Int =
      e.eval(InternalRow.empty).asInstanceOf[Number].intValue()
    reg.createOrReplaceTempFunction("gw_cell_id",
      es => CellIdSpatial(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("gw_cell_id_st",
      es => CellIdSpatialTemporal(es.head, es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("gw_tile_x",
      es => TileX(es.head, intLit(es(1))), "scala_udf")
    reg.createOrReplaceTempFunction("gw_tile_y",
      es => TileY(es.head, intLit(es(1))), "scala_udf")
    reg.createOrReplaceTempFunction("gw_tile_id",
      es => TileId(es.head, es(1), intLit(es(2))), "scala_udf")
    reg.createOrReplaceTempFunction("gw_tile_bounds",
      es => TileBounds(es.head, intLit(es(1))), "scala_udf")
    reg.createOrReplaceTempFunction("gw_time_bin",
      es => {
        // optional 2nd arg: unit name literal ('YEAR', 'MONTH', ...) —
        // matching the Scala gw_time_bin(ts, unit) API
        require(es.length <= 2, s"gw_time_bin takes (ts[, unit]); got ${es.length} args")
        val unit =
          if (es.length < 2) graft.index.TimeUnits.Year
          else {
            val name = es(1).eval(InternalRow.empty).toString.toLowerCase.capitalize
            graft.index.TimeUnits.values.find(_.toString == name).getOrElse(
              throw new IllegalArgumentException(
                s"gw_time_bin: unknown unit '$name' (expected one of ${graft.index.TimeUnits.values.mkString(", ")})"))
          }
        TimeBinId(es.head, unit)
      }, "scala_udf")
    reg.createOrReplaceTempFunction("st_point_wkb",
      es => STPointWkb(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("st_multipoint_wkb",
      es => STMultiPointWkb(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("st_geom_distance",
      es => STGeomDistance(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("st_distance_vincenty",
      es => VincentyMeters(es.head, es(1), es(2), es(3)), "scala_udf")
    reg.createOrReplaceTempFunction("gw_geohash",
      es => GeohashId(es.head, es(1), intLit(es(2))), "scala_udf")
    reg.createOrReplaceTempFunction("st_coord_cosine",
      es => {
        // raw catalyst tree (a Column round-trip is Unevaluable inside a
        // FunctionBuilder in Spark 4) mirroring st_coord_cosine exactly:
        // same operation order, same IEEE edge branches
        require(es.length == 6, s"st_coord_cosine takes (x1,y1,z1,x2,y2,z2); got ${es.length}")
        val Seq(x1, y1, z1, x2, y2, z2) = es.toSeq
        def dot(ax: Expression, ay: Expression, az: Expression,
                bx: Expression, by: Expression, bz: Expression): Expression =
          Add(Add(Multiply(ax, bx), Multiply(ay, by)), Multiply(az, bz))
        val ab = dot(x1, y1, z1, x2, y2, z2)
        val denom = Multiply(Sqrt(dot(x1, y1, z1, x1, y1, z1)),
          Sqrt(dot(x2, y2, z2, x2, y2, z2)))
        val zero = Literal(0.0)
        CaseWhen(Seq(
          (EqualTo(denom, zero), CaseWhen(Seq(
            (EqualTo(ab, zero), Literal(Double.NaN)),
            (GreaterThan(ab, zero), Literal(Double.PositiveInfinity))),
            Literal(Double.NegativeInfinity)))),
          Divide(ab, denom))
      }, "scala_udf")
    reg.createOrReplaceTempFunction("gw_vis_allows",
      es => {
        // auths as a comma-separated string LITERAL (constant per query,
        // like the reference scan's authorization set)
        require(es.length == 2, s"gw_vis_allows takes (vis, 'a,b,...'); got ${es.length}")
        require(es(1).foldable,
          "gw_vis_allows: the authorization set must be a string literal")
        val authsVal = es(1).eval(InternalRow.empty)
        require(authsVal != null, "gw_vis_allows: the authorization set must not be NULL")
        val auths = authsVal.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        Visibility.VisibilityMatches(es.head, auths)
      }, "scala_udf")
  }
}
