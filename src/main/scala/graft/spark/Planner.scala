package graft.spark

import graft.index._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Driver-side query planner: spatial / spatial-temporal constraints →
 * (coarse cell-id range predicate, exact fine predicate), mirroring the
 * reference's constraint → range-decomposition → fine-filter pipeline
 * (reference: BaseDataStore.query → ConstraintsQuery.getRanges:71-107 →
 *  TieredSFCIndexStrategy.getQueryRanges:78-161; fine filter
 *  SpatialQueryFilter.java:50-80).
 *
 * The coarse predicate is pushdown-friendly: an OR-chain of BETWEENs on the
 * binary cell id when the range count is small (Parquet row-group pruning),
 * otherwise a binary-search [[CellInRanges]] expression.
 */
object SpatialPlanner {
  /** reference cap: ConstraintsQuery.MAX_RANGE_DECOMPOSITION = 5000 */
  val MaxRangeDecomposition = 5000
  /** switch from OR-chain to binary-search expression above this many ranges */
  val OrChainLimit = 24

  /** tier-count metadata for a table known to contain only points: every id
    * is on the finest tier, so every other tier's ranges are pruned
    * (the reference's TierIndexMetaData.tierCounts empty-tier pruning,
    * TieredSFCIndexStrategy.java:94-100). */
  def pointOnlyTierCounts(strategy: TieredStrategy): Array[Long] = {
    val counts = new Array[Long](strategy.sfcs.length)
    counts(counts.length - 1) = 1L
    counts
  }

  /** pad a possibly prefix-only range end out to its tier's full key length
    * so unsigned-lexicographic BETWEEN covers the whole prefix. */
  def padded(strategy: TieredStrategy, r: KeyRange): (Array[Byte], Array[Byte]) = {
    val len = strategy.keyLength(r.start(0))
    val end =
      if (r.end.length >= len) r.end
      else r.end ++ Array.fill(len - r.end.length)(0xff.toByte)
    (r.start, end)
  }

  def spatialBoxRanges(lonMin: Double, lonMax: Double, latMin: Double, latMax: Double,
                       maxRanges: Int = MaxRangeDecomposition,
                       pointOnly: Boolean = true): Seq[(Array[Byte], Array[Byte])] = {
    val s = GeoCodec.spatial
    val tc = if (pointOnly) pointOnlyTierCounts(s) else null
    s.getQueryRanges(Array(NumericData(lonMin, lonMax), NumericData(latMin, latMax)), maxRanges, tc)
      .map(padded(s, _))
  }

  def stBoxRanges(lonMin: Double, lonMax: Double, latMin: Double, latMax: Double,
                  tsMinMillis: Long, tsMaxMillis: Long,
                  maxRanges: Int = MaxRangeDecomposition,
                  pointOnly: Boolean = true): Seq[(Array[Byte], Array[Byte])] =
    stBoxRangesBiased("BALANCED", lonMin, lonMax, latMin, latMax,
      tsMinMillis, tsMaxMillis, maxRanges, pointOnly)

  /** [[stBoxRanges]] over a Bias-preset strategy (SPATIAL 25/25/10,
    * TEMPORAL 10/10/40, BALANCED 20/20/20) — identical decomposition
    * machinery, the biased curve rides the compact-Hilbert mask path. */
  def stBoxRangesBiased(bias: String,
                        lonMin: Double, lonMax: Double, latMin: Double, latMax: Double,
                        tsMinMillis: Long, tsMaxMillis: Long,
                        maxRanges: Int = MaxRangeDecomposition,
                        pointOnly: Boolean = true): Seq[(Array[Byte], Array[Byte])] = {
    val s = GeoCodec.stBiased(bias)
    val tc = if (pointOnly) pointOnlyTierCounts(s) else null
    s.getQueryRanges(Array(
      NumericData(lonMin, lonMax), NumericData(latMin, latMax),
      NumericData(tsMinMillis.toDouble, tsMaxMillis.toDouble)), maxRanges, tc)
      .map(padded(s, _))
  }

  /** per-sub-geometry envelope constraints — the reference's
    * GeometryUtils.basicConstraintsFromGeometry decomposition
    * (core/geotime/.../GeometryUtils.java:82-145; GeometryUtilsTest
    * .testConstraintGeneration pins a multipolygon → one box constraint
    * per member). */
  def constraintEnvelopes(geom: org.locationtech.jts.geom.Geometry)
      : Seq[org.locationtech.jts.geom.Envelope] =
    if (geom.getNumGeometries > 1)
      (0 until geom.getNumGeometries).map(geom.getGeometryN(_).getEnvelopeInternal)
    else Seq(geom.getEnvelopeInternal)

  /** ranges for an arbitrary JTS geometry: per-sub-geometry envelopes
    * (reference: GeometryUtils.constructListOfConstraintSetsFromGeometry:82-145). */
  def spatialGeometryRanges(geom: org.locationtech.jts.geom.Geometry,
                            maxRanges: Int = MaxRangeDecomposition,
                            pointOnly: Boolean = true): Seq[(Array[Byte], Array[Byte])] = {
    val envs = constraintEnvelopes(geom)
    val perEnv = math.max(1, maxRanges / envs.size)
    envs.flatMap { e =>
      spatialBoxRanges(e.getMinX, e.getMaxX, e.getMinY, e.getMaxY, perEnv, pointOnly)
    }
  }

  /** compound row-key ranges: every salt byte × every cell range — the
    * reference's CompoundIndexStrategy.getQueryRanges cross product
    * (core/index/.../CompoundIndexStrategy.java getQueryRanges /
    * composeByteArrayId; HashKeyIndexStrategyTest
    * .testGetQueryRangesWithMaximumNumberOfRanges pins the shape). Our
    * scans usually push the cell predicate on the `cell_id` COLUMN
    * (columnar pruning makes the salt fan-out unnecessary), but row_key
    * range scans over the compound `salt ‖ cell` sort order need exactly
    * this expansion. */
  def compoundRanges(saltCount: Int,
                     ranges: Seq[(Array[Byte], Array[Byte])]): Seq[(Array[Byte], Array[Byte])] =
    for {
      s <- 0 until saltCount
      (start, end) <- ranges
    } yield (s.toByte +: start, s.toByte +: end)

  /** sort by start and merge overlapping ranges (ranges from several
    * polygons overlap; [[CellInRanges]]' binary search requires disjoint
    * sorted input, and merging also shrinks OR-chains). */
  def mergeRanges(ranges: Seq[(Array[Byte], Array[Byte])]): Seq[(Array[Byte], Array[Byte])] = {
    val sorted = ranges.sortWith((a, b) => ByteUtils.compareUnsigned(a._1, b._1) < 0)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte])]
    for (r <- sorted) {
      if (out.nonEmpty && ByteUtils.compareUnsigned(r._1, out.last._2) <= 0) {
        if (ByteUtils.compareUnsigned(r._2, out.last._2) > 0)
          out(out.length - 1) = (out.last._1, r._2)
      } else out += r
    }
    out.toSeq
  }

  /** EXACT intersection of two internally-disjoint sorted range sets
    * (two-pointer sweep): emits each pairwise overlap and drops
    * non-overlapping leftovers — unlike the reference's
    * ByteArrayRange.mergeIntersections, which keeps isolated ranges whole.
    * This is the sound-and-minimal AND-composition the pushdown rule
    * wants: the result covers exactly (∪a) ∩ (∪b). */
  def intersectSets(a: Seq[(Array[Byte], Array[Byte])],
                    b: Seq[(Array[Byte], Array[Byte])]): Seq[(Array[Byte], Array[Byte])] = {
    val sa = mergeRanges(a).toIndexedSeq
    val sb = mergeRanges(b).toIndexedSeq
    val out = Seq.newBuilder[(Array[Byte], Array[Byte])]
    var i = 0
    var j = 0
    while (i < sa.length && j < sb.length) {
      val (as, ae) = sa(i)
      val (bs, be) = sb(j)
      val lo = if (ByteUtils.compareUnsigned(as, bs) >= 0) as else bs
      val hi = if (ByteUtils.compareUnsigned(ae, be) <= 0) ae else be
      if (ByteUtils.compareUnsigned(lo, hi) <= 0) out += ((lo, hi))
      if (ByteUtils.compareUnsigned(ae, be) <= 0) i += 1 else j += 1
    }
    out.result()
  }

  /** coarse predicate on a cell-id column from decomposed ranges. Small
    * sets become an OR-chain of BETWEENs (pushes into the parquet scan as
    * row-group min/max pruning); large sets use the binary-search
    * [[CellInRanges]] expression AND-ed with the bounding [min,max]
    * envelope so the scan still prunes files/row-groups even though the
    * search itself can't be pushed. */
  def rangesPredicate(cellCol: Column, ranges0: Seq[(Array[Byte], Array[Byte])]): Column = {
    require(ranges0.nonEmpty, "no query ranges")
    val ranges = mergeRanges(ranges0)
    if (ranges.size <= OrChainLimit)
      ranges.map { case (s, e) => cellCol >= lit(s) && cellCol <= lit(e) }.reduce(_ || _)
    else {
      val bound = cellCol >= lit(ranges.head._1) && cellCol <= lit(ranges.last._2)
      bound && GeoFunctions.gw_cell_in_ranges(cellCol,
        ranges.map(_._1).toArray, ranges.map(_._2).toArray)
    }
  }

  /** the coarse range prefilter where it can prune: over a STORED cell-id
    * column (a sorted, pushable key). Without `cellCol` the input comes
    * back unchanged and `ranges` is never decomposed — a key encoded per
    * row would only re-test what the exact fine filter decides anyway.
    * TRUST CONTRACT: a stored `cellCol` holds ids of the strategy `ranges`
    * decomposes against, encoded from the columns the exact filter reads
    * (`lon`/`lat`, plus `ts` for `cell_id_st`); any other id silently
    * drops matches, so a table keyed another way drops or renames it. */
  def prefilterStored(df: DataFrame, cellCol: String,
                      ranges: => Seq[(Array[Byte], Array[Byte])]): DataFrame =
    if (df.columns.contains(cellCol)) df.where(rangesPredicate(col(cellCol), ranges))
    else df

  /** Expression-level twin of [[rangesPredicate]] for optimizer rules
    * (Column-built trees are unresolved post-analysis in Spark 4). */
  def rangesPredicateExpr(cellAttr: org.apache.spark.sql.catalyst.expressions.Expression,
                          ranges0: Seq[(Array[Byte], Array[Byte])])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.BinaryType
    require(ranges0.nonEmpty, "no query ranges")
    val ranges = mergeRanges(ranges0)
    def geq(b: Array[Byte]) = GreaterThanOrEqual(cellAttr, Literal(b, BinaryType))
    def leq(b: Array[Byte]) = LessThanOrEqual(cellAttr, Literal(b, BinaryType))
    if (ranges.size <= OrChainLimit)
      ranges.map { case (s, e) => And(geq(s), leq(e)): Expression }.reduce(Or(_, _))
    else
      And(And(geq(ranges.head._1), leq(ranges.last._2)),
        CellInRanges(cellAttr, ranges.map(_._1).toArray, ranges.map(_._2).toArray))
  }

  /** exact box predicate (the reference's per-dimension OVERLAPS MBR test
    * on points, BasicQueryFilter.java:40-63). lonMin > lonMax means the
    * box crosses the antimeridian and the longitude test wraps — the
    * fine-filter twin of LongitudeDefinition's dateline bin split
    * (LongitudeDefinition.java:38-60). */
  def boxPredicate(lonCol: Column, latCol: Column,
                   lonMin: Double, lonMax: Double, latMin: Double, latMax: Double): Column = {
    val lonTest =
      if (lonMin <= lonMax) lonCol >= lit(lonMin) && lonCol <= lit(lonMax)
      else lonCol >= lit(lonMin) || lonCol <= lit(lonMax)
    lonTest && latCol >= lit(latMin) && latCol <= lit(latMax)
  }
}
