package graft.index

/** A dimension definition wrapped with SFC bits of precision.
  * (reference: core/index/.../sfc/SFCDimensionDefinition.java) */
final case class SFCDimension(dim: NumericDim, bits: Int) extends Serializable

/** An inclusive range of SFC ids, as big-endian byte arrays of the curve's
  * fixed byte width. */
final case class SfcRange(start: Array[Byte], end: Array[Byte])

/**
 * Hilbert space-filling curve over normalized dimensions: value->id encoding
 * (with the reference's exact edge rules), estimated id counts, id->cell
 * bounds, and query-range decomposition.
 *
 * Semantics mirror the reference byte-for-byte where its tests pin them:
 *  - point/range-max bucket rule `max(ceil(norm*bins)-1, 0)`, range-min rule
 *    `min(floor(norm*bins), bins-1)`, swapped when over-inclusive on edge
 *    (reference: PrimitiveHilbertSFCOperations.normalizeDimension:232-262)
 *  - id bytes = big-endian over ceil(totalBits/8) bytes
 *  - decomposition coarsening: quads <= maxRangeDecomposed/2^20 cells are
 *    emitted whole (reference: PrimitiveHilbertSFCOperations.java:47,461-482)
 */
final class HilbertSFC(val dimensions: Array[SFCDimension]) extends Serializable {
  val n: Int = dimensions.length
  val hilbert = new CompactHilbert(dimensions.map(_.bits))
  val binsPerDim: Array[Long] = dimensions.map(d => 1L << d.bits)
  val totalPrecision: Int = dimensions.map(_.bits).sum
  val byteCount: Int = math.ceil(totalPrecision / 8.0).toInt
  private val maxHilbert: Long = if (totalPrecision == 0) 0L else (1L << totalPrecision) - 1
  val UnitCellSize: Long = 1L << 20

  /** big-endian bytes of the low totalPrecision bits. */
  def idToBytes(h: Long): Array[Byte] = {
    val out = new Array[Byte](byteCount)
    var i = byteCount - 1
    var v = h
    while (i >= 0) { out(i) = (v & 0xff).toByte; v >>>= 8; i -= 1 }
    out
  }

  def bytesToId(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < b.length) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }

  /** bucket a value; see normalizeDimension edge rules above. */
  def normalizeToBucket(d: Int, value: Double, isMin: Boolean, overInclusiveOnEdge: Boolean): Long = {
    val norm = dimensions(d).dim.normalize(value)
    require(norm >= 0 && norm <= 1, s"value $value normalizes outside [0,1]")
    val bins = binsPerDim(d)
    if ((isMin && !overInclusiveOnEdge) || (!isMin && overInclusiveOnEdge))
      math.min(math.floor(norm * bins), (bins - 1).toDouble).toLong
    else
      math.max(math.ceil(norm * bins) - 1L, 0L).toLong
  }

  /** SFC id bytes for a point (uses the range-max bucket rule, as the
    * reference does for `getId(maxValues)`). */
  def getId(values: Array[Double]): Array[Byte] = {
    val p = new Array[Long](n)
    var d = 0
    while (d < n) { p(d) = normalizeToBucket(d, values(d), isMin = false, overInclusiveOnEdge = false); d += 1 }
    idToBytes(hilbert.index(p))
  }

  /** per-dimension inclusive bucket range of a query/data hyper-rectangle. */
  def bucketRanges(ranges: Array[NumericData], overInclusiveOnEdge: Boolean): (Array[Long], Array[Long]) = {
    val mins = new Array[Long](n)
    val maxes = new Array[Long](n)
    var d = 0
    while (d < n) {
      val lo = normalizeToBucket(d, ranges(d).min, isMin = true, overInclusiveOnEdge)
      var hi = normalizeToBucket(d, ranges(d).max, isMin = false, overInclusiveOnEdge)
      if (lo > hi) hi = lo // exclusive-max collapse (reference :339-344)
      mins(d) = lo
      maxes(d) = hi
      d += 1
    }
    (mins, maxes)
  }

  /** product of per-dim bucket spans (drives tier selection).
    * (reference: PrimitiveHilbertSFCOperations.getEstimatedIdCount:489-518) */
  def getEstimatedIdCount(ranges: Array[NumericData]): Long = {
    val (mins, maxes) = bucketRanges(ranges, overInclusiveOnEdge = false)
    var count = 1L
    var d = 0
    while (d < n) { count *= math.abs(maxes(d) - mins(d)) + 1; d += 1 }
    count
  }

  /** denormalized cell bounds [min,max) per dimension of an SFC id.
    * (reference: PrimitiveHilbertSFCOperations.convertFromHilbert:169-187) */
  def getRangesForId(id: Array[Byte]): Array[NumericData] = {
    val p = hilbert.indexInverse(bytesToId(id))
    val out = new Array[NumericData](n)
    var d = 0
    while (d < n) {
      val bins = binsPerDim(d)
      out(d) = NumericData(
        dimensions(d).dim.denormalize(p(d).toDouble / bins),
        dimensions(d).dim.denormalize((p(d) + 1).toDouble / bins))
      d += 1
    }
    out
  }

  def getCoordinates(id: Array[Byte]): Array[Long] = hilbert.indexInverse(bytesToId(id))

  /** coarsening floor: quads this size or smaller are emitted whole.
    * (reference: PrimitiveHilbertSFCOperations.getMinimumQuadSize:461-482) */
  private def minimumQuadSize(mins: Array[Long], maxes: Array[Long]): Long = {
    var maxRange = 1L
    var d = 0
    while (d < n) { maxRange = math.max(maxRange, math.abs(maxes(d) - mins(d)) + 1); d += 1 }
    // (maxRange ^ n) may overflow for 31-bit dims; compute with doubles
    val maxRangeDecomposed = math.pow(maxRange.toDouble, n.toDouble)
    if (maxRangeDecomposed <= UnitCellSize.toDouble) 1L
    else math.min(maxRangeDecomposed / UnitCellSize, Long.MaxValue.toDouble).toLong
  }

  /**
   * Decompose a hyper-rectangle into at most `maxRanges` inclusive SFC id
   * ranges covering it (over-inclusive after coarsening/merging, never
   * under-inclusive). DFS over the Hilbert quadtree in curve order, emitting
   * sorted disjoint ranges; adjacent ranges merge; if over budget, ranges
   * with the smallest gaps merge first (the backtracking-builder behavior).
   */
  def decomposeRange(ranges: Array[NumericData], overInclusiveOnEdge: Boolean, maxRanges0: Int): Array[SfcRange] = {
    val maxRanges = if (maxRanges0 <= 0) Int.MaxValue else maxRanges0
    if (totalPrecision == 0)
      return Array(SfcRange(ByteUtils.empty, ByteUtils.empty))
    val (qMins, qMaxes) = bucketRanges(ranges, overInclusiveOnEdge)
    val minQuad = minimumQuadSize(qMins, qMaxes)
    val m = hilbert.m
    // per-dim FREE bits at depth k (levels m-1..m-k consumed): a dimension
    // with fewer bits stops contributing once its levels exhaust (compact
    // Hilbert); for equal precisions this is the constant m-k of the plain
    // curve. span(k) = Hilbert bits below a depth-k node.
    def freeBits(j: Int, k: Int): Int = math.min(dimensions(j).bits, m - k)
    val spanAtDepth: Array[Int] =
      Array.tabulate(m + 1)(k => (0 until n).map(freeBits(_, k)).sum)

    // emitted ranges as (startId, endId), ascending, merged when adjacent
    val out = new scala.collection.mutable.ArrayBuffer[Array[Long]]()
    def emit(start: Long, end: Long): Unit = {
      if (out.nonEmpty && out.last(1) + 1 == start) out.last(1) = end
      else out += Array(start, end)
    }

    // node: per-dim bucket prefix `pref` (consumed bits per dim), depth k,
    // Hilbert prefix h, frame state
    def dfs(pref: Array[Long], k: Int, h: Long, frame: hilbert.Frame): Unit = {
      var d = 0
      var contained = true
      while (d < n) {
        val side = freeBits(d, k)
        val lo = pref(d) << side
        val hi = lo + ((1L << side) - 1)
        if (hi < qMins(d) || lo > qMaxes(d)) return // disjoint
        if (lo < qMins(d) || hi > qMaxes(d)) contained = false
        d += 1
      }
      val span = spanAtDepth(k)
      val cells = math.pow(2.0, span.toDouble) // double: no overflow at 62 bits
      if (contained || k == m || cells <= minQuad.toDouble) {
        val start = h << span
        val end = start + (if (span == 0) 0L else (1L << span) - 1)
        emit(start, end)
        return
      }
      val level = m - 1 - k
      val rho = hilbert.levelBits(level)
      var r = 0L
      val child = new Array[Long](n)
      while (r < (1L << rho)) {
        val w = frame.childW(r, level)
        val l = frame.childLabel(w)
        var j = 0
        while (j < n) {
          child(j) =
            if (hilbert.activeAt(level, j)) (pref(j) << 1) | hilbert.labelBit(l, j)
            else pref(j)
          j += 1
        }
        dfs(child, k + 1, (h << rho) | r, frame.childFrame(w))
        r += 1
      }
    }

    dfs(new Array[Long](n), 0, 0L, hilbert.rootFrame)

    // enforce the range budget: merge the pairs with the smallest gaps
    if (out.length > maxRanges) {
      val gaps = out.indices.dropRight(1)
        .map(i => (out(i + 1)(0) - out(i)(1), i))
        .sorted
      val mergeAt = new Array[Boolean](out.length)
      gaps.take(out.length - maxRanges).foreach { case (_, i) => mergeAt(i) = true }
      val merged = new scala.collection.mutable.ArrayBuffer[Array[Long]]()
      var i = 0
      while (i < out.length) {
        var end = out(i)(1)
        var j = i
        while (j < out.length - 1 && mergeAt(j)) { j += 1; end = out(j)(1) }
        merged += Array(out(i)(0), end)
        i = j + 1
      }
      out.clear()
      out ++= merged
    }

    out.map { r =>
      SfcRange(
        idToBytes(math.min(math.max(r(0), 0L), maxHilbert)),
        idToBytes(math.min(math.max(r(1), 0L), maxHilbert)))
    }.toArray
  }
}
