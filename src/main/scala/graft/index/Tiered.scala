package graft.index

/** An insertion/query key range; keys are tier ‖ binId ‖ sfcBytes. */
final case class KeyRange(start: Array[Byte], end: Array[Byte])

/**
 * Tiered SFC index strategy: one Hilbert curve per tier of increasing
 * precision; an entry lands on the finest tier where its envelope decomposes
 * into at most `maxEstimatedDuplicateIds` = 2^dims cell ids.
 * (reference: core/index/.../sfc/tiered/TieredSFCIndexStrategy.java:43-469)
 *
 * Insertion id layout: tierByte ‖ binId ‖ sfcBytes
 * (reference: TieredSFCIndexStrategy.getRowIdsAtTier:391-420)
 */
final class TieredStrategy(
    val baseDims: Array[NumericDim],
    val sfcs: Array[HilbertSFC],
    val tierIds: Array[Byte]) extends Serializable {
  require(sfcs.length == tierIds.length)

  val maxEstimatedDuplicateIds: Long = math.pow(2.0, baseDims.length.toDouble).toLong
  private val tierToSfcIndex: Map[Byte, Int] = tierIds.zipWithIndex.toMap
  val binIdLength: Int = baseDims.map(_.fixedBinIdSize).sum

  /** total key byte length at a given tier (tier byte + bins + sfc bytes). */
  def keyLength(tier: Byte): Int = 1 + binIdLength + sfcs(tierToSfcIndex(tier)).byteCount

  def getInsertionIds(data: Array[NumericData]): Seq[Array[Byte]] =
    getInsertionIds(data, maxEstimatedDuplicateIds)

  def getInsertionIds(data: Array[NumericData], maxDuplicateIds: Long): Seq[Array[Byte]] = {
    val binned = BinnedData.applyBins(data, baseDims)
    binned.toIndexedSeq.flatMap(getRowIds(_, maxDuplicateIds))
  }

  private def getRowIds(binned: BinnedData, maxDuplicateIds: Long): Seq[Array[Byte]] = {
    // finest tier first; stop at the first tier that fits
    var sfcIndex = sfcs.length - 1
    while (sfcIndex >= 0) {
      val sfc = sfcs(sfcIndex)
      val tierId = tierIds(sfcIndex)
      val rowCount = sfc.getEstimatedIdCount(binned.ranges)
      if (rowCount == 1L) {
        val prefix = ByteUtils.concat(Array(tierId), binned.binId)
        return Seq(ByteUtils.concat(prefix, sfc.getId(binned.ranges.map(_.max))))
      } else if (rowCount <= maxDuplicateIds || sfcIndex == 0) {
        return decomposeRangesForEntry(binned, tierId, sfc)
      }
      sfcIndex -= 1
    }
    Seq.empty
  }

  /** fully decompose an entry's envelope at a tier and enumerate every cell
    * id between decomposed endpoints (the duplicate-insert path).
    * (reference: TieredSFCIndexStrategy.decomposeRangesForEntry:422-469) */
  private def decomposeRangesForEntry(binned: BinnedData, tierId: Byte, sfc: HilbertSFC): Seq[Array[Byte]] = {
    val prefix = ByteUtils.concat(Array(tierId), binned.binId)
    val out = Seq.newBuilder[Array[Byte]]
    sfc.decomposeRange(binned.ranges, overInclusiveOnEdge = false, -1).foreach { range =>
      val current = java.util.Arrays.copyOf(range.start, range.start.length)
      out += ByteUtils.concat(prefix, current.clone)
      while (!java.util.Arrays.equals(current, range.end) && ByteUtils.increment(current)) {
        out += ByteUtils.concat(prefix, current.clone)
      }
    }
    out.result()
  }

  /** query ranges across tiers (finest first), the per-SFC and per-bin range
    * budget split mirroring the reference.
    * (reference: TieredSFCIndexStrategy.getQueryRanges:78-161) */
  def getQueryRanges(query: Array[NumericData], maxRangeDecomposition: Int = -1,
                     tierCounts: Array[Long] = null): Seq[KeyRange] = {
    val binned = BinnedData.applyBins(query, baseDims)
    val out = Seq.newBuilder[KeyRange]
    val perSfc =
      if (maxRangeDecomposition > 1 && sfcs.length > 1)
        math.ceil(maxRangeDecomposition.toDouble / sfcs.length).toInt
      else maxRangeDecomposition
    var sfcIndex = sfcs.length - 1
    while (sfcIndex >= 0) {
      if (tierCounts == null || tierCounts(sfcIndex) != 0L) {
        val sfc = sfcs(sfcIndex)
        val tier = tierIds(sfcIndex)
        val perBin =
          if (perSfc > 1 && binned.length > 1)
            math.ceil(perSfc.toDouble / binned.length).toInt
          else perSfc
        binned.foreach { bq =>
          val prefix = ByteUtils.concat(Array(tier), bq.binId)
          if (bq.fullExtent) {
            // whole tier+bin prefix
            out += KeyRange(prefix, prefix)
          } else {
            sfc.decomposeRange(bq.ranges, overInclusiveOnEdge = true, perBin).foreach { r =>
              out += KeyRange(ByteUtils.concat(prefix, r.start), ByteUtils.concat(prefix, r.end))
            }
          }
        }
      }
      sfcIndex -= 1
    }
    out.result()
  }

  /** denormalized cell bounds of an insertion id.
    * (reference: TieredSFCIndexStrategy.getRangeForId:240-293) */
  def getRangeForId(rowId: Array[Byte]): Array[NumericData] = {
    val tier = rowId(0)
    val sfc = sfcs(tierToSfcIndex(tier))
    val sfcBytes = java.util.Arrays.copyOfRange(rowId, 1 + binIdLength, rowId.length)
    val data = sfc.getRangesForId(sfcBytes)
    if (binIdLength > 0) {
      var off = 1
      baseDims.zipWithIndex.foreach { case (dim, d) =>
        val sz = dim.fixedBinIdSize
        if (sz > 0) {
          val binId = java.util.Arrays.copyOfRange(rowId, off, off + sz)
          data(d) = dim.getDenormalizedRange(BinRange(binId, data(d).min, data(d).max, fullExtent = false))
          off += sz
        }
      }
    }
    data
  }

  /** per-dimension grid coordinates of an insertion id at its tier. */
  def getCoordinates(rowId: Array[Byte]): Array[Long] = {
    val tier = rowId(0)
    val sfc = sfcs(tierToSfcIndex(tier))
    sfc.getCoordinates(java.util.Arrays.copyOfRange(rowId, 1 + binIdLength, rowId.length))
  }
}

/** Factories mirroring TieredSFCIndexFactory. */
object TieredStrategy {

  /** tiers 0..min(maxBits): tier t uses maxBits[d]-(numTiers-1-t) bits per dim.
    * (reference: TieredSFCIndexFactory.createFullIncrementalTieredStrategy:107-160) */
  def fullIncremental(dims: Array[NumericDim], maxBitsPerDim: Array[Int]): TieredStrategy = {
    val numIndices = maxBitsPerDim.min + 1
    val sfcs = new Array[HilbertSFC](numIndices)
    val tiers = new Array[Byte](numIndices)
    for (sfcIndex <- 0 until numIndices) {
      val sfcDims = dims.indices.map { d =>
        SFCDimension(dims(d), maxBitsPerDim(d) - (numIndices - sfcIndex - 1))
      }.toArray
      sfcs(sfcIndex) = new HilbertSFC(sfcDims)
      tiers(sfcIndex) = sfcDims.map(_.bits).max.toByte
    }
    new TieredStrategy(dims, sfcs, tiers)
  }

  /** `numIndices` tiers with bits spread at equal intervals up to the max.
    * (reference: TieredSFCIndexFactory.createEqualIntervalPrecisionTieredStrategy:187-228) */
  def equalInterval(dims: Array[NumericDim], maxBitsPerDim: Array[Int], numIndices: Int = 11): TieredStrategy = {
    val sfcs = new Array[HilbertSFC](numIndices)
    val tiers = new Array[Byte](numIndices)
    for (sfcIndex <- 0 until numIndices) {
      val sfcDims = dims.indices.map { d =>
        val bits =
          if (numIndices == 1) maxBitsPerDim(d)
          else ((maxBitsPerDim(d).toDouble / (numIndices - 1)) * sfcIndex).toInt
        SFCDimension(dims(d), bits)
      }.toArray
      sfcs(sfcIndex) = new HilbertSFC(sfcDims)
      tiers(sfcIndex) = sfcDims.map(_.bits).max.toByte
    }
    new TieredStrategy(dims, sfcs, tiers)
  }

  /** explicit per-tier bit lists (same length per dim), one SFC per entry.
    * (reference: TieredSFCIndexFactory.createDefinedPrecisionTieredStrategy) */
  def definedPrecision(dims: Array[NumericDim], bitsPerTierPerDim: Array[Array[Int]]): TieredStrategy = {
    val numIndices = bitsPerTierPerDim(0).length
    val sfcs = new Array[HilbertSFC](numIndices)
    val tiers = new Array[Byte](numIndices)
    for (sfcIndex <- 0 until numIndices) {
      val sfcDims = dims.indices.map { d =>
        SFCDimension(dims(d), bitsPerTierPerDim(d)(sfcIndex))
      }.toArray
      sfcs(sfcIndex) = new HilbertSFC(sfcDims)
      tiers(sfcIndex) = sfcDims.map(_.bits).max.toByte
    }
    new TieredStrategy(dims, sfcs, tiers)
  }

  def singleTier(dims: Array[NumericDim], bitsPerDim: Array[Int]): TieredStrategy = {
    val sfcDims = dims.indices.map(d => SFCDimension(dims(d), bitsPerDim(d))).toArray
    new TieredStrategy(dims, Array(new HilbertSFC(sfcDims)), Array(bitsPerDim.max.toByte))
  }

  /** the reference's default spatial index: Hilbert 31/31, half-range
    * latitude, 32 incremental tiers.
    * (reference: core/geotime/.../ingest/SpatialDimensionalityTypeProvider.java:29-45,86-92) */
  def defaultSpatial: TieredStrategy =
    fullIncremental(Array(LongitudeDim, LatitudeDim(useHalfRange = true)), Array(31, 31))

  /** a spatial-temporal strategy with explicit per-side precision and
    * periodicity — the general form behind the reference's Bias knob
    * (SpatialTemporalDimensionalityTypeProvider.java:140-191). Unequal
    * precisions ride the compact-Hilbert mask path (Hilbert.scala,
    * pinned by HilbertUnequalSpec's rank-projection/bijectivity/
    * decomposition properties). */
  def spatialTemporal(spatialBits: Int, temporalBits: Int,
                      periodicity: TimeUnits.Value = TimeUnits.Year): TieredStrategy =
    equalInterval(
      Array(LongitudeDim, LatitudeDim(useHalfRange = true),
        TimeDim(TemporalBinning(periodicity))),
      Array(spatialBits, spatialBits, temporalBits), numIndices = 11)

  /** the reference's Bias presets: SPATIAL = 25 bits per spatial
    * dimension + 10 temporal, TEMPORAL = 10 + 40, BALANCED = 20/20/20
    * (SpatialTemporalDimensionalityTypeProvider.Bias.getSpatialPrecision /
    * getTemporalPrecision:168-190). */
  def spatialTemporalBiased(bias: String,
                            periodicity: TimeUnits.Value = TimeUnits.Year): TieredStrategy = {
    val (sb, tb) = biasBits(bias)
    spatialTemporal(sb, tb, periodicity)
  }

  /** the (spatialBits, temporalBits) allocation of a Bias preset. */
  def biasBits(bias: String): (Int, Int) = bias.toUpperCase match {
    case "SPATIAL" => (25, 10)
    case "TEMPORAL" => (10, 40)
    case "BALANCED" => (20, 20)
    case other => throw new IllegalArgumentException(
      s"unknown bias '$other' (SPATIAL | TEMPORAL | BALANCED)")
  }

  /** the reference's default spatial-temporal index: 20/20/20 BALANCED,
    * YEAR periodicity, 11 equal-interval tiers.
    * (reference: SpatialTemporalDimensionalityTypeProvider.java:61-122,169-191) */
  def defaultSpatialTemporal: TieredStrategy = spatialTemporal(20, 20)
}
