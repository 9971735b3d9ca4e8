package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Raster↔vector tiling (SURVEY §2.11): deterministic tile IDs = single-tier
 * SFC insertion ids, tile bounds = Hilbert-cell denormalized ranges
 * (reference: RasterDataAdapter.convertToIndex,
 * extensions/adapters/raster/.../RasterDataAdapter.java:454-586;
 * MosaicPerPyramidLevelBuilder:613-664), pyramid level choice :503-553,
 * mosaic merge via NoDataMergeStrategy
 * (extensions/adapters/raster/.../NoDataMergeStrategy.java:17).
 */
object Tiling {

  /** Hilbert tile id from grid coordinates (tx, ty) at `bits`/dim. */
  case class TileIdFromXY(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(tx: Any, ty: Any): Any =
      GeoCodec.curve2d(bits).index(Array(tx.asInstanceOf[Long], ty.asInstanceOf[Long]))
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (tx, ty) =>
        s"graft.spark.GeoCodec.curve2d($bits).index(new long[]{$tx, $ty})")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** multi-tier tiered insertion ids of an envelope — the UDTF-shaped
    * 1-record→N-rows encode (IndexDependentDataAdapter.convertToIndex);
    * duplicates at coarse tiers included, per TieredSFCIndexStrategy
    * semantics (already golden-tested in graft.index). */
  case class CellIdsForEnvelope(first: Expression, second: Expression,
                                third: Expression, fourth: Expression)
      extends QuaternaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(lonMin: Any, lonMax: Any, latMin: Any, latMax: Any): Any = {
      val ids = GeoCodec.spatial.getInsertionIds(Array(
        graft.index.NumericData(lonMin.asInstanceOf[Double], lonMax.asInstanceOf[Double]),
        graft.index.NumericData(latMin.asInstanceOf[Double], latMax.asInstanceOf[Double])))
      new GenericArrayData(ids.toArray[Any])
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                   t: Expression, q: Expression): Expression =
      copy(first = f, second = s, third = t, fourth = q)
  }

  /** Z-order (Morton) tile id from grid coordinates — the alternative
    * curve (reference: core/index/.../sfc/zorder/ZOrderSFC.java:62-160). */
  case class ZOrderIdFromXY(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    @transient private lazy val sfc = new graft.index.ZOrderSFC(Array(
      graft.index.SFCDimension(graft.index.BasicDim(-180, 180), bits),
      graft.index.SFCDimension(graft.index.BasicDim(-90, 90), bits)))
    override def nullSafeEval(tx: Any, ty: Any): Any =
      sfc.index(Array(tx.asInstanceOf[Long], ty.asInstanceOf[Long]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def gw_tile_id_xy(tx: Column, ty: Column, bits: Int): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(TileIdFromXY(expression(tx), expression(ty), bits))
  }

  def gw_zorder_id_xy(tx: Column, ty: Column, bits: Int): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(ZOrderIdFromXY(expression(tx), expression(ty), bits))
  }

  def gw_cell_ids_envelope(lonMin: Column, lonMax: Column,
                           latMin: Column, latMax: Column): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(CellIdsForEnvelope(expression(lonMin), expression(lonMax),
      expression(latMin), expression(latMax)))
  }

  /**
   * Grid tiles covering each envelope at `bits`/dim: the per-level tile
   * assignment of the mosaic builder. Envelope df must carry
   * (env_id, lon_min, lon_max, lat_min, lat_max). Output one row per
   * (env_id, tx, ty) + Hilbert tile id.
   */
  def tileCover(envs: DataFrame, bits: Int): DataFrame = {
    val x0 = GeoFunctions.gw_tile_x(col("lon_min"), bits)
    val x1 = GeoFunctions.gw_tile_x(col("lon_max"), bits)
    val y0 = GeoFunctions.gw_tile_y(col("lat_min"), bits)
    val y1 = GeoFunctions.gw_tile_y(col("lat_max"), bits)
    envs
      .withColumn("tx", explode(sequence(x0, x1)))
      .withColumn("ty", explode(sequence(y0, y1)))
      .withColumn("tile_id", gw_tile_id_xy(col("tx"), col("ty"), bits))
      .select(col("env_id"), col("tx"), col("ty"), col("tile_id"))
  }

  /** occupied tiles of a point set with their denormalized cell bounds —
    * raster→vector polygonization of the tile grid. */
  def occupiedTileBounds(pts: DataFrame, bits: Int): DataFrame = {
    val bins = (1L << bits).toDouble
    pts.select(GeoFunctions.gw_tile_x(col("lon"), bits).as("tx"),
        GeoFunctions.gw_tile_y(col("lat"), bits).as("ty"))
      .distinct()
      .withColumn("lon_min", col("tx").cast("double") / bins * 360 - 180)
      .withColumn("lon_max", (col("tx") + 1).cast("double") / bins * 360 - 180)
      .withColumn("lat_min", greatest(col("ty").cast("double") / bins * 360 - 180, lit(-90.0)))
      .withColumn("lat_max", least((col("ty") + 1).cast("double") / bins * 360 - 180, lit(90.0)))
  }

  /** mosaic merge of equally-sized tile payloads: per-byte no-data(0)
    * override — RowMergingDataAdapter/NoDataMergeStrategy as a typed
    * Aggregator (commutative + associative, safe for partial agg). */
  val noDataMerge: Aggregator[Array[Byte], Array[Byte], Array[Byte]] =
    new Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
      override def zero: Array[Byte] = Array.emptyByteArray
      private def merge2(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
        if (a.isEmpty) return b
        if (b.isEmpty) return a
        val out = new Array[Byte](math.max(a.length, b.length))
        var i = 0
        while (i < out.length) {
          val av: Byte = if (i < a.length) a(i) else 0
          out(i) = if (av != 0) av else (if (i < b.length) b(i) else 0: Byte)
          i += 1
        }
        out
      }
      override def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] = merge2(buf, in)
      override def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = merge2(x, y)
      override def finish(buf: Array[Byte]): Array[Byte] = buf
      override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
      override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }

  /**
   * Per-tile pixel statistics over grayscale byte payloads — the raster
   * statistics family (reference: RasterBoundingBoxStatistics,
   * HistogramStatistics band histograms, extensions/adapters/raster/.../
   * stats/): per tile (n_pixels, n_nodata, min, max, sum, 16-bin
   * histogram), 0 = no-data excluded from min/max/sum. One narrow map —
   * no shuffle; roll up globally with a follow-on agg over the columns
   * (all sums/counts, so partial aggregation composes).
   */
  def rasterStats(tiles: DataFrame, tileCol: String, payloadCol: String): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.select(col(tileCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .map { case (tile, p) =>
        var n0 = 0L; var mn = 256; var mx = -1; var sum = 0L
        val hist = new Array[Long](16)
        var i = 0
        while (i < p.length) {
          val v = p(i) & 0xff
          if (v == 0) n0 += 1
          else {
            if (v < mn) mn = v
            if (v > mx) mx = v
            sum += v
            hist(v >> 4) += 1
          }
          i += 1
        }
        (tile, p.length.toLong, n0,
          if (mx < 0) 0 else mn, if (mx < 0) 0 else mx, sum, hist.toSeq)
      }
      .toDF(tileCol, "n_pixels", "n_nodata", "px_min", "px_max", "px_sum", "histogram")
  }

  /** group tiles by id and mosaic-merge payloads. */
  def mosaicMerge(tiles: DataFrame, tileCol: String, payloadCol: String): DataFrame =
    tiles.groupBy(col(tileCol))
      .agg(udaf(noDataMerge, Encoders.BINARY).apply(col(payloadCol)).as("payload"))

  /** grid-cell world bounds (lonMin, lonMax, latMin, latMax) of (tx, ty)
    * at `bits`/dim — lat on the half-range trick, clamped to ±90. */
  private[spark] def cellBounds(tx: Long, ty: Long, bits: Int): (Double, Double, Double, Double) = {
    val bins = (1L << bits).toDouble
    (tx / bins * 360 - 180, (tx + 1) / bins * 360 - 180,
      math.max(ty / bins * 360 - 180, -90.0), math.min((ty + 1) / bins * 360 - 180, 90.0))
  }

  /**
   * Pure-JVM bilinear resample of one grayscale `tileSize`×`tileSize`
   * byte raster (row-major; row 0 = south edge) from the source tile's
   * world rect into the target tile's pixel grid — the world-to-screen
   * affine resample of the reference's mosaic builder
   * (RasterDataAdapter.java:665-733), with deterministic arithmetic
   * (HALF_UP rounding) instead of a codec-backed GridCoverage op. Target
   * pixels whose centers fall outside the source rect stay 0 (no-data) so
   * overlapping source tiles compose via [[noDataMerge]].
   */
  /** clamped bilinear sample of a row-major w×h byte raster at fractional
    * pixel coordinates, HALF_UP-rounded to a byte — the sampling kernel
    * behind raster tile resampling. */
  def sampleBilinear(src: Array[Byte], w: Int, h: Int, u: Double, v: Double): Byte = {
    val u0 = math.max(0, math.min(w - 1, math.floor(u).toInt))
    val v0 = math.max(0, math.min(h - 1, math.floor(v).toInt))
    val u1 = math.min(w - 1, u0 + 1)
    val v1 = math.min(h - 1, v0 + 1)
    val fu = math.max(0.0, math.min(1.0, u - u0))
    val fv = math.max(0.0, math.min(1.0, v - v0))
    def px(x: Int, y: Int): Double = (src(y * w + x) & 0xff).toDouble
    val value = px(u0, v0) * (1 - fu) * (1 - fv) + px(u1, v0) * fu * (1 - fv) +
      px(u0, v1) * (1 - fu) * fv + px(u1, v1) * fu * fv
    val r = new java.math.BigDecimal(value)
      .setScale(0, java.math.RoundingMode.HALF_UP).intValue()
    math.max(0, math.min(255, r)).toByte
  }

  def resampleTilePayload(src: Array[Byte], tileSize: Int,
                          sLonMin: Double, sLonMax: Double, sLatMin: Double, sLatMax: Double,
                          dLonMin: Double, dLonMax: Double, dLatMin: Double, dLatMax: Double)
      : Array[Byte] = {
    val out = new Array[Byte](tileSize * tileSize)
    val sw = sLonMax - sLonMin
    val sh = sLatMax - sLatMin
    if (sw <= 0 || sh <= 0 || src.length < tileSize * tileSize) return out
    var j = 0
    while (j < tileSize) {
      val wy = dLatMin + (j + 0.5) / tileSize * (dLatMax - dLatMin)
      var i = 0
      while (i < tileSize) {
        val wx = dLonMin + (i + 0.5) / tileSize * (dLonMax - dLonMin)
        if (wx >= sLonMin && wx < sLonMax && wy >= sLatMin && wy < sLatMax) {
          // source pixel-center coordinates of the target pixel center
          val u = (wx - sLonMin) / sw * tileSize - 0.5
          val v = (wy - sLatMin) / sh * tileSize - 0.5
          out(j * tileSize + i) = sampleBilinear(src, tileSize, tileSize, u, v)
        }
        i += 1
      }
      j += 1
    }
    out
  }

  /**
   * Re-tile a coverage to a new grid level WITH real pixel resampling:
   * each source tile maps onto the target tiles its bounds cover, every
   * (source, target) pair bilinearly resamples the overlap region into
   * target pixel space ([[resampleTilePayload]]), and overlapping
   * contributions mosaic-merge per target tile (reference:
   * RasterTileResizeJobRunner.java:38 map→combine→reduce over
   * RasterDataAdapter's world-to-screen resample). One narrow map over the
   * tile table plus a single merge aggregation — no driver-side pixels.
   */
  def resizeTilesResampled(tiles: DataFrame, bitsOld: Int, bitsNew: Int,
                           tileSize: Int): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    // EXACT integer grid mapping between levels (cells nest by powers of
    // two, so float boundary probing — where an edge point belongs to the
    // lower cell — would leak phantom neighbor pairs): finer → the 2^d
    // child range, coarser → the single ancestor.
    val d = bitsNew - bitsOld
    def span(c: Column): Column =
      if (d >= 0) sequence(c * (1L << d), (c + 1) * (1L << d) - 1)
      else sequence(shiftright(c, -d), shiftright(c, -d))
    val covered = tiles
      .withColumn("ntx", explode(span(col("tx"))))
      .withColumn("nty", explode(span(col("ty"))))
      .withColumn("new_tile", gw_tile_id_xy(col("ntx"), col("nty"), bitsNew))
      .select(col("tx"), col("ty"), col("ntx"), col("nty"), col("new_tile"), col("payload"))
      .as[(Long, Long, Long, Long, Long, Array[Byte])]
    val resampled = covered.map { case (tx, ty, ntx, nty, ntile, p) =>
      val s = cellBounds(tx, ty, bitsOld)
      val d = cellBounds(ntx, nty, bitsNew)
      (ntile, resampleTilePayload(p, tileSize, s._1, s._2, s._3, s._4, d._1, d._2, d._3, d._4))
    }.toDF("new_tile", "payload")
    mosaicMerge(resampled, "new_tile", "payload")
  }
}
