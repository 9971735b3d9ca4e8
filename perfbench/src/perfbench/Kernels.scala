package perfbench

import org.apache.spark.sql.catalyst.expressions.Literal

import graft.spark.{GeoCodec, SpatialJoin, SpatialPlanner, Tables}

/** Single-thread microbenchmarks of the per-row kernels and the range
  * planner, called directly (no Spark job). Each figure is the median of
  * several timed rounds after one untimed round. */
object Kernels {
  private val Rounds = 5

  private def median(f: => Double): Double = {
    f
    Stats.median((0 until Rounds).map(_ => f))
  }

  /** ns per call of `k` over `xs`/`ys`; the results feed a sink so the JIT
    * cannot drop the calls. */
  private def nsPerCall(xs: Array[Double], ys: Array[Double])(k: (Double, Double) => Long): Double =
    median {
      var sink = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < xs.length) { sink ^= k(xs(i), ys(i)); i += 1 }
      val dt = System.nanoTime() - t0
      if (sink == 42L) print("")
      dt.toDouble / xs.length
    }

  def run(seed: Long, layers: Layers): Unit = {
    val r = new scala.util.Random(seed)
    val m = 200000
    val cs = Inputs.centres(seed)
    val xs = Array.fill(m)(0.0)
    val ys = Array.fill(m)(0.0)
    for (i <- 0 until m) {
      val (cx, cy) = cs(r.nextInt(cs.size))
      xs(i) = cx + r.nextGaussian() * 0.1
      ys(i) = cy + r.nextGaussian() * 0.1
    }
    layers.add("codec.cell_id_ns", nsPerCall(xs, ys)((x, y) => GeoCodec.cellIdSpatial(x, y)(8).toLong))
    layers.add("codec.tile_id_ns", nsPerCall(xs, ys)((x, y) => GeoCodec.tileId(x, y, 8)))

    val regions = Tables.regionGeoms(40)
    val wkb = new org.locationtech.jts.io.WKBWriter(2)
    val rfp = SpatialJoin.RegionsForPoint(Literal(0.0), Literal(0.0),
      regions.map(_._1).toArray, regions.map(g => wkb.write(g._2)).toArray)
    // region boxes cover about a tenth of the world: probe uniformly too
    val ux = Array.fill(m)(r.nextDouble() * 360 - 180)
    val uy = Array.fill(m)(r.nextDouble() * 170 - 85)
    layers.add("join.regions_for_ns", nsPerCall(ux, uy)((x, y) => rfp.regionsFor(x, y).numElements().toLong))

    val perPoly = math.max(1, SpatialPlanner.MaxRangeDecomposition / regions.size)
    var ranges = 0
    layers.add("planner.geometry_ranges_ms", median {
      val t0 = System.nanoTime()
      ranges = regions.map { case (_, g) => SpatialPlanner.spatialGeometryRanges(g, perPoly).size }.sum
      (System.nanoTime() - t0) / 1e6
    })
    layers.add("planner.ranges", ranges.toDouble)
    // the store_query box shapes: selective, cluster and wide
    val boxes = cs.take(8).flatMap { case (x, y) => Seq(0.01, 0.15, 20.0).map(w => (x, y, w)) }
    layers.add("planner.box_ranges_ms", median {
      val t0 = System.nanoTime()
      boxes.foreach { case (x, y, w) => SpatialPlanner.spatialBoxRanges(x - w, x + w, y - w, y + w) }
      (System.nanoTime() - t0) / 1e6 / boxes.size
    })
  }
}
