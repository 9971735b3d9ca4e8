package graft.spark

import org.apache.spark.sql.functions._

/** Analytics + tiling vs local Scala oracles. */
class AnalyticsSpec extends SparkTestBase {

  private lazy val pages = Tables.synthPages(spark, 1500).cache()
  private lazy val localPts =
    pages.select("doc_id", "lon", "lat").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  private def pts = pages.select(col("doc_id").as("id"), col("lon"), col("lat"))

  test("kmeans 3 iterations matches local Lloyd with identical arithmetic") {
    val init = localPts.filter(_._1 % 150 == 0).map(t => (t._1, t._2, t._3)).toSeq.sortBy(_._1)
    val got = Analytics.kmeans(pts, init, iters = 3).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    var cents = init
    var stats: Map[Long, (Long, Long, Long)] = Map.empty
    for (_ <- 0 until 3) {
      val assign = localPts.map { case (id, x, y) =>
        val best = cents.map { case (cid, cx, cy) =>
          (cid, (x - cx) * (x - cx) + (y - cy) * (y - cy))
        }.minBy { case (cid, d2) => (d2, cid) }
        (best._1, id, x, y)
      }
      // Spark round() is BigDecimal HALF_UP (away from zero for negatives),
      // not math.round (toward +inf) — mirror it exactly
      def r100(v: Double): Long =
        new java.math.BigDecimal(v * 100).setScale(0, java.math.RoundingMode.HALF_UP).longValue
      stats = assign.groupBy(_._1).map { case (cid, rows) =>
        cid -> (rows.length.toLong, rows.map(r => r100(r._3)).sum, rows.map(r => r100(r._4)).sum)
      }
      cents = stats.toSeq.map { case (cid, (n, sx, sy)) =>
        (cid, sx.toDouble / n / 100.0, sy.toDouble / n / 100.0)
      }.sortBy(_._1)
    }
    assert(got == stats)
  }

  test("dbscan matches local DBSCAN (union-find oracle)") {
    val eps = 0.4
    val minPts = 4
    val got = Analytics.dbscan(pts, "id", eps, minPts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList

    // local oracle
    val n = localPts.length
    val idx = localPts.zipWithIndex.map { case ((id, _, _), i) => id -> i }.toMap
    def neighbors(i: Int): Seq[Int] = (0 until n).filter { j =>
      val a = localPts(i); val b = localPts(j)
      (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3) <= eps * eps
    }
    val nbrs = (0 until n).map(neighbors)
    val isCore = (0 until n).map(i => nbrs(i).size >= minPts)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    def union(x: Int, y: Int): Unit = { val (a, b) = (find(x), find(y)); if (a != b) parent(math.max(a, b)) = math.min(a, b) }
    for (i <- 0 until n if isCore(i); j <- nbrs(i) if isCore(j)) union(i, j)
    val want = (0 until n).map { i =>
      val id = localPts(i)._1
      if (isCore(i)) (id, localPts(find(i))._1, "core")
      else {
        val coreNbrs = nbrs(i).filter(isCore)
        if (coreNbrs.nonEmpty) (id, coreNbrs.map(j => localPts(find(j))._1).min, "border")
        else (id, -1L, "noise")
      }
    }
    // cluster labels: ours = min core id in component; union-find parent chases
    // to min index, and synthPages ids are ordered like indices, so min index
    // = min id. Compare as sets.
    assert(got.toSet == want.toSet)
    assert(want.exists(_._3 == "core") && want.exists(_._3 == "noise"))
  }

  test("kdeHeatmap matches local integer splat + percent_rank") {
    val bits = 5
    val got = Analytics.kdeHeatmap(pts, bits).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val maxIdx = (1L << bits) - 1
    val acc = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((_, lon, lat) <- localPts; (dx, dy, w) <- Analytics.KdeKernel) {
      val tx = GeoCodec.bucketLon(lon, bits) + dx
      val ty = GeoCodec.bucketLat(lat, bits) + dy
      if (tx >= 0 && tx <= maxIdx && ty >= 0 && ty <= maxIdx)
        acc((tx, ty)) = acc.getOrElse((tx, ty), 0L) + w
    }
    assert(got.keySet == acc.keySet)
    for ((k, (w, _)) <- got) assert(w == acc(k))
    // percent_rank sanity: max-weight cell has pr == 1.0
    val maxCell = acc.maxBy { case (k, w) => (w, k._1, k._2) }._1
    assert(math.abs(got(maxCell)._2 - 1.0) < 1e-12)
  }

  test("convexHullPerGroup matches direct JTS hull") {
    val grouped = pts.withColumn("g", col("id") % 5)
    val got = Analytics.convexHullPerGroup(grouped, "g").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    for (g <- 0L until 5L) {
      val coords = localPts.filter(_._1 % 5 == g)
        .map(t => new org.locationtech.jts.geom.Coordinate(t._2, t._3))
      val hull = new org.locationtech.jts.algorithm.ConvexHull(coords, gf).getConvexHull
      assert(got(g) == ((hull.getNumPoints.toLong, hull.getArea)))
    }
  }

  test("concave hull per group: contained in convex hull, covers all points") {
    val grouped = pts.limit(500).withColumn("g", col("id") % 2)
    val convex = Analytics.convexHullPerGroup(grouped, "g").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    val concave = Analytics.convexHullPerGroup(grouped, "g",
        concaveThreshold = 1.8) // the reference's default N (GeometryHullTool.java:42)
      .collect().map(r => (r.getLong(0), (r.getDouble(2), r.getString(4)))).toMap
    val reader = new org.locationtech.jts.io.WKTReader()
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val local = pts.limit(500).collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    for (g <- 0L until 2L) {
      assert(concave(g)._1 <= convex(g) + 1e-9, s"group $g concave area must be <= convex")
      val hull = reader.read(concave(g)._2)
      for ((id, lon, lat) <- local if id % 2 == g)
        assert(hull.covers(gf.createPoint(new org.locationtech.jts.geom.Coordinate(lon, lat))),
          s"point $id outside concave hull of group $g")
    }
  }

  test("tileCover covers exactly the grid cells intersecting each envelope") {
    import spark.implicits._
    val envs = Tables.regionBoxes(10).map { case (id, a, b, c, d) => (id, a, b, c, d) }
      .toDF("env_id", "lon_min", "lon_max", "lat_min", "lat_max")
    val bits = 6
    val got = Analytics.KdeKernel // touch to avoid unused warning; no-op
    val cover = Tiling.tileCover(envs, bits).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for ((id, lonMin, lonMax, latMin, latMax) <- Tables.regionBoxes(10)) {
      val x0 = GeoCodec.bucketLon(lonMin, bits); val x1 = GeoCodec.bucketLon(lonMax, bits)
      val y0 = GeoCodec.bucketLat(latMin, bits); val y1 = GeoCodec.bucketLat(latMax, bits)
      val want = (for (tx <- x0 to x1; ty <- y0 to y1) yield (tx, ty)).toSet
      val gotTiles = cover.filter(_._1 == id).map(t => (t._2, t._3)).toSet
      assert(gotTiles == want, s"envelope $id")
      // tile_id consistency with the point-form tile id
      for ((_, tx, ty, tid) <- cover.filter(_._1 == id))
        assert(tid == GeoCodec.curve2d(bits).index(Array(tx, ty)))
    }
  }

  test("cellIdsForEnvelope explode matches TieredStrategy directly") {
    import spark.implicits._
    val envs = Tables.regionBoxes(8).toDF("env_id", "lon_min", "lon_max", "lat_min", "lat_max")
    val got = envs.select(col("env_id"),
        explode(Tiling.gw_cell_ids_envelope(col("lon_min"), col("lon_max"),
          col("lat_min"), col("lat_max"))).as("cell"))
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.toString).toSeq).toMap
    for ((id, lonMin, lonMax, latMin, latMax) <- Tables.regionBoxes(8)) {
      val want = GeoCodec.spatial.getInsertionIds(Array(
        graft.index.NumericData(lonMin, lonMax), graft.index.NumericData(latMin, latMax)))
        .map(_.toSeq).sortBy(_.toString)
      assert(got(id) == want, s"envelope $id")
    }
  }

  test("mosaicMerge: no-data-override is order-independent") {
    import spark.implicits._
    val tiles = Seq(
      (1L, Array[Byte](0, 2, 0, 4)),
      (1L, Array[Byte](1, 0, 0, 9)),
      (1L, Array[Byte](0, 0, 3, 0)),
      (2L, Array[Byte](5, 5))).toDF("tile", "payload")
    val got = Tiling.mosaicMerge(tiles, "tile", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(got(1L) == Seq[Byte](1, 2, 3, 4))
    assert(got(2L) == Seq[Byte](5, 5))
  }

  test("subsample keeps exactly one lowest-id row per occupied tile") {
    val bits = 6
    val got = Ops.subsample(pts, "id", bits).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = localPts.map { case (id, lon, lat) =>
      (GeoCodec.bucketLon(lon, bits), GeoCodec.bucketLat(lat, bits), id)
    }.groupBy(t => (t._1, t._2)).map { case ((tx, ty), rows) => (rows.map(_._3).min, tx, ty) }.toSet
    assert(got.toSet == want)
  }

  test("approx stats: HLL within 5% of exact, CMS overestimates truth") {
    val df = pages.select(col("doc_id"), col("lang"))
    val exact = df.select(countDistinct(col("doc_id"))).collect()(0).getLong(0)
    val approx = df.select(approx_count_distinct(col("doc_id"), 0.01)).collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
    // count-min sketch: estimate >= true frequency for each lang
    val sketch = df.select(count_min_sketch(col("lang"), lit(0.01), lit(0.99), lit(42)))
      .collect()(0).getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketch))
    val trueCounts = df.groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    for ((lang, cnt) <- trueCounts)
      assert(cms.estimateCount(lang) >= cnt)
  }

  test("minimalBinHistogram Aggregator: distributed Ben-Haim/Tom-Tov quantiles") {
    // same seeded stream as the ported NumericHistogramTest, but pushed
    // through the typed Aggregator over 8 partitions — per-partition
    // streaming histograms merged by Algorithm 2 (only nbins-sized
    // buffers cross the wire, never the data)
    val r = new java.util.Random(347)
    val values = Seq.fill(10000)(2500 + r.nextDouble() * 99998.0)
    import spark.implicits._
    val df = values.toDF("v").repartition(8)
    val h = Analytics.minimalBinHistogram(df, "v")
    assert(h.totalCount == 10000)
    assert(math.abs(h.cdf(2500) - 0.0) < 0.001)
    assert(math.abs(h.cdf(102500) - 1.0) < 0.001)
    assert(math.abs(h.cdf(52500) - 0.5) < 0.02)
    // merge order widens the band slightly vs the single-stream golden
    // tolerances; the reference's own statistics tests merge partials
    // under the same approximation contract
    assert(math.abs(h.quantile(0.25) / 1000.0 - 27) < 1.0)
    assert(math.abs(h.quantile(0.5) / 1000.0 - 52) < 1.5)
    assert(math.abs(h.quantile(0.75) / 1000.0 - 78) < 1.5)
  }

  test("DistortionGroupManagementTest port: per-group jump selection + retention") {
    import spark.implicits._
    // the reference's exact scenario (DistortionGroupManagementTest
    // setup: big jump for grp1 between counts 2 and 3, for grp2 between
    // 1 and 2; a wrong-batch entry must not participate)
    val dist = Seq(
      ("grp1", "b1", 1, 0.1), ("grp2", "b1", 1, 0.1),
      ("grp1", "b1", 2, 0.2), ("grp2", "b1", 2, 0.3),
      ("grp1", "b1", 3, 0.4), ("grp2", "b1", 3, 0.4),
      ("grp1", "b2", 3, 0.05) // BatchIdQuery excludes this
    ).toDF("group_id", "batch_id", "cluster_count", "distortion")
    val best = Analytics.bestGroupCount(dist.where($"batch_id" === "b1"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(best == Map("grp1" -> 3, "grp2" -> 2))

    // retention: only the winning clustering's centroids survive per group
    val cents = Seq(
      ("grp1", 2, "fred"), ("grp1", 2, "barney"),
      ("grp1", 3, "pearl"), ("grp1", 3, "chip"), ("grp1", 3, "dino"),
      ("grp2", 2, "wilma"), ("grp2", 2, "betty"), ("grp2", 3, "bammbamm")
    ).toDF("group_id", "cluster_count", "name")
    val kept = Analytics.retainBestGroupCentroids(
        cents, dist.where($"batch_id" === "b1"))
      .select("name").collect().map(_.getString(0)).toSet
    assert(kept == Set("pearl", "chip", "dino", "wilma", "betty"))

    // ties resolve to the SMALLEST count (the reference's strict-> scan)
    val tied = Seq(("g", 1, 0.2), ("g", 2, 0.4))
      .toDF("group_id", "cluster_count", "distortion")
    assert(Analytics.bestGroupCount(tied).collect()(0).getInt(1) == 1)
  }
}
