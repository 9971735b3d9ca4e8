package graft.spark

import org.apache.spark.sql.functions._

/** Round-2 hardening: distributed KDE CDF, DBSCAN loop hygiene, scale
  * guards, multi-index chooser, codegen'd fine filters, real raster
  * resample. */
class Round2Spec extends SparkTestBase {
  import spark.implicits._

  // ---------------------------------------------------------------- KDE

  test("kdeHeatmap: distributed CDF is bit-identical to global percent_rank") {
    val pts = Tables.synthPages(spark, 4000).repartition(4)
    // plan pin on the LAZY dataflow (public kdeHeatmap checkpoints, which
    // truncates the visible plan); values checked through the public path
    val (lazyDf, wCache) = Analytics.kdeHeatmapLazy(pts, bits = 5)
    val got = Analytics.kdeHeatmap(pts, bits = 5)
    // the per-cell rank window must be PARTITIONED by weight (only the
    // tiny distinct-weight aggregate may sort globally; AQE may still
    // coalesce this test's small shuffle, so the plan shape is the pin)
    val plan = lazyDf.queryExecution.executedPlan.toString
    wCache.unpersist()
    val rankLine = plan.linesIterator.find(_.contains("row_number()")).getOrElse("")
    assert(rankLine.contains("windowspecdefinition(weight"),
      s"cell-rank window must partition by weight:\n$rankLine")
    // brute-force oracle: percent_rank over (weight, tx, ty)
    val rows = got.collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val ordered = rows.toSeq.map { case ((tx, ty), (w, _)) => (w, tx, ty) }.sorted
    val n = ordered.size
    ordered.zipWithIndex.foreach { case ((w, tx, ty), idx) =>
      val want = if (n == 1) 0.0 else idx.toDouble / (n - 1)
      assert(rows((tx, ty))._2 == want, s"cell ($tx,$ty) pr mismatch")
    }
  }

  // ------------------------------------------------------------- DBSCAN

  test("dbscan: long label-propagation chain (>=10 rounds) stays correct") {
    // a 25-point chain: min-label propagation advances one hop per round
    val chain = (0 until 25).map(i => (i.toLong, 0.1 * i, 0.0)).toDF("id", "lon", "lat")
    val out = Analytics.dbscan(chain, "id", eps = 0.15, minPts = 2).collect()
    assert(out.length == 25)
    assert(out.forall(_.getLong(1) == 0L), "single chain must converge to one cluster (min id 0)")
    assert(out.forall(_.getString(2) == "core"))
  }

  // ------------------------------------------------------- scale guards

  test("embeddingNearDupPairs guard trips above maxRows") {
    val emb = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      TextOps.embeddingNearDupPairs(emb, "vec_id", "embedding", tau = 0.5, maxRows = 2)
    }
    assert(e.getMessage.contains("embeddingLshPairs"))
    // under the limit it still works
    assert(TextOps.embeddingNearDupPairs(emb, "vec_id", "embedding", tau = 0.5, maxRows = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("annBruteForce guard trips above maxQueries") {
    val emb = (0L until 5L).map(i => (i, Seq(i.toFloat, 1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ops.annBruteForce(emb, "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L), k = 2,
        maxQueries = 2)
    }
    assert(e.getMessage.contains("annIvf"))
  }

  test("ngramJaccard df-cap drops hot shingles from candidates only") {
    // doc 0/1 share a rare shingle; docs 2..9 all share one hot shingle
    val hot = (2 until 10).map(i => (i.toLong, s"common common common tail$i x y"))
    val docs = (Seq((0L, "alpha beta gamma delta"), (1L, "alpha beta gamma epsilon")) ++ hot)
      .toDF("doc_id", "text")
    val capped = TextOps.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.1, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the hot 'common common common' shingle (df=8) is dropped: docs 2..9
    // pair only if they share a rarer shingle ('common common tailX' etc are
    // unique) — so only the rare-shingle pair (0,1) survives
    assert(capped == Set((0L, 1L)))
    val uncapped = TextOps.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((0L, 1L)) && uncapped.size > 1)
  }

  // -------------------------------------------------------- multi-index

  test("multi-index chooser: ST index for timed queries, spatial otherwise; results exact") {
    val events = spark.range(3000)
      .select(col("id").as("event_id"),
        (((col("id") * col("id") * 3 + col("id") * 7919) % 36000L) / 100.0 - 180.0).as("lon"),
        (((col("id") * col("id") * 7 + col("id") * 104729) % 17000L) / 100.0 - 85.0).as("lat"),
        timestamp_seconds(lit(1704067200L) + pmod(col("id") * 86543L, lit(360L * 86400L))).as("ts"))
    val store = MultiIndex.encode(events).cache()
    val t0 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-02-10 00:00:00")
    val (name, res) = MultiIndex.queryBest(store, -60, 60, -40, 40, Some(t0), Some(t1))
    assert(name == "spatial_temporal", "a narrow time slice must route to the ST index")
    val want = events.where(col("lon").between(-60, 60) && col("lat").between(-40, 40) &&
        col("ts") >= lit(t0) && col("ts") <= lit(t1))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(res.select("event_id").collect().map(_.getLong(0)).toSet == want && want.nonEmpty)
    val (name2, res2) = MultiIndex.queryBest(store, -60, 60, -40, 40)
    assert(name2 == "spatial")
    val want2 = events.where(col("lon").between(-60, 60) && col("lat").between(-40, 40))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(res2.select("event_id").collect().map(_.getLong(0)).toSet == want2)
    store.unpersist()
  }

  // ---------------------------------------------------------- SQL surface

  test("gw_time_bin SQL accepts a unit argument and rejects unknown units") {
    GeoFunctions.register(spark)
    spark.range(3)
      .select(timestamp_seconds(lit(1700000000L) + col("id") * 3000000L).as("ts"))
      .createOrReplaceTempView("r2_ts")
    val got = spark.sql("SELECT gw_time_bin(ts, 'MONTH') AS m, gw_time_bin(ts) AS y FROM r2_ts")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val want = spark.table("r2_ts")
      .select(GeoFunctions.gw_time_bin(col("ts"), graft.index.TimeUnits.Month),
        GeoFunctions.gw_time_bin(col("ts")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == want.toSeq)
    val e = intercept[Exception] {
      spark.sql("SELECT gw_time_bin(ts, 'FORTNIGHT') FROM r2_ts").collect()
    }
    assert(e.getMessage.contains("FORTNIGHT") || e.getMessage.contains("Fortnight"))
  }

  // -------------------------------------------------------------- codegen

  test("hot fine filters run inside WholeStageCodegen") {
    val geom = new org.locationtech.jts.io.WKTReader()
      .read("POLYGON ((0 0, 40 0, 20 30, 0 0))")
    val pts = Tables.synthPages(spark, 500)
    val q = Ops.spatialGeometryQuery(
      pts.withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat"))), geom)
    val plan = q.queryExecution.executedPlan.toString
    val filterLines = plan.linesIterator.filter(_.contains("Filter")).toSeq
    val coversLine = filterLines.find(_.toLowerCase.contains("stcoverspoint"))
    assert(coversLine.isDefined, s"expected stcoverspoint filter:\n${filterLines.mkString("\n")}")
    assert("""\*\(\d+\)""".r.findFirstIn(coversLine.get).isDefined,
      s"stcoverspoint filter must be inside a WholeStageCodegen stage:\n${coversLine.get}")
    // sanity: codegen result equals interpreted expectation
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val want = pts.select("doc_id", "lon", "lat").collect().collect {
      case r if geom.intersects(gf.createPoint(
        new org.locationtech.jts.geom.Coordinate(r.getDouble(1), r.getDouble(2)))) => r.getLong(0)
    }.toSet
    assert(q.select("doc_id").collect().map(_.getLong(0)).toSet == want)
  }

  test("CellInRanges filter is codegen'd") {
    // > OrChainLimit ranges forces the binary-search expression
    val ranges = (0 until 40).map { i =>
      (Array(31.toByte, (i * 6).toByte), Array(31.toByte, (i * 6 + 2).toByte))
    }
    val df = Tables.synthPages(spark, 100)
      .withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat")))
      .where(GeoFunctions.gw_cell_in_ranges(col("cell_id"),
        ranges.map(_._1).toArray, ranges.map(_._2).toArray))
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.toLowerCase.contains("cellinranges"))
    assert(line.isDefined && """\*\(\d+\)""".r.findFirstIn(line.get).isDefined,
      s"cellinranges must be codegen'd:\n${line.getOrElse(plan.take(800))}")
    df.count() // and it must execute
  }

  // ------------------------------------------------------------- geohash

  test("geohash matches the canonical public vectors and round-trips") {
    import graft.index.Geohash
    // canonical vectors (geohash.org / Wikipedia)
    assert(Geohash.encode(10.40744, 57.64911, 11) == "u4pruydqqvj")
    assert(Geohash.encode(-5.6, 42.6, 5) == "ezs42")
    assert(Geohash.encode(-0.1278, 51.5074, 7) == Geohash.encode(-0.1278, 51.5074, 7))
    // decode bounds contain the encoded point, and re-encoding any corner
    // interior point reproduces the prefix
    for ((lon, lat) <- Seq((10.40744, 57.64911), (-5.6, 42.6), (0.0, 0.0), (-179.99, -84.99))) {
      val gh = Geohash.encode(lon, lat, 8)
      val (x0, x1, y0, y1) = Geohash.decodeBounds(gh)
      assert(lon >= x0 && lon < x1 && lat >= y0 && lat < y1, s"$gh bounds")
    }
    // expression form, codegen'd
    val df = Seq((10.40744, 57.64911)).toDF("lon", "lat")
      .select(GeoFunctions.gw_geohash(col("lon"), col("lat"), 11))
    assert(df.collect()(0).getString(0) == "u4pruydqqvj")
  }

  // ------------------------------------------------------------ bucketing

  test("bucketed tile stores join with zero exchanges") {
    val wh = graft.TestTmp.dir("graft-bucketed")
    val pts = Tables.synthPages(spark, 3000).select("doc_id", "lon", "lat")
    Ingest.writeBucketedByTile(pts, "r2_store_a", s"$wh/a", numBuckets = 8, bits = 6)
    Ingest.writeBucketedByTile(pts.where(col("doc_id") % 3 === 0),
      "r2_store_b", s"$wh/b", numBuckets = 8, bits = 6)
    val a = spark.table("r2_store_a")
    val b = spark.table("r2_store_b")
    val joined = a.join(b.select(col("tx"), col("ty"), col("doc_id").as("b_id")), Seq("tx", "ty"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed tile join must not shuffle:\n${plan.take(1200)}")
    // and it computes the right thing
    val want = pts.withColumn("tx", GeoFunctions.gw_tile_x(col("lon"), 6))
      .withColumn("ty", GeoFunctions.gw_tile_y(col("lat"), 6))
      .join(pts.where(col("doc_id") % 3 === 0)
        .withColumn("tx", GeoFunctions.gw_tile_x(col("lon"), 6))
        .withColumn("ty", GeoFunctions.gw_tile_y(col("lat"), 6))
        .select(col("tx"), col("ty"), col("doc_id").as("b_id")), Seq("tx", "ty"))
      .count()
    assert(joined.count() == want && want > 0)
    spark.sql("DROP TABLE r2_store_a")
    spark.sql("DROP TABLE r2_store_b")
  }

  // ----------------------------------------------------------- visibility

  test("visibility expressions: Accumulo ColumnVisibility truth table") {
    import Visibility.{parse, evaluate}
    val auths = Set("A", "B")
    val table = Seq(
      "" -> true, "A" -> true, "C" -> false,
      "A&B" -> true, "A&C" -> false, "A|C" -> true, "C|D" -> false,
      "(A|C)&B" -> true, "A&(C|D)" -> false, "(A&B)|(C&D)" -> true,
      "A|B&C" -> true,   // & binds tighter: A | (B&C)
      "C|A&B" -> true, "C|D&B" -> false)
    for ((expr, want) <- table)
      assert(evaluate(parse(expr), auths) == want, s"'$expr'")
    intercept[IllegalArgumentException](parse("A&&B"))
    intercept[IllegalArgumentException](parse("(A"))
    // column form runs codegen'd and matches
    val df = table.map(_._1).zipWithIndex.map { case (e, i) => (i.toLong, e) }.toDF("id", "vis")
    val got = Visibility.filter(df, "vis", Seq("A", "B"))
      .select("id").collect().map(_.getLong(0)).toSet
    val want = table.zipWithIndex.collect { case ((_, true), i) => i.toLong }.toSet
    assert(got == want)
  }

  test("rangeJoinBinned equals the BETWEEN theta join, without the nested loop") {
    val rows = spark.range(2000).select(col("id"), (col("id") % 977 * 1.5).as("v"))
    val iv = (0 until 30).map(i => (i.toLong, i * 40.0, i * 40.0 + 130.0)).toDF("iv_id", "lo", "hi")
    val got = Ops.rangeJoinBinned(rows, "v", iv, "lo", "hi", binWidth = 50.0)
      .select("id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rows.join(iv, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
    // candidate generation is an equi-join on the bin key, not a nested loop
    val plan = Ops.rangeJoinBinned(rows, "v", iv, "lo", "hi", binWidth = 50.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
  }

  test("incrementalDedup: bloom prefilter + exact verify — exact output, no false positives") {
    val docs = (0L until 400L).map(i => (i, s"text-${i % 300}")).toDF("doc_id", "text")
    // new = 0..199, seen = 250..399 (texts repeat mod 300: new doc i matches
    // iff some seen doc has i % 300 == j % 300)
    val out = TextOps.incrementalDedup(
      docs.where(col("doc_id") < 200), docs.where(col("doc_id") >= 250),
      "doc_id", "text", expectedSeen = 1000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val seenTexts = (250L until 400L).map(i => s"text-${i % 300}").toSet
    val want = (0L until 200L).filter(i => seenTexts(s"text-${i % 300}")).toSet
    assert(out == want && want.nonEmpty)
  }

  test("asofJoin: latest at-or-before match, ties resolved, misses null") {
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    val left = Seq((10L, 1L, ts(5)), (11L, 1L, ts(20)), (12L, 2L, ts(3)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, ts(1), 100L), (1L, ts(5), 101L), (1L, ts(6), 102L), (2L, ts(4), 103L))
      .toDF("user_id", "ts", "event_id")
    val got = Ops.asofJoin(left, right, "user_id", "ts", "event_id")
      .select(col("event_id"), col("__m.event_id").as("m"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    // 10@t5: right rows t1,t5 qualify → latest = 101 (same-ts counts)
    // 11@t20: latest = 102; 12@t3 user 2: right at t4 is later → null
    assert(got == Map(10L -> Some(101L), 11L -> Some(102L), 12L -> None))
  }

  // ------------------------------------- sessions, clusters, stream dedup

  test("sessionize: gap rule against a hand-built timeline") {
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    val ev = Seq(
      (0L, 1L, ts(0)), (1L, 1L, ts(10)), (2L, 1L, ts(50)),   // user 1: gap at 40min
      (3L, 2L, ts(0)), (4L, 2L, ts(29)), (5L, 2L, ts(58))    // user 2: all within 29min gaps
    ).toDF("event_id", "user_id", "ts")
    val got = Ops.sessionize(ev, "user_id", "event_id", "ts", gapMicros = 30L * 60 * 1000000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((1L, 1L) -> 2L, (1L, 2L) -> 1L, (2L, 1L) -> 3L))
  }

  test("streaming spatial enrichment: stream-static polygon join per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Double, Double)]
    val regions = Tables.regionGeoms(10)
    val enriched = graft.streaming.StreamIngest.enrichWithRegions(
      in.toDF().toDF("id", "lon", "lat"), regions)
    val q = enriched.writeStream.format("memory").queryName("r2_enrich")
      .outputMode("append").start()
    // one point inside region r000, one in the middle of nowhere
    val (id0, lonMin, _, latMin, _) = Tables.regionBoxes(1).head
    in.addData((1L, lonMin + 1.0, latMin + 1.0), (2L, 179.9, -84.9))
    q.processAllAvailable()
    val got = spark.table("r2_enrich").select("id", "region_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    q.stop()
    assert(got.exists(_ == (1L, id0)), s"point in $id0 must be enriched; got ${got.toSeq}")
    // (179.9, -84.9) is outside every regionBoxes(10) box — it must NOT
    // be enriched at all (a containment false-positive would fail here)
    assert(!got.exists(_._1 == 2L), s"outside-all-regions point enriched: ${got.toSeq}")
  }

  test("streaming dedup drops repeated content within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = graft.streaming.StreamIngest.dedupedStream(
      in.toDF().toDF("ts", "text"), "ts", "text", watermarkDelay = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("r2_dedup")
      .outputMode("append").start()
    def t(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    in.addData((t(0), "aa"), (t(1), "bb"), (t(2), "aa"))
    q.processAllAvailable()
    in.addData((t(3), "aa"), (t(4), "cc"))
    q.processAllAvailable()
    val texts = spark.table("r2_dedup").select("text").collect().map(_.getString(0)).sorted
    q.stop()
    assert(texts.toSeq == Seq("aa", "bb", "cc"), s"got ${texts.toSeq}")
  }

  // --------------------------------------- compound key & secondary index

  test("store row_key is one concatenated byte key; files sorted by it") {
    val dir = graft.TestTmp.dir("graft-rowkey").toString
    Ingest.run(spark, Tables.synthPages(spark, 2000), dir,
      Ingest.Config(numBuckets = 2, batchSize = 2, saltCount = 8, targetPartitions = 4))
    val store = Ingest.readStore(spark, dir)
    val rows = store.select("salt", "cell_id", "row_key").collect()
    for (r <- rows) {
      val key = r.getAs[Array[Byte]](2)
      assert(key(0) == r.getInt(0).toByte, "first byte must be the salt")
      assert(key.drop(1).sameElements(r.getAs[Array[Byte]](1)), "tail must be the cell id")
    }
    // every parquet file holds a sorted run of row_key
    import spark.implicits._
    val unsortedFiles = store.select(input_file_name().as("f"), col("row_key"))
      .as[(String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val keys = it.map(_._2).toArray
        val sorted = keys.sliding(2).forall {
          case Array(a, b) => java.util.Arrays.compareUnsigned(a, b) <= 0
          case _ => true
        }
        (f, sorted)
      }.collect()
    assert(unsortedFiles.forall(_._2), s"unsorted run in ${unsortedFiles.filterNot(_._2)}")
  }

  test("secondary numeric index: byte-range scan equals a value BETWEEN") {
    val df = spark.range(5000)
      .select(col("id"), ((col("id") * 7919 % 1000) - 500).cast("double").as("v"))
    val idx = SecondaryIndex.build(df, "id", "v")
    val got = SecondaryIndex.queryRange(df, idx, "id", -123.0, 245.0)
      .select("id").collect().map(_.getLong(0)).toSet
    val want = df.where(col("v") >= -123.0 && col("v") <= 245.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want && want.nonEmpty)
    // lexicode is order-preserving including negatives (round-trip spot)
    for (v <- Seq(-1e9, -0.5, -0.0, 0.0, 0.5, 1e9))
      assert(graft.index.Lexicoders.decodeDouble(graft.index.Lexicoders.encodeDouble(v)) == v)
  }

  // --------------------------------------------------- Park & Oh hull

  test("concaveHullParkOh fuzz: covers all points, area <= convex, stays simple") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 20) {
      val n = 10 + rnd.nextInt(60)
      val coords = Array.fill(n)(new org.locationtech.jts.geom.Coordinate(
        rnd.nextInt(1000) / 10.0, rnd.nextInt(1000) / 10.0))
      val convex = new org.locationtech.jts.algorithm.ConvexHull(coords, gf).getConvexHull
      val hull = Hulls.concaveHullParkOh(coords, gf, 1.8)
      assert(hull.isValid, s"trial $trial: invalid geometry")
      assert(hull.getArea <= convex.getArea + 1e-9, s"trial $trial: area grew")
      for (c <- coords)
        assert(hull.covers(gf.createPoint(c)), s"trial $trial: point $c escaped the hull")
    }
  }

  test("concaveHullParkOh digs a qualifying inner point into the hull") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    def c(x: Double, y: Double) = new org.locationtech.jts.geom.Coordinate(x, y)
    // square + inner point near the bottom edge: decision distance 1,
    // edge/min-side = 10/sqrt(26) ≈ 1.96 > N=1.8 → dig; area 100 → 95
    val coords = Array(c(0, 0), c(10, 0), c(10, 10), c(0, 10), c(5, 1))
    val hull = Hulls.concaveHullParkOh(coords, gf, 1.8)
    assert(hull.getCoordinates.exists(p => p.x == 5 && p.y == 1), "inner point must become a vertex")
    assert(math.abs(hull.getArea - 95.0) < 1e-9, s"area ${hull.getArea}")
    // a farther point (ratio below N) must NOT be dug
    val hull2 = Hulls.concaveHullParkOh(Array(c(0, 0), c(10, 0), c(10, 10), c(0, 10), c(5, 4)), gf, 1.8)
    assert(math.abs(hull2.getArea - 100.0) < 1e-9)
    // invariant: every input point on or inside the hull
    for (p <- coords) assert(hull.covers(gf.createPoint(p)), s"$p outside")
  }

  // ---------------------------------------------------- raster resample

  test("resampleTilePayload: bilinear world-to-screen resample (hand-computed golden)") {
    val tileSize = 4
    // column gradient: pixel value = 20 * column, independent of row
    val src = Array.tabulate(tileSize * tileSize)(k => (k % 4 * 20).toByte)
    // source tile (2,2) at bits=2 covers lon [0,90), lat [0,90);
    // target tile (4,4) at bits=3 covers its west-south quadrant
    val out = Tiling.resampleTilePayload(src, tileSize, 0, 90, 0, 90, 0, 45, 0, 45)
    // u(i) = 0.5 i − 0.25 → interpolated values 0, 5, 15, 25 in every row
    for (j <- 0 until 4; i <- 0 until 4)
      assert((out(j * 4 + i) & 0xff) == Seq(0, 5, 15, 25)(i), s"pixel ($i,$j)")
    // constant payload is resample-invariant wherever covered
    val const = Tiling.resampleTilePayload(Array.fill(16)(100.toByte), tileSize,
      0, 90, 0, 90, 0, 45, 0, 45)
    assert(const.forall(b => (b & 0xff) == 100))
    // target pixels outside the source rect stay 0 (no-data)
    val disjoint = Tiling.resampleTilePayload(src, tileSize, 0, 90, 0, 90, -90, -45, 0, 45)
    assert(disjoint.forall(_ == 0))
  }

  test("rasterStats: per-tile pixel stats with no-data exclusion") {
    val tiles = Seq(
      (1L, Array[Byte](0, 10, 20, 30)),      // one no-data pixel
      (2L, Array[Byte](0, 0, 0, 0)),         // all no-data
      (3L, Array[Byte](255.toByte, 16, 15, 1))
    ).toDF("tile", "payload")
    val got = Tiling.rasterStats(tiles, "tile", "payload").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getLong(5),
        r.getSeq[Long](6)))).toMap
    // 10 → bin 0; 20 and 30 → bin 1
    assert(got(1L) == ((4L, 1L, 10, 30, 60L, Seq(1L, 2L, 0L) ++ Seq.fill(13)(0L))))
    assert(got(2L) == ((4L, 4L, 0, 0, 0L, Seq.fill(16)(0L))))
    val (n, n0, mn, mx, s, h) = got(3L)
    assert((n, n0, mn, mx, s) == ((4L, 0L, 1, 255, 287L)))
    assert(h(15) == 1 && h(1) == 1 && h(0) == 2)
  }

  test("resizeTilesResampled: downscale merges the four children into quadrants") {
    val tileSize = 4
    // four source tiles at bits=3 covering the bits=2 tile (2,2)'s quadrants,
    // each with a distinct constant payload
    val tiles = Seq(
      (4L, 4L, Array.fill(16)(10.toByte)), // west-south
      (5L, 4L, Array.fill(16)(20.toByte)), // east-south
      (4L, 5L, Array.fill(16)(30.toByte)), // west-north
      (5L, 5L, Array.fill(16)(40.toByte))  // east-north
    ).toDF("tx", "ty", "payload")
    val out = Tiling.resizeTilesResampled(tiles, bitsOld = 3, bitsNew = 2, tileSize = tileSize)
      .collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == graft.spark.GeoCodec.curve2d(2).index(Array(2L, 2L)))
    val p = out(0).getAs[Array[Byte]](1)
    // row 0..1 south (10 | 20), row 2..3 north (30 | 40); col 0..1 west
    for (j <- 0 until 4; i <- 0 until 4) {
      val want = (if (j < 2) 10 else 30) + (if (i < 2) 0 else 10)
      assert((p(j * 4 + i) & 0xff) == want, s"pixel ($i,$j): got ${p(j * 4 + i) & 0xff}")
    }
  }
}
