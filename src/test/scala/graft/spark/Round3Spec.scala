package graft.spark

import org.apache.spark.sql.functions._

/** Round-3 hardening: the KDE CDF with no small-distinct-weight
  * assumption, pyramid KDE, and the dedup caps checked against EXACT
  * (uncapped) semantics instead of their own oracle mirror. */
class Round3Spec extends SparkTestBase {
  import spark.implicits._

  // ------------------------------------------------- distributed prefix sum

  test("distributedCumCounts: exact on an all-distinct-weights table, any size") {
    // every weight distinct — the round-2 plan would have broadcast an
    // O(cells) table and sorted it through one task
    val wcnts = (0 until 5000)
      .map(i => ((i * 2654435761L) % 1000003L, 1L)) // shuffled distinct weights
      .toDF("weight", "wcnt").repartition(8)
    val got = Analytics.distributedCumCounts(wcnts, Seq.empty)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getLong(3)))).toMap
    val sorted = wcnts.collect().map(_.getLong(0)).sorted
    sorted.zipWithIndex.foreach { case (w, i) =>
      assert(got(w) == ((i.toLong, sorted.length.toLong)), s"weight $w")
    }
  }

  test("distributedCumCounts: grouped variant matches per-group prefix sums") {
    val wcnts = (for (g <- 0 until 3; i <- 0 until 200)
      yield (g, ((i + g) * 48271L) % 99991L, (i % 3 + 1).toLong))
      .toDF("level", "weight", "wcnt").repartition(8)
    val got = Analytics.distributedCumCounts(wcnts, Seq("level"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), (r.getLong(3), r.getLong(4)))).toMap
    val local = wcnts.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    for (g <- 0 until 3) {
      val grp = local.filter(_._1 == g).sortBy(_._2)
      val total = grp.map(_._3).sum
      var cum = 0L
      for ((_, w, c) <- grp) {
        assert(got((g, w)) == ((cum, total)), s"group $g weight $w")
        cum += c
      }
    }
  }

  test("kdeHeatmap plan: no unpartitioned window ordered by weight, at any weight cardinality") {
    // fixture where EVERY occupied cell has a distinct weight: distinct
    // doc counts per cell via id-triangular placement
    val pts = Tables.synthPages(spark, 3000).repartition(4)
    // inspect the LAZY dataflow: the public kdeHeatmap checkpoints its
    // result (to release the weight cache), which truncates the plan
    val (q, wCache) = Analytics.kdeHeatmapLazy(pts, bits = 6)
    val plan = q.queryExecution.executedPlan.toString
    // an unpartitioned window over the weight table prints its ORDER key
    // (weight) as the FIRST windowspecdefinition argument; partitioned
    // windows lead with their partition columns
    val bad = """windowspecdefinition\(weight#\d+L? ASC""".r
    assert(bad.findFirstIn(plan).isEmpty,
      s"found a global window ordered by weight:\n${plan.take(2000)}")
    // and the result still equals the single-sort oracle
    val rows = q.collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
    val ordered = rows.map { case ((tx, ty), (w, _)) => (w, tx, ty) }.sorted
    val idx = ordered.zipWithIndex.toMap
    val n = ordered.length
    rows.foreach { case ((tx, ty), (w, pr)) =>
      val want = if (n == 1) 0.0 else idx((w, tx, ty)).toDouble / (n - 1)
      assert(pr == want, s"cell ($tx,$ty)")
    }
    wCache.unpersist()
  }

  // ----------------------------------------------------------- pyramid KDE

  test("kdeMultiLevel equals per-level kdeHeatmap + per-level max normalization") {
    val pts = Tables.synthPages(spark, 2000).repartition(4)
    val got = Analytics.kdeMultiLevel(pts, minBits = 3, maxBits = 5).collect()
      .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    var checked = 0
    for (bits <- 3 to 5) {
      val level = Analytics.kdeHeatmap(pts, bits).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
      val maxw = level.values.map(_._1).max
      for (((tx, ty), (w, pr)) <- level) {
        val (gw, gn, gp) = got((bits, tx, ty))
        assert(gw == w && gp == pr, s"level $bits cell ($tx,$ty)")
        assert(gn == w.toDouble / maxw, s"level $bits norm ($tx,$ty)")
        checked += 1
      }
    }
    assert(checked == got.size, "no extra cells beyond the per-level heatmaps")
  }

  // ----------------------- dedup caps vs EXACT (uncapped) ground truth

  test("ngramJaccard cap: capped ⊆ uncapped with identical jaccards; only all-hot-shingle pairs missing") {
    val docs = Tables.synthDocs(spark, 60)
    val n = 3; val tau = 0.5; val maxDf = 5L
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    val uncapped = asMap(TextOps.ngramJaccardPairs(docs, "doc_id", "text", n, tau))
    val capped = asMap(TextOps.ngramJaccardPairs(docs, "doc_id", "text", n, tau, maxDf = maxDf))
    // capped is a subset with bit-identical jaccard values
    capped.foreach { case (k, jac) =>
      assert(uncapped.contains(k) && uncapped(k) == jac, s"pair $k")
    }
    // any pair the cap dropped must share ONLY hot shingles (df > maxDf)
    val df = TextOps.shingles(docs, "doc_id", "text", n)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sh = TextOps.shingles(docs, "doc_id", "text", n).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    for (k <- uncapped.keySet -- capped.keySet) {
      val shared = sh(k._1) intersect sh(k._2)
      assert(shared.nonEmpty && shared.forall(s => df(s) > maxDf),
        s"pair $k dropped despite a rare shared shingle")
    }
    // and on THIS corpus the planted near-dups survive the cap
    assert(capped.nonEmpty)
  }

  // -------------------------------------------- stats-driven index choice

  test("queryBestStats beats the uniformity chooser on time-degenerate data") {
    // every row's timestamp sits INSIDE the queried day: the time
    // dimension is selective in the key universe (uniformity loves it)
    // but worthless in the data — the reference's motivating case for
    // histogram-driven index choice (ChooseBestMatchIndexQueryStrategy)
    val base = java.sql.Timestamp.valueOf("2024-03-15 06:00:00").getTime
    val rows = (0 until 2000).map { i =>
      val lon = ((i * 7919) % 36000) / 100.0 - 180.0
      val lat = ((i * 104729) % 17000) / 100.0 - 85.0
      (i.toLong, lon, lat, new java.sql.Timestamp(base + (i % 3600) * 1000L))
    }.toDF("event_id", "lon", "lat", "ts")
    val store = MultiIndex.encode(rows)
    val (lonMin, lonMax, latMin, latMax) = (0.0, 36.0, 0.0, 36.0)
    val t0 = java.sql.Timestamp.valueOf("2024-03-15 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-03-16 00:00:00")

    // uniformity picks the spatial-temporal index (tiny universe fraction)
    val (uniChoice, uniRows) = MultiIndex.queryBest(store,
      lonMin, lonMax, latMin, latMax, Some(t0), Some(t1))
    assert(uniChoice == "spatial_temporal",
      s"fixture should fool the uniformity chooser (got $uniChoice)")

    // the store's own histograms reveal spatial scans fewer actual rows
    val histSp = MultiIndex.prefixHistogram(store, "cell_id", MultiIndex.SpatialHistPrefix)
    val histSt = MultiIndex.prefixHistogram(store, "cell_id_st", MultiIndex.STHistPrefix)
    val (statChoice, statRows, (spEst, stEst)) = MultiIndex.queryBestStats(store,
      lonMin, lonMax, latMin, latMax, t0, t1, histSp, histSt)
    assert(statChoice == "spatial", s"stats chooser picked $statChoice (est sp=$spEst st=$stEst)")
    assert(spEst < stEst)

    // ground truth: the spatial prefilter really does scan fewer rows
    val spScan = store.where(SpatialPlanner.rangesPredicate(col("cell_id"),
      SpatialPlanner.spatialBoxRanges(lonMin, lonMax, latMin, latMax))).count()
    val stScan = store.where(SpatialPlanner.rangesPredicate(col("cell_id_st"),
      SpatialPlanner.stBoxRanges(lonMin, lonMax, latMin, latMax, t0.getTime, t1.getTime))).count()
    assert(spScan < stScan, s"spatial prefilter $spScan rows vs st $stScan")

    // both choosers return the identical exact result
    val want = rows.where(col("lon").between(lonMin, lonMax) &&
      col("lat").between(latMin, latMax) && col("ts").between(t0, t1))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(uniRows.select("event_id").collect().map(_.getLong(0)).toSet == want)
    assert(statRows.select("event_id").collect().map(_.getLong(0)).toSet == want)
    assert(want.nonEmpty)
  }

  // ------------------------------------------------ copy-on-write delete

  test("deleteByQuery: rewrites only affected buckets, recommits lineage, idempotent") {
    val dir = graft.TestTmp.dir("graft-delete").toString
    val pages = Tables.synthPages(spark, 4000)
      .select(col("doc_id"), col("url"), col("lon"), col("lat"), col("text"))
    Ingest.run(spark, pages, dir, Ingest.Config(numBuckets = 8, batchSize = 8))
    val before = Ingest.readStore(spark, dir)
    val total = before.count()
    // victims live in ONE url-hash bucket, so only that bucket is affected
    val victims = before.where(col("bucket") === 3)
      .select("url").limit(50).collect().map(_.getString(0)).toSeq
    assert(victims.size == 50)
    def bucketFiles(b: Int): Set[(String, Long)] = {
      val d = java.nio.file.Paths.get(s"$dir/data/bucket=$b")
      val it = java.nio.file.Files.list(d).iterator()
      val out = Set.newBuilder[(String, Long)]
      while (it.hasNext) {
        val p = it.next()
        out += ((p.getFileName.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis))
      }
      out.result()
    }
    val untouchedBefore = bucketFiles(5)

    val lin = Ingest.deleteByQuery(spark, dir, col("url").isin(victims: _*))
    assert(lin.map(_.bucket) == Seq(3), lin.toString)
    val after = Ingest.readStore(spark, dir)
    assert(after.count() == total - 50)
    assert(after.where(col("url").isin(victims: _*)).count() == 0)
    // untouched buckets: identical files, not rewritten
    assert(bucketFiles(5) == untouchedBefore)
    // lineage recommit matches a fresh recompute (the stats callback)
    val b3 = after.where(col("bucket") === 3)
    assert(lin.head.rows == b3.count())
    val xorWant = b3.agg(expr("bit_xor(xxhash64(text))")).collect()(0).getLong(0)
    assert(lin.head.textChecksum == xorWant)
    val linDf = Ingest.readLineage(spark, dir)
      .where(col("bucket") === 3).collect()
    assert(linDf.length == 1 && linDf(0).getAs[Long]("rows") == lin.head.rows)
    // the same delete again touches nothing
    assert(Ingest.deleteByQuery(spark, dir, col("url").isin(victims: _*)).isEmpty)
    // surviving store keeps its sorted-run contract queryable
    assert(Ops.spatialBoxQuery(after, -90, 0, -40, 40).count() ==
      after.where(col("lon").between(-90, 0) && col("lat").between(-40, 40)).count())
  }

  test("deleteByIds probes the alt index: only id-bearing buckets rewritten") {
    val dir = graft.TestTmp.dir("graft-alt").toString
    val pages = Tables.synthPages(spark, 2000)
      .select(col("doc_id"), col("url"), col("lon"), col("lat"), col("text"))
    Ingest.run(spark, pages, dir,
      Ingest.Config(numBuckets = 8, batchSize = 8, altIndexCol = Some("doc_id")))
    val store = Ingest.readStore(spark, dir)
    val total = store.count()
    // ids drawn from exactly two buckets
    val byBucket = store.select("bucket", "doc_id").collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(1)).sorted.take(5)).toMap
    val targets = byBucket.keys.toSeq.sorted.take(2)
    val ids = targets.flatMap(byBucket(_))
    def files(b: Int): Set[(String, Long)] = {
      val d = java.nio.file.Paths.get(s"$dir/data/bucket=$b")
      val it = java.nio.file.Files.list(d).iterator()
      val out = Set.newBuilder[(String, Long)]
      while (it.hasNext) {
        val p = it.next()
        out += ((p.getFileName.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis))
      }
      out.result()
    }
    val untouched = byBucket.keys.toSeq.sorted.drop(2).map(b => b -> files(b)).toMap

    val lin = Ingest.deleteByIds(spark, dir, ids)
    assert(lin.map(_.bucket).sorted == targets, lin.toString)
    val after = Ingest.readStore(spark, dir)
    assert(after.count() == total - ids.size)
    assert(after.where(col("doc_id").isin(ids: _*)).count() == 0)
    untouched.foreach { case (b, f) => assert(files(b) == f, s"bucket $b rewritten") }
    // stale alt entries are harmless AND cheap: the rerun match-confirms
    // against the store (0 matching rows) and becomes a no-op — no bucket
    // rewrite at all (round 4: previously it rewrote identical contents)
    val rewritten = lin.map(_.bucket).map(b => b -> files(b)).toMap
    assert(Ingest.deleteByIds(spark, dir, ids).isEmpty)
    rewritten.foreach { case (b, f) => assert(files(b) == f, s"bucket $b rewritten on no-op rerun") }
    assert(Ingest.readStore(spark, dir).count() == total - ids.size)
  }

  test("deleteByIds scans buckets ingested after the alt build (stale index cannot hide them)") {
    val dir = graft.TestTmp.dir("graft-altstale").toString
    val pages = Tables.synthPages(spark, 1600)
      .select(col("doc_id"), col("url"), col("lon"), col("lat"), col("text"))
    // first run crashes after one batch: 4 of 8 buckets committed, and
    // its inline alt index covers only those 4
    intercept[RuntimeException] {
      Ingest.run(spark, pages, dir, Ingest.Config(numBuckets = 8, batchSize = 4,
        failAfterBatches = 1, altIndexCol = Some("doc_id")))
    }
    // the resume maintains no alt index: the late buckets stay uncovered
    val resumed = Ingest.run(spark, pages, dir, Ingest.Config(numBuckets = 8, batchSize = 4))
    assert(resumed.nonEmpty)
    val store = Ingest.readStore(spark, dir)
    val total = store.count()
    val lateBucket = resumed.head.bucket
    val victim = store.where(col("bucket") === lateBucket)
      .select("doc_id").limit(1).collect()(0).getLong(0)
    // the alt index has never heard of this id — the uncovered-bucket
    // scan must still find and delete it
    val lin = Ingest.deleteByIds(spark, dir, Seq(victim))
    assert(lin.map(_.bucket) == Seq(lateBucket), lin.toString)
    assert(Ingest.readStore(spark, dir).count() == total - 1)
    assert(Ingest.readStore(spark, dir).where(col("doc_id") === victim).count() == 0)
  }

  test("readStore recovers a bucket a crashed delete left retired") {
    val dir = graft.TestTmp.dir("graft-delrec").toString
    val pages = Tables.synthPages(spark, 1000)
      .select(col("doc_id"), col("url"), col("lon"), col("lat"), col("text"))
    Ingest.run(spark, pages, dir, Ingest.Config(numBuckets = 4, batchSize = 4))
    val total = Ingest.readStore(spark, dir).count()
    // simulate a crash between the delete's two swap renames: the live
    // bucket was renamed aside and the staged one never moved in
    val dd = java.nio.file.Paths.get(s"$dir/data")
    java.nio.file.Files.move(dd.resolve("bucket=2"), dd.resolve(".bucket=2.retired"))
    // a raw parquet read silently misses the bucket (dot-dirs invisible)…
    assert(spark.read.parquet(s"$dir/data").count() < total)
    // …but the store API restores it before reading
    assert(Ingest.readStore(spark, dir).count() == total)
    assert(java.nio.file.Files.exists(dd.resolve("bucket=2")))
  }

  test("range merge ops: ported ByteArrayRangeTest union vectors") {
    def b(s: String) = s.getBytes("UTF-8")
    val bar1 = (b("232"), b("332")); val bar2 = (b("282"), b("300"))
    val bar3 = (b("272"), b("340")); val bar4 = (b("392"), b("410"))
    def show(rs: Seq[(Array[Byte], Array[Byte])]) =
      rs.map { case (s, e) => (new String(s, "UTF-8"), new String(e, "UTF-8")) }
    // UNION, both insertion orders → [(232,340), (392,410)]
    for (order <- Seq(Seq(bar4, bar3, bar1, bar2), Seq(bar1, bar4, bar2, bar3))) {
      assert(show(SpatialPlanner.mergeRanges(order)) ==
        Seq(("232", "340"), ("392", "410")), order.toString)
    }
  }

  test("textRange: ported FilterableTextRangeConstraintTest truth table") {
    val docs = Seq("fReddog", "RedDog", "reddog", "RodDog", "SidDog", "ridDog", "roddOg")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def got(start: String, end: String, cs: Boolean): Set[String] =
      TextOps.textRange(docs, "text", start, end, cs)
        .select("text").collect().map(_.getString(0)).toSet
    // equals, case-sensitive: only the exact value
    assert(got("RedDog", "RedDog", cs = true) == Set("RedDog"))
    // equals, case-insensitive: both casings, never the 'f'-prefixed one
    assert(got("RedDog", "RedDog", cs = false) == Set("RedDog", "reddog"))
    // range, case-sensitive: RedDog..SadDog keeps RedDog and RodDog only
    assert(got("RedDog", "SadDog", cs = true) == Set("RedDog", "RodDog"))
    // range, case-insensitive: roddOg and ridDog fold into the range too
    assert(got("RedDog", "SadDog", cs = false) ==
      Set("RedDog", "reddog", "RodDog", "ridDog", "roddOg"))
  }

  // --------------------------------------- corpus split & per-host cap

  test("hashSplit: exact duplicates share a fold; cuts respected; no shuffle") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon"), (4L, ""), (5L, "zeta"))
      .toDF("doc_id", "text")
    val q = TextOps.hashSplit(docs, "text", pctTrain = 80, pctVal = 10)
    val m = q.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m(1L) == m(2L), "identical text must land in the same fold")
    assert(m.values.toSet.subsetOf(Set("train", "val", "test")))
    // content-keyed: the assignment is a pure function of the text
    val again = TextOps.hashSplit(docs.repartition(3), "text", 80, 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == m)
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"))
    // fold fractions converge on a big corpus
    val big = Tables.synthDocs(spark, 3000)
    val frac = TextOps.hashSplit(big, "text", 80, 10)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(frac("train") / 3000.0 - 0.80) < 0.05, frac.toString)
    assert(math.abs(frac("val") / 3000.0 - 0.10) < 0.04, frac.toString)
  }

  test("capPerKey: k lowest rows per key survive; group limit pushed below the shuffle") {
    val df = (for (k <- 0 until 5; i <- 0 until 20)
      yield (k.toString, (i * 37 + k) % 100L)).toDF("host", "doc_id")
    val q = TextOps.capPerKey(df, "host", "doc_id", k = 3)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = df.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).iterator
      .flatMap { case (_, rows) => rows.sortBy(_._2).take(3) }.toSet
    assert(got == want)
    // WindowGroupLimit caps the per-key rows BEFORE the window shuffle
    assert(q.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      q.queryExecution.executedPlan.toString.take(1200))
  }

  // ------------------------------------------------- dateline box query

  test("spatialBoxQuery wraps the antimeridian: coarse ranges cover both sides") {
    // if the longitude bin split did NOT fire, the coarse cell-range
    // prefilter would drop one side before the fine filter ever ran
    val pts = Seq((1L, 170.0, 10.0), (2L, -170.0, -10.0), (3L, 0.0, 0.0),
      (4L, 149.9, 0.0), (5L, -149.9, 0.0), (6L, 160.0, 45.0))
      .toDF("doc_id", "lon", "lat")
    val got = Ops.spatialBoxQuery(pts, 150.0, -150.0, -40.0, 40.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L)) // both sides kept; inside-gap and out-of-lat dropped
  }

  // ------------------------------------- histogram-equalized scan splits

  test("balancedScanPartitions: equalized splits balance a skewed store with no sampling pass") {
    // 90% of rows in a 2°×2° hot box, 10% spread world-wide
    val hot = (col("id") % 10) < 9
    val base = spark.range(20000).select(
      col("id").as("doc_id"),
      when(hot, lit(10.0) + (col("id") % 200).cast("double") / 100.0)
        .otherwise((col("id") % 360).cast("double") - 180.0 + 0.25).as("lon"),
      when(hot, lit(40.0) + (col("id") % 170).cast("double") / 100.0)
        .otherwise((col("id") % 170).cast("double") - 85.0 + 0.25).as("lat"))
    val store = base.withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat")))
    val hist = MultiIndex.prefixHistogram(store, "cell_id", prefixLen = 4)
    val fullExtent = Seq((Array[Byte](0), Array.fill(17)(0xff.toByte)))
    val nSplits = 12
    val out = Ops.balancedScanPartitions(store, "cell_id", hist, fullExtent, nSplits, nSplits)

    // split → partition is 1:1 (hash steering) and actual rows balance
    val perPart = out.groupBy(spark_partition_id().as("part"), col("split_id"))
      .agg(count(lit(1)).as("n")).collect()
    assert(perPart.map(_.getInt(0)).distinct.length == nSplits)
    assert(perPart.map(_.getInt(1)).distinct.length == nSplits)
    assert(perPart.length == nSplits, "a partition holds rows of exactly one split")
    val counts = perPart.map(_.getLong(2))
    assert(counts.sum == 20000)
    val mean = counts.sum.toDouble / nSplits
    assert(counts.max / mean < 2.0, s"equalized imbalance ${counts.max / mean}")

    // the naive equal-key-width split of the same store is wildly skewed:
    // every key shares the point-tier byte, so 12 equal-width key ranges
    // reduce to equal-width buckets of the NEXT key byte
    val b2 = conv(hex(substring(col("cell_id"), 2, 1)), 16, 10).cast("int")
    val uniform = store.groupBy((b2 * nSplits / 256).cast("int").as("b"))
      .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
    assert(uniform.max / mean > 4.0, s"uniform imbalance only ${uniform.max / mean}")

    // no sampling pass: the shuffle is plain hash partitioning, never the
    // sampled RangePartitioning of repartitionByRange
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning"), plan.take(1000))
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan.take(1000))
  }

  // ----------------------------------------------- fused media features

  test("mediaFeatureColumns equals the mapPartitions stub and fuses into codegen") {
    // fixture exercises empty payloads and high (non-ASCII) byte values
    val rows = Seq(
      (1L, Array[Byte](0x00, 0x7f, -1, -128, 0x41)),
      (2L, Array.emptyByteArray),
      (3L, Array.tabulate(300)(i => (i * 97 % 256).toByte)),
      (4L, Array[Byte](-1))).toDF("doc_id", "payload").repartition(2)
    val fused = Multimodal.mediaFeatureColumns(rows, "doc_id", "payload")
    val got = fused.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = MediaStub.extractFeatures(rows, "doc_id", "payload").collect()
      .map(f => f.id -> ((f.nBytes, f.headByte.toLong, f.checksum))).toMap
    assert(got == want)
    // the whole stage fuses: no object-mode hop in the plan
    val plan = fused.queryExecution.executedPlan.toString
    for (bad <- Seq("MapPartitions", "SerializeFromObject", "DeserializeToObject"))
      assert(!plan.contains(bad), s"object hop '$bad' in plan:\n${plan.take(1200)}")
    // `*(n)` prefixes are the WholeStageCodegen markers in AQE plan strings
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).nonEmpty, plan.take(1200))
  }

  test("queryBestLocality: narrow time + wide box prefers ST; wide time + tight box prefers spatial") {
    val base = java.sql.Timestamp.valueOf("2024-03-15 06:00:00").getTime
    val rows = (0 until 1000).map { i =>
      val lon = ((i * 7919) % 36000) / 100.0 - 180.0
      val lat = ((i * 104729) % 17000) / 100.0 - 85.0
      (i.toLong, lon, lat, new java.sql.Timestamp(base + (i % 86400) * 1000L))
    }.toDF("event_id", "lon", "lat", "ts")
    val store = MultiIndex.encode(rows)
    def want(lonMin: Double, lonMax: Double, latMin: Double, latMax: Double,
             t0: String, t1: String): (String, Set[Long]) = {
      val (choice, out, _) = MultiIndex.queryBestLocality(store,
        lonMin, lonMax, latMin, latMax,
        java.sql.Timestamp.valueOf(t0), java.sql.Timestamp.valueOf(t1))
      val exact = rows.where(col("lon").between(lonMin, lonMax) &&
          col("lat").between(latMin, latMax) &&
          col("ts").between(java.sql.Timestamp.valueOf(t0), java.sql.Timestamp.valueOf(t1)))
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(out.select("event_id").collect().map(_.getLong(0)).toSet == exact)
      (choice, exact)
    }
    // quarter-world box, one-hour window: the time dimension contributes
    // prefix bits the wide spatial dims cannot — locality picks ST
    val (c1, r1) = want(-90.0, 0.0, -45.0, 45.0,
      "2024-03-15 06:00:00", "2024-03-15 07:00:00")
    assert(c1 == "spatial_temporal", c1)
    assert(r1.nonEmpty)
    // tight box, year-wide window: time degrades to 0 fixed bits and
    // bounds the ST min — locality picks pure spatial
    val (c2, r2) = want(5.0, 8.0, 3.0, 17.0,
      "2024-01-01 00:00:00", "2024-12-31 00:00:00")
    assert(c2 == "spatial", c2)
    assert(r2.nonEmpty)
  }
}
