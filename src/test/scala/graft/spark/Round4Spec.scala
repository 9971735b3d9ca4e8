package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-4 additions: map-side Lloyd argmin (plan pins + semantics). */
class Round4Spec extends SparkTestBase {
  import spark.implicits._

  private def pts(n: Int): DataFrame =
    spark.range(n).select(col("id"),
      (col("id") * 37 % 360 - 180 + 0.01).as("lon"),
      (col("id") * 53 % 170 - 85 + 0.01).as("lat"))

  private def countExchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("kmeansAssignStats: argmin is map-side — exactly one Exchange (the k-row agg handoff)") {
    val cents = Seq((1L, -10.0, 0.0), (5L, 40.0, 20.0), (9L, 120.0, -40.0))
    val stats = Analytics.kmeansAssignStats(pts(500), cents)
    assert(countExchanges(stats) == 1,
      stats.queryExecution.executedPlan.toString.take(1500))
    val plan = stats.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Generate"),
      "no per-id window / explode may remain in the assignment pass")
  }

  test("NearestCentroid2D matches the explode+window argmin row for row (ties -> lowest cid)") {
    // co-located centroids force exact d2 ties
    val cents = Seq((3L, 10.0, 10.0), (7L, 10.0, 10.0), (2L, -50.0, -20.0))
    val p = pts(300)
    val got = p.select(col("id"),
        GeoFunctions.gw_nearest_centroid(col("lon"), col("lat"), cents)
          .getField("cid").as("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = p.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    for ((id, lon, lat) <- rows) {
      val best = cents.map { case (cid, cx, cy) =>
        ((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy), cid)
      }.min // (d2, cid) lexicographic == ORDER BY d2, cid
      assert(got(id) == best._2, s"id=$id")
    }
  }

  test("groupedAssignStats plan: no explode, one Exchange; grouped argmin honors parents") {
    val cents = Seq((0L, 1L, 0.0, 0.0), (0L, 2L, 100.0, 0.0),
      (1L, 3L, -100.0, 0.0), (1L, 4L, 0.0, 50.0))
    val assigned = pts(400).select((col("id") % 2).as("parent_id"),
      col("id"), col("lon"), col("lat"))
    val stats = Analytics.groupedAssignStats(assigned, cents)
    assert(countExchanges(stats) == 1,
      stats.queryExecution.executedPlan.toString.take(1500))
    val got = stats.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // every (parent, centroid) key must belong to that parent's centroid set
    got.keys.foreach { case (p, c) =>
      assert(cents.exists(t => t._1 == p && t._2 == c), s"($p, $c) crossed parents")
    }
    assert(got.values.sum == 400L)
  }

  test("distinctKnnToCentroids: no n-by-k rows — single window over assigned rows, WindowGroupLimit") {
    val cents = pts(200).where(col("id") % 40 === 0)
    val out = Ops.distinctKnnToCentroids(pts(200), "id", cents, "id", k = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), "no explode may appear")
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    assert("Window\\b".r.findAllIn(plan).size <= 2, // WindowGroupLimit prints Window* too
      plan.take(1500))
  }

  test("crashed delete (swap committed, lineage not): next delete-path recovery recommits lineage") {
    val dir = graft.TestTmp.dir("graft-del-lineage").toString
    val pages = Tables.synthPages(spark, 600)
    Ingest.run(spark, pages, dir, Ingest.Config(numBuckets = 4, batchSize = 4))
    val upd = Ingest.deleteByQuery(spark, dir, col("lang") === "de")
    assert(upd.nonEmpty)
    val goodRows = Ingest.readLineage(spark, dir)
      .select("bucket", "rows").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // simulate the crash window: a bucket's lineage rolled back to a stale
    // value with the in-progress marker (recording the planned buckets)
    // still on disk — exactly the state a kill between swap and
    // commitLineage leaves behind
    val b = upd.head.bucket
    val stale = upd.head.copy(rows = upd.head.rows + 999)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_lineage", f"bucket-$b%05d.json"),
      s"""{"bucket":$b,"rows":${stale.rows},"min_cell":"","max_cell":"","text_checksum":0,"wall_ms":0}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".delete-inprogress"),
      s"[$b]".getBytes("UTF-8"))
    // any later delete-path call recovers the stale lineage FIRST (here a
    // no-match delete: the recovery, not the rewrite, must fix it)
    assert(Ingest.deleteByQuery(spark, dir, lit(false)).isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, ".delete-inprogress")))
    val healed = Ingest.readLineage(spark, dir)
      .select("bucket", "rows").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(healed == goodRows, s"lineage not recommitted: $healed vs $goodRows")
    graft.FsUtils.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("inline alt maintenance: per-batch appends cover every bucket; deleteByIds rewrites only matching buckets, no rebuild, no full scan path") {
    val dir = graft.TestTmp.dir("graft-alt-inline").toString
    val pages = Tables.synthPages(spark, 800)
    Ingest.run(spark, pages, dir,
      Ingest.Config(numBuckets = 4, batchSize = 2, altIndexCol = Some("doc_id")))
    // ingest covered every bucket inline — the uncovered-bucket scan in
    // deleteByIds is statically empty, and no buildAltIndex call happened
    assert(Ingest.altCoveredBuckets(dir).contains((0 until 4).toSet))
    val ids = Seq(5L, 17L, 400L)
    val hit = Ingest.readStore(spark, dir).where(col("doc_id").isin(ids: _*))
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    assert(hit.nonEmpty && hit.size < 4, s"fixture should hit a strict subset: $hit")
    def listing(b: Int) = new java.io.File(s"$dir/data/bucket=$b").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = (0 until 4).map(b => b -> listing(b)).toMap
    val altBefore = new java.io.File(s"$dir/_alt").listFiles()
      .map(f => (f.getName, f.length)).toSet
    val upd = Ingest.deleteByIds(spark, dir, ids)
    assert(upd.map(_.bucket).toSet == hit, "exactly the id-holding buckets rewrite")
    for (b <- (0 until 4).toSet -- hit)
      assert(listing(b) == before(b), s"bucket $b must be untouched")
    assert(new java.io.File(s"$dir/_alt").listFiles().map(f => (f.getName, f.length)).toSet
      == altBefore, "deleteByIds must not rebuild or touch the alt store")
    assert(Ingest.readStore(spark, dir).where(col("doc_id").isin(ids: _*)).count() == 0)
    // re-running the same delete is a cheap no-op: stale alt entries are
    // match-confirmed against the store before any rewrite
    val before2 = (0 until 4).map(b => b -> listing(b)).toMap
    assert(Ingest.deleteByIds(spark, dir, ids).isEmpty)
    for (b <- 0 until 4) assert(listing(b) == before2(b))
    graft.FsUtils.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("alt catch-up: committed-but-uncovered buckets are appended by the next ingest run") {
    val dir = graft.TestTmp.dir("graft-alt-catchup").toString
    val pages = Tables.synthPages(spark, 600)
    val cfg = Ingest.Config(numBuckets = 4, batchSize = 2, altIndexCol = Some("doc_id"))
    Ingest.run(spark, pages, dir, cfg)
    // simulate a crash between lineage commit and alt append: coverage
    // rolled back to a single bucket
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_alt", "_graft_covered.json"), "[0]".getBytes("UTF-8"))
    // the next run has nothing to ingest but must close the coverage gap
    assert(Ingest.run(spark, pages, dir, cfg).isEmpty)
    assert(Ingest.altCoveredBuckets(dir).contains((0 until 4).toSet))
    // an id in a previously-uncovered bucket deletes through the probe
    val anyId = Ingest.readStore(spark, dir).where(col("bucket") =!= 0)
      .select("doc_id").limit(1).collect()(0).getLong(0)
    assert(Ingest.deleteByIds(spark, dir, Seq(anyId)).nonEmpty)
    assert(Ingest.readStore(spark, dir).where(col("doc_id") === anyId).count() == 0)
    graft.FsUtils.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("alt catch-up recovers a crash-retired bucket BEFORE reading, so its ids stay deletable") {
    val dir = graft.TestTmp.dir("graft-alt-retired").toString
    val pages = Tables.synthPages(spark, 600)
    val cfg = Ingest.Config(numBuckets = 4, batchSize = 4, altIndexCol = Some("doc_id"))
    Ingest.run(spark, pages, dir, cfg)
    // simulate a delete crash mid-swap on bucket 1 AND a lost alt append:
    // live dir renamed aside, coverage rolled back to exclude the bucket
    val data = java.nio.file.Paths.get(dir, "data")
    java.nio.file.Files.move(data.resolve("bucket=1"), data.resolve(".bucket=1.retired"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_alt", "_graft_covered.json"),
      "[0,2,3]".getBytes("UTF-8"))
    // next ingest run must restore the bucket FIRST, then append its alt
    // rows — covering an absent bucket would make its ids undeletable
    Ingest.run(spark, pages, dir, cfg)
    assert(java.nio.file.Files.exists(data.resolve("bucket=1")))
    assert(Ingest.altCoveredBuckets(dir).contains((0 until 4).toSet))
    val id = Ingest.readStore(spark, dir).where(col("bucket") === 1)
      .select("doc_id").limit(1).collect()(0).getLong(0)
    assert(Ingest.deleteByIds(spark, dir, Seq(id)).nonEmpty)
    assert(Ingest.readStore(spark, dir).where(col("doc_id") === id).count() == 0)
    graft.FsUtils.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("alt catch-up never covers a bucket hidden behind a FRESH delete marker") {
    val dir = graft.TestTmp.dir("graft-alt-freshmarker").toString
    val pages = Tables.synthPages(spark, 600)
    val cfg = Ingest.Config(numBuckets = 4, batchSize = 4, altIndexCol = Some("doc_id"))
    Ingest.run(spark, pages, dir, cfg)
    val data = java.nio.file.Paths.get(dir, "data")
    // a live delete owns the swap window: bucket 1 retired, marker FRESH
    java.nio.file.Files.move(data.resolve("bucket=1"), data.resolve(".bucket=1.retired"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".delete-inprogress"),
      "[1]".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_alt", "_graft_covered.json"),
      "[0,2,3]".getBytes("UTF-8"))
    // ingest defers to the marker: bucket 1 stays retired and must NOT be
    // marked covered (its dir is absent — covering it would read 0 rows)
    Ingest.run(spark, pages, dir, cfg)
    assert(!java.nio.file.Files.exists(data.resolve("bucket=1")))
    assert(Ingest.altCoveredBuckets(dir).contains(Set(0, 2, 3)))
    // once the delete's window is gone, the next run recovers AND covers
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, ".delete-inprogress"))
    Ingest.run(spark, pages, dir, cfg)
    assert(java.nio.file.Files.exists(data.resolve("bucket=1")))
    assert(Ingest.altCoveredBuckets(dir).contains((0 until 4).toSet))
    graft.FsUtils.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a torn .delete-inprogress body does not wedge the delete path") {
    val dir = graft.TestTmp.dir("graft-torn-marker").toString
    Ingest.run(spark, Tables.synthPages(spark, 300), dir, Ingest.Config(numBuckets = 2, batchSize = 2))
    // "[1x" actually throws in the int parse ("[1," would split to just
    // ["1"] and never exercise the guard); torn bodies can only come from
    // pre-atomic-write markers — new writes are tmp + atomic move
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".delete-inprogress"),
      "[1x".getBytes("UTF-8"))
    // recovery tolerates the corrupt body, removes the marker, proceeds
    assert(Ingest.deleteByQuery(spark, dir, lit(false)).isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, ".delete-inprogress")))
    graft.FsUtils.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("ensureBucketedByTile reuses a committed store (no data rewrite) and re-registered tables join exchange-free") {
    val root = graft.TestTmp.dir("graft-ensure-bucketed").toString
    val a = pts(400).select(col("id").as("doc_id"), col("lon"), col("lat"))
    val b = pts(400).where(col("id") % 3 === 0)
      .select(col("id").as("doc_id"), col("lon"), col("lat"))
    Ingest.ensureBucketedByTile(spark, a, "r4_eb_a", s"$root/a", 4, 6)
    Ingest.ensureBucketedByTile(spark, b, "r4_eb_b", s"$root/b", 4, 6)
    def listing(sub: String) = new java.io.File(s"$root/$sub").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val (la, lb) = (listing("a"), listing("b"))
    // drop the catalog entries (a fresh session's state) and re-ensure:
    // data files must be untouched, tables re-registered over them
    spark.sql("DROP TABLE r4_eb_a"); spark.sql("DROP TABLE r4_eb_b")
    Ingest.ensureBucketedByTile(spark, a, "r4_eb_a", s"$root/a", 4, 6)
    Ingest.ensureBucketedByTile(spark, b, "r4_eb_b", s"$root/b", 4, 6)
    assert(listing("a") == la && listing("b") == lb,
      "committed bucketed stores must not be rewritten on reuse")
    val joined = spark.table("r4_eb_a")
      .join(spark.table("r4_eb_b").select(col("tx"), col("ty"), col("doc_id").as("b_id")),
        Seq("tx", "ty"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"re-registered bucketed join must not shuffle:\n${plan.take(1200)}")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE r4_eb_a"); spark.sql("DROP TABLE r4_eb_b")
    graft.FsUtils.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("kdeTilesMultiLevel: per-level tiles agree cell-for-cell with kdeMultiLevel; gaps zero-filled") {
    val p = pts(700)
    val tiles = Analytics.kdeTilesMultiLevel(p, minBits = 3, maxBits = 5, tileBits = 2)
      .collect()
    val want = Analytics.kdeMultiLevel(p, minBits = 3, maxBits = 5)
      .collect().map { r =>
        (r.getInt(0), r.getLong(1), r.getLong(2)) ->
          (r.getLong(3), r.getDouble(4), r.getDouble(5))
      }.toMap
    assert(tiles.nonEmpty)
    var covered = 0
    for (r <- tiles) {
      val (level, txT, tyT) = (r.getInt(0), r.getLong(1), r.getLong(2))
      val k = level - 2
      val side = 1 << k
      // by NAME: band order is (weight, pct, norm), aligned with kdeTiles
      val w = r.getSeq[Long](r.fieldIndex("band_weight"))
      val n = r.getSeq[Double](r.fieldIndex("band_norm"))
      val pr = r.getSeq[Double](r.fieldIndex("band_pct"))
      assert(w.size == side * side && n.size == side * side && pr.size == side * side)
      for (pos <- 0 until side * side) {
        val cx = (txT << k) + (pos % side)
        val cy = (tyT << k) + (pos / side)
        want.get((level, cx, cy)) match {
          case Some((ww, nn, pp)) =>
            assert(w(pos) == ww && n(pos) == nn && pr(pos) == pp,
              s"level=$level tile=($txT,$tyT) pos=$pos")
            covered += 1
          case None =>
            assert(w(pos) == 0L && n(pos) == 0.0 && pr(pos) == 0.0,
              s"absent cell must be zero-filled: level=$level tile=($txT,$tyT) pos=$pos")
        }
      }
    }
    assert(covered == want.size, "every multi-level cell must land in exactly one tile slot")
  }

  test("balancedScanPartitions end to end: conservation, split==partition bijection, near-equal partitions") {
    val store = pts(4000)
      .withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat")))
    val hist = MultiIndex.prefixHistogram(store, "cell_id", MultiIndex.SpatialHistPrefix)
    val ranges = SpatialPlanner.spatialBoxRanges(-180, 180, -90, 90)
    val out = Ops.balancedScanPartitions(store, "cell_id", hist, ranges,
      minSplits = 8, maxSplits = 8)
    // conservation: the full-extent ranges keep every row exactly once
    assert(out.count() == 4000)
    assert(out.select("id").distinct().count() == 4000)
    // split i IS partition i (hash-steered repartition, no collisions)
    val byPart = out.withColumn("p", org.apache.spark.sql.functions.spark_partition_id())
      .groupBy("split_id", "p").count().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(byPart.map(_._1).distinct.length == byPart.length,
      "each split must land in exactly one partition")
    assert(byPart.map(_._2).distinct.length == byPart.length,
      "no two splits may share a partition")
    // near-equal sizing under the stored histogram (uniform-ish fixture):
    // every partition within a loose band of the ideal mean
    val counts = byPart.map(_._3)
    val mean = counts.sum.toDouble / counts.length
    assert(counts.forall(c => c >= 0.3 * mean && c <= 2.5 * mean),
      s"unbalanced partitions: ${counts.mkString(",")}")
  }

  test("NearestCentroidVec argmin agrees with a driver-side exact recompute") {
    val emb = spark.range(60).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        d => (col("id") * 13 + d * 7) % 100 / 10.0).as("embedding"))
    val q = emb.select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("v"))
    val rows = q.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    // four data vectors as centroids; cids 9 and 4 are byte-identical, so
    // every vector nearest to them ties and must take the lower cid
    val byId = rows.toMap
    val cents = Seq((9L, byId(3L)), (4L, byId(3L).clone()), (2L, byId(11L)), (6L, byId(42L)))
    val gotAssign = q.select(col("vec_id"),
        GeoFunctions.gw_nearest_centroid_vec(col("v"), cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, v) <- rows) {
      val best = cents.map { case (cid, cv) =>
        val d2 = v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
        (d2, cid)
      }.min
      assert(gotAssign(id) == best._2, s"vec $id")
    }
  }
}
