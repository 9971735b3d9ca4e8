package graft.spark

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import GeoFunctions._

/**
 * Resumable, lineage-checkpointed ingest: pages → SFC-encoded sorted store.
 *
 * The reference's ingest path (BaseDataStore.createWriter →
 * adapter.encode → getInsertionIds → sorted KV write + stats callbacks,
 * core/store/.../base/BaseDataStore.java:99-163) becomes one declarative
 * pipeline: derive `cell_id` via the codegen'd [[CellIdSpatial]] expression,
 * salt on a deterministic url hash (the reference's HashKeyIndexStrategy
 * hot-cell breaker, core/index/.../simple/HashKeyIndexStrategy.java:51-130),
 * range-split each batch on `cell_id` and write runs sorted by
 * (bucket, row_key). Each file then covers about 1/`targetPartitions` of
 * the cell keyspace, so the pushed `cell_id` range predicate skips row
 * groups by their parquet min/max stats (the salt byte leads `row_key`,
 * so a split on it would give every file the whole keyspace).
 *
 * The store opens from its own metadata: ingest records the read schema
 * once in `_schema.ddl`, and every store read ([[readStore]], the
 * mutation rewrites, `Snapshots.readStoreAsOf`) passes it to the parquet
 * reader, so no read runs a schema-inference job. A resumed ingest whose
 * read-back schema differs from the recorded one throws.
 *
 * Resumability contract (north rule: "resumable from checkpoint with
 * per-partition lineage + metrics"): the input is split into `numBuckets`
 * deterministic url-hash buckets — the stand-ins for Iceberg partitions.
 * Each completed bucket batch commits a JSON lineage record
 * (`_lineage/bucket-N.json`) carrying row count, min/max cell id, an
 * order-independent xor text checksum (the byte-identity witness), and wall
 * time. A restarted ingest skips every bucket with a committed record, so
 * at 100 TB a failed job re-reads only the unfinished partitions.
 */
object Ingest {

  final case class BucketLineage(
      bucket: Int, rows: Long, minCell: String, maxCell: String,
      textChecksum: Long, wallMs: Long)

  /** per-run knobs; `failAfterBatches` is a test hook simulating a crash.
    * `altIndexCol` enables INLINE alt-index maintenance: each committed
    * bucket batch appends its (id, bucket) rows to `_alt` and extends the
    * coverage metadata — the reference's DataStoreIndexWriter alt-index
    * callbacks at write time, so [[deleteByIds]] never needs a
    * full-store rebuild. */
  final case class Config(
      numBuckets: Int = 16,
      batchSize: Int = 4,
      saltCount: Int = 8,
      targetPartitions: Int = 32,
      failAfterBatches: Int = Int.MaxValue,
      altIndexCol: Option[String] = None) {
    // the compound row key spends exactly ONE byte on the salt prefix
    // (reference HashKeyIndexStrategy precision); a larger salt space
    // would silently truncate and break the row_key ordering invariant
    require(saltCount >= 1 && saltCount <= 256,
      s"saltCount must be in [1, 256] (one row_key prefix byte), got $saltCount")
  }

  private def lineageDir(outDir: String): Path = Paths.get(outDir, "_lineage")
  private def lineagePath(outDir: String, bucket: Int): Path =
    lineageDir(outDir).resolve(f"bucket-$bucket%05d.json")

  def completedBuckets(outDir: String): Set[Int] = {
    val d = lineageDir(outDir)
    if (!Files.exists(d)) Set.empty
    else {
      val s = Files.list(d)
      try {
        val it = s.iterator()
        val out = Set.newBuilder[Int]
        while (it.hasNext) {
          val name = it.next().getFileName.toString
          if (name.startsWith("bucket-") && name.endsWith(".json"))
            out += name.stripPrefix("bucket-").stripSuffix(".json").toInt
        }
        out.result()
      } finally s.close()
    }
  }

  /** Ingest `pages` (url, warc_ts, html, text, lang, lon, lat) into
    * `outDir`, skipping buckets already committed. Returns lineage of the
    * buckets written in THIS run. */
  def run(spark: SparkSession, pages: DataFrame, outDir: String,
          cfg: Config = Config()): Seq[BucketLineage] = {
    Files.createDirectories(lineageDir(outDir))
    val done = completedBuckets(outDir)
    val todo = (0 until cfg.numBuckets).filterNot(done.contains)
    // alt-index catch-up: a crash between a batch's lineage commit and its
    // alt append leaves committed buckets uncovered forever (resume skips
    // them) — close the gap with one bucket-pruned append before ingesting
    cfg.altIndexCol.foreach { id =>
      // recover crash-retired buckets BEFORE the catch-up read: a
      // mid-swap bucket's live dir is absent, so the append would find
      // zero rows yet mark the bucket covered — its ids then permanently
      // invisible to both the probe and the uncovered-bucket scan
      recoverRetiredBuckets(s"$outDir/data")
      // only catch up buckets whose LIVE dir exists: recovery defers to a
      // fresh delete marker (grace window), so a mid-swap bucket can still
      // be absent here — covering it would read zero rows and make its ids
      // covered-but-absent (permanently undeletable). An absent dir is
      // either that (caught up on a later run, after recovery) or a
      // genuinely empty bucket (nothing to cover; the uncovered-bucket
      // scan of it is a no-op).
      val missing = (done -- readCoveredBuckets(outDir)).toSeq.sorted
        .filter(b => Files.exists(Paths.get(outDir, "data", s"bucket=$b")))
      if (missing.nonEmpty) {
        println(s"[graft] ingest: appending alt rows for committed-but-uncovered " +
          s"buckets ${missing.mkString(",")} (crashed earlier run)")
        appendAltRows(spark, outDir, id, missing)
      }
    }
    val encoded = pages
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(cfg.numBuckets)).cast("int"))
      .withColumn("salt", pmod(xxhash64(col("url"), lit(1)), lit(cfg.saltCount)).cast("int"))
      .withColumn("cell_id", gw_cell_id(col("lon"), col("lat")))
      // the store's ACTUAL row key: one concatenated byte key, salt byte ‖
      // tiered cell id — CompoundIndexStrategy's composed key (reference
      // core/index/.../CompoundIndexStrategy.java composeByteArrays; the
      // salt byte is the HashKeyIndexStrategy partition prefix). Unsigned
      // byte order of row_key == (salt, cell_id) tuple order because the
      // prefix is fixed-width.
      .withColumn("row_key", compoundKey(col("salt"), col("cell_id")))
    // record the stored schema once (DDL): it is the store's READ schema
    // (readStore and every mutation read pass it to the parquet reader, so
    // no read infers one) and an emptied store's typed empty frame.
    // Recorded in the READ-BACK order: the parquet reader appends the
    // bucket partition column LAST, not where the ingest frame carries it
    val readBack = StructType(
      encoded.schema.fields.filterNot(_.name == "bucket") :+ encoded.schema("bucket"))
    val schemaFile = Paths.get(outDir, SchemaFile)
    if (Files.exists(schemaFile)) {
      // a resumed ingest must write the recorded schema: the reader applies
      // it to every file, so an extra column would be dropped and a retyped
      // one misread, silently
      val recorded = recordedSchema(outDir)
      def shape(s: StructType) = s.fields.toSeq.map(f => f.name -> readable(f.dataType))
      if (shape(readBack) != shape(recorded))
        throw new IllegalArgumentException(
          s"Ingest.run: the pages' schema ${readBack.toDDL} differs from the store's " +
            s"recorded $SchemaFile ${recorded.toDDL} at $outDir (names, order and " +
            "types must match to resume or append)")
    } else {
      // tmp + atomic move: a torn DDL would break every store read forever
      // (the existence guard above would never rewrite it)
      val tmp = Paths.get(outDir, SchemaFile + ".tmp")
      Files.write(tmp, readBack.toDDL.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, schemaFile, StandardCopyOption.ATOMIC_MOVE)
    }
    val written = Seq.newBuilder[BucketLineage]
    todo.grouped(cfg.batchSize).zipWithIndex.foreach { case (batch, bi) =>
      if (bi >= cfg.failAfterBatches)
        throw new RuntimeException(s"[test hook] simulated crash before batch $bi")
      val t0 = System.nanoTime()
      val slice = encoded.where(col("bucket").isin(batch: _*))
      // lineage metrics collected INSIDE the write pass via Dataset.observe
      // (per-bucket conditional aggregates; batch is a small fixed set) —
      // one scan per batch instead of write-then-re-aggregate
      val obs = org.apache.spark.sql.Observation(s"ingest-$bi-${System.nanoTime()}")
      val metricAggs = bucketMetricAggs(batch)
      // the observation sits ABOVE the range exchange: RangePartitioner
      // samples its child in a separate pass, which would double-count
      // metrics attached below it
      // split on cell_id, not row_key (whose leading salt byte would give
      // every file every cell): each file's cell_id min/max then spans
      // ~1/targetPartitions of the keyspace, so row-group stats skip it
      // under the pushed cell_id ranges.
      // bucket leads the within-partition sort so the dynamic-partition
      // writer's required ordering (partition columns first) is already
      // satisfied — otherwise it inserts its own non-stable sort by bucket
      // and the row_key runs inside each file are destroyed
      slice
        .repartitionByRange(cfg.targetPartitions, col("cell_id"))
        .observe(obs, metricAggs.head, metricAggs.tail: _*)
        .sortWithinPartitions(col("bucket"), col("row_key"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic") // only this batch's buckets
        .partitionBy("bucket")
        .parquet(s"$outDir/data")
      val m = obs.get
      val wallMs = (System.nanoTime() - t0) / 1000000
      for (b <- batch) {
        val lin = lineageFromMetrics(m, b, wallMs)
        commitLineage(outDir, lin)
        written += lin
      }
      // inline alt maintenance: the batch's (id, bucket) rows ride along
      // as an append — a bucket-pruned, column-pruned read of only the
      // files this batch just wrote, never a store scan
      cfg.altIndexCol.foreach(id => appendAltRows(spark, outDir, id, batch))
    }
    written.result()
  }

  /** the per-bucket conditional lineage aggregates (rows/min/max/xor). */
  private def bucketMetricAggs(buckets: Seq[Int]): Seq[org.apache.spark.sql.Column] =
    buckets.flatMap { b =>
      val in = col("bucket") === b
      Seq(
        count(when(in, 1)).as(s"rows_$b"),
        min(when(in, col("cell_id"))).as(s"min_$b"),
        max(when(in, col("cell_id"))).as(s"max_$b"),
        expr(s"bit_xor(CASE WHEN bucket = $b THEN xxhash64(text) ELSE 0L END)").as(s"xor_$b"))
    }

  /** lineage record from a metrics lookup (Observation map or agg row). */
  private def lineageFromMetrics(m: String => Any, b: Int, wallMs: Long): BucketLineage = {
    val rows = m(s"rows_$b").asInstanceOf[Long]
    def hex(key: String): String = m(key) match {
      case null => ""
      case bytes: Array[Byte] => graft.index.ByteUtils.toHex(bytes)
    }
    if (rows == 0) BucketLineage(b, 0L, "", "", 0L, wallMs)
    else BucketLineage(b, rows, hex(s"min_$b"), hex(s"max_$b"),
      m(s"xor_$b").asInstanceOf[Long], wallMs)
  }

  /** atomic commit: write temp file then move into place. */
  private def commitLineage(outDir: String, lin: BucketLineage): Unit = {
    val json =
      s"""{"bucket":${lin.bucket},"rows":${lin.rows},"min_cell":"${lin.minCell}",""" +
        s""""max_cell":"${lin.maxCell}","text_checksum":${lin.textChecksum},"wall_ms":${lin.wallMs}}"""
    val tmp = lineageDir(outDir).resolve(f"bucket-${lin.bucket}%05d.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, lineagePath(outDir, lin.bucket), StandardCopyOption.ATOMIC_MOVE)
  }

  /** single concatenated row key: 1 salt byte ‖ cell_id. REQUIRES
    * salt ∈ [0, 255] (Config enforces it): a wider salt would lexicode to
    * its HIGH hex digits here and collide. hex/unhex because ANSI mode
    * rejects a direct int→binary cast. */
  def compoundKey(salt: org.apache.spark.sql.Column,
                  cellId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // the prefix spends exactly ONE byte; lpad(hex(salt), 2) would
    // silently TRUNCATE a salt > 255 ('100' → '10', colliding with salt
    // 16 and breaking the row_key order invariant). Config enforces the
    // range for the ingest salt; external compositions must fail loudly
    // instead
    val guarded = when(salt.between(0, 255), salt)
      .otherwise(raise_error(format_string(
        "compoundKey: salt %s outside [0, 255] (one prefix byte)", salt)).cast("int"))
    concat(unhex(lpad(hex(guarded), 2, "0")), cellId)
  }

  /**
   * Write a tile-keyed store BUCKETED by its tile coordinates — the
   * co-location path for repeated tile joins: two tables bucketed the
   * same way join with NO exchange on either side (Spark reads matching
   * buckets pairwise), which at 100 TB removes the dominant shuffle from
   * every store⋈store tile join. Bucket files are sorted by the tile key,
   * so the sort-merge join needs no extra sort either. External table at
   * `path` (metastore entry `tableName`).
   */
  def writeBucketedByTile(df: DataFrame, tableName: String, path: String,
                          numBuckets: Int, bits: Int): Unit =
    df.withColumn("tx", gw_tile_x(col("lon"), bits))
      .withColumn("ty", gw_tile_y(col("lat"), bits))
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(numBuckets, "tx", "ty")
      .sortBy("tx", "ty")
      .format("parquet")
      .saveAsTable(tableName)

  /**
   * Idempotent twin of [[writeBucketedByTile]]: a COMMITTED store at
   * `path` (`_SUCCESS` present) is reused — only the catalog entry is
   * (re)registered as an external bucketed table over the existing
   * files, no data pass. The tile-bucketed store is an ingest-time
   * artifact; rebuilding it per query call would be a full write of both
   * join sides every time (callers key `path` on a corpus fingerprint so
   * a changed corpus gets a fresh store). `numBuckets`/`bits` must match
   * the committed layout — they are part of the artifact path contract.
   */
  def ensureBucketedByTile(spark: SparkSession, df: => DataFrame, tableName: String,
                           path: String, numBuckets: Int, bits: Int): Unit = {
    if (!new java.io.File(path, "_SUCCESS").isFile) {
      writeBucketedByTile(df, tableName, path, numBuckets, bits)
    } else {
      // data committed: register (or repoint) the external table over the
      // bucketed files — the bucket spec in the DDL matches the writer's,
      // so Spark still plans exchange-free bucket joins on (tx, ty)
      spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
      val cols = spark.read.parquet(path).schema
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(
        s"""CREATE TABLE `$tableName` ($cols) USING PARQUET
           |CLUSTERED BY (tx, ty) SORTED BY (tx, ty) INTO $numBuckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    }
  }

  /** read back the bucket-partitioned store (recovering any bucket a
    * crashed delete left mid-swap first — see recoverRetiredBuckets). */
  def readStore(spark: SparkSession, outDir: String): DataFrame = {
    recoverRetiredBuckets(s"$outDir/data")
    val dataDir = Paths.get(outDir, "data")
    // a fully-deleted store has no bucket dirs left (delete swaps remove
    // them); serve an EMPTY frame with the ingest-recorded schema instead
    // of letting parquet schema inference throw — the reference's store
    // returns an empty scan, not an error. One-level dir listing only.
    def hasBuckets: Boolean = Files.exists(dataDir) && {
      val s = Files.list(dataDir)
      try s.anyMatch(p => p.getFileName.toString.startsWith("bucket="))
      finally s.close()
    }
    if (!hasBuckets) typedEmptyStore(spark, outDir)
    else storeReader(spark, outDir).parquet(dataDir.toString)
  }

  /** the ingest-recorded schema as an empty frame — positionally identical
    * to a real bucket read (bucket partition column last). */
  private[spark] def typedEmptyStore(spark: SparkSession, outDir: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      recordedSchema(outDir))

  /** a parquet reader over this store's files that applies the recorded
    * `_schema.ddl` (without `bucket` for a lone bucket dir, which carries
    * no partition column), so building the frame runs no inference job. */
  private[spark] def storeReader(spark: SparkSession, outDir: String,
                                 withBucket: Boolean = true): DataFrameReader = {
    val s = recordedSchema(outDir)
    spark.read.schema(if (withBucket) s else StructType(s.filterNot(_.name == "bucket")))
  }

  /** `_schema.ddl` as the schema a parquet read infers: the file source
    * reads every column as nullable, and the DDL keeps the ingest frame's
    * NOT NULLs. */
  private def recordedSchema(outDir: String): StructType = {
    val schemaFile = Paths.get(outDir, SchemaFile)
    require(Files.exists(schemaFile),
      s"store at $outDir has no recorded $SchemaFile (pre-schema-file ingest?)")
    val ddl = new String(Files.readAllBytes(schemaFile), StandardCharsets.UTF_8)
    readable(StructType.fromDDL(ddl)).asInstanceOf[StructType]
  }

  /** `t` with every level nullable, as the parquet reader serves it. */
  private def readable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = readable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(readable(a.elementType), containsNull = true)
    case m: MapType => MapType(readable(m.keyType), readable(m.valueType), valueContainsNull = true)
    case other => other
  }

  // --------------------------------------------------------- alt index

  /** the coverage-metadata set as recorded (empty when absent). */
  private def readCoveredBuckets(outDir: String): Set[Int] = {
    val meta = Paths.get(outDir, "_alt", "_graft_covered.json")
    if (!Files.isRegularFile(meta)) Set.empty
    else {
      val s = new String(Files.readAllBytes(meta), "UTF-8").trim.stripPrefix("[").stripSuffix("]")
      if (s.isEmpty) Set.empty[Int] else s.split(",").map(_.trim.toInt).toSet
    }
  }

  /** bucket ids the committed alt index covers (None = no usable alt
    * index — absent, or a pre-coverage-metadata build). */
  private[spark] def altCoveredBuckets(outDir: String): Option[Set[Int]] = {
    val meta = Paths.get(outDir, "_alt", "_graft_covered.json")
    val hasAlt = Files.exists(Paths.get(outDir, "_alt", "_SUCCESS"))
    if (hasAlt && !Files.isRegularFile(meta))
      println(s"[graft] deleteByIds: alt index at $outDir/_alt has no coverage " +
        "metadata (built by an older version?) — falling back to the full " +
        "deleteByQuery scan; remove _alt and re-run Ingest.run with altIndexCol to rebuild it")
    if (!hasAlt || !Files.isRegularFile(meta)) None
    else Some(readCoveredBuckets(outDir))
  }

  /**
   * Append `buckets`' (id, bucket) rows to the ALT (data id → location)
   * index — the reference's optional secondary mapping written beside the
   * primary store (BaseDataStore alt-index path; DeleteWriterAltIndexTest
   * semantics) — and extend its coverage metadata. Reads ONLY the listed
   * buckets (partition-pruned) and only the two columns. Coverage commits
   * AFTER the data append (a crash in between leaves the buckets
   * uncovered → redundantly rescanned, never covered-but-absent). A
   * crash-resumed batch may append its rows twice — duplicate alt entries
   * are an over-approximation the probe's `distinct` absorbs.
   */
  private def appendAltRows(spark: SparkSession, outDir: String,
                            idCol: String, buckets: Seq[Int]): Unit = {
    if (buckets.isEmpty) return
    // coverage is derived from the rows the append ACTUALLY wrote (the
    // same observe-in-the-write-pass trick as run's lineage; the
    // observation sits above the range exchange so its sampling pass
    // cannot double-count): a bucket retired by a concurrent delete
    // between our existence check and the read contributes 0 rows and
    // stays UNCOVERED (redundantly rescanned later — harmless), never
    // covered-but-absent. Genuinely empty buckets also stay uncovered;
    // their rescan is a no-op over zero files.
    val obs = org.apache.spark.sql.Observation(s"alt-append-${System.nanoTime()}")
    val cntAggs = buckets.map(b => count(when(col("bucket") === b, 1)).as(s"n_$b"))
    storeReader(spark, outDir).parquet(s"$outDir/data")
      .where(col("bucket").isin(buckets: _*))
      .select(col(idCol), col("bucket"))
      .repartitionByRange(math.max(1, math.min(buckets.size, 8)), col(idCol))
      .observe(obs, cntAggs.head, cntAggs.tail: _*)
      .sortWithinPartitions(idCol)
      .write.mode("append").parquet(s"$outDir/_alt")
    val m = obs.get
    val written = buckets.filter(b => m(s"n_$b").asInstanceOf[Long] > 0)
    val covered = (readCoveredBuckets(outDir) ++ written).toSeq.sorted
    val tmp = Paths.get(outDir, "_alt", "_graft_covered.json.tmp")
    Files.write(tmp, covered.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(outDir, "_alt", "_graft_covered.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /**
   * Delete rows by data id THROUGH the alt index: the (pushdown-pruned)
   * alt probe yields the affected buckets, so only those buckets are
   * scanned and rewritten — no full-store scan to discover locations,
   * which at 100 TB is the difference between touching 3 partitions and
   * reading the corpus. Falls back to [[deleteByQuery]] when no alt
   * index exists. The alt index itself is left over-approximate: a stale
   * id maps to a bucket that no longer holds it, and the rewrite simply
   * finds no rows.
   */
  def deleteByIds(spark: SparkSession, outDir: String, ids: Seq[Long],
                  idCol: String = "doc_id"): Seq[BucketLineage] = {
    if (ids.isEmpty) return Seq.empty
    // this IS a delete path (single-deleter contract): recover any
    // crash-retired bucket (and stale lineage) before scanning, or ids
    // inside one would be invisible to both the probe and the
    // uncovered-bucket scan
    recoverStaleDelete(spark, outDir)
    val pred = col(idCol).isin(ids: _*)
    altCoveredBuckets(outDir) match {
      case None => deleteByQuery(spark, outDir, pred)
      case Some(covered) =>
        val probed = spark.read.parquet(s"$outDir/_alt")
          .where(pred).select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet
        // buckets ingested AFTER the alt build are invisible to the probe:
        // scan just those for matches (ids the stale index cannot locate)
        // readStore (not a raw parquet read) everywhere below: a
        // fully-emptied store must make this a no-op, never a
        // schema-inference error — stale alt rows can outlive every bucket
        val store = readStore(spark, outDir)
        val uncovered = (completedBuckets(outDir) -- covered).toSeq.sorted
        // buckets ingested AFTER the alt build: this scan already
        // match-CONFIRMS them, so they skip the candidate confirm below
        val extra =
          if (uncovered.isEmpty) Set.empty[Int]
          else store
            .where(col("bucket").isin(uncovered: _*)).where(pred)
            .select("bucket").distinct().collect().map(_.getInt(0)).toSet
        // stale alt entries over-approximate (ids deleted or moved by an
        // earlier rewrite still map to their old bucket): confirm the
        // PROBED candidates with one bucket-pruned scan (the uncovered
        // scan above already confirmed `extra` — re-confirming would read
        // those buckets twice) and rewrite only buckets holding actual
        // matches — a re-run of the same delete is then a cheap no-op
        // instead of a file-identical bucket rewrite
        val cand = (probed -- extra).toSeq.sorted
        val confirmed =
          if (cand.isEmpty) Set.empty[Int]
          else store
            .where(col("bucket").isin(cand: _*)).where(pred)
            .select("bucket").distinct().collect().map(_.getInt(0)).toSet
        val buckets = (confirmed ++ extra).toSeq.sorted
        if (buckets.isEmpty) Seq.empty
        else rewriteBuckets(spark, outDir, buckets, pred)
    }
  }

  /** crash recovery: a `.bucket=N.retired` dir with no live twin means a
    * delete died mid-swap — restore the original bucket (dot-dirs are
    * invisible to the parquet reader, so without this the bucket's rows
    * silently vanish from every scan). Runs on every store open, so a
    * reader self-heals a CRASHED delete — except while a live delete owns
    * the swap window (fresh in-progress marker, below): during that
    * window, and for up to the grace period after a hard crash, a reader
    * can still observe the store minus an in-swap bucket. Delete paths
    * recover unconditionally. */
  private[spark] def recoverRetiredBuckets(dataDir: String, force: Boolean = false): Unit = {
    val dd = Paths.get(dataDir)
    // a LIVE delete (in-progress marker fresher than the grace window)
    // owns the retired dirs — a READER recovering them mid-swap would
    // make the deleter's staged rename fail, so readers only recover
    // past a STALE marker (crashed delete). The delete path itself
    // recovers unconditionally (`force`): a single concurrent deleter is
    // assumed (no lock service), so any marker it finds is a crash's.
    val marker = dd.resolveSibling(DeleteMarker)
    // read the marker age defensively: the deleter can remove the marker
    // between our existence check and the mtime read (treat as no marker)
    val markerFresh =
      try Files.exists(marker) &&
        System.currentTimeMillis - Files.getLastModifiedTime(marker).toMillis < DeleteGraceMs
      catch { case _: java.nio.file.NoSuchFileException => false }
    if (!force && markerFresh) return
    if (Files.exists(dd)) {
      val ls = Files.list(dd)
      try {
        val it = ls.iterator()
        while (it.hasNext) {
          val p = it.next()
          val name = p.getFileName.toString
          if (name.startsWith(".bucket=") && name.endsWith(".retired")) {
            val live = dd.resolve(name.stripPrefix(".").stripSuffix(".retired"))
            if (!Files.exists(live)) Files.move(p, live, StandardCopyOption.ATOMIC_MOVE)
            else {
              // the live twin exists ⇒ this bucket's swap COMPLETED and the
              // retired dir is its pre-image: when a snapshot mutation is
              // open, preserve it in the pending archive (history would
              // otherwise be silently lost for every version below the
              // crashed one); dropped only when no pending accepts it
              val b = name.stripPrefix(".bucket=").stripSuffix(".retired").toInt
              val outDir = dd.getParent
              val archived = outDir != null &&
                Snapshots.archiveRetired(outDir.toString, p, b)
              if (!archived) graft.FsUtils.deleteRecursively(p)
            }
          }
        }
      } finally ls.close()
    }
  }

  private val DeleteMarker = ".delete-inprogress"
  private val SchemaFile = "_schema.ddl"
  private val DeleteGraceMs = 15L * 60 * 1000

  /** recount + recommit the lineage of `buckets` from the LIVE store — the
    * delete path's stats-callback recovery (one filtered scan). */
  private def recommitBucketLineage(spark: SparkSession, outDir: String,
                                    buckets: Seq[Int]): Unit = {
    if (buckets.isEmpty) return
    val t0 = System.nanoTime()
    val aggs = bucketMetricAggs(buckets)
    // readStore: recovery after a FULL-store delete crash must recommit
    // zero-row lineage and release the marker, not throw on an empty dir
    // (a raw parquet read here would wedge every later mutation forever)
    val row = readStore(spark, outDir)
      .where(col("bucket").isin(buckets: _*))
      .agg(aggs.head, aggs.tail: _*).collect()(0)
    val wallMs = (System.nanoTime() - t0) / 1000000
    buckets.foreach(b => commitLineage(outDir, lineageFromMetrics(row.getAs[Any](_), b, wallMs)))
  }

  /** delete-path entry recovery (single-deleter contract: any marker a
    * delete finds was left by a crash): restore crash-retired buckets,
    * then — if the stale marker records planned buckets — recount and
    * recommit their lineage. Without the recommit, a crash between a
    * bucket's swap and its lineage commit leaves that bucket's lineage
    * stale FOREVER: re-running the same delete finds no matching rows in
    * the already-rewritten bucket, so its lineage is never touched again
    * (Pipeline's lineage-consistency check would then fail on every run). */
  private def recoverStaleDelete(spark: SparkSession, outDir: String): Unit = {
    recoverRetiredBuckets(s"$outDir/data", force = true)
    val marker = Paths.get(outDir, DeleteMarker)
    if (Files.exists(marker)) {
      val s = new String(Files.readAllBytes(marker), StandardCharsets.UTF_8)
        .trim.stripPrefix("[").stripSuffix("]")
      // tolerate a corrupt body (pre-atomic-write crashes): an unparseable
      // marker must not wedge every later delete — recovery proceeds with
      // no planned buckets and the marker still comes off
      val planned =
        try { if (s.isEmpty) Seq.empty[Int] else s.split(",").map(_.trim.toInt).toSeq }
        catch {
          case _: NumberFormatException =>
            println(s"[graft] delete recovery: unparseable $DeleteMarker body " +
              s"('$s') — skipping lineage recommit for it")
            Seq.empty[Int]
        }
      if (planned.nonEmpty) {
        println(s"[graft] delete recovery: recommitting lineage of buckets " +
          s"${planned.mkString(",")} planned by a crashed delete")
        recommitBucketLineage(spark, outDir, planned)
      }
      Files.deleteIfExists(marker)
    }
    // snapshot recovery LAST: retired-bucket recovery above has already
    // routed every surviving pre-image into the open pending dir, so a
    // pending holding archives commits as a partial version (as-of reads
    // below it stay exact) and an empty one is dropped without burning a
    // version number
    Snapshots.finalizePending(outDir)
  }

  /**
   * Copy-on-write DELETE by query — the reference's `DataStore.delete`
   * (core/store/.../base/BaseDataStore.java:327-499: scan the query,
   * delete matching rows, fire the stats-adjusting deletion callbacks)
   * re-expressed for an immutable-file store, Iceberg-style:
   *
   *  1. one pushdown-pruned scan finds the buckets holding matches —
   *     only those buckets are touched;
   *  2. each affected bucket's SURVIVING rows are staged to
   *     `.delete-staging/`, range-split on cell_id like ingest and sorted
   *     by row_key within each file, then swapped over the live bucket
   *     directory with an atomic FS rename;
   *  3. the bucket's lineage record recommits with the new row count,
   *     min/max cell and xor text checksum (the stats callback analogue).
   *
   * Untouched buckets' files are never rewritten or moved. A crash
   * between stage and swap leaves a committed store (old or new bucket,
   * never a mix) plus an inert staging dir; re-running the same delete is
   * idempotent. Returns the updated lineage of the rewritten buckets.
   */
  def deleteByQuery(spark: SparkSession, outDir: String,
                    predicate: org.apache.spark.sql.Column): Seq[BucketLineage] = {
    recoverStaleDelete(spark, outDir)
    // readStore, not a raw parquet read: a fully-deleted store must make
    // this a no-op (typed empty frame), never a schema-inference error
    val store = readStore(spark, outDir)
    // distinct buckets only (like the id-delete and transform paths) —
    // the per-bucket counts were never consumed
    val affected = store.where(predicate)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) return Seq.empty
    rewriteBuckets(spark, outDir, affected, predicate)
  }

  /**
   * COMPACT buckets whose file count exceeds `maxFilesPerBucket` down to a
   * single sorted file each — Iceberg's `rewrite_data_files`, the verb the
   * reference delegates to Accumulo/HBase major compaction. Small files are
   * THE accumulating cost of incremental ingest + copy-on-write mutation at
   * 100 TB (every query pays per-file open/footer overhead), so compaction
   * is a first-class store verb here: same single-mutator copy-on-write
   * swap as delete/transform (marker, atomic bucket rename, lineage
   * recommit, snapshot archival when enabled). Row content is untouched —
   * the rewrite is the identity; each bucket's rows hash-repartition to ONE
   * task sorted by row_key, so a re-run finds every bucket at one file and
   * is a no-op (the store contract's never-file-identical-rewrites rule).
   */
  def compactBuckets(spark: SparkSession, outDir: String,
                     maxFilesPerBucket: Int = 4): Seq[BucketLineage] = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket must be >= 1, got $maxFilesPerBucket")
    recoverStaleDelete(spark, outDir)
    val dataDir = s"$outDir/data"
    val over = listLiveBuckets(dataDir).filter { b =>
      parquetFileCount(Paths.get(dataDir, s"bucket=$b")) > maxFilesPerBucket
    }
    if (over.isEmpty) Seq.empty
    else rewriteBucketsWith(spark, outDir, over, identity,
      verb = "compact", singleFilePerBucket = true)
  }

  /** live `bucket=N` partition dirs under `dataDir`, sorted. */
  private def listLiveBuckets(dataDir: String): Seq[Int] = {
    val dd = Paths.get(dataDir)
    if (!Files.isDirectory(dd)) return Seq.empty
    val s = Files.list(dd)
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[Int]
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.startsWith("bucket=")) b += n.stripPrefix("bucket=").toInt
      }
      b.result().sorted
    } finally s.close()
  }

  private def parquetFileCount(bucketDir: Path): Int = {
    if (!Files.isDirectory(bucketDir)) return 0
    val s = Files.list(bucketDir)
    try {
      var n = 0
      val it = s.iterator()
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")) n += 1
      }
      n
    } finally s.close()
  }

  /** In-place visibility rewrite of rows matching `predicate`: vis :=
    * replaceFirst(regex, replacement), stripping one exposed leading
    * operator — the reference's TransformerWriter + VisibilityTransformer
    * (used by its GeoTools transaction layer to re-key row visibility;
    * extensions/datastores/accumulo/.../util/VisibilityTransformer.java:25-60,
    * TransformerWriter.java). Runs under the single-mutator delete-marker
    * protocol through the same copy-on-write bucket swap as the delete
    * path. Only buckets holding a row whose visibility the rewrite would
    * actually CHANGE are rewritten (the reference rewrites every scanned
    * entry unconditionally, but our store contract forbids file-identical
    * rewrites — CLAUDE.md), so re-running a transform is a cheap no-op
    * whenever the regex no longer matches. */
  def transformVisibilityByQuery(spark: SparkSession, outDir: String,
                                 predicate: org.apache.spark.sql.Column,
                                 regex: String, replacement: String,
                                 visCol: String = "vis"): Seq[BucketLineage] = {
    recoverStaleDelete(spark, outDir)
    // readStore for the emptied-store no-op, like deleteByQuery
    val store = readStore(spark, outDir)
    val rewritten = Visibility.replaceFirst(col(visCol), regex, replacement)
    // null predicate values are NOT matches (same contract as delete)
    val changes = coalesce(predicate, lit(false)) && rewritten =!= col(visCol)
    val affected = store.where(changes)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) return Seq.empty
    rewriteBucketsWith(spark, outDir, affected,
      _.withColumn(visCol, when(changes, rewritten).otherwise(col(visCol))),
      verb = "transform")
  }

  /** stage + atomically swap the surviving rows of `buckets`, dropping
    * rows matching `predicate`, and recommit each bucket's lineage. The
    * shared rewrite behind [[deleteByQuery]] and [[deleteByIds]]. */
  private def rewriteBuckets(spark: SparkSession, outDir: String,
                             buckets: Seq[Int],
                             predicate: org.apache.spark.sql.Column): Seq[BucketLineage] =
    // null predicate values are NOT matches: such rows must survive
    rewriteBucketsWith(spark, outDir, buckets,
      _.where(!coalesce(predicate, lit(false))))

  /** stage + atomically swap `rewrite`-transformed rows of `buckets` under
    * the delete-marker protocol, recommitting each bucket's lineage. The
    * copy-on-write machinery shared by the DELETE path (rewrite = drop
    * matching rows), the TRANSFORM path (rewrite = recompute columns of
    * matching rows — the reference's TransformerWriter, which re-writes
    * scanned entries through a Transformer,
    * extensions/datastores/accumulo/.../util/TransformerWriter.java) and
    * COMPACTION (rewrite = identity, `singleFilePerBucket` — each bucket's
    * rows hash-land in one task, so the bucket rewrites to one sorted
    * file). When [[Snapshots.enabled]], every replaced bucket dir is
    * archived under the staged pending version instead of dropped, and the
    * version log entry (verb + archived + pre-mutation live set) commits
    * atomically AFTER all swaps — see [[Snapshots]] for read semantics. */
  private def rewriteBucketsWith(spark: SparkSession, outDir: String,
                                 buckets: Seq[Int],
                                 rewrite: DataFrame => DataFrame,
                                 verb: String = "delete",
                                 singleFilePerBucket: Boolean = false): Seq[BucketLineage] = {
    val dataDir = s"$outDir/data"
    recoverRetiredBuckets(dataDir, force = true)
    val snapOn = Snapshots.enabled(outDir)
    val snapV = if (snapOn) Snapshots.nextVersion(outDir) else 0
    // the pre-mutation live set is what readStoreAsOf(snapV - 1) serves;
    // captured BEFORE any swap so a fully-deleted bucket still appears
    val livePre = if (snapOn) listLiveBuckets(dataDir) else Seq.empty
    val pending = Snapshots.pendingDir(outDir, snapV)
    if (snapOn) {
      graft.FsUtils.deleteRecursively(pending) // a crashed attempt's leftovers
      Files.createDirectories(pending)
      // recovery metadata BEFORE the first swap: a hard crash at any later
      // point leaves finalizePending everything it needs to commit the
      // partial version (or drop it when nothing swapped)
      Snapshots.writePendingMeta(outDir, snapV, verb, livePre, buckets)
    }
    val archivedB = Seq.newBuilder[Int]
    val store = storeReader(spark, outDir).parquet(dataDir)
    val stagingRoot = Paths.get(outDir, ".delete-staging")
    graft.FsUtils.deleteRecursively(stagingRoot)
    Files.createDirectories(stagingRoot)
    val survivors = rewrite(store.where(col("bucket").isin(buckets: _*)))
    val obs = org.apache.spark.sql.Observation(s"delete-${System.nanoTime()}")
    val metricAggs = bucketMetricAggs(buckets)
    val t0 = System.nanoTime()
    // compaction hash-routes each bucket to exactly ONE task (buckets never
    // span hash partitions), so partitionBy emits one file per bucket; the
    // mutation paths range-split on cell_id like ingest, so each rewritten
    // file again covers a slice of the keyspace its row-group stats can
    // skip. Each range task writes one file per bucket, so one range per
    // file of the largest rewritten bucket keeps every bucket's file count.
    val partitioned =
      if (singleFilePerBucket)
        survivors.repartition(math.max(buckets.size, 1), col("bucket"))
      else {
        val files = buckets.map(b => parquetFileCount(Paths.get(dataDir, s"bucket=$b"))).max
        survivors.repartitionByRange(math.max(files, 1), col("cell_id"))
      }
    partitioned
      .observe(obs, metricAggs.head, metricAggs.tail: _*)
      .sortWithinPartitions(col("bucket"), col("row_key"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(stagingRoot.toString)
    val m = obs.get
    val wallMs = (System.nanoTime() - t0) / 1000000
    // own the swap window: concurrent readers must not "recover" a
    // bucket we are mid-swap on (see recoverRetiredBuckets). The marker
    // comes off in a FINALLY — after an in-JVM exception (not a crash)
    // the process keeps running, and leaving the marker would make every
    // reader silently skip recovery for the whole grace window; with it
    // removed, the very next readStore self-heals the half-swap. The
    // marker BODY records the planned buckets so a hard CRASH inside the
    // swap window can recommit their lineage on the next delete-path
    // recovery (recoverStaleDelete); the in-JVM failure path below does
    // the same recommit inline before the marker comes off.
    val marker = Paths.get(outDir, DeleteMarker)
    // tmp + atomic move: the marker exists precisely to survive a hard
    // crash, so its own write must never be observable half-done
    val markerTmp = Paths.get(outDir, DeleteMarker + ".tmp")
    Files.write(markerTmp, buckets.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8))
    Files.move(markerTmp, marker, StandardCopyOption.ATOMIC_MOVE)
    val out = Seq.newBuilder[BucketLineage]
    try {
      for (b <- buckets) {
        val staged = stagingRoot.resolve(s"bucket=$b")
        val live = Paths.get(dataDir, s"bucket=$b")
        // swap via a retired name so a crash mid-swap never loses the
        // bucket: the live dir is renamed aside, the staged dir renamed in,
        // and only then is the retired copy dropped
        val retired = Paths.get(dataDir, s".bucket=$b.retired")
        graft.FsUtils.deleteRecursively(retired)
        if (Files.exists(live)) Files.move(live, retired, StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(staged)) // a fully-deleted bucket stages nothing
          Files.move(staged, live, StandardCopyOption.ATOMIC_MOVE)
        if (snapOn && Files.exists(retired)) {
          // the replaced dir IS this bucket's pre-image: archive it into
          // the staged version instead of dropping it (one rename — the
          // snapshot costs no data copy, exactly like Iceberg keeping the
          // superseded data files)
          Files.move(retired, pending.resolve(s"bucket=$b"),
            StandardCopyOption.ATOMIC_MOVE)
          archivedB += b
        } else graft.FsUtils.deleteRecursively(retired)
        val lin = lineageFromMetrics(m, b, wallMs)
        commitLineage(outDir, lin)
        out += lin
      }
      graft.FsUtils.deleteRecursively(stagingRoot)
      if (snapOn)
        Snapshots.commit(outDir, snapV, verb, archivedB.result(), livePre, wallMs)
    } catch {
      case e: Throwable =>
        // in-JVM failure mid-swap: restore any half-swapped bucket, then
        // recount + recommit EVERY planned bucket's lineage from the live
        // store — already-swapped buckets would otherwise keep stale
        // lineage forever (re-running the delete finds no rows in them)
        try {
          if (snapOn) {
            // keep history EXACT for in-JVM failures: a bucket with both
            // live and retired present completed its swap (retired is the
            // pre-image — archive it before recovery would drop it); a
            // bucket with only retired is half-swapped and recovery
            // restores it (the mutation never applied there)
            for (b <- buckets) {
              val retired = Paths.get(dataDir, s".bucket=$b.retired")
              if (Files.exists(retired) && Files.exists(Paths.get(dataDir, s"bucket=$b"))) {
                Files.move(retired, pending.resolve(s"bucket=$b"),
                  StandardCopyOption.ATOMIC_MOVE)
                archivedB += b
              }
            }
          }
          recoverRetiredBuckets(dataDir, force = true)
          recommitBucketLineage(spark, outDir, buckets)
          // commit the PARTIAL version when any bucket did swap: as-of
          // reads below it then serve archived pre-images for swapped
          // buckets and live dirs (untouched) for the rest — exact. A
          // failure before any swap burns no version number.
          val archived = archivedB.result()
          if (snapOn && archived.nonEmpty)
            Snapshots.commit(outDir, snapV, verb, archived, livePre, wallMs)
        } catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    } finally Files.deleteIfExists(marker)
    out.result()
  }


  /** lineage records as a DataFrame (the per-partition metrics table). */
  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    spark.read.json(s"$outDir/_lineage/bucket-*.json")
}
