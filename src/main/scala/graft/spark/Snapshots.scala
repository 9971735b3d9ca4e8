package graft.spark

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Snapshot log + time-travel reads over the copy-on-write store — the
 * Iceberg-parity piece SURVEY maps the reference's versioned-KV substrate
 * onto (the reference gets history for free from Accumulo/HBase cell
 * timestamps; an immutable-file store gets it from retained pre-images,
 * exactly like Iceberg snapshots over rewritten data files).
 *
 * Opt-in and purely ADDITIVE to the mutation protocol in [[Ingest]]: once
 * [[enable]]d, every copy-on-write bucket rewrite (delete / visibility
 * transform / compaction) archives the replaced bucket directories under
 * `_snapshots/v{V}/bucket=N` instead of dropping them, and commits a log
 * entry `_snapshots/log/v{V}.json` recording the verb, the archived
 * buckets, and the full pre-mutation bucket list. Reads:
 *
 *  - [[readStoreAsOf]](V) reconstructs the store exactly as of version V
 *    (V = 0 is the pre-first-mutation state): for each bucket live at V,
 *    serve the OLDEST archive made by a mutation AFTER V — that archive is
 *    the bucket's content at V, because the mutation that made it was the
 *    first to touch the bucket after V. Buckets never archived after V are
 *    served from the live store unchanged.
 *  - [[expire]] drops history older than the last `keepLast` versions
 *    (Iceberg's expire_snapshots): unbounded pre-image retention is the
 *    scale hazard, so retention is a first-class verb, and reads below the
 *    retained horizon fail loudly instead of serving a half-history — the
 *    persisted high-water mark keeps that guard (and version-number
 *    monotonicity: Iceberg never reuses snapshot ids) even after a FULL
 *    expire empties the log.
 *
 * Contract: versions capture the MUTATION history (delete / transform /
 * compact). Ingest APPENDS are not versioned — an as-of read below a later
 * append serves untouched buckets from the live store, appended rows
 * included (the reference's Accumulo substrate behaves the same way:
 * cell-timestamp versioning tracks overwrites/deletes, not logical batch
 * membership). Interleave appends and time travel only above the append.
 *
 * Crash semantics (single-mutator contract, same as the delete path): the
 * archive is staged under `_snapshots/.v{V}-pending/` with a `_meta.json`
 * (version, verb, pre-mutation live set, planned buckets) written BEFORE
 * the first swap, and the version commits with one atomic rename AFTER
 * every bucket swap lands, so readers never observe a half-version. After
 * a hard crash mid-swap, the pre-images of already-swapped buckets are
 * NOT lost: recovery ([[Ingest]]'s reader self-heal and every mutation
 * entry) routes their `.retired` twins into the open pending dir instead
 * of dropping them, and the next mutation entry finalizes the pending dir
 * — committing it as a PARTIAL version when any bucket swapped (as-of
 * reads below it stay exact) or discarding it (no version number burned)
 * when none did.
 *
 * Reader concurrency: [[readStoreAsOf]] self-heals exactly like
 * `Ingest.readStore` (deferring to a fresh in-progress marker) and treats
 * an uncommitted pending archive as a provisional overlay, falling back to
 * a bucket's transient `.retired` pre-image when the swap has landed but
 * the archive move has not. A read racing an ACTIVE mutation on the same
 * buckets may still fail (parquet file listings are pinned at plan time,
 * so moved-away files throw) — it fails LOUDLY and can be retried; it
 * never silently serves post-mutation rows for the requested version.
 * Reference anchors: BaseDataStore delete/stats recommit
 * (core/store/.../base/BaseDataStore.java:327-499); Accumulo's cell-
 * timestamp versioning the reference leans on for the same capability.
 */
object Snapshots {

  final case class Entry(version: Int, verb: String,
                         archived: Seq[Int], livePre: Seq[Int], wallMs: Long)

  /** the `_meta.json` a mutation stages into its pending dir BEFORE any
    * swap — everything recovery needs to finalize the version. */
  private[spark] final case class PendingMeta(version: Int, verb: String,
                                              livePre: Seq[Int], planned: Seq[Int])

  private def snapRoot(outDir: String): Path = Paths.get(outDir, "_snapshots")
  private def logDir(outDir: String): Path = snapRoot(outDir).resolve("log")
  private def highwaterFile(outDir: String): Path = logDir(outDir).resolve("_highwater")
  private[spark] def versionDir(outDir: String, v: Int): Path =
    snapRoot(outDir).resolve(f"v$v%05d")
  private[spark] def pendingDir(outDir: String, v: Int): Path =
    snapRoot(outDir).resolve(f".v$v%05d-pending")

  /** turn snapshot retention ON for this store (idempotent; a store
    * without the log dir archives nothing — the pre-snapshot behavior). */
  def enable(outDir: String): Unit = Files.createDirectories(logDir(outDir))

  def enabled(outDir: String): Boolean = Files.isDirectory(logDir(outDir))

  /** the retained log, oldest first (numeric order — name order breaks
    * past the zero padding). Versions are contiguous as written;
    * [[expire]] trims from the OLD end only. */
  def versions(outDir: String): Seq[Entry] = {
    val d = logDir(outDir)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    val names =
      try {
        val it = s.iterator()
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith("v") && n.endsWith(".json")) b += n
        }
        b.result()
      } finally s.close()
    names.map { n =>
      parseEntry(new String(Files.readAllBytes(logDir(outDir).resolve(n)),
        StandardCharsets.UTF_8))
    }.sortBy(_.version)
  }

  /** the highest version number EVER committed (0 = none): survives a full
    * [[expire]], so version handles stay stable identifiers and numbering
    * never restarts. */
  def highwater(outDir: String): Int = {
    val f = highwaterFile(outDir)
    val logged = versions(outDir).lastOption.map(_.version).getOrElse(0)
    if (!Files.isRegularFile(f)) logged
    else math.max(logged,
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim.toInt)
  }

  /** hand-rolled like Ingest's marker parsing (no JSON lib in the
    * dependency budget); we wrote the bytes, so the shape is fixed. */
  private def jsonField(json: String, name: String): String = {
    val i = json.indexOf("\"" + name + "\":")
    require(i >= 0, s"snapshot metadata missing '$name': $json")
    val from = i + name.length + 3
    val stops = Seq(json.indexOf(',', from), json.indexOf('}', from)).filter(_ >= 0)
    json.substring(from, stops.min)
  }

  private def jsonIntList(json: String, name: String): Seq[Int] = {
    val i = json.indexOf("\"" + name + "\":[")
    require(i >= 0, s"snapshot metadata missing '$name': $json")
    val from = i + name.length + 4
    val to = json.indexOf(']', from)
    val body = json.substring(from, to).trim
    if (body.isEmpty) Seq.empty else body.split(",").map(_.trim.toInt).toSeq
  }

  private def parseEntry(json: String): Entry =
    Entry(jsonField(json, "version").trim.toInt,
      jsonField(json, "verb").trim.stripPrefix("\"").stripSuffix("\""),
      jsonIntList(json, "archived"), jsonIntList(json, "live_pre"),
      jsonField(json, "wall_ms").trim.toLong)

  private[spark] def nextVersion(outDir: String): Int = highwater(outDir) + 1

  /** stage the recovery metadata into the pending dir — called by the
    * mutation BEFORE its first swap, so a crash at any later point leaves
    * everything [[finalizePending]] needs. tmp + atomic move: recovery
    * must never see a torn meta. */
  private[spark] def writePendingMeta(outDir: String, v: Int, verb: String,
                                      livePre: Seq[Int], planned: Seq[Int]): Unit = {
    val json =
      s"""{"version":$v,"verb":"$verb","live_pre":${livePre.mkString("[", ",", "]")},""" +
        s""""planned":${planned.mkString("[", ",", "]")}}"""
    val dir = pendingDir(outDir, v)
    val tmp = dir.resolve("_meta.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve("_meta.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  private[spark] def readPendingMeta(pending: Path): Option[PendingMeta] = {
    val f = pending.resolve("_meta.json")
    if (!Files.isRegularFile(f)) return None
    val json = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
    try Some(PendingMeta(jsonField(json, "version").trim.toInt,
      jsonField(json, "verb").trim.stripPrefix("\"").stripSuffix("\""),
      jsonIntList(json, "live_pre"), jsonIntList(json, "planned")))
    catch { case _: IllegalArgumentException => None }
  }

  /** pending dirs, oldest first by version (more than one can only be a
    * crash artifact — the single mutator finalizes all at entry). */
  private def pendingDirs(outDir: String): Seq[Path] = {
    val root = snapRoot(outDir)
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.list(root)
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith(".v") && n.endsWith("-pending") && Files.isDirectory(p)) b += p
      }
      b.result().sortBy(p =>
        p.getFileName.toString.stripPrefix(".v").stripSuffix("-pending").toInt)
    } finally s.close()
  }

  /** `bucket=N` subdirs of an archive/pending dir, sorted. */
  private def listBucketDirs(dir: Path): Seq[Int] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
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

  /**
   * Route a completed-swap pre-image (`.bucket=N.retired` whose live twin
   * exists) into the open pending archive instead of dropping it — called
   * by `Ingest.recoverRetiredBuckets` so BOTH reader self-heal and mutator
   * recovery preserve history after a hard crash. Returns false when no
   * pending dir is open (snapshots were enabled between mutations, or the
   * pending was already finalized) — the caller then drops the dir as
   * before. Races between concurrent readers are benign: one move wins,
   * the rest see the source gone.
   */
  private[spark] def archiveRetired(outDir: String, retired: Path, bucket: Int): Boolean = {
    if (!enabled(outDir)) return false
    pendingDirs(outDir).lastOption match {
      case None => false
      case Some(p) =>
        try {
          Files.move(retired, p.resolve(s"bucket=$bucket"), StandardCopyOption.ATOMIC_MOVE)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            graft.FsUtils.deleteRecursively(retired); true // archived by the crashed run already
          case _: java.nio.file.NoSuchFileException => true // a concurrent reader won the move
        }
    }
  }

  /**
   * Finalize crash-leftover pending dirs — called at every mutation entry
   * (after retired-bucket recovery has routed surviving pre-images in):
   * a pending holding any archive commits as a PARTIAL version (as-of
   * reads below it are then exact for the buckets that actually swapped;
   * restored buckets read from live, which recovery reverted — also
   * exact); an empty pending is dropped without burning a version number.
   */
  private[spark] def finalizePending(outDir: String): Unit = {
    pendingDirs(outDir).foreach { p =>
      readPendingMeta(p) match {
        case None =>
          // meta is written before the first swap, so no meta ⇒ no swap
          // ever happened under this pending ⇒ nothing to preserve
          graft.FsUtils.deleteRecursively(p)
        case Some(m) =>
          val archived = listBucketDirs(p)
          if (archived.nonEmpty) {
            println(s"[graft] snapshot recovery: committing crashed mutation " +
              s"as partial version v${m.version} (verb=${m.verb}, " +
              s"archived=${archived.mkString(",")})")
            commit(outDir, m.version, m.verb, archived, m.livePre, wallMs = 0)
          } else graft.FsUtils.deleteRecursively(p)
      }
    }
  }

  /** commit the staged pending dir as version `v`: one atomic rename for
    * the archive, then the log entry (tmp + atomic move), then the
    * high-water mark. A crash between the renames leaves an unlogged
    * `v{V}` dir — the next mutation reuses the version number after
    * sweeping it (nextVersion reads the log + highwater, neither of which
    * advanced). */
  private[spark] def commit(outDir: String, v: Int, verb: String,
                            archived: Seq[Int], livePre: Seq[Int], wallMs: Long): Unit = {
    val pending = pendingDir(outDir, v)
    val dest = versionDir(outDir, v)
    graft.FsUtils.deleteRecursively(dest) // unlogged leftover of a crashed commit
    if (Files.exists(pending))
      Files.move(pending, dest, StandardCopyOption.ATOMIC_MOVE)
    else Files.createDirectories(dest) // every planned bucket staged empty — keep the version readable
    val json =
      s"""{"version":$v,"verb":"$verb","archived":${archived.mkString("[", ",", "]")},""" +
        s""""live_pre":${livePre.mkString("[", ",", "]")},"wall_ms":$wallMs}"""
    val tmp = logDir(outDir).resolve(f"v$v%05d.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, logDir(outDir).resolve(f"v$v%05d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    val hwFile = highwaterFile(outDir)
    val prevHw =
      if (!Files.isRegularFile(hwFile)) 0
      else new String(Files.readAllBytes(hwFile), StandardCharsets.UTF_8).trim.toInt
    if (v > prevHw) {
      val hwTmp = logDir(outDir).resolve("_highwater.tmp")
      Files.write(hwTmp, v.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(hwTmp, hwFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /**
   * The store exactly as of `version` (0 = before the first logged
   * mutation; the high-water version = the live store). One parquet
   * relation per CONTRIBUTING version plus one for the untouched live set
   * (scales with #mutations, not #buckets). Fails loudly below the
   * retained horizon, and self-heals/overlays around crashed or in-flight
   * mutations (see the class doc's reader-concurrency contract).
   */
  def readStoreAsOf(spark: SparkSession, outDir: String, version: Int): DataFrame = {
    require(version >= 0, s"readStoreAsOf: version must be >= 0, got $version")
    val dataDir = Paths.get(outDir, "data")
    // reader self-heal, exactly like Ingest.readStore: restore half-swapped
    // buckets of a STALE crashed mutation (deferring to a fresh marker);
    // completed-swap pre-images route into the pending dir, not the void
    Ingest.recoverRetiredBuckets(dataDir.toString, force = false)
    val vs = versions(outDir)
    // an uncommitted pending archive (crashed, or a mutation in flight) is
    // a provisional overlay: its staged pre-images serve reads below its
    // version exactly as the committed entry will
    val overlay = pendingDirs(outDir).lastOption.flatMap { p =>
      readPendingMeta(p).collect {
        case m if m.version > vs.lastOption.map(_.version).getOrElse(0) =>
          (Entry(m.version, m.verb, listBucketDirs(p), m.livePre, 0L), p, m.planned.toSet)
      }
    }
    val all = vs ++ overlay.map(_._1)
    val later = all.filter(_.version > version)
    if (later.isEmpty) {
      val hw = highwater(outDir)
      require(version >= hw,
        s"readStoreAsOf($version): history at and below v$version has been " +
          s"expired (versions were committed up to v$hw but no log entry " +
          "after the requested version is retained)")
      return Ingest.readStore(spark, outDir)
    }
    require(all.head.version <= version + 1,
      s"readStoreAsOf($version): history before version ${all.head.version - 1} " +
        s"has been expired (oldest retained log entry is v${all.head.version})")
    val liveAtV = later.head.livePre
    if (liveAtV.isEmpty) return Ingest.typedEmptyStore(spark, outDir)
    // each bucket live at V is served from the OLDEST archive made after V
    // (the first post-V mutation to touch it archived its content AT V), or
    // from the live store if never archived after V — with `basePath` so
    // `bucket` stays the discovered partition column in readStore's
    // positional schema. Every read applies the store's recorded schema,
    // so none runs an inference job.
    val assigned = scala.collection.mutable.Set.empty[Int]
    val perVersion = later.flatMap { e =>
      val mine = e.archived.filter(b => liveAtV.contains(b) && assigned.add(b))
      if (mine.isEmpty) None else Some(e.version -> mine)
    }
    val overlayPlanned = overlay.filter(_._1.version > version).map(_._3).getOrElse(Set.empty)
    def retiredPath(b: Int): Path = dataDir.resolve(s".bucket=$b.retired")
    // a bucket the in-flight mutation planned but has not archived yet may
    // sit mid-swap: its `.retired` twin IS the pre-image — serve that
    val (midSwap, untouched) = liveAtV.filterNot(assigned)
      .partition(b => overlayPlanned(b) && Files.isDirectory(retiredPath(b)))
    def readBuckets(base: Path, bs: Seq[Int], what: String): DataFrame = {
      val paths = bs.map { b =>
        val p = base.resolve(s"bucket=$b")
        require(Files.isDirectory(p),
          s"readStoreAsOf($version): $what bucket=$b is missing " +
            "(crashed mutation lost this pre-image, or snapshots were " +
            "disabled between mutations) — this version is not reconstructable")
        p.toString
      }
      Ingest.storeReader(spark, outDir).option("basePath", base.toString).parquet(paths: _*)
    }
    val frames =
      perVersion.map { case (v, bs) =>
        val base = overlay.collect { case (e, p, _) if e.version == v => p }
          .headOption.getOrElse(versionDir(outDir, v))
        readBuckets(base, bs, s"archive v$v/")
      } ++
        midSwap.map(b => Ingest.storeReader(spark, outDir, withBucket = false)
          .parquet(retiredPath(b).toString).withColumn("bucket", lit(b))) ++
        (if (untouched.isEmpty) Nil
         else Seq(readBuckets(dataDir, untouched, "live")))
    frames.reduce(_.unionByName(_))
  }

  /**
   * Rows REMOVED and ADDED between two versions — the incremental-recrawl
   * primitive (Iceberg's changelog read): downstream consumers process
   * the delta instead of re-reading the corpus. Scans ONLY buckets a
   * mutation in (vFrom, vTo] touched — untouched buckets cannot differ —
   * so cost scales with the mutated fraction, not the store size. Output
   * is the store schema plus a leading `change` column ('removed' /
   * 'added'); an in-place rewrite (visibility transform) appears as a
   * removed/added pair sharing the row key. `vTo` past the high-water
   * mark diffs against the live store. Uses exceptAll, so duplicate rows
   * diff by multiplicity, matching the delete path's row semantics.
   */
  def diff(spark: SparkSession, outDir: String, vFrom: Int, vTo: Int): DataFrame = {
    require(0 <= vFrom && vFrom < vTo,
      s"diff: need 0 <= vFrom < vTo, got ($vFrom, $vTo)")
    require(enabled(outDir),
      s"diff: snapshots were never enabled for $outDir — there is no " +
        "mutation history to read a changelog from")
    val vs = versions(outDir)
    // the horizon guard readStoreAsOf has, specialized to the range: an
    // EXPIRED entry inside (vFrom, vTo] touched buckets we can no longer
    // enumerate — an empty changelog there would be silently wrong
    val hw = highwater(outDir)
    if (vs.isEmpty)
      require(vFrom >= hw,
        s"diff($vFrom, $vTo): all log entries have been expired but " +
          s"versions were committed up to v$hw — changes at and below v$hw " +
          "are no longer enumerable")
    else require(vs.head.version <= vFrom + 1,
      s"diff($vFrom, $vTo): log entries at and below v${vs.head.version - 1} " +
        "have been expired — the range may contain mutations whose touched " +
        "buckets are no longer enumerable")
    // same uncommitted-pending overlay as readStoreAsOf: a crashed or
    // in-flight mutation's swapped buckets are part of the live state, so
    // the changelog up to "live" must include them
    val overlayTouched = pendingDirs(outDir).lastOption.flatMap { p =>
      readPendingMeta(p).collect {
        case m if m.version > vs.lastOption.map(_.version).getOrElse(0) &&
          m.version > vFrom && m.version <= vTo => listBucketDirs(p)
      }
    }.getOrElse(Seq.empty)
    val touched = (vs.filter(e => e.version > vFrom && e.version <= vTo)
      .flatMap(_.archived) ++ overlayTouched).distinct.sorted
    def tag(df: DataFrame, change: String): DataFrame =
      df.select(lit(change).as("change") +: df.columns.map(col).toSeq: _*)
    if (touched.isEmpty)
      return tag(Ingest.typedEmptyStore(spark, outDir), "removed")
    val a = readStoreAsOf(spark, outDir, vFrom).where(col("bucket").isin(touched: _*))
    val b = readStoreAsOf(spark, outDir, vTo).where(col("bucket").isin(touched: _*))
    // ONE scan per side (exceptAll twice would read every touched bucket
    // four times): union with a signed side marker, aggregate the signed
    // multiplicity per full row, re-expand |multiplicity| copies — the
    // exact exceptAll semantics in a single pass
    val cols = a.columns.toSeq
    val tagged = a.withColumn("_side", lit(1))
      .unionByName(b.withColumn("_side", lit(-1)))
    val delta = tagged.groupBy(cols.map(col): _*)
      .agg(sum("_side").as("_d")).where(col("_d") =!= 0)
    delta.select(
      when(col("_d") > 0, lit("removed")).otherwise(lit("added")).as("change") +:
        cols.map(col) :+
        explode(sequence(lit(1L), abs(col("_d")))).as("_i"): _*)
      .drop("_i")
  }

  /**
   * Iceberg's `expire_snapshots`: keep only the newest `keepLast` log
   * entries, dropping older archives. The log entry is removed FIRST so a
   * crash mid-expire leaves an orphan archive dir (swept by the next
   * expire) rather than a logged version whose files are gone. The
   * high-water mark is never lowered: version numbering stays monotonic
   * and below-horizon reads keep failing loudly after a full expire.
   * A no-op on a store where snapshots were never enabled.
   */
  def expire(outDir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    if (!enabled(outDir)) return Seq.empty
    val vs = versions(outDir)
    val drop = vs.dropRight(keepLast)
    drop.foreach { e =>
      Files.deleteIfExists(logDir(outDir).resolve(f"v${e.version}%05d.json"))
      graft.FsUtils.deleteRecursively(versionDir(outDir, e.version))
    }
    // sweep orphans from crashed expires/commits: any archive dir older
    // than the oldest retained log entry is unreachable
    val keptMin = versions(outDir).headOption.map(_.version).getOrElse(Int.MaxValue)
    val s = Files.list(snapRoot(outDir))
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith("v") && !n.contains(".json") && Files.isDirectory(p)) {
          val v = n.stripPrefix("v").toInt
          if (v < keptMin) graft.FsUtils.deleteRecursively(p)
        }
      }
    } finally s.close()
    drop.map(_.version)
  }
}
