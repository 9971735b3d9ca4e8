package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Training-data text pipeline: near-duplicate detection (n-gram Jaccard,
 * MinHash+LSH, SimHash), embedding near-dup (exact + random-hyperplane
 * LSH), language id, token counting, fingerprinting.
 *
 * All hashing is portable integer arithmetic — a fold of character codes
 * mod p = 2^31-1 — so a SQL oracle reproduces every value exactly. Every
 * operator is a declarative plan: inverted-index joins for candidate
 * generation (never an n² crossJoin on the big side), codegen'd folds
 * for signatures, one bucket grouping for LSH candidates.
 */
object TextOps {

  /** portable string hash: fold(a*31 + codepoint) mod p over characters.
    * (SQL twin: list_reduce over ord(substr(w,i,1)).) One codegen'd
    * expression — the higher-order aggregate/transform/split chain it
    * replaces ran in eval mode per row. */
  def portableHash(s: Column): Column = column(PortableHash(expression(s)))

  /** distinct word-n-gram shingles per doc: (id, shingle) — the rows of
    * the per-doc shingle sets, so sub-n-word docs yield no rows. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleSets(docs, idCol, textCol, n).select(col("id"), explode(col("sh")).as("shingle"))

  /**
   * Benchmark decontamination screen — the training-data hygiene step
   * every large corpus pipeline runs before training (flag/drop training
   * documents that share word n-grams with an evaluation benchmark, so
   * eval scores measure generalization rather than memorized test items):
   * returns (id, n_hits) for every TRAIN doc sharing >= `minHits` distinct
   * n-gram shingles with ANY benchmark doc. The benchmark side is tiny
   * next to the corpus, so its distinct shingle set BROADCASTS: the train
   * side is one scan + broadcast hash join + map-side partial count — no
   * train-side shuffle beyond the per-doc aggregate, the only shape that
   * survives 100 TB.
   */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int, minHits: Long = 1): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val benchShingles = shingles(benchmark, idCol, textCol, n)
      .select("shingle").distinct()
    shingles(train, idCol, textCol, n)
      .join(broadcast(benchShingles), "shingle")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
  }

  /**
   * Exact n-gram Jaccard near-dup pairs via inverted-index join: candidate
   * pairs share >= 1 shingle, intersection counted from the FULL shingle
   * sets on candidates only, union from per-doc set sizes. Output:
   * (a_id, b_id, inter, size_a, size_b, jac) for jac >= tau.
   *
   * `maxDf` is the hot-shingle guard: shingles whose document frequency
   * exceeds it are dropped from CANDIDATE GENERATION (a stop-shingle with
   * df=f would otherwise contribute f² join rows — the classic quadratic
   * blowup at corpus scale; every production near-dup pipeline prefix-
   * filters this way). Verification still uses the full shingle sets, so
   * Jaccard values are exact; only pairs whose shared shingles are ALL
   * hotter than maxDf can be missed. The dropped-shingle count is logged.
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, tau: Double, maxDf: Long = Long.MaxValue): DataFrame = {
    // localCheckpoint, not cache(): CacheManager entries pin storage until
    // an explicit unpersist (which a plan builder cannot safely issue);
    // checkpoint blocks release when the frame is GC'd
    val sh = shingles(docs, idCol, textCol, n).localCheckpoint(true)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val pairs =
      if (maxDf == Long.MaxValue) {
        // uncapped: the self-join IS both candidate generation and the
        // exact intersection count (one pass)
        sh.as("a").join(sh.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
          .agg(count(lit(1)).as("inter"))
      } else {
        val dfCounts = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")).localCheckpoint(true)
        val dropped = dfCounts.where(col("df") > maxDf).count()
        // scale guard telemetry: silent truncation would read as full coverage
        println(s"[graft] ngramJaccardPairs: dropped $dropped shingles with df > $maxDf from candidate generation")
        val rare = sh.join(dfCounts.where(col("df") <= maxDf).select("shingle"), "shingle")
        val cand = rare.as("a").join(rare.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
          .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
          .distinct()
        // exact intersection over the FULL shingle sets, candidates only.
        // `shingle` is part of the SECOND join's equi-key: per pair the
        // intermediate is the matching shingles only, never the
        // size_a × size_b cross product a join-then-filter would build
        cand
          .join(sh.withColumnRenamed("id", "a_id"), "a_id")
          .join(sh.withColumnRenamed("id", "b_id"), Seq("b_id", "shingle"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      }
    jaccardAtLeast(pairs
      .join(sizes.withColumnRenamed("id", "a_id").withColumnRenamed("sz", "size_a"), "a_id")
      .join(sizes.withColumnRenamed("id", "b_id").withColumnRenamed("sz", "size_b"), "b_id"), tau)
  }

  /** (a_id, b_id, inter, size_a, size_b, jac) rows with jac >= tau. */
  private def jaccardAtLeast(pairs: DataFrame, tau: Double): DataFrame =
    pairs.withColumn("jac", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .where(col("jac") >= tau)
      .select("a_id", "b_id", "inter", "size_a", "size_b", "jac")

  /** per-doc shingle sets (id, sh): the doc's distinct word n-grams sorted
    * in UTF-8 byte order. One aggregate collects each id's texts (so rows
    * repeating an id union their shingles) and one codegen'd kernel
    * shingles them; a doc with fewer than n words gets no row. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame =
    docs.groupBy(col(idCol).as("id"))
      .agg(column(ShingleSet(expression(collect_list(col(textCol))), n)).as("sh"))
      .where(size(col("sh")) > 0)

  /** MinHash signature: numHashes columns min_j = min over shingles of
    * ((2j+1)*h + 12345j + 1) mod p — the band fold with one row per band. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int): DataFrame =
    shingleSets(docs, idCol, textCol, n)
      .select(col("id"), column(MinhashBands(expression(col("sh")), numHashes, 1)).as("sig"))
      .select(col("id") +: (0 until numHashes).map(j => col("sig")(j).as(s"sig$j")): _*)

  /**
   * MinHash + LSH near-dup pairs: signatures banded (bands × rowsPerBand),
   * candidates share >= 1 band bucket, then exact Jaccard filter. Output
   * like [[ngramJaccardPairs]] restricted to LSH candidates. The ladder:
   * per-doc shingle sets (one aggregate, checkpointed once) → band keys
   * (one codegen'd fold) → buckets grouped and capped in one pass
   * ([[bucketPairs]]) → distinct a < b pairs → merge verify.
   */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, bands: Int, rowsPerBand: Int, tau: Double,
                      maxBucket: Long = Long.MaxValue): DataFrame = {
    // localCheckpoint, not cache(): its blocks are context-cleaner-released
    // when the frame is GC'd
    val sh = shingleSets(docs, idCol, textCol, n).localCheckpoint(true)
    lshJaccard(sh, None, bands, rowsPerBand, tau, maxBucket, Seq("minhashLshPairs"))
  }

  /** the banded candidates of shingle-set frame `shA` (against `shB`, or
    * within `shA`), distinct'd, then the exact Jaccard verify. */
  private def lshJaccard(shA: DataFrame, shB: Option[DataFrame], bands: Int, rowsPerBand: Int,
                         tau: Double, maxBucket: Long, tags: Seq[String]): DataFrame = {
    val cand = bucketPairs(bandKeys(shA, bands, rowsPerBand),
        shB.map(bandKeys(_, bands, rowsPerBand)), maxBucket, tags)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    verifyJaccard(cand, shA, shB.getOrElse(shA), tau)
  }

  /** (id, band, bucket) rows of a shingle-set frame. */
  private def bandKeys(sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sh.select(col("id"), posexplode(column(MinhashBands(expression(col("sh")), bands, rowsPerBand)))
      .as(Seq("band", "bucket")))

  /** exact Jaccard of candidate pairs (a_id, b_id) over shingle-set
    * frames: the small candidate side is broadcast onto each set frame in
    * turn (the sets are never shuffled) and `inter` is a sorted merge. */
  private def verifyJaccard(cand: DataFrame, shA: DataFrame, shB: DataFrame,
                            tau: Double): DataFrame = {
    val withA = broadcast(cand)
      .join(shA.select(col("id").as("a_id"), col("sh").as("sh_a")), "a_id")
    val both = broadcast(withA)
      .join(shB.select(col("id").as("b_id"), col("sh").as("sh_b")), "b_id")
    val inter = column(SortedIntersectCount(expression(col("sh_a")), expression(col("sh_b"))))
    jaccardAtLeast(both.select(col("a_id"), col("b_id"), inter.as("inter"),
      size(col("sh_a")).cast("long").as("size_a"), size(col("sh_b")).cast("long").as("size_b")), tau)
  }

  /** candidate pairs of every banded join, with its hot-bucket guard:
    * ONE grouping of the (band, bucket, member…) rows of `keys`; a
    * bucket's pairs are its members with a.id < b.id, or with `against`
    * each (keys member, against member). A side with more than
    * `maxBucket` members in a bucket (f members would make f² pairs) is
    * dropped; a Dataset.observe on the one checkpoint of the kept buckets
    * counts the dropped memberships, logged per side (`tags`). Output:
    * member structs `a`, `b`, one row per (bucket, pair). */
  private def bucketPairs(keys: DataFrame, against: Option[DataFrame], maxBucket: Long,
                          tags: Seq[String]): DataFrame = {
    val sides = Seq("a", "b").take(1 + against.size)
    val tagged = sides.zip(keys +: against.toSeq).map { case (side, df) =>
      df.select(col("band"), col("bucket"), lit(side).as("side"),
        struct(df.columns.filterNot(Set("band", "bucket")).map(col).toIndexedSeq: _*).as("m"))
    }.reduce(_ unionByName _)
    val lists = sides.map(s => collect_list(when(col("side") === s, col("m"))).as(s))
    // a group yields pairs only with two members (self) or one per side
    val productive = sides.map(s => size(col(s)) >= (if (against.isEmpty) 2 else 1)).reduce(_ && _)
    def groups(rows: DataFrame) =
      rows.groupBy(col("band"), col("bucket")).agg(lists.head, lists.tail: _*).where(productive)
    val kept =
      if (maxBucket == Long.MaxValue) groups(tagged)
      else {
        // sizes from a window count (its buffer spills; the exchange is the
        // grouping's own), so an over-cap bucket is never collected
        val w = Window.partitionBy(col("band"), col("bucket"))
        val sized = sides.foldLeft(tagged)((df, s) =>
          df.withColumn(s"n_$s", count(when(col("side") === s, 1)).over(w)))
        val obs = org.apache.spark.sql.Observation(s"${tags.head}-${System.nanoTime()}")
        val dropped = sides.map(s =>
          sum(when(col("side") === s && col(s"n_$s") > maxBucket, 1L).otherwise(0L)).as(s))
        val cut = groups(sized.observe(obs, dropped.head, dropped.tail: _*)
          .where(sides.map(s => col(s"n_$s") <= maxBucket).reduce(_ && _))).localCheckpoint(true)
        val m = obs.get
        sides.zip(tags).foreach { case (s, tag) =>
          println(s"[graft] $tag: dropped ${Option(m(s)).getOrElse(0L)} bucket memberships in buckets larger than $maxBucket")
        }
        cut
      }
    val pairs =
      if (against.isEmpty)
        flatten(transform(col("a"), x =>
          transform(filter(col("a"), y => x("id") < y("id")), y => struct(x.as("a"), y.as("b")))))
      else
        flatten(transform(col("a"), x => transform(col("b"), y => struct(x.as("a"), y.as("b")))))
    kept.select(explode(pairs).as("p")).select(col("p.a").as("a"), col("p.b").as("b"))
  }

  /**
   * Incremental (recrawl-delta) MinHash+LSH near-dup pairs: each NEW
   * document against an EXISTING corpus — the asymmetric twin of
   * [[minhashLshPairs]] for the recrawl pipeline, where only the delta
   * batch should pay signature+probe cost while the corpus side's
   * buckets are a reusable artifact (here recomputed from text).
   * Candidates share ≥ 1 band bucket ACROSS sides (never a self-join over
   * the union); `maxBucket` caps each side separately. With no caps the
   * output equals the cross-side subset of [[minhashLshPairs]] over the
   * union (spec-pinned). Output: (a_id = new doc, b_id = corpus doc,
   * inter, size_a, size_b, jac ≥ tau).
   */
  def minhashLshPairsAgainst(corpus: DataFrame, newDocs: DataFrame,
                             idCol: String, textCol: String,
                             n: Int, bands: Int, rowsPerBand: Int, tau: Double,
                             maxBucket: Long = Long.MaxValue): DataFrame = {
    val shN = shingleSets(newDocs, idCol, textCol, n).localCheckpoint(true)
    val shC = shingleSets(corpus, idCol, textCol, n).localCheckpoint(true)
    lshJaccard(shN, Some(shC), bands, rowsPerBand, tau, maxBucket,
      Seq("minhashLshPairsAgainst(new)", "minhashLshPairsAgainst(corpus)"))
  }

  /**
   * Deterministic mixture (temperature) sampling — the training-mix
   * primitive: each stratum (e.g. language or source) gets a sampling
   * weight w; a document yields floor(w) whole copies plus one more with
   * probability frac(w), decided by the portable hash of "id:stratum" (so
   * the SAME document always draws the same verdict — reproducible across
   * runs, clusters and the SQL oracle). Output = the input columns plus
   * `epoch` (0-based copy index): w < 1 downsamples, w > 1 upsamples with
   * repetition, w = 0 drops the stratum. One codegen'd column pass —
   * no shuffle, no RNG state, embarrassingly parallel at any scale.
   */
  def mixtureSample(docs: DataFrame, idCol: String, strataCol: String,
                    weights: Map[String, Double],
                    defaultWeight: Double = 1.0): DataFrame = {
    require((defaultWeight +: weights.values.toSeq).forall(w => w >= 0.0 && w.isFinite),
      "mixture weights must be finite and >= 0")
    // the weight decomposes DRIVER-SIDE into integer literals — whole
    // copies + fractional threshold in millionths — so the executed plan
    // (and the SQL oracle) contain no float arithmetic at all: DuckDB's
    // double→BIGINT cast ROUNDS while Spark's truncates, so a float
    // threshold would disagree on exact .5 boundaries
    val entries = weights.toSeq.sortBy(_._1)
    def wholeOf(w: Double): Long = math.floor(w).toLong
    def fracOf(w: Double): Long = math.round((w - math.floor(w)) * 1000000.0)
    val wholeCol = entries.foldLeft(lit(wholeOf(defaultWeight))) {
      case (acc, (k, w)) => when(col(strataCol) === lit(k), lit(wholeOf(w))).otherwise(acc)
    }
    val fracCol = entries.foldLeft(lit(fracOf(defaultWeight))) {
      case (acc, (k, w)) => when(col(strataCol) === lit(k), lit(fracOf(w))).otherwise(acc)
    }
    // the draw is uniform on [0, 1e6) by the mod-p hash of "id:stratum"
    // (p = 2^31-1; the bucket bias of the final mod is ~5e-4 relative —
    // deterministic and mirrored exactly by the oracle)
    val draw = portableHash(
      concat(col(idCol).cast("string"), lit(":"), col(strataCol))) % lit(1000000L)
    docs.withColumn("n_copies",
        wholeCol + when(draw < fracCol, lit(1L)).otherwise(lit(0L)))
      .where(col("n_copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("n_copies") - 1)))
      .drop("n_copies")
  }

  /** 31-bit SimHash over distinct word hashes: bit j set when
    * sum over words of (2*((h>>j)&1) - 1) is positive. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(idCol).as("id"),
        explode(array_distinct(split(col(textCol), " "))).as("w"))
      .withColumn("h", portableHash(col("w")))
    words.select(col("id"), col("h"), explode(sequence(lit(0), lit(30))).as("j"))
      .groupBy(col("id"), col("j"))
      .agg(sum(expr("(shiftright(h, j) & 1) * 2 - 1")).as("s"))
      .groupBy(col("id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(1L, j)")).otherwise(0L)).as("simhash"))
  }

  /**
   * SimHash Hamming-ball near-dup pairs (Manku, Jain & Das Sarma, WWW'07
   * "Detecting Near-Duplicates for Web Crawling"): pairs of documents
   * whose 31-bit [[simhash]] signatures differ in at most `maxHamming`
   * bits. Candidate generation is the paper's pigeonhole banding — the
   * signature splits into `maxHamming + 1` contiguous bit bands, and any
   * pair within the Hamming ball must agree EXACTLY on at least one whole
   * band — so candidates come from per-bucket pairs (never an n² pass)
   * and, uncapped, the output EQUALS brute force: banding is lossless for
   * ≤ maxHamming, and the popcount filter removes every false positive.
   * Output: (a_id, b_id, hamming) with a < b.
   *
   * Scale: each document emits maxHamming+1 bucket rows; a band bucket
   * with f members yields f² candidate pairs, and with 31
   * signature bits a band carries only ~31/(h+1) bits, so web-scale
   * corpora concentrate into few buckets (the paper counters this with
   * 64-bit fingerprints and permuted tables). `maxBucket` is the same
   * hot-bucket guard as [[minhashLshPairs]]: over-cap buckets are dropped
   * before candidate generation (logged; capped output ⊆ uncapped).
   */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int,
                          maxBucket: Long = Long.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 31,
      s"maxHamming must be in [0, 30] for a 31-bit simhash, got $maxHamming")
    val nBands = maxHamming + 1
    val lens = Array.tabulate(nBands)(b => 31 / nBands + (if (b < 31 % nBands) 1 else 0))
    val starts = lens.scanLeft(0)(_ + _)
    val bandCols = (0 until nBands).map(b =>
      shiftright(col("simhash"), starts(b)).bitwiseAND(lit((1L << lens(b)) - 1)))
    val keys = simhash(docs, idCol, textCol).select(col("id"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    // popcount BEFORE distinct: the cheap codegen'd filter shrinks the
    // distinct's input (a pair matching on k bands appears k times)
    bucketPairs(keys, None, maxBucket, Seq("simhashNearDupPairs"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** exact quantized-cosine near-dup pairs over embeddings (a < b,
    * cos >= tau); round(x*1000) integer arithmetic end-to-end so ranking
    * and thresholding are portable. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            tau: Double, maxRows: Long = 100000): DataFrame = {
    // ALL-PAIRS guard: this is the exactness BASELINE (O(n²) theta join —
    // a BroadcastNestedLoopJoin); at corpus scale use the bucketed paths.
    // The guard mirrors polygonJoinAuto's strategy selection: fail loudly
    // instead of silently launching an n² job.
    val n = emb.count()
    require(n <= maxRows,
      s"embeddingNearDupPairs is the all-pairs exactness baseline ($n rows > maxRows=$maxRows): " +
        "use embeddingLshPairs (hyperplane LSH buckets) or Ops.annIvf (inverted lists) at this scale, " +
        "or raise maxRows explicitly if an exact quadratic pass is intended")
    val q = quantized(emb, idCol, vecCol)
    cosineAtLeast(q.as("a").join(q.as("b"), col("a.id") < col("b.id")), tau)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"), col("cos"))
  }

  /** (id, v, n2): the embedding quantized to round(x·1000) longs and its
    * squared norm — norms are per-vector, computed once BEFORE any pair
    * join, so the pair side only pays the dot product. */
  private def quantized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"),
        transform(col(vecCol), x => round(x.cast("double") * 1000).cast("long")).as("v"))
      .withColumn("n2", GeoFunctions.dot_long(col("v"), col("v")))

  /** exact quantized cosine `cos` of joined [[quantized]] sides a and b,
    * kept when >= tau. A quantized-to-zero vector has no direction: its
    * cosine is 0/0 = NaN and Spark orders NaN ABOVE every double, so
    * without the n2 guard one zero vector passes `>= tau` against every
    * row and a downstream connected-components collapse would link the
    * whole corpus. */
  private def cosineAtLeast(pairs: DataFrame, tau: Double): DataFrame =
    pairs.where(col("a.n2") > 0 && col("b.n2") > 0)
      .withColumn("cos", GeoFunctions.dot_long(col("a.v"), col("b.v")).cast("double") /
        sqrt(col("a.n2").cast("double") * col("b.n2").cast("double")))
      .where(col("cos") >= tau)

  /** deterministic random-hyperplane signature (`bits` sign bits): plane j
    * weight at dim i is ((j*1000003 + (i+1)*7919) mod 2001) - 1000. One
    * codegen'd static-call expression (GeoCodec.hyperplaneSig) instead of a
    * bits×dims column-expression tree — same values, ~none of the eval
    * overhead. */
  def hyperplaneSig(v: Column, dims: Int, bits: Int): Column =
    column(HyperplaneSig(expression(v), dims, bits))

  /**
   * LSH-bucketed near-dup: candidates share the full hyperplane signature
   * bucket, then exact quantized cosine — the scale path (bucket equi-join
   * instead of n² pairs). Approximate by construction; deterministic, so
   * the oracle reproduces the exact same candidate set.
   */
  def embeddingLshPairs(emb: DataFrame, idCol: String, vecCol: String,
                        dims: Int, bits: Int, tau: Double): DataFrame = {
    val q = quantized(emb, idCol, vecCol).withColumn("bucket", hyperplaneSig(col("v"), dims, bits))
    cosineAtLeast(q.as("a").join(q.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id")), tau)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"), col("a.bucket").as("bucket"), col("cos"))
  }

  /**
   * Incremental (recrawl-delta) embedding near-dup: each NEW vector
   * against an EXISTING corpus through the shared hyperplane-signature
   * buckets — the embedding twin of [[minhashLshPairsAgainst]]. The new
   * side probes the corpus side's buckets (candidates cross sides only,
   * never a self-join over the union; the corpus buckets are the stable
   * reusable artifact in a store deployment), then the exact quantized
   * cosine verifies. Output: (a_id = new, b_id = corpus, bucket, cos);
   * a re-embedded unchanged item pairs with its own previous version.
   */
  def embeddingLshPairsAgainst(corpus: DataFrame, newVecs: DataFrame,
                               idCol: String, vecCol: String,
                               dims: Int, bits: Int, tau: Double): DataFrame = {
    def prep(df: DataFrame) =
      quantized(df, idCol, vecCol).withColumn("bucket", hyperplaneSig(col("v"), dims, bits))
    cosineAtLeast(prep(newVecs).as("a").join(prep(corpus).as("b"),
        col("a.bucket") === col("b.bucket")), tau)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.bucket").as("bucket"), col("cos"))
  }

  /**
   * Collapse near-dup pairs into DUPLICATE CLUSTERS and pick keepers —
   * the step after candidate verification in every dedup pipeline:
   * connected components over the pair graph (min-label propagation,
   * [[Graphs.minLabelComponents]]), cluster id = min doc id, keeper =
   * the doc equal to its cluster id. `ids` supplies the full corpus so
   * unpaired docs come out as their own (kept) singleton cluster.
   * Output: (id, cluster, is_keeper).
   */
  def nearDupClusters(ids: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val fwd = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
    val rev = pairs.select(col("b_id").as("src"), col("a_id").as("dst"))
    val self = ids.select(col(idCol).as("src"), col(idCol).as("dst"))
    Graphs.minLabelComponents(fwd.unionByName(rev).unionByName(self))
      .select(col("id"), col("lbl").as("cluster"),
        (col("lbl") === col("id")).as("is_keeper"))
  }

  /** marker words per language for the n-gram-heuristic language id. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "et", "les"),
    "es" -> Seq("el", "y", "los"))

  /** language id: count marker-word occurrences per language, pick the
    * argmax (ties broken by language order), 'und' (undetermined) when no
    * marker hits. */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))
    val scores = LangMarkers.map { case (lang, ms) =>
      sum(when(col("w").isin(ms: _*), 1L).otherwise(0L)).as(s"n_$lang")
    }
    val scored = words.groupBy(col("id")).agg(scores.head, scores.tail: _*)
    // argmax: the largest count, ties to the earlier language
    val best = greatest(LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      struct(col(s"n_$lang").as("n"), lit(-i).as("rank"), lit(lang).as("lang"))
    }: _*)
    scored.withColumn("lang_id", when(best("n") > 0, best("lang")).otherwise(lit("und")))
      .select(col("id") +: LangMarkers.map(l => col(s"n_${l._1}")) :+ col("lang_id"): _*)
  }

  /**
   * Composite quality signals for corpus filtering (the heuristics of
   * Gopher/C4-style quality rules, kept SQL-oracle-exact): word count,
   * mean word length (centi-chars, floor), stopword count, digit /
   * uppercase / symbol character counts. Pure column expressions —
   * codegen'd end to end, no shuffle.
   */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = nonEmptyWords(textCol)
    val nWords = size(words).cast("long")
    val charSum = aggregate(transform(words, w => length(w).cast("long")), lit(0L), _ + _)
    val stopCnt = size(filter(words, w => w === "the" || w === "and" || w === "of")).cast("long")
    docs.select(
      col(idCol).as("id"),
      nWords.as("n_words"),
      when(nWords === 0, 0L)
        .otherwise(floor((charSum * 100).cast("double") / nWords).cast("long"))
        .as("mean_word_len_c"),
      stopCnt.as("stopword_cnt"),
      regexp_count(col(textCol), lit("[0-9]")).cast("long").as("digit_cnt"),
      regexp_count(col(textCol), lit("[A-Z]")).cast("long").as("upper_cnt"),
      regexp_count(col(textCol), lit("[^A-Za-z0-9 ]")).cast("long").as("symbol_cnt"))
  }

  /** token counting with a BPE-ish regex: words, numbers, and single
    * punctuation each count as one token (portable RE2/Java subset). */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      size(nonEmptyWords(textCol)).cast("long").as("n_words"),
      regexp_count(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long").as("n_tokens"))

  /**
   * Concat-and-cut sequence packing (the GPT-style pretraining layout):
   * documents route to `shards` deterministic shards by portable id-hash,
   * concatenate within the shard in id order, and the resulting token
   * stream cuts into fixed `budget`-token sequences. Each document gets
   * its stream position: `start_offset` (tokens before it in its shard)
   * and `bin` = start_offset div budget (the sequence its first token
   * lands in; long documents straddle into later bins). Token counts use
   * the same BPE-ish portable regex as [[tokenCount]]. All arithmetic is
   * integer (no float division — the SQL oracle replays every offset
   * exactly); one shuffle by shard + a per-shard sort IS the packing
   * order contract, and shard count scales the parallelism.
   */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    budget: Long, shards: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(shards > 0, s"shards must be positive, got $shards")
    val toks = regexp_count(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol).as("id"), toks.as("n_tokens"))
      // portableHash is already non-negative (mod p of a non-negative fold)
      .withColumn("shard", portableHash(col("id").cast("string")) % lit(shards.toLong))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", expr(s"start_offset DIV $budget"))
  }

  /**
   * BPE merge-candidate mining — the hot loop of byte-pair-encoding
   * tokenizer training at corpus scale: count every within-word adjacent
   * character pair across the corpus (each occurrence counts, so word
   * frequency weights naturally) and rank the top `k` merge candidates
   * (count desc, pair asc — the deterministic tie-break). One explode →
   * partial-aggregated groupBy → rank; at 100 TB the pair-key groupBy is
   * map-side combined, and the global rank window runs over the
   * AGGREGATED pair table only (≤ |alphabet|² rows — bounded regardless
   * of corpus size, so the single-partition window is safe by
   * construction). Output: (pair, cnt, rnk ≤ k).
   *
   * Assumes BMP text (the corpora here are ASCII). Pairs are cut by code
   * point (Spark `substring`), so an astral-plane character is one symbol.
   * The q116 oracle's DuckDB `substr` also counted code points on DuckDB
   * 1.0.0, but an engine counting UTF-16 units or grapheme clusters cuts
   * such text differently, and the oracle only ever sees ASCII.
   */
  def bpePairCounts(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val words = docs
      .select(explode(nonEmptyWords(textCol)).as("w"))
      .where(length(col("w")) >= 2)
    val rankW = Window.orderBy(col("cnt").desc, col("pair"))
    words
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Lexicographic text range filter over a whole field value — the
    * reference's FilterableTextRangeConstraint / TextRangeFilter
    * (core/store/.../index/text/FilterableTextRangeConstraint.java:22-44,
    * TextRangeFilter.accept:52-66): value ∈ [start, end] inclusive;
    * case-insensitive mode case-folds BOTH the value and the bounds
    * before comparing (equality = start == end). Pure column predicate —
    * pushes into the scan. */
  def textRange(docs: DataFrame, textCol: String, start: String, end: String,
                caseSensitive: Boolean = true): DataFrame = {
    val v = if (caseSensitive) col(textCol) else lower(col(textCol))
    // Locale.ROOT: Spark's lower() folds locale-independently; a Turkish
    // default locale would fold 'I' differently and desynchronize bounds
    val (s, e) =
      if (caseSensitive) (start, end)
      else (start.toLowerCase(java.util.Locale.ROOT), end.toLowerCase(java.util.Locale.ROOT))
    docs.where(v >= lit(s) && v <= lit(e))
  }

  /** Deterministic train/val/test assignment: portable CONTENT hash mod
    * 100 against cumulative percentage cuts. Keying on the text (not a
    * row id) makes the split stable across re-ingests of a growing corpus
    * AND puts exact duplicates in the same fold — the standard guard
    * against train/test leakage through dup pairs. Pure column
    * expression; zero shuffle. */
  def hashSplit(docs: DataFrame, textCol: String,
                pctTrain: Int, pctVal: Int): DataFrame = {
    require(pctTrain >= 0 && pctVal >= 0 && pctTrain + pctVal <= 100,
      s"percent cuts must fit in 100 (got $pctTrain + $pctVal)")
    val bucket = pmod(portableHash(col(textCol)), lit(100L))
    docs.withColumn("split",
      when(bucket < pctTrain, lit("train"))
        .when(bucket < pctTrain + pctVal, lit("val"))
        .otherwise(lit("test")))
  }

  /** Per-key document cap: keep the `k` lowest-`ordCol` rows of each key —
    * the per-host page cap web-crawl pipelines apply before training.
    * One window top-k; Spark's WindowGroupLimit pushes the limit below
    * the shuffle so at most k rows per key move. */
  def capPerKey(df: DataFrame, keyCol: String, ordCol: String, k: Int,
                tieCols: Seq[String] = Seq.empty): DataFrame = {
    // ties on ordCol straddling rank k would make the kept set
    // partition-order-dependent; callers with a non-unique ordCol pass a
    // unique tie-break column (q66 uses the doc id)
    val order = (col(ordCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
  }

  /**
   * INCREMENTAL exact dedup against an existing corpus: which new docs
   * already exist (by content hash) in the seen corpus? The seen side is
   * summarized into a broadcast Bloom filter over content hashes —
   * definite-new docs never join at all; only the Bloom-possible
   * candidates (a small fraction at a sane fpp) go through the exact
   * hash equi-join, which also kills the Bloom's false positives, so the
   * OUTPUT is exact and deterministic. This is the shape of continuous
   * crawl dedup: the filter is tiny relative to the corpus and rebuilt
   * incrementally. Output: new-doc rows whose text already exists.
   *
   * The Bloom build temporarily raises two SESSION confs (the runtime
   * bloom-filter sizing clamps); the mutation is serialized through
   * [[bloomConfLock]] so two concurrent builds in one session cannot
   * observe each other's half-restored values.
   */
  def incrementalDedup(newDocs: DataFrame, seenDocs: DataFrame,
                       idCol: String, textCol: String,
                       expectedSeen: Long = 1000000, fpp: Double = 0.01): DataFrame = {
    val hash = md5(col(textCol).cast("binary"))
    // cache: the seen-side scan + md5 feeds BOTH the eager bloomFilter
    // action and the verify join — without it the whole DAG runs twice
    val seen = seenDocs.select(hash.as("text_md5")).localCheckpoint(true)
    // stat.bloomFilter goes through bloom_filter_agg, whose sizing is
    // SILENTLY clamped by the runtime-filter confs; raise them for the
    // build so the advertised expectedSeen/fpp are actually honored
    val spark = newDocs.sparkSession
    val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val bloom = bloomConfLock.synchronized {
      val oldItems = spark.conf.getOption(itemsConf)
      val oldBits = spark.conf.getOption(bitsConf)
      try {
        spark.conf.set(itemsConf, math.max(expectedSeen, 4000000L))
        spark.conf.set(bitsConf, math.max(8L * expectedSeen * 10, 67108864L))
        seen.stat.bloomFilter("text_md5", math.max(expectedSeen, 64), fpp)
      } finally {
        oldItems.fold(spark.conf.unset(itemsConf))(v => spark.conf.set(itemsConf, v))
        oldBits.fold(spark.conf.unset(bitsConf))(v => spark.conf.set(bitsConf, v))
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val mightBeSeen = column(BloomMightContain(expression(col("text_md5")), bos.toByteArray))
    newDocs
      .withColumn("text_md5", hash)
      .where(mightBeSeen) // Bloom prunes definite-new rows, codegen'd
      .join(seen.distinct(), Seq("text_md5")) // exact verify kills false positives
  }

  /** serializes the session-conf mutation inside [[incrementalDedup]]'s
    * Bloom build (set/restore of the runtime bloom-filter sizing confs is
    * not atomic; JVM-local like the SparkSession it guards). */
  private val bloomConfLock = new Object

  /** membership probe against a serialized Bloom filter (codegen'd; the
    * filter deserializes once per task). */
  case class BloomMightContain(child: Expression, bloomBytes: Array[Byte]) extends UnaryExpression {
    override def dataType: org.apache.spark.sql.types.DataType = org.apache.spark.sql.types.BooleanType
    override def nullIntolerant: Boolean = true
    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloomBytes))
    def test(s: UTF8String): Boolean =
      // same bytes the build side hashed (putBinary of UTF-8), without the
      // per-row String round-trip of mightContainString
      bloom.mightContainBinary(s.getBytes)
    override def nullSafeEval(s: Any): Any = test(s.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomMightContain", this, classOf[BloomMightContain].getName)
      defineCodeGen(ctx, ev, s => s"$ref.test($s)")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** corpus vocabulary: top-k tokens by total occurrence count (ties →
    * lexicographic) — the vocabulary-building pass of a training
    * pipeline. One explode + one aggregation; the final top-k is a
    * WindowGroupLimit-style global limit over the (small) aggregated
    * token table, not the raw corpus. */
  def topTokens(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = docs
      .select(explode(nonEmptyWords(textCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    counts.orderBy(col("cnt").desc, col("token")).limit(k)
  }

  /**
   * Per-(doc, token) TF + corpus DF + corpus size — the exact integer
   * inputs of TF-IDF scoring, kept as integers so the oracle compares
   * bit-for-bit (the float idf = ln(N/df) is libm-dependent and left to
   * the consumer). Two aggregations over one explode; df joins back on
   * the token equi-key.
   */
  def tfDf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = docs.select(col(idCol).as("id"),
      explode(nonEmptyWords(textCol)).as("token"))
    val tf = tokens.groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(df, "token").select("id", "token", "tf", "df")
  }

  /** LIKE/regex text filtering with the reference's semantics
    * (LikeFilter/FilterableLikeConstraint: `%` translated to `.*`, the
    * rest treated as a Java regex, optional case-insensitivity, and the
    * value must match the pattern in FULL — Matcher.matches(),
    * LikeFilter.java:55-65, pinned by LikeFilterTest.java:19-84). */
  def likeSearch(docs: DataFrame, idCol: String, textCol: String,
                 expression: String, caseSensitive: Boolean = true): DataFrame = {
    // \A..\z, not ^..$: $ would match before a trailing newline, which
    // Matcher.matches() (the reference contract) does not allow
    val regex = (if (caseSensitive) "" else "(?i)") +
      "\\A(?:" + expression.replace("%", ".*") + ")\\z"
    docs.where(regexp_like(col(textCol), lit(regex))).select(col(idCol).as("id"))
  }

  /** the one word tokenization every word-level operator shares (q54/q57/
    * q58/q98/q99 and their oracles' `list_filter(string_split(text,' '))`
    * twin): split on single spaces, drop empties. Changing it means
    * changing every oracle with it — hence one definition. */
  private def nonEmptyWords(textCol: String): Column =
    filter(split(col(textCol), " "), w => length(w) > 0)

  /**
   * Repetition quality signals (the Gopher/MassiveText repetition rules —
   * Rae et al. 2021 §A1.1, applied to single-line web text): per document,
   * the share of the most frequent WORD and the fraction of word TRIGRAMS
   * that repeat an earlier identical trigram. Emitted as exact integer
   * counts (numerator, denominator) so thresholds stay caller policy and
   * oracles compare integers, never floats.
   *
   * Scale shape: the top-word mode goes through explode → two-level
   * aggregation (map-side partial combine on (id, word), then (id)) — the
   * per-doc hash-map-in-an-expression alternative is O(n·distinct) per
   * row; the trigram side never explodes (array expressions only, one
   * pass). Zero-word documents survive via the left join with zeroed
   * counts.
   */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = nonEmptyWords(textCol)
    val n = size(words)
    // trigram window over the word array: positions 1..n-2 (1-based slice)
    val trigrams = when(n >= 3,
      transform(sequence(lit(1), n - 2), i => concat_ws(" ", slice(words, i, lit(3)))))
      .otherwise(array().cast("array<string>"))
    val perDoc = docs.select(
      col(idCol).as("id"),
      when(n >= 3, (n - 2).cast("long")).otherwise(0L).as("n_trigrams"),
      when(n >= 3, (n - 2 - size(array_distinct(trigrams))).cast("long"))
        .otherwise(0L).as("dup_trigram_cnt"))
    val topWord = docs
      .select(col(idCol).as("id"), explode(words).as("word"))
      .groupBy("id", "word").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(max(col("c")).as("top_word_cnt"),
        sum(col("c")).as("n_words"))
    perDoc.join(topWord, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("top_word_cnt"), lit(0L)).as("top_word_cnt"),
        col("n_trigrams"), col("dup_trigram_cnt"))
  }

  /**
   * Corpus-wide chunk-level deduplication (the paragraph-dedup step of
   * CCNet/RefinedWeb-style pipelines, applied to unstructured single-line
   * text): each document splits into consecutive `chunkWords`-word chunks
   * (the last one may be shorter); a chunk whose exact text occurs in MORE
   * than `maxDocs` distinct documents is boilerplate and is removed from
   * every document; surviving chunks reassemble in order. Documents losing
   * every chunk come back with empty text (kept, so downstream length
   * filters make the drop decision).
   *
   * Scale shape: posexplode → per-chunk distinct-doc count (two-level
   * aggregation) → equi-join back on the chunk text (AQE broadcasts the
   * hot-chunk side when small) → ordered reassembly via
   * sort_array(collect_list(struct(pos, chunk))). No driver-side
   * collection at any cardinality.
   */
  def dedupChunks(docs: DataFrame, idCol: String, textCol: String,
                  chunkWords: Int = 8, maxDocs: Int = 2): DataFrame = {
    require(chunkWords >= 1 && maxDocs >= 1, "chunkWords and maxDocs must be >= 1")
    val words = nonEmptyWords(textCol)
    // ceil(size / chunkWords) in exact integer arithmetic
    val nChunks = floor((size(words) + lit(chunkWords - 1)) / lit(chunkWords)).cast("int")
    val chunks = when(size(words) > 0,
      transform(sequence(lit(1), nChunks),
        i => concat_ws(" ", slice(words, (i - 1) * chunkWords + 1, lit(chunkWords)))))
      .otherwise(array().cast("array<string>"))
    val exploded = docs.select(col(idCol).as("id"), posexplode(chunks).as(Seq("pos", "chunk")))
    val chunkDocs = exploded.groupBy("chunk")
      .agg(countDistinct(col("id")).as("n_docs"))
    val kept = exploded.join(chunkDocs, Seq("chunk"))
      .where(col("n_docs") <= maxDocs)
    val reassembled = kept.groupBy("id")
      .agg(array_join(transform(sort_array(collect_list(struct(col("pos"), col("chunk")))),
        s => s.getField("chunk")), " ").as("clean_text"))
    docs.select(col(idCol).as("id"))
      .join(reassembled, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** dialect-pinned PII patterns: only explicit ASCII classes and `[.]`
    * literals — no bare `.`, no perl shorthands — so the Java and RE2
    * (DuckDB oracle) dialects agree character-for-character (the Java-dot
    * pitfall in CLAUDE.md). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val Ipv4Pattern = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  val PhonePattern = "[0-9]{3}[-][0-9]{3}[-][0-9]{4}"

  /**
   * PII redaction — the scrub step of a training-data pipeline: emails,
   * IPv4 addresses and US-style phone numbers replace with typed
   * placeholders; per-doc match counts are emitted (counted BEFORE
   * redaction) so filtering policy stays with the caller. Redaction
   * order is fixed (email, then IP, then phone): the classes are
   * disjoint on real text, and a fixed order keeps the output
   * deterministic where they could ever overlap. Pure column expressions
   * (codegen'd regexp_replace/regexp_count) — one scan, no shuffle.
   */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(t, lit(EmailPattern), lit("<EMAIL>")),
        lit(Ipv4Pattern), lit("<IP>")),
      lit(PhonePattern), lit("<PHONE>"))
    docs.select(col(idCol).as("id"),
      clean.as("clean_text"),
      regexp_count(t, lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(t, lit(Ipv4Pattern)).cast("long").as("n_ips"),
      regexp_count(t, lit(PhonePattern)).cast("long").as("n_phones"))
  }

  /** document fingerprint: min/max/xor over portable rolling hashes of all
    * char k-grams (winnowing-style signature). Docs shorter than k chars
    * are dropped. */
  def fingerprintKgram(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val t = col(textCol)
    // all gram hashes in ONE codegen'd pass (the per-gram substr-fold
    // column tree it replaces was O(len·k) eval-mode expressions per row)
    val gramHash = column(KgramHashes(expression(t), k))
    docs.where(length(t) >= k)
      .select(col(idCol).as("id"), gramHash.as("hs"))
      .select(col("id"),
        array_min(col("hs")).as("fp_min"),
        array_max(col("hs")).as("fp_max"),
        aggregate(col("hs"), lit(0L), (a, x) => a.bitwiseXOR(x)).as("fp_xor"))
  }
}
