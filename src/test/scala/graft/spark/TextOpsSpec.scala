package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Dedup/text suite vs literal Scala reimplementations of the same
  * portable integer hashing. */
class TextOpsSpec extends SparkTestBase {

  val P = 2147483647L // 2^31 - 1

  // small doc fixture with planted near-duplicates
  private lazy val docs = {
    import spark.implicits._
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river side"), // near-dup of 0
      (2L, "a completely different document about spark catalyst query planning"),
      (3L, "a completely different document about spark catalyst query planner"), // near-dup of 2
      (4L, "der schnelle braune fuchs springt und der hund und die katze"),
      (5L, "le chat et le chien et les oiseaux dans le jardin"),
      (6L, "el perro y el gato y los pajaros en la casa"),
      (7L, "the quick brown fox jumps over the lazy dog near the river bank")) // exact dup of 0
    base.toDF("doc_id", "text")
  }

  private def hashStr(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % P)

  private def wordShingles(t: String, n: Int): Set[String] =
    t.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  test("portableHash matches local fold") {
    val got = docs.select(col("doc_id"), TextOps.portableHash(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = docs.collect().map(r => (r.getLong(0), hashStr(r.getString(1)))).toMap
    assert(got == local)
  }

  test("ngramJaccardPairs == brute-force Jaccard") {
    val tau = 0.5
    val got = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, tau)
      .select("a_id", "b_id", "jac").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val local = docs.collect().map(r => (r.getLong(0), wordShingles(r.getString(1), 3)))
    val want = (for {
      (ia, sa) <- local; (ib, sb) <- local if ia < ib
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter) if inter > 0 && jac >= tau
    } yield ((ia, ib), jac)).toMap
    assert(got == want)
    assert(want.contains((0L, 7L)) && want((0L, 7L)) == 1.0, "exact dup pair found")
    assert(want.contains((0L, 1L)), "near-dup pair found")
  }

  test("minhashLshPairs finds planted near-dups, subset of exact pairs") {
    val tau = 0.5
    val lsh = TextOps.minhashLshPairs(docs, "doc_id", "text", 3, bands = 4, rowsPerBand = 4, tau)
      .select("a_id", "b_id", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, tau)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((0L, 7L)), "exact dup must share every band")
  }

  test("simhash: identical docs equal, near-dups within small hamming distance") {
    val got = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(0L) == got(7L))
    val hamming01 = java.lang.Long.bitCount(got(0L) ^ got(1L))
    val hamming02 = java.lang.Long.bitCount(got(0L) ^ got(2L))
    assert(hamming01 < hamming02, s"near-dup hamming $hamming01 !< unrelated $hamming02")
  }

  test("bpePairCounts == local adjacent-char-pair counts with deterministic tie-break") {
    val k = 10
    val got = TextOps.bpePairCounts(docs, "doc_id", "text", k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._3).toSeq
    val counts = docs.collect().flatMap(_.getString(1).split(" "))
      .filter(_.length >= 2)
      .flatMap(w => w.sliding(2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expect = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(k)
      .zipWithIndex.map { case ((p, c), i) => (p, c, i + 1L) }
    assert(got == expect)
  }

  test("packSequences: offsets and bins match a local concat-and-cut replay") {
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, ("tok " * ((i % 17).toInt + 1)).trim))
    val df = rows.toDF("doc_id", "text")
    val got = TextOps.packSequences(df, "doc_id", "text", budget = 20L, shards = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // local replay: shard by hash, order by id, running exclusive sum
    val tokens = rows.map { case (id, t) => (id, t.split(" ").count(_.nonEmpty).toLong) }.toMap
    val byShard = rows.map(_._1).groupBy(id => hashStr(id.toString) % 4L)
    val expect = byShard.flatMap { case (shard, ids) =>
      var off = 0L
      ids.sorted.map { id =>
        val e = (id, (tokens(id), shard, off, off / 20L))
        off += tokens(id)
        e
      }
    }
    assert(got == expect)
    // a doc starting exactly on a cut lands in the new bin; straddlers keep the earlier bin
    assert(got.values.forall { case (_, _, start, bin) => bin == start / 20L })
  }

  test("mixtureSample: per-stratum copies match a local replay of the id:stratum draw") {
    import spark.implicits._
    val rows = (0L until 300L).map(i => (i, Seq("en", "zh", "fr", "de")((i % 4).toInt)))
    val df = rows.toDF("doc_id", "lang")
    val weights = Map("en" -> 0.6, "zh" -> 2.3, "fr" -> 0.0)
    val got = TextOps.mixtureSample(df, "doc_id", "lang", weights)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // local replay of the deterministic decomposition
    def copiesOf(id: Long, lang: String): Long = {
      val w = weights.getOrElse(lang, 1.0)
      val whole = math.floor(w).toLong
      val frac = math.round((w - math.floor(w)) * 1000000.0)
      whole + (if (hashStr(s"$id:$lang") % 1000000L < frac) 1L else 0L)
    }
    val expect = (for {
      (id, lang) <- rows
      n = copiesOf(id, lang) if n > 0
      e <- 0L until n
    } yield (id, lang, e)).toSet
    assert(got.toSet == expect)
    assert(got.length == expect.size, "no duplicate (id, epoch) rows")
    // shape properties: fr dropped, de (default 1.0) exactly once, zh >= 2
    assert(!got.exists(_._2 == "fr"))
    val byDoc = got.groupBy(t => (t._1, t._2)).view.mapValues(_.length).toMap
    assert(rows.filter(_._2 == "de").forall { case (id, l) => byDoc((id, l)) == 1 })
    assert(rows.filter(_._2 == "zh").forall { case (id, l) => byDoc((id, l)) >= 2 })
    // the fractional draw actually splits: some en kept, some dropped
    val enKept = rows.count { case (id, l) => l == "en" && byDoc.contains((id, l)) }
    val enAll = rows.count(_._2 == "en")
    assert(enKept > 0 && enKept < enAll)
  }

  test("minhashLshPairsAgainst == cross-side subset of the symmetric run; subset of brute-force Jaccard") {
    // corpus = even ids, new batch = odd ids; doc 1 near-dups corpus doc 0,
    // doc 7 is an exact dup of corpus doc 0
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val fresh = docs.where(col("doc_id") % 2 =!= 0)
    val got = TextOps.minhashLshPairsAgainst(corpus, fresh, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 4, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((7L, 0L)), "exact dup must probe into its corpus twin")
    assert(got.contains((1L, 0L)), "planted near-dup must be found")
    // uncapped, the asymmetric run is exactly the cross-side subset of the
    // symmetric self-join over the union (same bands, same hashing)
    val sym = TextOps.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 4, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossFromSym = sym.collect {
      case (a, b) if a % 2 != 0 && b % 2 == 0 => (a, b)
      case (a, b) if b % 2 != 0 && a % 2 == 0 => (b, a)
    }
    assert(got == crossFromSym)
    // and every survivor is a true Jaccard >= tau pair
    def jac(a: Long, b: Long): Double = {
      val byId = docs.collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val (sa, sb) = (wordShingles(byId(a), 3), wordShingles(byId(b), 3))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    got.foreach { case (a, b) => assert(jac(a, b) >= 0.5, s"($a,$b)") }
  }

  test("simhashNearDupPairs == brute-force Hamming ball (pigeonhole is lossless); cap ⊆ uncapped") {
    val sigs = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    def brute(h: Int): Set[(Long, Long, Int)] = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      d = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if d <= h
    } yield (a, b, d)).toSet
    for (h <- Seq(0, 2, 5)) {
      val got = TextOps.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute(h), s"maxHamming=$h")
    }
    // exact dup (0,7) has hamming 0 — must appear at every h
    val h0 = TextOps.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(h0.contains((0L, 7L)))
    // hot-bucket cap drops pairs, never invents them
    val capped = TextOps.simhashNearDupPairs(docs, "doc_id", "text",
        maxHamming = 5, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped.subsetOf(brute(5)))
  }

  test("embedding near-dup: LSH pairs subset of exact pairs; planted dup found") {
    import spark.implicits._
    // deterministic vectors; 0 and 1 nearly identical
    val vecs = (0L until 40L).map { i =>
      val src = if (i == 1) 0L else i // vec 1 = vec 0 + tiny perturbation
      val base = Array.tabulate(16)(d => (((src * 31 + d * 7) % 19) - 9).toFloat / 9f)
      if (i == 1) base(0) = base(0) + 0.01f
      (i, base.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val exact = TextOps.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.95)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 1L)))
    val lsh = TextOps.embeddingLshPairs(emb, "vec_id", "embedding", dims = 16, bits = 8, tau = 0.95)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    // byte-identical vectors (period-19 generator collisions) always share
    // every hyperplane sign, so they must survive LSH bucketing
    assert(lsh.contains((2L, 21L)), "identical vectors share all hyperplane signs")
    assert(lsh.nonEmpty)
  }

  test("embeddingLshPairsAgainst == cross-side subset of the symmetric run") {
    import spark.implicits._
    val vecs = (0L until 80L).map { i =>
      val src = if (i == 1) 0L else i // vec 1 = vec 0 + tiny perturbation
      val base = Array.tabulate(16)(d => (((src * 31 + d * 7) % 19) - 9).toFloat / 9f)
      if (i == 1) base(0) = base(0) + 0.01f
      (i, base.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val corpus = emb.where(col("vec_id") % 2 === 0)
    val fresh = emb.where(col("vec_id") % 2 =!= 0)
    val got = TextOps.embeddingLshPairsAgainst(corpus, fresh, "vec_id", "embedding",
        dims = 16, bits = 8, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 0L)), "planted near-dup must probe into its corpus twin")
    val sym = TextOps.embeddingLshPairs(emb, "vec_id", "embedding",
        dims = 16, bits = 8, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossFromSym = sym.collect {
      case (a, b) if a % 2 != 0 && b % 2 == 0 => (a, b)
      case (a, b) if b % 2 != 0 && a % 2 == 0 => (b, a)
    }
    assert(got == crossFromSym)
  }

  test("annIvf: k rows per query, self is top-1, candidates from probed lists only") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 31 + d * 7) % 19) - 9).toFloat / 9f).toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val got = Ops.annIvf(emb, "vec_id", "embedding",
        nlist = 8, nProbe = 3, queryIds = Seq(0L, 50L, 120L), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 50L, 120L))
    for ((q, rows) <- byQ) {
      assert(rows.length == 5)
      val top1 = rows.minBy(_._3)._2
      // the query's own vector lives in its closest list, which is probed
      // first → cos=1 top hit (ties to the lowest id among identical vectors)
      val qVec = vecs.find(_._1 == q).get._2
      val top1Vec = vecs.find(_._1 == top1).get._2
      assert(top1Vec == qVec, s"query $q top-1 $top1 is not an identical vector")
    }
  }

  test("languageId picks the marker-dominant language") {
    val got = TextOps.languageId(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(r.length - 1))).toMap
    assert(got(0L) == "en" && got(4L) == "de" && got(5L) == "fr" && got(6L) == "es")
    assert(got(2L) == "und" || got(2L) == "en") // no strong markers
  }

  test("tokenCount: regex token count matches local Java regex") {
    val got = TextOps.tokenCount(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val re = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]".r
    for ((id, nWords, nTokens) <- got) {
      val t = docs.collect().find(_.getLong(0) == id).get.getString(1)
      assert(nWords == t.split(" ").count(_.nonEmpty))
      assert(nTokens == re.findAllIn(t).length)
    }
  }

  test("fingerprintKgram matches local rolling hash") {
    val k = 8
    val got = TextOps.fingerprintKgram(docs, "doc_id", "text", k).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    for (r <- docs.collect()) {
      val t = r.getString(1)
      val hs = (0 to t.length - k).map(i => hashStr(t.substring(i, i + k)))
      val want = (hs.min, hs.max, hs.foldLeft(0L)(_ ^ _))
      assert(got(r.getLong(0)) == want)
    }
    assert(got(0L) == got(7L), "identical docs share fingerprint")
  }

  test("decontaminate: brute-force shingle-overlap oracle + broadcast plan") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"), // benchmark
      (1L, "a quick brown fox runs far away today"),       // shares "quick brown fox"
      (2L, "the lazy dog sleeps all day long"),            // shares "the lazy dog"
      (3L, "completely different words here entirely now"),
      (4L, "quick brown fox jumps over the lazy dog again"), // many shared
      (5L, "short one")                                      // < n words: no shingles
    ).toDF("doc_id", "text")
    val bench = docs.where(col("doc_id") === 0L)
    val train = docs.where(col("doc_id") =!= 0L)
    val got = TextOps.decontaminate(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: distinct 3-gram overlap counts vs the benchmark doc
    def sh(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val benchSh = sh("the quick brown fox jumps over the lazy dog")
    val want = Seq(1L, 2L, 3L, 4L, 5L).flatMap { id =>
      val t = docs.where(col("doc_id") === id).collect()(0).getString(1)
      val hits = (sh(t) & benchSh).size.toLong
      if (hits >= 1) Some(id -> hits) else None
    }.toMap
    assert(got == want, s"got $got want $want")
    assert(!got.contains(3L) && !got.contains(5L))
    // minHits gate
    val strict = TextOps.decontaminate(train, bench, "doc_id", "text", n = 3,
      minHits = 2).collect().map(_.getLong(0)).toSet
    assert(strict == want.filter(_._2 >= 2).keySet)
    // scale shape: the benchmark side must be a broadcast hash join —
    // a sort-merge join would shuffle the whole training corpus
    val plan = TextOps.decontaminate(train, bench, "doc_id", "text", n = 3)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"), "train side must not sort-merge")
  }

  test("a zero embedding vector near-dups NOTHING (NaN cosine must not pass the threshold)") {
    import spark.implicits._
    // Spark orders NaN above every double, so 0/0 = NaN would satisfy
    // >= tau for every pair without the n2 > 0 guard — one zero vector
    // would link the whole corpus through connected components
    val emb = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),           // quantizes to zero
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.001f, 0.0f, 0.0f)),          // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val exact = TextOps.embeddingNearDupPairs(emb, "vec_id", "embedding", tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)), s"exact path: $exact")
    val lsh = TextOps.embeddingLshPairs(emb, "vec_id", "embedding",
        dims = 4, bits = 4, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lsh.exists(p => p._1 == 0L || p._2 == 0L), s"lsh path leaked the zero vector: $lsh")
  }

  test("nearDupClusters: components and keepers over a pair graph") {
    import spark.implicits._
    val ids = (0L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (3L, 5L), (2L, 6L)).toDF("a_id", "b_id")
    val got = TextOps.nearDupClusters(ids, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set(
      (0L, 0L, true), (1L, 1L, true), (3L, 1L, false), (5L, 1L, false),
      (2L, 2L, true), (6L, 2L, false), (4L, 4L, true)))
  }

  test("minhashLsh bucket cap: capped ⊆ LSH-uncapped with identical jaccards") {
    val docs = Tables.synthDocs(spark, 60)
    def asMap(maxBucket: Long) =
      TextOps.minhashLshPairs(docs, "doc_id", "text", n = 3,
        bands = 4, rowsPerBand = 4, tau = 0.5, maxBucket = maxBucket)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    val uncapped = asMap(Long.MaxValue)
    val capped = asMap(10)
    capped.foreach { case (k, jac) =>
      assert(uncapped.contains(k) && uncapped(k) == jac, s"pair $k")
    }
    assert(capped.nonEmpty)
  }

  // ---------------------------------------- MinHash ladder exactness

  /** code-point fold, the reference twin of portableHash for any text. */
  private def hashCp(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((acc, c) => (acc * 31 + c) % P)

  /** the band keys the MinHash ladder must produce, computed in Scala:
    * min over shingles of ((2j+1)h + 12345j + 1) mod p, then the
    * (acc·786433 + sig) mod p fold per band. */
  private def bruteBands(sh: Set[String], bands: Int, rows: Int): Seq[Long] = {
    val sig = (0 until bands * rows).map(j => sh.map(s => ((2L * j + 1) * hashCp(s) + 12345L * j + 1) % P).min)
    (0 until bands).map(b => (1 until rows).foldLeft(sig(b * rows))((acc, r) => (acc * 786433L + sig(b * rows + r)) % P))
  }

  /** seeded docs over a vocabulary with multi-byte and astral code points. */
  private lazy val unicodeDocs: DataFrame = {
    import spark.implicits._
    val vocab = Seq("the", "über", "naïve", "日本語", "café", "😀", "Ａ", "ß", "𝄞", "river", "fox", "Ω")
    val rnd = new scala.util.Random(42)
    val base = (0L until 40L).map(i => (i, Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // near-dups: every fifth doc reappears with its last word changed
    (base ++ base.collect { case (i, t) if i % 5 == 0 => (i + 100, t.split(" ").init.mkString(" ") + " fox") })
      .toDF("doc_id", "text")
  }

  test("MinHash band kernel equals the column formula it replaced (non-ASCII words)") {
    val n = 3
    // the old plan: explode distinct shingles, hash, one min aggregate per
    // hash function, band keys as a column fold over the signature columns
    val words = split(col("text"), " ")
    val sh = unicodeDocs.select(col("doc_id").as("id"), explode(when(size(words) >= n,
        transform(sequence(lit(1), size(words) - n + 1), i => array_join(slice(words, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))).as("shingle"))
      .distinct().withColumn("h", TextOps.portableHash(col("shingle")))
    val sigs = sh.groupBy("id").agg(min((lit(1L) * col("h") + lit(1L)) % P).as("sig0"),
      (1 until 16).map(j => min((lit(2L * j + 1) * col("h") + lit(12345L * j + 1)) % P).as(s"sig$j")): _*)
    val oldBands = sigs.select(col("id") +: (0 until 4).map { b =>
      (0 until 4).map(r => col(s"sig${b * 4 + r}")).reduce((acc, s) => (acc * 786433L + s) % P).as(s"band$b")
    }: _*).collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    val sets = unicodeDocs.groupBy(col("doc_id").as("id"))
      .agg(column(ShingleSet(expression(collect_list(col("text"))), n)).as("sh"))
      .where(size(col("sh")) > 0)
    val kernel = sets.select(col("id"), column(MinhashBands(expression(col("sh")), 4, 4)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel == oldBands)
    val local = unicodeDocs.collect().map(r => r.getLong(0) -> wordShingles(r.getString(1), n))
      .filter(_._2.nonEmpty).toMap
    assert(kernel == local.map { case (id, s) => id -> bruteBands(s, 4, 4) })
    // minhashSignatures (q44) reads the same fold with one row per band
    val sigCols = sigs.collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    val got = TextOps.minhashSignatures(unicodeDocs, "doc_id", "text", n, 16)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    assert(got == sigCols)
  }

  test("sorted-merge intersection equals Scala set intersection (multi-byte code points)") {
    import spark.implicits._
    // U+FF21 sorts AFTER U+1F600 in UTF-16 but BEFORE it in UTF-8 bytes: a
    // merge over sets sorted in different orders would miscount
    val alphabet = Seq("a", "b", "z", "é", "ß", "日", "本", "😀", "𝄞", "Ω", "Ａ")
    val rnd = new scala.util.Random(7)
    def words(): Seq[String] =
      Seq.fill(rnd.nextInt(14))(Seq.fill(1 + rnd.nextInt(3))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    val cases = Seq.fill(300)((words(), words()))
    def set(ws: Seq[String]) = GeoCodec.shingleSet(
      new GenericArrayData(ws.map(UTF8String.fromString).toArray[Any]), 1)
    for ((a, b) <- cases) {
      val (sa, sb) = (set(a), set(b))
      val utf8Order = a.distinct.sortWith((x, y) => java.util.Arrays.compareUnsigned(
        x.getBytes("UTF-8"), y.getBytes("UTF-8")) < 0)
      assert((0 until sa.numElements()).map(sa.getUTF8String(_).toString) == utf8Order)
      assert(GeoCodec.sortedIntersectCount(sa, sb) == (a.toSet & b.toSet).size, s"$a / $b")
    }
    // the codegen'd expressions agree row by row
    val got = cases.toDF("a", "b").select(column(SortedIntersectCount(
        expression(column(ShingleSet(expression(col("a")), 1))),
        expression(column(ShingleSet(expression(col("b")), 1)))))).collect().map(_.getLong(0)).toSeq
    assert(got == cases.map { case (a, b) => (a.toSet & b.toSet).size.toLong })
  }

  test("minhashLshPairs: docs with fewer than n words never pair") {
    import spark.implicits._
    // identical short docs would all share the empty signature's bucket
    val short = Seq((100L, "a b"), (101L, "a b"), (102L, "x"), (103L, ""), (104L, "a b")).toDF("doc_id", "text")
    val pairs = TextOps.minhashLshPairs(docs.unionByName(short), "doc_id", "text", 3,
        bands = 4, rowsPerBand = 4, tau = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => a < 100 && b < 100 }, pairs.toSeq)
    val sigIds = TextOps.minhashSignatures(docs.unionByName(short), "doc_id", "text", 3, 16)
      .collect().map(_.getLong(0)).toSet
    assert(sigIds == (0L to 7L).toSet)
  }

  test("minhashLshPairs: a doc id split over two rows pairs exactly as its unioned text") {
    import spark.implicits._
    // doc 20's two rows' shingles union to exactly doc 21's one text
    val rows = Seq(
      (20L, "the quick brown fox jumps over the lazy dog"),
      (20L, "the lazy dog near the river bank"),
      (21L, "the quick brown fox jumps over the lazy dog near the river bank")).toDF("doc_id", "text")
    val got = TextOps.minhashLshPairs(docs.unionByName(rows), "doc_id", "text", 3,
        bands = 4, rowsPerBand = 4, tau = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got((20L, 21L)) == ((11L, 11L, 11L)))
    def partners(id: Long) = got.collect {
      case ((a, b), v) if a == id && b != 20L && b != 21L => (b, v)
      case ((a, b), (i, sa, sb)) if b == id && a != 20L && a != 21L => (a, (i, sb, sa))
    }.toSet
    assert(partners(20L) == partners(21L) && partners(20L).nonEmpty)
  }

  test("hot-bucket cap: logged drop counts equal a brute-force count of over-cap memberships") {
    import spark.implicits._
    val hot = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = docs.unionByName((200L until 212L).map(i => (i, hot)).toDF("doc_id", "text"))
    val cap = 5L
    def logged(f: => Unit): Seq[(String, Long)] = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(f)
      "\\[graft\\] (\\S+): dropped (\\d+) bucket memberships".r
        .findAllMatchIn(buf.toString("UTF-8")).map(m => m.group(1) -> m.group(2).toLong).toSeq
    }
    /** memberships in (band, key) groups over the cap */
    def overCap(keys: Seq[Seq[Long]]): Long =
      keys.flatMap(_.zipWithIndex).groupBy(identity).values.map(_.size.toLong).filter(_ > cap).sum
    def minhashKeys(df: DataFrame): Seq[Seq[Long]] = df.collect()
      .groupBy(_.getLong(0)).values.map(rs => rs.flatMap(r => wordShingles(r.getString(1), 3)).toSet)
      .filter(_.nonEmpty).map(bruteBands(_, 4, 4)).toSeq
    val mh = logged(TextOps.minhashLshPairs(corpus, "doc_id", "text", 3, 4, 4, 0.5, maxBucket = cap).collect())
    assert(mh == Seq("minhashLshPairs" -> overCap(minhashKeys(corpus))))
    assert(mh.head._2 >= 4 * 12, "the twelve hot copies fill every band's bucket")
    // the recrawl twin caps each side on its own
    val fresh = (300L until 307L).map(i => (i, hot)).toDF("doc_id", "text").unionByName(docs.where(col("doc_id") < 3))
    val against = logged(TextOps.minhashLshPairsAgainst(corpus, fresh, "doc_id", "text",
      3, 4, 4, 0.5, maxBucket = cap).collect())
    assert(against == Seq("minhashLshPairsAgainst(new)" -> overCap(minhashKeys(fresh)),
      "minhashLshPairsAgainst(corpus)" -> overCap(minhashKeys(corpus))))
    assert(against.forall(_._2 > 0))
    // the simhash rung: 3 contiguous bit bands of the 31-bit signature
    val sims = TextOps.simhash(corpus, "doc_id", "text").collect().map(_.getLong(1))
    val lens = Seq(11, 10, 10)
    val starts = lens.scanLeft(0)(_ + _)
    val simKeys = sims.toSeq.map(h => lens.indices.map(b => (h >> starts(b)) & ((1L << lens(b)) - 1)))
    val sh = logged(TextOps.simhashNearDupPairs(corpus, "doc_id", "text", maxHamming = 2, maxBucket = cap).collect())
    assert(sh == Seq("simhashNearDupPairs" -> overCap(simKeys)) && sh.head._2 >= 3 * 12)
  }

  test("dedup op job pin: minhashLshPairs → collect, nearDupClusters → count") {
    // counts every job the session runs: the suites of this build run one
    // at a time in the forked test JVM
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      // the benchmark's dedup op: pairs cached for the cluster step
      val pairs = TextOps.minhashLshPairs(docs, "doc_id", "text", 3,
        bands = 4, rowsPerBand = 4, tau = 0.5, maxBucket = 200).cache()
      assert(pairs.collect().nonEmpty)
      assert(TextOps.nearDupClusters(docs, "doc_id", pairs).where(col("is_keeper")).count() > 0)
      pairs.unpersist(blocking = true)
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= JobPin, s"${jobs.get} Spark jobs (pinned at $JobPin)")
  }

  /** jobs of the dedup op above over this suite's planted docs: 15 with
    * the shingle-set / band-fold / one-pass-cap / merge-verify ladder and
    * the round-0 driver collapse (the per-hash-aggregate ladder it
    * replaced ran 31). */
  private val JobPin = 15

  // Exchange-count pins read the EXECUTED plan after an action:
  // queryExecution.sparkPlan predates EnsureRequirements (no inserted
  // exchanges yet), and AQE hides children behind the adaptive wrapper —
  // the final plan string is the honest record of what actually shuffled.
  private def executedExchangeCount(df: DataFrame): Int = {
    df.collect()
    // the adaptive plan string prints Final AND Initial sections — count
    // only the final one (everything before the "== Initial Plan ==" echo)
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    "Exchange hashpartitioning".r.findAllIn(finalSection).length
  }

  test("mixtureSample plan: zero Exchange (a pure narrow column pass)") {
    val docs = spark.range(0, 50, 1, 4)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, "en").otherwise("zh").as("lang"))
    val df = TextOps.mixtureSample(docs, "doc_id", "lang", Map("en" -> 0.5, "zh" -> 2.5))
    assert(executedExchangeCount(df) == 0,
      "mixture sampling must not shuffle:\n" + df.queryExecution.executedPlan)
  }

  test("packSequences plan: exactly one Exchange (the shard partitioning) below the window") {
    // multi-partition source: a single-partition LocalRelation would
    // satisfy the window's clustering for free and elide the exchange
    val docs = spark.range(0, 50, 1, 4).select(col("id").as("doc_id"), lit("a b c").as("text"))
    val df = TextOps.packSequences(docs, "doc_id", "text", budget = 4L, shards = 4)
    assert(executedExchangeCount(df) == 1,
      "packing must pay exactly the one shard shuffle:\n" + df.queryExecution.executedPlan)
  }

  test("simhashNearDupPairs: every join is an equi-join (no Cartesian/BNLJ anywhere in the plan)") {
    import spark.implicits._
    val docs = (0L until 60L)
      .map(i => (i, s"token${i % 7} shared words alpha beta gamma delta ${i % 3}"))
      .toDF("doc_id", "text")
    val df = TextOps.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 2)
    val plan = df.queryExecution.sparkPlan
    val offenders = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(offenders.isEmpty,
      "candidate generation must stay a banded equi-join, found:\n" + offenders.mkString("\n"))
  }
}
