package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.spark.{Ingest, Ops, SpatialJoin, Tables}

/** One closed-loop client over a store that set-up ingests through
  * `Ingest.run` and every op reads from disk (never Spark-cached). The
  * store keeps its `cell_id`, so no op pays the encode; range
  * decomposition, parquet pruning, exact tests and kNN rounds dominate.
  * The op kinds cycle in a seeded order with seeded parameters. The write
  * side is measured here too: the ingest is part of `setup_s`, its output
  * is checked, and the traced run ingests again for the ingest layer. */
final class StoreQuery(seed: Long, n: Long) extends Workload {
  import StoreQuery._

  type Out = (Query, Any)
  val name = "store_query"
  val inputRows: Long = n
  override def batch: Int = Kinds.size
  override def kind(i: Int): String = kinds(Math.floorMod(i, kinds.size))
  def sizes: Seq[(String, Long)] = Seq("store_rows" -> n, "buckets" -> cfg.numBuckets.toLong,
    "target_partitions" -> cfg.targetPartitions.toLong, "knn_query_pool" -> KnnPool.toLong,
    "knn_queries" -> (KnnPool / KnnSlices).toLong,
    "knn_k" -> KnnK.toLong)

  private val cfg = Ingest.Config(numBuckets = 8, batchSize = 8, targetPartitions = 8)
  private val regions = Tables.regionGeoms(40)
  private val centres = Inputs.centres(seed)
  private val kinds = new scala.util.Random(seed).shuffle(Kinds)
  private var store: String = _
  private var lineage: Seq[Ingest.BucketLineage] = Nil
  private var expectedXor = 0L
  private var queries: DataFrame = _
  // the oracle's copy of the input: plain arrays in this JVM, indexed by doc_id
  private var lons: Array[Double] = _
  private var lats: Array[Double] = _
  private var knnExpected: Map[Long, Set[(Long, Long, Long)]] = _
  private var polygonExpected: Map[String, Long] = _

  def prepare(ctx: Ctx): Unit = {
    val dir = ctx.work.resolve("store")
    graft.FsUtils.deleteRecursively(dir)
    store = dir.toString
    lineage = Ingest.run(ctx.spark, Inputs.pages(ctx.spark, seed, n), store, cfg)
    queries = Inputs.points(ctx.spark, seed, KnnPool, clusteredPct = 100)
      .select(col("doc_id").as("q_id"), col("lon"), col("lat")).cache()
    queries.count()
    op(ctx, -1)
  }

  /** one op of every kind, so the window starts with every path warm. */
  override def warmUp(ctx: Ctx): Unit = (1 to Kinds.size).foreach(k => op(ctx, -k))

  /** the ingest invariants: stored rows and lineage rows equal the input,
    * and the lineage's text checksum equals the XOR of xxhash64(text) over
    * the input (the text is stored byte-identical). */
  private def checkIngest(ctx: Ctx, dir: String, lin: Seq[Ingest.BucketLineage]): Check = {
    val stored = ctx.spark.read.parquet(s"$dir/data").count()
    val linRows = lin.map(_.rows).sum
    val linXor = lin.map(_.textChecksum).foldLeft(0L)(_ ^ _)
    if (stored == n && linRows == n && linXor == expectedXor) Check(ok = true, n, n)
    else Check(ok = false, math.min(stored, n), n,
      s"ingest: stored $stored, lineage rows $linRows, xor $linXor; want $n rows, xor $expectedXor")
  }

  def prepareChecks(ctx: Ctx): Seq[Check] = {
    lons = new Array[Double](n.toInt)
    lats = new Array[Double](n.toInt)
    Inputs.pages(ctx.spark, seed, n).select("doc_id", "lon", "lat").collect().foreach { r =>
      lons(r.getLong(0).toInt) = r.getDouble(1)
      lats(r.getLong(0).toInt) = r.getDouble(2)
    }
    val all = lons.indices
    val qs = queries.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    knnExpected = qs.flatMap { case (q, qx, qy) =>
      topK(all, qx, qy, KnnK).zipWithIndex.map { case (j, r) => (q, j.toLong, r + 1L) }
    }.toSet.groupBy(_._1 % KnnSlices)
    polygonExpected = Tables.regionBoxes(regions.size).map { case (id, x0, x1, y0, y1) =>
      id -> all.count(j => lons(j) >= x0 && lons(j) <= x1 && lats(j) >= y0 && lats(j) <= y1).toLong
    }.filter(_._2 > 0).toMap
    expectedXor = Inputs.pages(ctx.spark, seed, n).agg(expr("bit_xor(xxhash64(text))")).first().getLong(0)
    Seq(checkIngest(ctx, store, lineage))
  }

  /** the k nearest of `cand` to (qx, qy) by (squared degree distance, id),
    * nearest first: a bounded insertion into the k best seen so far. */
  private def topK(cand: Seq[Int], qx: Double, qy: Double, k: Int): Seq[Int] = {
    def d2(j: Int) = (lons(j) - qx) * (lons(j) - qx) + (lats(j) - qy) * (lats(j) - qy)
    def before(d: Double, j: Int, b: (Double, Int)) = d < b._1 || (d == b._1 && j < b._2)
    val best = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    cand.foreach { j =>
      val d = d2(j)
      if (best.size < k || before(d, j, best.last)) {
        val at = best.indexWhere(before(d, j, _))
        best.insert(if (at < 0) best.size else at, (d, j))
        if (best.size > k) best.remove(k)
      }
    }
    best.map(_._2).toSeq
  }

  private def params(i: Int, kind: String): Query = {
    val r = new scala.util.Random(seed * 1000003L + i)
    val (cx, cy) = centres(r.nextInt(centres.size))
    def jit(w: Double) = (r.nextDouble() - 0.5) * w
    kind match {
      case "box_selective" => Query(kind, cx + jit(0.2), cy + jit(0.2), 0.01)
      case "box_cluster" => Query(kind, cx + jit(0.05), cy + jit(0.05), 0.15)
      case "box_wide" => Query(kind, r.nextDouble() * 200 - 100, r.nextDouble() * 100 - 50, 20.0)
      case "radius" => Query(kind, cx + jit(0.1), cy + jit(0.1), RadiusMeters)
      case "distance_topk" => Query(kind, cx + jit(0.05), cy + jit(0.05), 0.05)
      case "knn_ring" => Query(kind, 0, 0, Math.floorMod(i / Kinds.size, KnnSlices).toDouble)
      case _ => Query(kind, 0, 0, 0)
    }
  }

  def op(ctx: Ctx, i: Int): Out = {
    val q = params(i, kind(i))
    val st = ctx.tracer.span("ingest.readStore")(Ingest.readStore(ctx.spark, store))
    def ids(df: DataFrame): Set[Long] = ctx.tracer.span("spark.collect")(df.select("doc_id").collect())
      .map(_.getLong(0)).toSet
    val res: Any = q.kind match {
      case "box_selective" | "box_cluster" | "box_wide" =>
        ids(ctx.tracer.span("ops.spatialBoxQuery")(
          Ops.spatialBoxQuery(st, q.x0, q.x1, q.y0, q.y1)))
      case "radius" =>
        ids(ctx.tracer.span("ops.radiusQueryMeters")(
          Ops.radiusQueryMeters(st, q.x, q.y, q.w)))
      case "polygon_join" =>
        val df = ctx.tracer.span("spatialjoin.polygonJoin")(
          SpatialJoin.polygonJoin(st, regions).groupBy("region_id").count())
        ctx.tracer.span("spark.collect")(df.collect()).map(r => r.getString(0) -> r.getLong(1)).toMap
      case "knn_ring" =>
        ctx.tracer.span("spatialjoin.knnRing") {
          SpatialJoin.knnRing(st, "doc_id", queries.where(col("q_id") % KnnSlices === q.w.toLong),
            "q_id", KnnK).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        }
      case "distance_topk" =>
        val inBox = Ops.spatialBoxQuery(st, q.x0, q.x1, q.y0, q.y1)
        ctx.tracer.span("ops.distanceJoinTopK") {
          Ops.distanceJoinTopK(inBox, "doc_id", TopKDistance, TopKBits, TopKK).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        }
    }
    (q, res)
  }

  private def inBox(q: Query): IndexedSeq[Int] =
    lons.indices.filter(j => lons(j) >= q.x0 && lons(j) <= q.x1 && lats(j) >= q.y0 && lats(j) <= q.y1)

  def check(ctx: Ctx, i: Int, out: Out): Check = {
    val (q, res) = out
    def sets[T](got: Set[T], want: Set[T], sure: T => Boolean = (_: T) => true): Check = {
      val bad = (got diff want) ++ (want diff got)
      val ok = bad.forall(b => !sure(b))
      Check(ok, if (ok) want.size.toLong else (got intersect want).size.toLong, want.size.toLong,
        if (ok) "" else s"${q.kind}: ${bad.count(sure)} ids differ, e.g. ${bad.filter(sure).take(3)}")
    }
    q.kind match {
      case "box_selective" | "box_cluster" | "box_wide" =>
        sets(res.asInstanceOf[Set[Long]], inBox(q).map(_.toLong).toSet)
      case "radius" =>
        def d(id: Long) = haversine(lons(id.toInt), lats(id.toInt), q.x, q.y)
        // a point within a micrometre of the circle may fall either way
        sets(res.asInstanceOf[Set[Long]], lons.indices.map(_.toLong).filter(d(_) <= q.w).toSet,
          (id: Long) => math.abs(d(id) - q.w) > 1e-6)
      case "polygon_join" =>
        val got = res.asInstanceOf[Map[String, Long]]
        val exp = polygonExpected.values.sum
        if (got == polygonExpected) Check(ok = true, exp, exp)
        else Check(ok = false, polygonExpected.map { case (k, v) => math.min(v, got.getOrElse(k, 0L)) }.sum,
          exp, s"polygon_join: per-region counts differ")
      case "knn_ring" => sets(res.asInstanceOf[Set[(Long, Long, Long)]], knnExpected(q.w.toLong))
      case "distance_topk" =>
        val box = inBox(q)
        val d2Max = TopKDistance * TopKDistance
        val want = box.flatMap { a =>
          val near = box.filter { b =>
            b != a && (lons(a) - lons(b)) * (lons(a) - lons(b)) +
              (lats(a) - lats(b)) * (lats(a) - lats(b)) < d2Max
          }
          topK(near, lons(a), lats(a), TopKK).zipWithIndex.map { case (b, r) => (a.toLong, b.toLong, r + 1L) }
        }.toSet
        sets(res.asInstanceOf[Set[(Long, Long, Long)]], want)
    }
  }

  override def observe(ctx: Ctx, i: Int, out: Out, layers: Layers): Unit = {
    val (q, res) = out
    ctx.tracer.seconds("ingest.readStore").lastOption
      .foreach(s => layers.add("store.read_setup_ms", s * 1000))
    ctx.probe.foreach { p =>
      val plans = p.plansOf(i)
      def scan(m: String) = SparkProbe.sum(plans, m)(_.isInstanceOf[FileSourceScanExec])
      q.kind match {
        case "knn_ring" =>
          val t = p.totalsOf(i)
          layers.add("knn.jobs", t.jobs.toDouble)
          layers.add("knn.candidate_rows", t.shuffleWriteRecords.toDouble)
        case "box_selective" | "box_cluster" | "box_wide" | "radius" | "polygon_join" =>
          val results = res match {
            case s: Set[_] => s.size.toLong
            case m: Map[_, _] => m.values.map(_.asInstanceOf[Long]).sum
          }
          val rows = scan("numOutputRows")
          layers.add("store.files_read", scan("numFiles").toDouble)
          layers.add("store.bytes_read", scan("filesSize").toDouble)
          layers.add("store.rows_scanned", rows.toDouble)
          if (results > 0) layers.add("store.rows_scanned_per_result", rows.toDouble / results)
        case _ =>
      }
    }
  }

  /** The ingest layer: the set-up's ingest again, traced, into fresh
    * stores of the same shape, each checked like the set-up's. */
  override def probe(ctx: Ctx, layers: Layers): Seq[Check] = {
    val pages = Inputs.pages(ctx.spark, seed, n)
    (0 until 2).map { k =>
      val opId = 2000000 + k
      val dir = ctx.work.resolve(s"ingest-probe-$k")
      try {
        val lin = ctx.asOp(opId, "ingest.run")(Ingest.run(ctx.spark, pages, dir.toString, cfg))
        val (files, bytes) = Workload.diskUsage(dir.resolve("data"), _.endsWith(".parquet"))
        layers.add("ingest.files_written", files.toDouble)
        layers.add("ingest.bytes_written", bytes.toDouble)
        layers.add("store_bytes_per_row", Workload.diskUsage(dir)._2.toDouble / n)
        lin.foreach(l => layers.add("ingest.bucket_wall_ms", l.wallMs.toDouble))
        ctx.probe.foreach { p =>
          val t = p.totalsOf(opId)
          layers.add("ingest.shuffle_write_bytes", t.shuffleWriteBytes.toDouble)
          layers.add("ingest.spill_bytes", t.spillBytes.toDouble)
        }
        checkIngest(ctx, dir.toString, lin)
      } finally graft.FsUtils.deleteRecursively(dir)
    }
  }

  def release(ctx: Ctx): Unit = if (queries != null) queries.unpersist(blocking = true)
}

object StoreQuery {
  /** one op's parameters: a square of half-width `w` degrees around
    * (x, y), a radius of `w` metres, or kNN query slice `w`. */
  final case class Query(kind: String, x: Double, y: Double, w: Double) {
    def x0: Double = x - w
    def x1: Double = x + w
    def y0: Double = y - w
    def y1: Double = y + w
  }

  val Kinds: Seq[String] = Seq("box_selective", "box_cluster", "box_wide", "radius",
    "polygon_join", "knn_ring", "distance_topk")
  /** the kNN ops take turns over slices of one cached query pool, all in
    * the store's clusters: a query in an empty region needs extra ring
    * rounds, and how many such queries a slice got swung its time by 40%
    * from seed to seed */
  val KnnPool = 1000
  val KnnSlices = 10
  val KnnK = 10
  val RadiusMeters = 20000.0
  val TopKDistance = 0.01
  val TopKBits = 15
  val TopKK = 5

  /** great-circle metres on the sphere the store's radius query uses. */
  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val a = math.pow(math.sin(dLat), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon), 2)
    2.0 * 6371008.8 * math.asin(math.sqrt(a))
  }
}
