package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark program. It runs one workload for one seed and prints two
  * tagged lines on stdout: the run record and the measured metrics. The
  * `run.py` wrapper attaches units and prints the final result line.
  *
  * Untraced (`--trace 0`): three timed set-ups (session start, seeded
  * input, cache fill, one warm-up op), then untimed oracles and warm-up,
  * then a closed loop for `--seconds`; the end-to-end metrics. Traced
  * (`--trace 1`): one set-up, then alternating untraced and traced cycles
  * (spans, listener, plans) for `--seconds`, then the layer probes and the
  * kernel microbenchmarks; the per-layer metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: Path, traceOut: Path)

  /** set-ups per untraced run; `setup_s` is their median */
  val Setups = 3

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("cores").toInt, Paths.get(get("work")), Paths.get(get("trace-out")))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark storage memory in use: every block the block manager holds in
    * memory, cached and locally checkpointed RDD blocks and broadcast
    * pieces alike. Read at the end of an op, before `settle`, it counts
    * what the op's library calls still hold as well as the harness's own
    * input caches. */
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1e6

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Untimed, after each op: a full GC, then wait (at most 1 s) until the
    * block manager's free memory stops changing. Spark releases the blocks,
    * shuffle files and broadcasts an op leaves behind only once the JVM's
    * GC has collected their handles; without this their release lands at
    * random inside later ops (dedup's op time drifted up 50% within a run). */
  private def settle(spark: SparkSession): Unit = {
    System.gc()
    def free = spark.sparkContext.getExecutorMemoryStatus.values.map(_._2).sum
    val deadline = System.nanoTime() + 1000000000L
    var last = -1L
    var now = free
    while (now != last && System.nanoTime() < deadline) {
      Thread.sleep(20)
      last = now
      now = free
    }
  }

  /** successful op times by kind, kinds in name order. A mixed client's
    * pooled quantiles sit on the boundary between op kinds, so the figures
    * are per kind: the geometric mean of the kinds' medians, the slowest
    * kind's tail. */
  private def byKind(w: Workload, samples: Seq[(Sample, Int)]): Seq[(String, Seq[Double])] =
    samples.collect { case (s, i) if s.ok => w.kind(i) -> s.seconds }
      .groupBy(_._1).map { case (kind, ks) => kind -> ks.map(_._2) }.toSeq.sortBy(_._1)

  private def p50(kinds: Seq[(String, Seq[Double])]): Double =
    if (kinds.isEmpty) Double.NaN
    else math.exp(kinds.map(k => math.log(Stats.median(k._2))).sum / kinds.size)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val w = Workload(a.workload, a.seed)
    val tracer = new Tracer(false)
    val record = ArrayBuffer.empty[(String, String)]
    val metrics = ArrayBuffer.empty[(String, Double)]

    var spark: SparkSession = null
    var ctx: Ctx = null
    val setupTimes = (0 until (if (a.trace) 1 else Setups)).map { _ =>
      if (spark != null) { w.release(ctx); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(a.cores, a.work)
      ctx = new Ctx(spark, a.cores, a.work, tracer)
      w.prepare(ctx)
      secondsSince(t0)
    }
    def asSamples(cs: Seq[Check]) = cs.map(c => Sample(0.0, c.ok, c.found, c.expected, c.detail))
    try {
      val setupChecks = asSamples(w.prepareChecks(ctx))
      w.warmUp(ctx)
      settle(ctx.spark)
      val samples = ArrayBuffer.from(setupChecks)

      if (!a.trace) {
        val inputCacheMb = storageMb(ctx.spark)
        val cacheMbs = ArrayBuffer.empty[(String, Double)]
        val plain = ClosedLoop.run[w.Out](a.seconds, 3, i => w.op(ctx, i), (i, out) => {
          cacheMbs += w.kind(i) -> storageMb(ctx.spark)
          try w.check(ctx, i, out) finally settle(ctx.spark)
        }, batch = w.batch)
        samples ++= plain
        val kinds = byKind(w, plain.zipWithIndex)
        val ok = kinds.flatMap(_._2)
        val tails = kinds.map { case (kind, xs) => kind -> Stats.tail(xs) }
        val tail = if (ok.nonEmpty) tails.map(_._2._2).max else Double.NaN
        // each op kind holds its own amount; the mean of the kinds' medians
        val cacheByKind = cacheMbs.groupBy(_._1).values.map(v => Stats.median(v.map(_._2).toSeq))
        metrics ++= Seq(
          "setup_s" -> Stats.median(setupTimes),
          "rows_per_s" -> w.inputRows / p50(kinds),
          "queries_per_s" -> ok.size / plain.map(_.seconds).sum,
          "op_p50_s" -> p50(kinds),
          "op_tail_s" -> tail,
          "cache_mb" -> cacheByKind.sum / cacheByKind.size,
          "recall" -> plain.map(_.found).sum.toDouble / plain.map(_.expected).sum)
        record ++= Seq("ok_ops" -> ok.size.toString,
          "by_kind" -> Json.obj(kinds.zip(tails).map { case ((kind, xs), (_, (pct, t))) =>
            kind -> Json.obj(Seq("n" -> xs.size.toString, "p50_s" -> Json.num(Stats.median(xs)),
              "tail_percentile" -> Json.num(pct), "tail_s" -> Json.num(t)))
          }),
          "op_s" -> plain.map(s => Json.num(s.seconds)).mkString("[", ",", "]"),
          "input_cache_mb" -> Json.num(inputCacheMb),
          "cache_mb_each" -> cacheMbs.map(c => Json.num(c._2)).mkString("[", ",", "]"),
          "setup_s_each" -> setupTimes.map(Json.num).mkString("[", ",", "]"))
      } else {
        // untraced and traced cycles alternate as U T T U, so JIT warm-up
        // that still goes on lands on both alike; the listener stays
        // registered throughout
        val layers = new Layers
        val probe = new SparkProbe(ctx.spark, tracer)
        val opName = s"op.${w.name}"
        def traced(i: Int) = Set(1, 2)((i / w.batch) % 4)
        def tracing[T](on: Boolean)(body: => T): T = {
          tracer.enabled = on
          ctx.probe = if (on) Some(probe) else None
          try body finally { tracer.enabled = false; ctx.probe = None }
        }
        val run = ClosedLoop.run[w.Out](a.seconds, 4 * w.batch,
          i => tracing(traced(i))(ctx.asOp(i, opName)(w.op(ctx, i))),
          (i, out) => {
            if (traced(i)) tracing(on = true) {
              w.observe(ctx, i, out, layers)
              val t = probe.totalsOf(i)
              val wall = tracer.seconds(opName).last
              layers.add("spark.task_cpu_s", t.cpuNs / 1e9)
              layers.add("spark.gc_s", t.gcMs / 1e3)
              layers.add("spark.cpu_occupancy", t.cpuNs / 1e9 / (wall * a.cores))
              layers.add("spark.shuffle_read_bytes", t.shuffleReadBytes.toDouble)
              layers.add("spark.shuffle_write_bytes", t.shuffleWriteBytes.toDouble)
              layers.add("spark.spill_bytes", t.spillBytes.toDouble)
              layers.add("spark.jobs", t.jobs.toDouble)
              layers.add("spark.tasks", t.tasks.toDouble)
              layers.add("spark.exchanges", SparkProbe.exchanges(probe.plansOf(i)).toDouble)
            }
            try w.check(ctx, i, out) finally settle(ctx.spark)
          }, batch = 4 * w.batch)
        samples ++= run
        samples ++= asSamples(tracing(on = true)(w.probe(ctx, layers)))
        probe.close()
        Kernels.run(a.seed, layers)
        def p50Of(on: Boolean) = p50(byKind(w, run.zipWithIndex.filter(s => traced(s._2) == on)))
        layers.add("trace.overhead_ratio", p50Of(on = true) / p50Of(on = false) - 1.0)
        layers.add("error_rate", samples.count(!_.ok).toDouble / samples.size)
        metrics ++= layers.medians
        tracer.write(a.traceOut)
        record ++= Seq("trace_file" -> Json.str(a.traceOut.toString),
          "spans" -> tracer.spanCount.toString,
          "untraced_op_p50_s" -> Json.num(p50Of(on = false)),
          "traced_op_p50_s" -> Json.num(p50Of(on = true)))
      }

      val failed = samples.filterNot(_.ok)
      record ++= Seq(
        "workload" -> Json.str(w.name), "seed" -> a.seed.toString, "cores" -> a.cores.toString,
        "seconds" -> Json.num(a.seconds), "trace" -> a.trace.toString,
        "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
        "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
        "sizes" -> Json.obj(w.sizes.map { case (k, v) => k -> v.toString }),
        "attempted_ops" -> samples.size.toString,
        "errors" -> failed.take(5).map(s => Json.str(s.error)).mkString("[", ",", "]"))
      println("PERFBENCH_RECORD " + Json.obj(record.toSeq))
      println("PERFBENCH_METRICS " + Json.obj(Seq(
        "attempted" -> samples.size.toString,
        "failed" -> failed.size.toString,
        "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    } finally {
      w.release(ctx)
      spark.stop()
    }
  }
}
