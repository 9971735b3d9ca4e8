package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import graft.spark.TextOps

/** Near-duplicate detection with no spatial code: MinHash LSH pairs over a
  * Spark-cached seeded corpus with planted near-duplicates, then the
  * connected-component clusters. */
final class Dedup(seed: Long, n: Long) extends Workload {
  /** (emitted pairs, keeper count) */
  type Out = (Seq[(Long, Long)], Long)
  val name = "dedup"
  val inputRows: Long = n
  def sizes: Seq[(String, Long)] = Seq("docs" -> n, "planted_pairs" -> planted)

  private val planted = n / 5
  private var docs: DataFrame = _

  def prepare(ctx: Ctx): Unit = {
    docs = Inputs.corpus(ctx.spark, seed, n).repartition(ctx.cores * 2).cache()
    docs.count()
    op(ctx, -1)
  }

  def prepareChecks(ctx: Ctx): Seq[Check] = Nil

  /** the op runs ~30 short Spark jobs, whose code the JIT is still
    * compiling after the set-ups' three ops; one more keeps that drift out
    * of the window. */
  override def warmUp(ctx: Ctx): Unit = op(ctx, -2)

  def op(ctx: Ctx, i: Int): Out = {
    val pairs = ctx.tracer.span("textops.minhashLshPairs") {
      val p = TextOps.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 4, tau = 0.5, maxBucket = 200).cache()
      (p, p.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
    try {
      val keepers = ctx.tracer.span("textops.nearDupClusters") {
        TextOps.nearDupClusters(docs, "doc_id", pairs._1).where(col("is_keeper")).count()
      }
      (pairs._2, keepers)
    } finally pairs._1.unpersist(blocking = true)
  }

  /** every emitted pair must be a planted one, and as the planted pairs are
    * disjoint, every found pair merges exactly two docs into one cluster. */
  def check(ctx: Ctx, i: Int, out: Out): Check = {
    val (pairs, keepers) = out
    val wrong = pairs.filterNot { case (a, b) => a % 5 == 0 && b == a + 1 }
    val found = pairs.distinct.size - wrong.distinct.size
    if (wrong.isEmpty && keepers == n - found) Check(ok = true, found, planted)
    else Check(ok = false, found, planted,
      s"${wrong.size} unplanted pairs (e.g. ${wrong.take(3)}), $keepers keepers for $found pairs")
  }

  override def observe(ctx: Ctx, i: Int, out: Out, layers: Layers): Unit = {
    ctx.tracer.seconds("textops.minhashLshPairs").lastOption.foreach(layers.add("textops.lsh_s", _))
    ctx.tracer.seconds("textops.nearDupClusters").lastOption.foreach(layers.add("graphs.cluster_s", _))
    ctx.probe.foreach { p =>
      // the candidate pairs are the output of the distinct (a_id, b_id)
      // aggregate inside the cached pair frame's plan
      val cached = p.plansOf(i).flatMap(SparkProbe.nodes).collect {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }
      val candidates = cached.flatMap(SparkProbe.planNodes).collect {
        case a: HashAggregateExec if a.aggregateExpressions.isEmpty &&
            a.groupingExpressions.map(_.references.head.name) == Seq("a_id", "b_id") =>
          SparkProbe.metric(a, "numOutputRows")
      }.minOption.getOrElse(0L) // the final aggregate: partial ones emit more
      layers.add("textops.candidate_pairs", candidates.toDouble)
      if (candidates > 0) layers.add("textops.verified_ratio", out._1.size.toDouble / candidates)
    }
  }

  def release(ctx: Ctx): Unit = if (docs != null) docs.unpersist(blocking = true)
}
