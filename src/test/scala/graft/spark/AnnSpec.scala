package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF approximate nearest neighbours: map-side list assignment (plan pins
  * plus parity with the explode + per-id-window formulation). */
class AnnSpec extends SparkTestBase {
  import spark.implicits._

  private def embFixture(n: Int): DataFrame =
    (0L until n.toLong).map { i =>
      (i, Array.tabulate(16)(d => (((i * 31 + d * 7) % 19) - 9).toFloat / 9f).toSeq)
    }.toDF("vec_id", "embedding")

  test("annIvf: full vector side crosses NO Window and NO Exchange before the list equi-join") {
    val df = Ops.annIvf(embFixture(300), "vec_id", "embedding",
      nlist = 8, nProbe = 2, queryIds = Seq(1L, 7L), k = 3)
    // pre-AQE plan (CLAUDE.md: AQE wraps the executed plan)
    val plan = df.queryExecution.sparkPlan
    val cidJoins = plan.collect {
      case j: BroadcastHashJoinExec
        if j.leftKeys.exists(_.toString.contains("cid")) => j
    }
    assert(cidJoins.nonEmpty, "expected a broadcast hash join on cid:\n" + plan)
    val streamed = cidJoins.map { j =>
      // probes broadcast (left build) → the streamed side is the full vector side
      if (j.buildSide.toString.contains("Left")) j.right else j.left
    }
    def offenders(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case w: WindowExec => w
      case e: ShuffleExchangeExec => e
    }
    for (s <- streamed)
      assert(offenders(s).isEmpty,
        "vector side must stream scan→argmin→join, found:\n" + s)
    // the probe-side rank window must still exist (over the tiny query subset)
    assert(plan.collect { case w: WindowExec => w }.nonEmpty)
  }

  test("annIvf map-side argmin matches the explode+per-id-window assignment row for row") {
    val emb = embFixture(200)
    import GeoFunctions.dot_long
    val quant = (v: org.apache.spark.sql.Column) =>
      transform(v, x => round(x.cast("double") * 1000).cast("long"))
    val q = emb.select(col("vec_id").as("id"), quant(col("embedding")).as("v"))
      .withColumn("n2", dot_long(col("v"), col("v")))
    val nlist = 8; val nProbe = 3; val k = 5
    val queryIds = Seq(0L, 50L, 120L)
    // reference formulation: broadcast join all centroids + per-id rank window
    val cents = q.where(col("id") < nlist)
      .select(col("id").as("cid"), col("v").as("cv"), col("n2").as("cn2"))
    val d2 = col("n2") + col("cn2") - lit(2L) * dot_long(col("v"), col("cv"))
    val assignW = Window.partitionBy(col("id")).orderBy(col("d2"), col("cid"))
    val ranked = q.join(broadcast(cents)).withColumn("d2", d2)
      .withColumn("crn", row_number().over(assignW))
    val lists = ranked.where(col("crn") === 1)
      .select(col("id").as("vec_id"), col("cid"), col("v").as("vv"), col("n2").as("vn2"))
    val probes = ranked.where(col("crn") <= nProbe && col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("cid"), col("v").as("qv"), col("n2").as("qn2"))
    val cos = dot_long(col("qv"), col("vv")).cast("double") /
      sqrt(col("qn2").cast("double") * col("vn2").cast("double"))
    val topkW = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val expected = probes.join(lists, "cid")
      .withColumn("cos", cos)
      .withColumn("rn", row_number().over(topkW).cast("long"))
      .where(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Ops.annIvf(emb, "vec_id", "embedding", nlist, nProbe, queryIds, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }
}
