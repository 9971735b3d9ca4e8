package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Connected components ([[Graphs.minLabelComponents]]): the round-0
  * driver collapse, the propagation fallback, and their agreement. */
class GraphsSpec extends SparkTestBase {
  import spark.implicits._

  test("minLabelComponents: a high-diameter path converges in bounded time (Lineage.cut regression)") {
    // A 150k-node path needs ~18 propagation+jump rounds. With chained
    // Dataset.localCheckpoint the retained RDD DAG doubled per round (the
    // jump step reads the previous generation twice) and the single
    // materialization task crossed 40 s by round 21 — this graph was
    // effectively unfinishable. Lineage.cut keeps every round O(1) deep.
    val n = 150000L
    val nodes = spark.range(n).select(col("id").as("src"), col("id").as("dst"))
    val fwd = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val bwd = fwd.select(col("dst").as("src"), col("src").as("dst"))
    val t0 = System.nanoTime
    val labels = Graphs.minLabelComponents(nodes.unionByName(fwd).unionByName(bwd))
    val byLbl = labels.groupBy("lbl").count().collect()
    val secs = (System.nanoTime - t0) / 1e9
    assert(byLbl.length == 1 && byLbl.head.getLong(0) == 0L &&
      byLbl.head.getLong(1) == n)
    // new code: ~8 s on this box; pre-fix: minutes and growing. The bound
    // is deliberately loose against co-tenant noise while still firmly
    // rejecting the exponential regression.
    assert(secs < 90.0, f"high-diameter components took $secs%.1f s")
  }

  test("minLabelComponents: over-cap quotient falls back to propagation rounds; fixpoint identical") {
    // two path components (0..59 and 100..139) + an isolated node: the
    // round-0 quotient (= the raw undirected edge set, 99 pairs) exceeds
    // a cap of 8, forcing propagation rounds; each round shrinks the
    // distinct-label count until the quotient fits and the driver
    // collapse finishes. The fixpoint must equal the default-cap path's.
    def path(lo: Long, hi: Long): DataFrame = {
      val fwd = spark.range(lo, hi).select(col("id").as("src"), (col("id") + 1).as("dst"))
      fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
    }
    val nodes = spark.range(0L, 60L).union(spark.range(100L, 140L)).union(spark.range(999L, 1000L))
      .select(col("id").as("src"), col("id").as("dst"))
    val edges = nodes.unionByName(path(0L, 59L)).unionByName(path(100L, 139L))
    val tight = Graphs.minLabelComponents(edges, maxQuotientEdges = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val loose = Graphs.minLabelComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(tight == loose)
    assert((0L until 60L).forall(tight(_) == 0L))
    assert((100L until 140L).forall(tight(_) == 100L))
    assert(tight(999L) == 999L)
    assert(tight.size == 101)
  }

  /** labels by a local union-find over the undirected edges. */
  private def bruteLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def checkpointed(plan: LogicalPlan): Boolean =
    plan.collectFirst { case r: LogicalRDD => r }.nonEmpty

  test("minLabelComponents: round-0 short path and forced propagation give identical labels") {
    // a high-diameter path (0..199) plus a second path and an isolated node
    def path(lo: Long, hi: Long): Seq[(Long, Long)] = (lo until hi).map(i => (i, i + 1))
    val pathEdges = path(0L, 199L) ++ path(300L, 340L)
    val pathNodes = (0L to 199L) ++ (300L to 340L) :+ 999L
    // the DBSCAN edge shape: directed eps-edges among clustered points,
    // both directions and a self-loop per node (Analytics.dbscanTail's
    // core-core edges)
    val pts = (0 until 120).map { i =>
      val c = i % 4
      (i.toLong, c * 10.0 + (i % 7) * 0.3, c * 5.0 + (i % 5) * 0.3)
    }
    val epsEdges = for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts
      if a != b && math.hypot(ax - bx, ay - by) <= 0.5
    } yield (a, b)
    val cases = Seq(
      "path" -> (pathNodes.map(n => (n, n)) ++ pathEdges ++ pathEdges.map(_.swap)),
      "dbscan" -> (pts.map(p => (p._1, p._1)) ++ epsEdges))
    for ((name, edges) <- cases) {
      val df = edges.toDF("src", "dst")
      val short = Graphs.minLabelComponents(df)
      val forced = Graphs.minLabelComponents(df, maxQuotientEdges = 8)
      val shortMap = short.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val forcedMap = forced.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(shortMap == forcedMap, name)
      assert(shortMap == bruteLabels(edges), name)
      // the short path is a lazy remap over the input (no checkpoint);
      // the forced one ran propagation rounds and returns a cut generation
      assert(!checkpointed(short.queryExecution.logical), s"$name: short path checkpointed")
      assert(checkpointed(forced.queryExecution.logical), s"$name: forced path did not propagate")
    }
  }
}
