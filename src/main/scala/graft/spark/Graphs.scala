package graft.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Distributed connected components by min-label propagation — the shared
 * engine behind DBSCAN cluster assembly and near-duplicate cluster
 * collapse (the reference reaches the same fixpoint through its
 * NeighborListFactory merge chains, analytics/mapreduce/.../dbscan/
 * DBScanMapReduce.java:83-404).
 *
 * At every round boundary the DISTINCT cross-label quotient edges of the
 * current labeling are probed (bounded); once they fit under
 * `maxQuotientEdges`, ONE driver union-find + a broadcast remap finishes.
 * In round 0 every node is its own label, so the quotient is the distinct
 * non-self edge set: when it fits (the common case), the answer is
 * that probe plus a lazy remap over the node set, with no checkpoint.
 * Otherwise propagation rounds (neighbor-min plus one pointer-jump hop)
 * shrink the label count geometrically until the quotient fits, O(log
 * diameter) rounds at worst, each truncated through [[Lineage.cut]] so the
 * executed DAG stays O(1) deep (chained `Dataset.localCheckpoint` is NOT
 * safe here: see [[Lineage]]).
 */
object Graphs {

  /**
   * Min-label components over a DIRECTED edge table (src, dst) that must
   * include a self-loop for every node (so isolated nodes label
   * themselves and the propagation join loses no one) and both directions
   * of every undirected adjacency. Output: (id, lbl) — lbl is the minimum
   * node id of the component; the fixpoint is schedule-independent, so
   * every path gives identical labels. The driver finish collects at most
   * `maxQuotientEdges` (label, label) pairs (~32 MB at the default); an
   * over-cap quotient propagates another round (logged), never an
   * unbounded collect. A round-0 result reads `edges` lazily, so it must
   * not be released before the labels are used.
   */
  def minLabelComponents(edges: DataFrame, maxQuotientEdges: Int = 2000000): DataFrame = {
    // the undirected quotient of a labeling: one row per unordered pair of
    // DISTINCT labels joined by any edge. Empty ⇔ fixpoint reached.
    def quotient(labelled: DataFrame): DataFrame = labelled
      .where(col("src_lbl") =!= col("dst_lbl"))
      .select(least(col("src_lbl"), col("dst_lbl")).as("la"),
        greatest(col("src_lbl"), col("dst_lbl")).as("lb"))
      .distinct()
    // bounded probe: cap+1 rows decide fits / doesn't without ever
    // shipping an over-cap quotient to the driver
    def probe(q: DataFrame): Array[Row] = q.limit(maxQuotientEdges + 1).collect()
    // finish on the driver: union-find over the quotient, then a broadcast
    // remap of every label to its component root (lazy)
    def collapse(labels: DataFrame, sample: Array[Row], round: Int): DataFrame = {
      val remap = unionFindMinRoots(sample)
      if (round > 0 || remap.nonEmpty)
        println(s"[graft] minLabelComponents: collapsed ${sample.length} " +
          s"quotient edges (${remap.size} relabels) on the driver after $round rounds")
      val lblType = labels.schema("lbl").dataType
      val schema = StructType(Seq(StructField("lbl", lblType, nullable = false),
        StructField("root", lblType, nullable = false)))
      val mapDf = labels.sparkSession.createDataFrame(
        java.util.Arrays.asList(remap.map { case (l, r) => Row(l, r) }: _*), schema)
      labels.join(broadcast(mapDf), Seq("lbl"), "left")
        .select(col("id"), coalesce(col("root"), col("lbl")).as("lbl"))
    }
    // round 0: every node is its own label, so the quotient is the
    // distinct non-self edge set, probed straight off the input; when it
    // fits, the answer is one lazy remap over the node set — no checkpoint
    var sample = probe(quotient(edges.select(col("src").as("src_lbl"), col("dst").as("dst_lbl"))))
    if (sample.length <= maxQuotientEdges)
      return collapse(edges.select(col("src").as("id")).distinct().withColumn("lbl", col("id")),
        sample, 0)
    // pin the edge table once — its upstream DAG (e.g. the whole LSH
    // candidate ladder) must not re-execute every round
    val (e, eRdd) = Lineage.cut(edges)
    // one propagation step: neighbor-min, then chase the candidate label
    // one hop through the label table (labels are node ids, so every
    // candidate label has its own row) and take the smaller
    def step(lbls: DataFrame): DataFrame = {
      val next = e
        .join(lbls.withColumnRenamed("id", "dst").withColumnRenamed("lbl", "dst_lbl"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_lbl")).as("next_lbl"))
      val m1 = lbls.join(next, Seq("id"))
        .select(col("id"), least(col("lbl"), col("next_lbl")).as("l1"))
      m1.join(m1.select(col("id").as("l1"), col("l1").as("l2")), Seq("l1"))
        .select(col("id"), least(col("l1"), col("l2")).as("lbl"))
    }
    var labels = e.select(col("src").as("id")).distinct().withColumn("lbl", col("id"))
    var prevRdd: Option[RDD[Row]] = None
    var round = 0
    while (sample.length > maxQuotientEdges) {
      println(s"[graft] minLabelComponents: round $round quotient exceeds " +
        s"$maxQuotientEdges edges — propagating another round")
      val (cut, newRdd) = Lineage.cut(step(labels))
      prevRdd.foreach(_.unpersist(false))
      prevRdd = Some(newRdd)
      labels = cut
      round += 1
      sample = probe(quotient(e
        .join(labels.select(col("id").as("src"), col("lbl").as("src_lbl")), "src")
        .join(labels.select(col("id").as("dst"), col("lbl").as("dst_lbl")), "dst")))
    }
    val (out, _) = Lineage.cut(collapse(labels, sample, round))
    prevRdd.foreach(_.unpersist(false))
    eRdd.unpersist(false)
    out
  }

  /** Driver union-find over the quotient pairs with min-value roots.
    * Label values are node ids (Long/Int/String — anything Comparable),
    * so "attach the larger root under the smaller" keeps every tree's
    * root at the component's minimum label. Returns only labels whose
    * root differs (the broadcast remap rows). */
  private def unionFindMinRoots(pairs: Array[Row]): Seq[(Any, Any)] = {
    val parent = new java.util.HashMap[Any, Any]()
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    pairs.foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = Seq.newBuilder[(Any, Any)]
    // snapshot the keys first: find() path-halves (mutates the map)
    val keys = parent.keySet().toArray
    keys.foreach { k =>
      val r = find(k)
      if (r != k) out += ((k, r))
    }
    out.result()
  }
}
