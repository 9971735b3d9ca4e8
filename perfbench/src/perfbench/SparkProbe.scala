package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime totals of one benchmark op, from task-end events. */
final class OpTotals {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var jobs = 0
  var tasks = 0
}

/** Collects, per op, the Spark listener totals and the executed query
  * plans (final AQE plans, with their SQLMetrics). Ops are told apart by
  * the job group the benchmark sets around each traced op; plans are
  * attributed to the op that was running when the listener bus was last
  * drained. Only registered in the traced run. */
final class SparkProbe(spark: SparkSession, tracer: Tracer) {
  import SparkProbe.GroupPrefix

  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, (Int, Long)]
  private val totals = mutable.Map.empty[Int, OpTotals]
  private val pendingPlans = mutable.ArrayBuffer.empty[QueryExecution]
  private val plans = mutable.Map.empty[Int, Seq[QueryExecution]]

  private def opOf(group: String): Int =
    if (group != null && group.startsWith(GroupPrefix)) group.stripPrefix(GroupPrefix).toInt
    else -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkProbe.this.synchronized {
      val op = opOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      if (op >= 0) {
        e.stageIds.foreach(stageOp(_) = op)
        jobOp(e.jobId) = (op, System.nanoTime())
        totals.getOrElseUpdate(op, new OpTotals).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkProbe.this.synchronized {
      jobOp.remove(e.jobId).foreach { case (op, t0) =>
        tracer.external("spark.job", op, t0, System.nanoTime())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkProbe.this.synchronized {
      val m = e.taskMetrics
      stageOp.get(e.stageId).foreach { op =>
        if (m != null) {
          val t = totals.getOrElseUpdate(op, new OpTotals)
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.tasks += 1
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      SparkProbe.this.synchronized(pendingPlans += qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** run `body` as op `opId`: its jobs carry the op's job group, and once
    * the listener bus is drained its plans and totals are complete. */
  def around[T](opId: Int)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(GroupPrefix + opId, s"perfbench op $opId", interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      synchronized {
        // only the latest op's plans are kept: a plan pins its inputs
        plans.clear()
        plans(opId) = pendingPlans.toList
        pendingPlans.clear()
      }
    }
  }

  def totalsOf(op: Int): OpTotals = synchronized(totals.getOrElse(op, new OpTotals))
  def plansOf(op: Int): Seq[QueryExecution] = synchronized(plans.getOrElse(op, Nil))

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object SparkProbe extends AdaptiveSparkPlanHelper {
  val GroupPrefix = "perfbench-op-"

  /** every node of the executed plan, through AQE query stages. */
  def nodes(qe: QueryExecution): Seq[SparkPlan] = planNodes(qe.executedPlan)

  def planNodes(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p => p }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** sum of a SQLMetric over the plan nodes `pick` selects. */
  def sum(qes: Seq[QueryExecution], name: String)(pick: SparkPlan => Boolean): Long =
    qes.flatMap(nodes).filter(pick).map(metric(_, name)).sum

  def exchanges(qes: Seq[QueryExecution]): Int =
    qes.flatMap(nodes).count(_.isInstanceOf[ShuffleExchangeLike])
}
