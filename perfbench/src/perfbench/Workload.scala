package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run hands to its workload. `probe` is set only in the traced
  * window of a traced run. */
final class Ctx(val spark: SparkSession, val cores: Int, val work: Path,
                val tracer: Tracer, var probe: Option[SparkProbe] = None) {
  /** run `body` as op `opId`: its root span, and (traced) its job group. */
  def asOp[T](opId: Int, name: String)(body: => T): T =
    tracer.opSpan(opId, name)(probe match {
      case Some(p) => p.around(opId)(body)
      case None => body
    })
}

/** Per-layer samples; each reported value is the median of its samples. */
final class Layers {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def medians: Seq[(String, Double)] =
    samples.toSeq.collect { case (k, v) if v.nonEmpty => k -> Stats.median(v.toSeq) }
}

/** One named benchmark workload. The run calls `prepare` inside each timed
  * set-up, then once `prepareChecks` and `warmUp` (both untimed), then
  * alternates `op` (timed) and `check` (untimed). `observe` runs after a
  * traced op, `probe` once per traced run. The checks `prepareChecks` and
  * `probe` return count as attempted ops without a latency sample. */
trait Workload {
  type Out
  def name: String
  /** input rows behind one op, the numerator of `rows_per_s`. */
  def inputRows: Long
  def sizes: Seq[(String, Long)]
  /** ops per cycle of the workload's op mix; a window holds whole cycles. */
  def batch: Int = 1
  /** the kind of op `i`, for the per-kind medians of the run record. */
  def kind(i: Int): String = name
  def prepare(ctx: Ctx): Unit
  def prepareChecks(ctx: Ctx): Seq[Check]
  def warmUp(ctx: Ctx): Unit = ()
  def op(ctx: Ctx, i: Int): Out
  def check(ctx: Ctx, i: Int, out: Out): Check
  def observe(ctx: Ctx, i: Int, out: Out, layers: Layers): Unit = ()
  def probe(ctx: Ctx, layers: Layers): Seq[Check] = Nil
  /** drop what `prepare` cached, so a repeated set-up starts clean. */
  def release(ctx: Ctx): Unit
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "join_tile" => new JoinTile(seed, 1200000L)
    case "store_query" => new StoreQuery(seed, 60000L)
    case "dedup" => new Dedup(seed, 10000L)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** (files, bytes) of the regular files under `p` whose name passes `keep`. */
  def diskUsage(p: Path, keep: String => Boolean = _ => true): (Long, Long) = {
    val walk = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      val fs = walk.iterator().asScala
        .filter(f => Files.isRegularFile(f) && keep(f.getFileName.toString)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally walk.close()
  }
}
