package perfbench

import scala.collection.mutable.ArrayBuffer

/** One attempted op of the closed loop. A failed op (it threw, or its
  * output check failed) keeps its time only for the attempted-time total;
  * it is never a latency sample. `found`/`expected` are the op's share of
  * the correct answer as its check counted it. */
final case class Sample(seconds: Double, ok: Boolean, found: Long, expected: Long,
                        error: String)

/** An output check's verdict, computed outside the timed window. */
final case class Check(ok: Boolean, found: Long, expected: Long, detail: String = "")

object Stats {
  /** median by linear interpolation between the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (percentile, value): the highest percentile that still has at least
    * ten samples above it. Below 21 samples no percentile above the median
    * qualifies, so the median is returned, labelled p50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val i = n - 11
    if (i < n / 2) (50.0, median(xs))
    else (100.0 * (i + 1) / n, s(i))
  }
}

/** The closed-loop client: one op at a time, the next one only after the
  * previous one returned and was checked. It stops once `seconds` have
  * passed, at least `minOps` ops ran and the op count is a whole number of
  * `batch`es (so a mix of op kinds is always measured in whole cycles). */
object ClosedLoop {
  def run[R](seconds: Double, minOps: Int, op: Int => R, check: (Int, R) => Check,
             batch: Int = 1): Seq[Sample] = {
    val out = ArrayBuffer.empty[Sample]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (out.size < minOps || elapsed < seconds || out.size % batch != 0) {
      val t0 = System.nanoTime()
      val res = try Right(op(i)) catch { case e: Exception => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      // the check runs after the clock stopped
      out += (res match {
        case Left(e) => Sample(dt, ok = false, 0L, 0L, s"threw ${e.getClass.getName}: ${e.getMessage}")
        case Right(r) =>
          val c = try check(i, r) catch {
            case e: Exception => Check(ok = false, 0L, 0L, s"check threw ${e.getMessage}")
          }
          Sample(dt, c.ok, c.found, c.expected, c.detail)
      })
      i += 1
    }
    out.toSeq
  }
}

/** Spans held in memory and written out when the run ends. Span ids are
  * unique per run; `op` groups every span of one benchmark op, and Spark
  * jobs are attached to their op through the job group. */
final class Tracer(@volatile var enabled: Boolean) {
  import Tracer.Span

  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 1
  @volatile private var currentOp = -1
  private val opRoot = scala.collection.mutable.Map.empty[Int, Int]

  private def open(name: String): Int = synchronized {
    val id = nextId
    nextId += 1
    stack = (id, name, System.nanoTime()) :: stack
    id
  }

  private def close(): Unit = synchronized {
    val (id, name, t0) :: rest = stack
    stack = rest
    val parent = rest.headOption.map(_._1).getOrElse(0)
    done += Span(id, name, parent, currentOp, t0, System.nanoTime())
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      open(name)
      try body finally close()
    }

  /** the root span of one op; Spark jobs run inside it carry the op id. */
  def opSpan[T](opId: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      currentOp = opId
      val id = open(name)
      synchronized(opRoot(opId) = id)
      try body finally { close(); currentOp = -1 }
    }

  /** a span recorded from the listener thread (Spark job events). */
  def external(name: String, opId: Int, startNs: Long, endNs: Long): Unit = synchronized {
    val id = nextId
    nextId += 1
    done += Span(id, name, opRoot.getOrElse(opId, 0), opId, startNs, endNs)
  }

  def seconds(name: String): Seq[Double] = synchronized {
    done.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq
  }

  def spanCount: Int = synchronized(done.size)

  def write(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = done.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${Json.esc(s.name)}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startNs: Long, endNs: Long)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
