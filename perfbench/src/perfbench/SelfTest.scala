package perfbench

/** The benchmark's own tests, run by `run.py --selftest`: failure
  * accounting of the closed loop and the summary statistics. No Spark. */
object SelfTest {
  private var failures = 0

  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) { failures += 1; System.err.println(s"FAIL: $what") }

  def main(args: Array[String]): Unit = {
    // op 1 throws, op 2 returns a wrong answer: both are failed ops, and
    // neither time may appear among the latency samples
    val slow = 0.05
    val samples = ClosedLoop.run[Int](0.0, 6, i => {
      if (i == 1) { Thread.sleep((slow * 1000).toLong); throw new IllegalStateException("boom") }
      if (i == 2) Thread.sleep((slow * 1000).toLong)
      i
    }, (i, out) => if (i == 2) Check(ok = false, 0, 1, "wrong") else Check(ok = true, 1, 1))
    expect(samples.size == 6, s"6 attempted ops, got ${samples.size}")
    expect(samples.count(!_.ok) == 2, s"2 failed ops, got ${samples.count(!_.ok)}")
    expect(samples(1).error.contains("boom"), "the throwing op records its error")
    expect(samples(2).error == "wrong", "the wrong-answer op records its check detail")
    expect(samples.filter(_.ok).forall(_.seconds < slow), "no failed op's time is a latency sample")
    expect(samples.map(_.found).sum == 4 && samples.map(_.expected).sum == 5,
      "recall counts the wrong answer against the expected total")

    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd median")
    expect(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "even median")
    val xs = (1 to 100).map(_.toDouble)
    expect(Stats.tail(xs) == (90.0, 90.0), s"p90 of 1..100 has ten above it, got ${Stats.tail(xs)}")
    expect(Stats.tail((1 to 20).map(_.toDouble)) == (50.0, 10.5), "below 21 samples the tail is the median")
    expect(Stats.tail((1 to 40).map(_.toDouble)) == (75.0, 30.0), "p75 of 1..40")

    if (failures > 0) { System.err.println(s"$failures self-test failures"); sys.exit(1) }
    println("perfbench self-test: ok")
  }
}
