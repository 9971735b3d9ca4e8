package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s per-query accounting: a query that throws is an error
  * in the report and in the total, never a timing. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query is reported as \"error\", kept out of the total") {
    val results = Bench.timeQueries(Seq(
      "q_ok" -> (() => ()),
      "q_boom" -> (() => throw new IllegalStateException("boom"))))
    assert(results.map(_._1) == Seq("q_ok", "q_boom"))
    assert(results(0)._2.exists(_ >= 0.0))
    assert(results(1)._2.isEmpty)
    val (json, total) = Bench.queriesJson(results)
    assert(json.contains("\"q_boom\":\"error\""), json)
    assert(!json.contains("-1"), json)
    assert(total == results(0)._2.get)
  }
}
