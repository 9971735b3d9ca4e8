package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import TimeDescriptors._

/**
 * Port of the reference's TimeDescriptorsTest (extensions/adapters/vector/
 * src/test/java/.../utils/TimeDescriptorsTest.java:20-160) against
 * [[TimeDescriptors.infer]]: single-instant, start/end range, mixed
 * (range wins), lone-start and lone-end degradation, plus metadata-hint
 * precedence (the reference's attribute user data).
 */
class TimeDescriptorsSpec extends AnyFunSuite {

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val geom = ("geometry", BinaryType)
  private val pop = ("pop", LongType)
  private val pid = ("pid", StringType)

  test("testOneTime: the first plain temporal field is the single time") {
    val td = infer(schema(geom, pop, ("when", TimestampType), ("whennot", TimestampType), pid))
    assert(td === SingleTime("when"))
  }

  test("testRangeTime: start+end names form a range") {
    val td = infer(schema(geom, pop, ("start", TimestampType), ("end", TimestampType), pid))
    assert(td === RangeTime("start", "end"))
  }

  test("testMixedTime: a complete range clears the single field") {
    val td = infer(schema(geom, pop, ("when", TimestampType),
      ("start", TimestampType), ("end", TimestampType)))
    assert(td === RangeTime("start", "end"))
  }

  test("testJustStartTime / testJustEndTime: a lone bound degrades to the single time") {
    assert(infer(schema(geom, pop, ("start", TimestampType), pid)) === SingleTime("start"))
    assert(infer(schema(geom, pop, ("end", TimestampType), pid)) === SingleTime("end"))
    // but an earlier plain temporal field keeps the single slot
    assert(infer(schema(geom, ("when", TimestampType), ("start", TimestampType))) ===
      SingleTime("when"))
  }

  test("metadata hints take precedence and an explicit time hint stops the scan") {
    val hintedTime = StructField("observed", TimestampType,
      metadata = new MetadataBuilder().putBoolean("time", true).build())
    val td = infer(StructType(Seq(
      StructField("start", TimestampType), hintedTime, StructField("end", TimestampType))))
    assert(td === SingleTime("observed"))
    // explicit start/end hints override name-based discovery
    val s = StructField("a", TimestampType,
      metadata = new MetadataBuilder().putBoolean("start", true).build())
    val e = StructField("b", TimestampType,
      metadata = new MetadataBuilder().putBoolean("end", true).build())
    assert(infer(StructType(Seq(s, e))) === RangeTime("a", "b"))
  }

  test("no temporal field: NoTime; DateType counts as temporal") {
    assert(infer(schema(geom, pop, pid)) === NoTime)
    assert(infer(schema(geom)) === NoTime)
    assert(infer(schema(("day", DateType))) === SingleTime("day"))
  }
}
