package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.functions._

class MultimodalStreamSpec extends SparkTestBase {

  private lazy val pages = Tables.synthPages(spark, 400).cache()

  test("extractFeatures: checksum matches portable hash of the bytes") {
    val media = pages.select(col("doc_id"), col("html"))
    val got = MediaStub.extractFeatures(media, "doc_id", "html").collect()
      .map(f => f.id -> f).toMap
    val local = media.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    for ((id, p) <- local) {
      val want = p.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 2147483647L)
      assert(got(id).checksum == want)
      assert(got(id).nBytes == p.length)
      assert(got(id).headByte == (p(0) & 0xff))
      assert(got(id).vec.length == 8 && got(id).vec.forall(v => v >= 0f && v <= 1f))
    }
  }

  test("streaming file ingest == batch encode; restart is incremental") {
    import graft.streaming.StreamIngest
    val tmp = graft.TestTmp.dir("graft-stream")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckDir = s"$tmp/ck"
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.limit(300).write.parquet(inDir)

    val addGeo = Tables.addEventGeo _
    StreamIngest.runFileIngest(spark, inDir, ev.schema, addGeo, outDir, ckDir, bits = 8)
    val got1 = spark.read.parquet(outDir)
    assert(got1.count() == 300)
    // batch equivalence on (event_id, tx, ty)
    val batch = StreamIngest.encode(addGeo(spark.read.parquet(inDir)), 8)
      .select("event_id", "tx", "ty").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gotSet = got1.select("event_id", "tx", "ty").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSet == batch)

    // append a second file; restart processes only the new data
    ev.where(col("event_id") >= 300 && col("event_id") < 400)
      .coalesce(1).write.mode("append").parquet(inDir)
    StreamIngest.runFileIngest(spark, inDir, ev.schema, addGeo, outDir, ckDir, bits = 8)
    val got2 = spark.read.parquet(outDir)
    assert(got2.select("event_id").distinct().count() == got2.count(), "no reprocessing duplicates")
    assert(got2.count() >= 390 && got2.count() <= 400)
  }

  test("mapGroupsWithState running tile counts accumulate across micro-batches") {
    import graft.streaming.StreamIngest
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Double, Double)]
    val stream = mem.toDF().toDF("event_id", "lon", "lat")
    val counts = StreamIngest.runningTileCounts(stream, bits = 2)
      .toDF("tile", "cnt")
    val q = counts.writeStream.format("memory").queryName("tile_counts")
      .outputMode("update").start()
    try {
      // batch 1: 3 events in the same cell, 1 in another
      mem.addData((1L, 10.0, 10.0), (2L, 10.1, 10.1), (3L, 10.2, 10.2), (4L, -120.0, -50.0))
      q.processAllAvailable()
      val b1 = spark.table("tile_counts").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).max }
      assert(b1.values.toSeq.sorted == Seq(1L, 3L))
      // batch 2: two more events in the hot cell → state carries to 5
      mem.addData((5L, 10.05, 10.05), (6L, 10.15, 10.15))
      q.processAllAvailable()
      val b2 = spark.table("tile_counts").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).max }
      assert(b2.values.toSeq.sorted == Seq(1L, 5L))
    } finally q.stop()
  }

  test("windowed tile counts with watermark (batch-mode semantics check)") {
    import graft.streaming.StreamIngest
    val ev = graft.spark.Tables.addEventGeo(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    // windowed agg plan works identically on a batch DF (no watermark drop)
    val got = StreamIngest.windowedTileCounts(ev, "ts", bits = 4, "1 hour", "10 minutes")
    val total = got.agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == ev.count())
  }
}
