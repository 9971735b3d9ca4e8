package graft.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The store opens from its own metadata: reads apply the recorded
  * `_schema.ddl` (no inference job), a resumed ingest must match it, and
  * the `cell_id` range split lets parquet stats skip row groups. */
class StoreReadSpec extends SparkTestBase {

  private object Plans extends AdaptiveSparkPlanHelper

  /** Spark jobs started while `body` runs (the suites of this build run
    * one at a time in the forked test JVM). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; GraftBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def ingested(prefix: String, pages: org.apache.spark.sql.DataFrame,
                       cfg: Ingest.Config = Ingest.Config(numBuckets = 4, batchSize = 4)): String = {
    val dir = graft.TestTmp.dir(prefix).toString
    Ingest.run(spark, pages, dir, cfg)
    dir
  }

  test("readStore schema equals the inferred parquet schema: plain, vis, and fully deleted store") {
    val plain = ingested("graft-read-plain", Tables.synthPages(spark, 300))
    val vis = ingested("graft-read-vis",
      Tables.synthPages(spark, 300).withColumn("vis", lit("a&b")))
    for (dir <- Seq(plain, vis)) {
      val inferred = spark.read.parquet(s"$dir/data").schema
      // StructType equality compares names, order, types and nullability
      assert(Ingest.readStore(spark, dir).schema == inferred, dir)
    }
    val inferred = spark.read.parquet(s"$vis/data").schema
    Ingest.deleteByQuery(spark, vis, lit(true))
    val emptied = Ingest.readStore(spark, vis)
    assert(emptied.schema == inferred)
    assert(emptied.count() == 0)
  }

  test("opening the store and reading its schema starts no Spark job") {
    val dir = ingested("graft-read-jobs", Tables.synthPages(spark, 300))
    Snapshots.enable(dir)
    Ingest.deleteByQuery(spark, dir, col("bucket") === 0)
    // the listener does see the inference job a schema-less read starts
    assert(jobsDuring(spark.read.parquet(s"$dir/data").schema) > 0)
    assert(jobsDuring(Ingest.readStore(spark, dir).schema) == 0)
    assert(jobsDuring(Snapshots.readStoreAsOf(spark, dir, 0).schema) == 0)
    assert(Snapshots.readStoreAsOf(spark, dir, 0).schema == Ingest.readStore(spark, dir).schema)
  }

  test("a resumed ingest whose schema differs from the recorded one throws before writing") {
    val dir = graft.TestTmp.dir("graft-read-resume").toString
    val pages = Tables.synthPages(spark, 400)
    val cfg = Ingest.Config(numBuckets = 4, batchSize = 2)
    intercept[RuntimeException](Ingest.run(spark, pages, dir, cfg.copy(failAfterBatches = 1)))
    val done = Ingest.completedBuckets(dir)
    assert(done.size == 2)
    val drifted = Seq(
      "an extra column" -> pages.withColumn("extra", lit(1)),
      "a dropped column" -> pages.drop("lang"),
      "a retyped column" -> pages.withColumn("lang", lit(1)),
      "reordered columns" -> pages.select(pages.columns.reverse.map(col).toSeq: _*))
    for ((what, p) <- drifted) {
      val e = intercept[IllegalArgumentException](Ingest.run(spark, p, dir, cfg))
      assert(e.getMessage.contains("_schema.ddl"), what)
      assert(Ingest.completedBuckets(dir) == done, s"$what: a bucket was written")
    }
    // the recorded schema itself resumes
    Ingest.run(spark, pages, dir, cfg)
    assert(Ingest.readStore(spark, dir).count() == 400)
  }

  test("cell_id range split: a selective box scans fewer rows than the store holds") {
    val dir = ingested("graft-read-split", Tables.synthPages(spark, 3000),
      Ingest.Config(numBuckets = 4, batchSize = 4, targetPartitions = 8))
    val store = Ingest.readStore(spark, dir)
    val total = store.count()
    val p = store.select("lon", "lat").head()
    val (x, y) = (p.getDouble(0), p.getDouble(1))
    val box = Ops.spatialBoxQuery(store, x - 0.05, x + 0.05, y - 0.05, y + 0.05).select("doc_id")
    val hits = box.collect()
    assert(hits.nonEmpty)
    val scans = Plans.collect(box.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    val scanned = scans.head.metrics("numOutputRows").value
    // each file's cell_id min/max covers ~1/8 of the keyspace, so row-group
    // stats skip most of the store under the pushed cell_id ranges
    assert(scanned >= hits.length && scanned * 2 < total, s"scanned $scanned of $total rows")
  }

  private val unsigned: Ordering[Array[Byte]] = (a, b) => java.util.Arrays.compareUnsigned(a, b)

  /** (min, max) of a binary column from a parquet file's footer stats. */
  private def footerRange(file: java.nio.file.Path, col: String): (Array[Byte], Array[Byte]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), spark.sparkContext.hadoopConfiguration))
    try {
      val stats = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == col).get.getStatistics
      }
      (stats.map(_.genericGetMin.asInstanceOf[Binary].getBytes).min(unsigned),
        stats.map(_.genericGetMax.asInstanceOf[Binary].getBytes).max(unsigned))
    } finally reader.close()
  }

  test("a delete rewrite keeps the cell_id split: several files, each a slice of its bucket") {
    val dir = ingested("graft-read-rewrite", Tables.synthPages(spark, 60000),
      Ingest.Config(numBuckets = 8, batchSize = 8, targetPartitions = 8))
    val bucket0 = Ingest.readStore(spark, _: String).where(col("bucket") === 0)
    val before = bucket0(dir).count()
    Ingest.deleteByQuery(spark, dir, col("doc_id") % 100 === 0)
    assert(bucket0(dir).count() < before, "bucket 0 was rewritten")
    val files = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "data", "bucket=0"))
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
    assert(files.size > 1, s"${files.size} files")
    val ranges = files.map(footerRange(_, "cell_id"))
    val (lo, hi) = (ranges.map(_._1).min(unsigned), ranges.map(_._2).max(unsigned))
    for (((fMin, fMax), f) <- ranges.zip(files))
      assert(unsigned.gt(fMin, lo) || unsigned.lt(fMax, hi), s"$f spans the whole bucket")
  }
}
