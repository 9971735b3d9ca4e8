package graft

import org.apache.spark.sql.SparkSession

/** Per-query timing forensics: run named SparkEntry queries (cold + warm)
  * against SPARK_GRAFT_SF_DIR in one local[32] session — the tool for
  * separating plan regressions from machine state when a full Bench
  * number moves. Usage: runMain graft.TimeQuery q40_multilevel_kmeans … */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]").appName("graft-timequery")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try for (q <- args.map(SparkEntry.query)) {
      for (label <- Seq("cold", "warm")) {
        val t0 = System.nanoTime()
        val n = q.plan(spark, dir).count()
        println(f"TIMEQ ${q.name}($label) ${(System.nanoTime() - t0) / 1e9}%.2f sec rows=$n")
      }
    } finally spark.stop()
  }
}
