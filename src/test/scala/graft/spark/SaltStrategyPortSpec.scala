package graft.spark

import org.apache.spark.sql.functions._

/**
 * Ported reference vectors for the hash key-prefix (salt) strategy:
 * HashKeyIndexStrategyTest.java (hash-salt uniformity over a dense grid;
 * compound query-range cross product).
 */
class SaltStrategyPortSpec extends SparkTestBase {

  test("HashKeyIndexStrategyTest.testDistribution: 3-way hash salt over the reference grid has sd < 0.18 * mean") {
    // the reference iterates x in [90, 180) step 0.05, y in [50, 90) step
    // 0.5 and hashes each insertion id into 3 partitions
    // (HashKeyIndexStrategyTest.java:76-112); our salt hashes the cell id
    val xs = spark.range(1800).select((lit(90.0) + col("id") * 0.05).as("lon"))
    val ys = spark.range(80).select((lit(50.0) + col("id") * 0.5).as("lat"))
    val grid = xs.crossJoin(ys) // 144k-point test fixture, not a query shape
      .withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat")))
      .withColumn("salt", pmod(xxhash64(col("cell_id")), lit(3)).cast("int"))
    val counts = grid.groupBy("salt").count().collect().map(_.getLong(1))
    assert(counts.length == 3)
    val mean = counts.sum.toDouble / counts.length
    val sd = math.sqrt(counts.map(c => (mean - c) * (mean - c)).sum / counts.length)
    assert(sd < mean * 0.18, s"sd=$sd mean=$mean")
  }

  test("row_key compound-range scan == cell_id-pruned scan over a salted sorted store") {
    val dir = graft.TestTmp.dir("graft-rowkey-scan").toString
    val pages = Tables.synthPages(spark, 1500)
    Ingest.run(spark, pages, dir, Ingest.Config(numBuckets = 4, batchSize = 4, saltCount = 8))
    val store = Ingest.readStore(spark, dir)
    val box = (10.0, 120.0, -20.0, 60.0)
    val viaRowKey = Ops.spatialBoxQueryRowKey(store, box._1, box._2, box._3, box._4, 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaCell = Ops.spatialBoxQuery(store, box._1, box._2, box._3, box._4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaRowKey == viaCell && viaCell.nonEmpty)
    // the compound coarse prefilter genuinely prunes (admits < all rows)
    val ranges = SpatialPlanner.compoundRanges(8,
      SpatialPlanner.spatialBoxRanges(box._1, box._2, box._3, box._4))
    val coarse = store.where(
      SpatialPlanner.rangesPredicate(org.apache.spark.sql.functions.col("row_key"), ranges)).count()
    assert(coarse < store.count() && coarse >= viaCell.size)
    graft.FsUtils.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("HashKeyIndexStrategyTest.testGetQueryRangesWithMaximumNumberOfRanges: compound ranges == salt x sfc cross product") {
    // the reference composes every salt byte with every SFC range for the
    // numeric box [50.0, 50.025] x [-20.5, -20.455]
    // (HashKeyIndexStrategyTest.java:190-226)
    val sfc = SpatialPlanner.spatialBoxRanges(50.0, 50.025, -20.5, -20.455)
    val compound = SpatialPlanner.compoundRanges(3, sfc)
    val manual = for {
      s <- 0 until 3
      (start, end) <- sfc
    } yield (s.toByte +: start).toSeq -> (s.toByte +: end).toSeq
    assert(compound.map(r => r._1.toSeq -> r._2.toSeq).toSet == manual.toSet)
    assert(compound.size == 3 * sfc.size && sfc.nonEmpty)
    // every compound range preserves its inner ordering and adds exactly
    // the one-byte prefix (CompoundIndexStrategy.composeByteArrayId)
    for ((start, end) <- compound) {
      assert(start.head == end.head && start.head >= 0 && start.head < 3)
      assert(graft.index.ByteUtils.compareUnsigned(start, end) <= 0)
    }
  }
}
