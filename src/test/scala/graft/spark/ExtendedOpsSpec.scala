package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.index.{BasicDim, Lexicoders, SFCDimension, ZOrderSFC}

/** Lexicoders, Z-order curve, clustering extensions, export sink. Property-style checks use a seeded RNG. */
class ExtendedOpsSpec extends SparkTestBase {

  private val rnd = new scala.util.Random(42)

  // ---- lexicoders: unsigned byte order == numeric order ----

  test("lexicoders are sort-preserving (seeded property)") {
    import graft.index.ByteUtils.compareUnsigned
    val longs = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue) ++
      Seq.fill(500)(rnd.nextLong())
    for (a <- longs.take(60); b <- longs.take(60)) {
      assert(math.signum(compareUnsigned(Lexicoders.encodeLong(a), Lexicoders.encodeLong(b))) ==
        math.signum(java.lang.Long.compare(a, b)))
    }
    for (a <- longs) assert(Lexicoders.decodeLong(Lexicoders.encodeLong(a)) == a)

    val doubles = Seq(-1e300, -1.5, -0.0, 0.0, 1.5, 1e300) ++
      Seq.fill(60)(rnd.nextDouble() * 2e12 - 1e12)
    for (a <- doubles; b <- doubles) {
      assert(math.signum(compareUnsigned(Lexicoders.encodeDouble(a), Lexicoders.encodeDouble(b))) ==
        math.signum(java.lang.Double.compare(a, b)), s"$a vs $b")
      assert(Lexicoders.decodeDouble(Lexicoders.encodeDouble(a)) == a)
    }

    val ints = Seq(Int.MinValue, -1, 0, 1, Int.MaxValue) ++ Seq.fill(60)(rnd.nextInt())
    for (a <- ints; b <- ints) {
      assert(math.signum(compareUnsigned(Lexicoders.encodeInt(a), Lexicoders.encodeInt(b))) ==
        math.signum(Integer.compare(a, b)))
      assert(Lexicoders.decodeInt(Lexicoders.encodeInt(a)) == a)
    }
  }

  // ---- z-order curve ----

  test("z-order: interleave/deinterleave roundtrip and quadrant order") {
    val sfc = new ZOrderSFC(Array(
      SFCDimension(BasicDim(-180, 180), 16), SFCDimension(BasicDim(-90, 90), 16)))
    for (_ <- 0 until 500) {
      val x = rnd.nextLong().abs % (1L << 16)
      val y = rnd.nextLong().abs % (1L << 16)
      val z = sfc.index(Array(x, y))
      assert(sfc.indexInverse(z).sameElements(Array(x, y)), s"($x,$y)")
    }
    val z00 = sfc.index(Array(0L, 0L))
    val z10 = sfc.index(Array(1L << 15, 0L))
    val z01 = sfc.index(Array(0L, 1L << 15))
    val z11 = sfc.index(Array(1L << 15, 1L << 15))
    assert(Seq(z00, z01, z10, z11).sorted == Seq(z00, z01, z10, z11),
      "quadrants ordered x-major")
    // getId bucket rule matches the Hilbert edge rule
    assert(sfc.getId(Array(-180.0, -90.0)) == sfc.index(Array(0L, 0L)))
  }

  // ---- clustering extensions ----

  private lazy val pts = Tables.synthPages(spark, 800)
    .select(col("doc_id").as("id"), col("lon"), col("lat")).cache()

  test("results are invariant to shuffle parallelism") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def run(): (Set[(Long, Long, Long)], Map[Long, Long]) = {
      val km = Analytics.kmeans(pts,
          pts.orderBy("id").limit(4).collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sh = TextOps.simhash(
          Tables.synthPages(spark, 300), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      (km, sh)
    }
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val (km1, sh1) = run()
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val (km7, sh7) = run()
      assert(km1 == km7, "kmeans stats must not depend on partitioning")
      assert(sh1 == sh7, "simhash must not depend on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("multiLevelKmeans: child stats nest inside parent assignment") {
    val local = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val init1 = local.sortBy(_._1).take(3).toSeq
    val out = Analytics.multiLevelKmeans(pts, init1, childK = 2, iters = 2).collect()
    val parents = out.map(_.getLong(0)).distinct
    assert(parents.length == 3)
    assert(out.map(_.getLong(2)).sum == 800L, "every point in exactly one child cluster")
  }

  // ---- export sink ----

  test("export to ORC round-trips (the reference's local export path)") {
    val dir = graft.TestTmp.dir("graft-export").toString
    val df = pts.limit(100)
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 100)
    assert(back.select("id").collect().map(_.getLong(0)).toSet ==
      df.select("id").collect().map(_.getLong(0)).toSet)
  }
}
