package graft.spark

import org.apache.spark.sql.functions._

/** SQL-callable function surface, pyramid level selection, approx
  * quantiles, and salted-ingest skew balance. */
class SqlSurfaceSpec extends SparkTestBase {

  test("registered SQL functions round-trip through spark.sql") {
    GeoFunctions.register(spark)
    Tables.synthPages(spark, 200).createOrReplaceTempView("pages_sql")
    val rows = spark.sql(
      """SELECT doc_id, gw_cell_id(lon, lat) AS cell,
        |       gw_tile_x(lon, 8) AS tx, gw_tile_y(lat, 8) AS ty,
        |       gw_tile_id(lon, lat, 8) AS tile,
        |       gw_tile_bounds(gw_tile_id(lon, lat, 8), 8) AS bounds,
        |       gw_time_bin(warc_ts) AS bin,
        |       st_point_wkb(lon, lat) AS wkb,
        |       gw_geohash(lon, lat, 6) AS gh
        |FROM pages_sql""".stripMargin).collect()
    assert(rows.length == 200)
    for (r <- rows.take(50)) {
      val cell = r.getAs[Array[Byte]](1)
      assert(cell.length == 9 && cell(0) == 31)
      val (tx, ty, tile) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(tile == GeoCodec.curve2d(8).index(Array(tx, ty)))
      val b = r.getSeq[Double](5)
      assert(b.length == 4 && b(0) <= b(1) && b(2) <= b(3))
      assert(r.getString(6).matches("\\d{4}"))
      assert(r.getAs[Array[Byte]](7).length == 21) // 2D WKB point
      assert(r.getString(8).length == 6 && r.getString(8).matches("[0-9b-hj-km-np-z]{6}"))
    }
  }

  test("st_multipoint_wkb and st_geom_distance are SQL-callable") {
    GeoFunctions.register(spark)
    val r = spark.sql(
      """SELECT st_geom_distance(
        |         st_multipoint_wkb(array(0.0D, 1.0D), array(0.0D, 0.0D)),
        |         st_multipoint_wkb(array(4.0D), array(4.0D))) AS d""".stripMargin)
      .collect().head
    // nearest pair is (1,0)-(4,4): sqrt(9+16) = 5
    assert(r.getDouble(0) == 5.0)
  }

  test("st_coord_cosine and gw_vis_allows are SQL-callable") {
    GeoFunctions.register(spark)
    val r = spark.sql(
      """SELECT st_coord_cosine(1.0, 0.0, 0.0, 1.0, 0.0, 0.0) AS same,
        |       st_coord_cosine(1.0, 0.0, 0.0, 0.0, 1.0, 0.0) AS ortho,
        |       st_coord_cosine(0.0, 0.0, 0.0, 1.0, 0.0, 0.0) AS zeroNorm,
        |       gw_vis_allows('a&b', 'a,b') AS yes,
        |       gw_vis_allows('a&b', 'a,c') AS no,
        |       gw_vis_allows('', 'x') AS everyone""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
    assert(java.lang.Double.isNaN(r.getDouble(2))) // the reference's 0/0 quirk
    assert(r.getBoolean(3) && !r.getBoolean(4) && r.getBoolean(5))
  }

  test("st_envelope over WKB geometries") {
    import spark.implicits._
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val writer = new org.locationtech.jts.io.WKBWriter(2)
    val poly = gf.createPolygon(Array(
      new org.locationtech.jts.geom.Coordinate(0, 0),
      new org.locationtech.jts.geom.Coordinate(10, 0),
      new org.locationtech.jts.geom.Coordinate(10, 4),
      new org.locationtech.jts.geom.Coordinate(0, 4),
      new org.locationtech.jts.geom.Coordinate(0, 0)))
    val df = Seq((1L, writer.write(poly))).toDF("id", "geom")
    val r = df.select(GeoFunctions.st_envelope(col("geom")).as("env")).collect()(0)
    assert(r.getSeq[Double](0) == Seq(0.0, 10.0, 0.0, 4.0))
  }

  test("approx quantiles within tolerance of exact (FeatureNumericHistogram analogue)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val approx = df.stat.approxQuantile("o_totalprice", Array(0.25, 0.5, 0.75), 0.01)
    val exactRows = df.selectExpr(
      "percentile(o_totalprice, 0.25)", "percentile(o_totalprice, 0.5)",
      "percentile(o_totalprice, 0.75)").collect()(0)
    val exact = (0 until 3).map(exactRows.getDouble)
    for ((a, e) <- approx.zip(exact))
      assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
  }

  test("salted range-repartition balances hot-cell skew") {
    import org.apache.spark.sql.functions.spark_partition_id
    // synthPages: 80% of points in 20 city clusters → hot cells
    val pts = Tables.synthPages(spark, 20000)
      .withColumn("cell_id", GeoFunctions.gw_cell_id(col("lon"), col("lat")))
      .withColumn("salt", pmod(xxhash64(col("url"), lit(1)), lit(8)).cast("int"))
    def skew(df: org.apache.spark.sql.DataFrame): Double = {
      val counts = df.groupBy(spark_partition_id()).count().collect().map(_.getLong(1))
      counts.max.toDouble / (counts.sum.toDouble / counts.length)
    }
    val salted = skew(pts.repartitionByRange(16, col("salt"), col("cell_id")))
    assert(salted < 2.0, s"salted skew ratio $salted")
  }
}
