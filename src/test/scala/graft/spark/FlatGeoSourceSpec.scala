package graft.spark

import org.apache.spark.sql.functions._

/**
 * Fixture semantics for [[FlatGeoSource]] against the reference GDELT
 * plugin's drop rules: Java-split column-count window, actionGeoType
 * gate, empty coordinate skip, empty-token-null vs
 * unparseable-numeric-kills-the-line, 58-column source URL
 * (GDELTIngestPlugin.java:150-360).
 */
class FlatGeoSourceSpec extends SparkTestBase {

  import spark.implicits._

  private def gdeltLine(id: String, date: String, geoType: String,
                        lat: String, lon: String, cols: Int = 57,
                        url: String = "", mentions: String = "3"): String = {
    val v = Array.fill(cols)("")
    v(0) = id; v(1) = date; v(6) = "ACTOR_ONE"
    v(31) = mentions; v(32) = "2"; v(33) = "7"; v(34) = "1.5"
    v(49) = geoType; v(51) = "US"; v(53) = lat; v(54) = lon
    v(cols - 1) = if (cols == 58) url else "20140103" // last col non-empty
    v.mkString("\t")
  }

  test("GDELT: count window, geo-type gate, empty coordinates, 58-col URL") {
    val lines = Seq(
      gdeltLine("1", "20140103", "1", "42.5", "-71.1"),             // keeps
      gdeltLine("2", "20140103", "0", "42.5", "-71.1"),             // geoType 0: no geo
      gdeltLine("3", "20140103", "1", "", "-71.1"),                 // empty lat
      gdeltLine("4", "20140103", "1", "42.5", "-71.1", cols = 58,
        url = "http://example.org/a"),                              // keeps, with URL
      gdeltLine("5", "20140103", "x", "42.5", "-71.1"),             // unparseable geoType
      gdeltLine("6", "2014x103", "1", "42.5", "-71.1"),             // unparseable date
      "short\tline"                                                 // wrong column count
    ).toDF("line")
    val got = FlatGeoSource.gdeltEvents(lines, "line", extended = true)
      .orderBy("eventid").collect()
    assert(got.map(_.getAs[Int]("eventid")).toSeq === Seq(1, 4))
    val r = got(0)
    assert(r.getAs[java.sql.Date]("ts").toString === "2014-01-03")
    assert(r.getAs[Double]("lat") === 42.5 && r.getAs[Double]("lon") === -71.1)
    assert(r.getAs[String]("actor1") === "ACTOR_ONE" &&
      r.getAs[String]("action_country") === "US")
    assert(r.getAs[Int]("n_articles") === 7 && r.getAs[Double]("avg_tone") === 1.5)
    assert(r.isNullAt(r.fieldIndex("source_url")))                  // 57 cols: no URL
    // empty actor2 token reads as NULL, not ""
    assert(r.isNullAt(r.fieldIndex("actor2")))
    assert(got(1).getAs[String]("source_url") === "http://example.org/a")
  }

  test("GDELT: Java split semantics — trailing empty columns do not count") {
    // 57 cells but the last two empty: Java line.split sees 55 tokens and
    // the reference rejects the line
    val v = Array.fill(57)("")
    v(0) = "9"; v(1) = "20140103"; v(49) = "1"; v(53) = "42.5"; v(54) = "-71.1"
    val lines = Seq(v.mkString("\t")).toDF("line")
    assert(FlatGeoSource.gdeltEvents(lines, "line").count() === 0L)
  }

  test("GDELT: an EMPTY supplemental numeric is a null attribute; a non-empty unparseable one kills the line") {
    val empty = gdeltLine("7", "20140103", "1", "42.5", "-71.1", mentions = "")
    val bad = gdeltLine("8", "20140103", "1", "42.5", "-71.1", mentions = "x3")
    val got = FlatGeoSource.gdeltEvents(Seq(empty, bad).toDF("line"), "line",
      extended = true).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Int]("eventid") === 7)
    assert(got(0).isNullAt(got(0).fieldIndex("n_mentions")))
    // the non-extended path keeps both (the reference only parses
    // supplemental fields when includeSupplementalFields is set)
    assert(FlatGeoSource.gdeltEvents(Seq(empty, bad).toDF("line"), "line").count() === 2L)
  }
}
