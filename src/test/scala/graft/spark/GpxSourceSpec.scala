package graft.spark

/**
 * Port of the reference's GPXConsumerTest waypoint expectations
 * (extensions/formats/gpx/src/test/java/.../GPXConsumerTest.java:40-205,
 * over its sample_gpx.xml fixture — the document below reproduces that
 * fixture's feature content): 3 waypoints, and the toID coordinate keys
 * in waypoint ids ("AQUADUCT_0422469500_-0714618070").
 */
class GpxSourceSpec extends SparkTestBase {

  import spark.implicits._

  private val sample =
    """<?xml version="1.0" encoding="UTF-8" standalone="no" ?>
      |<gpx xmlns="http://www.topografix.com/GPX/1/1" creator="test" version="1.1">
      |  <name>Rockbuster Duathlon at Ashland State Park</name>
      |  <time>2002-04-23T15:35:23Z</time>
      |  <trk>
      |    <name>A track</name>
      |    <trkseg>
      |      <trkpt lat="47.644548" lon="-122.326897"><ele>4.46</ele><time>2009-10-17T18:37:26Z</time></trkpt>
      |      <trkpt lat="47.645548" lon="-122.326897"><ele>4.634</ele><time>2009-10-17T18:38:26Z</time></trkpt>
      |    </trkseg>
      |  </trk>
      |  <trk>
      |    <name>B track</name>
      |    <number>2</number>
      |    <trkseg>
      |      <trkpt lat="48.644548" lon="-121.326897"><ele>10.46</ele><time>2009-11-17T18:37:26Z</time></trkpt>
      |      <trkpt lat="48.645548" lon="-121.326897"><ele>11.634</ele><time>2009-11-17T18:38:26Z</time>
      |        <fix>2d</fix><sat>8</sat><hdop>2.000000</hdop><vdop>2.100000</vdop><pdop>2.200000</pdop></trkpt>
      |    </trkseg>
      |  </trk>
      |  <trk><name>Empty track</name><trkseg></trkseg></trk>
      |  <wpt lat="42.246950" lon="-71.461807"><name>AQUADUCT</name><desc>Aquaduct</desc><sym>Dam</sym><type>Dam</type></wpt>
      |  <wpt lat="42.244646" lon="-71.468539"><ele>92.659200</ele><name>TRANSITION</name><desc>The Transition area</desc><sym>RV Park</sym><type>Dot</type></wpt>
      |  <wpt lat="42.235540" lon="-71.476690"><ele>128.016000</ele><desc>Zachary Hill</desc><sym>Summit</sym><type>Summit</type></wpt>
      |  <rte>
      |    <name>ROUT135ASP</name><desc>Route 135 ASP</desc><sym>Truck Stop</sym><type>Road</type>
      |    <rtept lat="42.244646" lon="-71.476690"><name>rtename1</name></rtept>
      |    <rtept lat="42.244646" lon="-71.468539"><name>rtename2</name></rtept>
      |  </rte>
      |  <rte><name>ROUT135ASP_EMpty</name></rte>
      |</gpx>""".stripMargin

  private lazy val docs = Seq(("123", sample)).toDF("input_id", "xml")

  test("waypoint census: the sample's three waypoints, tracks and routes ignored") {
    assert(GpxSource.waypoints(docs, "input_id", "xml").count() === 3L)
  }

  test("waypoints: toID coordinate keys, attributes, nameless waypoint") {
    val ws = GpxSource.waypoints(docs, "input_id", "xml").collect()
      .map(r => r.getAs[String]("id") -> r).toMap
    val aq = ws("AQUADUCT_0422469500_-0714618070")
    assert(aq.getAs[String]("description") === "Aquaduct" &&
      aq.getAs[String]("symbol") === "Dam")
    val tr = ws("TRANSITION_0422446460_-0714685390")
    assert(tr.getAs[Double]("elevation") === 92.6592)
    // the third waypoint has no <name>: id is the bare coordinate key
    assert(ws.keySet.exists(_ === "0422355400_-0714766900"))
  }
}
