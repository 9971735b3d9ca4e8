package graft

import org.scalatest.funsuite.AnyFunSuite
import SparkEntry.{GoldenSpec, Sql}

/** The query registry's shape, checked without a Spark session: one row per
  * name, every row with an oracle, and the name-keyed views keyed like it. */
class SparkEntrySpec extends AnyFunSuite {

  private val names = SparkEntry.registry.map(_.name)

  test("registry names are distinct and shaped qNN_snake_case") {
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    val bad = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(bad.isEmpty, bad)
  }

  test("every Sql oracle is non-empty") {
    val empty = SparkEntry.registry.collect {
      case SparkEntry.Query(n, Sql(sql)) if sql.trim.isEmpty => n
    }
    assert(empty.isEmpty, empty)
  }

  test("q83 is the only golden-spec row and its suite class loads") {
    val golden = SparkEntry.registry.collect { case SparkEntry.Query(n, GoldenSpec(suite)) => n -> suite }
    assert(golden == Seq("q83_vincenty" -> "graft.spark.SpatialQueryPortSpec"))
    val suite = Class.forName(golden.head._2, false, getClass.getClassLoader)
    assert(classOf[AnyFunSuite].isAssignableFrom(suite))
  }

  test("queries and oracleSql are keyed like the registry") {
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet - "q83_vincenty")
  }

  test("an unknown name throws and lists the known ones") {
    assert(SparkEntry.query("q01_spatial_box").name == "q01_spatial_box")
    val e = intercept[NoSuchElementException](SparkEntry.query("q01_spatial_bx"))
    assert(e.getMessage.contains("q01_spatial_bx") && e.getMessage.contains("q01_spatial_box"))
  }
}
