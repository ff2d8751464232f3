package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.Bbs
import graft.operators.GeoQueries

class FunctionsSpec extends AnyFunSuite with SparkSuite {

  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "2")(super.withFixture(test))

  test("graft_tile_id / graft_pip_mask / cell encoders are SQL-callable") {
    functions.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT graft_tile_id(85000000, 495000000) AS t,
        |       graft_pip_mask(85000000, 495000000) AS m,
        |       graft_cell_hex(85000000, 495000000, 3) AS hx,
        |       graft_cell_hilbert(85000000, 495000000, 8) AS hc""".stripMargin).head()
    assert(row.getInt(0) ==
      Bbs.firstMatch(GeoQueries.index.bounds, 85000000, 495000000))
    assert(row.getLong(1) == graft.operators.Pip.fixtureSet.mask(85000000, 495000000))
    assert(row.getLong(2) == graft.operators.HexCells.encode(85000000, 495000000, 3))
    assert(row.getLong(3) == graft.operators.HilbertCells.encode(85000000, 495000000, 8))
  }

  test("extensions inject the functions at session build time") {
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new functions.GraftExtensions)
      .getOrCreate()
    // same underlying context; the injected registry entries resolve
    assert(s2.sql("SELECT graft_tile_id(0, 0)").head().getInt(0) ==
      Bbs.firstMatch(GeoQueries.index.bounds, 0, 0))
  }
}
