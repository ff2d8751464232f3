package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.operators.{GeoQueries, Pip, PipMaskExpr, HexCells, HilbertCells}
import graft.plans.TileIdPoint

/** SQL-facing registration of the engine's native expressions, so
  * `spark.sql("SELECT graft_tile_id(lon, lat) ...")` works — either on an
  * existing session via [[GraftFunctions.register]] or at session build time
  * through [[GraftExtensions]] (a builder's
  * `withExtensions(new GraftExtensions)`, or `spark.sql.extensions`).
  */
object GraftFunctions {

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_tile_id" -> ((es: Seq[Expression]) =>
      TileIdPoint(es(0), es(1), GeoQueries.index)),
    "graft_pip_mask" -> ((es: Seq[Expression]) =>
      PipMaskExpr(es(0), es(1), Pip.fixtureSet)))

  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
    }
    // cell encoders as plain UDFs (already JVM-side kernels)
    spark.udf.register("graft_cell_hex",
      (lon: Int, lat: Int, res: Int) => HexCells.encode(lon, lat, res))
    spark.udf.register("graft_cell_hilbert",
      (lon: Int, lat: Int, res: Int) => HilbertCells.encode(lon, lat, res))
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, b) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        b))
    }
}
