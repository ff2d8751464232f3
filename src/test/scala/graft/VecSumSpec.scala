package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The VecSum aggregate (Lloyd centroid-update kernel) must reproduce the
  * posexplode + groupBy(key, dim) formulation it replaced, integer for
  * integer, including the truncating division on negative sums.
  */
class VecSumSpec extends AnyFunSuite with SparkSuite {

  test("VecSum == posexplode sum/count, incl. negative values and tie-free div") {
    import spark.implicits._
    val dim = 8
    // deterministic scattered vectors incl. negatives, 3 groups
    val rows = (0 until 500).map { i =>
      val j = i % 3
      val v = Array.tabulate(dim)(d => graft.core.PortableHash.h60(s"vs:$i:$d") % 2001 - 1000)
      (j.toLong, v.toSeq)
    }
    val df = rows.toDF("j", "v")
    val viaAgg = df.groupBy("j").agg(graft.plans.VecSum(col("v"), dim).as("vs"))
      .select(col("j"), expr("transform(vs.sums, s -> s div vs.cnt)").as("c"),
        col("vs.cnt").as("cnt"))
    val viaExplode = df.select(col("j"), posexplode(col("v")).as(Seq("d", "qv")))
      .groupBy("j", "d").agg(expr("sum(qv) div count(1)").as("cv"), count(lit(1)).as("cnt"))
      .groupBy("j").agg(expr(
        "transform(array_sort(collect_list(struct(d, cv))), x -> x.cv)").as("c"),
        first("cnt").as("cnt"))
    val a = viaAgg.collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).sortBy(_._1)
    val b = viaExplode.collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }
}
