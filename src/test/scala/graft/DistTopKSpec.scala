package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.{DistTopK, TopKBuf}

/** The bounded top-k aggregate that replaced the kNN window sort: it must
  * reproduce row_number-over-(d, pid) exactly — including ties — while
  * counting every candidate, and its buffer must survive the partial/final
  * serialization cycle.
  */
class DistTopKSpec extends AnyFunSuite with SparkSuite {

  test("agrees with the window formulation on a tie-heavy frame") {
    import spark.implicits._
    // distances collide deliberately: d = (i % 7), pid breaks ties
    val df = (0 until 2000).map { i =>
      (i % 13L, (i % 7).toDouble, i.toLong)
    }.toDF("qid", "d", "pid").repartition(8)

    val w = Window.partitionBy("qid").orderBy(col("d"), col("pid"))
    val want = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("qid", "rk", "pid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    val got = df.groupBy("qid").agg(DistTopK(col("d"), col("pid"), 5).as("tk"))
      .select(col("qid"), col("tk").getField("n").as("n"),
        posexplode(col("tk").getField("items")))
      .select(col("qid"), col("n"), (col("pos") + 1).as("rk"),
        col("col").getField("pid").as("pid"))
      .collect()
    assert(got.map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet == want)
    // n counts ALL candidates, not just the k kept: 2000 rows over 13 qids
    val totals = got.map(r => (r.getLong(0), r.getLong(1))).distinct
    assert(totals.forall(t => t._2 == 153 || t._2 == 154), totals.toSeq.toString)
    assert(totals.map(_._2).sum == 2000, s"candidate counts wrong: ${totals.toSeq}")
  }

  test("buffer semantics: bounded inserts, merge, serde round trip") {
    val a = new TopKBuf(3)
    Seq((5.0, 50L), (1.0, 10L), (3.0, 30L), (1.0, 9L), (7.0, 70L)).foreach {
      case (d, p) => a.insert(d, p)
    }
    assert(a.n == 5 && a.size == 3)
    assert(a.ds.toSeq == Seq(1.0, 1.0, 3.0))
    assert(a.ps.toSeq == Seq(9L, 10L, 30L)) // tie on d=1.0 broken by pid

    val b = new TopKBuf(3)
    Seq((0.5, 5L), (2.0, 20L)).foreach { case (d, p) => b.insert(d, p) }
    a.absorb(b)
    assert(a.n == 7 && a.size == 3)
    assert(a.ds.toSeq == Seq(0.5, 1.0, 1.0) && a.ps.toSeq == Seq(5L, 9L, 10L))

    val agg = DistTopK(
      org.apache.spark.sql.GraftColumnBridge.expression(lit(0.0)),
      org.apache.spark.sql.GraftColumnBridge.expression(lit(0L)), 3)
    val back = agg.deserialize(agg.serialize(a))
    assert(back.k == 3 && back.n == a.n && back.size == a.size)
    assert(back.ds.toSeq == a.ds.toSeq && back.ps.toSeq == a.ps.toSeq)
  }
}
