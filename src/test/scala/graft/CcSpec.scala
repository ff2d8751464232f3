package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.DocQueries

/** The scale-adaptive connected-components labeling: the single-task
  * union-find (graphs under LocalCcEdgeCap edges) and the distributed
  * HashMin + pointer-jump loop must produce IDENTICAL labels — the cap is a
  * performance switch, never a semantics switch.
  */
class CcSpec extends AnyFunSuite with SparkSuite {

  /** bidirectional edge frame from undirected pairs */
  private def edges(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("a", "b")
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  private def labels(pairs: Seq[(Long, Long)], cap: Long): Map[Long, Long] =
    DocQueries.ccLabels(spark, edges(pairs), cap).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("union-find branch == HashMin branch on adversarial graph shapes") {
    // long chain (diameter >> rounds), a star, a cycle, singleton pairs,
    // and two merged chains — the shapes that stress convergence
    val chain = (0L until 30L).map(i => (100 + i, 101 + i))
    val star = (1L to 8L).map(i => (500L, 500L + i))
    val cycle = (0L until 9L).map(i => (700L + i, 700L + (i + 1) % 9))
    val merge = Seq((130L, 700L)) // chain end joins the cycle
    val pairs = chain ++ star ++ cycle ++ merge ++ Seq((900L, 901L))
    val local = labels(pairs, cap = Long.MaxValue) // force union-find
    val dist = labels(pairs, cap = 0L)             // force HashMin loop
    assert(local == dist, s"branches disagree: ${local.toSeq.sorted.diff(dist.toSeq.sorted)}")
    // and both are the true component minima
    assert(local(130L) == 100L)   // chain start is the min of the merged blob
    assert(local(708L) == 100L)   // cycle merged into the chain component
    assert(local(505L) == 500L)
    assert(local(901L) == 900L)
  }

  test("both branches on the real sf0.01 pair graph agree") {
    // the default path runs the union-find branch at sf0.01 (tiny graph);
    // localCap=0 forces the distributed HashMin+pointer-jump loop over the
    // SAME real pair graph — labels must be identical
    def lab(cap: Long) =
      DocQueries.dupLabels(spark, "/root/testdata/sf0.01", cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = lab(Long.MaxValue)
    val dist = lab(0L)
    assert(local.nonEmpty)
    assert(local == dist,
      s"branches disagree on the real graph: ${local.toSeq.sorted.diff(dist.toSeq.sorted).take(5)}")
    info(s"${local.values.toSet.size} components over ${local.size} nodes at sf0.01")
  }
}
