package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DocQueries

/** Planted-fixture semantics for the exact substring-span dedup
  * (d_span_dup): a position is duplicated iff its 8-token gram appears in
  * another document; consecutive duplicated positions merge into maximal
  * spans whose token length is run + 7.
  */
class SpanDupSpec extends AnyFunSuite with SparkSuite {

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
    import spark.implicits._
    DocQueries.spanDup(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("single shared 10-token run: 3 dup grams, max_span 10; short docs excluded") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val out = run(Seq(
      1L -> s"w1 w2 w3 w4 $shared w5 w6 w7 w8 w9 w10", // 20 tokens, run at 5..14
      2L -> s"x1 x2 $shared x3 x4 x5 x6 x7 x8",        // 18 tokens, run at 3..12
      3L -> (1 to 12).map(i => s"z$i").mkString(" "),   // no shared grams
      4L -> "t1 t2 t3"))                                // < 8 tokens: excluded
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((13L, 3L, 10L)))
    assert(out(2L) == ((11L, 3L, 10L)))
    assert(out(3L) == ((5L, 0L, 0L)))
  }

  test("two shared runs merge into separate islands; max_span takes the longer") {
    val a = (1 to 8).map(i => s"p$i").mkString(" ")  // 8-token shared run A
    val b = (1 to 9).map(i => s"r$i").mkString(" ")  // 9-token shared run B
    val out = run(Seq(
      5L -> s"$a q1 q2 q3 $b",       // A at 1..8 (gram i=1), B at 12..20 (i=12,13)
      6L -> s"u1 $a u2 u3 $b"))      // A at 2..9 (i=2),     B at 12..20 (i=12,13)
    assert(out(5L) == ((13L, 3L, 9L)))
    assert(out(6L) == ((13L, 3L, 9L)))
  }

  test("a gram repeated only WITHIN one doc is not a duplicate") {
    val rep = (1 to 8).map(i => s"m$i").mkString(" ")
    val out = run(Seq(
      7L -> s"$rep k1 k2 $rep",                         // same gram twice, one doc
      8L -> (1 to 10).map(i => s"y$i").mkString(" ")))
    assert(out(7L)._2 == 0L && out(7L)._3 == 0L)
  }

  test("streaming incremental screen agrees with the batch operator") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val stream = graft.streaming.StreamQueries.defs
      .find(_.name == "s_stream_incr_dedup").get.fn(spark, dir)
    // batch d_incr_dedup restricted to the verbatim slice, matched rows only
    val batch = DocQueries.defs.find(_.name == "d_incr_dedup").get.fn(spark, dir)
      .filter((col("new_id") - 30000000L) % 3 === 0 && col("n_matches") > 0)
      .select("new_id", "n_matches", "keeper")
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("incremental dedup: verbatim re-ingests flagged with their source id") {
    import org.apache.spark.sql.functions._
    val q = DocQueries.defs.find(_.name == "d_incr_dedup").get
    val out = q.fn(spark, "/root/testdata/sf0.001").cache()
    // every verbatim batch doc (source id % 3 == 0, re-id'd +30M) must match
    // at least its own source, and the minimal match IS that source (ids
    // below it are different documents)
    val verbatim = out.filter((col("new_id") - 30000000L) % 3 === 0)
    assert(verbatim.filter(col("n_matches") === 0).count() == 0)
    assert(verbatim.filter(col("keeper") > col("new_id") - 30000000L).count() == 0)
    // truncated-to-half docs sit mostly below the 0.9 Jaccard bar
    val novel = out.filter((col("new_id") - 30000000L) % 3 === 1).cache()
    val novelFlagged = novel.filter(col("n_matches") > 0).count()
    assert(novelFlagged * 2 < novel.count(),
      s"$novelFlagged of ${novel.count()} truncated docs flagged")
    out.unpersist(); novel.unpersist()
  }
}
