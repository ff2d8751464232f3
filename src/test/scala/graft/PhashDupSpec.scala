package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.PhashDup

/** Pigeonhole recall and guarded-blocking semantics of the phash band
  * near-dup join: with 4 bands, EVERY pair within Hamming distance 3 must
  * be found (no approximation below the band count), nothing above the
  * threshold survives the confirm, and over-capacity buckets are excluded
  * from candidate generation without affecting pairs that also collide in
  * an uncapped band.
  */
class PhashDupSpec extends AnyFunSuite with SparkSuite {

  private def pairs(rows: Seq[(String, Long)], cap: Int = PhashDup.BucketCap) = {
    import spark.implicits._
    PhashDup(rows.toDF("image_id", "phash"), bucketCap = cap)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
  }

  test("every pair within Hamming 3 is found; none above it survives") {
    val base = 0x0123456789ABCDL // arbitrary 56-bit value
    val rows = Seq(
      "a" -> base,
      "b" -> (base ^ 1L),                         // d(a,b)=1
      "c" -> (base ^ (1L << 20) ^ (1L << 40)),    // d(a,c)=2, d(b,c)=3
      "d" -> (base ^ 0xF000L),                    // d(a,d)=4 — must NOT appear with a
      "e" -> (~base & ((1L << 60) - 1)))          // far from everything
    val got = pairs(rows)
    assert(got.contains(("a", "b", 1L)))
    assert(got.contains(("a", "c", 2L)))
    assert(got.contains(("b", "c", 3L)))
    assert(!got.exists { case (x, y, _) => Set(x, y) == Set("a", "d") })
    assert(!got.exists { case (x, y, _) => x == "e" || y == "e" })
    // exhaustive check vs brute force over the fixture
    val brute = for {
      (i, pi) <- rows; (j, pj) <- rows if i < j
      h = java.lang.Long.bitCount(pi ^ pj) if h <= 3
    } yield (i, j, h.toLong)
    assert(got == brute.toSet)
  }

  test("exact duplicates (Hamming 0) are reported") {
    val got = pairs(Seq("x" -> 42L, "y" -> 42L))
    assert(got == Set(("x", "y", 0L)))
  }

  test("over-capacity buckets are dropped; pairs with an uncapped shared band survive") {
    // 12 images identical in band 0 (low 15 bits = 0x1234, the degenerate
    // "black frame" bucket) but with DISTINCT bands 1-3: with cap=4 the
    // shared band-0 bucket is dropped, so no q-q candidate survives. p0/p1
    // are Hamming 1 apart (band-1 bit flip) and agree on bands 2 and 3 —
    // they must still be found through those uncapped buckets.
    // band value 3<<i: any two distinct values differ in >= 2 bits, so any
    // q-q pair is >= 6 apart (3 bands x 2) — never within the threshold
    val rows =
      (0 until 10).map(i =>
        s"q$i" -> ((3L << i) << 45 | (3L << i) << 30 | (3L << i) << 15 | 0x1234L)) ++
        Seq("p0" -> (0xABCL << 45 | 0x5DEL << 30 | 0x7000L << 15 | 0x1234L),
          "p1" -> ((0xABCL << 45 | 0x5DEL << 30 | 0x7000L << 15 | 0x1234L) ^ (1L << 15)))
    val got = pairs(rows, cap = 4)
    assert(got.contains(("p0", "p1", 1L)))
    assert(!got.exists { case (x, y, _) => x.startsWith("q") && y.startsWith("q") })
    // sanity: with a large cap the same q-q pairs STILL don't appear (their
    // Hamming distances exceed 3), i.e. the cap only ever drops candidates
    val uncapped = pairs(rows, cap = 1000)
    assert(uncapped.contains(("p0", "p1", 1L)))
    assert(!uncapped.exists { case (x, y, _) => x.startsWith("q") && y.startsWith("q") })
  }
}
