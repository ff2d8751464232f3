package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.GeoQueries

/** Exactness of the grid-blocked radius distance self-join: every pair at
  * planar distance <= r is found (grid blocking is complete, including
  * across cell boundaries, the merged zero cell of truncating division,
  * and negative coordinates), nothing beyond r survives, the boundary
  * dist == r is inclusive, and the plan never degenerates to a
  * cartesian/nested-loop join.
  */
class DistJoinSpec extends AnyFunSuite with SparkSuite {

  private val R = 1000L

  private def run(pts: Seq[(String, Long, Long)]): Set[(String, String, Long)] = {
    import spark.implicits._
    GeoQueries.distJoin(pts.toDF("image_id", "lon", "lat"), R)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
  }

  private def brute(pts: Seq[(String, Long, Long)]): Set[(String, String, Long)] =
    (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= R * R
    } yield (a._1, b._1, d2)).toSet

  test("planted boundary pairs: r inclusive, r+1 excluded, cross-cell found") {
    val pts = Seq(
      ("a0", 0L, 0L), ("a1", R, 0L),            // exactly r apart -> included
      ("b0", 5000L, 5000L), ("b1", 5000L + R + 1, 5000L), // r+1 -> excluded
      ("c0", R - 1, 0L), ("c1", R + 1, 0L),     // cross cell boundary, dist 2
      ("d0", -1L, -1L), ("d1", 1L, 1L),         // straddle the origin
      ("e0", -3 * R - 1, 7L), ("e1", -3 * R + 1, 7L), // negative cells
      ("f0", 9999L, -9999L), ("f1", 9999L, -9999L + R)) // vertical at r
    val got = run(pts)
    val want = brute(pts)
    assert(got == want, s"got=$got\nwant=$want")
    assert(got.contains(("a0", "a1", R * R)))
    assert(!got.exists(p => p._1 == "b0" && p._2 == "b1"))
    assert(got.contains(("c0", "c1", 4L)))
    assert(got.contains(("d0", "d1", 8L)))
    assert(got.contains(("e0", "e1", 4L)))
    assert(got.contains(("f0", "f1", R * R)))
  }

  test("fuzz: grid join equals brute force on 300 hash-scattered points") {
    // points scattered over +-10 cells around the origin so every cell
    // shape (negative, zero-straddling, positive) participates
    val pts = (0 until 300).map { i =>
      val lon = graft.core.PortableHash.h60(s"djx:$i") % (20 * R) - 10 * R
      val lat = graft.core.PortableHash.h60(s"djy:$i") % (20 * R) - 10 * R
      (f"p$i%03d", lon, lat)
    }
    val got = run(pts)
    val want = brute(pts)
    assert(want.nonEmpty, "degenerate fixture: no pairs within r")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("plan: shuffle equi-join on the cell key, no cartesian/BNLJ") {
    import spark.implicits._
    val df = GeoQueries.distJoin(
      (0 until 50).map(i => (s"q$i", i.toLong * 7, i.toLong * 3))
        .toDF("image_id", "lon", "lat"), R)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }
}
