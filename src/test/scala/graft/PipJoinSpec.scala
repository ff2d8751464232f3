package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Geo
import graft.operators.{Pip, PipKernels, PreparedPolygon}

/** Exactness of the grid-blocked many-polygon PIP join: every (point,
  * polygon) containment pair is found (the bbox-covered-cell explode is
  * complete under truncating division, including negative and
  * zero-straddling cells), the parity kernel over ArrayData matches
  * Geo.pointInPolygon over heap arrays bit-for-bit, sets beyond the
  * 63-polygon bitmap cap are served, and the plan never degenerates to a
  * cartesian/nested-loop join.
  */
class PipJoinSpec extends AnyFunSuite with SparkSuite {

  private def run(pts: Seq[(String, Int, Int)], polys: Array[PreparedPolygon],
      cell: Long): Set[(String, Int)] = {
    import spark.implicits._
    Pip.pipJoin(pts.toDF("image_id", "lon", "lat"), Pip.polyDf(spark, polys), cell)
      .select("image_id", "pid")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
  }

  private def brute(pts: Seq[(String, Int, Int)],
      polys: Array[PreparedPolygon]): Set[(String, Int)] =
    (for {
      (id, x, y) <- pts; p <- polys
      if Geo.pointInPolygon(x, y, p.lon, p.lat)
    } yield (id, p.id)).toSet

  private def square(pid: Int, x0: Int, y0: Int, x1: Int, y1: Int) =
    PreparedPolygon(pid,
      Array(x0, x1, x1, x0, x0), Array(y0, y0, y1, y1, y0))

  test("planted cases: interior, parity edges, cross-cell, negative cells") {
    val polys = Array(
      square(0, -500, -500, 500, 500),        // straddles the origin cell seam
      square(1, 900, 900, 2100, 2100),        // spans cells 0..2 at cell=1000
      square(2, -2100, -2100, -900, -900))    // negative cells
    val pts = Seq(
      ("in0", 0, 0), ("in1", 499, 499),
      ("edge_w", -500, 0),                    // west edge: ray rule includes
      ("edge_e", 500, 0),                     // east edge: excluded (strict <)
      ("out0", 501, 0), ("out1", 0, 501),
      ("in2", 1000, 1000), ("in3", 2000, 2000),
      ("neg", -1000, -1000), ("negout", -2200, -1000))
    val got = run(pts, polys, 1000L)
    val want = brute(pts, polys)
    assert(got == want, s"got=$got\nwant=$want")
    assert(got.contains(("in0", 0)) && got.contains(("in2", 1)) && got.contains(("neg", 2)))
    assert(!got.exists(_._1 == "out0") && !got.exists(_._1 == "negout"))
  }

  test("fuzz: join equals brute force over the 96-polygon fixture set") {
    // hash-scattered points over the full planar domain; the fixture
    // polygons cover ~20% of it, so hits and misses both participate
    val pts = (0 until 400).map { i =>
      val lon = (core.PortableHash.h60(s"pjx:$i") % 2400000001L - 1200000000L).toInt
      val lat = (core.PortableHash.h60(s"pjy:$i") % 1200000001L - 600000000L).toInt
      (f"p$i%03d", lon, lat)
    }
    val got = run(pts, Pip.manyPolygons, Pip.ManyCellSide)
    val want = brute(pts, Pip.manyPolygons)
    assert(want.nonEmpty, "degenerate fixture: no containment pairs")
    assert(Pip.manyPolygons.length > 63, "set must exceed the bitmap cap")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("ArrayData kernel == heap-array kernel on every fixture polygon") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    for (p <- Pip.manyPolygons; i <- 0 until 50) {
      val x = (core.PortableHash.h60(s"k:$i:${p.id}:x") % 600000001L - 300000000L).toInt +
        (p.bbox.minLon / 2 + p.bbox.maxLon / 2)
      val y = (core.PortableHash.h60(s"k:$i:${p.id}:y") % 300000001L - 150000000L).toInt +
        (p.bbox.minLat / 2 + p.bbox.maxLat / 2)
      assert(
        PipKernels.contains(x, y, ArrayData.toArrayData(p.lon), ArrayData.toArrayData(p.lat)) ==
          Geo.pointInPolygon(x, y, p.lon, p.lat), s"poly ${p.id} point ($x,$y)")
    }
  }

  test("hierarchical grid: a continent-sized polygon cannot degenerate the explode") {
    // one giant ring (2M x 2M) over tiny base cells (side 1000): the flat
    // grid would register it in 2000^2 = 4M cells; the level-aware explode
    // keeps every polygon at <= 9 cells of its OWN level
    val polys = Array(
      square(0, -1000000, -1000000, 1000000, 1000000),
      square(1, 10, 10, 400, 400),
      square(2, -900, -900, -400, -400),
      square(3, 2000000, 2000000, 2000500, 2000500)) // outside the giant
    val cellRows = Pip.polyCells(Pip.polyDf(spark, polys), 1000L).count()
    assert(cellRows <= 9L * polys.length, s"fan-out $cellRows")
    val pts = Seq(
      ("inG", 0, 500000), ("inG1", 200, 200), ("inG2", -500, -500),
      ("in3", 2000100, 2000100), ("out", 1500000, 1500000))
    val got = run(pts, polys, 1000L)
    val want = brute(pts, polys)
    assert(got == want, s"got=$got\nwant=$want")
    assert(got.contains(("inG", 0)) && got.contains(("inG1", 1)) && got.contains(("in3", 3)))
  }

  test("orientSign is exact where the naive Int64 cross product overflows") {
    import graft.core.PortableHash
    // deliberate overflow region: full-domain deltas make p*q - r*s reach
    // ~1.3e19 > Long.MaxValue (naive arithmetic wraps and flips the sign)
    val v = PipKernels.orientSign(1800000000L, -900000000L,
      -1800000000L, 900000000L, -2100000000L, -2100000000L)
    assert(v == 1, s"128-bit sign must survive the wrap (got $v)")
    // property: agreement with BigInt at hash-scattered extreme coordinates
    for (i <- 0 until 500) {
      def c(seed: String) = PortableHash.h60(s"$seed:$i") % 4200000001L - 2100000000L
      val (ax, ay, bx, by, cx, cy) = (c("oa"), c("ob"), c("oc"), c("od"), c("oe"), c("of"))
      val want = ((BigInt(bx - ax) * BigInt(cy - ay)) - (BigInt(by - ay) * BigInt(cx - ax))).signum
      assert(PipKernels.orientSign(ax, ay, bx, by, cx, cy) == want,
        s"($ax,$ay)-($bx,$by) vs ($cx,$cy)")
    }
  }

  test("segTouch: proper cross, endpoint touch, collinear overlap/disjoint") {
    import PipKernels.segTouch
    assert(segTouch(0, 0, 10, 10, 0, 10, 10, 0))      // proper X crossing
    assert(segTouch(0, 0, 10, 0, 10, 0, 20, 5))       // endpoint-on-endpoint
    assert(segTouch(0, 0, 10, 0, 5, 0, 5, 7))         // T-touch mid-segment
    assert(segTouch(0, 0, 10, 0, 3, 0, 7, 0))         // collinear overlapping
    assert(!segTouch(0, 0, 10, 0, 11, 0, 20, 0))      // collinear disjoint
    assert(!segTouch(0, 0, 10, 0, 0, 1, 10, 1))       // parallel offset
    assert(!segTouch(0, 0, 10, 10, 9, 20, 20, 9))     // near miss
  }

  test("polyOverlapJoin: planted overlap/containment/touch/disjoint + fuzz vs brute") {
    val polys = Array(
      square(0, 0, 0, 1000, 1000),
      square(1, 500, 500, 1500, 1500),     // overlaps 0
      square(2, 100, 100, 200, 200),       // contained in 0
      square(3, 1000, 0, 2000, -1000),     // touches 0 at corner (1000,0)
      square(4, 5000, 5000, 6000, 6000))   // disjoint from all
    import spark.implicits._
    def runOv(ps: Array[PreparedPolygon], cell: Long): Set[(Long, Long)] =
      Pip.polyOverlapJoin(Pip.polyDf(spark, ps), cell)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = runOv(polys, 700L)
    assert(got == Set((0L, 1L), (0L, 2L), (0L, 3L)), got.toString)

    // fuzz: blocking completeness — same kernel, all-pairs, no blocking
    import org.apache.spark.sql.catalyst.util.ArrayData
    def bruteOv(ps: Array[PreparedPolygon]): Set[(Long, Long)] =
      (for {
        a <- ps; b <- ps if a.id < b.id
        if PipKernels.polyIntersects(
          ArrayData.toArrayData(a.lon), ArrayData.toArrayData(a.lat),
          ArrayData.toArrayData(b.lon), ArrayData.toArrayData(b.lat))
      } yield (a.id.toLong, b.id.toLong)).toSet
    val want = bruteOv(Pip.manyPolygons)
    val gotMany = runOv(Pip.manyPolygons, Pip.ManyCellSide)
    assert(want.nonEmpty, "degenerate fixture: no overlapping pairs")
    assert(gotMany == want,
      s"missing=${(want -- gotMany).take(5)} extra=${(gotMany -- want).take(5)}")
  }

  test("polyOverlap hierarchical: cross-level pairs meet exactly once") {
    val polys = Array(
      square(0, -1000000, -1000000, 1000000, 1000000), // giant (lvl ~11 at base 1000)
      square(1, 100, 100, 500, 500),                   // small, inside the giant
      square(2, 999900, 999900, 1000300, 1000300),     // small, straddles the giant's corner
      square(3, 5000000, 5000000, 5000400, 5000400),   // small, far away
      square(4, 5000200, 5000200, 5000600, 5000600))   // small, overlaps 3 (same level)
    val rows = Pip.polyOverlapJoin(Pip.polyDf(spark, polys), 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.size == rows.toSet.size, s"duplicate emission: $rows")
    assert(rows.toSet == Set((0L, 1L), (0L, 2L), (3L, 4L)), rows.toString)
  }

  test("polyArea: orientation matches Geo.isClockwise, area matches direct shoelace") {
    val out = graft.operators.GeoQueries.polyArea(Pip.polyDf(spark, Pip.manyPolygons))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    Pip.manyPolygons.foreach { p =>
      // translated exact shoelace over the heap arrays
      val n = p.lon.length
      var s = BigInt(0)
      for (i <- 0 until n) {
        val j = (i + 1) % n
        s += BigInt(p.lon(i) - p.lon(0)) * (p.lat(j) - p.lat(0)) -
          BigInt(p.lon(j) - p.lon(0)) * (p.lat(i) - p.lat(0))
      }
      val (area2, orient) = out(p.id.toLong)
      assert(area2 == s.abs.toLong, s"pid ${p.id}")
      assert(orient == (if (Geo.isClockwise(p.lon, p.lat)) "cw" else "ccw"), s"pid ${p.id}")
    }
  }

  test("plan: equi-join candidates; only the bounded level fan-out nests") {
    import spark.implicits._
    val df = Pip.pipJoin(
      (0 until 50).map(i => (s"q$i", i * 7, i * 3)).toDF("image_id", "lon", "lat"),
      Pip.polyDf(spark, Pip.manyPolygons), Pip.ManyCellSide)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the candidate join must be a hash/sort-merge EQUI-join on (lvl, cx, cy)
    assert(p.contains("Join [lvl"), p)
    // the only nested-loop node allowed is the <= ~32-row distinct-level
    // broadcast (IdentityBroadcastMode = the unconditioned tiny fan-out);
    // anything else nesting would be an O(n*m) degeneracy
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1 && (bnlj == 0 || p.contains("IdentityBroadcastMode")), p)
    assert(!p.contains("ScalaUDF"), p)
  }
}
