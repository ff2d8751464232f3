package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Geo, PortableHash}
import graft.operators.ZCells

/** Z-order layout: the morton encode is a true bit-interleave, bbox covers
  * are COMPLETE (every intersecting cell lands in some range — the property
  * g_zorder_scan's exactness rests on), coarsening only widens, the cover
  * actually prunes, and a z-sorted parquet table serves the range scan with
  * pushed-down min/max filters.
  */
class ZorderSpec extends AnyFunSuite with SparkSuite {

  test("interleave: even bits are x, odd bits are y, order-preserving per axis") {
    for (i <- 0 until 200) {
      val x = (PortableHash.h60(s"zx:$i") % 1024).toInt
      val y = (PortableHash.h60(s"zy:$i") % 1024).toInt
      val m = ZCells.interleave(x, y)
      var rx = 0L; var ry = 0L
      for (b <- 0 until 31) {
        rx |= ((m >> (2 * b)) & 1L) << b
        ry |= ((m >> (2 * b + 1)) & 1L) << b
      }
      assert(rx == x && ry == y, s"roundtrip failed for ($x,$y)")
    }
    assert(ZCells.interleave(1023, 0) < ZCells.interleave(0, 1024))
  }

  test("cover is complete and tight: brute-force over all cells at res 5") {
    val res = 5
    val n = 1 << res
    // synthetic bboxes scattered over the domain, incl. edge-clamped ones
    for (t <- 0 until 30) {
      def c(seed: String, span: Long, off: Long): Int =
        (PortableHash.h60(s"$seed:$t") % span - off).toInt
      val lon0 = c("za", 3600000001L, 1800000000L); val lon1 = c("zb", 3600000001L, 1800000000L)
      val lat0 = c("zc", 1800000001L, 900000000L); val lat1 = c("zd", 1800000001L, 900000000L)
      val (mnLon, mxLon) = (math.min(lon0, lon1), math.max(lon0, lon1))
      val (mnLat, mxLat) = (math.min(lat0, lat1), math.max(lat0, lat1))
      val ranges = ZCells.cover(mnLon, mnLat, mxLon, mxLat, res, maxRanges = 1000)
      assert(ranges.sliding(2).forall(p => p.length < 2 || p(0)._2 < p(1)._1 - 0),
        "ranges must be sorted and disjoint")
      val x0 = ZCells.cellX(mnLon, res); val x1 = ZCells.cellX(mxLon, res)
      val y0 = ZCells.cellY(mnLat, res); val y1 = ZCells.cellY(mxLat, res)
      val inRanges: Long => Boolean = m => ranges.exists(r => m >= r._1 && m <= r._2)
      var covered = 0L
      for (cx <- 0 until n; cy <- 0 until n) {
        val m = ZCells.interleave(cx, cy)
        val intersects = cx >= x0 && cx <= x1 && cy >= y0 && cy <= y1
        if (intersects) assert(inRanges(m), s"bbox $t: cell ($cx,$cy) missing from cover")
        if (inRanges(m)) covered += 1
      }
      val bboxCells = (x1 - x0 + 1).toLong * (y1 - y0 + 1)
      assert(covered == bboxCells,
        s"bbox $t: uncoarsened cover must be exact ($covered vs $bboxCells)")
    }
  }

  test("coarsening to maxRanges only widens, never drops") {
    val res = 8
    val full = ZCells.cover(-400000000, -100000000, 350000000, 320000000, res, maxRanges = 10000)
    val coarse = ZCells.cover(-400000000, -100000000, 350000000, 320000000, res, maxRanges = 8)
    assert(coarse.length <= 8 && full.length > coarse.length)
    for (r <- full)
      assert(coarse.exists(c => c._1 <= r._1 && r._2 <= c._2),
        s"range $r lost by coarsening")
    // and it still prunes: the coarse cover must not balloon to the domain
    val domain = (1L << (2 * res))
    val coveredCoarse = coarse.map(c => c._2 - c._1 + 1).sum
    assert(coveredCoarse < domain / 2, s"coarse cover covers $coveredCoarse of $domain")
  }

  test("cover prunes: covered fraction tracks bbox area fraction") {
    val res = 10
    val ranges = ZCells.cover(-400000000, -100000000, 350000000, 320000000, res)
    val covered = ranges.map(r => r._2 - r._1 + 1).sum.toDouble
    val domain = math.pow(4.0, res)
    val area = (350000000.0 - -400000000.0) * (320000000.0 - -100000000.0) /
      ((Geo.MaxLon.toDouble - Geo.MinLon) * (Geo.MaxLat.toDouble - Geo.MinLat))
    assert(covered / domain < area * 1.5 + 0.01,
      s"cover fraction ${covered / domain} vs bbox area fraction $area")
  }

  test("z-sorted parquet: the range scan arrives as pushed-down filters") {
    import spark.implicits._
    val res = 8
    val rows = (0 until 2000).map { i =>
      val lon = (PortableHash.h60(s"zp:$i") % 2400000001L - 1200000000L).toInt
      val lat = (PortableHash.h60(s"zq:$i") % 1200000001L - 600000000L).toInt
      (s"img$i", lon, lat)
    }
    val dir = java.nio.file.Files.createTempDirectory("zsorted").toString
    rows.toDF("image_id", "lon", "lat")
      .withColumn("mz", graft.plans.CellId.morton(col("lon"), col("lat"), res))
      .sort("mz") // the layout step: spatially-near rows co-locate
      .write.mode("overwrite").parquet(dir)
    val ranges = ZCells.cover(-400000000, -100000000, 350000000, 320000000, res)
    val back = spark.read.parquet(dir)
      .where(ranges.map { case (lo, hi) => col("mz").between(lo, hi) }.reduce(_ || _))
    // the plan string truncates long filter lists, so probe the scan node's
    // pushed filters directly rather than the rendered text
    val scans = back.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a parquet FileSourceScanExec")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("Or(") && pushed.startsWith("[") && pushed != "[]",
      s"morton ranges must reach the parquet scan, got: $pushed")
    // exactness end-to-end: candidates + residual == brute bbox filter
    val got = back
      .where(col("lon").between(-400000000, 350000000) && col("lat").between(-100000000, 320000000))
      .select("image_id").collect().map(_.getString(0)).toSet
    val want = rows.filter(r => r._2 >= -400000000 && r._2 <= 350000000 &&
      r._3 >= -100000000 && r._3 <= 320000000).map(_._1).toSet
    assert(want.nonEmpty && got == want)
  }
}
