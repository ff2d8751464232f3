package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.PortableHash
import graft.operators.{HexCells, KnnHex}

/** Soundness of the shuffle-native hex-ring kNN: on a DENSE deterministic
  * cloud (several points per cell, so pass-1/pass-2 certification genuinely
  * fires instead of everything falling through to brute force) the operator
  * must equal brute force exactly — certification may only ever accept a
  * provably-complete top-k. Also pins the exact ring-distance geometry the
  * certification bound is built on.
  */
class KnnHexSpec extends AnyFunSuite with SparkSuite {

  test("minRingDist: exact min distance to ring-h cells (valley vertices, not inradius)") {
    val r0 = HexCells.radius(3)
    def d(h: Int) = HexCells.minRingDist(3, h) / r0
    assert(math.abs(d(1) - math.sqrt(3) / 2) < 1e-9) // adjacent cell shares an edge
    assert(math.abs(d(2) - 2.0) < 1e-9) // valley vertex — inradius formula would say 2.598
    assert(math.abs(d(3) - math.sqrt(13)) < 1e-9)
    assert(math.abs(d(4) - 5.0) < 1e-9)
    // monotone: farther rings never undercut the bound
    assert((1 to 8).map(d).sliding(2).forall(p => p(0) < p(1)))
  }

  test("hex-ring kNN equals brute force on a dense cloud (certification soundness)") {
    import spark.implicits._
    val n = 3000
    // deterministic cloud confined to a 4e8 x 4e8 region: ~3 points per
    // res-4 cell, so certification fires at pass 1/2 for most queries
    val pts = (0 until n).map { i =>
      (i.toLong,
        (PortableHash.h60(s"kx:$i") % 400000000L - 200000000L).toInt,
        (PortableHash.h60(s"ky:$i") % 400000000L - 200000000L).toInt)
    }.toDF("id", "lon", "lat")
    val qs = pts.filter($"id" % 37 === 0)

    val got = KnnHex(pts, qs, k = 5, res = 4)
      .orderBy("qid", "rk").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val dist = ($"qlon".cast("double") - $"plon") * ($"qlon".cast("double") - $"plon") +
      ($"qlat".cast("double") - $"plat") * ($"qlat".cast("double") - $"plat")
    val w = Window.partitionBy($"qid").orderBy($"d", $"pid")
    val brute = qs.select($"id".as("qid"), $"lon".as("qlon"), $"lat".as("qlat"))
      .join(pts.select($"id".as("pid"), $"lon".as("plon"), $"lat".as("plat")), $"qid" =!= $"pid")
      .withColumn("d", dist)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"qid", $"rk".cast("long").as("rk"), $"pid")
      .orderBy("qid", "rk").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    assert(got.length == brute.length && got.length == qs.count() * 5)
    assert(got.sameElements(brute))
  }
}
