package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lineage.TileLineage
import graft.sources.ImageTable
import graft.operators.GeoQueries

class LineageSpec extends AnyFunSuite with SparkSuite {

  def tiled = ImageTable.df(spark, "/root/testdata/sf0.001")
    .select(col("image_id"), col("lon"), col("lat"), GeoQueries.tileCol.as("tile"))

  test("killed-job resume: partial manifest -> only missing tiles written; digests audit clean") {
    val root = java.nio.file.Files.createTempDirectory("lineage").toString
    val df = tiled
    val allTiles = df.select("tile").distinct().as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    assert(allTiles.length > 5)

    // run 1: "crash" after half the tiles
    val half = allTiles.take(allTiles.length / 2).toSet
    val firstRun = TileLineage.writeTiled(df.filter(col("tile").isin(half.toSeq: _*)), root)
    assert(firstRun.written.map(_.tile).toSet == half)
    assert(firstRun.skipped.isEmpty)

    // run 2: full input -> resumes, writing only the missing tiles
    val secondRun = TileLineage.writeTiled(df, root)
    assert(secondRun.skipped.toSet == half)
    assert(secondRun.written.map(_.tile).toSet == allTiles.toSet -- half)

    // run 3: fully idempotent no-op
    val thirdRun = TileLineage.writeTiled(df, root)
    assert(thirdRun.written.isEmpty)
    assert(thirdRun.skipped.toSet == allTiles.toSet)

    // the on-disk data equals the input exactly (row-for-row, any order)
    val back = spark.read.parquet(root + "/data")
    assert(back.count() == df.count())
    assert(back.select("image_id").exceptAll(df.select("image_id")).count() == 0)

    // manifest digests match recomputation from disk
    val audit = TileLineage.audit(spark, root)
    assert(audit.nonEmpty && audit.forall(_._2), s"audit failed: ${audit.filterNot(_._2)}")
  }

  test("incremental commit: a crash mid-batch keeps committed tile-groups; resume skips them") {
    val root = java.nio.file.Files.createTempDirectory("lineage_inc").toString
    val df = tiled
    val allTiles = df.select("tile").distinct().as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    assert(allTiles.length > 8, s"need several groups, got ${allTiles.length} tiles")

    // crash injected after 2 groups have committed; groups are now VALUE
    // groups (grp = tile div groupSize — a pure function of the tile so a
    // rewrite always replaces the same directory), so the expected commit
    // set is the tiles of the 2 smallest grp values, not the 6 smallest
    // tiles
    val expectCommitted = allTiles.groupBy(_ / 3).toSeq.sortBy(_._1)
      .take(2).flatMap(_._2).sorted
    val boom = intercept[IllegalStateException] {
      TileLineage.writeTiled(df, root, groupSize = 3, failAfterGroups = 2)
    }
    assert(boom.getMessage.contains("injected crash"))

    // exactly the first two value-groups are manifested — the commit point
    // moved from batch-end to group-end
    val committed = TileLineage.readManifest(root).map(_.tile).sorted
    assert(committed == expectCommitted.toSeq, s"committed: $committed")

    // resume: the committed groups are SKIPPED, everything else written
    val resume = TileLineage.writeTiled(df, root, groupSize = 3)
    assert(resume.skipped.toSet == expectCommitted.toSet)
    assert(resume.written.map(_.tile).toSet == (allTiles.toSet -- expectCommitted))

    // end state is complete and audit-clean
    val back = spark.read.parquet(root + "/data")
    assert(back.count() == df.count())
    val audit = TileLineage.audit(spark, root)
    assert(audit.size == allTiles.length && audit.forall(_._2),
      s"audit failed: ${audit.filterNot(_._2)}")
  }

  test("single-pass write: the upstream frame is scanned exactly once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("lineage_1pass").toString
    // partition-scan counter riding the upstream: add(1) per partition per
    // execution — writeTiled must trigger exactly ONE full execution (the
    // round-4 incremental commit re-filtered the persisted frame once per
    // tile-group; the single (grp, tile)-partitioned write pays one pass
    // and the per-group stats reads touch only the freshly-written files)
    val acc = spark.sparkContext.longAccumulator("upstream_scans")
    val counted = tiled.as[(String, Int, Int, Long)]
      .mapPartitions { it => acc.add(1); it }
      .toDF("image_id", "lon", "lat", "tile")
    TileLineage.writeTiled(counted, root, groupSize = 3)
    val duringWrite = acc.value
    acc.reset()
    counted.write.mode("overwrite").parquet(root + "/onescan")
    val oneScan = acc.value
    assert(oneScan > 0)
    assert(duringWrite == oneScan,
      s"writeTiled executed the upstream ${duringWrite.toDouble / oneScan}x (partitions counted: $duringWrite vs $oneScan for one scan)")
  }
}
