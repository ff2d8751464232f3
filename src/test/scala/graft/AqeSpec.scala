package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Runtime evidence for the AQE behaviors the engine relies on at scale
  * (adaptive plans only materialize after execution, so PlanSpec's static
  * explain cannot show them): shuffle-partition coalescing on small
  * post-shuffle data, and skew-join splitting of a hot-key partition.
  *
  * The session is SHARED with other suites in the JVM, so every scaled-down
  * threshold is set through `withConf` — saved and restored around each
  * test — so shuffle.partitions=200 etc. never leak into whichever suite
  * runs next.
  */
class AqeSpec extends AnyFunSuite with SparkSuite {

  val dir = "/root/testdata/sf0.001"

  test("AQE coalesces the 200 configured shuffle partitions on small data") {
    withConf(
      "spark.sql.shuffle.partitions" -> "200",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // threshold scaled down so the sf0.001-sized fixture exhibits the
      // same runtime decision a 100 TB job sees at production defaults
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB") {
      val df = sources.ImageTable.df(spark, dir)
        .groupBy("lang").agg(count(lit(1)).as("n"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead"), plan)
      assert(plan.contains("coalesced"), plan)
      // the tiny aggregate must not execute with 200 post-shuffle tasks
      val parts = df.rdd.getNumPartitions
      assert(parts < 20, s"expected coalesced partitions, got $parts")
    }
  }

  test("AQE splits the hot-key partition in a skewed join") {
    withConf(
      "spark.sql.shuffle.partitions" -> "200",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // the split target width — without it the 15 MB hot partition is
      // below the 64 MB default advisory size and AQE "splits" into 1 piece
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      // one metro tile holds ~97% of rows — the dense-metro shape the
      // salted aggregation handles on the agg side; on the join side AQE
      // must split the hot partition instead
      val facts = spark.range(300000)
        .select((when(col("id") % 30 === 0, col("id") % 40).otherwise(lit(7L))).as("tile"),
          col("id").as("v"), md5(col("id").cast("string")).as("pad"))
      val dims = spark.range(40).select(col("id").as("tile"), (col("id") * 10).as("w"))
      // NOTE: aggregating BY the join key would reuse the join's hash
      // partitioning, and AQE refuses to split skew when the split would
      // force an extra downstream shuffle — so reduce to a global sum
      val joined = facts.join(dims, Seq("tile")).agg(sum(col("v") + col("w")).as("sv"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan)
    }
  }
}
