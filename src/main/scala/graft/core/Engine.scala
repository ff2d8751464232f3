package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every entry point (Bench, Verify,
  * OmaCli, the test suites) gets its session here, so the engine settings
  * that were measured are the ones every deployment runs with. The settings
  * are derived from the master URL alone ([[conf]] is pure, so the
  * derivation is unit-testable without starting Spark).
  */
object Engine {

  val ShuffleCompress = "spark.shuffle.compress"
  val BypassMergeThreshold = "spark.shuffle.sort.bypassMergeThreshold"
  val ShufflePartitions = "spark.sql.shuffle.partitions"
  val CodegenCacheEntries = "spark.sql.codegen.cache.maxEntries"

  private val Local = """local(?:\[(\*|\d+)(?:,\s*\d+)?\])?""".r

  /** Core count of a `local`, `local[N]`, `local[*]` or `local[N,F]`
    * master; None for a cluster master, whose size the URL does not say. */
  private def localCores(master: String): Option[Int] = master match {
    case Local(null) => Some(1)
    case Local("*") => Some(Runtime.getRuntime.availableProcessors)
    case Local(n) => Some(n.toInt)
    case _ => None
  }

  /** Engine settings for `master`. */
  def conf(master: String): Seq[(String, String)] = {
    val cores = localCores(master)
    Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // STATIC conf (first session in the JVM wins): the default generated-
      // class cache is a 100-entry LRU; the bench interleaves ~12 query
      // families (~150 distinct codegen units) and Verify runs ~80, so at
      // the default size every round recompiles ~21 classes per entry
      // (measured via SPARK_GRAFT_CODEGEN_STATS) — pure janino time that a
      // single-family production job never pays.
      CodegenCacheEntries -> "2000",
      "spark.sql.adaptive.enabled" -> "true",
      // Sort shuffle writer everywhere: the bypass-merge writer opens one
      // file per reduce partition per map task, and at local shuffle widths
      // filesystem latency dominated every small shuffle (A/B: a 1M-row
      // groupBy 0.38 s -> 0.17 s). Clusters with wide shuffles (> 200
      // reduce partitions) never used the bypass writer, so this only
      // changes the small-shuffle regime.
      BypassMergeThreshold -> "1",
    ) ++ cores.toSeq.flatMap(n => Seq(
      ShufflePartitions -> n.toString,
      // local master: shuffle blocks never cross a NIC (loopback + local
      // disk), so lz4 framing is pure CPU overhead (A/B: minhash_lsh
      // 1.32 -> 0.84 s, span_dup 1.56 -> 1.37 s, others flat). A cluster
      // master keeps Spark's default (compressed), where the trade of CPU
      // for network bytes pays — see OPTIMIZATION_r06.md.
      ShuffleCompress -> "false"))
  }

  /** The session for `master` with [[conf]] applied. In a JVM that already
    * has a session this returns it, re-applying the runtime SQL settings. */
  def session(master: String): SparkSession =
    conf(master).foldLeft(SparkSession.builder().master(master).appName("omaspark")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  /** One line naming the settings `spark` actually runs with, unset core
    * keys shown at Spark's defaults. */
  def describe(spark: SparkSession): String = {
    val sc = spark.sparkContext.getConf
    Seq(
      "spark.master" -> spark.sparkContext.master,
      ShuffleCompress -> sc.get(ShuffleCompress, "true"),
      BypassMergeThreshold -> sc.get(BypassMergeThreshold, "200"),
      ShufflePartitions -> spark.conf.get(ShufflePartitions),
      CodegenCacheEntries -> spark.conf.get(CodegenCacheEntries),
    ).map { case (k, v) => s"$k=$v" }.mkString("engine: ", " ", "")
  }
}
