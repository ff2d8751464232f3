package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.util.{Failure, Success, Try}

/** Headline benchmark (driver-run per round -> BENCH_r{N}.json): one JSON
  * line with per-query seconds plus rows/sec throughput for the flagship
  * tile-assignment + spatial-join path on a multiplied image table.
  *
  * Robust to co-load on the shared host (the round-2 driver artifact
  * recorded 170 s for an engine that measures 26 s idle):
  *   - each query is timed over SPARK_GRAFT_REPS (default 3) repetitions
  *     interleaved round-robin across queries, and the per-query MINIMUM is
  *     reported (a transient contention spike inflates one rep, not all);
  *   - /proc/stat steal+busy ticks are sampled before/after and embedded in
  *     the JSON so a contended run is identifiable from the artifact alone;
  *   - a failing repetition is caught and recorded; the JSON line is always
  *     emitted as long as at least the input materializes.
  *
  * The multiplied input table is persisted and materialized once before any
  * timing (it stands in for the pre-existing Iceberg-style image+caption
  * table of the north rule; re-deriving its md5-chain synthetic columns
  * inside every timed query would benchmark the fixture generator, not the
  * operators).
  */
object Bench {

  def session(cpus: String): SparkSession = {
    val s = core.Engine.session(s"local[$cpus]")
    // SPARK_GRAFT_SHUFFLE pins the shuffle width independently of core
    // count: the two-cluster-size scaling runs use the SAME partition count
    // at local[8] and local[32] so the shuffle structure is identical and
    // only the executor parallelism varies (smaller tasks also balance
    // better under bursty hypervisor steal)
    sys.env.get("SPARK_GRAFT_SHUFFLE").foreach(s.conf.set(core.Engine.ShufflePartitions, _))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (steal, busy-total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) = Try {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.getOrElse((0L, 0L))

  /** The headline kNN frame. Density-adaptive grid: candidates per 3x3
    * block stay O(k) at any mult instead of growing linearly with density. */
  def knnFrame(img: DataFrame, nRows: Long): DataFrame = {
    val pts = img.select(
      xxhash64(col("image_id")).as("id"), col("lon"), col("lat"))
    val qs = pts.filter(pmod(col("id"), lit(200)) === 0)
    operators.Knn(pts, qs, k = 3, cellSize = operators.Knn.adaptiveCellSize(nRows, 3))
  }

  /** Headline entries as LAZY thunks: constructing some frames runs real
    * distributed jobs (Knn pins its pass-1 aggregate with a localCheckpoint
    * that AQE materializes at construction; the ANN entries run a count()
    * for the scale-derived bucket width), so a consumer that filters
    * entries — ScalingBench keeps only 3 of 9, twice per round — must be
    * able to select BEFORE any construction cost is paid. */
  def headline(s: SparkSession, sfDir: String, img: DataFrame, nRows: Long): Seq[(String, () => DataFrame)] = {
    Seq(
      "tile_assign" -> (() => img
        .select(operators.GeoQueries.tileCol.as("tile"))
        .groupBy("tile").agg(count(lit(1)).as("n"))),
      "pip_join" -> (() => img
        .select(operators.Pip.mask(col("lon"), col("lat"), operators.Pip.fixtureSet).as("m"))
        .groupBy("m").agg(count(lit(1)).as("n"))),
      "skew_agg" -> { () =>
        val sk = sources.ImageTable.skewed(img)
          .select(operators.GeoQueries.tileCol.as("tile"), col("phash"),
            pmod(xxhash64(col("image_id")), lit(16)).as("salt"))
        sk.groupBy("tile", "salt").agg(count(lit(1)).as("pc"), sum(col("phash") % 1000000).as("ps"))
          .groupBy("tile").agg(sum("pc").as("cnt"), sum("ps").as("s"))
      },
      "knn" -> (() => knnFrame(img, nRows)),
      "minhash_lsh" -> (() => operators.DocQueries.defs.find(_.name == "d_minhash_lsh").get
        .fn(s, sfDir).limit(1000000)),
      // the bucket+multiprobe ANN join (the scale path) replaces the
      // round-1 brute-force topk_mips headline entry
      "ann_topk" -> (() => operators.EmbedQueries.defs.find(_.name == "e_ann_topk").get
        .fn(s, sfDir)),
      "cosine_dup" -> (() => operators.EmbedQueries.defs.find(_.name == "e_cosine_dup").get
        .fn(s, sfDir)),
      // the ANN bucket join at 100x the base vector count (bench-only; the
      // operator is oracle-gated at base scale by e_ann_topk)
      "ann_scale" -> (() => operators.EmbedQueries.annTopkScaled(s, sfDir, 100)),
      "join_pricing" -> (() => operators.RelationalQueries.defs.find(_.name == "q_join_pricing").get
        .fn(s, sfDir))
    )
  }

  /** steady-state seconds: one warm-up execution, then the timed one
    * (used by ScalingBench; main() below uses its own interleaved-repetition
    * scheme). */
  def timeIt(df: DataFrame): Double = {
    df.write.format("noop").mode("overwrite").save()
    runOnce(df)
  }

  private def runOnce(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // x200 = 1M rows at sf0.1: small-input fixed overhead dominated the
    // round-1 artifact at x20 (19k rows/s reported vs 471k steady-state)
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "200").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val spark = session(cpus)

    val (steal0, busy0) = cpuTicks()
    val wall0 = System.nanoTime()

    val preParts = spark.sparkContext.defaultParallelism * 2
    val img = sources.ImageTable.df(spark, sfDir, mult, preParts = preParts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nRows = img.count() // materializes the cached input before timing

    // dev bisection aid: SPARK_GRAFT_ONLY=name,name limits the run to a
    // subset of entries (isolates which co-resident queries inflate another
    // entry's in-session time); headline `total` is meaningless under it.
    // Applied BEFORE construction: building an entry's frame can itself run
    // jobs (knn checkpoint, ANN count), which would pollute a bisection.
    val keep: String => Boolean = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(list) => list.split(",").map(_.trim).toSet
      case None => _ => true
    }
    val qs = headline(spark, sfDir, img, nRows).filter(q => keep(q._1))
    val names = qs.map(_._1)

    // EXTRA entries (not in `total`, so the headline stays comparable
    // across rounds): the join-free as-of join and the bucketed range join
    // on a 10x-user events table (1M events), and near-dup connected
    // components over the sf0.1 pair graph. Construction + execution are
    // timed together: iterative operators (the CC label propagation) run
    // their convergence loop while the frame is being built, so timing only
    // the final write would miss the real work.
    val extra: Seq[(String, () => DataFrame)] = {
      def events10x = {
        // (not pre-spread: the 10x explode is cheap and the extra exchange
        // measured 0.2 s slower on asof_1m)
        val ev = spark.read.parquet(s"$sfDir/events.parquet")
          .withColumn("rep", explode(sequence(lit(0), lit(9))))
          .withColumn("user_id", col("user_id") + col("rep") * 1000000L)
          .withColumn("event_id", col("event_id") + col("rep") * 1000000000L)
          .drop("rep")
        ev
      }
      Seq(
        "asof_1m" -> (() => operators.RelationalQueries.asofJoin(events10x)),
        "range_join_1m" -> (() => operators.RelationalQueries.rangeJoin(events10x)),
        "dup_groups" -> (() => operators.DocQueries.defs.find(_.name == "d_dup_groups").get
          .fn(spark, sfDir)),
        // radius distance self-join over the full 1M-point table; r scaled
        // down to 0.1 deg so the output (~expected-pairs ∝ n^2 r^2) stays
        // bounded at bench density — the grid join cost is the candidate
        // generation, which this exercises at 9M probe rows
        "dist_join_1m" -> (() => operators.GeoQueries.distJoin(img, 1000000L)),
        // many-polygon PIP join at 1M points x 96 polygons (the DataFrame
        // polygon path, no bitmap cap): raw containment pairs, no agg
        "pip_join_96" -> (() => operators.Pip.pipJoin(
          img.select(col("image_id"), col("lon"), col("lat")),
          operators.Pip.polyDf(spark, operators.Pip.manyPolygons),
          operators.Pip.ManyCellSide)),
        // the polygon-COUNT scale dimension: 1M points x 10k small rings
        // through the hierarchical grid (counted, not materialized — the
        // raw pair set is ~40% of points x overlap multiplicity)
        "pip_join_10k" -> (() => operators.Pip.pipJoin(
          img.select(col("image_id"), col("lon"), col("lat")),
          operators.Pip.polyDf(spark, operators.Pip.benchPolygons),
          operators.Pip.BenchCellSide)
          .groupBy("pid").agg(count(lit(1)).as("n"))),
        // multi-zoom tile pyramid over the full image frame (two-exchange
        // rollup: base agg + ancestor explode)
        "tile_pyramid_1m" -> (() => operators.GeoQueries.tilePyramid(img)),
        // exact substring-span dedup at 100k docs (20x-replicated corpus,
        // ~9M gram rows through hash agg + semi-join + islands windows;
        // replicas make every gram cross-doc duplicated — the worst case)
        // iterative Lloyd k-means at 200k vectors, k=64 (2 iterations +
        // final assignment; per-cluster summary out)
        "kmeans_200k" -> (() => operators.EmbedQueries.kmeansScaled(spark, sfDir, 100)),
        // (repartition before the 20x explode: documents.parquet is one
        // input split, and the gram explode must not run in one task)
        "span_dup_100k" -> (() => operators.DocQueries.spanDup(
          spark.read.parquet(s"$sfDir/documents.parquet").repartition(64)
            .withColumn("rep", explode(sequence(lit(0), lit(19))))
            .withColumn("doc_id", col("doc_id") + col("rep") * 1000000L)
            .select("doc_id", "text"))))
        .filter(e => keep(e._1))
    }
    val extraNames = extra.map(_._1)

    // one flat task list — headline entries run a pre-built frame, extras
    // rebuild + run; all of them share the SAME interleaved repetition loop
    // so a single steal burst can poison at most one rep of any entry (the
    // round-4 extras used warm+min-of-2 in their own block, and one burst
    // there produced a 2.92 s range_join artifact vs the true 0.60 s)
    val tasks0: Seq[(String, () => Double)] =
      qs.map {
        case ("knn", _) =>
          // rebuilt per repetition: Knn pins its per-query aggregate with a
          // lazy localCheckpoint (pass 1 executes once per action instead
          // of twice), so re-running a pre-built frame would time checkpoint
          // READS, not the operator. Construction + planning + execution
          // run inside the timer; the pinned RDD is freed after each rep.
          "knn" -> { () =>
            val t0 = System.nanoTime()
            val fresh = knnFrame(img, nRows)
            fresh.write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            core.Caching.freeLocalCheckpoints(fresh)
            sec
          }
        case (n, mk) =>
          val df = mk() // built once, re-executed per rep (headline scheme)
          n -> (() => runOnce(df))
      } ++
        extra.map { case (n, mk) =>
          n -> { () =>
            val t0 = System.nanoTime()
            val df = mk()
            df.write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            // release any localCheckpoint the operator pinned (dup_groups'
            // CC labels) — rebuilt next rep anyway
            core.Caching.freeLocalCheckpoints(df)
            sec
          }
        }
    val tasks = tasks0

    val times = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map[String, String]()

    // warm-up pass (JIT + codegen + first-shuffle init), untimed
    tasks.foreach { case (name, run) =>
      Try(run()) match {
        case Failure(e) => errors(name) = e.toString.take(200)
        case Success(_) =>
      }
    }
    // timed: reps interleaved round-robin so a contention burst cannot hit
    // every repetition of the same query. Per-ROUND steal is sampled so a
    // contended round is attributable from the artifact alone, and a GC
    // nudge between rounds (untimed) lets ContextCleaner reclaim the dead
    // broadcasts/shuffle state earlier rounds left behind — in one shared
    // local-mode JVM that heap aging otherwise inflates later rounds.
    val roundSteal = Seq.newBuilder[Double]
    for (_ <- 1 to reps) {
      val (rs0, rb0) = cpuTicks()
      for ((name, run) <- tasks) {
        // dev diagnosis aid: force a full GC + cleaner-drain pause before
        // EVERY timed task (not just between rounds) to attribute cross-
        // entry inflation to ContextCleaner lag vs genuine operator cost
        if (sys.env.contains("SPARK_GRAFT_GC_EACH")) { System.gc(); Thread.sleep(500) }
        val cgDiag = sys.env.contains("SPARK_GRAFT_CODEGEN_STATS")
        val cg0 =
          if (cgDiag)
            org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          else 0L
        Try(run()) match {
          case Success(sec) => times(name) = sec :: times(name)
          case Failure(e)   => errors(name) = e.toString.take(200)
        }
        if (cgDiag) {
          // per-entry compile count is the thrash signal; the global mean
          // compile time bounds what those compiles cost this task
          val m = org.apache.spark.metrics.source.CodegenMetrics
          val n = m.METRIC_COMPILATION_TIME.getCount - cg0
          val meanMs = m.METRIC_COMPILATION_TIME.getSnapshot.getMean
          println(f"[codegen] $name%-14s compiles=$n%3d ~${n * meanMs}%.0fms (sessionMeanMs=$meanMs%.1f)")
        }
      }
      val (rs1, rb1) = cpuTicks()
      roundSteal += (if (rb1 > rb0) 100.0 * (rs1 - rs0) / (rb1 - rb0) else -1.0)
      System.gc()
    }

    val mins = names.map(n => n -> (if (times(n).nonEmpty) times(n).min else -1.0))
    val extraTimes = extraNames.map(n => n -> (if (times(n).nonEmpty) times(n).min else -1.0))
    val (steal1, busy1) = cpuTicks()
    val stealPct =
      if (busy1 > busy0) 100.0 * (steal1 - steal0) / (busy1 - busy0) else -1.0
    val wallSec = (System.nanoTime() - wall0) / 1e9

    // diagnostic (untimed): pass-1 certification rate of the headline kNN —
    // the brute tail must stay a small fraction of queries
    val knnCert = Try {
      val pts = img.select(xxhash64(col("image_id")).as("id"), col("lon"), col("lat"))
      val q = pts.filter(pmod(col("id"), lit(200)) === 0)
      operators.Knn.certStats(pts, q, 3, operators.Knn.adaptiveCellSize(nRows, 3))
    }.getOrElse((-1L, -1L))

    // under SPARK_GRAFT_ONLY the headline list can be empty (extras-only run)
    val tileSec = mins.headOption.map(_._2).getOrElse(-1.0)
    val qJson = mins.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val repJson = (names ++ extraNames).map { n =>
      s""""$n":[${times(n).reverse.map(t => f"$t%.3f").mkString(",")}]"""
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      s""""$k":"${v.replace("\\", "\\\\").replace("\"", "'")}"""" }.mkString("{", ",", "}")
    val total = mins.map(_._2).filter(_ >= 0).sum
    val tput = if (tileSec > 0) (nRows / tileSec).toLong else -1L
    val extraJson = extraTimes.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qJson,"sf":"$sfDir","image_rows":$nRows,"tile_assign_rows_per_sec":$tput,"cpus":$cpus,"mult":$mult,"reps":$reps,"rep_times":$repJson,"errors":$errJson,"extra":$extraJson,"steal_pct":${f"$stealPct%.2f"},"round_steal_pct":${roundSteal.result().map(v => f"$v%.2f").mkString("[", ",", "]")},"wall_sec":${f"$wallSec%.1f"},"knn_certified":${knnCert._1},"knn_queries":${knnCert._2}}""")
    spark.stop()
  }
}
