package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.core.{Bbs, Caching}
import graft.oma._
import graft.operators.{DocQueries, EmbedQueries, GeoQueries, Pip}
import graft.sources.ImageTable

/** The measured process. It receives only generated input files:
  *
  *   perfbench.Main --workload convert|geo|dedup --seconds S --trace 0|1
  *                  --input DIR --mult M --expected FINGERPRINTS.tsv
  *                  --out RESULT.json [--corrupt OP]
  *
  * Spark runs on local[4], driven by this one thread as a closed loop with a
  * single client: each op is a batch job, timed from the call until its result
  * is complete, and the next starts when it returns. Set-up comes first: the
  * session, the input load, repeated three times with the median counted, and
  * one untimed warm-up pass that pays the first-use costs (planning, code
  * generation, JIT). Then whole rounds of the ops run, started until S seconds
  * have passed and the workload's minimum is reached. `--mult` is the
  * replication of the scaled ops: the image table's rows per document (geo),
  * or the vectors per embedding of `kmeans_200k` and `ann_scale` and, over
  * five, the copies per document of `span_dup_100k` (dedup).
  *
  * Every op's output is checked against its FINGERPRINTS.tsv line (op, tab,
  * fingerprint) when there is one, else against the warm-up pass, and
  * `--corrupt OP` falsifies one expected fingerprint to test that check. The
  * last stdout line holds the checks' counts and the measured values;
  * RESULT.json gets the details.
  */
object Main {

  final case class Result(seconds: Double, fp: String, problem: Option[String] = None)

  /** An op and how many times a round runs it. */
  final case class Op(name: String, run: () => Result, perRound: Int = 1)

  final case class Args(workload: String, seconds: Int, trace: Boolean, dir: String, mult: Int,
                        expected: Map[String, String], out: Path, corrupt: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val expected = Files.readAllLines(Paths.get(m("expected"))).toArray.map(_.toString.split("\t"))
      .collect { case Array(op, fp) => op -> fp }.toMap
    Args(m("workload"), m("seconds").toInt, m("trace") == "1", m("input"), m("mult").toInt,
      expected, Paths.get(m("out")), m.get("corrupt"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    val spark = graft.Bench.session("4")
    try new Run(spark, a, jvmStart).apply()
    finally spark.stop()
  }

  /** Order-independent fingerprint of a frame's rows, computed inside the same
    * job that writes it: row count and the wrapped sums of the two halves of
    * each row's xxhash64. Floating-point values enter with 7 significant
    * digits, so summation order cannot change the fingerprint. */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.6e", c.cast(DoubleType))
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.6e", x.cast(DoubleType)))
        case _ => c
      }
    }
    val h = xxhash64(cols: _*)
    val obs = Observation(name)
    (df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi")), obs)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
}

/** One run of one workload. */
final class Run(spark: SparkSession, a: Main.Args, jvmStart: Long) {
  import Main._

  private val sc = spark.sparkContext
  private val dir = a.dir
  private val tr = new Trace(spark)
  private val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var fpSeq = 0
  /** True in a traced timed round only: the warm-up pass runs the traced
    * code paths too, to warm them, but its cold reps are not recorded. */
  private var tracedRound = false

  private def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Per-query layer metrics from the spans of one traced rep. */
  private def recordQuery(q: String, rows: Long): Unit = {
    tr.settle()
    for (root <- tr.last(q); c <- tr.last(s"$q.construct"); e <- tr.last(s"$q.execute")) {
      val all = tr.sumsUnder(root)
      record(s"$q.construct_s", c.seconds)
      record(s"$q.execute_s", e.seconds)
      record(s"$q.jobs", tr.sumsUnder(c).jobs.toDouble)
      record(s"$q.core_util", tr.coreUtil(root))
      record(s"$q.shuffle_write_bytes", all.shuffleWrite.toDouble)
      record(s"$q.spill_bytes", all.spill.toDouble)
      tr.lastPlan().foreach { p =>
        record(s"$q.examined_per_result", p.examined.toDouble / math.max(1L, rows))
        planTimes.getOrElseUpdate(q, mutable.ArrayBuffer()) += p.timeByNode
      }
    }
  }

  private val planTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Map[String, Double]]]()

  /** A query op: build the frame (which may run driver-side jobs), then write
    * it to the noop sink with its fingerprint observed in the same job. */
  private def query(q: String)(build: => DataFrame): Op = Op(q, { () =>
    fpSeq += 1
    val cg0 = Trace.codegenCount()
    val t0 = System.nanoTime()
    val (df, obs) = tr.span(q) {
      val df = tr.span(s"$q.construct")(build)
      val (odf, obs) = observed(df, s"fp$fpSeq")
      tr.span(s"$q.execute")(odf.write.format("noop").mode("overwrite").save())
      (df, obs)
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val m = obs.get
    val rows = m("n").asInstanceOf[Long]
    val fp = f"$rows:${m("lo").asInstanceOf[Long]}%x:${m("hi").asInstanceOf[Long]}%x"
    Caching.freeLocalCheckpoints(df)
    if (tracedRound) {
      recordQuery(q, rows)
      record(s"$q.codegen_ms", (Trace.codegenCount() - cg0) * Trace.codegenMeanMs())
    }
    Result(seconds, fp, if (rows == 0) Some("empty result") else None)
  })

  // ---- workloads -----------------------------------------------------------

  private trait Workload {
    /** Reads and caches the input; set-up repeats it and keeps the last. */
    def load(): Unit
    def ops: Seq[Op]
    /** Timed rounds at least. Rounds interleave the ops, so a short slowdown
      * of the host lands in one sample of an op, not in all of them. */
    def minRounds: Int = 1
  }

  /** OSM -> OMA conversion of the generated .o5m with the CLI's built-ins
    * (`-p all`, zip), then a full read-back of the file grouped by chunk type. */
  private final class Convert extends Workload {
    private def o5m = s"$dir/planet.o5m"
    private val out = a.out.resolveSibling("out.oma").toString
    def load(): Unit = Files.readAllBytes(Paths.get(o5m))

    private def convert(): Result = {
      val t0 = System.nanoTime()
      val table = tr.span("convert") {
        val rows = tr.span("oma.scan") {
          val r = OsmSource.o5mScan(spark, o5m).persist(StorageLevel.MEMORY_AND_DISK)
          // traced only: materialize the scan inside its span
          if (tr.on) {
            val n = r.count()
            if (tracedRound) record("oma.scan.elements", n.toDouble)
          }
          r
        }
        try {
          // traced only: the reunify join materialized as a span of its own;
          // runToFile then runs it again inside oma.pipeline
          if (tr.on) tr.span("oma.reunify")(ReunifySpark.reunify(spark, rows)._2.toDF()
            .write.format("noop").mode("overwrite").save())
          tr.span("oma.pipeline")(OmaPipeline.runToFile(spark, rows, Bbs.DefaultBbs,
            TypeConfig.Minimal, OmaCli.parsePreserve("all"), zip = true, oneElement = false, out))
        } finally rows.unpersist()
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      if (tracedRound) {
        tr.settle()
        for (name <- Seq("oma.scan", "oma.reunify", "oma.pipeline"); s <- tr.last(name)) {
          val sums = tr.sumsUnder(s)
          record(s"$name.s", s.seconds)
          record(s"$name.core_util", tr.coreUtil(s))
          record(s"$name.shuffle_write_bytes", sums.shuffleWrite.toDouble)
          record(s"$name.spill_bytes", sums.spill.toDouble)
        }
        record("oma.pipeline.out_bytes", Files.size(Paths.get(out)).toDouble)
        record("oma.pipeline.chunks", table.size.toDouble)
        tr.last("convert").foreach(c => record("convert.jobs", tr.sumsUnder(c).jobs.toDouble))
      }
      // the chunk table without byte offsets: kind and bounds of each chunk
      val fp = table.map { case (_, k, b) => s"$k${b.minLon},${b.minLat},${b.maxLon},${b.maxLat}" }
      Result(seconds, s"${table.size}:${Integer.toHexString(fp.mkString(";").hashCode)}")
    }

    private def scan(): Result = {
      val t0 = System.nanoTime()
      val (counts, h) = tr.span("oma_scan") {
        tr.span("oma.read") {
          val h = OmaScan.header(out)
          val bounds = h.chunks.map(_.bounds).toArray
          // 1 for a node outside the bounds of the chunk it was written to
          val outside = udf((chunk: Int, lon: Seq[Int], lat: Seq[Int]) =>
            if (bounds(chunk).contains(lon.head, lat.head)) 0 else 1)
          val counts = OmaScan.scan(spark, out).toDF()
            .groupBy("ctype")
            .agg(count(lit(1)).as("n"),
              sum(when(col("ctype") === "N", outside(col("chunk"), col("lon"), col("lat"))).otherwise(0)).as("bad"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
          (counts, h)
        }
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      if (tracedRound) tr.last("oma.read").foreach { s =>
        tr.settle()
        record("oma.read.s", s.seconds)
        record("oma.read.core_util", tr.coreUtil(s))
      }
      val bad = counts.map(_._3).sum
      Result(seconds, s"${h.chunks.size}:" + counts.map(c => s"${c._1}=${c._2}").mkString(","),
        if (bad > 0) Some(s"$bad nodes outside their chunk's bounds") else None)
    }

    // reads are cheap next to a conversion, so a round reads the file back
    // eight times: the JIT is still warming over the first reads, and with
    // three the read's median spread twice as wide from run to run
    val ops = Seq(Op("convert", () => convert()), Op("oma_scan", () => scan(), perRound = 8))
  }

  /** Spatial analytics over the image table derived at `mult` rows per
    * document, persisted in set-up; the frames are built as graft.Bench
    * builds them. The queries are short, so a run times two rounds. */
  private final class Geo extends Workload {
    private var img: DataFrame = _
    private var nRows = 0L
    def load(): Unit = {
      if (img != null) img.unpersist(blocking = true)
      val t0 = System.nanoTime()
      img = ImageTable.df(spark, dir, a.mult, preParts = sc.defaultParallelism * 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      nRows = img.count()
      record("sources.image.s", (System.nanoTime() - t0) / 1e9)
      record("sources.image.cached_mb", storageMb(spark))
    }
    private def points = img.select(col("image_id"), col("lon"), col("lat"))
    def ops = Seq(
      query("tile_assign")(img
        .select(GeoQueries.tileCol.as("tile"))
        .groupBy("tile").agg(count(lit(1)).as("n"))),
      query("skew_agg") {
        val sk = ImageTable.skewed(img)
          .select(GeoQueries.tileCol.as("tile"), col("phash"),
            pmod(xxhash64(col("image_id")), lit(16)).as("salt"))
        sk.groupBy("tile", "salt").agg(count(lit(1)).as("pc"), sum(col("phash") % 1000000).as("ps"))
          .groupBy("tile").agg(sum("pc").as("cnt"), sum("ps").as("s"))
      },
      query("pip_join_10k")(Pip.pipJoin(points, Pip.polyDf(spark, Pip.benchPolygons), Pip.BenchCellSide)
        .groupBy("pid").agg(count(lit(1)).as("n"))),
      query("dist_join_1m")(GeoQueries.distJoin(img, 1000000L)),
      query("knn")(graft.Bench.knnFrame(img, nRows)))
    override def minRounds = 2
  }

  /** Text and vector near-duplicate detection over the generated documents
    * and embeddings; the frames are built as graft.Bench builds them, and the
    * scaled ops keep Bench's ratio of 20 document copies to 100 vectors per
    * embedding. A run times two rounds. */
  private final class Dedup extends Workload {
    def load(): Unit = {
      spark.read.parquet(s"$dir/documents.parquet").count()
      spark.read.parquet(s"$dir/embeddings.parquet").count()
    }
    private def docDef(n: String) = DocQueries.defs.find(_.name == n).get.fn(spark, dir)
    private def embDef(n: String) = EmbedQueries.defs.find(_.name == n).get.fn(spark, dir)
    def ops = Seq(
      query("span_dup_100k")(DocQueries.spanDup(
        spark.read.parquet(s"$dir/documents.parquet").repartition(64)
          .withColumn("rep", explode(sequence(lit(0), lit(a.mult / 5 - 1))))
          .withColumn("doc_id", col("doc_id") + col("rep") * 1000000L)
          .select("doc_id", "text"))),
      query("minhash_lsh")(docDef("d_minhash_lsh").limit(1000000)),
      query("dup_groups")(docDef("d_dup_groups")),
      query("kmeans_200k")(EmbedQueries.kmeansScaled(spark, dir, a.mult)),
      query("ann_scale")(EmbedQueries.annTopkScaled(spark, dir, a.mult)),
      query("cosine_dup")(embDef("e_cosine_dup")))
    override def minRounds = 2
  }

  // ---- the run -------------------------------------------------------------

  def apply(): Unit = {
    val wl: Workload = a.workload match {
      case "convert" => new Convert
      case "geo" => new Geo
      case "dedup" => new Dedup
      case other => sys.error(s"unknown workload $other")
    }
    val sessionS = (System.nanoTime() - jvmStart) / 1e9
    val cg0 = Trace.codegenCount()
    val problems = mutable.ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    val firstFp = mutable.Map[String, String]()
    def check(op: String, r: Try[Result]): Option[Result] = {
      attempted += 1
      val want0 = a.expected.get(op).orElse(firstFp.get(op))
      val want = if (a.corrupt.contains(op)) want0.map("corrupt:" + _) else want0
      val problem = r match {
        case Failure(e) => Some(s"$op failed: ${e.toString.take(300)}")
        case Success(res) => res.problem.map(p => s"$op: $p").orElse(
          want.filter(_ != res.fp).map(w => s"$op: fingerprint ${res.fp} != expected $w"))
      }
      problem.foreach { p => failed += 1; if (problems.size < 20) problems += p }
      r.foreach(res => firstFp.getOrElseUpdate(op, res.fp))
      r.toOption.filter(_ => problem.isEmpty)
    }

    // set-up: the input loaded three times, the last load kept, then the
    // warm-up pass, traced in a traced run so that it warms the traced paths
    val loads = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); wl.load(); (System.nanoTime() - t0) / 1e9
    }
    if (a.trace) tr.start()
    val ops = wl.ops
    val warmOps = ops.map { op =>
      val t0 = System.nanoTime()
      check(op.name, Try(op.run()))
      op.name -> (System.nanoTime() - t0) / 1e9
    }
    val setupS = (System.nanoTime() - jvmStart) / 1e9 - loads.sum + median(loads)
    val warmS = warmOps.map(_._2).sum
    val setupCodegenMs = (Trace.codegenCount() - cg0) * Trace.codegenMeanMs()
    if (a.trace) tr.stop()

    // timed phase: whole rounds of all ops, so every op has as many samples
    // as the others, started while less than S seconds have passed; at least
    // the workload's minimum. A traced run alternates untraced and traced
    // rounds, at least three, so the untraced median brackets the traced
    // round in time and the overhead is not just the later round being warmer
    val (steal0, busy0) = graft.Bench.cpuTicks()
    val gc0 = Trace.gcSeconds()
    val pinBase = storageMb(spark)
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val tracedTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val gcPerOp = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    // the live heap after a full collection, the largest seen before an op:
    // the cached input, pins and anything else the ops before it keep hold
    // of, whatever the heap is sized
    val heap = ManagementFactory.getMemoryMXBean
    var liveMb = 0.0
    def collectHeap(): Unit = {
      System.gc()
      liveMb = math.max(liveMb, heap.getHeapMemoryUsage.getUsed / 1e6)
    }
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val minRounds = if (a.trace) math.max(3, wl.minRounds) else wl.minRounds
    var round = 0
    while (round < minRounds || System.nanoTime() < deadline) {
      val traced = a.trace && round % 2 == 1
      if (traced) tr.start() else if (tr.on) tr.stop()
      tracedRound = traced
      for (op <- ops; _ <- 1 to op.perRound) {
        // untimed: every op starts from a collected heap, not from the
        // garbage the one before it left
        collectHeap()
        if (traced) tr.newTrace()
        val g0 = Trace.gcSeconds()
        val t0 = System.nanoTime()
        val r = Try(op.run())
        // a failed op counts with the time it took to fail
        (if (traced) tracedTimes else times).getOrElseUpdate(op.name, mutable.ArrayBuffer()) +=
          r.map(_.seconds).getOrElse((System.nanoTime() - t0) / 1e9)
        check(op.name, r).foreach { _ =>
          if (traced) {
            gcPerOp.getOrElseUpdate(op.name, mutable.ArrayBuffer()) += Trace.gcSeconds() - g0
            if (a.workload == "dedup") record("dedup.pinned_mb_after", storageMb(spark) - pinBase)
          }
        }
      }
      round += 1
    }
    tracedRound = false
    if (tr.on) tr.stop()
    val (steal1, busy1) = graft.Bench.cpuTicks()
    val stealPct = if (busy1 > busy0) 100.0 * (steal1 - steal0) / (busy1 - busy0) else 0.0
    val gcS = Trace.gcSeconds() - gc0

    val medians = ops.map(o => o.name -> times.get(o.name).map(b => median(b.toSeq)).getOrElse(Double.NaN))
    val mixS = medians.map(_._2).sum
    val geomean = math.exp(medians.map(m => math.log(m._2)).sum / medians.size)
    val vmHwmMb = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

    val values: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> setupS,
        "mix_s" -> mixS,
        "op_geomean_s" -> geomean)
      else {
        medians.foreach { case (n, m) => record(s"${n}_s", m) }
        val tracedMix = ops.map(o => tracedTimes.get(o.name).map(b => median(b.toSeq)).getOrElse(Double.NaN)).sum
        record("trace.overhead_s", tracedMix - mixS)
        record("failed_op_frac", failed.toDouble / math.max(1, attempted))
        record("setup.codegen_ms", setupCodegenMs)
        record("setup.load_s", median(loads))
        record("setup.warmup_s", warmS)
        record("peak_rss_mb", liveMb)
        record(s"${a.workload}.gc_s", gcPerOp.values.map(b => median(b.toSeq)).sum)
        // pins are a leak signal: the largest amount seen after any rep
        layer.toSeq.map { case (n, b) => n -> (if (n == "dedup.pinned_mb_after") b.max else median(b.toSeq)) }
      }

    val correct = failed == 0
    // details for a reader of the run: config stamp, per-op samples and
    // percentiles, per-node plan times, spans
    val conf = Seq("spark.master", "spark.shuffle.compress", "spark.shuffle.sort.bypassMergeThreshold",
      "spark.sql.shuffle.partitions", "spark.sql.codegen.cache.maxEntries", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k).orElse(sc.getConf.getOption(k)).getOrElse("(default)"))
    val memTotal = Files.readAllLines(Paths.get("/proc/meminfo")).toArray.map(_.toString)
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    val stamp = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total_mb" -> memTotal.toString,
      "steal_pct" -> f"$stealPct%.2f",
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "vmhwm_mb" -> f"$vmHwmMb%.0f",
      "gc_s" -> f"$gcS%.3f") ++ conf
    def pctl(xs: Seq[Double]): String = {
      // the highest percentile with at least ten samples beyond it
      val s = xs.sorted
      if (s.size < 11) "null"
      else { val p = 1.0 - 10.0 / s.size; jsonNum(s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))) + s""","p":${jsonNum(p * 100)}""" }
    }
    val opsJson = ops.map { o =>
      val xs = times.get(o.name).map(_.toSeq).getOrElse(Nil)
      s"""${jsonStr(o.name)}:{"n":${xs.size},"median_s":${jsonNum(median(xs))},"p_hi_s":${pctl(xs)},""" +
        s""""samples_s":[${xs.map(jsonNum).mkString(",")}],"fingerprint":${jsonStr(firstFp.getOrElse(o.name, ""))}}"""
    }.mkString("{", ",", "}")
    val planJson = planTimes.map { case (q, ms) =>
      val byNode = ms.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2)
      s"""${jsonStr(q)}:{"dominant":${jsonStr(byNode.headOption.map(_._1).getOrElse(""))},"ms_by_layer":{""" +
        byNode.map { case (n, v) => s"${jsonStr(n)}:${jsonNum(v / ms.size)}" }.mkString(",") + "}}"
    }.mkString("{", ",", "}")
    val detail =
      s"""{"workload":${jsonStr(a.workload)},"trace":${a.trace},"stamp":{""" +
        stamp.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString(",") + "}," +
        s""""setup":{"session_s":${jsonNum(sessionS)},"loads_s":[${loads.map(jsonNum).mkString(",")}],"warmup_s":${jsonNum(warmS)},""" +
        warmOps.map { case (n, v) => s""""warmup.$n":${jsonNum(v)}""" }.mkString(",") + "}," +
        s""""rounds":$round,"ops":$opsJson,"plans":$planJson,"problems":[${problems.map(jsonStr).mkString(",")}],""" +
        s""""spans":[${tr.spansJson.mkString(",")}]}"""
    Files.write(a.out, detail.getBytes("UTF-8"))
    stamp.foreach { case (k, v) => System.err.println(s"[stamp] $k = $v") }
    problems.foreach(p => System.err.println(s"[check] $p"))
    val valuesJson = values.map { case (n, v) => s"${jsonStr(n)}:${jsonNum(v)}" }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"values":{${valuesJson.mkString(",")}}}""")
  }
}
