package graft.oma

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the OSM -> .oma conversion — the engine's
  * equivalent of the reference CLI (Oma.java:139-242 argument surface):
  *
  *   spark-submit --class graft.oma.OmaCli omaspark.jar \
  *     [-b bbs-file] [-t type-file] [-p id,version,timestamp,changeset,user|all|none]
  *     [-0] [-1] [-v] input.osm [output.oma]
  *
  * Flags mirror the reference: -b/-t override the built-in default.bbs /
  * type config, -p selects the metadata features bitmask, -0 disables slice
  * compression, -1 adds each element only once. The reference's memory/tmp
  * knobs (-m, -c, -tmp, Oma.java:155-162) have no Spark equivalent — the
  * shuffle replaces its out-of-core temp streams. Input may be OSM XML,
  * O5M or PBF — dispatched by magic bytes like OSMReader.getReader.
  */
object OmaCli {

  /** F10: the reference's human-readable count formatter
    * (Tools.java:31-37), semantics preserved exactly — 3-significant-digit
    * decimal scaling with the "KMGTE" suffix alphabet, including the
    * rounding quirk that 999,999 prints as "1000K" (precision depends on
    * the DIGIT COUNT of the input, not the rounded value). One deliberate
    * deviation: Locale.ROOT is pinned so the decimal separator is '.'
    * everywhere (the reference formats in the default locale).
    */
  def humanReadable(l: Long): String = {
    if (l < 1000) return l.toString
    val digits = l.toString.length
    val scaled = l / math.pow(10.0, 3 * ((digits - 1) / 3))
    val prec = 2 - (digits - 1) % 3
    // the reference's alphabet carries a leading space (index 0 is the
    // unreachable <1000 bucket): " KMGTE"
    String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(scaled)) +
      " KMGTE".charAt((digits - 1) / 3)
  }

  /** F10 inverse (Tools.java:39-55): suffix-scaled long, -1 on malformed
    * input — the reference's parser for its -m/-c memory flags. */
  def fromHumanReadable(s: String): Long = {
    if (s == null || s.length < 2) return -1L
    val mult = s.last match {
      case 'K' | 'k' => 1000L
      case 'M' | 'm' => 1000000L
      case 'G' | 'g' => 1000000000L
      case 'T' | 't' => 1000000000000L
      case 'E' | 'e' => 1000000000000000L
      case _ => 1L
    }
    val body = if (mult == 1L) s else s.dropRight(1)
    try body.toLong * mult
    catch { case _: NumberFormatException => -1L }
  }

  final case class Args(input: Path, output: Path, bbs: String, typ: String,
                        features: Int, zip: Boolean, oneElement: Boolean, verbose: Int)

  def usage(error: String): Nothing = {
    if (error != null) System.err.println(s"Error: $error\n")
    System.err.println(
      """Usage: spark-submit --class graft.oma.OmaCli omaspark.jar [options] <input.osm> [<output.oma>]
        |
        |Options:
        |  -b <bbs-file>   bbs-file; default: built-in (reference default.bbs)
        |  -t <type-file>  type-file; default: built-in minimal config
        |  -p <list>       data to preserve (id,version,timestamp,changeset,user,
        |                                    all,none); default: none
        |  -0              do not zip slices
        |  -1              add each element only once
        |  -v              increase verboseness
        |  --help          print this help""".stripMargin)
    sys.exit(if (error != null) -1 else 0)
  }

  def parse(argv: Array[String]): Args = {
    var bbs = graft.core.Bbs.DefaultBbs
    var typ = TypeConfig.Minimal
    var features = 0
    var zip = true
    var oneElement = false
    var verbose = 0
    var input: Path = null
    var output: Path = null
    var pos = 0
    def arg(name: String): String = {
      if (pos == argv.length - 1) usage(s"missing parameter after '$name'")
      pos += 1; argv(pos)
    }
    while (pos < argv.length) {
      val a = argv(pos)
      if (a.isEmpty) usage("empty argument")
      else if (a == "--help") usage(null)
      else if (a == "-v") verbose += 1
      else if (a == "-0") zip = false
      else if (a == "-1") oneElement = true
      else if (a == "-b") bbs = Files.readString(Paths.get(arg("-b")))
      else if (a == "-t") typ = Files.readString(Paths.get(arg("-t")))
      else if (a == "-p") features = parsePreserve(arg("-p"))
      else if (a.startsWith("-")) usage(s"unknown option '$a'")
      else {
        if (pos != argv.length - 1 && pos != argv.length - 2)
          usage("additional arguments after filename(s)")
        input = Paths.get(a).toAbsolutePath
        output =
          if (pos < argv.length - 1) Paths.get(argv(pos + 1)).toAbsolutePath
          else {
            val n = input.getFileName.toString
            val base = if (n.contains('.')) n.substring(0, n.lastIndexOf('.')) else n
            input.resolveSibling(base + ".oma")
          }
        pos = argv.length
      }
      pos += 1
    }
    if (input == null) usage("no input file given")
    Args(input, output, bbs, typ, features, zip, oneElement, verbose)
  }

  /** '-p' list -> features bitmask (Oma.java setPreserve semantics). */
  def parsePreserve(s: String): Int = {
    val toks = s.split(",").toSeq
    if (toks.contains("all")) {
      if (toks.length != 1) usage("'-p all' cannot be mixed with other values")
      OmaWire.FeatId | OmaWire.FeatVersion | OmaWire.FeatTimestamp |
        OmaWire.FeatChangeset | OmaWire.FeatUser
    } else if (toks.contains("none")) {
      if (toks.length != 1) usage("'-p none' cannot be mixed with other values")
      0
    } else toks.foldLeft(0) { (f, t) =>
      f | (t match {
        case "id" => OmaWire.FeatId
        case "version" => OmaWire.FeatVersion
        case "timestamp" => OmaWire.FeatTimestamp
        case "changeset" => OmaWire.FeatChangeset
        case "user" => OmaWire.FeatUser
        case other => usage(s"unknown value '$other' for option '-p'")
      })
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // spark-submit passes its --master as the spark.master system property;
    // a plain `java` launch runs on local[*]. A session that already exists
    // (a shared JVM, as in tests) is used as it is and never stopped here:
    // stopping it would kill other suites' work.
    val preExisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    val spark = preExisting.getOrElse(
      graft.core.Engine.session(sys.props.getOrElse("spark.master", "local[*]")))
    if (a.verbose == 0) spark.sparkContext.setLogLevel("WARN")

    // format dispatch (reference OSMReader.getReader): XML, O5M or PBF by
    // magic bytes — sniffed from the first 16 bytes, never the whole file.
    // A DIRECTORY input (sharded planet mirror extract) sniffs its first
    // file; the binary scans expand the directory themselves (store.list)
    val sniffPath = graft.sources.RangeStore.local.list(a.input.toString)
      .headOption.getOrElse(sys.error(s"empty input directory: ${a.input}"))
    val head = {
      val raf = new java.io.RandomAccessFile(sniffPath, "r")
      try {
        val n = math.min(16L, raf.length()).toInt
        val b = new Array[Byte](n); raf.readFully(b); b
      } finally raf.close()
    }
    if (a.verbose >= 1) {
      System.err.println(graft.core.Engine.describe(spark))
      System.err.println(s"converting ${a.input} -> ${a.output}")
    }
    // streamed sink: executors write chunk-body part files, the driver
    // stream-concatenates — driver memory stays O(chunk table)
    val table =
      if (O5m.isO5m(head) || Pbf.isPbf(head)) {
        // binary formats: fully distributed — the streaming skim plans byte
        // ranges, executors decode them, and the element stream feeds the
        // pipeline as a Dataset. No OsmInput ever materializes driver-side,
        // so input size is bounded by the cluster, not driver memory.
        // Persisted because reunify's joins consume the stream repeatedly.
        val rows = (if (O5m.isO5m(head)) OsmSource.o5mScan(spark, a.input.toString)
                    else OsmSource.pbfScan(spark, a.input.toString))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (a.verbose >= 2) {
            val counts = rows.groupBy("kind").count().collect()
              .map(r => s"${humanReadable(r.getLong(1))} ${r.getString(0)}s").mkString(", ")
            System.err.println(s"ingest (distributed scan): $counts")
          }
          OmaPipeline.runToFile(spark, rows, a.bbs, a.typ, a.features, a.zip,
            a.oneElement, a.output.toString)
        } finally rows.unpersist()
      } else {
        // XML: one driver-side parse (a single XML document is inherently
        // sequential), then the same distributed pipeline. Directory inputs
        // are only meaningful for the binary formats (a directory of XML
        // shards has no single-document semantics) — fail with a clear
        // message instead of Files.readAllBytes's opaque IOException.
        require(!Files.isDirectory(a.input),
          s"${a.input}: directory input sniffed as XML — sharded directory " +
            "inputs are supported for the o5m/pbf binary formats only")
        val in = OsmSource.read(a.input.toString)
        if (a.verbose >= 2)
          // Reunify.java:230 wording; counts through the F10 formatter
          System.err.println(s"ingest: ${humanReadable(in.nodes.size)} nodes, " +
            s"${humanReadable(in.ways.size)} ways and ${humanReadable(in.rels.size)} " +
            s"relations read; ${in.discardedTags} discardable tags dropped")
        OmaPipeline.runToFile(spark, in, a.bbs, a.typ, a.features, a.zip,
          a.oneElement, a.output.toString, graft.sources.PartStore.local)
      }
    if (a.verbose >= 1)
      // TypeAnalysis.java:708 "Filesize:" through the F10 formatter
      System.err.println(s"wrote ${humanReadable(Files.size(a.output))} bytes " +
        s"(${Files.size(a.output)}), ${table.length} chunks")
    if (preExisting.isEmpty) spark.stop()
  }
}
