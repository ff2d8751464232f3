package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.oma._

/** The spark-submit conversion CLI: flag surface mirrors the reference
  * (Oma.java:139-242) and the end-to-end run produces a parseable .oma.
  * The shared session exists before the CLI runs, so the CLI converts on it
  * instead of creating the JVM's SparkContext with its own settings.
  */
class OmaCliSpec extends AnyFunSuite with SparkSuite {

  test("argument parsing mirrors the reference surface") {
    val tmp = Files.createTempDirectory("omacli")
    val bbs = tmp.resolve("my.bbs"); Files.writeString(bbs, Fixtures.smallBbs)
    val typ = tmp.resolve("my.type"); Files.writeString(typ, TypeConfig.Minimal)
    val a = OmaCli.parse(Array("-b", bbs.toString, "-t", typ.toString,
      "-p", "id,timestamp", "-0", "-1", "-v", "/tmp/in.osm"))
    assert(a.bbs == Fixtures.smallBbs)
    assert(a.features == (OmaWire.FeatId | OmaWire.FeatTimestamp))
    assert(!a.zip && a.oneElement && a.verbose == 1)
    assert(a.output.toString.endsWith("/tmp/in.oma")) // default output name
    assert(OmaCli.parsePreserve("all") ==
      (OmaWire.FeatId | OmaWire.FeatVersion | OmaWire.FeatTimestamp |
        OmaWire.FeatChangeset | OmaWire.FeatUser))
    assert(OmaCli.parsePreserve("none") == 0)
  }

  test("F10 humanReadable matches the reference formatter, quirks included") {
    import graft.oma.OmaCli.{humanReadable, fromHumanReadable}
    // Tools.java:31-37 — precision keyed to the digit count, "KMGTE" alphabet
    assert(humanReadable(0) == "0")
    assert(humanReadable(999) == "999")
    assert(humanReadable(1000) == "1.00K")
    assert(humanReadable(1499) == "1.50K")
    assert(humanReadable(12345) == "12.3K")
    assert(humanReadable(123456) == "123K")
    assert(humanReadable(999999) == "1000K") // the digit-count rounding quirk
    assert(humanReadable(1234567) == "1.23M")
    assert(humanReadable(9876543210L) == "9.88G")
    assert(humanReadable(1500000000000L) == "1.50T")
    assert(humanReadable(2000000000000000L) == "2.00E")
    // Tools.java:39-55 inverse
    assert(fromHumanReadable("25K") == 25000L)
    assert(fromHumanReadable("3m") == 3000000L)
    assert(fromHumanReadable("7G") == 7000000000L)
    assert(fromHumanReadable("42") == 42L)
    assert(fromHumanReadable("x") == -1L)
    assert(fromHumanReadable("12Q") == -1L)
    assert(fromHumanReadable(null) == -1L)
  }

  test("ingest surfaces the discarded-tag counter (reference A4)") {
    val in = OsmXml.parse(OsmXml.write(Fixtures.fixture))
    assert(in.discardedTags == 1L) // the fixture carries exactly one created_by
    assert(!in.nodes.exists(_.tags.contains("created_by")))
  }

  test("end-to-end conversion writes a parseable .oma with the fixture's chunks") {
    val tmp = Files.createTempDirectory("omacli")
    val in = tmp.resolve("fixture.osm")
    Files.writeString(in, OsmXml.write(Fixtures.fixture))
    val out = tmp.resolve("fixture.oma")
    val bbs = tmp.resolve("f.bbs"); Files.writeString(bbs, Fixtures.smallBbs)
    assert(spark.sparkContext.master == "local[4]")
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try OmaCli.main(Array("-v", "-b", bbs.toString, "-p", "all", in.toString, out.toString))
    finally System.setErr(stderr)
    // -v names the engine settings the conversion ran with, on one line
    val engine = err.toString.linesIterator.filter(_.startsWith("engine: ")).toSeq
    assert(engine == Seq("engine: spark.master=local[4] spark.shuffle.compress=false " +
      "spark.shuffle.sort.bypassMergeThreshold=1 spark.sql.shuffle.partitions=4 " +
      "spark.sql.codegen.cache.maxEntries=2000"), err.toString)
    val parsed = OmaReader.read(Files.readAllBytes(out))
    assert(parsed.chunks.nonEmpty)
    assert(parsed.chunks.flatMap(_.blocks).flatMap(_.slices).map(_.elements.size).sum > 0)
  }
}
