package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.sys.process._
import graft.oma._

/** Golden diff for the binary input formats: the reference `oma.jar`
  * consumes our generated .o5m / .pbf fixtures (it dispatches on magic
  * bytes, OSMReader.java:8-16), and its .oma output is compared against our
  * pipeline reading the same bytes through OsmSource. An oracle-only cross
  * check (oma.jar on .o5m vs oma.jar on .pbf) additionally proves both
  * encoders carry identical logical content in the reference's own eyes.
  *
  * The XML variant of the fixture is NOT byte-comparable here: the
  * reference's `(int)(0.5 + 1e7*deg)` rounding shifts exact-half negative
  * coordinates on every XML cycle, while the binary formats carry exact
  * fixed-point ints — precisely the fidelity gain of the binary paths.
  */
class BinaryGoldenSpec extends AnyFunSuite with SparkSuite {

  def runOracle(bytes: Array[Byte], ext: String): OmaFile = {
    val dir = Files.createTempDirectory("omabin")
    val in = dir.resolve(s"f.$ext"); Files.write(in, bytes)
    val bbsF = dir.resolve("f.bbs"); Files.writeString(bbsF, Fixtures.smallBbs)
    val typF = dir.resolve("f.type"); Files.writeString(typF, TypeConfig.Minimal)
    val out = dir.resolve("f.oma")
    val cmd = Seq("java", "-Xmx384m", "-jar", "/root/reference/oma.jar",
      "-b", bbsF.toString, "-t", typF.toString, "-p", "all", "-0",
      in.toString, out.toString)
    val rc = Process(cmd).!(ProcessLogger(_ => (), _ => ()))
    assert(rc == 0, s"oma.jar failed: $cmd")
    OmaReader.read(Files.readAllBytes(out))
  }

  def canon(f: OmaFile): Seq[String] = {
    val out = Seq.newBuilder[String]
    out += s"features=${f.features} compression=${f.compression}"
    f.chunks.zipWithIndex.foreach { case (c, i) =>
      out += s"chunk $i type=${c.ctype} bounds=${c.bounds}"
      c.blocks.foreach { b =>
        out += s"  block '${b.key}'"
        b.slices.foreach { s =>
          out += s"    slice '${s.value}' n=${s.elements.length}"
          s.elements.foreach { e =>
            out += "      " + El.canonical(e.kind.toString, e.lon, e.lat,
              e.holesLon, e.holesLat, e.tags, e.members, Some(e.meta))
          }
        }
      }
    }
    out.result()
  }

  def diff(name: String, a: Seq[String], b: Seq[String]): Unit =
    if (a != b) {
      val ds = a.zipAll(b, "<missing>", "<missing>").zipWithIndex
        .filter { case ((x, y), _) => x != y }.take(10)
      fail(s"[$name] mismatch (${ds.length} of ${math.max(a.length, b.length)} lines):\n" +
        ds.map { case ((x, y), i) => s"line $i:\n  ours:   $x\n  oracle: $y" }.mkString("\n"))
    }

  lazy val o5mBytes: Array[Byte] = O5m.write(Fixtures.fixture)
  lazy val pbfBytes: Array[Byte] = Pbf.write(Fixtures.fixture, perBlock = 16)
  lazy val o5mOracle: OmaFile = runOracle(o5mBytes, "o5m")
  lazy val pbfOracle: OmaFile = runOracle(pbfBytes, "pbf")

  def nonVacuous(f: OmaFile): Unit = {
    val els = f.chunks.flatMap(_.blocks.flatMap(_.slices.flatMap(_.elements)))
    assert(f.chunks.length >= 6 && els.length >= 25)
    assert(Set('N', 'W', 'A', 'C').subsetOf(f.chunks.map(_.ctype).toSet))
  }

  test("golden: oma.jar on our .o5m == our pipeline on the same bytes") {
    nonVacuous(o5mOracle)
    val ours = OmaPipeline.run(spark, OsmSource.read(o5mBytes), Fixtures.smallBbs,
      TypeConfig.Minimal, features = 31, zip = false, oneElement = false)
    diff("o5m", canon(ours.parsed), canon(o5mOracle))
  }

  test("golden: oma.jar on our .pbf == our pipeline on the same bytes") {
    nonVacuous(pbfOracle)
    val ours = OmaPipeline.run(spark, OsmSource.read(pbfBytes), Fixtures.smallBbs,
      TypeConfig.Minimal, features = 31, zip = false, oneElement = false)
    diff("pbf", canon(ours.parsed), canon(pbfOracle))
  }

  test("oracle cross check: oma.jar reads .o5m and .pbf identically") {
    diff("o5m-vs-pbf", canon(o5mOracle), canon(pbfOracle))
  }

  test("golden: oma.jar reads our reset-ful .o5m identically to the plain one") {
    // the reference's reset (O5MReader.java:91-100) must accept the 0xff
    // chunking our parallel-decodable writer emits
    val resetful = runOracle(O5m.write(Fixtures.fixture, resetEvery = 3), "o5mr")
    diff("o5m-resetful", canon(resetful), canon(o5mOracle))
  }

  test("distributed scans return the same element multiset as the sequential decode") {
    val dir = Files.createTempDirectory("omascan")
    val o5mF = dir.resolve("f.o5m"); Files.write(o5mF, o5mBytes)
    val pbfF = dir.resolve("f.pbf"); Files.write(pbfF, pbfBytes)
    val want = OsmSource.toRows(OsmSource.read(o5mBytes))
      .map(_.toString).sorted
    val gotO5m = OsmSource.o5mScan(spark, o5mF.toString).collect().toSeq
      .map(_.toString).sorted
    val gotPbf = OsmSource.pbfScan(spark, pbfF.toString, parts = 4).collect().toSeq
      .map(_.toString).sorted
    assert(gotO5m == want, "o5m scan")
    assert(gotPbf == want, "pbf scan")
    assert(want.size == Fixtures.fixture.nodes.size + Fixtures.fixture.ways.size
      + Fixtures.fixture.rels.size)
  }
}
