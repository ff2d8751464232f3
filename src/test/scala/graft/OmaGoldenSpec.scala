package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.sys.process._
import graft.core.Bbox
import graft.oma._

/** Golden oracle-diff tests: run the reference jar on a deterministic
  * fixture and assert our Spark pipeline produces the same logical .oma
  * content — chunk count/types/bounds, element-to-chunk assignment, block
  * and slice structure, and per-slice element sequences (tags compared as
  * sets: the reference's HashMap serialization order is arbitrary).
  */
class OmaGoldenSpec extends AnyFunSuite with SparkSuite {

  import Fixtures.{fixture, smallBbs}

  def runOracle(xml: String, bbs: String, typ: String, flags: Seq[String]): OmaFile = {
    val dir = Files.createTempDirectory("omagold")
    val osm = dir.resolve("f.osm"); Files.writeString(osm, xml)
    val bbsF = dir.resolve("f.bbs"); Files.writeString(bbsF, bbs)
    val typF = dir.resolve("f.type"); Files.writeString(typF, typ)
    val out = dir.resolve("f.oma")
    val cmd = Seq("java", "-Xmx384m", "-jar", "/root/reference/oma.jar",
      "-b", bbsF.toString, "-t", typF.toString) ++ flags ++
      Seq(osm.toString, out.toString)
    val rc = Process(cmd).!(ProcessLogger(_ => (), _ => ()))
    assert(rc == 0, s"oma.jar failed: $cmd")
    OmaReader.read(Files.readAllBytes(out))
  }

  /** Render the logical content for diffing (tags as sorted sets). */
  def canon(f: OmaFile): Seq[String] = {
    val out = Seq.newBuilder[String]
    out += s"features=${f.features} bbox=${f.bbox} compression=${f.compression}"
    f.chunks.zipWithIndex.foreach { case (c, i) =>
      out += s"chunk $i type=${c.ctype} bounds=${c.bounds}"
      c.blocks.foreach { b =>
        out += s"  block '${b.key}'"
        b.slices.foreach { s =>
          out += s"    slice '${s.value}' n=${s.elements.length}"
          s.elements.foreach { e =>
            out += "      " + El.canonical(e.kind.toString, e.lon, e.lat,
              e.holesLon, e.holesLat, e.tags, e.members,
              Some(e.meta))
          }
        }
      }
    }
    out.result()
  }

  def compare(name: String, ours: OmaFile, oracle: OmaFile): Unit = {
    val (a, b) = (canon(ours), canon(oracle))
    if (a != b) {
      val diffs = a.zipAll(b, "<missing>", "<missing>").zipWithIndex
        .filter { case ((x, y), _) => x != y }.take(12)
      fail(s"[$name] logical mismatch (${diffs.length} of ${math.max(a.length, b.length)} lines):\n" +
        diffs.map { case ((x, y), i) => s"line $i:\n  ours:   $x\n  oracle: $y" }.mkString("\n"))
    }
  }

  def runBoth(name: String, typ: String, bbs: String, flags: Seq[String],
              features: Int, zip: Boolean, oneElement: Boolean): Unit = {
    val xml = OsmXml.write(fixture)
    val oracle = runOracle(xml, bbs, typ, flags)
    val ours = OmaPipeline.run(spark, xml, bbs, typ, features, zip, oneElement)
    // non-vacuity: the fixture must exercise all four element kinds and
    // produce a multi-chunk, multi-slice file
    val els = oracle.chunks.flatMap(_.blocks.flatMap(_.slices.flatMap(_.elements)))
    assert(oracle.chunks.length >= 6, s"[$name] only ${oracle.chunks.length} chunks")
    assert(els.length >= 25, s"[$name] only ${els.length} elements")
    assert(Set('N', 'W', 'A', 'C').subsetOf(oracle.chunks.map(_.ctype).toSet),
      s"[$name] kinds=${oracle.chunks.map(_.ctype).toSet}")
    assert(els.exists(_.holesLon.nonEmpty), s"[$name] no area with holes")
    assert(els.exists(_.members.nonEmpty), s"[$name] no backlinks")
    compare(name, ours.parsed, oracle)
  }

  val refType: String = Files.readString(Paths.get("/root/reference/default.type"))
  val refBbs: String = Files.readString(Paths.get("/root/reference/default.bbs"))

  test("golden: minimal config, small grid, -p all, no zip") {
    runBoth("min/all/raw", TypeConfig.Minimal, smallBbs,
      Seq("-p", "all", "-0"), 31, zip = false, oneElement = false)
  }

  test("golden: reference default.type + default.bbs, -p all, zip") {
    runBoth("ref/all/zip", refType, refBbs, Seq("-p", "all"), 31, zip = true, oneElement = false)
  }

  test("golden: reference config, -p none (features=0), no zip") {
    runBoth("ref/none/raw", refType, refBbs, Seq("-0"), 0, zip = false, oneElement = false)
  }

  test("golden: one-element mode (-1)") {
    runBoth("ref/one/raw", refType, refBbs, Seq("-p", "all", "-0", "-1"), 31, zip = false, oneElement = true)
  }
}
