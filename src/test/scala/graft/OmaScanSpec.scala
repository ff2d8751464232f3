package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.core.Bbox
import graft.oma._

/** The .oma read path: metadata-only header parse, chunk-table bbox
  * pruning (chunks outside the query bbox are never read or decoded), and
  * full-scan equivalence with the reference-grade OmaReader.
  */
class OmaScanSpec extends AnyFunSuite with SparkSuite {

  lazy val omaBytes: Array[Byte] = OmaPipeline.run(spark, OsmXml.write(Fixtures.fixture),
    Fixtures.smallBbs, TypeConfig.Minimal, features = 31, zip = true, oneElement = false).bytes

  lazy val path: String = {
    val p = Files.createTempFile("omascan", ".oma")
    Files.write(p, omaBytes)
    p.toString
  }

  lazy val full: OmaFile = OmaReader.read(omaBytes)

  test("header() reads chunk table without touching bodies and matches the full parse") {
    val h = OmaScan.header(path)
    assert(h.features == full.features)
    assert(h.compression == full.compression)
    assert(h.chunks.size == full.chunks.size)
    assert(h.chunks.map(_.ctype.head) == full.chunks.map(_.ctype))
    assert(h.chunks.map(_.bounds) == full.chunks.map(_.bounds))
    // byte ranges are disjoint and ordered below the chunk table
    h.chunks.foreach(c => assert(c.end > c.start))
  }

  test("full scan equals the reference-grade reader's element multiset") {
    def render(ctype: String, key: String, value: String, id: Long,
               lon: Seq[Int], lat: Seq[Int], tags: Map[String, String]) =
      s"$ctype|$key|$value|$id|${lon.mkString(",")}|${lat.mkString(",")}|${tags.toSeq.sorted}"
    val got = OmaScan.scan(spark, path).collect()
      .map(r => render(r.ctype, r.key, r.value, r.id, r.lon, r.lat, r.tags)).sorted.toSeq
    val want = full.chunks.flatMap(c => c.blocks.flatMap(b => b.slices.flatMap(s =>
      s.elements.map(e => render(c.ctype.toString, b.key, s.value, e.meta.id,
        e.lon, e.lat, e.tags))))).sorted
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("scan also reads uncompressed (-0) containers") {
    val raw = OmaPipeline.run(spark, OsmXml.write(Fixtures.fixture),
      Fixtures.smallBbs, TypeConfig.Minimal, features = 31, zip = false, oneElement = false)
    val p = Files.createTempFile("omaraw", ".oma")
    Files.write(p, raw.bytes)
    val h = OmaScan.header(p.toString)
    assert(h.compression == "NONE")
    val got = OmaScan.scan(spark, p.toString).count()
    val want = raw.parsed.chunks.map(_.blocks.map(_.slices.map(_.elements.size).sum).sum).sum
    assert(got == want && want > 0)
  }

  test("streamed sink (runToFile) is byte-identical to the in-memory assembly") {
    val out = Files.createTempFile("omastream", ".oma")
    val table = OmaPipeline.runToFile(spark, OsmXml.parse(OsmXml.write(Fixtures.fixture)),
      Fixtures.smallBbs, TypeConfig.Minimal, features = 31, zip = true, oneElement = false,
      out.toString, graft.sources.PartStore.local)
    val streamed = Files.readAllBytes(out)
    assert(java.util.Arrays.equals(streamed, omaBytes), "streamed file differs from in-memory bytes")
    assert(table.size == full.chunks.size)
    assert(table.map(_._2) == full.chunks.map(_.ctype))
  }

  test("bbox pruning skips non-intersecting chunks but never loses matching elements") {
    val h = OmaScan.header(path)
    // a small window around the 8.x/49.x cluster of the fixture
    val box = Bbox(80000000, 480000000, 100000000, 510000000)
    val keep = OmaScan.pruned(h, box)
    assert(keep.size < h.chunks.size, s"nothing pruned (${keep.size} of ${h.chunks.size})")
    assert(keep.nonEmpty)
    // the catch-all (whole-world bounds) chunk is never pruned
    assert(keep.exists(_.bounds == Bbox.WholeWorld) ||
      h.chunks.forall(c => c.bounds != Bbox.WholeWorld))

    val rows = OmaScan.query(spark, path, box).collect()
    // only surviving chunks were decoded
    assert(rows.map(_.chunk).toSet.subsetOf(keep.map(_.idx).toSet))
    // completeness: every node of the full parse inside the box is returned
    val fullRows = OmaScan.scan(spark, path).collect()
    def inside(r: OmaScan.OmaScanRow) =
      r.lon.nonEmpty && r.lon.zip(r.lat).forall { case (x, y) =>
        x >= box.minLon && x <= box.maxLon && y >= box.minLat && y <= box.maxLat }
    val wantIds = fullRows.filter(inside).map(r => (r.ctype, r.id)).toSet
    val gotIds = rows.map(r => (r.ctype, r.id)).toSet
    assert(wantIds.subsetOf(gotIds), s"missing: ${wantIds -- gotIds}")
  }

  test("malformed containers fail loudly, not silently") {
    // wrong magic bytes -> clear refusal
    val bad = Files.createTempFile("badmagic", ".oma")
    Files.write(bad, "NOT-AN-OMA-FILE-PADDED-TO-29-BYTES!!".getBytes)
    val e1 = intercept[IllegalArgumentException](OmaScan.header(bad.toString))
    assert(e1.getMessage.contains("bad magic"))
    // truncated below the fixed header -> I/O error, never an empty result
    val trunc = Files.createTempFile("trunc", ".oma")
    Files.write(trunc, Files.readAllBytes(Paths.get(path)).take(10))
    intercept[Exception](OmaScan.header(trunc.toString))
  }
}
