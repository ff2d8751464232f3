package graft

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.oma._
import graft.sources.RangeStore

/** The planet-scale contract of the binary-scan driver skims and the
  * shared-storage seam:
  *
  *  - the o5m/pbf skims STREAM: Long offsets, bodies skipped, and no read
  *    request ever larger than a frame header — so driver memory is O(1)
  *    and input files are not capped at the 2 GiB JVM array limit
  *    (the byte[]-materializing skim of round 3 is gone);
  *  - malformed lengths fail loudly instead of looping;
  *  - the scans do ALL their IO through [[RangeStore]], and every executor
  *    range-read stays inside the ranges the skim produced — the contract a
  *    shared-storage (HDFS/S3) deployment plugs into.
  */
class OsmSourceStreamSpec extends AnyFunSuite with SparkSuite {

  lazy val o5mBytes: Array[Byte] = O5m.write(Fixtures.fixture, resetEvery = 3)
  lazy val pbfBytes: Array[Byte] = Pbf.write(Fixtures.fixture, perBlock = 4)

  /** Stream that records the largest single read request — a body-sized
    * readFully would show up immediately. */
  private final class RecordingStream(data: Array[Byte]) extends InputStream {
    private val in = new ByteArrayInputStream(data)
    var maxReadRequest = 0
    var skipped = 0L
    override def read(): Int = { maxReadRequest = math.max(maxReadRequest, 1); in.read() }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      maxReadRequest = math.max(maxReadRequest, len)
      in.read(b, off, len)
    }
    override def skip(n: Long): Long = { val s = in.skip(n); skipped += s; s }
  }

  test("o5m streaming skim matches the in-memory skim and is O(1) memory") {
    val rs = new RecordingStream(o5mBytes)
    val got = O5m.segmentsStream(rs, o5mBytes.length.toLong)
    val want = O5m.segments(o5mBytes).map(s => (s._1.toLong, s._2.toLong))
    assert(got == want)
    assert(got.size > 1, "reset-ful fixture must produce multiple segments")
    // the skim reads single id/length bytes and SKIPS bodies: no read
    // request may exceed one byte (bodies travel through skip())
    assert(rs.maxReadRequest <= 1, s"skim materialized ${rs.maxReadRequest} bytes")
    assert(rs.skipped > 0, "bodies must be skipped, not read")
  }

  test("pbf streaming skim matches the in-memory skim and is O(header) memory") {
    val rs = new RecordingStream(pbfBytes)
    val got = Pbf.framesStream(rs, pbfBytes.length.toLong)
    val want = Pbf.frames(pbfBytes)
    assert(got == want)
    assert(got.count(_.btype == "OSMData") > 1)
    // only 4-byte lengths and BlobHeaders (tens of bytes) are ever read;
    // blob bodies travel through skip()
    assert(rs.maxReadRequest <= 64, s"skim materialized ${rs.maxReadRequest} bytes")
    assert(rs.skipped > 0, "blob bodies must be skipped, not read")
  }

  test("malformed o5m record length fails loudly in both skims") {
    // signature, then a node record claiming a body far past EOF
    val bad = O5m.Signature ++ Array[Byte](0x10, 0xef.toByte, 0x7f)
    intercept[IllegalArgumentException](O5m.segments(bad))
    intercept[IllegalArgumentException](
      O5m.segmentsStream(new ByteArrayInputStream(bad), bad.length.toLong))
  }

  test("malformed pbf datasize fails loudly in the streaming skim") {
    // valid first header but a datasize pointing past EOF
    val hdr = new Varint.Out
    hdr.u((1 << 3) | 2).u(3).raw("OSM".getBytes("UTF-8")) // type = "OSM"
    hdr.u((3 << 3) | 0).u(1000000)                        // datasize = 1e6
    val h = hdr.result()
    val bad = new Varint.Out().int32(h.length).raw(h).result()
    intercept[IllegalArgumentException](
      Pbf.framesStream(new ByteArrayInputStream(bad), bad.length.toLong))
  }

  import OsmSourceStreamSpec.RecordingStore

  test("scans do all IO through the RangeStore seam, inside skim-produced ranges") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("osmsrcstream")
    val o5mF = dir.resolve("f.o5m"); Files.write(o5mF, o5mBytes)
    val pbfF = dir.resolve("f.pbf"); Files.write(pbfF, pbfBytes)

    val want = OsmSource.toRows(OsmSource.read(o5mBytes)).map(_.toString).sorted

    RecordingStore.ranges.clear(); RecordingStore.opens = 0
    val gotO5m = OsmSource.o5mScan(spark, o5mF.toString, store = RecordingStore)
      .collect().toSeq.map(_.toString).sorted
    assert(gotO5m == want, "o5m scan through the seam")
    assert(RecordingStore.opens == 1, "driver skim opens the stream exactly once")
    val segs = O5m.segments(o5mBytes).map(s => (s._1.toLong, s._2.toLong)).toSet
    val seen = RecordingStore.ranges.asScala.toSet
    assert(seen == segs, s"executor reads $seen != skim segments $segs")

    RecordingStore.ranges.clear(); RecordingStore.opens = 0
    val gotPbf = OsmSource.pbfScan(spark, pbfF.toString, parts = 4, store = RecordingStore)
      .collect().toSeq.map(_.toString).sorted
    assert(gotPbf == want, "pbf scan through the seam")
    assert(RecordingStore.opens == 1)
    val dataFrames = Pbf.frames(pbfBytes).filter(_.btype == "OSMData")
      .map(f => (f.offset, f.offset + f.len)).toSet
    assert(RecordingStore.ranges.asScala.toSet == dataFrames)
  }
  test("multi-file binary scans: a directory of shards equals the per-file decode") {
    val fx = Fixtures.fixture
    val fx1 = fx.copy(ways = Seq.empty, rels = Seq.empty)
    val fx2 = fx.copy(nodes = Seq.empty)
    def rows(bytes: Array[Byte]): Seq[String] =
      OsmSource.toRows(O5m.decode(bytes)).map(_.toString)

    // o5m: directory scan == union of the shard decodes == concatenated file
    val o1 = O5m.write(fx1, resetEvery = 3); val o2 = O5m.write(fx2, resetEvery = 3)
    val dO5m = Files.createTempDirectory("multi_o5m")
    Files.write(dO5m.resolve("a.o5m"), o1); Files.write(dO5m.resolve("b.o5m"), o2)
    val wantO5m = (rows(o1) ++ rows(o2)).sorted
    val gotDir = OsmSource.o5mScan(spark, dO5m.toString).collect().toSeq.map(_.toString).sorted
    assert(gotDir == wantO5m, "o5m directory scan")
    val catO5m = dO5m.resolve("cat.bin"); Files.write(catO5m, o1 ++ o2)
    val gotCat = OsmSource.o5mScan(spark, catO5m.toString).collect().toSeq.map(_.toString).sorted
    assert(gotCat == wantO5m, "o5m concatenated-file scan")

    // pbf: same three-way equality (blobs are independently decodable, a
    // mid-stream OSMHeader frame from the second shard is skipped like any
    // non-OSMData frame)
    val p1 = Pbf.write(fx1, perBlock = 4); val p2 = Pbf.write(fx2, perBlock = 4)
    def prows(bytes: Array[Byte]): Seq[String] =
      OsmSource.toRows(Pbf.decode(bytes)).map(_.toString)
    val dPbf = Files.createTempDirectory("multi_pbf")
    Files.write(dPbf.resolve("a.pbf"), p1); Files.write(dPbf.resolve("b.pbf"), p2)
    val wantPbf = (prows(p1) ++ prows(p2)).sorted
    val gotPbfDir = OsmSource.pbfScan(spark, dPbf.toString, parts = 4)
      .collect().toSeq.map(_.toString).sorted
    assert(gotPbfDir == wantPbf, "pbf directory scan")
    val catPbf = dPbf.resolve("cat.bin"); Files.write(catPbf, p1 ++ p2)
    val gotPbfCat = OsmSource.pbfScan(spark, catPbf.toString, parts = 4)
      .collect().toSeq.map(_.toString).sorted
    assert(gotPbfCat == wantPbf, "pbf concatenated-file scan")
  }

  test("oversized o5m segment auto-splits into a sequential record-aligned chain") {
    // no mid-file resets -> ONE reset segment; round 4 hard-stopped such a
    // file at 2 GiB, now it decodes as a chain of record-aligned sub-ranges
    // with state carried across them
    val whole = O5m.write(Fixtures.fixture, resetEvery = 0)
    val tiny = 64L
    val chains = O5m.segmentChainsStream(
      new ByteArrayInputStream(whole), whole.length.toLong, tiny)
    assert(chains.size == 1, s"expected one chain, got ${chains.size}")
    val chain = chains.head
    assert(chain.size > 1, "tiny maxChunk must split the segment")
    assert(chain.head._1 == 0L && chain.last._2 == whole.length.toLong)
    assert(chain.sliding(2).forall { case Seq(a, b) => a._2 == b._1; case _ => true },
      "sub-ranges must be contiguous")
    assert(chain.forall { case (a, b) => b - a <= tiny + 64 },
      s"sub-ranges should respect maxChunk up to one record: $chain")
    // chained decode == whole-array decode, bit for bit
    val viaChain = O5m.decodeChain(chain.iterator.map { case (a, b) =>
      java.util.Arrays.copyOfRange(whole, a.toInt, b.toInt) })
    assert(viaChain == O5m.decode(whole))
    // and through the scan surface with the forced tiny chunk
    val dir = Files.createTempDirectory("o5m_dense")
    val f = dir.resolve("dense.o5m"); Files.write(f, whole)
    val got = OsmSource.o5mScan(spark, f.toString, maxChunk = tiny)
      .collect().toSeq.map(_.toString).sorted
    val want = OsmSource.toRows(O5m.decode(whole)).map(_.toString).sorted
    assert(got == want)
  }

  test("streamed sink writes all part IO through the PartStore seam") {
    import OsmSourceStreamSpec.RecordingPartStore
    val out = Files.createTempFile("seamconv", ".oma").toString
    RecordingPartStore.reset()
    val table = OmaPipeline.runToFile(spark, OsmSource.read(o5mBytes),
      Fixtures.smallBbs, TypeConfig.Minimal, features = 31, zip = true, oneElement = false,
      out, RecordingPartStore)
    val want = OmaPipeline.run(spark, OsmSource.read(o5mBytes),
      Fixtures.smallBbs, TypeConfig.Minimal, features = 31, zip = true, oneElement = false).bytes
    assert(java.util.Arrays.equals(Files.readAllBytes(java.nio.file.Paths.get(out)), want),
      "seam-routed streamed sink differs from the in-memory assembly")
    // every chunk body: written exactly once by an executor, streamed back
    // exactly once by the driver, then deleted; the final file created and
    // patched through the seam too
    assert(RecordingPartStore.written.size() == table.size, "one part per chunk")
    assert(RecordingPartStore.opened.size() == table.size)
    assert(RecordingPartStore.deleted.size() == table.size)
    assert(RecordingPartStore.created.size() == 1 && RecordingPartStore.patched.size() == 1)
  }

  test("scan-fed conversion is byte-identical to driver-ingest conversion") {
    // the fully distributed path: streaming skim -> executor byte-range
    // decode -> Dataset[OsmRow] -> reunify/tile/classify -> .oma, with no
    // OsmInput ever materialized driver-side — must produce the same
    // container bytes as the driver-ingest overload (and transitively match
    // oma.jar, which the golden suites pin against that overload)
    val dir = Files.createTempDirectory("scanconv")
    val o5mF = dir.resolve("c.o5m"); Files.write(o5mF, o5mBytes)
    val pbfF = dir.resolve("c.pbf"); Files.write(pbfF, pbfBytes)
    val want = OmaPipeline.run(spark, OsmSource.read(o5mBytes),
      Fixtures.smallBbs, TypeConfig.Minimal, features = 31, zip = true, oneElement = false).bytes
    val viaO5m = OmaPipeline.run(spark, OsmSource.o5mScan(spark, o5mF.toString),
      Fixtures.smallBbs, TypeConfig.Minimal, features = 31, zip = true, oneElement = false).bytes
    val viaPbf = OmaPipeline.run(spark, OsmSource.pbfScan(spark, pbfF.toString, parts = 4),
      Fixtures.smallBbs, TypeConfig.Minimal, features = 31, zip = true, oneElement = false).bytes
    assert(java.util.Arrays.equals(viaO5m, want), "o5m scan-fed conversion differs")
    assert(java.util.Arrays.equals(viaPbf, want), "pbf scan-fed conversion differs")
  }
}

object OsmSourceStreamSpec {
  /** RangeStore wrapper that records every executor range-read. Top-level
    * (not class-nested) so the executor closure serializes without dragging
    * the spec instance along; state is static — tasks run in-process on
    * local[4]. */
  /** PartStore wrapper recording every sink-side IO call (top-level for
    * closure serialization, like RecordingStore). */
  object RecordingPartStore extends graft.sources.PartStore {
    private val L = graft.sources.PartStore.local
    val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val deleted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val patched = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def reset(): Unit = Seq(written, opened, deleted, created, patched).foreach(_.clear())
    override def mkTempDir(): String = L.mkTempDir()
    override def write(path: String, bytes: Array[Byte]): Unit = {
      written.add(path); L.write(path, bytes)
    }
    override def open(path: String): java.io.InputStream = { opened.add(path); L.open(path) }
    override def delete(path: String): Unit = { deleted.add(path); L.delete(path) }
    override def deleteDir(path: String): Unit = L.deleteDir(path)
    override def create(path: String): java.io.OutputStream = { created.add(path); L.create(path) }
    override def patchLong(path: String, pos: Long, value: Long): Unit = {
      patched.add(path); L.patchLong(path, pos, value)
    }
  }

  object RecordingStore extends RangeStore {
    val ranges = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var opens = 0
    override def length(path: String): Long = RangeStore.local.length(path)
    override def open(path: String): java.io.InputStream = {
      opens += 1; RangeStore.local.open(path)
    }
    override def readRange(path: String, offset: Long, len: Int): Array[Byte] = {
      ranges.add((offset, offset + len))
      RangeStore.local.readRange(path, offset, len)
    }
  }
}
