package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{ImageCodec, ImageTable}
import graft.operators.MultimodalQueries

class MultimodalSpec extends AnyFunSuite with SparkSuite {

  test("codec: raw round-trips byte-exact, qrle meets the 40 dB invariant") {
    for (i <- 0 until 50) {
      val id = s"img$i"
      val (w, h) = (16 + (i % 3) * 16, 64 - (i % 3) * 16)
      val truth = ImageCodec.pixels(id, w, h)

      val (rw, rh, rpx) = ImageCodec.decode(ImageCodec.encode("raw", id, w, h))
      assert((rw, rh) == (w, h))
      assert(java.util.Arrays.equals(rpx, truth), s"raw not byte-exact for $id")

      val (qw, qh, qpx) = ImageCodec.decode(ImageCodec.encode("qrle", id, w, h))
      assert((qw, qh) == (w, h))
      val p = ImageCodec.psnr(truth, qpx)
      assert(p >= 40.0, s"qrle PSNR $p < 40 dB for $id")
    }
  }

  test("per-row invariant over the Spark pipeline: decode + PSNR + caption") {
    val dir = "/root/testdata/sf0.001"
    val images = ImageTable.withBytes(ImageTable.df(spark, dir))
    val dec = MultimodalQueries.decoded(images)
    val n = images.count()
    assert(n > 0)
    // every row decodes, meets PSNR >= 40 (lossy) and byte-exact (lossless)
    assert(dec.filter(!col("psnr_ok") || !col("lossless_exact")).count() == 0)
    // decoded dims equal the schema-derived dims, row for row
    val mismatch = dec.join(images, Seq("image_id"))
      .filter(col("dec_w") =!= col("w") || col("dec_h") =!= col("h"))
    assert(mismatch.count() == 0)
    // caption byte-equality against its definition
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(concat(lit("img"), col("doc_id")).as("image_id"),
        substring(col("text"), 1, 64).as("snippet"))
    val badCaption = images.join(docs, Seq("image_id"))
      .filter(col("caption") =!=
        concat(lit("caption of "), col("image_id"), lit(": "), col("snippet")))
    assert(badCaption.count() == 0)
  }

  test("mosaic pyramid counts equal the pure-column tile pyramid on the same quadtree") {
    val dir = "/root/testdata/sf0.001"
    val mosaic = MultimodalQueries.defs.find(_.name == "m_mosaic_pyramid").get
      .fn(spark, dir).select("z", "cx", "cy", "n_images")
    val pyr = operators.GeoQueries.tilePyramid(ImageTable.df(spark, dir))
      .select(col("z"), col("cx"), col("cy"), col("cnt").as("n_images"))
    // decode-path counts vs pure-column counts: identical cell population
    assert(mosaic.exceptAll(pyr).isEmpty && pyr.exceptAll(mosaic).isEmpty)
  }

  test("frame sampling: indices are uniform and sampled frames decode pixel-exact") {
    val dir = "/root/testdata/sf0.001"
    val fs = MultimodalQueries.defs.find(_.name == "m_frame_sample").get
    val rows = fs.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.take(50).foreach { r =>
      val n = r.getAs[Long]("n_frames").toInt
      val idxs = r.getAs[String]("frame_idxs").split(",").map(_.toInt).toSeq
      assert(idxs == (if (n >= 4) (0 until 4).map(i => i * n / 4) else 0 until n),
        s"bad sample plan for n=$n: $idxs")
      assert(r.getAs[String]("frames_ok") == "true")
    }
    // per-frame pixel equality (beyond the gate's dimension check)
    val id = rows.head.getAs[String]("image_id")
    val truth = ImageCodec.pixels(s"$id#0", 16, 16)
    val (_, _, px) = ImageCodec.decode(ImageCodec.encode("raw", s"$id#0", 16, 16))
    assert(java.util.Arrays.equals(px, truth))
  }
}
