package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.multimodal.{ImageGen, ImageIoCodec, Multimodal, StubCodec}

/** The real pure-JVM image codec behind the MediaCodec seam, verified on a
  * CHECKED-IN image set (src/test/resources/graft/images — PNG/JPEG/GIF
  * written once by javax.imageio and committed as binaries) plus lossless
  * synthetic round trips. The plumbing tests prove the seam carries the real
  * codec with zero changes to operator schemas or partitioning. */
class ImageIoCodecSpec extends SparkSpec {

  private def res(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource(s"/graft/images/$name").toURI))

  test("decodeMeta reads checked-in PNG dimensions header-only") {
    val m = ImageIoCodec.decodeMeta(1L, res("ramp_37x23.png"), "image")
    assert(m.width === 37 && m.height === 23 && m.n_frames === 1)
    assert(m.n_bytes === res("ramp_37x23.png").length.toLong)
    val g = ImageIoCodec.decodeMeta(2L, res("gradient_64x48.png"), "image")
    assert(g.width === 64 && g.height === 48 && g.n_frames === 1)
  }

  test("decodeMeta reads JPEG dimensions") {
    val m = ImageIoCodec.decodeMeta(3L, res("solid_48x32.jpg"), "image")
    assert(m.width === 48 && m.height === 32 && m.n_frames === 1)
  }

  test("decodeMeta counts animated-GIF frames") {
    val m = ImageIoCodec.decodeMeta(4L, res("anim_20x10_3f.gif"), "image")
    assert(m.width === 20 && m.height === 10 && m.n_frames === 3)
  }

  test("decodeMeta rejects a non-image byte stream loudly") {
    val e = intercept[IllegalArgumentException] {
      ImageIoCodec.decodeMeta(5L, "not an image".getBytes("UTF-8"), "image")
    }
    assert(e.getMessage.contains("no ImageIO reader"))
  }

  test("audio/video kinds fall back to the stub codec") {
    val b = Array.fill[Byte](100)(7)
    assert(ImageIoCodec.decodeMeta(6L, b, "audio") ===
      StubCodec.decodeMeta(6L, b, "audio"))
    assert(ImageIoCodec.encodeFeature(6L, b, "video", 16).embedding.toSeq ===
      StubCodec.encodeFeature(6L, b, "video", 16).embedding.toSeq)
  }

  test("PNG round trip: luminanceSum matches the generation closed form") {
    for ((w, h) <- Seq((32, 32), (97, 64), (128, 128), (1, 1))) {
      val png = ImageGen.gradientPng(w, h)
      val expect = h.toLong * (w.toLong * (w - 1) / 2) +
        w.toLong * (h.toLong * (h - 1) / 2)
      assert(ImageIoCodec.luminanceSum(0L, png) === expect, s"($w x $h)")
    }
  }

  test("encodeFeature: histogram equals a direct pixel count, L2-normalized") {
    val (w, h) = (50, 40)
    val png = ImageGen.gradientPng(w, h)
    val emb = ImageIoCodec.encodeFeature(9L, png, "image", 16).embedding
    // direct count over the generation lattice
    val counts = new Array[Long](16)
    for (y <- 0 until h; x <- 0 until w) counts((x + y) / 16) += 1
    val norm = math.sqrt(counts.map(c => c.toDouble * c).sum)
    val expect = counts.map(c => (c / norm).toFloat)
    assert(emb.length === 16)
    emb.zip(expect).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) < 1e-6f, s"bucket $i")
    }
  }

  test("RGB decode uses integer BT.601 luma") {
    // solid JPEG is (200, 100, 50) at quality loss — use the lossless RGB
    // PNG ramp instead and recompute the luma sum pixel-by-pixel
    val png = res("ramp_37x23.png")
    var expect = 0L
    for (y <- 0 until 23; x <- 0 until 37) {
      val (r, g, b) = ((x * 7) % 256, (y * 11) % 256, (x + y) % 256)
      expect += (r * 299 + g * 587 + b * 114) / 1000
    }
    assert(ImageIoCodec.luminanceSum(0L, png) === expect)
  }

  test("Multimodal.decodeMeta plumbing carries the real codec unchanged") {
    import spark.implicits._
    val media = Seq(
      (1L, res("ramp_37x23.png"), "image"),
      (2L, res("gradient_64x48.png"), "image"),
      (3L, res("anim_20x10_3f.gif"), "image"),
      (4L, "fake audio payload".getBytes("UTF-8"), "audio"))
      .toDF("doc_id", "payload", "kind")
    val metas = Multimodal.decodeMeta(media, ImageIoCodec)
      .collect().map(m => m.doc_id -> m).toMap
    assert(metas(1L).width === 37 && metas(1L).height === 23)
    assert(metas(2L).width === 64 && metas(2L).height === 48)
    assert(metas(3L).n_frames === 3)
    // the audio row flowed through the stub branch inside the same pass
    assert(metas(4L) === StubCodec.decodeMeta(4L,
      "fake audio payload".getBytes("UTF-8"), "audio"))
  }

  test("q300/q301 run end-to-end on the fixture and return rows") {
    val r = SparkEntry.queries("q300_imageio_roundtrip")(spark, sf())
    assert(r.count() > 0)
    assert(r.where(!col("png_valid")).count() === 0)
    val h = SparkEntry.queries("q301_imageio_histogram")(spark, sf())
    assert(h.count() === r.count())
  }
}
