package graft.multimodal

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

/** In-memory ImageIO plumbing. `ImageIO.read(InputStream)` / `write(…,
  * OutputStream)` / `createImageXStream` all spill through a FILE-backed
  * cache stream by default — a temp-file round trip per payload.
  * BASELINE.md round 14 ("The IMAGE twin") records the tax on 16×16 PNG
  * generate+decode: 2.7× single-thread, and 32-thread speedup capped at
  * ×2.4 by temp-file churn vs ×6.8 with memory streams. These helpers
  * pin `MemoryCacheImageXStream` explicitly — byte-array payloads never
  * touch the filesystem — without flipping the process-global
  * `ImageIO.setUseCache`. */
private[multimodal] object ImageStreams {
  def imageInput(bytes: Array[Byte]): javax.imageio.stream.ImageInputStream =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(bytes))

  def imageOutput(out: java.io.OutputStream): javax.imageio.stream.ImageOutputStream =
    new javax.imageio.stream.MemoryCacheImageOutputStream(out)

  def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    // ImageIO.read(ImageInputStream) closes the stream itself on a
    // successful decode; close ourselves only on the null/throw paths.
    val iis = imageInput(bytes)
    val img =
      try ImageIO.read(iis)
      catch {
        case e: Throwable =>
          try iis.close() catch { case _: java.io.IOException => }
          throw e
      }
    if (img == null) { try iis.close() catch { case _: java.io.IOException => } }
    img
  }

  def writePng(img: java.awt.image.BufferedImage, out: java.io.OutputStream): Unit = {
    val ios = imageOutput(out)
    try ImageIO.write(img, "png", ios) finally ios.close()
  }
}

/** Real pure-JVM image codec behind the [[MediaCodec]] seam: JPEG/PNG/GIF/
  * BMP via `javax.imageio` — no native dependency, ships in every JDK.
  * Audio/video kinds still fall back to [[StubCodec]] (no pure-JVM
  * ffmpeg equivalent exists; that decode stays behind the seam).
  *
  * Scale posture mirrors a production decode stage:
  *  - `decodeMeta` is HEADER-ONLY — `ImageReader.getWidth/getHeight(0)`
  *    parse the container header without decoding pixel data, so a
  *    metadata pass over 100 TB of images reads a few hundred bytes per
  *    payload, not the payload;
  *  - `encodeFeature` is the full pixel decode (the expensive pass a real
  *    pipeline fuses with the encoder forward call), executed executor-
  *    side in partition batches via the existing Multimodal plumbing.
  * The object is a serializable singleton: no per-record reader state
  * survives a call, so the closure ships cleanly to executors. */
object ImageIoCodec extends MediaCodec {

  override def decodeMeta(id: Long, bytes: Array[Byte], kind: String): MediaMeta =
    if (kind != "image") StubCodec.decodeMeta(id, bytes, kind)
    else {
      val iis = ImageStreams.imageInput(bytes)
      try {
        val readers = ImageIO.getImageReaders(iis)
        require(readers.hasNext, s"payload $id: no ImageIO reader recognises the byte stream")
        val r = readers.next()
        try {
          r.setInput(iis)
          // GIF reports its frame count; single-frame formats return 1.
          // allowSearch = true may scan the stream but never decodes pixels.
          val frames = try math.max(r.getNumImages(true), 1)
                       catch { case _: java.io.IOException => 1 }
          MediaMeta(id, kind, bytes.length.toLong, r.getWidth(0), r.getHeight(0), frames)
        } finally r.dispose()
      } finally iis.close()
    }

  override def encodeFeature(id: Long, bytes: Array[Byte], kind: String, dim: Int): MediaFeature =
    if (kind != "image") StubCodec.encodeFeature(id, bytes, kind, dim)
    else {
      val acc = new Array[Float](dim)
      foreachLuminance(id, bytes) { v => acc(v * dim / 256) += 1f }
      var norm = 0.0
      var j = 0
      while (j < dim) { norm += acc(j).toDouble * acc(j); j += 1 }
      val n = math.sqrt(norm)
      if (n > 0) { j = 0; while (j < dim) { acc(j) = (acc(j) / n).toFloat; j += 1 } }
      MediaFeature(id, kind, acc)
    }

  /** Exact sum of per-pixel luminance over the decoded image — the
    * round-trip witness q300 hash-checks against a closed form. Integer
    * BT.601 luma (×1000) for multi-band images; band 0 directly for
    * grayscale, so a TYPE_BYTE_GRAY round trip is bit-exact. */
  def luminanceSum(id: Long, bytes: Array[Byte]): Long = {
    var s = 0L
    foreachLuminance(id, bytes) { v => s += v }
    s
  }

  private def foreachLuminance(id: Long, bytes: Array[Byte])(f: Int => Unit): Unit = {
    val img = ImageStreams.readImage(bytes)
    require(img != null, s"payload $id: ImageIO could not decode the byte stream")
    val raster = img.getRaster
    val bands = raster.getNumBands
    // Normalize every sample to 8 bits BEFORE the luma/histogram math: a
    // 16-bit PNG's samples run to 65535 and would otherwise index past the
    // feature histogram. Shift, not divide — bit-exact no-op at 8 bits, so
    // the TYPE_BYTE_GRAY round trip (q300's closed form) is untouched.
    val shift = math.max(0, raster.getSampleModel.getSampleSize(0) - 8)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val v =
          // < 3 bands covers grayscale AND grayscale+alpha (2-band PNG):
          // band 0 is the luminance either way, alpha is not color
          if (bands < 3) raster.getSample(x, y, 0) >> shift
          else {
            val r = raster.getSample(x, y, 0) >> shift
            val g = raster.getSample(x, y, 1) >> shift
            val b = raster.getSample(x, y, 2) >> shift
            (r * 299 + g * 587 + b * 114) / 1000
          }
        f(v)
        x += 1
      }
      y += 1
    }
  }
}

/** Deterministic synthetic image source for the oracle-checked round-trip
  * queries and specs: PNG is lossless, so the decoded pixels equal the
  * generated pixels exactly and DuckDB can predict decode results from the
  * SAME arithmetic (the lexicon-twin pattern, applied to pixels). */
object ImageGen {
  /** w×h grayscale PNG with pixel(x, y) = x + y. Callers keep
    * w + h ≤ 256 so the ramp never wraps and the luminance sum has the
    * closed form h·w(w−1)/2 + w·h(h−1)/2. */
  def gradientPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, x + y); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageStreams.writePng(img, bos)
    bos.toByteArray
  }

  /** w×h grayscale PNG with pixel(x, y) = dx·x + dy·y + c — the q330
    * family: direction (dx, dy) is the perceptual CONTENT, c a uniform
    * brightness shift aHash must be invariant to. Callers keep
    * dx·(w−1) + dy·(h−1) + c ≤ 255 so the ramp never clamps and the
    * twin's lattice arithmetic is the exact pixel value. */
  def rampPng(w: Int, h: Int, dx: Int, dy: Int, c: Int,
      spike: Int = 0): Array[Byte] = {
    require(dx * (w - 1) + dy * (h - 1) + c <= 255, "ramp would clamp")
    require(c + spike <= 255, "spiked origin pixel would clamp")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val s = if (x == 0 && y == 0) spike else 0
        raster.setSample(x, y, 0, dx * x + dy * y + c + s)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageStreams.writePng(img, bos)
    bos.toByteArray
  }

  /** w×h grayscale checkerboard PNG: pixel(x, y) = base + amp·((x/period
    * + y/period + phase) mod 2) — the q339 family: the checker PERIOD and
    * phase are the perceptual content (strong distinct harmonics, the
    * spectrum a DCT hash discriminates on; ramps are spectrally
    * degenerate — every non-DC coefficient hugs the median), base a
    * uniform brightness shift the hash must be invariant to. */
  def checkerPng(w: Int, h: Int, period: Int, phase: Int, base: Int,
      amp: Int): Array[Byte] = {
    require(base + amp <= 255, "checker would clamp")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0,
          base + amp * ((x / period + y / period + phase) % 2))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageStreams.writePng(img, bos)
    bos.toByteArray
  }

  /** w×h grayscale PNG from explicit row-major pixel values (0..255) —
    * renders an [[ImageResize.areaResize]] output back to a decodable
    * payload, so resized VARIANTS of an image can flow through the same
    * real decode path as the original. */
  def grayPng(w: Int, h: Int, vals: Array[Long]): Array[Byte] = {
    require(vals.length == w * h, s"need ${w * h} pixels, got ${vals.length}")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = vals(y * w + x)
        require(v >= 0 && v <= 255, s"pixel out of range: $v")
        raster.setSample(x, y, 0, v.toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageStreams.writePng(img, bos)
    bos.toByteArray
  }

  /** Animated grayscale GIF: frame f has pixel(x, y) = dx·x + dy·y +
    * step·f + c. GIF's palette is exact for ≤ 256 distinct values, so the
    * decode is lossless and the q332 twin predicts every frame sum from
    * the generation lattice. Caller keeps the max frame value ≤ 255. */
  def animatedRampGif(w: Int, h: Int, dx: Int, dy: Int, c: Int,
      nFrames: Int, step: Int): Array[Byte] = {
    require(dx * (w - 1) + dy * (h - 1) + step * (nFrames - 1) + c <= 255,
      "ramp would clamp")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageStreams.imageOutput(bos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, dx * x + dy * y + step * f + c)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }
}
