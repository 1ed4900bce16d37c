package graft.multimodal

import javax.imageio.ImageIO

/** Multi-frame media made REAL in pure JVM: animated GIF is the one
  * multi-frame container javax.imageio both writes and reads losslessly
  * (palette-exact for ≤ 256 distinct sample values — our grayscale ramps
  * by construction), so the brief's frame-sample operation gets an
  * actual decoder instead of the video StubCodec: count frames from the
  * container, decode every k-th frame, reduce. The proper-video stub
  * stays for mp4/h264 (no pure-JVM decoder exists); the dataflow shape
  * proven here — per-row multi-frame decode, sampled-frame reduction,
  * only scalars leave the partition — is codec-independent.
  */
object GifCodec {

  /** (n_frames, n_sampled, sampled_pixel_sum): decode frames
    * 0, k, 2k, … and sum their luminance. One reader per payload, frames
    * decoded on demand — a frame-sample pass over a 100 TB corpus reads
    * each container once and never shuffles pixel data.
    *
    * FULL-FRAME ASSUMPTION: each frame is summed AS STORED — the raster
    * `reader.read(f)` returns, with no composition against the logical
    * screen. A delta-encoded GIF (frames stored as changed sub-rectangles
    * with x/y offsets, disposal-dependent) would contribute only its
    * stored sub-rectangle. Exact for this repo's generator (every frame
    * is written full-screen, no offsets — ImageGen.animatedRampGif) and
    * for any full-frame GIF; a general player-style operator would first
    * composite each frame onto the screen per the disposal method
    * ([[AviCodec.frameStats]] needs no such caveat: DIB AVI frames are
    * full-screen by construction). */
  def frameStats(id: Long, bytes: Array[Byte], sampleEvery: Int): (Int, Int, Long) = {
    require(sampleEvery >= 1, "sampleEvery must be >= 1")
    val iis = ImageStreams.imageInput(bytes)
    val readers = ImageIO.getImageReaders(iis)
    require(readers.hasNext, s"payload $id: no ImageIO reader for the byte stream")
    val reader = readers.next()
    reader.setInput(iis)
    try {
      val n = reader.getNumImages(true)
      var sum = 0L
      var sampled = 0
      var f = 0
      while (f < n) {
        val raster = reader.read(f).getRaster
        val bands = raster.getNumBands
        val shift = math.max(0, raster.getSampleModel.getSampleSize(0) - 8)
        var y = 0
        while (y < raster.getHeight) {
          var x = 0
          while (x < raster.getWidth) {
            sum +=
              (if (bands < 3) raster.getSample(x, y, 0) >> shift
               else {
                 val r = raster.getSample(x, y, 0) >> shift
                 val g = raster.getSample(x, y, 1) >> shift
                 val b = raster.getSample(x, y, 2) >> shift
                 (r * 299 + g * 587 + b * 114) / 1000
               }).toLong
            x += 1
          }
          y += 1
        }
        sampled += 1
        f += sampleEvery
      }
      (n, sampled, sum)
    } finally { reader.dispose(); iis.close() }
  }
}

/** Area-average image resize, integer-exact: each output pixel is the
  * FLOOR-averaged block of the source (requires the source dims to be
  * exact multiples of the target — production callers pad/crop first;
  * the divisibility is what licenses the bit-exact DuckDB twin). The
  * brief's resize step through the real decode path: decode → block
  * sums → one integer division per output pixel; only the (ow·oh)
  * resized surface (or its reductions) leaves the partition. */
object ImageResize {

  /** Row-major resized pixels (length ow·oh), each = floor(blockSum /
    * blockArea) of the decoded luminance. */
  def areaResize(id: Long, bytes: Array[Byte], ow: Int, oh: Int): Array[Long] = {
    val img = ImageStreams.readImage(bytes)
    require(img != null, s"payload $id: ImageIO could not decode the byte stream")
    val (w, h) = (img.getWidth, img.getHeight)
    require(w % ow == 0 && h % oh == 0,
      s"payload $id: area resize needs exact block factors, ${w}x$h -> ${ow}x$oh")
    val (bw, bh) = (w / ow, h / oh)
    val raster = img.getRaster
    val bands = raster.getNumBands
    val shift = math.max(0, raster.getSampleModel.getSampleSize(0) - 8)
    val sums = new Array[Long](ow * oh)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v =
          if (bands < 3) (raster.getSample(x, y, 0) >> shift).toLong
          else {
            val r = raster.getSample(x, y, 0) >> shift
            val g = raster.getSample(x, y, 1) >> shift
            val b = raster.getSample(x, y, 2) >> shift
            ((r * 299 + g * 587 + b * 114) / 1000).toLong
          }
        sums((y / bh) * ow + (x / bw)) += v
        x += 1
      }
      y += 1
    }
    val area = bw.toLong * bh
    sums.map(_ / area)
  }
}
