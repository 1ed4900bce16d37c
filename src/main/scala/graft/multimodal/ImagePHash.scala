package graft.multimodal


/** Perceptual average-hash (aHash) over the REAL ImageIO decode path —
  * the image-dedup primitive the multimodal family was missing: decode →
  * 8×8 average-pool → threshold each block against the global mean. Two
  * images that differ only by a uniform brightness shift (the classic
  * re-encode/levels-tweak near-dup) hash IDENTICALLY — the comparison
  * `blockSum·(w·h) > totalSum·(bw·bh)` is translation-invariant because
  * the shift adds the same term to both sides — while structural changes
  * (gradient direction, content) flip bits.
  *
  * All-integer arithmetic end to end (sums of 8-bit samples in longs, one
  * cross-multiplied comparison per block, strict `>` so ties are a
  * deterministic 0), so the DuckDB twin recomputes the exact hash from
  * the generation lattice (q300/q301's lossless-PNG license). The hash is
  * returned as a 64-char '0'/'1' string (block order b = bj·8 + bi,
  * row-major) — engine-neutral, no 64th-bit sign games in either engine.
  *
  * At 100 TB: hashing is embarrassingly parallel beside the decode (the
  * payload never leaves its partition; only the 64-char hash shuffles),
  * and dedup is a hash-groupBy — the q26 shape on a perceptual key.
  * Requires w, h divisible by 8 so blocks partition the raster exactly
  * (the integer-exactness license); production callers resize first.
  */
object ImagePHash {

  def aHashBits(id: Long, bytes: Array[Byte]): String = {
    val img = ImageStreams.readImage(bytes)
    require(img != null, s"payload $id: ImageIO could not decode the byte stream")
    val (w, h) = (img.getWidth, img.getHeight)
    require(w % 8 == 0 && h % 8 == 0,
      s"payload $id: aHash needs dims divisible by 8, got ${w}x$h")
    // the cross-multiplied comparison below needs 255·(w·h)²/64 < 2⁶³:
    // w·h ≤ 1.5e9 keeps it exact (overflow would silently flip bits)
    require(w.toLong * h <= 1500000000L,
      s"payload $id: raster ${w}x$h too large for exact integer aHash")
    val raster = img.getRaster
    val bands = raster.getNumBands
    val shift = math.max(0, raster.getSampleModel.getSampleSize(0) - 8)
    def lum(x: Int, y: Int): Long =
      if (bands < 3) (raster.getSample(x, y, 0) >> shift).toLong
      else {
        val r = raster.getSample(x, y, 0) >> shift
        val g = raster.getSample(x, y, 1) >> shift
        val b = raster.getSample(x, y, 2) >> shift
        ((r * 299 + g * 587 + b * 114) / 1000).toLong
      }
    val (bw, bh) = (w / 8, h / 8)
    val blockSums = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = lum(x, y)
        blockSums((y / bh) * 8 + (x / bw)) += v
        total += v
        x += 1
      }
      y += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var b = 0
    while (b < 64) {
      // blockMean > globalMean, cross-multiplied: exact in longs
      // (blockSum·w·h ≤ 255·(w·h)²/64, which stays below 2⁶³ up to
      // w·h ≈ 1.5e9, ~39k×39k — guarded by the require above)
      sb.append(if (blockSums(b) * w * h > total * bw * bh) '1' else '0')
      b += 1
    }
    sb.toString
  }
}
