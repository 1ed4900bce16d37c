package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}

/** Real pure-JVM audio codec behind the [[MediaCodec]] seam: WAV/AIFF/AU
  * via `javax.sound.sampled` — no native dependency, ships in every JDK.
  * Non-audio kinds chain to [[ImageIoCodec]]; video is covered by
  * [[AviCodec]] (round 15 — chain head for the full real-codec stack:
  * video + audio + image, no stub on any modality).
  *
  * Scale posture mirrors [[ImageIoCodec]]:
  *  - `decodeMeta` is HEADER-ONLY — `AudioSystem.getAudioFileFormat`
  *    parses the RIFF/AIFF container header without touching sample data,
  *    so a metadata pass over 100 TB of audio reads tens of bytes per
  *    payload, not the payload;
  *  - `encodeFeature` is the full PCM decode (the expensive pass a real
  *    pipeline fuses with the encoder forward call), executor-side in
  *    partition batches via the existing Multimodal plumbing.
  * [[MediaMeta]] field mapping for audio (documented, not overloaded
  * schema): `width` = sample rate in Hz, `height` = channel count,
  * `n_frames` = PCM frame count from the header.
  * Serializable singleton: no per-record state survives a call, the
  * closure ships cleanly to executors. */
object AudioIoCodec extends MediaCodec {

  /** Every `AudioSystem` entry point funnels through a SYNCHRONIZED
    * provider registry (`JDK13Services.getProviders`) — on a 32-thread
    * executor the lock convoy makes the registry, not PCM work, the
    * bill: 32 decode threads measured 0.5× SLOWER than one (BASELINE.md
    * round 14, "Audio-codec scalability bug"), and the sf1 suite showed
    * q319/q320/q333 at ~20× for 10× docs. The SPI types
    * (`javax.sound.sampled.spi`) are public API: resolve the platform
    * providers ONCE here and dispatch directly — provider instances are
    * stateless parsers, safe to share across threads. */
  @transient private lazy val fileReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    // The MIDI soundbank reader's probe itself funnels through the
    // SYNCHRONIZED MidiSystem registry (jstack: 32 threads BLOCKED on
    // JSSecurityManager.getProviders inside SoftMidiAudioFileReader even
    // for WAV payloads it ultimately rejects). The RIFF/AIFF/AU readers
    // are lock-free parsers — order them first so recognized payloads
    // never reach the MIDI path.
    val (midi, rest) = b.result()
      .partition(_.getClass.getName.toLowerCase.contains("midi"))
    rest ++ midi
  }

  @transient private lazy val fileWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) b += it.next()
    b.result()
  }

  private def firstSupporting[A](id: Long, f: javax.sound.sampled.spi.AudioFileReader => A): A = {
    val it = fileReaders.iterator
    while (it.hasNext) {
      try return f(it.next())
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      s"payload $id: no audio reader recognized the byte stream")
  }

  private[multimodal] def writeWave(ais: AudioInputStream,
      out: ByteArrayOutputStream): Unit = {
    val w = fileWriters.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais))
      .getOrElse(sys.error("no WAVE writer available"))
    w.write(ais, AudioFileFormat.Type.WAVE, out)
  }

  override def decodeMeta(id: Long, bytes: Array[Byte], kind: String): MediaMeta =
    if (kind != "audio") ImageIoCodec.decodeMeta(id, bytes, kind)
    else {
      val ff = firstSupporting(id,
        _.getAudioFileFormat(new ByteArrayInputStream(bytes)))
      val f = ff.getFormat
      MediaMeta(id, kind, bytes.length.toLong,
        math.round(f.getSampleRate), f.getChannels, math.max(ff.getFrameLength, 0))
    }

  override def encodeFeature(id: Long, bytes: Array[Byte], kind: String, dim: Int): MediaFeature =
    if (kind != "audio") ImageIoCodec.encodeFeature(id, bytes, kind, dim)
    else {
      // amplitude histogram over the full 16-bit range, L2-normalized —
      // the same integer-bucket + normalize shape as the image codec's
      // luminance histogram, so downstream similarity/dedup operators
      // consume both modalities identically
      val acc = new Array[Float](dim)
      foreachSample(id, bytes) { v => acc(((v + 32768) * dim) >>> 16) += 1f }
      var norm = 0.0
      var j = 0
      while (j < dim) { norm += acc(j).toDouble * acc(j); j += 1 }
      val n = math.sqrt(norm)
      if (n > 0) { j = 0; while (j < dim) { acc(j) = (acc(j) / n).toFloat; j += 1 } }
      MediaFeature(id, kind, acc)
    }

  /** Exact peak |amplitude| over the decoded PCM — the integer round-trip
    * witness q320 hash-checks against a closed form (PCM is lossless, so
    * decoded samples equal generated samples bit-for-bit). */
  def peakAbs(id: Long, bytes: Array[Byte]): Long = {
    var p = 0L
    foreachSample(id, bytes) { v => val a = math.abs(v.toLong); if (a > p) p = a }
    p
  }

  /** Windowed energy with frame sampling — the audio analog of the q332
    * GIF frame-sample: split the decoded interleaved sample stream into
    * `window`-sample windows, visit every `every`-th window (0, every,
    * 2·every, …), and reduce to (n_windows, n_sampled, Σ|amp| over
    * sampled windows, max sampled window Σ|amp|). All integer; the final
    * ragged window closes with whatever it holds. Per-payload streaming
    * pass — only the four scalars leave the partition. */
  def windowedAbsStats(id: Long, bytes: Array[Byte], window: Int,
      every: Int): (Long, Long, Long, Long) = {
    require(window >= 1 && every >= 1, "window and every must be >= 1")
    var inWin = 0
    var cur = 0L
    var nW = 0L
    var nS = 0L
    var tot = 0L
    var mx = 0L
    def close(): Unit = {
      if ((nW % every) == 0) { nS += 1; tot += cur; if (cur > mx) mx = cur }
      nW += 1; cur = 0L; inWin = 0
    }
    foreachSample(id, bytes) { v =>
      cur += math.abs(v.toLong)
      inWin += 1
      if (inWin == window) close()
    }
    if (inWin > 0) close()
    (nW, nS, tot, mx)
  }

  /** Decode the payload to PCM and visit every 16-bit sample (interleaved
    * channel order, as stored). Signed 16-bit PCM only — the dominant
    * uncompressed interchange format; anything else fails loudly rather
    * than mis-bucketing. */
  private def foreachSample(id: Long, bytes: Array[Byte])(f: Int => Unit): Unit = {
    val in = firstSupporting(id,
      _.getAudioInputStream(new ByteArrayInputStream(bytes)))
    try {
      val fmt = in.getFormat
      require(fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16,
        s"payload $id: only 16-bit signed PCM is supported, got $fmt")
      val bigEndian = fmt.isBigEndian
      val data = in.readAllBytes()
      var i = 0
      while (i + 1 < data.length) {
        val v =
          if (bigEndian) (data(i).toInt << 8) | (data(i + 1) & 0xFF)
          else (data(i + 1).toInt << 8) | (data(i) & 0xFF)
        f(v)
        i += 2
      }
    } finally in.close()
  }
}

/** Deterministic synthetic WAV source for the oracle-checked audio queries
  * and specs — the [[ImageGen]] pattern for the audio modality: PCM is
  * lossless, so decoded samples equal generated samples exactly and DuckDB
  * predicts decode results from the SAME integer arithmetic. */
object AudioGen {
  /** Interleaved sample `i` of payload `id`:
    * ((i·31153 + id·40503) mod 65536) − 32768 — exact integer arithmetic
    * in both engines (31153 is odd, so the sequence walks all residues;
    * no float sine anywhere near the oracle). */
  def sampleAt(id: Long, i: Long): Int =
    (((i * 31153L + id * 40503L) % 65536L) - 32768L).toInt

  /** 16-bit signed little-endian PCM WAV for `id`: frames = 256 + id%777,
    * channels = 1 + id%2, rate = 8000 + (id%4)·4000 Hz — each a closed
    * form of id for the q319 metadata oracle. Encoded through
    * `AudioSystem.write` (the JDK's canonical 44-byte-header WAVE writer),
    * so the ENCODE side of javax.sound is exercised too. */
  def pcmWav(id: Long): Array[Byte] = {
    val frames = (256 + id % 777).toInt
    val channels = (1 + id % 2).toInt
    val rate = (8000 + (id % 4) * 4000).toFloat
    val n = frames * channels
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val amp = sampleAt(id, i)
      data(2 * i) = (amp & 0xFF).toByte
      data(2 * i + 1) = ((amp >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate, 16, channels, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new ByteArrayOutputStream()
    // direct SPI dispatch — AudioSystem.write serializes on the global
    // provider registry (see AudioIoCodec.fileWriters)
    AudioIoCodec.writeWave(ais, bos)
    bos.toByteArray
  }
}
