package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Opaque media metadata produced by the decode stage. */
case class MediaMeta(doc_id: Long, kind: String, n_bytes: Long,
    width: Int, height: Int, n_frames: Int)

/** Codec seam: the two per-payload calls a real multimodal pipeline
  * implements with JNI/FFI or a per-partition subprocess (libjpeg/ffmpeg/
  * a vision encoder). Implementations MUST be serializable — the instance
  * ships to executors inside the mapPartitions closures; a heavyweight
  * native handle should live in a lazy transient field so each executor
  * opens it once, not per serialization. */
trait MediaCodec extends Serializable {
  /** Container metadata for one payload (dimensions, frame count). */
  def decodeMeta(id: Long, bytes: Array[Byte], kind: String): MediaMeta
  /** Dense feature vector for one payload (the encoder forward pass). */
  def encodeFeature(id: Long, bytes: Array[Byte], kind: String, dim: Int): MediaFeature
}

/** The default codec: a deterministic offline STUB. Metadata derives from
  * the byte stream and the feature is an L2-normalized byte histogram —
  * fake but stable, so seam-focused operators (q32/q41's fake payloads,
  * which are utf-8 text bytes and decode under no real codec) are testable
  * with zero decode dependencies. Every modality also has a REAL pure-JVM
  * codec behind the same seam: [[ImageIoCodec]] (PNG/JPEG/GIF/BMP),
  * [[AudioIoCodec]] (WAV/AIFF/AU), and [[AviCodec]] (uncompressed-DIB
  * AVI video) — chain head [[AviCodec]] covers all three. */
object StubCodec extends MediaCodec {
  override def decodeMeta(id: Long, bytes: Array[Byte], kind: String): MediaMeta = {
    val n = bytes.length.toLong
    MediaMeta(id, kind, n, (64 + n % 576).toInt, (64 + (n * 31) % 576).toInt, (1 + n % 120).toInt)
  }
  override def encodeFeature(id: Long, bytes: Array[Byte], kind: String, dim: Int): MediaFeature = {
    val acc = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) { acc((bytes(i) & 0xFF) % dim) += 1f; i += 1 }
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += acc(j).toDouble * acc(j); j += 1 }
    val n = math.sqrt(norm)
    if (n > 0) { j = 0; while (j < dim) { acc(j) = (acc(j) / n).toFloat; j += 1 } }
    MediaFeature(id, kind, acc)
  }
}

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, decoded executor-side in partition batches.
  *
  * The Spark-side shape is real — binary payload column, typed Dataset
  * decode over mapPartitions (the Scala analog of a pandas-UDF batch),
  * partition-parallel, no driver collect. The codec is a pluggable
  * [[MediaCodec]] seam defaulting to the deterministic [[StubCodec]]; a
  * real JNI/subprocess codec drops in per call site and nothing else
  * changes (operator schemas, partitioning, and batch shape are
  * codec-independent).
  */
object Multimodal {

  /** Build a fake media table from a text corpus: payload = utf-8 bytes,
    * kind round-robins image/audio/video. Stands in for a real binary
    * column read from parquet. */
  def packFake(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      expr("CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END").as("kind"))

  /** Decode metadata for every payload — executor-side, batched per
    * partition, returns a typed Dataset. The codec is injectable; the
    * default is the deterministic offline stub. */
  def decodeMeta(media: DataFrame, codec: MediaCodec = StubCodec): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "payload", "kind").as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, bytes, kind) => codec.decodeMeta(id, bytes, kind) })
  }

  /** Frame sampling for video-kind rows: one output row per sampled frame
    * index (every `stride`-th frame) — the explode pattern a real
    * frame-extraction stage uses, with the decode stubbed. */
  def sampleFrames(meta: Dataset[MediaMeta], stride: Int = 30): DataFrame = {
    meta.toDF()
      .where(col("kind") === "video")
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))
  }
}

/** Dense feature vector produced by the (stubbed) encoder stage. */
case class MediaFeature(doc_id: Long, kind: String, embedding: Array[Float])
