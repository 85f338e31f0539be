package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline: image/audio/video
  * travel as opaque `binary` columns with typed metadata; decode /
  * feature-extraction runs per-partition so an expensive native decoder
  * (libjpeg/ffmpeg/torchvision in a real deployment) initializes once per
  * task and processes records in batches.
  *
  * This container ships no media libraries, so the default [[Decoder]] is
  * a clearly-marked deterministic STUB (md5-derived features) — the
  * Spark-side plumbing (schemas, encoders, partitioning, the
  * mapPartitions batch shape, decode-failure accounting) is real and
  * tested, and the stub is reproducible in SQL for the DuckDB oracle.
  */
object Multimodal {

  /** One media asset: opaque payload + typed metadata (the metadata comes
    * from ingest, e.g. container headers, not from decoding).
    */
  case class MediaRecord(
      media_id: Long,
      kind: String, // "image" | "audio" | "video" | "text"
      bytes: Array[Byte],
      width: Int,
      height: Int,
      sample_rate: Int)

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      decode_ok: Boolean,
      features: Array[Double])

  /** Batch decoder contract. `init()` runs once per partition (load the
    * native library / model weights); `decode` maps payload bytes to a
    * fixed-dim feature vector, or None on decode failure.
    */
  trait Decoder extends Serializable {
    def init(): Unit = ()
    def decode(kind: String, bytes: Array[Byte]): Option[Array[Double]]
  }

  /** STUB decoder: deterministic md5-derived pseudo-features,
    * feature(i) = h32(md5(bytes ++ "#f<i>")) / 2^32  in [0, 1).
    * Reproducible in any engine with md5 — used by the oracle check.
    * Empty payloads fail to "decode" (exercises the failure path).
    */
  class StubDecoder(dim: Int) extends Decoder {
    @transient private var md: java.security.MessageDigest = _
    override def init(): Unit = { md = java.security.MessageDigest.getInstance("MD5") }
    override def decode(kind: String, bytes: Array[Byte]): Option[Array[Double]] = {
      if (bytes.isEmpty) return None
      Some(Array.tabulate(dim) { i =>
        val d = md.digest(bytes ++ s"#f$i".getBytes("UTF-8"))
        val h = java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
        h.toDouble / 4294967296.0
      })
    }
  }

  /** Average-hash grid decoder — the aHash front half (downscale to a
    * fixed grid, one mean per cell), with byte blocks standing in for
    * pixel blocks: feature(i) = mean unsigned value of the i-th of `dim`
    * equal byte blocks (trailing blocks past the payload are 0). Unlike
    * [[StubDecoder]]'s md5 features this is LOCALITY-PRESERVING: a small
    * byte edit moves one block's mean, so near-identical payloads land
    * within small Hamming distance of each other after sign-thresholding
    * — the property perceptual near-dup search needs. Deterministic and
    * reproducible on the hex plane for the DuckDB oracle.
    */
  class AHashDecoder(dim: Int) extends Decoder {
    override def decode(kind: String, bytes: Array[Byte]): Option[Array[Double]] = {
      if (bytes.isEmpty) return None
      val n = bytes.length
      val s = (n + dim - 1) / dim
      Some(Array.tabulate(dim) { i =>
        val from = i * s
        val until = math.min((i + 1) * s, n)
        if (from >= n) 0.0
        else {
          var sum = 0L
          var j = from
          while (j < until) { sum += bytes(j) & 0xff; j += 1 }
          sum.toDouble / (until - from)
        }
      })
    }
  }

  /** Per-partition batch feature extraction. Records with failed decodes
    * are KEPT with decode_ok=false and empty features (drop-and-count is
    * the pipeline's decision, mirroring the malformed-JSON path F1).
    *
    * Seam error contract (r13, MultimodalSpec-pinned): a REAL codec is
    * native code that throws — truncated JPEG, unsupported codec id,
    * OOM inside the library — and one poisoned asset must never fail a
    * 100 TB job (Spark would retry the task 4× and kill the app). So
    * the seam catches NonFatal per RECORD and routes it to the same
    * decode_ok=false accounting as a clean None; and because a codec
    * can also return malformed output rather than throw, callers pass
    * `expectDim` so a wrong-dimension feature vector is demoted to a
    * failed decode instead of corrupting downstream fixed-dim ops
    * (cosine/pHash assume the dim; a ragged row would throw deep in a
    * later stage, far from the asset that caused it). Fatal errors
    * (JVM-level: OutOfMemoryError etc.) still propagate — retrying
    * those IS the right behavior.
    */
  def extractFeatures(ds: Dataset[MediaRecord], decoder: Decoder,
      expectDim: Option[Int] = None): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      decoder.init() // once per partition, not per record
      it.map { r =>
        val decoded =
          try decoder.decode(r.kind, r.bytes)
          catch { case scala.util.control.NonFatal(_) => None }
        decoded.filter(f => expectDim.forall(_ == f.length)) match {
          case Some(f) => MediaFeatures(r.media_id, r.kind, r.bytes.length, decode_ok = true, f)
          case None => MediaFeatures(r.media_id, r.kind, r.bytes.length, decode_ok = false, Array.empty)
        }
      }
    }
  }

  /** Frame sampling for video-like payloads: every `stride`-th
    * `frameSize`-byte block (a real decoder samples keyframes; the block
    * structure stands in for frames). Pure plumbing: partition-parallel,
    * no shuffle, bounded output.
    */
  def sampleFrames(ds: Dataset[MediaRecord], frameSize: Int, stride: Int,
      maxFrames: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      r.bytes.grouped(frameSize).zipWithIndex
        .filter { case (_, i) => i % stride == 0 }
        .take(maxFrames)
        .map { case (frame, i) => (r.media_id, i, frame) }
    }.toDF("media_id", "frame_index", "frame_bytes")
  }

  /** Adapt the documents table into a media Dataset (text payloads) —
    * the harness has no binary corpus, so text bytes stand in; the
    * pipeline is payload-agnostic by construction.
    */
  def mediaFromDocuments(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"), lit("text").as("kind"),
        col("text").cast("binary").as("bytes"),
        lit(0).as("width"), lit(0).as("height"), lit(0).as("sample_rate"))
      .as[MediaRecord]
  }
}
