package graft

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaRecord, StubDecoder}

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private def media(rows: (Long, String, String)*): org.apache.spark.sql.Dataset[MediaRecord] =
    rows.map { case (id, kind, payload) =>
      MediaRecord(id, kind, payload.getBytes("UTF-8"), 0, 0, 0)
    }.toDS()

  test("extractFeatures: fixed-dim deterministic features, once-per-partition init") {
    val ds = media((1L, "image", "pixels-go-here"), (2L, "audio", "pcm-bytes"))
    val out = Multimodal.extractFeatures(ds, new StubDecoder(8)).collect().sortBy(_.media_id)
    assert(out.forall(_.decode_ok))
    assert(out.forall(_.features.length == 8))
    assert(out.forall(_.features.forall(f => f >= 0.0 && f < 1.0)))
    // deterministic across runs
    val out2 = Multimodal.extractFeatures(ds, new StubDecoder(8)).collect().sortBy(_.media_id)
    assert(out.map(_.features.toSeq).toSeq == out2.map(_.features.toSeq).toSeq)
  }

  test("decode failure path: empty payload kept with decode_ok=false") {
    val ds = media((1L, "image", "ok"), (2L, "image", ""))
    val out = Multimodal.extractFeatures(ds, new StubDecoder(4)).collect().sortBy(_.media_id)
    assert(out(0).decode_ok && out(1).decode_ok == false)
    assert(out(1).features.isEmpty)
  }

  test("real-codec seam contract: throwing/garbage decodes land in the " +
      "decode_ok=false accounting, job completes, healthy rows unchanged") {
    val ds = media(
      (1L, "image", "healthy-one"), (2L, "image", "CORRUPT-jpeg"),
      (3L, "image", "healthy-two"), (4L, "image", "RAGGED-dims"),
      (5L, "image", "CORRUPT-trailer")).repartition(2)
    val out = Multimodal.extractFeatures(ds, new FlakyNativeCodec(8), expectDim = Some(8))
      .collect().sortBy(_.media_id)
    // the job completed and every record is accounted for exactly once
    assert(out.map(_.media_id).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.filter(!_.decode_ok).map(_.media_id).toSeq == Seq(2L, 4L, 5L))
    assert(out.filter(!_.decode_ok).forall(_.features.isEmpty))
    // per-partition failure accounting == the per-record truth (the
    // drop-count read a curation pipeline does downstream)
    val failCount = Multimodal.extractFeatures(ds, new FlakyNativeCodec(8), Some(8))
      .filter(!_.decode_ok).count()
    assert(failCount == 3L)
    // healthy rows decode exactly as the clean decoder would
    val clean = Multimodal.extractFeatures(
      media((1L, "image", "healthy-one"), (3L, "image", "healthy-two")),
      new StubDecoder(8)).collect().sortBy(_.media_id)
    val healthy = out.filter(_.decode_ok)
    assert(healthy.map(_.features.toSeq).toSeq == clean.map(_.features.toSeq).toSeq)
  }

  test("ImageIoDecoder: a REAL library codec through the seam — synthetic " +
      "PNG/BMP decode, truncated stream throws, garbage returns null") {
    import java.awt.image.BufferedImage
    def imageBytes(format: String, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(32, 16, BufferedImage.TYPE_INT_RGB)
      (0 until 32).foreach(x => (0 until 16).foreach(y => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, format, bos), s"no $format writer")
      bos.toByteArray
    }
    val whitePng = imageBytes("png", 0xffffff)
    val blackBmp = imageBytes("bmp", 0x000000)
    // half white / half black: strip means must read the geometry
    val halfImg = new BufferedImage(32, 16, BufferedImage.TYPE_INT_RGB)
    (0 until 32).foreach(x => (0 until 16).foreach(y =>
      halfImg.setRGB(x, y, if (x < 16) 0xffffff else 0x000000)))
    val halfBos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(halfImg, "png", halfBos)
    val ds = Seq(
      MediaRecord(1L, "image", whitePng, 32, 16, 0),
      MediaRecord(2L, "image", blackBmp, 32, 16, 0),
      MediaRecord(3L, "image", halfBos.toByteArray, 32, 16, 0),
      // native-boundary failure shapes, for real this time:
      MediaRecord(4L, "image", whitePng.take(40), 0, 0, 0), // truncated PNG: ImageIO throws
      MediaRecord(5L, "image", Array.fill[Byte](64)(0x5a), 0, 0, 0) // no container: read() == null
    ).toDS().repartition(2)
    val out = Multimodal.extractFeatures(ds, new ImageIoDecoder(4),
      expectDim = Some(4)).collect().sortBy(_.media_id)
    assert(out.map(_.media_id).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.filter(!_.decode_ok).map(_.media_id).toSeq == Seq(4L, 5L),
      "truncated + garbage streams must land in decode_ok=false; the rest decode")
    val Array(white, black, half) = out.filter(_.decode_ok).map(_.features)
    assert(white.forall(_ == 255.0) && black.forall(_ == 0.0))
    assert(half(0) == 255.0 && half(1) == 255.0 && half(2) == 0.0 && half(3) == 0.0)
  }

  test("sampleFrames: strided fixed-size blocks, bounded count") {
    val payload = (0 until 100).map(i => ('a' + i % 26).toChar).mkString // 100 bytes
    val ds = media((7L, "video", payload))
    val frames = Multimodal.sampleFrames(ds, frameSize = 10, stride = 2, maxFrames = 3)
      .orderBy("frame_index").collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 2, 4))
    assert(frames.forall(_.getAs[Array[Byte]]("frame_bytes").length == 10))
  }

  test("mm_features query runs on the documents table") {
    val df = graft.queries.MultimodalQueries.mmFeatures(spark, sf())
    val rows = df.collect()
    assert(rows.length > 0)
    assert(rows.forall(_.getBoolean(3))) // all documents non-empty
  }
}

/** A real-codec stand-in behaving like native media libraries under
  * corrupt input: THROWS (not Option-clean) on a deterministic subset of
  * assets, returns a wrong-dimension vector on another subset, and
  * decodes the rest. Top-level so the closure serializes without
  * capturing the suite. The seam must finish the job, demote both
  * failure shapes to decode_ok=false, and leave healthy assets untouched
  * — one poisoned asset never costs more than itself.
  */
private[graft] class FlakyNativeCodec(dim: Int) extends Multimodal.Decoder {
  private val inner = new StubDecoder(dim)
  override def init(): Unit = inner.init()
  override def decode(kind: String, bytes: Array[Byte]): Option[Array[Double]] = {
    val s = new String(bytes, "UTF-8")
    if (s.contains("CORRUPT")) throw new RuntimeException(s"native decode error: $s")
    if (s.contains("RAGGED")) Some(Array(0.5)) // wrong dim
    else inner.decode(kind, bytes)
  }
}

/** A REAL codec behind the seam: javax.imageio, the JDK's image reader
  * (PNG/BMP/JPEG/GIF), decoding to a dim-strip mean-luminance vector
  * (vertical strips left→right; luminance = (r+g+b)/3 in [0, 255]).
  * This is a genuine library boundary with both real-codec failure
  * shapes the seam contract handles: `ImageIO.read` returns NULL for
  * an unrecognized container (mapped to None here) and THROWS
  * (IIOException, EOF, index errors) on truncated or corrupt streams
  * (caught by the seam, not here — the decoder stays honest about
  * what the library does). No query decodes with it; the spec above
  * drives it over synthetic PNG/BMP bytes plus truncated and garbage
  * streams.
  */
private[graft] class ImageIoDecoder(dim: Int) extends Multimodal.Decoder {
  override def decode(kind: String, bytes: Array[Byte]): Option[Array[Double]] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null || img.getWidth == 0 || img.getHeight == 0) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      Some(Array.tabulate(dim) { i =>
        val x0 = i * w / dim
        val x1 = math.max(x0 + 1, (i + 1) * w / dim)
        var sum = 0L
        var n = 0
        var x = x0
        while (x < x1 && x < w) {
          var y = 0
          while (y < h) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            n += 3
            y += 1
          }
          x += 1
        }
        if (n == 0) 0.0 else sum.toDouble / n
      })
    }
  }
}
