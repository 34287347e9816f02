package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Multimodal column plumbing (north star in BASELINE.json): treat
  * image/audio/video as opaque `binary` columns + typed metadata, with
  * decode / feature-extract / frame-sample stages whose *Spark-side
  * shape* (schema, partitioning, batched execution) is real and
  * tested.
  *
  * CODEC: payloads whose magic bytes identify a
  * JDK-decodable format are REALLY decoded with zero extra
  * dependencies — PNG/JPEG/GIF/BMP via `javax.imageio` (true
  * width/height metadata, grid-pooled luminance embedding over the
  * actual pixels) and RIFF/WAVE PCM via `javax.sound.sampled` (true
  * sample-rate/channel/frame metadata, windowed RMS-energy
  * embedding over the decoded samples). Payloads that are neither
  * (the parquet fixture stores UTF-8 text bytes) fall back to the
  * original deterministic hash featurizer, clearly marked below, so
  * the cross-engine byte-total oracles (q50–q52) remain exact while
  * both real modalities are exercised by MultimodalSpec over
  * ImageIO-/AudioSystem-encoded payloads.
  *
  * Execution model: `featurize` uses `mapPartitions` over a typed
  * Dataset and processes rows in fixed-size batches — the exact shape
  * a real encoder needs (model loaded once per partition, inputs fed
  * in batches of `batchSize`, results zipped back). Swapping the
  * luminance pooling for ONNX/JNI inference changes only the inside of
  * `decodeAndEmbedBatch`. At 100 TB this stage is a pure map — no
  * shuffle — and scales with executor count; binary payloads stay
  * columnar (parquet BYTE_ARRAY) end to end. `ImageIO.setUseCache
  * (false)` keeps decodes heap-only (the default spills a temp FILE
  * per decode — a per-record disk write on every executor).
  */
object Multimodal {

  /** Typed metadata extracted by the decoder. */
  final case class MediaMeta(nBytes: Long, format: String, width: Int, height: Int, frames: Int)
  final case class MediaRow(doc_id: Long, content: Array[Byte])
  final case class FeatureRow(doc_id: Long, meta: MediaMeta, embedding: Array[Float])

  javax.imageio.ImageIO.setUseCache(false)

  /** Container sniff by magic bytes — cheap rejection before ImageIO
    * ever touches the payload (the reader-lookup path is ~100× a
    * 4-byte compare, and most corpus rows are not images). */
  private[graft] def sniffImageFormat(bytes: Array[Byte]): Option[String] =
    if (bytes.length >= 8 && bytes(0) == 0x89.toByte && bytes(1) == 'P' &&
        bytes(2) == 'N' && bytes(3) == 'G') Some("png")
    else if (bytes.length >= 3 && bytes(0) == 0xFF.toByte &&
             bytes(1) == 0xD8.toByte && bytes(2) == 0xFF.toByte) Some("jpeg")
    else if (bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' &&
             bytes(2) == 'F' && bytes(3) == '8') Some("gif")
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') Some("bmp")
    else None

  /** Real decode via the JDK codec. None when the payload is not a
    * (valid) image — truncated/corrupt bytes degrade to the fallback
    * featurizer rather than failing the task. */
  private[graft] def decodeImage(bytes: Array[Byte]): Option[(String, java.awt.image.BufferedImage)] =
    sniffImageFormat(bytes).flatMap { fmt =>
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))).map(fmt -> _)
      catch { case _: Throwable => None }
    }

  /** WAV sniff: RIFF container with a WAVE type tag. */
  private[graft] def isWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  /** Decoded PCM audio: sample rate, channels, and channel-mixed
    * samples normalized to [-1, 1]. */
  private[graft] final case class PcmAudio(sampleRate: Int, channels: Int, samples: Array[Double])

  /** Real WAV decode via the JDK codec (`javax.sound.sampled` — zero
    * new deps, same rule as ImageIO): 8/16-bit PCM, any channel
    * count; channels are mean-mixed to mono. None on malformed or
    * compressed-encoding payloads (degrade to the fallback, never
    * fail the task). */
  private[graft] def decodeWav(bytes: Array[Byte]): Option[PcmAudio] =
    if (!isWav(bytes)) None
    else try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = in.getFormat
        val enc = f.getEncoding
        import javax.sound.sampled.AudioFormat.Encoding._
        // the WAV PCM spec: 8-bit is unsigned, 16-bit is signed —
        // anything else (float, compressed, 24/32-bit) degrades to
        // the fallback rather than being half-decoded
        val supported =
          (f.getSampleSizeInBits == 8 && enc == PCM_UNSIGNED) ||
          (f.getSampleSizeInBits == 16 && enc == PCM_SIGNED)
        if (!supported) None
        else {
          val raw = in.readAllBytes()
          val ch = f.getChannels
          val bytesPerSample = f.getSampleSizeInBits / 8
          val frameBytes = bytesPerSample * ch
          val nFrames = raw.length / frameBytes
          val mono = new Array[Double](nFrames)
          var i = 0
          while (i < nFrames) {
            var acc = 0.0
            var c = 0
            while (c < ch) {
              val off = i * frameBytes + c * bytesPerSample
              val s =
                if (bytesPerSample == 1) ((raw(off) & 0xFF) - 128) / 128.0
                else {
                  val v = if (f.isBigEndian) (raw(off) << 8) | (raw(off + 1) & 0xFF)
                          else (raw(off + 1) << 8) | (raw(off) & 0xFF)
                  v / 32768.0
                }
              acc += s
              c += 1
            }
            mono(i) = acc / ch
            i += 1
          }
          Some(PcmAudio(f.getSampleRate.toInt, ch, mono))
        }
      } finally in.close()
    } catch { case _: Throwable => None }

  /** Windowed RMS-energy embedding over real PCM: samples split into
    * `dim` equal windows, each contributing its root-mean-square
    * energy; centered at the mean so a constant-energy clip maps near
    * the origin; L2-normalized. The audio analog of the image grid
    * pooling — deterministic, duration-robust. */
  private[graft] def embedAudio(a: PcmAudio, dim: Int): Array[Float] = {
    val n = a.samples.length
    val v = new Array[Float](dim)
    if (n == 0) return v
    val energies = new Array[Double](dim)
    var w = 0
    while (w < dim) {
      val from = (w.toLong * n / dim).toInt
      val to = math.max(from + 1, ((w + 1).toLong * n / dim).toInt)
      var ss = 0.0
      var i = from
      while (i < math.min(to, n)) { ss += a.samples(i) * a.samples(i); i += 1 }
      energies(w) = math.sqrt(ss / math.max(1, math.min(to, n) - from))
      w += 1
    }
    val mean = energies.sum / dim
    var j = 0
    while (j < dim) { v(j) = (energies(j) - mean).toFloat; j += 1 }
    normalize(v)
  }

  /** Metadata: real container header when decodable (image OR wav),
    * deterministic pseudo-metadata otherwise (FALLBACK — the fixture
    * path). Audio maps onto the typed meta as width = sample rate,
    * height = channels, frames = PCM frame count. */
  private[graft] def decodeMeta(bytes: Array[Byte]): MediaMeta =
    decodeImage(bytes) match {
      case Some((fmt, img)) =>
        MediaMeta(bytes.length.toLong, fmt, img.getWidth, img.getHeight, frames = 1)
      case None => decodeWav(bytes) match {
        case Some(a) =>
          MediaMeta(bytes.length.toLong, "wav", a.sampleRate, a.channels, a.samples.length)
        case None => syntheticMeta(bytes)
      }
    }

  /** FALLBACK decode — deterministic pseudo-metadata from the payload
    * hash, used only when the bytes are not a decodable image. */
  private[graft] def syntheticMeta(bytes: Array[Byte]): MediaMeta = {
    val h = MurmurHash3.bytesHash(bytes, 7)
    val formats = Array("png", "jpeg", "webp", "wav")
    val fmt = formats(math.abs(h % 4))
    MediaMeta(bytes.length.toLong, fmt,
      width = 64 + math.abs((h >> 4) % 1024),
      height = 64 + math.abs((h >> 8) % 1024),
      frames = 1 + math.abs((h >> 16) % 32))
  }

  /** Grid-pooled luminance embedding over real pixels: the image is
    * divided into a gx×gy cell grid covering `dim` cells; each cell
    * contributes its mean luminance (Rec. 601 weights), centered at
    * 0.5 so a flat image maps near the origin rather than to a
    * degenerate all-positive vector; the result is L2-normalized.
    * Deterministic for identical bytes, resolution-robust (pooling,
    * not pixel sampling). */
  private[graft] def embedImage(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val gx = math.max(1, math.sqrt(dim.toDouble).toInt)
    val gy = (dim + gx - 1) / gx
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Double](gx * gy)
    val counts = new Array[Long](gx * gy)
    var y = 0
    while (y < h) {
      val cy = math.min(gy - 1, y * gy / h)
      var x = 0
      while (x < w) {
        val cx = math.min(gx - 1, x * gx / w)
        val rgb = img.getRGB(x, y)
        val lum = (0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
          0.114 * (rgb & 0xFF)) / 255.0
        val c = cy * gx + cx
        sums(c) += lum; counts(c) += 1
        x += 1
      }
      y += 1
    }
    val v = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      v(j) = if (j < gx * gy && counts(j) > 0) (sums(j) / counts(j) - 0.5).toFloat else 0f
      j += 1
    }
    normalize(v)
  }

  /** FALLBACK feature extraction — deterministic hash-mixed unit
    * vector per payload (used for non-image bytes; stands in for a
    * modality-specific encoder). */
  private[graft] def hashEmbed(content: Array[Byte], dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      v(j) = (MurmurHash3.bytesHash(content, j) / Int.MaxValue.toFloat)
      j += 1
    }
    normalize(v)
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    if (norm == 0f) v else v.map(_ / norm)
  }

  /** Feature extraction for one batch: real ImageIO decode + luminance
    * pooling for images, real PCM decode + windowed RMS energy for
    * WAV audio, hash fallback otherwise. */
  private[graft] def decodeAndEmbedBatch(batch: Seq[MediaRow], dim: Int): Seq[FeatureRow] =
    batch.map { r =>
      decodeImage(r.content) match {
        case Some((fmt, img)) =>
          FeatureRow(r.doc_id,
            MediaMeta(r.content.length.toLong, fmt, img.getWidth, img.getHeight, frames = 1),
            embedImage(img, dim))
        case None => decodeWav(r.content) match {
          case Some(a) =>
            FeatureRow(r.doc_id,
              MediaMeta(r.content.length.toLong, "wav", a.sampleRate, a.channels, a.samples.length),
              embedAudio(a, dim))
          case None =>
            FeatureRow(r.doc_id, syntheticMeta(r.content), hashEmbed(r.content, dim))
        }
      }
    }

  /** Attach a binary content column (fixture: the UTF-8 payload of the
    * doc text stands in for a media blob). */
  def withBinaryContent(docs: DataFrame): DataFrame =
    docs.withColumn("content", encode(coalesce(col("text"), lit("")), "UTF-8"))

  /** Batched decode + feature extraction via mapPartitions (the
    * mapInPandas-equivalent batch shape in Scala), over a frame that
    * already carries a binary `content` column — the real-media entry
    * point (PNG/JPEG bytes decode through ImageIO here). */
  def featurizeBinary(media0: DataFrame, dim: Int = 16, batchSize: Int = 32): DataFrame = {
    val spark = media0.sparkSession
    import spark.implicits._
    val media: Dataset[MediaRow] = media0.select(col("doc_id"), col("content")).as[MediaRow]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => decodeAndEmbedBatch(b.toSeq, dim))
    }.toDF()
  }

  /** Fixture entry point: documents' text bytes stand in for blobs. */
  def featurize(docs: DataFrame, dim: Int = 16, batchSize: Int = 32): DataFrame =
    featurizeBinary(withBinaryContent(docs), dim, batchSize)

  /** Frame sampling: split the payload into fixed-size "frames" and
    * keep every `stride`-th — array<binary> out, ready to explode into
    * a per-frame pipeline. Pure column ops (no UDF). */
  def sampleFrames(media: DataFrame, frameBytes: Int = 64, stride: Int = 4): DataFrame = {
    val nFrames = floor((octet_length(col("content")) - 1) / frameBytes) + 1
    media.withColumn("frames",
      // zero-length content → empty frame list (sequence(0,-1) throws)
      when(octet_length(col("content")) === 0,
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.BinaryType)))
        .otherwise(transform(sequence(lit(0), (nFrames - 1).cast("int"), lit(stride)),
          i => substring(col("content"), (i * frameBytes + 1).cast("int"), lit(frameBytes)))))
  }
}
