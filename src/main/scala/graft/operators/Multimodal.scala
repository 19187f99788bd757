package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines: image/audio/video
  * travel as opaque `BINARY` columns with a typed metadata struct, and
  * decode / feature-extraction / resize / frame-sampling run as batched
  * partition-local transforms.
  *
  * Decode tiers: [[decode]] runs REAL codecs for the formats the JDK
  * itself ships — `javax.imageio` for PNG/JPEG/BMP/GIF (true
  * width/height + pixel features) and `javax.sound.sampled` for WAV
  * (true sample rate/duration) — and falls back to deterministic stub
  * properties (byte-hash dimensions, [[byteFeature16]]) for containers
  * the JVM can't parse (video, exotic
  * codecs; a real deployment swaps that arm for ffmpeg/PIL workers,
  * same batch shape). Everything Spark-side is shared and real — the
  * schema, the mapPartitions batch shape (mirroring how a Python
  * `mapInPandas` stage would slot in), the partitioning story (media
  * tables bucket by `media_id`; features join back on it), and the
  * byte-level statistics, which need no codec at all.
  */
object Multimodal {

  /** Canonical media-table schema: content + typed sidecar metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("codec", StringType, nullable = true))), nullable = true)))

  final case class DecodedMediaFull(media_id: Long, media_type: String,
      decoded: Boolean, width: Int, height: Int, n_frames: Int,
      sample_rate: Int, duration_ms: Long, feature: Array[Float])

  /** Real decode where the JVM can parse the container, stub elsewhere
    * — one batched partition-local pass, `decoded` flagging which arm
    * ran. Images: `ImageIO` (PNG/JPEG/BMP/GIF) — real dimensions plus
    * a 16-bin luminance histogram from the actual pixels (downsampled
    * to ≤64x64 via stride so a 10-megapixel image costs the same as a
    * thumbnail). Audio: WAV headers via `AudioSystem` — real sample
    * rate and duration. Video: real ISO BMFF box metadata via
    * [[Mp4Meta]] (movie duration, video-track dimensions and sample
    * count — no frame decode; the frame work stays in a codec worker
    * stage). Anything else (non-BMFF video, unsupported codecs,
    * corrupt bytes): the stub properties (byte-hash dimensions and
    * [[byteFeature16]]), never a task failure. */
  def decode(media: DataFrame, batchSize: Int = 32): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("media_type"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, mt, bytes) =>
            decodeOne(id, mt, bytes)
          }
        }
      }.toDF()
  }

  private def decodeOne(id: Long, mt: String, bytes: Array[Byte]): DecodedMediaFull = {
    def stubbed: DecodedMediaFull = {
      val h = java.util.Arrays.hashCode(bytes)
      DecodedMediaFull(id, mt, decoded = false,
        width = 64 + math.floorMod(h, 1024),
        height = 64 + math.floorMod(h >> 10, 1024),
        n_frames = if (mt == "video") 1 + math.floorMod(h >> 20, 300) else 1,
        sample_rate = 0, duration_ms = 0L, feature = byteFeature16(bytes))
    }
    try {
      mt match {
        case "image" =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          if (img == null) stubbed
          else {
            val w = img.getWidth
            val h = img.getHeight
            // stride-downsample: at most 64 samples per axis
            val sx = math.max(1, w / 64)
            val sy = math.max(1, h / 64)
            val hist = new Array[Float](16)
            var n = 0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val lum = (((rgb >> 16) & 0xff) * 299 +
                  ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
                hist(lum >> 4) += 1f
                n += 1
                x += sx
              }
              y += sy
            }
            var j = 0
            while (j < 16) { hist(j) /= math.max(n, 1).toFloat; j += 1 }
            DecodedMediaFull(id, mt, decoded = true, w, h, n_frames = 1,
              sample_rate = 0, duration_ms = 0L, feature = hist)
          }
        case "audio" =>
          val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = aff.getFormat
          val frames = aff.getFrameLength.toLong
          val rate = fmt.getSampleRate.toInt
          val durMs = if (rate > 0 && frames >= 0) frames * 1000L / rate else 0L
          DecodedMediaFull(id, mt, decoded = true, width = 0, height = 0,
            n_frames = 1, sample_rate = rate, duration_ms = durMs,
            feature = byteFeature16(bytes))
        case "video" =>
          // real ISO BMFF (MP4/MOV) container metadata — no frame
          // decode, just the public box structure (Mp4Meta); non-BMFF
          // containers fall through to the stub
          Mp4Meta.parse(bytes) match {
            case Some(info) =>
              DecodedMediaFull(id, mt, decoded = true,
                width = info.width, height = info.height,
                n_frames = math.min(info.videoSamples, Int.MaxValue.toLong).toInt,
                sample_rate = 0, duration_ms = info.durationMs,
                feature = byteFeature16(bytes))
            case None => stubbed
          }
        case _ => stubbed
      }
    } catch {
      // unsupported/corrupt container: the stub arm, never a task failure.
      // NonFatal, not just IOException: ImageIO plugins throw runtime
      // exceptions (IllegalArgumentException, NegativeArraySizeException,
      // CMMException) on malformed containers, and those must hit the
      // same fallback instead of failing the task.
      case scala.util.control.NonFatal(_) => stubbed
    }
  }

  /** 16-bin byte histogram, L1-normalized — a codec-free content feature
    * computed in plain JVM code per row. */
  def byteFeature16(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    if (bytes.isEmpty) return hist
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) >> 4) += 1f
      i += 1
    }
    var j = 0
    while (j < 16) { hist(j) /= bytes.length.toFloat; j += 1 }
    hist
  }

  /** Byte-level statistics as pure Column expressions (no decode, no
    * UDF): size and content digest — the dedup keys for media. */
  def sizeBytes(content: Column): Column = length(content)
  def contentDigest(content: Column): Column = md5(content)

  /** Exact integer block-average downscale of one decoded image — the
    * [[PHash64]] grid rule generalized to RGB and arbitrary target
    * dims: target pixel (c, r) averages the source block
    * `[c*w/tw, (c+1)*w/tw) x [r*h/th, (r+1)*h/th)` per channel with
    * floor division. No floating point, so resized pixels of an
    * analytically-known fixture are exactly predictable (the oracle
    * replays the block sums in SQL). */
  private[graft] def resizePixels(img: java.awt.image.BufferedImage,
                                  tw: Int, th: Int): java.awt.image.BufferedImage = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new java.awt.image.BufferedImage(
      tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var r = 0
    while (r < th) {
      val y0 = r * h / th
      val y1 = (r + 1) * h / th
      var c = 0
      while (c < tw) {
        val x0 = c * w / tw
        val x1 = (c + 1) * w / tw
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        val n = (y1 - y0).toLong * (x1 - x0)
        out.setRGB(c, r,
          (((sr / n).toInt) << 16) | (((sg / n).toInt) << 8) | (sb / n).toInt)
        c += 1
      }
      r += 1
    }
    out
  }

  /** Decode + integer block-average downscale + lossless PNG re-encode;
    * None for undecodable bytes or images smaller than the target
    * (upscale blocks would be empty — callers wanting upscale do it in
    * the codec-worker stage). */
  def resizeImage(bytes: Array[Byte], tw: Int, th: Int): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth < tw || img.getHeight < th) None
      else {
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(resizePixels(img, tw, th), "png", out)
        Some(out.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Batched pixel-level resize over an image column: one
    * partition-local pass (the [[decode]] batch shape), `resized` NULL
    * where the decode arm would have stubbed. A pure map — zero
    * shuffle at any corpus size. The id column passes through at
    * whatever type it has (path strings, longs, composite keys all
    * work — no Long cast like phashPairs/audioFpPairs/decode). */
  def resizeImages(media: DataFrame, idCol: String, contentCol: String,
                   targetW: Int, targetH: Int, batchSize: Int = 32): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val pruned = media.select(col(idCol), col(contentCol))
    val outSchema = StructType(Seq(
      pruned.schema.head, StructField("resized", BinaryType, nullable = true)))
    pruned.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          Row(row.get(0), resizeImage(row.getAs[Array[Byte]](1), targetW, targetH).orNull)
        }
      }
    }(Encoders.row(outSchema))
      .toDF(idCol, "resized")
  }

  // ---- perceptual near-dup tier (image dHash) -------------------------

  /** 64-bit perceptual difference hash of an encoded-image column (the
    * [[graft.functions.expressions.PHash64]] expression): NULL for
    * undecodable bytes. A pure map — zero shuffle at any corpus size. */
  def phash64(content: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.PHash64(
      GraftColumnBridge.expression(content)))
  }

  /** Image near-dup pairs: dHash fingerprints + the banded Hamming
    * join shared with the text SimHash tier
    * ([[Dedup.hammingBandedPairs]], here 4 x 16-bit segments of the
    * 64-bit hash — complete for `maxDist <= 3`). The only exchange in
    * the plan carries (id, 8-byte signature) rows; pixels never
    * shuffle. Undecodable rows are absent, mirroring SimHash's
    * token-less docs. Returns (id_a, id_b, dist). */
  def phashPairs(media: DataFrame, idCol: String, contentCol: String,
                 maxDist: Int = 3): DataFrame = {
    val sig = media.select(col(idCol).as("id"), phash64(col(contentCol)).as("phash"))
      .filter(col("phash").isNotNull)
    Dedup.hammingBandedPairs(sig, "phash", segBits = 16, nBands = 4, maxDist = maxDist)
  }

  // ---- audio near-dup tier (banded-energy fingerprint) ----------------

  /** 64-bit audio fingerprint of an encoded-WAV column (the
    * [[graft.functions.expressions.AudioFp64]] expression — the
    * Haitsma-Kalker sign-of-energy-delta bit rule over a 9x9
    * time-domain block grid): NULL for undecodable bytes or non-16-bit
    * / non-mono streams. A pure map — zero shuffle at any corpus
    * size. */
  def audioFp64(content: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.AudioFp64(
      GraftColumnBridge.expression(content)))
  }

  /** Audio near-dup pairs: banded-energy fingerprints + the banded
    * Hamming join shared with the text SimHash and image dHash tiers
    * ([[Dedup.hammingBandedPairs]], 4 x 16-bit segments — complete for
    * `maxDist <= 3`). The only exchange in the plan carries (id,
    * 8-byte signature) rows; PCM never shuffles. Undecodable rows are
    * absent. Returns (id_a, id_b, dist). */
  def audioFpPairs(media: DataFrame, idCol: String, contentCol: String,
                   maxDist: Int = 3): DataFrame = {
    val sig = media.select(col(idCol).as("id"), audioFp64(col(contentCol)).as("afp"))
      .filter(col("afp").isNotNull)
    Dedup.hammingBandedPairs(sig, "afp", segBits = 16, nBands = 4, maxDist = maxDist)
  }

  /** Image near-dup clusters (linear-output ownership under mass
    * duplication; see [[Dedup.hammingClusters]]): (id, component,
    * keep) with component = min id of the near-dup cluster. */
  def phashClusters(media: DataFrame, idCol: String, contentCol: String,
                    maxDist: Int = 3): DataFrame = {
    val sig = media.select(col(idCol).as("id"), phash64(col(contentCol)).as("phash"))
      .filter(col("phash").isNotNull)
    Dedup.hammingClusters(sig, "phash", segBits = 16, nBands = 4, maxDist = maxDist)
  }

  /** Audio near-dup clusters (linear-output ownership; see
    * [[Dedup.hammingClusters]]): (id, component, keep). */
  def audioFpClusters(media: DataFrame, idCol: String, contentCol: String,
                      maxDist: Int = 3): DataFrame = {
    val sig = media.select(col(idCol).as("id"), audioFp64(col(contentCol)).as("afp"))
      .filter(col("afp").isNotNull)
    Dedup.hammingClusters(sig, "afp", segBits = 16, nBands = 4, maxDist = maxDist)
  }

  /** Deterministic 16-bit signed PCM mono WAV (little-endian) from a
    * sample array: the oracle-checkable audio fixture. 16-bit PCM
    * round-trips losslessly through `AudioSystem`, so a fingerprint
    * expressed in md5 arithmetic can be replayed by any SQL engine and
    * compared against the full encode -> decode -> fingerprint path
    * (the audio analog of [[grayPng]]). */
  def pcmWav(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val v = samples(i)
      require(v >= Short.MinValue && v <= Short.MaxValue,
        s"sample $v outside 16-bit range")
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic grayscale PNG from a row-major pixel array (values
    * 0..255): the oracle-checkable media fixture. Written as 24-bit RGB
    * with r=g=b=v so the PNG round-trip and the integer luminance both
    * return exactly `v` — a pixel function expressed in md5 arithmetic
    * can then be replayed by any SQL engine and compared against the
    * full encode → ImageIO decode → dHash path. */
  def grayPng(pixels: Array[Int], width: Int, height: Int): Array[Byte] = {
    require(pixels.length == width * height,
      s"pixel count ${pixels.length} != ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < pixels.length) {
      val v = pixels(i) & 0xff
      img.setRGB(i % width, i / width, (v << 16) | (v << 8) | v)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }
}
