package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, processed by partition-batched codec kernels.
  *
  * The IMAGE path is real: [[syntheticImages]] encodes genuine BMP
  * payloads and [[decodeImages]] decodes them through the JDK's
  * `javax.imageio` — actual pixels in, width/height/channel-mean
  * features out, no dependencies beyond the JDK. The audio/video kinds
  * keep deterministic byte-level stand-ins ([[extractFeatures]] /
  * [[sampleFrames]]) — this container ships no such
  * codecs — but every kernel shares the same real Spark shape: binary
  * column + metadata in, typed rows out, one codec instance per
  * partition, no driver involvement, no shuffle, so each scales exactly
  * like a production decoder (CPU-bound per partition).
  */
object Multimodal {

  /** One media blob plus metadata. */
  case class MediaRow(id: Long, payload: Array[Byte], kind: String, source: String)

  /** Stub "decoded" features: byte length, an 8-hex-char content
    * fingerprint, and a fake frame count (1 frame per 64 bytes). */
  case class MediaFeatures(id: Long, byte_len: Long, fp8: String, n_frames: Long)

  /** Deterministic fake decode of one blob — the `???` seam where a real
    * image/audio decoder (pixel stats, resize, frame-sample) would go. */
  def decodeStub(payload: Array[Byte]): (Long, String, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(payload).map("%02x".format(_)).mkString.substring(0, 8)
    (payload.length.toLong, hex, payload.length.toLong / 64 + 1)
  }

  /** Attach a binary payload column to a text table (the testdata stand-in
    * for real media bytes). */
  def withPayload(df: DataFrame, idCol: String, textCol: String,
                  kindCol: String, sourceCol: String): DataFrame =
    // media eligibility: a row with no id or no payload bytes cannot
    // enter a byte-level kernel (typed MediaRow would NPE on the null
    // array) — dropped here, the same documented contract as the ANN
    // eligibility filter; a production ingest would route them to a
    // quarantine sink instead
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).cast("binary").as("payload"),
        col(kindCol).as("kind"), col(sourceCol).as("source"))

  /** The batch kernel: mapPartitions over typed rows — one decoder
    * instance per partition (the expensive-init shape of real codecs),
    * streaming through the batch iterator. */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val ds: Dataset[MediaRow] = media.as[MediaRow]
    ds.mapPartitions { rows =>
      // per-partition init of the (stub) decoder would go here
      rows.map { r =>
        val (len, fp, frames) = decodeStub(r.payload)
        MediaFeatures(r.id, len, fp, frames)
      }
    }.toDF()
  }

  /** Decoded-image features: real pixel statistics from a real decode. */
  case class ImageFeatures(id: Long, width: Long, height: Long, n_pixels: Long,
                           mean_r: Double, mean_g: Double, mean_b: Double)

  /** One real BMP (JDK `ImageIO` writer): w×h, every pixel (r, g, b).
    * BMP is lossless, so the decoded channel means are EXACTLY the
    * encoded color — which is what makes the decode oracle-able. */
  def syntheticBmp(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "bmp", bos), "no BMP writer available")
    bos.toByteArray
  }

  /** Deterministic synthetic image corpus over a text table: one real
    * BMP per row, dimensions and color derived from (id, text length) so
    * a SQL oracle can predict the decoded features exactly. The encode
    * itself is a genuine codec pass (per-partition `ImageIO` writer) —
    * the stand-in is only WHICH pixels, not the format. */
  def syntheticImages(spark: SparkSession, df: DataFrame,
                      idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    // same media-eligibility drop as [[withPayload]]: no id / no text →
    // no synthetic image (the typed tuple would NOT_NULL_ASSERT)
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), length(col(textCol)))
      .as[(Long, Int)]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init; no tmp files
        rows.map { case (id, tlen) =>
          MediaRow(id, syntheticBmp(
            (8 + id % 9).toInt, (4 + id % 5).toInt,
            (id % 256).toInt, (tlen % 256).toInt, ((id * 7) % 256).toInt),
            "image", "synthetic")
        }
      }.toDF()
  }

  /** The REAL decode kernel: `javax.imageio` per partition, actual
    * pixels traversed for per-channel means. Same scale shape as every
    * production media pipeline: decode before any shuffle, emit only the
    * small typed features, never move decoded pixels across the wire. */
  def decodeImages(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"payload of id=${r.id} is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        ImageFeatures(r.id, w.toLong, h.toLong, n,
          sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
      }
    }.toDF()
  }

  /** Real image resize: decode → `Graphics2D` rescale → re-encode BMP,
    * one codec pair per partition. Output bytes are bounded by (w, h)
    * regardless of input size — the property that makes resize safe to
    * run BEFORE a shuffle (the shuffled bytes are the resized
    * payloads), which is the whole point of the op at 100 TB. */
  def resizeImages(spark: SparkSession, media: DataFrame, w: Int, h: Int): DataFrame = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"payload of id=${r.id} is not a decodable image")
        val out = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        val g2 = out.createGraphics()
        g2.drawImage(img, 0, 0, w, h, null)
        g2.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        require(javax.imageio.ImageIO.write(out, "bmp", bos), "no BMP writer available")
        ResizedRow(r.id, bos.toByteArray, w, h)
      }
    }.toDF()
  }

  /** A "resized" media row: binary out, target dims in the metadata. */
  case class ResizedRow(id: Long, resized: Array[Byte], w: Int, h: Int)

  /** One sampled frame: index within the blob plus a per-frame content
    * fingerprint (the stub stand-in for a decoded/resized frame). */
  case class FrameRow(id: Long, frame_idx: Long, frame_fp: String)

  /** Frame sampling: explode each blob into every `stride`-th "frame"
    * (stub: one 64-byte window per frame index). Output cardinality is
    * rows × frames/stride — the same explode shape a real video
    * frame-sampler has, so the partitioning/memory behavior is honest:
    * one blob's frames never leave its partition and the iterator stays
    * lazy (no per-partition materialization of all frames). */
  def sampleFrames(spark: SparkSession, media: DataFrame, stride: Long = 2L): DataFrame = {
    import spark.implicits._
    val ds: Dataset[MediaRow] = media.as[MediaRow]
    ds.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5") // per-partition decoder init
      rows.flatMap { r =>
        val nFrames = r.payload.length.toLong / 64 + 1
        (0L until nFrames by stride).iterator.map { f =>
          val from = (f * 64).toInt min r.payload.length
          val until = ((f + 1) * 64).toInt min r.payload.length
          md.reset()
          val fp = md.digest(java.util.Arrays.copyOfRange(r.payload, from, until))
            .map("%02x".format(_)).mkString.substring(0, 8)
          FrameRow(r.id, f, fp)
        }
      }
    }.toDF()
  }
}
