package graft.multimodal

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Multimodal plumbing spec: binary payload round-trip through the
  * partition-batched stub decoder. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("payload → batch kernel → typed features") {
    val df = Seq((10L, "hello world", "img", "s1"), (11L, "", "aud", "s2"))
      .toDF("id", "text", "kind", "src")
    val media = Multimodal.withPayload(df, "id", "text", "kind", "src")
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(spark, media)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    assert(feats(10L)._1 == 11L)           // byte length of "hello world"
    assert(feats(10L)._2.length == 8)      // 8-hex fingerprint
    assert(feats(10L)._3 == 1L)            // 11/64 + 1
    assert(feats(11L)._1 == 0L)
  }

  test("real decode: javax.imageio recovers exact pixel stats from a known two-color BMP") {
    // fixture: 4×2 BMP, top row pure red, bottom row pure blue — means
    // are (127.5, 0, 127.5), provable only by actually reading pixels
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    (0 until 4).foreach { x =>
      img.setRGB(x, 0, 0xff0000)
      img.setRGB(x, 1, 0x0000ff)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", bos))
    val media = Seq((7L, bos.toByteArray, "image", "fixture"))
      .toDF("id", "payload", "kind", "source")
    val f = Multimodal.decodeImages(spark, media).collect().head
    assert((f.getLong(1), f.getLong(2), f.getLong(3)) == ((4L, 2L, 8L)))
    assert(f.getDouble(4) == 127.5) // mean_r
    assert(f.getDouble(5) == 0.0)   // mean_g
    assert(f.getDouble(6) == 127.5) // mean_b
  }

  test("encode → resize → decode chain: all real codecs, color preserved, dims replaced") {
    val docs = Seq((3L, "some document text")).toDF("doc_id", "text")
    val media = Multimodal.syntheticImages(spark, docs, "doc_id", "text")
    // synthetic dims for id=3: w=8+3%9=11, h=4+3%5=7; color (3, 18, 21)
    val direct = Multimodal.decodeImages(spark, media).collect().head
    assert((direct.getLong(1), direct.getLong(2)) == ((11L, 7L)))
    assert((direct.getDouble(4), direct.getDouble(5), direct.getDouble(6)) == ((3.0, 18.0, 21.0)))
    // resize to 5×4 re-encodes a real BMP; constant color must survive scaling
    val resized = Multimodal.resizeImages(spark, media, 5, 4)
      .select(col("id"), col("resized").as("payload"), lit("image").as("kind"),
        lit("resized").as("source"))
    val f = Multimodal.decodeImages(spark, resized).collect().head
    assert((f.getLong(1), f.getLong(2), f.getLong(3)) == ((5L, 4L, 20L)))
    assert((f.getDouble(4), f.getDouble(5), f.getDouble(6)) == ((3.0, 18.0, 21.0)))
  }

  test("frame sampling explodes every stride-th 64-byte window per blob") {
    // 130 ASCII bytes → frames 0,1,2; stride 2 keeps 0 and 2
    val text = "x" * 130
    val df = Seq((1L, text, "vid", "s1")).toDF("id", "text", "kind", "src")
    val media = Multimodal.withPayload(df, "id", "text", "kind", "src")
    val frames = Multimodal.sampleFrames(spark, media, stride = 2L)
      .orderBy("frame_idx")
      .collect().map(r => (r.getLong(1), r.getString(2)))
    assert(frames.map(_._1).toSeq == Seq(0L, 2L))
    val md = java.security.MessageDigest.getInstance("MD5")
    def fp(s: String) = md.digest(s.getBytes).map("%02x".format(_)).mkString.take(8)
    assert(frames(0)._2 == fp("x" * 64))  // full first window
    assert(frames(1)._2 == fp("x" * 2))   // 2-byte tail window
  }
}
