package graft.text

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Cross-doc span detection: planted boilerplate found with the right
  * document frequency, internal repetition counted once per doc, the
  * minDocs gate, and the short-doc filter. */
class SpanDupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Coverage against the corpus's own cross-doc span blocklist. */
  private def spanCoverage(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                           window: Int = 4, minDocs: Long = 2L) =
    Dedup.spanCoverageWithBlocklist(df, idCol, textCol, window,
      Dedup.crossDocSpans(df, textCol, window, minDocs))

  private def spans(docs: Seq[(Long, String)], window: Int = 4,
                    minDocs: Long = 2L): Map[String, Long] =
    Dedup.crossDocSpans(docs.toDF("doc_id", "text"), "text", window, minDocs)
      .as[(String, Long)].collect().toMap

  test("planted footer shared by three docs is detected; unique text is not") {
    val footer = "all rights reserved worldwide"
    val m = spans(Seq(
      (1L, s"alpha beta gamma delta $footer"),
      (2L, s"epsilon zeta eta theta $footer"),
      (3L, s"iota kappa lambda mu $footer"),
      (4L, "nu xi omicron pi rho sigma")))
    assert(m(footer) == 3L, s"got $m")
    assert(!m.contains("alpha beta gamma delta"))
    assert(!m.contains("nu xi omicron pi"))
    // bridging spans (doc words + footer prefix) are unique per doc
    assert(m.keySet == Set(footer), s"got ${m.keySet}")
  }

  test("a span repeating INSIDE one doc counts that doc once") {
    val m = spans(Seq(
      (1L, "a b c d a b c d"),
      (2L, "z z a b c d z z")))
    assert(m("a b c d") == 2L, s"got $m")
  }

  test("minDocs gate: pairs pass at 2, drop at 3") {
    val docs = Seq((1L, "p q r s t"), (2L, "x p q r s"))
    assert(spans(docs)("p q r s") == 2L)
    assert(spans(docs, minDocs = 3L).isEmpty)
  }

  test("docs shorter than the window contribute nothing") {
    val m = spans(Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b c d"),
      (4L, "a b c d")))
    assert(m == Map("a b c d" -> 2L), s"got $m")
  }

  test("spanCoverage: planted footer docs score the boilerplate fraction") {
    val footer = "all rights reserved worldwide"
    // doc 1: 5 tokens before the 4-token footer → 9 tokens → 6 spans,
    // exactly one of which (the footer itself) is cross-doc.
    val rows = spanCoverage(Seq(
      (1L, s"alpha beta gamma delta epsi $footer"),
      (2L, s"zeta eta theta iota kappa $footer"),
      (3L, "nu xi omicron pi rho sigma")).toDF("doc_id", "text"),
      "doc_id", "text").as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rows(1L) == ((6L, 1L, 0.1667)), s"got $rows")
    assert(rows(2L) == ((6L, 1L, 0.1667)))
    assert(rows(3L) == ((3L, 0L, 0.0)))
  }

  test("spanCoverage: an all-boilerplate doc scores 1.0") {
    val m = spanCoverage(Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w"))
      .toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(m(1L) == 1.0 && m(2L) == 1.0 && m(3L) == 0.0, s"got $m")
  }

  test("span-blocklist artifact: equals direct computation; coverage-with-blocklist equals inline") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spanbl").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsi all rights reserved worldwide"),
      (2L, "zeta eta theta iota kappa all rights reserved worldwide"),
      (3L, "nu xi omicron pi rho sigma")).toDF("doc_id", "text")
    val path = dir + "/spans_artifact"
    val art = Dedup.ensureSpanBlocklist(docs, "text", 4, 2L, path)
    val direct = Dedup.crossDocSpans(docs, "text", 4, 2L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(art.collect().map(r => (r.getString(0), r.getLong(1))).toSet == direct)
    assert(direct.nonEmpty)
    // coverage probing the artifact == coverage building inline
    val viaArt = Dedup.spanCoverageWithBlocklist(docs, "doc_id", "text", 4, art)
      .as[(Long, Long, Long, Double)].collect().toSet
    val inline = spanCoverage(docs, "doc_id", "text", 4, 2L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaArt == inline, s"artifact-probed coverage diverged: $viaArt vs $inline")
    // warm memo hit + corrupted artifact rebuild
    assert(Dedup.ensureSpanBlocklist(docs, "text", 4, 2L, path) eq art)
    graft.Artifact.invalidate(path)
    spark.range(2).toDF("wrong").write.mode("overwrite").parquet(path)
    val rebuilt = Dedup.ensureSpanBlocklist(docs, "text", 4, 2L, path)
    assert(rebuilt.collect().map(r => (r.getString(0), r.getLong(1))).toSet == direct)
  }

  test("window and minDocs knobs validated") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.crossDocSpans(df, "text", window = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.crossDocSpans(df, "text", minDocs = 1L)
    }
  }
}
