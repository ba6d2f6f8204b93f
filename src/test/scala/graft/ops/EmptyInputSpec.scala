package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Empty-input behavior of the round-5 operators: every op must return
  * an EMPTY (not failing) frame with the right schema — at 100 TB an
  * empty partition/day/source is routine, not exceptional. */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emptyPoints = Seq.empty[(Long, Double)].toDF("pid", "v")
  private def emptyIv = Seq.empty[(Long, Double, Double)].toDF("iid", "lo", "hi")
  private def somePoints = Seq((1L, 5.0)).toDF("pid", "v")
  private def someIv = Seq((9L, 0.0, 10.0)).toDF("iid", "lo", "hi")

  test("RangeJoin: empty on either side → empty result, full schema") {
    val a = RangeJoin.pointInInterval(emptyPoints, "v", someIv, "lo", "hi", 5.0)
    val b = RangeJoin.pointInInterval(somePoints, "v", emptyIv, "lo", "hi", 5.0)
    assert(a.count() == 0 && b.count() == 0)
    assert(a.columns.toSeq == Seq("pid", "v", "iid", "lo", "hi"))
  }

  test("Sessionize: empty input → empty output with session_id column") {
    val df = Seq.empty[(Long, Long, java.sql.Timestamp)].toDF("u", "e", "ts")
    val out = Sessionize.sessionize(df, col("u"), col("ts"), 60, col("e"))
    assert(out.count() == 0 && out.columns.contains("session_id"))
  }

  test("Diff: empty older → all added; empty newer → all deleted; both empty → empty") {
    val some = Seq((1L, "a")).toDF("k", "s")
    val none = Seq.empty[(Long, String)].toDF("k", "s")
    assert(Diff.snapshotDiff(none, some, Seq("k"), Seq("s"))
      .select("change_type").as[String].collect().toSeq == Seq("added"))
    assert(Diff.snapshotDiff(some, none, Seq("k"), Seq("s"))
      .select("change_type").as[String].collect().toSeq == Seq("deleted"))
    assert(Diff.snapshotDiff(none, none, Seq("k"), Seq("s")).count() == 0)
  }

  test("Expect: empty input → both sides empty, schemas intact") {
    val none = Seq.empty[(Long, Double)].toDF("id", "v")
    val (good, bad) = Expect.check(none, Seq("pos" -> (col("v") > 0)))
    assert(good.count() == 0 && bad.count() == 0)
    assert(bad.columns.contains("violations"))
  }

  test("Sampling.capPerGroup and Merge.scd2History: empty input → empty output") {
    val none = Seq.empty[(Long, String)].toDF("id", "g")
    assert(Sampling.capPerGroup(none, Seq(col("g")), col("id"), 3).count() == 0)
    val noneTs = Seq.empty[(Long, Long, Long)].toDF("k", "ts", "tie")
    assert(Merge.scd2History(noneTs, Seq(col("k")), col("ts"), col("tie")).count() == 0)
  }

  test("round-6 text/stat operators: empty inputs → empty outputs, schemas intact") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val someQs = Seq((1L, "alpha")).toDF("query_id", "query_text")
    val noQs = Seq.empty[(Long, String)].toDF("query_id", "query_text")

    val bm1 = graft.text.TextOps.bm25TopDocs(noDocs, "doc_id", "text",
      someQs, "query_id", "query_text")
    assert(bm1.count() == 0 &&
      bm1.columns.toSeq == Seq("query_id", "rank", "doc_id", "score"))
    assert(graft.text.TextOps.bm25TopDocs(someDocs, "doc_id", "text",
      noQs, "query_id", "query_text").count() == 0)

    val bg = graft.text.TextOps.bigramNllWithModel(noDocs,
      graft.text.TextOps.bigramCounts(noDocs, "text"), "doc_id", "text")
    assert(bg.count() == 0 &&
      bg.columns.toSeq == Seq("doc_id", "n_bigrams", "avg_nll"))

    val cs = graft.text.Dedup.contaminationScoreAgainst(noDocs,
      graft.text.Dedup.shingleHashes(someDocs, "doc_id", "text").select("shingle_h").distinct(),
      "doc_id", "text", 3)
    assert(cs.count() == 0 &&
      cs.columns.toSeq == Seq("doc_id", "n_shingles", "n_common", "contamination"))

    val tr = Trend.fitLine(Seq.empty[(String, Int, Double)].toDF("k", "o", "y"),
      "k", Seq(col("o")), "y")
    assert(tr.count() == 0 &&
      tr.columns.toSeq == Seq("k", "n_points", "slope", "intercept"))

    val mp = graft.text.Entity.fuzzyMatchMultiPass(
      Seq.empty[(Long, String)].toDF("did", "dname"), "did", "dname",
      Seq((1L, "abc")).toDF("id", "name"), "id", "name",
      Seq(c => substring(c, -2, 2), c => substring(c, 1, 2)), maxDist = 2)
    assert(mp.count() == 0 && mp.columns.contains("dist"))
  }

  test("Pq.fit on an empty frame fails fast with a clear message") {
    val none = Seq.empty[(Long, Seq[Float])].toDF("id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.sim.Pq.fit(none, "embedding", m = 4, k = 4)
    }
    assert(e.getMessage.contains("empty"))
  }
}
