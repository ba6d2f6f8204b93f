package graft.text

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Bigram-LM quality scoring: the smoothed formula reproduces a hand
  * computation exactly, typical text scores below word salad, shared
  * bigram mass pulls duplicate docs down, and the ≥2-token contract
  * holds. */
class BigramLmSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Self-scoring: every document under the corpus's own bigram LM. */
  private def bigramNll(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String) =
    TextOps.bigramNllWithModel(docs, TextOps.bigramCounts(docs, textCol), idCol, textCol)

  private def dsirWeight(corpus: org.apache.spark.sql.DataFrame,
                         target: org.apache.spark.sql.DataFrame, idCol: String, textCol: String) =
    TextOps.dsirWeightWithModels(corpus, TextOps.bigramCounts(corpus, textCol),
      TextOps.bigramCounts(target, textCol), idCol, textCol)

  test("hand-computed smoothed NLL on a 2-doc corpus, to the emitted rounding") {
    // corpus: d1 = "a b a b", d2 = "a b c"
    // n_ab: (a,b)=3, (b,a)=1, (b,c)=1; n_a: a=3, b=2; V=3
    // d2: (a,b) p=4/6, (b,c) p=2/5 → avg(−ln) = 0.6609 at 4dp
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val byId = bigramNll(docs, "doc_id", "text")
      .select("doc_id", "n_bigrams", "avg_nll")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(2L)._1 == 2L)
    assert(byId(2L)._2 == 0.6609, s"got ${byId(2L)}")
    assert(byId(1L)._1 == 3L)
  }

  test("typical text scores lower NLL than word salad over the same vocabulary") {
    val fluent = (1 to 20).map(i => (i.toLong, "the cat sat on the mat"))
    val salad = Seq((99L, "mat the on sat the cat"))
    val docs = (fluent ++ salad).toDF("doc_id", "text")
    val nll = bigramNll(docs, "doc_id", "text")
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    assert(nll(1L) < nll(99L),
      s"frequent bigram paths must score as more likely: $nll")
  }

  test("duplicating a doc increases its bigrams' counts and lowers its NLL") {
    val base = Seq((1L, "x y z w"), (2L, "p q r s")).toDF("doc_id", "text")
    val dup = Seq((1L, "x y z w"), (2L, "p q r s"), (3L, "x y z w")).toDF("doc_id", "text")
    val a = bigramNll(base, "doc_id", "text")
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    val b = bigramNll(dup, "doc_id", "text")
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    assert(b(1L) < a(1L), s"doubled bigram counts must raise P: $a vs $b")
  }

  test("docs with fewer than two tokens are absent by contract") {
    val docs = Seq((1L, "solo"), (2L, "two tokens"), (3L, "")).toDF("doc_id", "text")
    val ids = bigramNll(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(2L))
  }

  test("dsirWeight drops null-id docs (the two-pass inner join's null-key semantics)") {
    // The two-pass form ended in an inner join on the doc id, which
    // silently dropped the null-id group (null never equi-joins). The
    // r20 one-pass fold must reproduce that: caught by the hostile twin
    // (507 vs 506 rows), pinned here on a minimal corpus. bigramNll
    // itself (no join) KEEPS the null group — the two surfaces differ
    // by contract, so both sides are asserted.
    val corpus = Seq((java.lang.Long.valueOf(1L), "a b a b"),
        (null.asInstanceOf[java.lang.Long], "a b c"))
      .toDF("doc_id", "text")
    val target = Seq((100L, "a b")).toDF("doc_id", "text")
    val dsirIds = dsirWeight(corpus, target, "doc_id", "text")
      .select("doc_id").collect().map(r => Option(r.get(0))).toSet
    assert(dsirIds == Set(Some(1L)), s"dsir must drop the null-id group: $dsirIds")
    val nllIds = bigramNll(corpus, "doc_id", "text")
      .select("doc_id").collect().map(r => Option(r.get(0))).toSet
    assert(nllIds == Set(Some(1L), None), s"bigramNll keeps the null group: $nllIds")
  }

  test("dsirWeight ranks target-domain docs above off-domain docs") {
    // Target domain: legal boilerplate. Corpus: mostly recipes plus
    // two legal docs and two recipe docs to score against each other.
    val legal = "the party of the first part shall indemnify the party"
    val recipe = "stir the flour into the butter and bake until golden"
    val corpus = (
      (1 to 10).map(i => (i.toLong, recipe)) ++
        Seq((20L, legal), (21L, legal))
      ).toDF("doc_id", "text")
    val target = Seq((100L, legal), (101L, legal + " of record")).toDF("doc_id", "text")
    val w = dsirWeight(corpus, target, "doc_id", "text")
      .select("doc_id", "dsir_weight").as[(Long, Double)].collect().toMap
    assert(w(20L) > w(1L),
      s"legal doc must be more target-like than a recipe: $w")
    assert(w(20L) > 0.0, s"target-domain doc should gain under the target LM: $w")
  }
}
