package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.text.Dedup

/** The projection-shaped signature kernels (`simhash64`,
  * `minhash_sigs`) must be BIT-IDENTICAL to the explode + groupBy
  * formulations they replace — same hashes (xxhash64 seed 42, Spark's
  * murmur3 `hash(lit(i), shb)` chain), same cardinality (token-less /
  * shingle-less docs absent from both). */
class SigKernelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // repartition(5): partial-aggregation order in the grouped forms must
  // not matter, and the kernels must behave identically per partition
  /** The higher-order-function formulation the native `shingle_hashes`
    * kernel replaced — the executable spec (interpreted lambdas). */
  private def shingleHashArrayLambda(df: org.apache.spark.sql.DataFrame, idCol: String,
                                     textCol: String, n: Int, distinct: Boolean) = {
    val withToks = df.select(col(idCol), graft.text.TextOps.tokens(col(textCol)).as("__toks"))
    val toks = col("__toks")
    val arr = when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => xxhash64((0 until n).map(o => element_at(toks, i + o + 1)): _*)))
      .otherwise(array().cast("array<bigint>"))
    withToks.select(col(idCol), (if (distinct) array_distinct(arr) else arr).as("__sh"))
  }

  private lazy val docs = (
    (0 until 60).map(i => (i.toLong, s"alpha beta gamma doc $i token${i % 7} tail")) ++
      Seq((100L, "one two"),       // 2 tokens: no 3-gram shingles
        (101L, ""),                // tokenless after trim
        (102L, "x y z x y z x y z"))
    ).toDF("doc_id", "text").repartition(5)

  test("simhash64 kernel == grouped explode/sum form, bit for bit") {
    val native = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grouped = Dedup.simhashGrouped(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == grouped)
    // split("", "\s+") yields [""] — ONE empty token — so the empty doc
    // is present in BOTH forms (cardinality parity is the map equality)
    assert(native.contains(101L) && grouped.contains(101L))
    assert(native.contains(100L)) // 2 tokens still simhashable
  }

  test("minhash_sigs kernel == grouped explode/min form, element for element") {
    // maxShingleDf PINNED off: this is a pure kernel-vs-spec parity
    // witness and the grouped form has no cap parameter — reaching the
    // kernel through the AutoShingleDf default would cap one side only
    // if a fixture or threshold change ever made the detector engage
    // (defect class #24; ADVICE r13 #3)
    val native = Dedup.minhashSignatures(docs, "doc_id", "text",
        maxShingleDf = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val grouped = Dedup.minhashSignaturesGrouped(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native == grouped)
    // docs with <3 tokens have no shingles: absent from both forms
    assert(!native.contains(100L) && !native.contains(101L))
    assert(native.contains(102L))
  }

  test("shingle_hashes kernel == HOF transform form (set per doc; order under distinct=false)") {
    val native = Dedup.shingleHashArray(docs, "doc_id", "text", 3, distinct = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val lambda = shingleHashArrayLambda(docs, "doc_id", "text", 3, distinct = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(native == lambda)
    // distinct=false preserves gram order exactly — element-for-element
    val nativeSeq = Dedup.shingleHashArray(docs, "doc_id", "text", 3, distinct = false)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val lambdaSeq = shingleHashArrayLambda(docs, "doc_id", "text", 3, distinct = false)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(nativeSeq == lambdaSeq)
    // short docs: empty fingerprint array in both forms
    assert(nativeSeq(100L).isEmpty && lambdaSeq(100L).isEmpty)
  }

  test("tf_vector kernel == grouped explode/sum form, bucket for bucket") {
    val native = graft.text.TextOps.tfVectors(docs, "doc_id", "text", 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val grouped = graft.text.TextOps.tfVectorsGrouped(docs, "doc_id", "text", 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(native == grouped)
    // every vector sums to its doc's token count
    native.foreach { case (id, tf) => assert(tf.sum > 0, s"doc $id empty tf") }
  }

  test("long_set_remove == array_except on distinct arrays; hot-shingle path end-to-end") {
    val df = Seq((1L, Seq(5L, 3L, 9L, 7L)), (2L, Seq.empty[Long]), (3L, Seq(3L, 7L)))
      .toDF("id", "a")
    val bl = Array(3L, 7L)
    val rows = df.select(col("id"), LongSetRemove.remove(col("a"), bl).as("r"),
        array_except(col("a"), lit(bl)).as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    rows.foreach { case (id, r, e) => assert(r == e, s"id $id: $r vs $e") }
    assert(rows.find(_._1 == 1L).get._2 == Seq(5L, 9L), "order must be preserved")
    // end-to-end through the hot-shingle cap: "a b c" occurs in all
    // three docs (df=3); cap=2 drops it BEFORE the pair join and the
    // Jaccard is computed over the retained sets only
    val docs3 = Seq((1L, "a b c x1 y1 z1"), (2L, "a b c x1 y1 w2"),
      (3L, "a b c q r s")).toDF("doc_id", "text")
    def pairs(cap: Long) =
      Dedup.ngramJaccardPairs(docs3, "doc_id", "text", n = 3,
          threshold = 0.4, maxShingleDf = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // uncapped: d1/d2 share 3 of 4 shingles -> J = 3/5
    assert(pairs(1000L) == Set((1L, 2L, 0.6)))
    // capped at df<=2: the universal shingle is dropped, retained sets
    // are 3 each, d1/d2 share 2 -> J = 2/(3+3-2) = 0.5
    assert(pairs(2L) == Set((1L, 2L, 0.5)))
  }

  test("null array elements contribute nothing (the shared kernel/spec contract)") {
    // The contract exists because SQL can't express it by accident:
    // Spark's xxhash64/hash SKIP a null input and return their seed —
    // never null — so "null hashes to null and drops out" is not a
    // semantics either formulation could have had. Skip-on-both-sides
    // is pinned here as: signature(with nulls) == signature(without).
    val r = Seq((Seq("alpha", null, "beta"), Seq("alpha", "beta")))
      .toDF("wn", "wo")
      .select(SimHash64.simhash(col("wn")).as("s1"),
        SimHash64.simhash(col("wo")).as("s2"),
        TfVector.tf(col("wn"), 16).as("t1"),
        TfVector.tf(col("wo"), 16).as("t2")).head()
    assert(r.getLong(0) == r.getLong(1), "simhash64 must skip null tokens")
    assert(r.getSeq[Double](2) == r.getSeq[Double](3), "tf_vector must skip null tokens")
    val mh = Seq((Seq[java.lang.Long](11L, null, 55L), Seq[java.lang.Long](11L, 55L)))
      .toDF("wn", "wo")
      .select(MinHashSigs.sigs(col("wn"), 4).as("a"),
        MinHashSigs.sigs(col("wo"), 4).as("b")).head()
    assert(mh.getSeq[Int](0) == mh.getSeq[Int](1), "minhash_sigs must skip null hashes")
  }

  test("kernels are SQL-callable via the injected extension") {
    docs.createOrReplaceTempView("sig_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(split(trim(text), '\\s+')) AS sh
        |FROM sig_docs""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaApi = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaApi.foreach { case (id, sh) => assert(viaSql(id) == sh, s"doc $id") }
    val sqlSigs = spark.sql(
      """SELECT minhash_sigs(array(xxhash64('a'), xxhash64('b')), 4) AS s""")
      .head().getSeq[Int](0)
    assert(sqlSigs.length == 4)
  }

  test("dedup_simhash plan: pure projection, zero exchange, kernel in a codegen stage") {
    val df = Dedup.simhash(graft.Tables.documents(spark, "/root/testdata/sf0.001"),
      "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"simhash should not shuffle:\n$p")
    val line = p.linesIterator.find(_.contains("simhash64")).getOrElse("")
    assert(line.nonEmpty && line.contains("*("),
      s"simhash64 not in a codegen stage:\n$p")
  }

  test("minhash signature plan: zero exchange before banding") {
    val df = Dedup.minhashSignatures(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"signatures should not shuffle:\n$p")
  }
}
