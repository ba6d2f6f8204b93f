package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Artifact-pollution canaries — the TablesSpec schema-drift canary
  * generalized to the persisted-artifact layer (VERDICT r8 #8): for
  * every artifact family, plant a FOREIGN artifact (wrong schema, wrong
  * shape, or plain garbage) at the exact path the loader probes and
  * assert the documented contract: unreadable/wrong-layout artifacts
  * REBUILD (never trusted, never served), while shape mismatches that
  * indicate a caller error (wrong k / wrong (m,k) against a HEALTHY
  * artifact) fail LOUDLY instead of refitting over a mis-keyed path.
  * The r7 testdata-regeneration outage was exactly this class: a
  * loader trusting a surviving marker over changed content. */
class ArtifactCanarySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_canary_$tag").toString

  private def emb = (0L until 24L).map { i =>
    (i, Array.tabulate(8)(j => (((i * 31 + j * 17) % 23).toFloat - 11f) / 5f))
  }.toDF("vec_id", "embedding")

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon zeta"),
    (3L, "one two three four five six seven"),
    (4L, "entirely different words appear here now"),
    (5L, "one two three four five six seven")
  ).toDF("doc_id", "text")

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Plant a wrong-schema parquet directory (with its _SUCCESS) at `path`. */
  private def pollute(path: String): Unit =
    Seq(("junk", 1)).toDF("wrong", "layout")
      .write.mode("overwrite").parquet(path)

  test("quantizer: unreadable foreign dir rebuilds; healthy wrong-k artifact is loud") {
    // (a) garbage bytes at the path read as "no artifact" and rebuild
    // into a headed quantizer file
    val p1 = freshDir("ivf") + "/q1"
    val pp1 = new org.apache.hadoop.fs.Path(p1)
    fs.mkdirs(pp1.getParent)
    val out = fs.create(pp1, true)
    out.write(Array.fill[Byte](64)(0x5a))
    out.close()
    val m1 = graft.sim.Ivf.fitOrLoad(emb, "embedding", 3, p1)
    assert(m1.length == 3)
    val in = fs.open(pp1)
    val firstLine = try scala.io.Source.fromInputStream(in).getLines().next()
      finally in.close()
    assert(firstLine == "#ivf m=1 k=3")
    // a foreign DIRECTORY at the path (an older, directory-shaped
    // quantizer format) is replaced by the file too
    val p0 = freshDir("ivfdir") + "/q0"
    pollute(p0)
    assert(graft.sim.Ivf.fitOrLoad(emb, "embedding", 3, p0).length == 3)
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(p0)).isFile)
    // (b) a HEALTHY artifact fit for k=3 probed with k=4 is a mis-keyed
    // path (stamps cover data, not parameters) — loud, never refit
    val e = intercept[IllegalArgumentException](
      graft.sim.Ivf.fitOrLoad(emb, "embedding", 4, p1))
    assert(e.getMessage.contains("k=3"))
  }

  test("pq codebook: headerless artifact rebuilds with a header; wrong-shape header is loud") {
    // (a) pre-header generation: parseArtifact now REQUIRES the '#pq'
    // header (the text-parsing oracle reads line 1 as the header
    // unconditionally) — a surviving headerless file must rebuild, not
    // be served while the oracle misparses it
    val p1 = freshDir("pq") + "/cb1"
    val pp1 = new org.apache.hadoop.fs.Path(p1)
    fs.mkdirs(pp1.getParent)
    val out = fs.create(pp1, true)
    out.write("0.1,0.2;0.3,0.4\n0.5,0.6;0.7,0.8\n".getBytes("UTF-8"))
    out.close()
    val cb = graft.sim.Pq.fitOrLoad(emb, "embedding", m = 2, k = 4, p1)
    assert(cb.length == 2 && cb.forall(_.nonEmpty))
    val in = fs.open(pp1)
    val firstLine = try scala.io.Source.fromInputStream(in).getLines().next()
      finally in.close()
    assert(firstLine.startsWith("#pq m=2 k=4"))
    // (b) healthy artifact probed with a different shape: loud
    val e = intercept[IllegalArgumentException](
      graft.sim.Pq.fitOrLoad(emb, "embedding", m = 2, k = 8, p1))
    assert(e.getMessage.contains("m=2, k=4"))
  }

  test("ivf-pq index: wrong-schema directory behind a surviving _SUCCESS rebuilds") {
    val base = freshDir("idx")
    val model = graft.sim.Ivf.fitOrLoad(emb, "embedding", 3, s"$base/q")
    val cb = graft.sim.Pq.fitOrLoad(emb, "embedding", m = 2, k = 4, s"$base/cb")
    val p = s"$base/idx"
    pollute(p)
    val idx = graft.sim.IvfPq.ensureIndex(emb, "vec_id", "embedding", model, cb, p)
    assert(idx.columns.toSet == Set("cell", "neighbor_id", "vec", "norm", "pq_codes"))
    assert(idx.count() == 24L)
  }

  test("pair graphs: polluted pairs half rebuilds both halves consistently") {
    val p = freshDir("pg") + "/g"
    pollute(s"$p/pairs")
    val (pairs, comps) = graft.text.Dedup.ensurePairGraph(
      docs, "doc_id", "text", n = 3, threshold = 0.5, p)
    assert(pairs.columns.toSeq == Seq("id_a", "id_b", "jaccard"))
    assert(comps.columns.toSeq == Seq("node", "component"))
    // the planted exact duplicates must pair; components cover them
    val ps = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ps.contains((1L, 2L)) && ps.contains((3L, 5L)))
  }

  test("corpus bloom: garbage bytes at the artifact path rebuild a working filter") {
    val p = freshDir("bloom") + "/b"
    val pp = new org.apache.hadoop.fs.Path(p)
    fs.mkdirs(pp.getParent)
    val out = fs.create(pp, true)
    out.write(Array.fill[Byte](64)(0x5a))
    out.close()
    val bloom = graft.text.CorpusSketches.bloomOrLoad(
      docs, "text", expected = 100L, fpp = 0.01, p)
    // no false negatives: every corpus fingerprint hash must probe true
    val fps = docs.select(
        xxhash64(graft.text.TextOps.fingerprint(col("text"))).as("fp_h"))
      .as[Long].collect()
    assert(fps.forall(bloom.mightContainLong))
  }

  test("bigram LM: wrong-schema count table rebuilds") {
    val p = freshDir("lm") + "/m"
    pollute(p)
    val lm = graft.text.TextOps.ensureBigramModel(docs, "text", p)
    assert(lm.columns.toSeq == Seq("a", "b", "n_ab"))
    assert(lm.count() > 0)
  }

  test("span blocklist: wrong-schema table rebuilds") {
    val p = freshDir("spans") + "/s"
    pollute(p)
    val spans = graft.text.Dedup.ensureSpanBlocklist(
      docs, "text", window = 4, minDocs = 2L, p)
    assert(spans.columns.toSeq == Seq("span", "n_docs"))
    // the duplicated sentences share every 4-gram across >= 2 docs
    assert(spans.count() > 0)
  }

  test("invalidateTables drops the single-table memo: a regenerated artifact is re-read") {
    val p = freshDir("inv") + "/sh"
    val n1 = graft.text.Dedup.ensureShingleSet(docs, "doc_id", "text", n = 3, p).count()
    // regenerate in place (delete + rebuild from a smaller doc set):
    // without the invalidate, the per-JVM memo would keep serving the
    // old frame over the old files
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    Artifact.invalidate(p)
    val n2 = graft.text.Dedup.ensureShingleSet(
      docs.filter(col("doc_id") <= 2), "doc_id", "text", n = 3, p).count()
    assert(n2 < n1, s"expected a fresh, smaller shingle set; got $n2 vs $n1")
  }

  test("shingle set: wrong-schema table rebuilds to the distinct hash set") {
    val p = freshDir("shset") + "/sh"
    pollute(p)
    val sh = graft.text.Dedup.ensureShingleSet(docs, "doc_id", "text", n = 3, p)
    assert(sh.columns.toSeq == Seq("shingle_h"))
    val n = sh.count()
    assert(n == sh.distinct().count() && n > 0)
  }

  test("every oracle artifact path lies under the one artifact root") {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"), "graft-models").getPath + "/"
    val subs = graft.queries.TextSim.oracleSubstitutions(spark, freshDir("subs"))
    assert(subs.nonEmpty)
    subs.foreach { case (token, path) =>
      assert(path.startsWith(root), s"$token -> $path is outside $root")
    }
  }

  test("a publish prunes superseded generations, on disk and in the memo, and nothing else") {
    val src = freshDir("prune")
    def gen(stamp: String) = Artifact.path("prune_canary", src, stamp)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    def table(stamp: String, v: Int) =
      Artifact.table(spark, gen(stamp), Seq("v"))(Seq(v).toDF("v"))
    assert(table("aaa1", 1).as[Int].collect().toSeq == Seq(1))
    // neighbours a prune must leave alone: a temp sibling mid-publish
    // and another artifact over the same source
    val temp = gen("aaa1") + ".tmp-0"
    val other = Artifact.path("prune_canary_other", src, "aaa1")
    fs.mkdirs(new org.apache.hadoop.fs.Path(temp))
    fs.mkdirs(new org.apache.hadoop.fs.Path(other))
    assert(table("bbb2", 2).as[Int].collect().toSeq == Seq(2))
    assert(!exists(gen("aaa1")) && exists(gen("bbb2")))
    assert(exists(temp) && exists(other))
    // the pruned generation's memo entry went with it: asking for it
    // again builds afresh (and prunes the newer one in turn)
    assert(table("aaa1", 3).as[Int].collect().toSeq == Seq(3))
    assert(exists(gen("aaa1")) && !exists(gen("bbb2")))
    Seq(gen("aaa1"), temp, other).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
  }

  test("Artifact.invalidate flushes a memoized pq codebook: a rewritten artifact is re-read") {
    val p = freshDir("pqinv") + "/cb"
    val cb = graft.sim.Pq.fitOrLoad(emb, "embedding", m = 2, k = 4, p)
    // rewrite in place with a different (m=2, k=4) codebook: the memo
    // keeps serving the old fit until the path is invalidated
    val other = Array.tabulate(2, 4, 4)((j, c, x) => (j * 100 + c * 10 + x).toDouble)
    val path = new org.apache.hadoop.fs.Path(p)
    val out = path.getFileSystem(spark.sparkContext.hadoopConfiguration).create(path, true)
    try out.write(("#pq m=2 k=4\n" + other.map(_.map(_.mkString(",")).mkString(";"))
      .mkString("\n")).getBytes("UTF-8"))
    finally out.close()
    assert(graft.sim.Pq.fitOrLoad(emb, "embedding", m = 2, k = 4, p) eq cb)
    Artifact.invalidate(p)
    val reloaded = graft.sim.Pq.fitOrLoad(emb, "embedding", m = 2, k = 4, p)
    assert(reloaded.flatten.flatten.toSeq == other.flatten.flatten.toSeq)
  }
}
