package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Persisted corpus-bloom artifact ([[CorpusSketches.bloomOrLoad]]):
  * build-then-save and load must probe identically (the admission
  * verdict cannot depend on which path ran), a corrupt artifact
  * rebuilds instead of being trusted, and the artifact-backed
  * incrementalNew overload equals the inline-build path exactly. */
class SketchArtifactSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpPath(name: String): String =
    java.nio.file.Files.createTempDirectory("graft_sketch").resolve(name).toString

  private val corpus = (0L until 40L)
    .map(i => (i, s"corpus document number $i with stable body"))
    .toDF("doc_id", "text")

  test("bloomOrLoad: cold build writes the artifact; a fresh load probes identically") {
    val path = tmpPath("bloom_a")
    val built = CorpusSketches.bloomOrLoad(corpus, "text", 1000L, 0.01, path)
    assert(new java.io.File(path).isFile, "artifact file must exist after build")
    // read the artifact back directly (bypasses the memo — exercises
    // the exact deserialization the warm-load path runs)
    val in = new java.io.FileInputStream(path)
    val loaded = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
                 finally in.close()
    // identical probe behavior over present keys and a disjoint probe set
    val keys = corpus.select(
      xxhash64(TextOps.fingerprint(col("text"))).as("h"))
      .as[Long].collect()
    keys.foreach(k => assert(built.mightContainLong(k) && loaded.mightContainLong(k),
      s"present key $k must probe true on both"))
    (1L to 200L).map(i => Long.MaxValue - i * 7919).foreach { k =>
      assert(built.mightContainLong(k) == loaded.mightContainLong(k),
        s"probe parity broken for $k")
    }
  }

  test("bloomOrLoad: a corrupt artifact rebuilds instead of being trusted") {
    val path = tmpPath("bloom_b")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Array[Byte](1, 2, 3, 4)) // garbage: readFrom throws IOException
    val rebuilt = CorpusSketches.bloomOrLoad(corpus, "text", 1000L, 0.01, path)
    val keys = corpus.select(
      xxhash64(TextOps.fingerprint(col("text"))).as("h"))
      .as[Long].collect()
    keys.foreach(k => assert(rebuilt.mightContainLong(k),
      "rebuilt filter must contain every corpus key"))
  }

  test("invalidateBlooms drops the memo: a rewritten artifact is re-read, not served stale") {
    val path = tmpPath("bloom_d")
    val built = CorpusSketches.bloomOrLoad(corpus, "text", 1000L, 0.01, path)
    // overwrite the artifact with a DIFFERENT corpus's filter — through
    // the Hadoop FS API: a java.io write would orphan the .crc sidecar
    // and the loader would (correctly) treat the artifact as unreadable
    val other = (1000L until 1010L)
      .map(i => (i, s"completely different corpus line $i")).toDF("doc_id", "text")
    val otherBloom = CorpusSketches.fingerprintBloom(other, "text", 1000L, 0.01)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hp, true)
    try otherBloom.writeTo(out) finally out.close()
    // memo still serves the original; after invalidation the rewritten
    // artifact is loaded
    assert(CorpusSketches.bloomOrLoad(corpus, "text", 1000L, 0.01, path) eq built)
    graft.Artifact.invalidate(path)
    val reloaded = CorpusSketches.bloomOrLoad(corpus, "text", 1000L, 0.01, path)
    val otherKeys = other.select(
      xxhash64(TextOps.fingerprint(col("text"))).as("h")).as[Long].collect()
    otherKeys.foreach(k => assert(reloaded.mightContainLong(k),
      "post-invalidate load must serve the rewritten artifact"))
  }

  test("invalidateModels drops the memo for a prefix") {
    val path = tmpPath("lm_a")
    val m1 = TextOps.ensureBigramModel(corpus, "text", path)
    assert(TextOps.ensureBigramModel(corpus, "text", path) eq m1)
    graft.Artifact.invalidate(path)
    val m2 = TextOps.ensureBigramModel(corpus, "text", path)
    assert(!(m2 eq m1), "post-invalidate call must resolve a fresh frame")
    assert(m2.columns.toSeq == Seq("a", "b", "n_ab"))
  }

  test("artifact-backed incrementalNew equals the inline-build path") {
    val path = tmpPath("bloom_c")
    val batch = ((20L until 40L).map(i => (100 + i, s"corpus document number $i with stable body")) ++
      (0L until 10L).map(i => (200 + i, s"genuinely new crawl item $i"))).toDF("doc_id", "text")
    val bloom = CorpusSketches.bloomOrLoad(corpus, "text", 1000L, 0.01, path)
    val viaArtifact = Dedup.incrementalNew(corpus, batch, "doc_id", "text",
      bloom, 1000L, 0.01).select("doc_id").as[Long].collect().sorted.toSeq
    val inline = Dedup.incrementalNew(corpus, batch, "doc_id", "text",
      expected = 1000L, fpp = 0.01).select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaArtifact == inline && viaArtifact == (200L until 210L),
      s"artifact=$viaArtifact inline=$inline")
  }
}
