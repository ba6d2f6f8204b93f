package graft.sim

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Ioops, SparkTestSession, Tables, TempDirs}

/** ANN artifact staleness: index artifacts are keyed by the source's
  * filesystem-metadata stamp, so regenerating the embeddings table in
  * place must produce a NEW artifact (a refit) instead of silently
  * serving stale centroids/codebooks — the failure mode a bare
  * dir-keyed cache has when a lake is rewritten under it. */
class StampSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** 64 vectors of dim 64 (PQ m=8 needs dim % 8 == 0), spread over 16
    * well-separated lattice points so KMeans k=16 is well-posed. */
  private def writeEmbeddings(dir: String, shift: Float): Unit = {
    val rows = (0 until 64).map { i =>
      val base = (i % 16).toFloat * 10f + shift
      Row(i.toLong, Array.tabulate(64)(j => base + (j % 4) * 0.1f), i % 3)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), embSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("sourceStamp changes on in-place regeneration, stable across reads") {
    TempDirs.withTempDir("graft_stamp") { dir =>
      writeEmbeddings(dir, 0f)
      val s1 = Ioops.sourceStamp(spark, s"$dir/embeddings.parquet")
      val s1b = Ioops.sourceStamp(spark, s"$dir/embeddings.parquet")
      assert(s1 == s1b, "stamp must be deterministic for an unchanged source")
      assert(s1 != "absent")
      Thread.sleep(5) // ensure mtime can move even on coarse-granularity FS
      writeEmbeddings(dir, 100f)
      val s2 = Ioops.sourceStamp(spark, s"$dir/embeddings.parquet")
      assert(s1 != s2, "regenerated source must stamp differently")
      assert(Ioops.sourceStamp(spark, s"$dir/does_not_exist.parquet") == "absent")
    }
  }

  test("quantizer refits after in-place regeneration (new artifact, not stale reuse)") {
    val src = TempDirs.withTempDir("graft_refit") { dir =>
      val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
      def ivfArtifacts(): Set[String] = {
        val models = new java.io.File(System.getProperty("java.io.tmpdir"), "graft-models")
        Option(models.list()).getOrElse(Array.empty)
          .filter(n => n.startsWith("ivf_k16_") && n.contains(slug)).toSet
      }
      writeEmbeddings(dir, 0f)
      graft.queries.TextSim.prebuildIndexes(spark, dir)
      val gen1 = ivfArtifacts()
      assert(gen1.size == 1, s"expected one artifact for generation 1, got $gen1")
      // idempotent: a second prebuild against the unchanged source loads
      graft.queries.TextSim.prebuildIndexes(spark, dir)
      assert(ivfArtifacts() == gen1)
      // regenerate in place; the catalog memo must be dropped (documented
      // contract for in-place rewrites) and the stamp must route the next
      // prebuild to a NEW artifact path — i.e. a refit on the new data
      Thread.sleep(5)
      writeEmbeddings(dir, 100f)
      Tables.invalidate(dir)
      graft.queries.TextSim.prebuildIndexes(spark, dir)
      // the publish of the refit prunes the superseded generation
      val gen2 = ivfArtifacts()
      assert(gen2.size == 1 && gen2 != gen1,
        s"regeneration must leave exactly one, new artifact (refit): gen1=$gen1 gen2=$gen2")
      assert(TempDirs.artifactsOf(dir).nonEmpty) // the check below is not vacuous
      dir
    }
    // the spec's temp source leaves nothing behind: no dir, no generation
    assert(TempDirs.artifactsOf(src).isEmpty && !new java.io.File(src).exists,
      s"leftovers of $src: ${TempDirs.artifactsOf(src)}")
  }
}
