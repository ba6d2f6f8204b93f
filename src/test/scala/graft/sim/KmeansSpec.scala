package graft.sim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The shared quantizer fit: the same vectors give bit-identical
  * centroids and artifact bytes whatever their partitioning or row
  * order, the per-centroid training cap binds to a fixed subset, and
  * fewer distinct points than k give fewer centroids under a header
  * that still names the requested k. */
class KmeansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  /** `n` 16-dim vectors around 6 centres, as a frame of `parts`
    * partitions in the row order `order` gives. */
  private def frame(n: Int, parts: Int, order: Seq[Row] => Seq[Row]): DataFrame = {
    val rows = (0 until n).map { i =>
      Row(i.toLong, Array.tabulate(16)(j => ((i % 6) * 3 + j % 5).toFloat + ((i * 31 + j * 7) % 101) * 0.01f))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(order(rows), parts), schema)
  }
  private def inOrder(n: Int) = frame(n, 1, identity)
  private def shuffled(n: Int) = frame(n, 7, new scala.util.Random(3).shuffle(_))

  private def bits(c: Kmeans.Centroids): Seq[Seq[Long]] =
    c.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq

  private def fresh(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_km_$tag").toString + "/a"
  private def bytes(p: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)).toSeq

  test("1 vs 7 partitions in shuffled row order: bit-identical centroids and artifact text") {
    val (a, b) = (inOrder(300), shuffled(300))
    assert(bits(Ivf.fitCentroids(a, "embedding", 8, seed = 5L)) ==
      bits(Ivf.fitCentroids(b, "embedding", 8, seed = 5L)))
    assert(bits(Ivf.fitCentroids(a, "embedding", 8, seed = 5L, trainFraction = 0.5)) ==
      bits(Ivf.fitCentroids(b, "embedding", 8, seed = 5L, trainFraction = 0.5)))
    val (qa, qb, ca, cbp) = (fresh("qa"), fresh("qb"), fresh("ca"), fresh("cb"))
    Ivf.fitOrLoad(a, "embedding", 8, qa, seed = 5L)
    Ivf.fitOrLoad(b, "embedding", 8, qb, seed = 5L)
    assert(bytes(qa) == bytes(qb))
    Pq.fitOrLoad(a, "embedding", m = 4, k = 8, ca, seed = 5L)
    Pq.fitOrLoad(b, "embedding", m = 4, k = 8, cbp, seed = 5L)
    assert(bytes(ca) == bytes(cbp))
  }

  test("the 256·k cap binds: k=2 on 600 vectors trains on the same 512 every run") {
    def train(df: DataFrame) = Kmeans.trainingSet(df, "embedding", k = 2, seed = 42L,
      trainFraction = 1.0, "a test fit")(transform(_, _.cast("double"))).map(_.toSeq).toSeq
    val first = train(inOrder(600))
    assert(first.length == 2 * Kmeans.PointsPerCentroid)
    assert(first.distinct.length == first.length)
    assert(train(inOrder(600)) == first)
    assert(train(shuffled(600)) == first)
  }

  test("fewer distinct points than k: fewer centroids, the header keeps the requested k") {
    import spark.implicits._
    val df = (0L until 12L).map(i => (i, Array(1f + (i % 3), 2f, 3f))).toDF("vec_id", "embedding")
    val p = fresh("few")
    val cents = Ivf.fitOrLoad(df, "embedding", 5, p)
    assert(cents.length == 3)
    assert(cents.map(_.head).sorted.toSeq == Seq(1.0, 2.0, 3.0))
    assert(new String(bytes(p).toArray, "UTF-8").startsWith("#ivf m=1 k=5\n"))
  }
}
