package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one k-means fit the ANN quantizers share — [[Ivf]]'s coarse
  * quantizer and every [[Pq]] subspace codebook: seeded k-means++
  * seeding, then [[MaxIter]] Lloyd rounds, on the DRIVER over a
  * bounded training set collected in ONE job.
  *
  * Why the driver: the math is tiny (k ≤ 32 centroids over at most
  * [[PointsPerCentroid]]·k points of ≤ 64 dims — tens of milliseconds),
  * while an MLlib fit of the same math runs one Spark job per init pass
  * and Lloyd round; at this size the fixed per-job cost, not compute,
  * set the latency of every cold index build.
  *
  * Determinism: the training set is a seeded content-hash draw returned
  * in a content order, so centroids are a function of (vectors, k,
  * seed) alone — never of partition layout or row order.
  *
  * Persistence: every quantizer is a plain text artifact — a header
  * `#<tag> m=<m> k=<k>` carrying the REQUESTED shape, then one line per
  * subspace (an IVF quantizer is one subspace), centroids `;`-separated,
  * components `,`-separated in shortest-repr `Double.toString` (a
  * bit-exact round trip, also through DuckDB's `CAST AS DOUBLE`, which is
  * how the ANN oracles read it). */
object Kmeans {

  /** One subspace's k×dim centroid table. */
  type Centroids = Array[Array[Double]]

  /** A fit trains on at most this many points per centroid (FAISS's
    * `max_points_per_centroid`), so the collect stays bounded at any
    * corpus size. */
  val PointsPerCentroid = 256

  private val MaxIter = 5

  /** The training set of a k-centroid fit, collected in one job: the
    * [[Similarity.eligible]] vectors of `df` whose seeded content hash
    * falls in the lowest `trainFraction` of the hash range, capped at the
    * [[PointsPerCentroid]]·k lowest hashes, `project`ed to doubles and
    * ordered by (hash, vector). A NaN or infinite component is loud. */
  private[sim] def trainingSet(df: DataFrame, vecCol: String, k: Int, seed: Long,
                               trainFraction: Double, what: String)(
      project: Column => Column): Array[Array[Double]] = {
    val h = xxhash64(lit(seed), col(vecCol))
    val drawn =
      if (trainFraction < 1.0) df.filter(h < (Long.MinValue + trainFraction * math.pow(2, 64)).toLong)
      else df
    val pts = drawn.filter(Similarity.eligible(col(vecCol)))
      .select(h.as("__h"), col(vecCol).as("__v"), project(col(vecCol)).as("__p"))
      .orderBy("__h", "__v").limit(PointsPerCentroid * k).select("__p")
      .collect().map(_.getSeq[Double](0).toArray)
    require(pts.length >= k,
      s"cannot fit $what with k=$k on ${pts.length} eligible training " +
        s"vector(s) — lower k (or raise trainFraction), or use brute-force " +
        s"search for empty or small corpora")
    require(pts.forall(_.forall(x => !x.isNaN && !x.isInfinite)),
      s"cannot fit $what: a training vector has a NaN or infinite element")
    pts
  }

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def nearestIndex(p: Array[Double], cents: Centroids): Int =
    cents.indices.minBy(j => dist2(p, cents(j)))

  /** Seeded k-means++ over `points` (in the given order), then
    * [[MaxIter]] Lloyd rounds. Ties go to the lowest centroid index, as in
    * [[nearest]]; an empty cluster keeps its centroid. Fewer distinct
    * points than k yields fewer centroids: seeding stops once every point
    * sits on a centroid. */
  private[sim] def fit(points: Array[Array[Double]], k: Int, seed: Long): Centroids = {
    val dim = points.head.length
    require(points.forall(_.length == dim), "ragged training vectors")
    val rng = new java.util.Random(seed)
    val seeds = scala.collection.mutable.ArrayBuffer(points(rng.nextInt(points.length)))
    val d2 = points.map(dist2(_, seeds.head))
    while (seeds.length < k && d2.sum > 0) {
      // draw i with probability d2(i) / sum(d2); the last positive weight
      // takes a draw that rounds to the top of the range
      val cum = d2.scanLeft(0.0)(_ + _).tail
      val r = rng.nextDouble() * cum.last
      val pick = Some(cum.indexWhere(_ > r)).filter(_ >= 0).getOrElse(d2.lastIndexWhere(_ > 0))
      seeds += points(pick)
      d2.indices.foreach(j => d2(j) = math.min(d2(j), dist2(points(j), points(pick))))
    }
    val cents = seeds.toArray
    (1 to MaxIter).foreach { _ =>
      val assign = points.map(nearestIndex(_, cents))
      cents.indices.foreach { c =>
        val members = points.indices.filter(assign(_) == c)
        if (members.nonEmpty)
          cents(c) = Array.tabulate(dim)(x => members.map(points(_)(x)).sum / members.size)
      }
    }
    cents
  }

  /** The 0-based index of the centroid nearest `vec` (squared Euclidean,
    * ties to the lowest index): the fit's own assignment, as a Scala UDF
    * closed over the centroid table. Each distance is Σ(a−b)² added left
    * to right onto 0.0, the doubles `vec_dot` gives against a ones vector
    * (x·1.0 == x); a NaN distance ranks after every number, as in
    * `array_min`. A NULL vector, a NULL element or a length mismatch
    * gives NULL. */
  def nearest(vec: Column, cents: Centroids): Column = {
    val argmin = udf { (v: Seq[java.lang.Double]) =>
      if (v == null || v.length != cents.head.length || v.contains(null)) null
      else Integer.valueOf(nearestIndex(v.iterator.map(_.doubleValue).toArray, cents))
    }
    argmin(vec.cast("array<double>"))
  }

  private[sim] def render(tag: String, m: Int, k: Int, cb: Array[Centroids]): Array[Byte] =
    (s"#$tag m=$m k=$k\n" + cb.map(_.map(_.map(d =>
      java.lang.Double.toString(d)).mkString(",")).mkString(";")).mkString("\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** (requested (m, k) from the header, subspace tables). The header is
    * REQUIRED: the text-parsing oracles take line 1 as the header
    * unconditionally, so a headerless file must rebuild, not be served. */
  private[sim] def parse(tag: String, txt: String): ((Int, Int), Array[Centroids]) = {
    val lines = txt.split("\n")
    val mk = s"#$tag m=(\\d+) k=(\\d+)".r.findPrefixMatchOf(lines.head)
      .getOrElse(throw new IllegalArgumentException(
        s"artifact missing its '#$tag m=.. k=..' header — rebuild"))
    ((mk.group(1).toInt, mk.group(2).toInt),
      lines.tail.map(_.split(";").map(_.split(",").map(java.lang.Double.parseDouble))))
  }

  private[sim] def readText(path: String, conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(conf).open(p)
    try org.apache.commons.io.IOUtils.toString(in, "UTF-8") finally in.close()
  }

  private def shape(m: Int, k: Int): String = if (m == 1) s"k=$k" else s"(m=$m, k=$k)"

  /** Train-once/probe-many: the quantizer artifact at `path` through the
    * [[graft.Artifact]] life cycle (memo; an unparseable file rebuilds;
    * atomic publish, racing cold starts adopt the winner), `fit` only on
    * a miss. The header carries the REQUESTED shape: a fit may return
    * fewer than k centroids, so the tables cannot tell "fit for k=16"
    * from "fit for k=32, got 16". A different requested shape is loud on
    * every serve, memo hit included. */
  private[sim] def ensure(spark: SparkSession, path: String, tag: String, m: Int, k: Int)(
      fit: => Array[Centroids]): Array[Centroids] = {
    val ((am, ak), cb) = graft.Artifact.ensureFile(spark, path)(
      graft.Artifact.readIf(spark, path)(parse(tag, readText(path, spark.sparkContext.hadoopConfiguration))))(
      _.write(render(tag, m, k, fit)))
    require(am == m && ak == k,
      s"$tag artifact at $path was fit for ${shape(am, ak)}, requested " +
        s"${shape(m, k)} — stale or mis-keyed artifact path")
    require(cb.length == m && cb.forall(s => s.length >= 1 && s.length <= k),
      s"$tag artifact at $path has shape (m=${cb.length}, " +
        s"k=${cb.headOption.map(_.length).getOrElse(0)}), expected (m=$m, k<=$k)")
    val dim = cb.head.head.length
    require(cb.forall(_.forall(_.length == dim)),
      s"$tag artifact at $path has ragged centroid dimensions")
    cb
  }
}
