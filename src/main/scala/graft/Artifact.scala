package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one build-or-load life cycle every persisted artifact shares —
  * quantizers, codebooks, index and count tables, sketches, pair
  * graphs, lake copies. Train at ingest, write once, load everywhere:
  *
  *   - ONE per-JVM memo, keyed by (session, path), so repeated consumers
  *     skip even the re-read;
  *   - ONE probe-then-load: the family's `load` returns `None` for a
  *     missing, unreadable or wrong-layout artifact (truncated part
  *     file behind a surviving marker, external tamper), which
  *     REBUILDS instead of being trusted;
  *   - ONE publish: the build writes into a job-unique temp sibling
  *     that [[Ioops.commitDirAtomic]] / [[Ioops.commitFileAtomic]]
  *     renames onto `path` (racing cold starts adopt the winner, a
  *     broken entry artifact is replaced), then the artifact is
  *     RELOADED from disk — disk is the single source of truth, and an
  *     artifact that cannot be read back right after its publish is
  *     loud;
  *   - ONE prune: a publish deletes the generations of the same
  *     artifact it supersedes, on disk and in the memo, so a
  *     regenerated source leaves one generation under [[root]];
  *   - ONE [[invalidate]] for long-lived sessions over a regenerated
  *     lake (stamped paths make it rarely needed, but the memo must not
  *     pin old generations forever).
  *
  * A family keeps only its own loader, build and loud shape check; the
  * check runs on the value `ensure` returns, so a memo hit is verified
  * exactly like a cold load (a caller asking a different shape of a
  * memoized artifact fails instead of being served it). */
object Artifact {

  /** The single root every artifact lives under: the local tmpdir (the
    * artifacts are a cache over their stamped sources — a lake
    * deployment would point this at the warehouse and stamp at
    * ingest). */
  private[graft] val root: String =
    System.getProperty("java.io.tmpdir") + "/graft-models"

  /** `<root>/<name>_<srcDir>_<stamp>`, `srcDir` sanitized
    * `[^A-Za-z0-9.]` → `_`. Parameters belong in `name` (a different
    * parameterization is a different artifact); `stamp` is the source
    * content stamp ([[Ioops.sourceStamp]]), so an in-place regeneration
    * resolves to a NEW artifact instead of serving a stale one, and
    * different source dirs never share one. */
  def path(name: String, srcDir: String, stamp: String): String =
    s"$root/${name}_${srcDir.replaceAll("[^A-Za-z0-9.]", "_")}_$stamp"

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), AnyRef]

  /** Drop every memoized artifact whose path starts with `pathPrefix` —
    * the [[Tables.invalidate]] counterpart for artifacts. */
  def invalidate(pathPrefix: String): Unit = {
    val it = memo.keySet.iterator()
    while (it.hasNext) if (it.next()._2.startsWith(pathPrefix)) it.remove()
  }

  /** Serve the DIRECTORY artifact at `path`: memo, else `load`, else
    * `build(tmp)` into a temp directory published by
    * [[Ioops.commitDirAtomic]] and reloaded. */
  def ensure[T <: AnyRef](spark: SparkSession, path: String)(load: => Option[T])(
      build: String => Unit): T =
    serve(spark, path, load)(Ioops.commitDirAtomic(spark, path)(build))

  /** [[ensure]] for a SINGLE-FILE artifact, published by
    * [[Ioops.commitFileAtomic]]. */
  def ensureFile[T <: AnyRef](spark: SparkSession, path: String)(load: => Option[T])(
      write: java.io.OutputStream => Unit): T = {
    val p = new org.apache.hadoop.fs.Path(path)
    serve(spark, path, load)(
      Ioops.commitFileAtomic(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)(write))
  }

  // computeIfAbsent serializes same-JVM callers of one path (one build,
  // not two racing ones); a build must therefore never ensure another
  // artifact itself — the map forbids recursive updates (so the prune,
  // which edits the memo, runs after it returns).
  private def serve[T <: AnyRef](spark: SparkSession, path: String, load: => Option[T])(
      publish: => Unit): T = {
    var published = false
    val v = memo.computeIfAbsent((spark, path), _ => load.getOrElse {
      publish
      published = true
      load.getOrElse(throw new IllegalStateException(
        s"artifact unreadable immediately after publish: $path"))
    }).asInstanceOf[T]
    if (published) prune(spark, path)
    v
  }

  private val Stamp = "[0-9a-z]+".r

  /** After `published` is published, delete the generations it
    * supersedes — the `<root>/<name>_<srcDir>_<stamp>` siblings with the
    * same `<name>_<srcDir>_` prefix and another stamp — and drop their
    * memo entries, so a regenerated source leaves one generation behind.
    * Only [[path]]-built paths qualify (a direct child of [[root]] whose
    * last `_` segment is a stamp: stamps never contain `_`), so a temp
    * sibling mid-publish is never touched; the published stamp itself is
    * kept, because same-stamp racers adopt it. */
  private def prune(spark: SparkSession, published: String): Unit = {
    val name = published.stripPrefix(s"$root/")
    val gen = name.take(name.lastIndexOf('_') + 1)
    def stamped(n: String) = Stamp.matches(n.drop(gen.length))
    if (name != published && !name.contains('/') && gen.nonEmpty && stamped(name)) {
      val dir = new org.apache.hadoop.fs.Path(root)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).map(_.getPath.getName)
        .filter(n => n != name && n.startsWith(gen) && stamped(n))
        .foreach { n =>
          val stale = s"$root/$n"
          memo.keySet.removeIf(k => k._2 == stale || k._2.startsWith(s"$stale/"))
          fs.delete(new org.apache.hadoop.fs.Path(stale), true)
        }
    }
  }

  /** `read`, if `marker` exists (probed through the Hadoop FS API — a
    * java.io.File probe misses on any non-local defaultFS) and the read
    * succeeds: an unreadable artifact reads as "no artifact" and
    * rebuilds, the safe direction for a staleness/corruption gate. */
  def readIf[T](spark: SparkSession, marker: String)(read: => T): Option[T] = {
    val p = new org.apache.hadoop.fs.Path(marker)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else try Some(read) catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The committed parquet table at `path` if its columns are
    * `accept`ed — footer/schema resolution is the cheap integrity
    * probe, and a wrong layout rebuilds. */
  def readTable(spark: SparkSession, path: String)(
      accept: Seq[String] => Boolean): Option[DataFrame] =
    readIf(spark, s"$path/_SUCCESS")(spark.read.parquet(path))
      .filter(df => accept(df.columns.toSeq))

  /** A single parquet table artifact with exactly `cols`. */
  def table(spark: SparkSession, path: String, cols: Seq[String])(
      build: => DataFrame): DataFrame =
    ensure(spark, path)(readTable(spark, path)(_ == cols))(tmp =>
      build.write.mode("overwrite").parquet(tmp))
}
