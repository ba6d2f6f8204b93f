package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{format_string, when}
import org.apache.spark.sql.types.StructType

/** S1/S2/S6 + X17: schema'd CSV ingestion, fail-fast input validation,
  * CSV sink, templated path resolution, and a plain metrics sink
  * (SURVEY.md §2.1, §2.8 X17, §7.6).
  *
  * The reference's entire input path is schema-inferred CSV guarded by
  * required-column / empty-input checks (`src/io/datasets.py:14-47`,
  * `plays.py:67-72`, `tracking.py:40-44`, `players.py:51-58`). Here the
  * schema is explicit (`StructType`) — schema-on-read with no inference
  * pass, so a malformed file fails the row, not silently retypes the
  * column — and the validations are split by cost: column checks are
  * metadata-only (free, always on); the empty-input check is one
  * `limit 1` job (opt-in, at pipeline entry points only).
  */
object Ioops {

  /** S6 fail-fast: missing-column check (plays.py:67-72 raises
    * ValueError). Metadata-only — no job. */
  def requireColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"Missing required columns: ${missing.mkString(", ")} (have: ${df.columns.mkString(", ")})")
    df
  }

  /** S6 fail-fast: empty-input check (plays.py:91-94). Costs one
    * `limit 1` job — call at pipeline entry points, not per stage. */
  def requireNonEmpty(df: DataFrame, what: String = "input"): DataFrame = {
    require(!df.isEmpty, s"Empty $what")
    df
  }

  /** S1: CSV scan with an explicit schema (reference
    * `pd.read_csv(low_memory=False)` whole-file inference,
    * datasets.py:14-29 — replaced by schema-on-read: one pass, typed,
    * malformed rows fail instead of silently retyping a column). */
  def readCsv(spark: SparkSession, schema: StructType, path: String,
              requiredColumns: Seq[String] = Seq.empty): DataFrame = {
    val df = spark.read.schema(schema)
      .option("header", true)
      .option("mode", "FAILFAST")
      // distinguish null from empty string (matching [[writeCsv]]):
      // with Spark's defaults BOTH serialize to an empty field and read
      // back as null — an empty c_name silently becomes SQL NULL across
      // one roundtrip (hostile sweep, r10). RESERVED MARKER: the
      // two-character string \N is the null representation on the wire,
      // so a data value that IS literally \N round-trips to SQL NULL
      // (univocity compares the unquoted field text to nullValue, so
      // quoting cannot protect it). This is the standard mysqldump/Hive
      // convention and the trade accepted here: "" vs NULL fidelity for
      // every string, in exchange for one reserved token.
      .option("nullValue", "\\N")
      .option("emptyValue", "")
      .csv(path)
    requireColumns(df, if (requiredColumns.nonEmpty) requiredColumns else schema.fieldNames.toSeq)
  }

  /** S2: CSV sink with header (datasets.py:35-47 `to_csv(index=False)`,
    * mkdir-parents — Spark creates the directory itself). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", true)
      // see [[readCsv]]: null vs "" must roundtrip; \N is a RESERVED
      // marker — a string value literally equal to \N reads back as NULL
      .option("nullValue", "\\N")
      .option("emptyValue", "\"\"")
      .csv(path)

  /** JSON-lines scan with an explicit schema (same schema-on-read
    * stance as [[readCsv]]; no sampling/inference pass over the data). */
  def readJsonl(spark: SparkSession, schema: StructType, path: String): DataFrame =
    requireColumns(
      spark.read.schema(schema).option("mode", "FAILFAST").json(path),
      schema.fieldNames.toSeq)

  /** JSON-lines sink. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** X17: templated weekly-file path (settings.py:57-58,163
    * `"input_2023_w{week:02d}.csv"`), driver-side form. Locale pinned
    * to ROOT: the f-interpolator's `%02d` renders the JVM default
    * locale's DIGIT SHAPES (e.g. Arabic-Indic under ar_* locales),
    * while the Column twin below goes through Spark's `format_string`
    * (pinned to Locale.US) — without the pin the two forms of the
    * same template can mint different paths on the same data (the
    * review-r14 locale class, swept corpus-wide in r17). */
  def weeklyFile(prefix: String, week: Int): String =
    String.format(java.util.Locale.ROOT, "%s_w%02d.csv", prefix, Int.box(week))

  /** X17 as a Column — per-row path/file-name templating. */
  def weeklyFileCol(prefix: String, week: Column): Column =
    // null-STRICT: format_string renders a null key as the literal
    // string "null" (Java Formatter), silently minting a real-looking
    // path like "input_2023_wnull.csv" — a templated path from a null
    // key must be NULL (hostile sweep, r10)
    when(week.isNotNull, format_string(s"${prefix}_w%02d.csv", week))

  /** Content stamp for a source path, from filesystem METADATA only
    * (per-file name + length + modification time, hashed) — no data
    * scan, no Spark job. Changes whenever the source is regenerated in
    * place (new files, new sizes, or new mtimes), which is exactly the
    * staleness signal derived artifacts (ANN quantizers/codebooks,
    * bucketed copies) need: key the artifact by this stamp and a
    * regenerated source resolves to a NEW artifact path instead of
    * silently serving a stale model. Probed through the Hadoop
    * FileSystem API (same rule as ensureBucketedPair): java.io.File
    * misses on any non-local defaultFS. Missing/unreadable source →
    * "absent" stamp (artifact build will fail loudly downstream).
    * Granularity caveat: an in-place rewrite that preserves every file
    * name and byte length AND lands within the filesystem's mtime
    * resolution of the prior write collides (ext4/HDFS resolve millis;
    * some filesystems truncate to whole seconds, where a same-second
    * equal-size rewrite is conceivable). Closing that residual window
    * needs a content read (e.g. a footer hash) — deliberately not paid
    * here; regeneration pipelines that rewrite in place sub-second
    * should stamp content at ingest instead. */
  def sourceStamp(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val fs = p.getFileSystem(conf)
      val parts = fs.listStatus(p).filter(_.isFile)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted
      // NUL folded between entries: without a separator, distinct file
      // SETS can concatenate to one identical character stream (names
      // already contain ':' and digit boundaries shift), silently
      // colliding two different generations onto one artifact path.
      java.lang.Long.toUnsignedString(
        parts.foldLeft(1125899906842597L) { (h, s) =>
          s.foldLeft(h)((a, c) => a * 31 + c) * 31
        }, 36)
    } catch { case _: java.io.IOException => "absent" }
  }

  /** [[commitDirAtomic]]'s entry rule for SINGLE-FILE artifacts — ONE
    * definition of the file-publish protocol (job-unique temp,
    * entry-state capture, failed-write cleanup, adopt-the-winner with
    * a POST-RENAME verification) shared by the codebook and bloom
    * writers, which had drifted into two hand-rolled copies (one of
    * them missing the verification: a rename failing for a non-race
    * reason silently discarded the artifact and every later cold JVM
    * rebuilt it forever). A destination present at ENTRY is one the
    * caller judged broken/stale (or asked to overwrite) and is
    * replaced; one appearing LATER is a racing publisher's complete
    * artifact and is never deleted — local FS replaces it atomically
    * with (content-identical) bytes, HDFS fails the rename and the
    * loser adopts. */
  def commitFileAtomic(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path)(
                       write: java.io.OutputStream => Unit): Unit = {
    // Capture the BROKEN entry artifact's identity (length + mtime),
    // not just its existence: the lost-race verification below must
    // distinguish "a racing committer's fresh artifact now sits at p"
    // (adopt it) from "the broken entry artifact survived an
    // undeletable state and my rename silently failed against it"
    // (loud — the silent mode where every later cold JVM rebuilds
    // forever). A bare exists() probe cannot tell those apart, and a
    // delete-result check alone has the opposite failure: a racing
    // winner publishing between this JVM's delete and probe reads as
    // "could not delete" and crashes a benign race.
    val entryBroken: Option[(Long, Long)] =
      try { val st = fs.getFileStatus(p); Some((st.getLen, st.getModificationTime)) }
      catch { case _: java.io.FileNotFoundException => None }
    val tmp = new org.apache.hadoop.fs.Path(
      p.toString + ".tmp-" + java.util.UUID.randomUUID().toString)
    try {
      val out = fs.create(tmp, true)
      try write(out) finally out.close()
    } catch { case e: Throwable =>
      // a failed write must not orphan a partial temp file per retry
      try fs.delete(tmp, false)
      catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
    // recursive: a directory where a file artifact belongs (an older
    // artifact format) is as broken as a garbled file
    if (entryBroken.isDefined) fs.delete(p, true) // result judged below
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false) // lost the race — adopt the winner at `p`
      val now = try { val st = fs.getFileStatus(p); Some((st.getLen, st.getModificationTime)) }
        catch { case _: java.io.FileNotFoundException => None }
      require(now.isDefined && now != entryBroken,
        s"file artifact commit failed: $p after a failed rename is " +
          (if (now.isDefined) "still the broken entry artifact (undeletable?)"
           else "absent") + s" — fresh build at $tmp was discarded")
    }
  }

  /** Atomically publish a directory artifact: `build` writes into a
    * job-unique sibling temp directory, which is then renamed onto
    * `path` (one filesystem metadata op on HDFS/local — never a
    * partially-visible directory). Two processes cold-starting on the
    * same stamp each build their own temp dir; the rename loser
    * detects the winner (rename onto an existing path fails), deletes
    * its own build, and reads the winner's — a mixed directory with
    * part files from both jobs under one surviving _SUCCESS (the
    * failure mode of racing `mode("overwrite")` writes, which
    * duplicates every downstream consumer's rows) cannot occur. A
    * pre-existing BROKEN artifact (failed integrity probe upstream) is
    * deleted before the rename; if the delete and rename interleave
    * with another process's commit, exactly one directory still wins.
    * Object stores without atomic rename (S3) need a manifest commit
    * instead — out of scope for the HDFS/local deployments here. */
  def commitDirAtomic(spark: SparkSession, path: String)
                     (build: String => Unit): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      path + ".tmp-" + java.util.UUID.randomUUID().toString)
    // A destination present at ENTRY is one the caller already probed
    // and judged broken/stale (callers only commit after a failed
    // load) — mark it for replacement NOW, capturing its identity:
    // a destination that appears LATER is a racing builder's
    // complete artifact and must be adopted, never deleted, while a
    // destination that is STILL the broken entry directory after a
    // skipped/failed rename means the fresh build was silently
    // discarded (the loud case — see [[commitFileAtomic]]).
    // Identity = own mtime PLUS a child-listing fingerprint
    // (name/len/mtime of every direct child): on a coarse-timestamp
    // filesystem two directories created in the same tick share an
    // mtime, and a racing winner's would then be misclassified as
    // "still the broken entry artifact" — a crash on a benign race.
    // Two artifacts with identical child fingerprints are the same
    // artifact for the adopt-or-crash decision either way.
    val entryBroken: Option[(Long, String)] = dirIdentity(fs, dest)
    try build(tmp.toString)
    catch { case e: Throwable =>
      // a failed build must not orphan a partial temp dir per retry
      try fs.delete(tmp, true)
      catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
    if (entryBroken.isDefined) fs.delete(dest, true) // result judged below
    // rename needs an existing destination parent (local FS semantics)
    Option(dest.getParent).foreach(fs.mkdirs(_))
    // CAUTION: Hadoop LocalFileSystem.rename onto an EXISTING directory
    // does not fail — it falls back to a copy that nests tmp INSIDE
    // dest and returns true (verified against Hadoop 3.4.x), which
    // would permanently pollute the winner's artifact (and make a
    // partitioned artifact unreadable: conflicting directory
    // structures). So: skip the rename when a winner is already
    // visible, and if the rename raced into the remaining window and
    // nested anyway, detect the nested directory by name and remove
    // it — the winner's files are untouched either way.
    val renamed = !fs.exists(dest) && fs.rename(tmp, dest)
    if (renamed) {
      val nested = new org.apache.hadoop.fs.Path(dest, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true) // lost via local-FS nesting
    } else {
      // lost the publish race (or HDFS-style rename-onto-existing
      // failure) — the concurrent builder's artifact is complete
      // (rename is atomic), so discard ours and use theirs. Verified
      // by IDENTITY, not existence: the surviving destination must be
      // a NEW directory (a racing winner), not the broken entry one
      // (which would mean an undeletable broken artifact silently
      // swallowed this fresh build).
      fs.delete(tmp, true)
      val now = dirIdentity(fs, dest)
      // If EITHER probe's child listing failed, its "<unlistable>"
      // sentinel would make the same directory compare as different —
      // flipping this require into a silent adopt of the stale broken
      // artifact (the exact swallow it exists to catch). Degrade to
      // mtime-only for that probe pair, as the doc promises.
      // Deliberate tie-break toward LOUD: under mtime-only, a racing
      // winner whose directory mtime lands in the broken entry's same
      // coarse-filesystem tick is misclassified as "still broken" and
      // crashes a benign race — but that needs a transient listing
      // failure AND an mtime collision, is visible, and is retryable,
      // whereas the opposite bias (treat unlistable as different)
      // silently keeps a broken artifact. Loud beats silent here.
      val sameAsEntry = (entryBroken, now) match {
        case (Some((em, ek)), Some((nm, nk))) =>
          if (ek == Unlistable || nk == Unlistable) nm == em
          else em == nm && ek == nk
        case _ => false // no broken artifact at entry -> survivor is a winner
      }
      require(now.isDefined && !sameAsEntry,
        s"artifact commit failed: $path after a failed rename is " +
          (if (now.isDefined) "still the broken entry artifact (undeletable?)"
           else "absent") + " — fresh build was discarded")
    }
  }

  /** Directory identity for [[commitDirAtomic]]'s lost-race check:
    * own mtime plus a direct-child fingerprint (sorted name/len/mtime
    * triples). Listing failure on an existing directory yields the
    * [[Unlistable]] sentinel, which the comparison site treats as
    * "fingerprint unknown — compare mtimes only" (never as a distinct
    * fingerprint: that would make a transiently unlistable directory
    * compare as different from itself). */
  private val Unlistable = "<unlistable>"
  private def dirIdentity(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path): Option[(Long, String)] =
    try {
      val st = fs.getFileStatus(p)
      val kids =
        try fs.listStatus(p).map(c =>
            s"${c.getPath.getName}:${c.getLen}:${c.getModificationTime}")
          .sorted.mkString(",")
        catch { case scala.util.control.NonFatal(_) => Unlistable }
      Some((st.getModificationTime, kids))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Bucketed table sink: co-locates both sides of a recurring join —
    * two tables bucketed the same way on the join keys sort-merge-join
    * with NO exchange (asserted in BucketingSpec). The 100-TB tool for
    * fact⋈fact joins repeated across jobs: pay the shuffle once at
    * write, never at read. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, keys: Seq[String],
                    path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    path.fold(w)(w.option("path", _)).saveAsTable(table)
  }

  /** Bucketed orders⋈customer pair for the j15 scoreboard query:
    * written once per (session, sf dir) — the first run pays the two
    * bucket shuffles (exactly the cost model of a real lake, where the
    * tables are bucketed at ingest and every later join rides free).
    * Each side is pre-partitioned into its 8 buckets so every bucket is
    * ONE file — the sound layout for sort-elimination too: the join is
    * always exchange-free, and under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (off by
    * default since Spark 3.0) the SMJ also drops its sorts (both
    * asserted in BucketingSpec). Data lives under tmpdir
    * (external-table path), not the session warehouse. */
  def ensureBucketedPair(s: SparkSession, dir: String): (String, String) = {
    import org.apache.spark.sql.functions.col
    val h = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (ot, ct) = (s"graft_bk_orders_$h", s"graft_bk_customer_$h")
    val base = System.getProperty("java.io.tmpdir") + s"/graft_bucketed_$h"
    this.synchronized {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      // Data already on disk but absent from this session's in-memory
      // catalog (a fresh JVM over a warm lake — the NORMAL case for a
      // persistent metastore): re-register the existing bucketed layout
      // with DDL instead of rewriting — IF the layout still matches the
      // source. A bare _SUCCESS marker is trusted forever, and a
      // regenerated source under `dir` would silently serve a STALE
      // bucketed copy; so the build stamps the source row count next to
      // the marker and any mismatch (or a pre-stamp layout) rebuilds.
      // Row count catches regeneration that changes cardinality — the
      // realistic failure for generated testdata — not an equal-count
      // content swap; a content hash would close that hole at the cost
      // of a full source scan per cold session (the count is satisfied
      // from parquet row-group metadata).
      // _SUCCESS probed through the Hadoop FileSystem API:
      // java.io.File would always miss on a
      // non-local defaultFS and silently re-pay the bucket shuffles
      // every session. The synchronized block serializes only THIS JVM;
      // two separate processes racing the same cold path can interleave
      // their overwrite commits — give concurrent pipelines distinct
      // tmp bases, or pre-build the pair once at ingest (the intended
      // life cycle anyway).
      val conf = s.sparkContext.hadoopConfiguration
      def successMarkerExists(p: String): Boolean = {
        val path = new org.apache.hadoop.fs.Path(s"$p/_SUCCESS")
        path.getFileSystem(conf).exists(path)
      }
      def fpPath(src: String) =
        new org.apache.hadoop.fs.Path(s"$base/$src/_GRAFT_SRC_ROWS")
      // any unreadable/garbled stamp (missing, corrupt, checksum
      // mismatch from an out-of-band edit) reads as "no stamp" →
      // rebuild: the safe direction for a staleness gate
      def stampedRows(src: String): Option[Long] =
        try {
          val p = fpPath(src); val fs = p.getFileSystem(conf)
          if (!fs.exists(p)) None
          else {
            val in = fs.open(p)
            try Some(new String(in.readAllBytes,
              java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
            finally in.close()
          }
        } catch { case _: java.io.IOException | _: NumberFormatException => None }
      def stamp(src: String, n: Long): Unit = {
        val p = fpPath(src)
        val out = p.getFileSystem(conf).create(p, true)
        try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      def ensure(t: String, src: String, k: String): Option[Future[Unit]] = {
        lazy val srcRows = Tables.t(s, dir, src).count()
        if (s.catalog.tableExists(t)) None
        else if (successMarkerExists(s"$base/$src") && stampedRows(src).contains(srcRows)) {
          s.sql(s"CREATE TABLE $t (${Tables.t(s, dir, src).schema.toDDL}) " +
            s"USING parquet CLUSTERED BY ($k) SORTED BY ($k) INTO 8 BUCKETS " +
            s"LOCATION '$base/$src'")
          None
        } else Some(Future { // cold (or stale) lake: the two writes are
          // independent Spark jobs — submit concurrently so the
          // scheduler overlaps them (saveAsTable is mostly fixed commit
          // cost at these sizes). Stamp AFTER the write commits: a
          // crash between the two leaves no stamp → next session
          // rebuilds rather than trusting a half-written layout.
          writeBucketed(Tables.t(s, dir, src).repartition(8, col(k)),
            t, 8, Seq(k), Some(s"$base/$src"))
          stamp(src, srcRows)
        })
      }
      val jobs = Seq(ensure(ot, "orders", "o_custkey"),
        ensure(ct, "customer", "c_custkey")).flatten
      jobs.foreach(Await.result(_, Duration.Inf))
    }
    (ot, ct)
  }

  /** Dynamic partition overwrite — the lake "replace these partitions"
    * primitive (backfill a day, re-emit one source's slice) without
    * touching siblings: static overwrite mode would TRUNCATE the whole
    * table first (the classic lost-data surprise), and read-merge-write
    * would rewrite 100 TB to change one partition. Spark's dynamic mode
    * deletes exactly the partitions `updates` carries rows for at
    * commit time. The conf is set per-call and restored — it silently
    * changes the semantics of every other overwrite in the session
    * otherwise. */
  def overwritePartitions(updates: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit = {
    val spark = updates.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try updates.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  /** One-pass table statistics for a path-based parquet table — the
    * ANALYZE TABLE equivalent a cost-based planner (or a human sizing
    * a broadcast) needs: row count plus per-column min / max /
    * approximate NDV (HLL, rsd 2%) / null count, all from a SINGLE
    * aggregation over one scan (never one job per column). Written as
    * a `_stats.json` sidecar next to the data, values rendered as
    * strings so dates/decimals/strings serialize uniformly. Returns
    * the stats map. */
  def collectStats(spark: SparkSession, dir: String,
                   cols: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(dir)
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        approx_count_distinct(col(c), 0.02).as(s"ndv_$c"),
        count(when(col(c).isNull, 1)).as(s"nulls_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val stats = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      (if (f == "__rows") "rows" else f) ->
        Option(row.get(i)).map(_.toString).getOrElse("null")
    }.toMap
    val json = stats.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    // Hadoop FS, not java.nio: the sidecar must land NEXT TO THE DATA —
    // a java.nio write would misread an hdfs:// table URI as a local
    // path (failing after the full scan was already paid) or drop the
    // sidecar on the driver's disk for a relative path
    val sidecar = new org.apache.hadoop.fs.Path(dir, "_stats.json")
    val sfs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = sfs.create(sidecar, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    stats
  }

  /** Plain JSON metrics sink (SURVEY §7.6 — the no-MLflow replacement
    * for the reference's experiment logging, train.py:146-181).
    * Non-finite values (a degenerate logloss can be ±Inf/NaN) serialize
    * as `null` — JSON has no literal for them, and emitting `NaN` raw
    * would make the whole file unparseable downstream. */
  def writeMetricsJson(path: String, metrics: Map[String, Double]): Unit = {
    val json = metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${if (java.lang.Double.isFinite(v)) v.toString else "null"}""" }
      .mkString("{", ", ", "}")
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json)
  }

  /** JSON string escape (quote, backslash, all control chars) — ONE
    * definition for every hand-assembled JSON emitter (Verify's
    * oracle_sql.json, ScaleStress's stage sidecars): two drifting
    * copies of an escaper is how a malformed sidecar silently zeroes
    * a round's evidence (review r13; the bloom writer lost its
    * post-rename check to exactly this copy-drift pattern). */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Fixed-point JSON number — ONE definition beside [[jsonEscape]]
    * for the same reason: the `f"…%.3f"` interpolator formats in the
    * JVM's DEFAULT locale, so a de_DE/fr_FR deployment would emit a
    * comma decimal separator and break every hand-assembled JSON line
    * (review r14). Locale pinned to ROOT. */
  private[graft] def jsonNum(v: Double, scale: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${scale}f", Double.box(v))
}
