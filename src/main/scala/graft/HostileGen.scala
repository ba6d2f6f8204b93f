package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hostile-twin testdata generator (dev evidence tool, VERDICT r9 #1).
  *
  * The driver's oracle gate runs on clean synthetic testdata — no
  * nulls, no empty/unicode strings, no degenerate vectors, no
  * duplicate keys — so the defect classes review sweeps keep finding
  * (null-hash seed-42 collisions, nulls-first sort predicates,
  * count(*) vs countDistinct, as-of null-ts phantoms, 0/0 cosine)
  * are invisible to it. This main writes a TWIN of an sf dir with
  * deterministic hostile rows appended to every table, preserving the
  * source schema exactly, so the existing Verify + DuckDB compare
  * stack runs unchanged over data that exercises those classes:
  *
  *   runMain graft.HostileGen /root/testdata/sf0.001 /tmp/graft-hostile
  *   runMain graft.Verify /tmp/graft-hostile /tmp/hostile-out <subset>
  *   python3 tools/compare_oracle.py /tmp/hostile-out /tmp/graft-hostile
  *
  * Modes (arg 3): `hostile` (default) appends the adversarial rows;
  * `single` keeps exactly one row per table; `empty` keeps zero rows —
  * the degenerate-cardinality twins (group-less aggregates, empty
  * build sides, empty artifact sources).
  *
  * Hostile values are SQL literal expressions cast to the SOURCE
  * column type (`schema(col).dataType.catalogString`), so the twin
  * tracks whatever physical types the driver ships (e.g. the events
  * TIMESTAMP vs TIMESTAMP_NTZ generations — see [[Tables.events]])
  * instead of hardcoding them. Everything is deterministic: fixed
  * literals, plus one copied-text row derived from the lowest doc_id.
  *
  * Hostile ids live at 9,000,000+ (disjoint from every sf's key
  * space); hostile embedding labels at 100+ (blocked near-dup queries
  * pair within labels, so hostile vectors pair only with each other
  * and the planted pairs stay planted).
  */
object HostileGen {

  /** Per-table hostile rows as SQL expressions, one Seq per row, in
    * source column order. `null` literals are written as NULL and take
    * the column's type through the cast. */
  private val rows: Map[String, Seq[Seq[String]]] = Map(
    "documents" -> Seq(
      // null text: xxhash64(null)=seed(42) class, length(null), empty shingle sets
      Seq("9000001", "NULL", "'en'", "'hostile'", "NULL"),
      // empty + whitespace-only text: zero tokens, zero-norm TF vectors
      Seq("9000002", "''", "'en'", "'hostile'", "0"),
      Seq("9000003", "concat('  ', char(9), char(10), ' ')", "NULL", "'hostile'", "5"),
      // unicode: multi-byte, combining marks, RTL, emoji — length vs byte-length
      Seq("9000004", "'naïve café 😀😀 中文文本 مرحبا بالعالم é'",
        "'zz'", "NULL", "length('naïve café 😀😀 中文文本 مرحبا بالعالم é')"),
      Seq("9000005", "'a'", "'en'", "'hostile'", "1"),
      // exact-dup pair with heavy repetition (repetition stats, exact dedup)
      Seq("9000006", "repeat('the quick brown fox jumps ', 40)", "'en'", "'hostile'",
        "length(repeat('the quick brown fox jumps ', 40))"),
      Seq("9000007", "repeat('the quick brown fox jumps ', 40)", "'en'", "'hostile'",
        "length(repeat('the quick brown fox jumps ', 40))"),
      // null primary key
      Seq("NULL", "'null id document with some ordinary tokens inside'", "'en'", "'hostile'", "50"),
      // duplicate doc_id, different text (keep-first / dedup-by-key)
      Seq("9000010", "'dup key first version alpha beta gamma'", "'en'", "'hostile'", "39"),
      Seq("9000010", "'dup key second version delta epsilon zeta'", "'en'", "'hostile'", "41"),
      // control characters (not NUL — parquet/compare-safe)
      Seq("9000011", "concat('control', char(1), 'chars', char(127), 'here')", "'en'", "'hostile'", "19")),

    "embeddings" -> Seq(
      // zero-norm: the never-pairs contract (0/0 cosine)
      Seq("9000001", zerosVec, "100"),
      // null vector / null element
      Seq("9000002", "NULL", "101"),
      Seq("9000003", nullElemVec, "102"),
      // planted near-dup pair inside one hostile label
      Seq("9000004", basisVec(0, "1.0"), "103"),
      Seq("9000005", basisVec(0, "0.999"), "103"),
      // null primary key
      Seq("NULL", basisVec(1, "1.0"), "104"),
      // duplicate vec_id, different vectors
      Seq("9000006", basisVec(2, "1.0"), "105"),
      Seq("9000006", basisVec(3, "1.0"), "105"),
      // magnitude extremes (inside sumExact's enforced |x|<9e11
      // domain — the loud guard and the r4 long-saturation fix for
      // NaN/1e30-class values are asserted in HostileSpec; a twin row
      // would turn every pooling query into an expected crash),
      // negative zero (norm 0), denormals
      Seq("9000007", basisVec(4, "1e9"), "106"),
      Seq("9000008", constVec("-0.0"), "107"),
      Seq("9000010", constVec("1e-38"), "109"),
      // null label (blocked queries group by label)
      Seq("9000011", basisVec(5, "1.0"), "NULL")),

    "events" -> Seq(
      // null ts: the as-of phantom class
      Seq("9000001", "NULL", "9001", "'click'", "1.0", "NULL"),
      // epoch boundary + far future
      Seq("9000002", "TIMESTAMP'1970-01-01 00:00:00'", "9001", "'purchase'", "NULL", "'{\"k\": 1}'"),
      Seq("9000003", "TIMESTAMP'2100-12-31 23:59:59'", "9001", "NULL", "-5.5", "'{not json'"),
      // same (user, ts) tie across event types (as-of tie-break, sessionize)
      Seq("9000004", "TIMESTAMP'2024-06-01 12:00:00'", "9002", "'click'", "0.0", "'{\"k\": null}'"),
      Seq("9000005", "TIMESTAMP'2024-06-01 12:00:00'", "9002", "'purchase'", "10.0", "''"),
      // null user (group/join/partition key)
      Seq("9000006", "TIMESTAMP'2024-06-02 00:00:00'", "NULL", "'click'", "2.5", "'{\"k\": 2}'"),
      // duplicate event_id
      Seq("9000007", "TIMESTAMP'2024-06-03 00:00:00'", "9003", "'view'", "1e10", "NULL"),
      Seq("9000007", "TIMESTAMP'2024-06-04 00:00:00'", "9003", "'view'", "-0.0", "NULL"),
      // null value on a purchase (as-of payload)
      Seq("9000009", "TIMESTAMP'2024-06-05 00:00:00'", "9001", "'purchase'", "NULL", "'[1,2]'")),

    "orders" -> Seq(
      // null / dangling / hostile-matching custkeys
      Seq("9000001", "NULL", "'O'", "100.0", "TIMESTAMP'2024-01-01 00:00:00'", "'1-URGENT'"),
      Seq("9000002", "9990001", "'F'", "-50.0", "NULL", "NULL"),
      Seq("9000003", "9000001", "NULL", "0.0", "TIMESTAMP'1970-01-01 00:00:00'", "''"),
      // null primary key
      Seq("NULL", "9990002", "'O'", "1e10", "TIMESTAMP'2024-06-01 00:00:00'", "'5-LOW'"),
      // duplicate orderkey; same customer, same date (last-row tie)
      Seq("9000004", "9000001", "'O'", "7.5", "TIMESTAMP'2024-02-02 00:00:00'", "'2-HIGH'"),
      Seq("9000004", "9000001", "'P'", "8.5", "TIMESTAMP'2024-02-02 00:00:00'", "'2-HIGH'")),

    "lineitem" -> Seq(
      // null order key (join/group key)
      Seq("NULL", "1", "1", "1", "1.0", "10.0", "0.01", "0.01", "'N'", "'O'", "TIMESTAMP'2024-01-01 00:00:00'"),
      // joins hostile order 9000001; null qty/flag/date mixes
      Seq("9000001", "NULL", "9990001", "1", "NULL", "0.0", "NULL", "0.09", "NULL", "'O'", "NULL"),
      // first line with ZERO extendedprice (x/0 division class in self-joins)
      Seq("9000002", "2", "2", "1", "0.0", "0.0", "0.0", "0.0", "'R'", "'F'", "TIMESTAMP'2024-01-02 00:00:00'"),
      Seq("9000002", "3", "3", "2", "-4.0", "25.0", "0.10", "0.08", "'R'", "'F'", "TIMESTAMP'2024-01-03 00:00:00'"),
      // duplicate (orderkey, linenumber) with different payloads (keep-first)
      Seq("9000003", "4", "4", "1", "2.0", "30.0", "0.02", "0.02", "'A'", "'F'", "TIMESTAMP'2024-01-04 00:00:00'"),
      Seq("9000003", "5", "5", "1", "3.0", "40.0", "0.03", "0.03", "'A'", "'F'", "TIMESTAMP'2024-01-05 00:00:00'"),
      // empty-string flag (distinct from null AND from 'N')
      Seq("9000005", "6", "6", "1", "5.0", "50.0", "0.05", "0.05", "''", "''", "TIMESTAMP'2024-01-06 00:00:00'")),

    "customer" -> Seq(
      // null primary key, null payloads
      Seq("NULL", "NULL", "NULL", "NULL", "NULL"),
      // hostile customer the hostile orders reference
      Seq("9000001", "''", "99", "-1000.0", "NULL"),
      // duplicate custkey (dim-side dup: joins multiply on BOTH engines)
      Seq("9000002", "'dup customer A'", "1", "0.0", "'HOSTILE'"),
      Seq("9000002", "'dup customer B'", "1", "-0.0", "'HOSTILE'")),

    "supplier" -> Seq(
      Seq("NULL", "'null key supplier'", "1", "0.0"),
      Seq("9000001", "NULL", "NULL", "NULL")),

    "part" -> Seq(
      Seq("NULL", "'null key part'", "'Brand#00'", "''", "NULL", "NULL"),
      Seq("9000001", "NULL", "NULL", "NULL", "-1", "0.0"),
      Seq("9000002", "'dup part A'", "'Brand#01'", "'TYPE'", "1", "1.0"),
      Seq("9000002", "'dup part B'", "'Brand#01'", "'TYPE'", "2", "2.0")),

    // nation 99 exists so customer 9000001's nationkey=99 RESOLVES to a
    // null-named nation (null group keys after a dim join); the
    // null-nationkey row is dropped by every inner equi-join on both
    // engines (null never equals).
    "nation" -> Seq(
      Seq("99", "NULL", "0"),
      Seq("NULL", "'NATION_NULLKEY'", "NULL")),

    "region" -> Seq(
      Seq("99", "NULL")))

  private def vecExpr(elems: Seq[String]): String = {
    // init-order guard: `rows` above is a val that calls these helpers
    // during object construction — a non-final Dim val would still be 0
    // there and silently produce array() literals
    require(elems.nonEmpty, "empty vector literal (init-order bug)")
    s"array(${elems.mkString(", ")})"
  }
  private final val Dim = 64
  private def zerosVec: String = vecExpr(Seq.fill(Dim)("0.0"))
  private def constVec(v: String): String = vecExpr(Seq.fill(Dim)(v))
  private def basisVec(pos: Int, scale: String): String =
    vecExpr(Seq.tabulate(Dim)(i => if (i == pos) scale else if (i == pos + 8) "0.01" else "0.0"))
  private def nullElemVec: String =
    vecExpr(Seq.tabulate(Dim)(i => if (i == 3) "NULL" else "0.1"))

  def main(args: Array[String]): Unit = {
    val (srcDir, destDir) = (args(0), args(1))
    val mode = args.lift(2).getOrElse("hostile")
    val spark = Harness.session("graft-hostilegen", Harness.cpus(4))
    // The raw per-table read below must survive a nanos-generation
    // events footer (TIMESTAMP(NANOS) is rejected by the vectorized
    // reader without this; resolves as long instead — the same conf
    // Tables.events sets, harmless for micros/NTZ generations).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    Tables.names.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val out = mode match {
        case "empty"  => src.limit(0)
        case "single" => src.orderBy(src.columns.map(col).toIndexedSeq: _*).limit(1)
        case _        => src.unionByName(hostileDf(spark, src, t))
      }
      writeSingleFile(out, s"$destDir/$t.parquet")
      println(s"[hostilegen] $t: ${src.count()} -> ${spark.read.parquet(s"$destDir/$t.parquet").count()} rows ($mode)")
    }
    spark.stop()
  }

  /** Hostile rows for table `t`, cast column-by-column to the SOURCE
    * schema's types. */
  private[graft] def hostileDf(spark: SparkSession, src: DataFrame, t: String): DataFrame = {
    val cols = src.schema.fields
    val specs = rows.getOrElse(t, Seq.empty)
    val base = specs.map { r =>
      require(r.length == cols.length,
        s"hostile row for $t has ${r.length} exprs, table has ${cols.length} columns")
      r.zip(cols).map { case (expr, f) =>
        // nanos-generation events: ts resolves as BIGINT (epoch nanos
        // under the legacy conf). A naive CAST(TIMESTAMP AS bigint)
        // yields epoch SECONDS — consumers (`Tables.events`: ts div
        // 1000 -> micros) would collapse every hostile timestamp to
        // ~1970, gutting the as-of/sessionize hostile coverage. Route
        // through epoch-micros × 1000 instead.
        if (t == "events" && f.name == "ts" &&
            f.dataType == org.apache.spark.sql.types.LongType)
          s"CAST((unix_micros(CAST(($expr) AS TIMESTAMP)) * 1000) AS bigint) AS ${f.name}"
        else s"CAST(($expr) AS ${f.dataType.catalogString}) AS ${f.name}"
      }.mkString("SELECT ", ", ", "")
    }.map(spark.sql).reduce(_ unionAll _)
    if (t == "documents") {
      // one REAL document's text under a hostile id: a planted exact
      // cross-dup between the hostile block and the original corpus
      val copied = src.orderBy(col("doc_id")).limit(1)
        .withColumn("doc_id", lit(9000012L))
      base.unionByName(copied)
    } else base
  }

  /** Write as ONE plain parquet file at `dest` (the driver testdata
    * layout: `<dir>/<table>.parquet` is a file, not a directory —
    * DuckDB's read_parquet and the compare tooling expect that). */
  private def writeSingleFile(df: DataFrame, dest: String): Unit = {
    val tmp = dest + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val dir = java.nio.file.Paths.get(tmp)
    var found: java.nio.file.Path = null
    val listing = java.nio.file.Files.list(dir)
    try {
      val part = listing.iterator()
      while (part.hasNext) {
        val p = part.next()
        if (p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet")) found = p
      }
    } finally listing.close()
    require(found != null, s"no part file written under $tmp")
    java.nio.file.Files.move(found, java.nio.file.Paths.get(dest),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // clean the scaffold dir (remaining _SUCCESS / crc files)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }
}
