package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table catalog over the driver-provided Parquet testdata
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §B).
  *
  * Schema-on-read: Parquet carries the authoritative schema, so no
  * inference pass is needed (unlike the reference's
  * `pd.read_csv(low_memory=False)` whole-file type inference,
  * reference `src/io/datasets.py:14-29`). Reads stay lazy; Catalyst
  * pushes projections/filters into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Catalog memo: `spark.read.parquet` eagerly lists files and reads
    * footers to resolve the schema, so a 69-query Bench/Verify run that
    * re-reads each table per query pays that fixed cost ~69×. One
    * resolved DataFrame per (session, dir, table) — immutable plan,
    * safe to share; exactly what a persistent catalog (metastore) does
    * for a real deployment. */
  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]

  /** S1 scan: one logical table from `dir`. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    catalog.computeIfAbsent((spark, dir, name),
      _ => spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  /** Drop memoized DataFrames for `dir` (all tables). A lake that is
    * regenerated in place invalidates both the cached file listing and
    * the resolved schema; long-lived sessions call this after an
    * upstream rewrite to force a fresh resolve on next access. */
  def invalidate(dir: String): Unit = {
    val it = catalog.keySet.iterator()
    while (it.hasNext) if (it.next()._2 == dir) it.remove()
  }

  /** `events.ts` has shipped in two physical layouts: parquet
    * TIMESTAMP(NANOS) (rejected by Spark's vectorized reader — read as
    * long via the legacy conf, then floor-converted to micros, matching
    * DuckDB's nanos→micros truncation) and plain TIMESTAMP(MICROS).
    * Hardcoding either breaks the other, so branch on the *resolved*
    * schema: `LongType` → nanos shim; timestamp types pass through.
    * TIMESTAMP_NTZ (micros without isAdjustedToUTC) is cast to
    * session-zoned TimestampType — identical epoch-micros under the
    * engine-wide UTC session zone — so every downstream consumer
    * (watermarks, time windows, as-of joins) sees one canonical type
    * regardless of upstream encoding. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Set before the memoized first read so a legacy nanos layout still
    // resolves (as long) instead of failing footer conversion.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected nanos-as-long or timestamp)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
