package graft

import org.apache.spark.sql.functions.{col, when}
import org.scalatest.funsuite.AnyFunSuite

/** Lake-copy staleness: `s3_partitioned_scan` and `s7_orc_roundtrip`
  * scan a derived copy of their source table (a status-partitioned
  * parquet lake, an ORC sink). The copy is keyed by the source's
  * filesystem-metadata stamp, so regenerating the table in place (plus
  * the documented `Tables.invalidate`) must serve the NEW rows instead
  * of the copy of the old ones — the StampSpec rule for the ANN
  * artifacts, applied to the relational lake copies. */
class LakeCopySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** `<dir>/<t>.parquet` with `n` generated rows — the columns the
    * two queries read. */
  private def writeTable(dir: String, t: String, n: Int): Unit = {
    val id = col("id")
    val df = t match {
      case "orders" => spark.range(n).select(id.as("o_orderkey"),
        when(id % 3 === 0, "F").otherwise("O").as("o_orderstatus"),
        (id * 1.5).as("o_totalprice"))
      case "supplier" => spark.range(n).select(id.as("s_suppkey"),
        (id % 5).as("s_nationkey"), (id - 2).cast("double").as("s_acctbal"))
    }
    df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
  }

  /** (query, source table, the query's count column, the source rows
    * that count must equal). */
  private val Cases = Seq(
    ("s3_partitioned_scan", "orders", "n",
      (d: String) => Tables.orders(spark, d).filter(col("o_orderstatus") === "F").count()),
    ("s7_orc_roundtrip", "supplier", "n_suppliers",
      (d: String) => Tables.supplier(spark, d).filter(col("s_acctbal") > 0).count()))

  for ((q, t, countCol, want) <- Cases)
    test(s"$q: an in-place regeneration serves the new rows, not the stale copy") {
      TempDirs.withTempDir("graft_lakecopy") { dir =>
        def counted(): Long = SparkEntry.queries(q)(spark, dir).collect()
          .map(_.getAs[Long](countCol)).sum
        writeTable(dir, t, 50)
        val before = counted()
        assert(before == want(dir))
        Thread.sleep(5) // ensure mtime can move even on coarse-granularity FS
        writeTable(dir, t, 100)
        Tables.invalidate(dir)
        val after = counted()
        assert(after == want(dir) && after != before,
          s"$q served $after rows after the regeneration (before: $before, want: ${want(dir)})")
      }
    }
}
