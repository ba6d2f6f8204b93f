package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev: run a comma-separated subset of queries, full stack
    val only: Option[Set[String]] = args.lift(2).map(Harness.csvNames)
    val spark = Harness.session("graft-verify", Harness.cpus(4))
    new java.io.File(outDir).mkdirs()
    Harness.eachQuery(spark, only) { (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (only.isDefined) e.printStackTrace()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    // ONE shared definition (Ioops.jsonEscape) with every other
    // hand-assembled JSON emitter — copies drift (review r13).
    def q(s: String): String = Ioops.jsonEscape(s)
    // Resolve artifact-path tokens (persisted-index oracles re-derive
    // results in DuckDB from the same stamped parquet artifacts the
    // engine probes; the stamp is a function of the source dir, so the
    // concrete paths exist only here). The artifacts themselves were
    // ensured by the query runs above, before this dump. Fail-soft: a
    // source dir without an embeddings table cannot stamp these paths,
    // but it must not abort THIS dump — a missing oracle_sql.json
    // fails every query in the driver's compare, not just the ANN rows
    // (whose unresolved-token oracles are the only ones affected).
    val subs = try graft.queries.TextSim.oracleSubstitutions(spark, sfDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] oracle path substitution skipped: ${e.getMessage}")
        Map.empty[String, String]
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v0) =>
        val v = subs.foldLeft(v0) { case (acc, (t, p)) => acc.replace(t, p) }
        s"${q(k)}: ${q(v)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
