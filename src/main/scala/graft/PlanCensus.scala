package graft

/** Dev tool (r19 optimization round): per-query physical-shape census —
  * `runMain graft.PlanCensus [sfDir] [out.tsv] [namesCsv] [plansDir]`.
  *
  * Executes every `SparkEntry.queries` entry (or the csv subset) after
  * the Bench session profile and set-up ([[Harness]]) and emits one
  * TSV row per query: frame-CONSTRUCTION seconds (`build_s` — eager
  * materializes / guard collects inside the query builder run here;
  * Bench bills this to the query, so the census must show it
  * separately rather than hide it), count wall, result rows,
  * Spark jobs for each phase, and — from the AQE-FINAL executed plan —
  * `Exchange` count, file-scan count, and WholeStageCodegen span count
  * (`WholeStageCodegenExec` nodes of [[finalPlanNodes]]; the plan
  * string marks spans only with the `*(n)` operator prefix).
  * The frame is finalized with a `collect()` on the frame's OWN
  * `QueryExecution` (the verify-skill idiom; `count()` plans a different
  * query, and a noop write finalizes a different QueryExecution — reading
  * `df.queryExecution` after either still prints `isFinalPlan=false`).
  * With a 4th arg it ALSO writes each query's post-execution
  * `.explain("formatted")` (AQE-final) to `<plansDir>/<name>.txt` — the
  * plans/r19 before/after evidence files. Job counts come off the async
  * listener bus through [[Harness.Meter.settle]], so treat them as ±1
  * under load.
  * Census only — never a gate, never part of the driver contract. */
object PlanCensus {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Every operator of an executed plan, pre-order. An adaptive root is
    * replaced by its current plan (the final one once the frame's own
    * action has run) and each query stage by the stage's plan, so
    * operators below stage boundaries are counted too. A reused
    * exchange appears once, as its `ReusedExchangeExec` marker. */
  def finalPlanNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => finalPlanNodes(a.executedPlan)
    case q: QueryStageExec => q +: finalPlanNodes(q.plan)
    case p => p +: p.children.flatMap(finalPlanNodes)
  }

  /** WholeStageCodegen spans of an executed plan, query stages included. */
  def codegenSpans(plan: SparkPlan): Int =
    finalPlanNodes(plan).count(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/plan_census.tsv"
    val only = args.lift(2).map(Harness.csvNames).filter(_.nonEmpty)
    val plansDir = if (args.length > 3) Some(args(3)) else None
    plansDir.foreach(p => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(p)))
    val spark = Harness.session("graft-plan-census", Harness.cpus(32), benchProfile = true)
    // the bench's own set-up, so measured shapes match bench legs
    Harness.setUp(spark, sfDir, "[census]")
    // one meter for the run; each phase's jobs are the difference of two
    // settled readings (settling first also drains the previous query)
    val meter = Harness.meter(spark)
    val sb = new StringBuilder
    sb ++= "name\tbuild_s\twall_s\trows\tbuild_jobs\tjobs\texchanges\tscans\tcodegen_spans\n"
    Harness.eachQuery(spark, only) { (name, fn) =>
      try {
        val j0 = meter.settle().jobs
        val tb = System.nanoTime()
        val df = fn(spark, sfDir)
        val build = (System.nanoTime() - tb) / 1e9
        val j1 = meter.settle().jobs
        val t0 = System.nanoTime()
        val rows = df.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val j2 = meter.settle().jobs
        // finalize the frame's OWN QueryExecution so the adaptive plan
        // below is the runtime-final one (isFinalPlan=true)
        df.collect()
        plansDir.foreach { p =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
            .replaceAll("0x[0-9A-Fa-f]{64,}", "0x<binary literal elided>")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(p, s"$name.txt"), txt.getBytes("UTF-8"))
        }
        // an executed AdaptiveSparkPlanExec prints BOTH the final and
        // the initial plan — count operators in the FINAL section only
        val full = df.queryExecution.executedPlan.toString
        val plan = full.indexOf("== Initial Plan ==") match {
          case -1 => full
          case i  => full.substring(0, i)
        }
        def cnt(re: String): Int = re.r.findAllIn(plan).length
        val exchanges = cnt("""Exchange (hash|range|Single|rebalance)""")
        val scans = cnt("""Scan parquet|Scan csv|Scan json|Scan orc|FileScan""")
        val spans = codegenSpans(df.queryExecution.executedPlan)
        sb ++= f"$name\t$build%.3f\t$wall%.3f\t$rows\t${j1 - j0}\t${j2 - j1}\t$exchanges\t$scans\t$spans\n"
      } catch { case e: Exception =>
        val msg = (e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").take(80)).replaceAll("[\\t\\n\\r]", " ")
        // pad to the 9-column header so the TSV stays parseable
        sb ++= s"$name\tERR\t$msg\t\t\t\t\t\t\n"
      }
    }
    meter.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"[census] wrote $out")
    spark.stop()
  }
}
