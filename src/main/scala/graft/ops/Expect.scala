package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality expectations with quarantine: evaluate named row-level
  * rules and SPLIT the input — clean rows flow on, violating rows are
  * diverted with the list of rules they broke — instead of the two bad
  * alternatives (fail the whole job on one bad row, or silently drop).
  * The standard ingest gate of a training-data pipeline: the quarantine
  * side is small, auditable, and re-processable; the clean side carries
  * a guarantee the downstream features can rely on.
  *
  * Spark-first plan: ALL rules evaluate in one projection (an array of
  * violated-rule names, codegen'd, no UDFs); both outputs are filters
  * over that projection, so a caller writing clean rows and counting
  * violations pays one scan — and a metrics-only caller should prefer
  * `df.observe(...)` to piggyback the counts on the write job itself.
  * A rule that evaluates to NULL (e.g. a comparison on a NULL column)
  * counts as a VIOLATION — expectations are positive assertions, and
  * "unknown" does not satisfy an assertion. */
object Expect {

  /** Evaluate `rules` (name → predicate-that-should-hold). Returns
    * (clean rows — original schema, quarantined rows — original schema
    * plus a `violations` array of broken rule names). */
  def check(df: DataFrame, rules: Seq[(String, Column)]): (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "at least one expectation rule required")
    require(!df.columns.contains("violations"),
      "input already has a 'violations' column — rename it before check() " +
        "(the quarantine side emits its rule list under that name)")
    val tagged = df.withColumn("violations", violationsArray(rules))
    (tagged.filter(size(col("violations")) === 0).drop("violations"),
      tagged.filter(size(col("violations")) > 0))
  }

  /** THE violated-rule-names projection — one definition shared by
    * [[check]] and [[checkAudit]] so the split and the one-scan audit
    * can never disagree on what counts as a violation (a NULL rule
    * result violates — see the object doc). */
  private def violationsArray(rules: Seq[(String, Column)]): Column =
    array_compact(array(rules.map { case (name, pred) =>
      when(!coalesce(pred, lit(false)), lit(name))
    }: _*))

  /** The full audit of [[check]] in ONE scan (r19 optimization): per-rule
    * violation counts (every configured rule present, n=0 included) plus
    * `rows_passed` / `rows_quarantined` totals, as (rule, n) rows. The
    * [[check]]+audit+two-counts composition evaluates the same
    * numbers but plans THREE scans of the input (the audit explode, the
    * clean count, the quarantine count — sibling filters defeat subtree
    * reuse); here every figure is a conditional aggregate over the one
    * `violations` projection, so the input is read once and the
    * map-side partials collapse it to a single row before the (single)
    * exchange. Same violation semantics by construction
    * ([[violationsArray]] is shared); ExpectSpec pins value equality
    * against the composed form. */
  def checkAudit(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one expectation rule required")
    // duplicate names would make the one-scan form diverge from the
    // composed form (array_contains collapses a name's multiplicity
    // where the exploded audit counts it) — refuse rather than pick one
    require(rules.map(_._1).distinct.size == rules.size,
      "duplicate rule names: audit rows are keyed by name — " +
        rules.map(_._1).diff(rules.map(_._1).distinct).distinct.mkString(", "))
    val tagged = df.select(violationsArray(rules).as("violations"))
    val ruleCounts = rules.zipWithIndex.map { case ((name, _), i) =>
      coalesce(sum(array_contains(col("violations"), name).cast("long")),
        lit(0L)).as(s"__r$i")
    }
    val extras = Seq(
      coalesce(sum((size(col("violations")) === 0).cast("long")), lit(0L))
        .as("__passed"),
      coalesce(sum((size(col("violations")) > 0).cast("long")), lit(0L))
        .as("__quarantined"))
    val one = tagged.agg((ruleCounts ++ extras).head, (ruleCounts ++ extras).tail: _*)
    val entries = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"), col(s"__r$i").as("n"))
    } ++ Seq(
      struct(lit("rows_passed").as("rule"), col("__passed").as("n")),
      struct(lit("rows_quarantined").as("rule"), col("__quarantined").as("n")))
    one.select(explode(array(entries: _*)).as("__e"))
      .select(col("__e.rule").as("rule"), col("__e.n").as("n"))
  }
}
