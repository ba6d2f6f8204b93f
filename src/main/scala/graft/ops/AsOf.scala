package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal) join: for every fact row, attach the LATEST version
  * row of the same key with `version.ts <= fact.ts` — the canonical
  * enrich-against-slowly-changing-state operator (market data, feature
  * stores, dimension snapshots).
  *
  * Spark-first plan: tag the two sides, union them, and take a
  * per-key `last(version, ignoreNulls)` over rows ordered by
  * (ts, side) — version rows sort BEFORE fact rows at equal
  * timestamps, so `<=` semantics fall out of the sort key. ONE shuffle
  * of facts+versions on the key, a single window pass, no join at all —
  * versus the naive range join (per-key quadratic) or a per-key
  * `mapPartitions` merge (imperative, encoder-bound). Skew follows the
  * window's partitioning: one hot key serializes its own window, which
  * is the same bound a sorted merge would have.
  *
  * `versions` must be unique per (key, ts) — the caller resolves
  * duplicate version timestamps first (e.g. `groupBy(key, ts).agg(...)`).
  * With duplicates the surviving row is the last in the (deterministic)
  * sort — still reproducible, but probably not what the caller meant.
  * Pass `assertUniqueVersions = true` to fail fast instead (one extra
  * aggregate job over the version side, the `Joins.assertManyToOne`
  * contract applied to (key, ts)); leave it off on hot production paths
  * where the upstream already guarantees uniqueness.
  * Facts with no version at-or-before their timestamp keep null
  * version columns (left-join semantics). Null timestamps follow SQL
  * comparison semantics: a null-ts version row matches NO fact, and a
  * null-ts fact matches no version (null version columns) — in both
  * directions. */
object AsOf {

  def asOfJoin(facts: DataFrame, versions0: DataFrame,
               key: String, ts: String,
               versionCols: Seq[String],
               assertUniqueVersions: Boolean = false): DataFrame = {
    val versions =
      if (assertUniqueVersions) Joins.assertManyToOne(versions0, Seq(key, ts))
      else versions0
    val factStruct = struct(facts.columns.map(col).toIndexedSeq: _*)
    val verStruct = struct(versionCols.map(col): _*)
    val l = facts.select(col(key).as("__k"), col(ts).as("__t"), lit(1).as("__side"),
      factStruct.as("__f"),
      lit(null).cast(versions.select(verStruct).schema.head.dataType).as("__v"))
    // SQL comparison semantics for the sort-encoded predicate: a
    // null-ts version satisfies NO `version.ts <= fact.ts` — but the
    // asc sort puts nulls FIRST, which would make it visible to every
    // fact as a phantom from-minus-infinity version. Filter it out.
    // (A null-ts FACT needs no guard here: with null versions gone,
    // its nulls-first preceding frame holds only fact rows, whose __v
    // is null — it keeps null version columns, matching the no-match
    // left join.)
    val r = versions.filter(col(ts).isNotNull)
      .select(col(key).as("__k"), col(ts).as("__t"), lit(0).as("__side"),
      lit(null).cast(facts.select(factStruct).schema.head.dataType).as("__f"),
      verStruct.as("__v"))
    // version rows (side 0) precede fact rows (side 1) at equal __t:
    // a version AT the fact's timestamp is visible to it (<= semantics)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = l.unionByName(r)
      .withColumn("__vlast", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__f").isNotNull)
    val factCols = facts.columns.map(c => col("__f").getField(c).as(c))
    val verOut = versionCols.map(c => col("__vlast").getField(c).as(s"asof_$c"))
    joined.select((factCols ++ verOut).toIndexedSeq: _*)
  }

  /** Forward as-of join: for every fact row, attach the EARLIEST
    * version row of the same key with `version.ts >= fact.ts` — the
    * label-join direction of [[asOfJoin]] (features at t, label from
    * the NEXT outcome event; "time to next failure"; forward fills).
    *
    * Same one-shuffle union+window plan mirrored: fact rows sort
    * BEFORE version rows at equal timestamps (a version AT the fact's
    * timestamp is visible — `>=` semantics), and each fact takes the
    * first non-null version struct in its FOLLOWING frame. Same
    * (key, ts) uniqueness contract on `versions`; facts with no
    * version at-or-after keep null version columns. */
  def asOfJoinForward(facts: DataFrame, versions0: DataFrame,
                      key: String, ts: String,
                      versionCols: Seq[String],
                      assertUniqueVersions: Boolean = false): DataFrame = {
    val versions =
      if (assertUniqueVersions) Joins.assertManyToOne(versions0, Seq(key, ts))
      else versions0
    val factStruct = struct(facts.columns.map(col).toIndexedSeq: _*)
    val verStruct = struct(versionCols.map(col): _*)
    val l = facts.select(col(key).as("__k"), col(ts).as("__t"), lit(0).as("__side"),
      factStruct.as("__f"),
      lit(null).cast(versions.select(verStruct).schema.head.dataType).as("__v"))
    // null-ts versions satisfy no `>=` predicate (same rule as the
    // backward direction) — drop them before the sort encodes it
    val r = versions.filter(col(ts).isNotNull)
      .select(col(key).as("__k"), col(ts).as("__t"), lit(1).as("__side"),
      lit(null).cast(facts.select(factStruct).schema.head.dataType).as("__f"),
      verStruct.as("__v"))
    // fact rows (side 0) precede version rows (side 1) at equal __t, so
    // the fact's following frame includes a version AT its timestamp
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val joined = l.unionByName(r)
      // a null-ts FACT sorts before every version (nulls first), so its
      // following frame would hand it the key's earliest version — but
      // SQL's `version.ts >= fact.ts` matches nothing for a null fact
      // ts: guard it to the no-match null explicitly
      .withColumn("__vnext", when(col("__t").isNotNull,
        first(col("__v"), ignoreNulls = true).over(w)))
      .filter(col("__f").isNotNull)
    val factCols = facts.columns.map(c => col("__f").getField(c).as(c))
    val verOut = versionCols.map(c => col("__vnext").getField(c).as(s"asof_$c"))
    joined.select((factCols ++ verOut).toIndexedSeq: _*)
  }
}
