package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC / SCD-1 merge: apply a change stream (upserts + deletes) to a
  * base snapshot, latest change per key winning — the lakehouse
  * `MERGE INTO` core, expressed Spark-first as ONE shuffle.
  *
  * Shape: union the base (tagged with a sentinel version that orders
  * before every change) with the change rows, then take the
  * max-by-version row per key with the same `max_by(struct, struct)`
  * hash aggregate as [[Aggs.argmaxSelect]] — map-side partials combine,
  * one exchange on the key, no join operator at all. Keys absent from
  * the changes pass through; keys only in the changes insert; a winning
  * row with the delete flag set drops the key. The join-free form is
  * what survives 100 TB: the classic full-outer-join formulation
  * shuffles BOTH sides too, but then builds/sorts a joined row stream
  * twice the width for no semantic gain.
  *
  * Requirements: `base` and `changes` share the schema
  * `keys ++ payload ++ (versionCols) ++ (deleteCol)`; `versionCols`
  * must totally order changes per key (ties resolved by the last
  * column) and order every change AFTER the base sentinel the caller
  * put in `base` — out-of-order arrival is then harmless by
  * construction (the argmax, not arrival order, decides).
  */
object Merge {

  /** `asSnapshot = true` returns SNAPSHOT rows: version columns AND the
    * delete flag are retained, and a winning delete stays as a
    * tombstone row instead of vanishing. Both are required when the
    * result is the next base of an incremental merge — without the
    * version the snapshot cannot rank against later batches; without
    * the tombstone an out-of-order pre-delete upsert arriving in a
    * LATER batch would resurrect a deleted key. The serving view of a
    * snapshot filters the tombstones and drops the bookkeeping. */
  /** `tieBreakCols` extend the version ordering toward a TOTAL order
    * WITHOUT being dropped from the output — pass payload columns here
    * when the stream can carry duplicate keys at one (ts, tie) (a
    * corrupt base snapshot, a double-emitting producer): the kept row
    * is then deterministic instead of engine-arbitrary (hostile
    * sweep, r10). `deleteCol` always participates LAST in the order
    * (true > false), so a row and a tombstone agreeing on every other
    * ordering column resolve to the tombstone — the conservative pick
    * (a resurrect needs a strictly newer version) and the final tie
    * rung the order would otherwise lack (advice r11). */
  def applyChanges(base: DataFrame, changes: DataFrame, keys: Seq[String],
                   versionCols: Seq[String], deleteCol: String,
                   asSnapshot: Boolean = false,
                   tieBreakCols: Seq[String] = Seq.empty): DataFrame = {
    val u = base.unionByName(changes)
    val payload = u.columns.filterNot(keys.contains).toSeq
    val won = Aggs.argmaxSelect(u, keys.map(col),
      (versionCols ++ tieBreakCols :+ deleteCol).map(col), payload)
    if (asSnapshot) won
    else won.filter(!col(deleteCol)).drop(versionCols :+ deleteCol: _*)
  }

  /** SCD-2: build the full HISTORY table from a change stream — where
    * [[applyChanges]] (SCD-1) keeps only each key's latest state, SCD-2
    * keeps every state with its validity interval, the layout that
    * answers "what was this dimension worth WHEN the fact happened"
    * (joined downstream with an as-of or range join — [[AsOf]], j14).
    *
    * One window pass per key: `valid_from` = the change's own
    * timestamp, `valid_to` = the NEXT change's timestamp (half-open
    * interval, so a point-in-time probe matches exactly one row),
    * `is_current` = no successor. ONE shuffle; the same per-key window
    * bound as every ordered-per-entity computation here. `tieBreak`
    * totally orders simultaneous changes — the later-sorting one wins
    * the open interval and the earlier one gets a zero-length interval
    * (never matched by a half-open probe), which is the deterministic
    * resolution of a same-instant double-update. */
  def scd2History(changes: DataFrame, keys: Seq[Column], ts: Column,
                  tieBreak: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(ts, tieBreak)
    changes
      .withColumn("valid_from", ts)
      .withColumn("valid_to", lead(ts, 1).over(w))
      .withColumn("is_current", lead(ts, 1).over(w).isNull.cast("int"))
  }
}
