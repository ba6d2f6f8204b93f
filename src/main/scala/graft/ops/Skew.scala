package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation primitives for hot keys at scale.
  *
  * AQE's skew-join split handles sort-merge joins at runtime; these are
  * the plan-level tools for the cases AQE does not cover — a hash
  * aggregate with one dominant group, or a join where the hot side must
  * be scattered *before* the exchange. Both are deterministic (salt =
  * hash of stable columns, not rand()), so results are reproducible and
  * retries are safe.
  */
object Skew {

  /** Deterministic salt in [0, n) from stable row columns — NOT rand():
    * task retries and speculative execution must re-derive the same
    * salt or rows double-count.
    *
    * Limitation: fully-identical duplicate rows (a common cause of hot
    * keys in fact data) all hash to the SAME salt bucket, so the skew is
    * not scattered at all. When rows may be exact duplicates, use
    * [[rowSaltCol]] instead. */
  def saltCol(n: Int, from: Column*): Column = pmod(hash(from: _*), lit(n))

  /** Salt that also scatters exact-duplicate rows: mixes the physical
    * row position (`monotonically_increasing_id`) into the hash. Safe
    * wherever the salt VALUE never reaches the result — true for
    * [[saltedJoin]] (the dim side carries every salt, so any fact salt
    * joins identically) — because then only placement, not output,
    * depends on the row position. */
  def rowSaltCol(n: Int, from: Column*): Column =
    pmod(hash((from :+ monotonically_increasing_id()): _*), lit(n))

  /** Join types for which dim-side salt replication is sound: every
    * unmatched DIM row must be droppable (inner/semi/anti) or the
    * preserved side must be the fact (left). Under right/full outer each
    * unmatched dim row would surface `salt` null-padded duplicates. */
  private val SaltableJoinTypes =
    Set("inner", "left", "leftouter", "leftsemi", "leftanti")

  /** Salted equi-join: scatter the skewed `fact` side into `salt`
    * sub-keys, replicate every `dim` row `salt` ways (explode of a tiny
    * sequence — dims are the small side by assumption), join on
    * keys + salt. A key holding f of all fact rows then occupies f/salt
    * of the biggest task instead of f.
    *
    * `joinType` is restricted to fact-preserving types (inner, left,
    * left_semi, left_anti): a right/full outer join would emit `salt`
    * null-padded copies of every unmatched dim row. Flip the sides (the
    * skewed side must be `fact`) rather than asking for a right join.
    * `spreadDuplicates` switches the fact salt to [[rowSaltCol]] so
    * exact-duplicate fact rows scatter too. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                 salt: Int, joinType: String = "inner",
                 spreadDuplicates: Boolean = false): DataFrame = {
    require(SaltableJoinTypes.contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left/left_semi/left_anti, got '$joinType' " +
        "(right/full outer would duplicate unmatched dim rows per salt)")
    val factCols = fact.columns.map(col).toIndexedSeq
    val saltedFact = fact.withColumn("__salt",
      if (spreadDuplicates) rowSaltCol(salt, factCols: _*) else saltCol(salt, factCols: _*))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedFact.join(saltedDim, keys :+ "__salt", joinType).drop("__salt")
  }
}
