package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The exploded per-rule audit that `Expect.checkAudit` replaced, kept
  * as the specs' reference: violation counts over the quarantined side
  * of `Expect.check`, every configured rule present (a quiet rule at
  * n=0) through a left join against the rule names. */
object ExpectReference {
  def audit(quarantined: DataFrame, ruleNames: Seq[String]): DataFrame = {
    val s = quarantined.sparkSession
    import s.implicits._
    val counts = quarantined.select(explode(col("violations")).as("rule"))
      .groupBy(col("rule")).agg(count(lit(1)).as("n"))
    ruleNames.toDF("rule").join(counts, Seq("rule"), "left")
      .select(col("rule"), coalesce(col("n"), lit(0L)).as("n"))
  }
}
