package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Curate, Kernels, Relational, TextSim}

/** A fixed panel of the query board (`graft.SparkEntry.queries`). */
object Board {
  type Q = (SparkSession, String) => DataFrame

  /** The board's query modules, named as the per-layer spans are. */
  val modules: Seq[(String, Map[String, Q])] = Seq(
    "relational" -> Relational.queries, "kernels" -> Kernels.queries,
    "textsim" -> TextSim.queries, "curate" -> Curate.queries)

  /** The panel: every `stride`-th query of each module in name order
    * (the first, the (stride+1)-th, ...), so each module keeps its share
    * of the board. */
  def panel(stride: Int): Seq[(String, String, Q)] =
    modules.flatMap { case (m, qs) =>
      qs.toSeq.sortBy(_._1).zipWithIndex.collect {
        case ((n, f), i) if i % stride == 0 => (m, n, f)
      }
    }

  /** The panel in an order permuted by `seed` (a shuffle of the names
    * in sorted order). */
  def order(stride: Int, seed: Long): Seq[(String, String, Q)] =
    new scala.util.Random(seed).shuffle(panel(stride).sortBy(_._2))

  /** Reads every table's schema (parquet footers), as the first query
    * over a fresh session would. */
  def readSchemas(spark: SparkSession, dir: String): Unit =
    graft.Tables.names.foreach {
      case "events" => graft.Tables.events(spark, dir).schema
      case n        => graft.Tables.t(spark, dir, n).schema
    }
}
