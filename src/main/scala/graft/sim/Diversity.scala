package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semantic-diversity sampling: cluster-stratified selection over the
  * embedding space — cap each IVF cell at `perCell` rows instead of
  * sampling the corpus uniformly, so the kept set spans the embedding
  * space's modes rather than oversampling its densest region (the
  * curation step next to SemDeDup-style semantic dedup: where near-dup
  * removal drops REDUNDANT points, diversity capping bounds
  * OVER-REPRESENTED regions).
  *
  * Composition, not new machinery: [[Ivf]]'s persisted coarse
  * quantizer assigns cells (the same train-once/probe-many artifact
  * the ANN queries load — at 100 TB the assignment is a stored index
  * column, see [[IvfPq.ensureIndex]]), and
  * [[graft.ops.Sampling.capPerGroup]] keeps a deterministic
  * hash-ordered `perCell` rows per cell: one window shuffle on the
  * cell key, selection reproducible bit-for-bit across runs and
  * engines given the quantizer. A hot cell (the dense region being
  * capped — the expected case) serializes only its own window
  * partition, and the window input can be pre-bounded with the
  * hash-draw pre-filter documented on capPerGroup. */
object Diversity {

  /** Keep at most `perCell` rows per quantizer cell, chosen by the
    * deterministic per-key hash draw (uniform within each cell).
    * Emits the input columns plus `cell`. */
  def diversitySample(df: DataFrame, idCol: String, vecCol: String,
                      cents: Kmeans.Centroids, perCell: Int): DataFrame = {
    require(perCell > 0, s"perCell must be positive, got $perCell")
    graft.ops.Sampling.capPerGroup(
      Ivf.assignCells(df, vecCol, cents), Seq(col("cell")), col(idCol), perCell)
  }

  /** [[diversitySample]] against a PERSISTED index frame
    * ([[IvfPq.ensureIndex]] schema) joined back to the source by id —
    * the corpus is never re-quantized at selection time. */
  def diversitySampleIndexed(df: DataFrame, idCol: String,
                             indexed: DataFrame, perCell: Int): DataFrame = {
    require(perCell > 0, s"perCell must be positive, got $perCell")
    val cells = indexed.select(col("neighbor_id").as(idCol), col("cell"))
    graft.ops.Sampling.capPerGroup(
      df.join(cells, Seq(idCol)), Seq(col("cell")), col(idCol), perCell)
  }
}
