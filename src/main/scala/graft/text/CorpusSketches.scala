package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Corpus-level sketches for incremental ingest at 100-TB scale — the
  * point is what they REPLACE: a join against the historical corpus.
  *
  *   - Bloom filter over document fingerprints: "have we seen this
  *     text before?" against yesterday's corpus becomes one broadcast
  *     bitset probe per new document instead of an anti-join whose
  *     build side is the whole corpus. No false negatives (a true
  *     duplicate is never admitted); false positives (a new doc
  *     wrongly dropped) bounded by the configured fpp.
  *   - Count-min sketch over tokens: approximate token frequencies /
  *     heavy hitters in bounded memory, mergeable across partitions
  *     (both sketches aggregate distributively — Spark builds them
  *     with one pass + a treeAggregate-style merge).
  *
  * Both use Spark's public sketch API (`org.apache.spark.util.sketch`),
  * the same implementations backing `DataFrameStatFunctions`.
  */
object CorpusSketches {

  /** Bloom filter of 64-bit fingerprint hashes (TextOps fingerprint
    * semantics: near-identical-after-normalization ⇒ same key; the
    * xxhash64 layer adds a ~d²/2⁶⁵ chance of two distinct fingerprints
    * colliding — the same accepted bound as the shingle fingerprints in
    * [[Dedup.shingleHashes]]). Keyed on longs, not strings, so the probe
    * side can run through Spark's native codegen'd
    * `BloomFilterMightContain` (long-keyed, like the runtime row-level
    * filters it was built for) and the filter itself is ~40% smaller to
    * build and broadcast. `expected` sizes the filter;
    * bits ≈ -n·ln(fpp)/ln2². */
  def fingerprintBloom(df: DataFrame, textCol: String,
                       expected: Long, fpp: Double = 0.01): BloomFilter = {
    // Zero-row corpus (the first-ever ingest in bloomOrLoad's
    // maintained-artifact life cycle) → a driver-constructed EMPTY
    // filter at the same parameters, not the zero-row bloomFilter NPE
    // and not a sentinel key: a drop gate built on this filter would
    // SILENTLY drop a sentinel-colliding document, with no exact
    // confirm to recover it (unlike [[fpColumnBloom]]'s reverse gate). The emptiness probe is one limit-1 job, paid on the
    // ingest/build path only — warm loads never reach it.
    // null-text rows carry NO key: Spark's xxhash64 SKIPS null inputs
    // and returns its seed (42), so an unfiltered null-text corpus row
    // would insert 42 — and every null-text probe row hashes to that
    // same 42, turning "null is never seen" into "every null is seen"
    // (a silent drop through any drop gate, with no exact confirm to
    // recover it)
    val keyed = df.filter(col(textCol).isNotNull)
      .select(xxhash64(TextOps.fingerprint(col(textCol))).as("fp_h"))
    if (keyed.isEmpty) BloomFilter.create(expected, fpp)
    else keyed.stat.bloomFilter("fp_h", expected, fpp)
  }

  /** Build-or-load the corpus fingerprint bloom as a PERSISTED
    * artifact — the maintained sketch [[fingerprintBloom]]'s doc
    * promises ("built once and updated per ingest, not recomputed"),
    * made real: an incremental-ingest job loads yesterday's filter
    * instead of re-scanning yesterday's corpus. Callers key `path` by
    * a source content stamp ([[graft.Ioops.sourceStamp]]) exactly like
    * the ANN artifacts, so a regenerated corpus rebuilds instead of
    * serving a stale filter. The [[graft.Artifact]] life cycle: any
    * unreadable artifact (truncated stream, checksum mismatch, unknown
    * version header — IllegalArgumentException, not IOException)
    * rebuilds, and the file publish ([[graft.Ioops.commitFileAtomic]])
    * never exposes a half-written file nor deletes a racing
    * publisher's complete one. Build-then-save and load produce
    * identical probe behavior (the sketch serialization round-trips
    * the bitset verbatim — pinned in SketchArtifactSpec). */
  def bloomOrLoad(df: DataFrame, textCol: String, expected: Long,
                  fpp: Double, path: String): BloomFilter = {
    val spark = df.sparkSession
    graft.Artifact.ensureFile(spark, path)(graft.Artifact.readIf(spark, path) {
      val p = new org.apache.hadoop.fs.Path(path)
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try BloomFilter.readFrom(in) finally in.close()
    })(out => fingerprintBloom(df, textCol, expected, fpp).writeTo(out))
  }

  /** Might-contain probe of a document's fingerprint against a
    * [[fingerprintBloom]] filter, as the native `BloomFilterMightContain`
    * expression (codegen'd, no UDF). Exactness contract: no false
    * negatives — build and probe hash identically; a false positive
    * has probability ≤ fpp, so two-phase consumers
    * ([[Dedup.incrementalNew]]) route the bloom-POSITIVE side into an
    * exact confirm instead of dropping it. */
  def seenProbe(textCol: String, seen: BloomFilter): org.apache.spark.sql.Column =
    fpProbe(TextOps.fingerprint(col(textCol)), seen)

  /** Bloom over an ALREADY-COMPUTED fingerprint column — identical
    * hash domain to [[fingerprintBloom]] (xxhash64 of the
    * fingerprint), for consumers that materialized fingerprints
    * upstream and need the reverse-direction gate (e.g.
    * [[Dedup.incrementalNew]]'s positive-set bloom that restricts the
    * corpus scan). */
  def fpColumnBloom(df: DataFrame, fpCol: org.apache.spark.sql.Column,
                    expected: Long, fpp: Double = 0.01): BloomFilter =
    // one sentinel row keeps the aggregate total: Spark's bloomFilter
    // NPEs on a zero-row input (null buffer), and an empty positive
    // set is the NORMAL case for a dup-free batch. The sentinel key
    // (Long.MinValue) only ever ADMITS hash-colliding rows through the
    // gate — conservative direction, exactness unaffected, because
    // every fpColumnBloom consumer routes positives into an exact
    // confirm (incrementalNew) rather than dropping them. Do NOT feed
    // these filters to drop gates; build those with
    // [[fingerprintBloom]], which is sentinel-free.
    df.select(xxhash64(fpCol).as("fp_h"))
      .unionByName(df.sparkSession.range(1)
        .select(lit(Long.MinValue).as("fp_h")))
      .stat.bloomFilter("fp_h", expected, fpp)

  /** Might-contain probe on an already-computed fingerprint column —
    * the [[seenProbe]] twin for [[fpColumnBloom]]-built filters. */
  def fpProbe(fpCol: org.apache.spark.sql.Column,
              seen: BloomFilter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bos = new java.io.ByteArrayOutputStream()
    seen.writeTo(bos)
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray),
      ColumnBridge.expression(xxhash64(fpCol))))
  }
}
