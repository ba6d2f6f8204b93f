package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Off-design scale-stress harness (dev evidence tool, VERDICT r9 #2).
  *
  * The §9 100-TB arguments are plan-shape arguments pinned at sf0.1;
  * this main turns them into MEASUREMENTS by generating deterministic
  * synthetic corpora at 1× and 10× the sf0.1 design point with ONE
  * generator (so the pair is distribution-identical and the ratio is
  * meaningful) and timing the heaviest operator families on both,
  * with shuffle bytes captured from the Spark listener bus
  * ([[Harness.Meter]]):
  *
  *   runMain graft.ScaleStress gen /tmp/scale1  50000
  *   runMain graft.ScaleStress gen /tmp/scale10 500000
  *   runMain graft.ScaleStress run /tmp/scale1  scale1
  *   runMain graft.ScaleStress run /tmp/scale10 scale10
  *   runMain graft.ScaleStress run /tmp/scale30 scale30 ngram_pair_banded
  *
  * Families (the five heaviest per the r9 cold-bench profile, plus the
  * brute-force pair join as a known-quadratic control):
  * n-gram pair-graph build (exact AND forced-banded — the r11 density
  * route), MinHash signatures→bands→components,
  * IVF-PQ index build + probe, weighted median, curate-style
  * end-to-end (exact dedup → decontaminate → stratified sample),
  * and a streaming tumbling-window aggregation (AvailableNow file
  * stream; witnesses output/state bounded by windows × keys while
  * only wall grows with event count).
  * An optional 4th `run` arg restricts to a comma-list of families.
  *
  * Generation is PURE Spark SQL over `spark.range` — hash-derived
  * tokens/vectors, no driver-side randomness, identical content for a
  * given (n) regardless of parallelism. ~5% of documents share a
  * 40-token template block (real shingle overlap for the pair graph)
  * and 1% are exact duplicates, so the dedup families do real work at
  * every scale. Weighted-median rows ride a synthetic lineitem-shaped
  * table at 10 rows per document.
  */
object ScaleStress {

  private def writeTable(df: DataFrame, dest: String): Unit =
    df.write.mode("overwrite").parquet(dest)

  /** `vocabMode` (VERDICT r11 #2 — test the fixed-vocabulary
    * attribution of the minhash families' superlinear 100× tail with
    * data): `"fixed"` (default) keeps the original 800-word vocabulary
    * at every scale — random-pair similarity is then CONSTANT in n, so
    * chance band collisions grow ~n² (the measured generator artifact,
    * dev/SCALE_r11.md addendum 5). `"heaps"` grows the vocabulary with
    * corpus size like real corpora do (Heaps' law): |V| = 8·⌈√n⌉,
    * drawn heavy-tailed (u² skew — density ∝ x^(−1/2), a Zipf-like
    * hot head) so common tokens stay common while the tail dilutes.
    * Random-pair Jaccard then decays ~n^(−1/2), band-collision
    * probability (2-row bands) ~s², and chance candidates
    * ~n²·s² ∝ n — the prediction this mode exists to measure. The
    * template block, exact-dup planting, and every other table are
    * identical between modes, so family ratios isolate the vocabulary
    * effect. */
  def gen(spark: SparkSession, dir: String, nDocs: Long,
          vocabMode: String = "fixed"): Unit = {
    // Content identity: every 100th doc (id%100==1) carries the TEXT of
    // doc id-1, so the whole token loop below must derive from this one
    // expression — template condition INCLUDED. (The r10-initial form
    // tested the duplicate's own id for the template block while hashing
    // the source id, so the "exact duplicates" differed in their first
    // 40 tokens and the planted exact-dup rate was silently 0% — review
    // sweep r10. Since source id-1 of every duplicate is %100==0, hence
    // %20==0, true duplicates also carry the template block.)
    val contentId = when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id"))
    val heapsVocab = 8L * math.ceil(math.sqrt(nDocs.toDouble)).toLong
    def token(i: org.apache.spark.sql.Column) = vocabMode match {
      case "fixed" => concat(lit("w"), pmod(hash(contentId, i), lit(800)))
      case "heaps" =>
        val u = pmod(hash(contentId, i), lit(1000000)).cast("double") / 1000000.0
        concat(lit("w"), floor(u * u * lit(heapsVocab.toDouble)).cast("long"))
      case other => sys.error(s"unknown vocabMode $other (fixed|heaps)")
    }
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      // 100 tokens from the mode's vocabulary; content-docs with
      // contentId%20==0 share one 40-token template block (cross-doc
      // shingles); 1% of docs are EXACT duplicates of their predecessor
      concat_ws(" ", transform(sequence(lit(0), lit(99)), i =>
        when(pmod(contentId, lit(20)) === 0 && i < 40, concat(lit("t"), i))
          .otherwise(token(i))
      )).as("text"),
      element_at(typedLit(Seq("en", "de", "es", "fr")),
        (pmod(col("id"), lit(4)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(5))).as("source"))
      .withColumn("n_chars", length(col("text")))
    writeTable(docs, s"$dir/documents.parquet")

    val emb = spark.range(nDocs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(hash(col("id"), j), lit(2000)) - 1000) / 1000.0).cast("float"))
        .as("embedding"),
      pmod(col("id"), lit(10)).cast("int").as("label"))
    writeTable(emb, s"$dir/embeddings.parquet")

    val li = spark.range(nDocs * 10).select(
      element_at(typedLit(Seq("A", "N", "R")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("l_returnflag"),
      (pmod(hash(col("id")), lit(100000)) + 100000).cast("double").as("l_extendedprice"),
      (pmod(hash(col("id"), lit(7)), lit(50)) + 1).cast("double").as("l_quantity"))
    writeTable(li, s"$dir/lineitem.parquet")
    val vocabNote = if (vocabMode == "heaps") s"heaps(|V|=$heapsVocab)" else "fixed(|V|=800)"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/gen_meta.json"),
      s"""{"n_docs": $nDocs, "vocab_mode": "$vocabMode", "vocab": ${if (vocabMode == "heaps") heapsVocab else 800L}}""")
    println(s"[scale] generated $nDocs docs/vectors + ${nDocs * 10} lineitem rows at $dir ($vocabNote)")
  }

  private def stageDetail: Boolean = sys.env.get("SPARK_GRAFT_SCALE_STAGES").contains("1")

  /** JSON string escape for stage callsite names — the shared
    * definition (copies drift; review r13). */
  private def jstr(s: String): String = Ioops.jsonEscape(s)

  private def timed(spark: SparkSession, name: String)(
      body: => Long): (String, Double, Long, Long, Long, Seq[Harness.StageBytes]) = {
    val meter = Harness.meter(spark)
    val t0 = System.nanoTime()
    val rows = body
    val sec = (System.nanoTime() - t0) / 1e9
    val r = meter.settle()
    meter.close()
    Harness.releaseCheckpoints(spark)
    println(f"[scale] $name%-22s ${sec}%8.2fs  rows=$rows%-9d shuffleR=${r.shuffleRead / 1048576}%6d MiB  shuffleW=${r.shuffleWritten / 1048576}%6d MiB")
    val stages = meter.stages
    if (stageDetail) {
      val active = stages.filter(s => s.written > 0 || s.read > 0 || s.diskSpilled > 0)
      active.take(25).foreach { s =>
        println(f"[scale]   stage ${s.id}%5d W=${s.written / 1048576}%6d MiB R=${s.read / 1048576}%6d MiB " +
          f"spillMem=${s.memSpilled / 1048576}%6d MiB spillDisk=${s.diskSpilled / 1048576}%6d MiB " +
          f"sec=${s.sec}%7.1f  ${s.name}")
      }
      if (active.size > 25)
        println(s"[scale]   ... ${active.size - 25} more active stages " +
          s"(${active.size} total; full set in the sidecar up to its own 40-row cap)")
    }
    (name, sec, rows, r.shuffleRead, r.shuffleWritten, stages)
  }

  /** `only`: optional comma-list of family names — the 30× point runs
    * just the post-routing ngram family (the exact pair graph is the
    * measured superlinear curve; re-proving it at 30× would cost
    * minutes to restate r10's result). */
  def run(spark: SparkSession, dir: String, label: String,
          only: Option[Set[String]] = None): Unit = {
    import graft.text.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_scale").toString

    val families: Seq[(String, () => Long)] = Seq(
      "ngram_pair_graph" -> (() =>
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5).count()),
      // the dense-corpus route, FORCED via maxCandidatePairs = 0 (any
      // nonzero candidate mass routes): measures the path a too-dense
      // corpus is steered onto, at every scale point — the post-routing
      // exponent VERDICT r10 #2 asks for
      // SPARK_GRAFT_SCALE_BANDED_BANDS: the routed path's rows-per-band
      // knob (default 16 = the operator default) — same witness role as
      // SPARK_GRAFT_SCALE_BANDS on the components family
      "ngram_pair_banded" -> (() =>
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
          maxCandidatePairs = 0L, routeDense = true,
          bandedBands = sys.env.get("SPARK_GRAFT_SCALE_BANDED_BANDS")
            .map(_.toInt).getOrElse(16)).count()),
      "minhash_components" -> (() => {
        // Knob witnesses for this family's superlinear tail (chance
        // band collisions on the fixed-vocabulary generator).
        // SPARK_GRAFT_SCALE_MINEST raises the estimate floor: it sheds
        // chance pairs from the OUTPUT (and all downstream work) but
        // NOT from the candidate-signature join's shuffle — the filter
        // needs the joined signatures, so it runs after them (measured:
        // rows drop to exactly the true pairs, shuffle bytes
        // bit-identical). SPARK_GRAFT_SCALE_BANDS is the SHUFFLE knob:
        // fewer bands = more rows per band = collision probability
        // s^rows, so chance candidates never materialize and the
        // candidate-join shuffle itself shrinks; true duplicates
        // (s = 1) still collide in every band.
        // SPARK_GRAFT_SCALE_DFCAP (r12): the boilerplate guard —
        // removes shingles with df > cap before signatures, so the
        // template cohort's m² band collisions never MATERIALIZE
        // (a generation-stage knob like BANDS, not an output filter
        // like MINEST; witness by shuffle bytes). -1 = AutoShingleDf
        // (r13): the bucketed detector decides, the production
        // default. Unset keeps the uncapped legs comparable across
        // rounds.
        val minEst = sys.env.get("SPARK_GRAFT_SCALE_MINEST")
          .map(_.toDouble).getOrElse(0.5)
        val nBands = sys.env.get("SPARK_GRAFT_SCALE_BANDS")
          .map(_.toInt).getOrElse(4)
        val dfCap = sys.env.get("SPARK_GRAFT_SCALE_DFCAP")
          .map(_.toLong).getOrElse(Long.MaxValue)
        val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          bands = nBands, minEstimate = minEst, maxShingleDf = dfCap)
        graft.ops.Components.connectedComponents(pairs, "id_a", "id_b").count()
      }),
      "ivfpq_build_probe" -> (() => {
        val model = graft.sim.Ivf.fitCentroids(emb, "embedding", k = 16,
          seed = 42L, trainFraction = 0.2)
        val cb = graft.sim.Pq.fit(emb, "embedding", m = 8, k = 32,
          seed = 42L, trainFraction = 0.2)
        val idx = graft.sim.IvfPq.buildIndex(emb, "vec_id", "embedding", model, cb)
        idx.write.mode("overwrite").parquet(s"$tmp/idx")
        val indexed = spark.read.parquet(s"$tmp/idx")
        graft.sim.IvfPq.topKIndexed(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 100), indexed, model, cb,
          k = 3, nprobe = 4, shortlist = 50).count()
      }),
      "weighted_median" -> (() =>
        graft.ops.Aggs.weightedMedian(li, col("l_returnflag"),
          col("l_extendedprice"), col("l_quantity")).count()),
      // §2.10 at scale: tumbling-window aggregation over a file-source
      // stream (AvailableNow — the batch-backfill trigger a 100-TB
      // replay actually uses). The SCALE CLAIM this family witnesses:
      // output rows and state size are bounded by windows × keys (a
      // constant here: 96 windows × 1,000 keys), NOT by event count —
      // only wall grows with events, and it grows linearly (constant
      // per-event cost). Complete mode so every window emits
      // deterministically regardless of where the watermark lands at
      // end-of-stream; the event frame is hash-derived like every
      // other generator (no files shared across scales — each dir
      // writes its own stream input once, sized 10 events/doc).
      "streaming_tumbling" -> (() => {
        import org.apache.spark.sql.streaming.Trigger
        val n = spark.read.parquet(s"$dir/documents.parquet").count() * 10
        val src = s"$dir/events_stream.parquet"
        // _SUCCESS, not a bare exists(): an aborted write leaves a
        // partial directory without the commit marker (loader-must-
        // probe rule); mode("overwrite") resets such a dir
        if (!new java.io.File(s"$src/_SUCCESS").exists()) {
          spark.range(n).select(
            timestamp_seconds(lit(1700000000L) + pmod(hash(col("id"), lit(3)), lit(86400))).as("ts"),
            pmod(hash(col("id")), lit(1000)).as("key"),
            (pmod(hash(col("id"), lit(7)), lit(1000)).cast("double") / 100.0).as("v"))
            .write.mode("overwrite").parquet(src)
        }
        val schema = new org.apache.spark.sql.types.StructType()
          .add("ts", org.apache.spark.sql.types.TimestampType)
          .add("key", org.apache.spark.sql.types.IntegerType)
          .add("v", org.apache.spark.sql.types.DoubleType)
        val sink = s"stream_scale_${label.replaceAll("[^A-Za-z0-9_]", "_")}"
        val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ck").toString
        val q = spark.readStream.schema(schema).parquet(src)
          .groupBy(window(col("ts"), "15 minutes"), col("key"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val stateRows = q.recentProgress.lastOption
          .flatMap(p => p.stateOperators.headOption).map(_.numRowsTotal).getOrElse(-1L)
        println(s"""[scale] streaming_tumbling events=$n state_rows=$stateRows""")
        spark.table(sink).count()
      }),
      // The bounded-STATE claim complete mode cannot show: watermarked
      // append over a multi-batch AvailableNow stream. Events arrive in
      // 24 hourly waves (sequential writes → increasing mtimes; the
      // file source processes oldest-mtime first), maxFilesPerTrigger
      // splits the backfill into ~12 micro-batches, and the 30-minute
      // watermark advances between batches — closed windows EMIT to the
      // append sink and EVICT from the store. End-of-stream state is
      // therefore bounded by the watermark horizon × keys (a few
      // thousand rows), independent of BOTH total events and total
      // windows — the operating shape of an unbounded 100-TB stream,
      // where complete mode's windows × keys bound would itself grow
      // without limit.
      "streaming_watermark_append" -> (() => {
        import org.apache.spark.sql.streaming.Trigger
        val n = spark.read.parquet(s"$dir/documents.parquet").count() * 10
        val src = s"$dir/events_stream_hourly"
        // completion marker, not a bare exists(): the 24 sequential
        // appends are not one atomic commit, so a crash mid-loop leaves
        // a directory that exists but holds fewer (rerun: doubled)
        // events — the loader-must-probe rule. h=0's overwrite resets
        // a partial dir; the marker is written only after all 24 waves.
        val done = new java.io.File(s"$src/_ALLHOURS")
        if (!done.exists()) {
          val perHour = math.max(1L, n / 24)
          (0 until 24).foreach { h =>
            spark.range(perHour).select(
              timestamp_seconds(lit(1700000000L) + lit(h * 3600L) +
                pmod(hash(col("id"), lit(h)), lit(3600))).as("ts"),
              pmod(hash(col("id"), lit(h + 100)), lit(1000)).as("key"),
              (pmod(hash(col("id"), lit(7)), lit(1000)).cast("double") / 100.0).as("v"))
              .coalesce(4)
              .write.mode(if (h == 0) "overwrite" else "append").parquet(src)
          }
          java.nio.file.Files.writeString(done.toPath, "24")
        }
        val schema = new org.apache.spark.sql.types.StructType()
          .add("ts", org.apache.spark.sql.types.TimestampType)
          .add("key", org.apache.spark.sql.types.IntegerType)
          .add("v", org.apache.spark.sql.types.DoubleType)
        val sink = s"stream_wm_${label.replaceAll("[^A-Za-z0-9_]", "_")}"
        val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_wm_ck").toString
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 8)
          .parquet(src)
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "15 minutes"), col("key"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val last = q.recentProgress.lastOption.flatMap(_.stateOperators.headOption)
        println(s"[scale] streaming_watermark_append events=$n batches=${q.recentProgress.length} " +
          s"final_state_rows=${last.map(_.numRowsTotal).getOrElse(-1L)} " +
          s"evicted_total=${q.recentProgress.flatMap(_.stateOperators.headOption).map(_.numRowsRemoved).sum}")
        spark.table(sink).count()
      }),
      "curate_end_to_end" -> (() => {
        val keepers = Dedup.exact(docs, "doc_id", "text")
          .select(col("keeper_id").as("doc_id"))
        val uniq = docs.join(keepers, Seq("doc_id"), "left_semi")
        val clean = Dedup.decontaminate(uniq,
          docs.filter(col("doc_id") % 1000 === 0), "doc_id", "text",
          n = 3, minCommon = 5)
        graft.ops.Sampling.stratifiedSample(clean, col("doc_id"), col("lang"),
          Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.125), defaultRate = 0.0625).count()
      }))

    // A typo'd family name must fail loudly, not run zero families and
    // emit an empty-but-valid results JSON that reads as a successful
    // scale leg (ADVICE r11 #3).
    only.foreach { names =>
      val known = families.map(_._1).toSet
      val unknown = names -- known
      require(unknown.isEmpty,
        s"unknown scale famil${if (unknown.size == 1) "y" else "ies"} " +
          s"${unknown.toSeq.sorted.mkString(", ")} — known: " +
          families.map(_._1).mkString(", "))
    }
    val results = families
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, body) => timed(spark, n)(body()) }

    val json = results.map { case (n, s, r, sr, sw, stages) =>
      val stageJson =
        if (!stageDetail) ""
        else {
          // the sidecar caps at 40 stage rows — a stage-heavy family
          // must SAY it was truncated, or the classification evidence
          // silently drops stages while reading as complete (ADVICE
          // r13 #2): n_stages_total is the pre-cap count, truncated
          // the explicit flag
          val active = stages.filter(st =>
            st.written > 0 || st.read > 0 || st.diskSpilled > 0)
          val kept = active.take(40)
          kept.map(st =>
            f"""{\"id\": ${st.id}, \"name\": ${jstr(st.name)}, \"w\": ${st.written}, \"r\": ${st.read}, \"spill_mem\": ${st.memSpilled}, \"spill_disk\": ${st.diskSpilled}, \"sec\": ${Ioops.jsonNum(st.sec, 3)}}""")
            .mkString(
              s""", \"n_stages_total\": ${active.size}, \"truncated\": ${active.size > kept.size}, \"stages\": [""",
              ", ", "]")
        }
      s"""\"$n\": {\"sec\": ${Ioops.jsonNum(s, 3)}, \"rows\": $r, \"shuffle_read\": $sr, \"shuffle_write\": $sw$stageJson}"""
    }.mkString(s"""{"label": "$label", "dir": "$dir", "families": {""", ", ", "}}")
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/scale_result.json"), json)
  }

  /** Attribution probe for the minhash-band families' superlinear tail
    * (VERDICT r11 #2 follow-through): classify every band-collision
    * candidate pair by whether each side carries the generator's
    * shared 40-token template block. If the tail were vocabulary-
    * driven chance similarity (the r11 hypothesis), candidates would
    * be dominated by random (non-template) pairs and shrink under the
    * `heaps` vocab mode; if it is the TEMPLATE COHORT (n/20 docs,
    * pairwise J ≈ 0.26 — the boilerplate-block shape of real web
    * corpora), template-template pairs dominate and are vocabulary-
    * invariant. `minEstimate = 0` keeps every candidate the band join
    * materializes, so the classification covers the shuffle driver,
    * not the post-filter survivors.
    *
    * `maxShingleDf` (5th arg) applies [[graft.text.Dedup
    * .minhashSignatures]]'s boilerplate guard before banding — the
    * product mitigation the attribution points at; with the cap below
    * the cohort's df the template-template mass must collapse while
    * the planted exact duplicates keep colliding.
    *
    *   runMain graft.ScaleStress probe <dir> [bands] [numHashes] [maxShingleDf]
    */
  def probe(spark: SparkSession, dir: String, bands: Int, numHashes: Int,
            maxShingleDf: Long = Long.MaxValue): Unit = {
    import graft.text.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tmpl = docs.select(col("doc_id"),
      col("text").startsWith("t0 t1 ").as("is_t"))
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
      numHashes = numHashes, bands = bands, minEstimate = 0.0,
      maxShingleDf = maxShingleDf)
    val classified = cand
      .join(tmpl.select(col("doc_id").as("id_a"), col("is_t").as("ta")), Seq("id_a"))
      .join(tmpl.select(col("doc_id").as("id_b"), col("is_t").as("tb")), Seq("id_b"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    val tt = classified.getOrElse((true, true), 0L)
    val mixed = classified.getOrElse((true, false), 0L) + classified.getOrElse((false, true), 0L)
    val rr = classified.getOrElse((false, false), 0L)
    val nTmpl = tmpl.filter(col("is_t")).count()
    val dfCap =
      if (maxShingleDf == Long.MaxValue) "null"
      else if (maxShingleDf == graft.text.Dedup.AutoShingleDf) "\"auto\""
      else maxShingleDf.toString
    println(s"""{"probe":"band_candidates","dir":"$dir","bands":$bands,"num_hashes":$numHashes,"max_shingle_df":$dfCap,"template_docs":$nTmpl,"cand_template_template":$tt,"cand_mixed":$mixed,"cand_random_random":$rr}""")
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-scale-stress", Harness.cpus(32))
    args(0) match {
      case "gen" => gen(spark, args(1), args(2).toLong,
        args.lift(3).getOrElse("fixed"))
      case "run" => run(spark, args(1), args(2),
        args.lift(3).map(Harness.csvNames))
      case "probe" => probe(spark, args(1),
        args.lift(2).map(_.toInt).getOrElse(4),
        args.lift(3).map(_.toInt).getOrElse(16),
        args.lift(4).map(_.toLong).getOrElse(Long.MaxValue))
      case other => sys.error(s"unknown mode $other (gen|run|probe)")
    }
    spark.stop()
  }
}
