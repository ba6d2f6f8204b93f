package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Two-JVM artifact-race canary (dev evidence tool, VERDICT r10 #4).
  *
  * The commit protocol's race handling ([[Ioops.commitDirAtomic]]:
  * adopt-a-racing-winner, nested-rename cleanup, identity-verified
  * lost-race survivor) was spec-SIMULATED in IoopsSpec — one JVM
  * interleaving the steps by hand. This main closes the gap with a
  * real race: it forks a SECOND java process (same classpath and
  * --add-opens set as this forked sbt run), file-barrier-synchronizes
  * the two JVMs to within one poll tick, and has BOTH call the same
  * ensure path cold, for several rounds.
  *
  *   runMain graft.RaceCanary parent /tmp/race_canary 3
  *   runMain graft.RaceCanary parent /tmp/race_ivf 3 ivfindex
  *   runMain graft.RaceCanary parent /tmp/race_pg 3 pairgraph
  *
  * Raced families:
  *   - `shingle` (default): [[graft.text.Dedup.ensureShingleSet]] —
  *     one parquet artifact behind one commitDirAtomic.
  *   - `ivfindex`: the full ANN artifact chain — [[graft.sim.Ivf
  *     .fitOrLoad]] (ML-writer quantizer dir), [[graft.sim.Pq
  *     .fitOrLoad]] (header-stamped codebook text file), then
  *     [[graft.sim.IvfPq.ensureIndex]] (cell-partitioned parquet
  *     index) — THREE concurrent publishes per round, including the
  *     adopt-a-winner rule feeding the next stage's input (the index
  *     must be built from whichever quantizers actually won).
  *   - `pairgraph`: [[graft.text.Dedup.ensurePairGraph]] — the
  *     three-half dedup decision artifact (pairs + components +
  *     `_params` stamp) whose single-rename layout exists precisely
  *     to rule out mixed-generation halves; the loser must adopt the
  *     winner's halves as one consistent generation, with the stamp
  *     verified on the adopted copy.
  *
  * Asserted per round, loudly:
  *   - both processes' ensure calls SUCCEED (the loser must adopt the
  *     winner's artifact, never crash, never double-build into a
  *     nested mess);
  *   - both readers return the SAME (count, xor-of-hashes) content
  *     checksum, equal to an independent recompute from the source
  *     frame — no torn/merged artifact;
  *   - the artifact directory holds exactly one _SUCCESS and loads
  *     cleanly in a FRESH read afterwards.
  *
  * The child writes `round_<i>_child` result files; a nonzero child
  * exit or a checksum mismatch fails the parent. Results are printed
  * as one JSON line per round (captured in dev/RACE_CANARY_r11.md).
  */
object RaceCanary {

  /** A raced artifact family: what each JVM ensures at
    * `dir/artifact_<i>`, how the published artifact is
    * content-checksummed, and the independent recompute the checksum
    * must equal. Source frames are hash-derived from `spark.range`
    * (ScaleStress-style) so the two JVMs agree on content with no
    * shared files and no generator race. */
  private sealed trait Family {
    def name: String
    /** The racing ensure call(s) for round `i` — both JVMs run this
      * concurrently against the same cold paths. */
    def ensure(spark: SparkSession, dir: String, i: Int): Unit
    /** (rows, order-insensitive xor) of the PUBLISHED artifact — a
      * fresh read, so partition layout cannot alter it. */
    def checksum(spark: SparkSession, dir: String, i: Int): (Long, Long)
    /** Ground truth the artifact write never participated in. */
    def truth(spark: SparkSession, dir: String, i: Int): (Long, Long)
    /** Rows the canary summary reports (for the PASS line). */
    def sourceRows: Long
    /** Artifact-directory layout assertion after the race: default =
      * a single-table artifact (exactly one _SUCCESS, no nested
      * rename pollution). Multi-half families override. */
    def verifyLayout(path: String, kids: List[String]): Unit = {
      val successes = kids.count(_ == "_SUCCESS")
      val nested = kids.count(_.startsWith("artifact_"))
      require(successes == 1, s"expected exactly one _SUCCESS in $path, got $successes")
      require(nested == 0, s"nested artifact dir inside $path (rename pollution)")
    }
  }

  private def xorAgg(df: DataFrame, hashCols: Seq[String]): (Long, Long) = {
    val row = df.agg(count(lit(1)).as("n"),
      expr(s"bit_xor(xxhash64(${hashCols.mkString(", ")}))").as("x")).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  private object ShingleFamily extends Family {
    val name = "shingle"
    val sourceRows = 60000L
    private def docs(spark: SparkSession): DataFrame =
      spark.range(sourceRows).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)), i =>
          concat(lit("w"), pmod(hash(col("id"), i), lit(5000))))).as("text"))
    def ensure(spark: SparkSession, dir: String, i: Int): Unit =
      graft.text.Dedup.ensureShingleSet(docs(spark), "doc_id", "text",
        n = 3, path = s"$dir/artifact_$i")
    def checksum(spark: SparkSession, dir: String, i: Int): (Long, Long) = {
      val row = spark.read.parquet(s"$dir/artifact_$i")
        .agg(count(lit(1)).as("n"), expr("bit_xor(shingle_h)").as("x")).head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    def truth(spark: SparkSession, dir: String, i: Int): (Long, Long) = {
      val row = graft.text.Dedup.shingleHashes(docs(spark), "doc_id", "text", 3)
        .select(col("shingle_h")).distinct()
        .agg(count(lit(1)).as("n"), expr("bit_xor(shingle_h)").as("x")).head()
      (row.getLong(0), row.getLong(1))
    }
  }

  private object IvfIndexFamily extends Family {
    val name = "ivfindex"
    val sourceRows = 20000L
    private val Dim = 16
    private def emb(spark: SparkSession): DataFrame =
      spark.range(sourceRows).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)), j =>
          ((pmod(hash(col("id"), j), lit(2000)) - lit(1000)).cast("double")
            / 1000.0).cast("float")).as("embedding"))
    /** The two quantizer ensures are themselves part of the race: on
      * the loser they ADOPT from disk, so both JVMs hold the winner's
      * centroids/codebooks before the index ensure. The fits are also
      * deterministic across JVMs ([[graft.sim.Kmeans]]: a content-ordered
      * training set and a seeded driver-side fit, whatever the partition
      * layout), so either JVM's fit would publish the same bytes. */
    private def quantizers(spark: SparkSession, dir: String, i: Int) = {
      val e = emb(spark)
      val model = graft.sim.Ivf.fitOrLoad(e, "embedding", k = 16,
        path = s"$dir/quant_$i", trainFraction = 0.5)
      val cb = graft.sim.Pq.fitOrLoad(e, "embedding", m = 4, k = 16,
        path = s"$dir/pqcb_$i", trainFraction = 0.5)
      (e, model, cb)
    }
    def ensure(spark: SparkSession, dir: String, i: Int): Unit = {
      val (e, model, cb) = quantizers(spark, dir, i)
      graft.sim.IvfPq.ensureIndex(e, "vec_id", "embedding", model, cb,
        s"$dir/artifact_$i")
    }
    def checksum(spark: SparkSession, dir: String, i: Int): (Long, Long) =
      xorAgg(spark.read.parquet(s"$dir/artifact_$i"),
        Seq("cell", "neighbor_id", "vec", "norm", "pq_codes"))
    def truth(spark: SparkSession, dir: String, i: Int): (Long, Long) = {
      // memo hits on the DISK-adopted quantizers; the index artifact
      // itself is never read — a clean rebuild from the published
      // quantizers is the ground truth the artifact must equal
      val (e, model, cb) = quantizers(spark, dir, i)
      xorAgg(graft.sim.IvfPq.buildIndex(e, "vec_id", "embedding", model, cb),
        Seq("cell", "neighbor_id", "vec", "norm", "pq_codes"))
    }
  }

  /** The three-half pair-graph artifact ([[graft.text.Dedup
    * .ensurePairGraph]]: pairs + components + the `_params` stamp,
    * one commitDirAtomic over the parent) — the mixed-generation
    * hazard (pairs of one build next to components of another) is
    * exactly what the single-rename layout exists to prevent, so it
    * gets a real two-JVM race like the other publish protocols
    * (VERDICT r11 #4). Every doc text is derived from `id % 15000`,
    * planting one exact-duplicate partner per doc: the pair table is
    * non-trivially populated (15k jaccard=1.0 pairs) and the
    * components half has 15k two-node clusters, so a torn or merged
    * artifact cannot checksum-match by emptiness. */
  private object PairGraphFamily extends Family {
    val name = "pairgraph"
    val sourceRows = 30000L
    // derived from the generator's own canonical stamp builder, never
    // hand-duplicated: a format change in Dedup's params cannot desync
    // this witness (ADVICE r12 #2)
    private val Params = graft.text.Dedup.ngramPairGraphStamp(3, 0.5, "exact")
    private def docs(spark: SparkSession): DataFrame =
      spark.range(sourceRows).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(24)), i =>
          concat(lit("w"), pmod(hash(pmod(col("id"), lit(15000L)), i),
            lit(3000))))).as("text"))
    def ensure(spark: SparkSession, dir: String, i: Int): Unit =
      graft.text.Dedup.ensurePairGraph(docs(spark), "doc_id", "text",
        n = 3, threshold = 0.5, path = s"$dir/artifact_$i")
    def checksum(spark: SparkSession, dir: String, i: Int): (Long, Long) = {
      val path = s"$dir/artifact_$i"
      val stamp = Files.readString(Paths.get(s"$path/_params"))
      require(stamp == Params, s"stamp mismatch at $path: [$stamp]")
      val (pn, px) = xorAgg(spark.read.parquet(s"$path/pairs"),
        Seq("id_a", "id_b", "jaccard"))
      val (cn, cx) = xorAgg(spark.read.parquet(s"$path/components"),
        Seq("node", "component"))
      (pn + cn, px ^ cx)
    }
    def truth(spark: SparkSession, dir: String, i: Int): (Long, Long) = {
      val pairs = graft.text.Dedup.ngramJaccardPairs(
        docs(spark), "doc_id", "text", 3, 0.5)
      val (pn, px) = xorAgg(pairs, Seq("id_a", "id_b", "jaccard"))
      val (cn, cx) = xorAgg(
        graft.ops.Components.connectedComponents(pairs, "id_a", "id_b"),
        Seq("node", "component"))
      (pn + cn, px ^ cx)
    }
    override def verifyLayout(path: String, kids: List[String]): Unit = {
      // visible top level is exactly the three halves (dot-files are
      // LocalFileSystem .crc sidecars); each parquet half carries its
      // own single _SUCCESS; no leftover commit temp dirs anywhere
      val visible = kids.filterNot(_.startsWith(".")).sorted
      require(visible == List("_params", "components", "pairs"),
        s"unexpected pair-graph layout at $path: $kids")
      require(!kids.exists(_.contains(".tmp-")),
        s"leftover commit temp in $path: $kids")
      Seq("pairs", "components").foreach { half =>
        val names = {
          val s = Files.list(Paths.get(s"$path/$half"))
          try { import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(_.getFileName.toString).toList
          } finally s.close()
        }
        require(names.count(_ == "_SUCCESS") == 1,
          s"expected exactly one _SUCCESS in $path/$half: $names")
      }
    }
  }

  private val families: Map[String, Family] =
    Seq(ShingleFamily, IvfIndexFamily, PairGraphFamily).map(f => f.name -> f).toMap

  private def waitFor(p: String, timeoutMs: Long = 240000): Unit = {
    val t0 = System.currentTimeMillis()
    while (!Files.exists(Paths.get(p))) {
      if (System.currentTimeMillis() - t0 > timeoutMs)
        sys.error(s"barrier timeout waiting for $p")
      Thread.sleep(20)
    }
  }

  def child(dir: String, rounds: Int, fam: Family): Unit = {
    val spark = Harness.session(s"race-canary-child-${fam.name}", 8)
    Files.writeString(Paths.get(s"$dir/child_ready"), "1")
    (0 until rounds).foreach { i =>
      waitFor(s"$dir/go_$i")
      Files.writeString(Paths.get(s"$dir/enter_${i}_child"),
        System.currentTimeMillis().toString)
      fam.ensure(spark, dir, i)
      Files.writeString(Paths.get(s"$dir/exit_${i}_child"),
        System.currentTimeMillis().toString)
      val (n, x) = fam.checksum(spark, dir, i)
      Files.writeString(Paths.get(s"$dir/round_${i}_child"), s"$n,$x")
    }
    spark.stop()
  }

  def parent(dir: String, rounds: Int, fam: Family): Unit = {
    Files.createDirectories(Paths.get(dir))
    val spark = Harness.session(s"race-canary-parent-${fam.name}", 8)

    // fork the second JVM with this process's classpath + module opens
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      val in = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toList
      val keep = scala.collection.mutable.ArrayBuffer[String]()
      var it = in
      while (it.nonEmpty) {
        val a = it.head
        if (a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
            a.startsWith("--enable-native-access")) {
          keep += a
          // the flag ships either as ONE token ("--add-opens=mod/pkg=X")
          // or as a BARE flag whose operand is the next token; only the
          // bare form (exact flag name, no '=') carries its operand along
          if ((a == "--add-opens" || a == "--add-exports" ||
               a == "--enable-native-access") && it.tail.nonEmpty) {
            keep += it.tail.head; it = it.tail
          }
        }
        it = it.tail
      }
      keep.toSeq
    }
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(
      "-Xmx4g", "-cp", System.getProperty("java.class.path"),
      "graft.RaceCanary", "child", dir, rounds.toString, fam.name))
    val log = new java.io.File(s"$dir/child.log")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectOutput(log).redirectErrorStream(true).start()

    try {
      waitFor(s"$dir/child_ready")
      (0 until rounds).foreach { i =>
        val path = s"$dir/artifact_$i"
        // release the barrier, then race immediately
        Files.writeString(Paths.get(s"$dir/go_$i"), "1")
        Files.writeString(Paths.get(s"$dir/enter_${i}_parent"),
          System.currentTimeMillis().toString)
        val t0 = System.nanoTime()
        fam.ensure(spark, dir, i)
        val sec = (System.nanoTime() - t0) / 1e9
        Files.writeString(Paths.get(s"$dir/exit_${i}_parent"),
          System.currentTimeMillis().toString)
        val (pn, px) = fam.checksum(spark, dir, i)
        waitFor(s"$dir/round_${i}_child")
        val Array(cn, cx) = Files.readString(Paths.get(s"$dir/round_${i}_child"))
          .trim.split(",").map(_.toLong)
        // independent recompute — the ground truth neither JVM's
        // artifact write participated in
        val (tn, tx) = fam.truth(spark, dir, i)
        val kids = {
          val s = Files.list(Paths.get(path))
          try { import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(_.getFileName.toString).toList
          } finally s.close()
        }
        fam.verifyLayout(path, kids)
        require((pn, px) == (cn, cx) && (pn, px) == (tn, tx),
          s"round $i: checksum divergence parent=($pn,$px) child=($cn,$cx) truth=($tn,$tx)")
        println(s"""{"round":$i,"rows":$pn,"xor":$px,"parent_sec":$sec,"agree":true}""")
      }
      val exited = proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
      require(exited && proc.exitValue() == 0,
        s"child JVM failed (exit ${if (exited) proc.exitValue() else "timeout"}) — see $dir/child.log")
      // PROVE the race was real: the two ensure calls must have been
      // in flight simultaneously in at least one round (wall-clock
      // marker files; same box, so currentTimeMillis is comparable).
      // Without this, three wins could just be build-then-warm-load.
      val overlaps = (0 until rounds).map { i =>
        def ms(who: String, which: String) =
          Files.readString(Paths.get(s"$dir/${which}_${i}_$who")).trim.toLong
        val o = math.min(ms("parent", "exit"), ms("child", "exit")) -
          math.max(ms("parent", "enter"), ms("child", "enter"))
        println(s"""{"round":$i,"concurrent_ms":$o}""")
        o
      }
      require(overlaps.exists(_ > 0),
        s"no round had concurrently in-flight ensure calls (overlaps=$overlaps ms) — the race was never exercised; rerun")
      println(s"""{"race_canary":"PASS","family":"${fam.name}","rounds":$rounds,"source_rows":${fam.sourceRows}}""")
    } finally {
      if (proc.isAlive) proc.destroyForcibly()
      spark.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    val fam = families.getOrElse(args.lift(3).getOrElse("shingle"),
      sys.error(s"unknown family ${args(3)} (${families.keys.mkString("|")})"))
    args(0) match {
      case "parent" => parent(args(1), args.lift(2).map(_.toInt).getOrElse(3), fam)
      case "child"  => child(args(1), args.lift(2).map(_.toInt).getOrElse(3), fam)
      case other    => sys.error(s"unknown mode $other (parent|child)")
    }
  }
}
