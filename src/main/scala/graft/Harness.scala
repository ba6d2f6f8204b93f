package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a graft run is set up and driven — the one place the mains
  * (`Bench`, `PlanCensus`, `Verify`, `Explain`, the demos and the
  * dev evidence tools) and the test session get their session, their
  * warm set-up, their loop over the query board and their Spark-event
  * meter from. A main states only what differs (app name, default core
  * count, the bench profile); everything else is shared, so two runs
  * that should measure the same state do so by construction. */
object Harness {

  /** Core count for a main: `SPARK_GRAFT_CPUS` (a deployment setting)
    * overrides the main's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** The one session builder: `local[cores]` with as many shuffle
    * partitions, the UTC session zone, the graft SQL extensions, no UI,
    * WARN logging.
    *
    * `benchProfile` is the measured-run profile of `Bench` and
    * `PlanCensus`: AQE per `SPARK_GRAFT_AQE` (default on) and
    * shuffle/spill compression per `SPARK_GRAFT_SHUFFLE_COMPRESS`
    * (default OFF). Compression is off because on this single-node
    * local[*] deployment shuffle blocks never cross a network — they
    * round-trip the local page cache — so lz4 is pure CPU tax on the
    * same cores doing the query work. Measured A/B at sf0.1 (158
    * queries, same binary, interleaved runs): median per-query ratio
    * 0.79–0.88 with compression off, no per-query regression beyond run
    * noise. A multi-node cluster (network shuffle, real disk pressure)
    * should keep the default ON — override via env.
    *
    * `warehouseDir` relocates the SQL warehouse (the test session uses
    * a temp dir). */
  def session(app: String, cores: Int, benchProfile: Boolean = false,
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
    if (benchProfile) {
      val compress = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_COMPRESS", "false")
      b.config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
        .config("spark.shuffle.compress", compress)
        .config("spark.shuffle.spill.compress", compress)
    }
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Comma-separated names → set (blank entries dropped). */
  def csvNames(csv: String): Set[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** Timed set-up phases (name → seconds, in run order) and the
    * prebuild failure, if any. */
  final case class SetUp(phases: Seq[(String, Double)], err: Option[String])

  /** The warm set-up of a measured run, every phase TIMED so the caller
    * can report it: BENCH r13's driver leg showed a cold-start gradient
    * (first ~60 queries at median 1.34–1.44×, decaying to ~1.0 by
    * position ~60) that was invisible because set-up cost was neither
    * measured nor complete (dev/BENCH_NORM_r14.md). `Bench` and
    * `PlanCensus` both call this, so the census measures the same warm
    * state as a bench leg. Warm phases and the prebuild degrade to a
    * stderr note (prefixed `tag`) — never abort the run before any
    * output is written. */
  def setUp(spark: SparkSession, sfDir: String, tag: String): SetUp = {
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      phases += name -> (System.nanoTime() - t0) / 1e9
      r
    }
    // cache-warming reads best-effort: an unreadable classpath entry or
    // a transient table-read fault must degrade to a missing warmup
    def warmPhase(name: String)(body: => Unit): Unit = phase(name) {
      try body
      catch { case e: Exception =>
        System.err.println(s"$tag $name warmup failed (continuing): ${e.getMessage}")
      }
    }
    // schema + footer reads for every table (events through its
    // layout-adaptive reader), one real scan job
    phase("schemas") {
      Tables.names.foreach {
        case "events" => Tables.events(spark, sfDir).schema
        case n        => Tables.t(spark, sfDir, n).schema
      }
      Tables.lineitem(spark, sfDir).count()
    }
    // Read the CLASSPATH's bytes once: class loading is lazy, so in a
    // fresh container the first measured queries to touch an operator
    // family pay scattered cold-disk reads of the jar pages backing
    // its classes — a cold-page-cache rehearsal of the r13 driver leg
    // reproduced its early-query gradient (first buckets ~1.33-1.34x,
    // decaying over the run) with the testdata already byte-warmed,
    // pointing at the jars (dev/BENCH_NORM_r14.md). One sequential
    // read of each classpath entry moves that cost into setup.
    warmPhase("jar_bytes") {
      val buf = new Array[Byte](1 << 20)
      def slurp(p: java.nio.file.Path): Unit = {
        val in = java.nio.file.Files.newInputStream(p)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
      System.getProperty("java.class.path", "")
        .split(java.io.File.pathSeparator)
        // a blank entry resolves Paths.get("") to the CWD and the
        // directory walk below would slurp the whole working tree
        // (multi-GB testdata included) into setup time (ADVICE r14)
        .filter(_.nonEmpty).foreach { entry =>
          val p = java.nio.file.Paths.get(entry)
          if (java.nio.file.Files.isRegularFile(p)) slurp(p)
          else if (java.nio.file.Files.isDirectory(p)) {
            val s = java.nio.file.Files.walk(p)
            try s.filter(java.nio.file.Files.isRegularFile(_)).forEach(slurp(_))
            finally s.close()
          }
        }
    }
    // Read every table's BYTES once (raw stream, not a Spark scan): in
    // a fresh container the OS page cache holds none of the testdata,
    // and without this the first measured query to scan each table
    // pays its cold-disk reads — the r13 driver leg billed exactly
    // those to the early alphabet (the a*/dedup families). Raw reads
    // warm the cache with minimal CPU and precompute nothing.
    warmPhase("table_bytes") {
      val conf = spark.sparkContext.hadoopConfiguration
      val buf = new Array[Byte](1 << 20)
      Tables.names.foreach { n =>
        val p = new org.apache.hadoop.fs.Path(s"$sfDir/$n.parquet")
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) {
          val it = fs.listFiles(p, true)
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile) {
              val in = fs.open(st.getPath)
              try { while (in.read(buf) >= 0) () } finally in.close()
            }
          }
        }
      }
    }
    // one tiny shuffle + hash-agg + broadcast join: the first exchange
    // in a JVM pays shuffle-machinery + codegen JIT that would otherwise
    // be billed to whichever measured query runs first
    phase("ops_warm") {
      val li = Tables.lineitem(spark, sfDir).limit(2048)
      li.groupBy(org.apache.spark.sql.functions.col("l_returnflag")).count()
        .join(org.apache.spark.sql.functions.broadcast(
          li.select(org.apache.spark.sql.functions.col("l_returnflag")).distinct()),
          "l_returnflag")
        .count()
    }
    // one tiny parquet write+read: the first write in a JVM pays
    // committer/output-format class-loading + JIT that would otherwise
    // be billed to whichever sink-exercising query runs first
    phase("sink_warm") {
      // per-process temp dir: a fixed shared path would race a second
      // concurrent bench JVM's overwrite mid-read
      val dir = java.nio.file.Files.createTempDirectory("graft_bench_warmup")
      val p = dir.resolve("w").toString
      Tables.nation(spark, sfDir).limit(16).write.mode("overwrite").parquet(p)
      spark.read.parquet(p).count()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
    // warm Spark ML too: the first KMeans fit in a JVM pays ~2s of
    // one-time class-loading/codegen that would otherwise be billed to
    // whichever IVF query runs first
    phase("ml_warm") {
      import spark.implicits._
      import org.apache.spark.ml.functions.array_to_vector
      val tiny = (0 until 16).map(i => (i.toLong, Array(i.toFloat, (i * 7 % 5).toFloat)))
        .toDF("id", "v").select(array_to_vector(org.apache.spark.sql.functions.col("v")).as("__fv"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(2).setSeed(1L).setMaxIter(1).setFeaturesCol("__fv").fit(tiny)
    }
    // build the ANN index artifacts (IVF quantizer + PQ codebooks) and
    // the bucketed join layout in setup: both are write-path work a
    // deployment pays at ingest, so measured queries are probe/score
    // (resp. exchange-free join) only. Idempotent: warm artifacts load.
    // A failure degrades the queries that need the artifact to inline
    // rebuilds INSIDE their measured time — so it is returned for the
    // caller's output, not just logged (a log tail clips).
    var err: Option[String] = None
    phase("prebuild") {
      try {
        graft.queries.TextSim.prebuildIndexes(spark, sfDir)
        Ioops.ensureBucketedPair(spark, sfDir)
      } catch { case e: Exception =>
        err = Some(e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160))
        System.err.println(s"$tag setup prebuild failed (continuing): ${e.getMessage}")
      }
    }
    phases.foreach { case (n, s) =>
      System.err.println(f"$tag setup $n%-12s $s%7.2fs")
    }
    SetUp(phases.toSeq, err)
  }

  /** Drop every persisted block — those pinned by eager localCheckpoints
    * inside operators. Leaking them across queries degrades every later
    * query in the run. */
  def releaseCheckpoints(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  /** The one loop over the query board: every `SparkEntry.queries` entry
    * in name order (only those named in `only`, when given), with
    * [[releaseCheckpoints]] after each query whatever `run` did. */
  def eachQuery[T](spark: SparkSession, only: Option[Set[String]])(
      run: (String, (SparkSession, String) => DataFrame) => T): Seq[(String, T)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        name -> (try run(name, fn) finally releaseCheckpoints(spark))
      }

  /** One completed stage's metrics: callsite name, shuffle bytes, and
    * spill — the classification row VERDICT r12 #2 asks for (shuffle
    * growth must be attributed to a NAMED exchange, with the
    * memory-pressure signal measured beside it, not argued). */
  final case class StageBytes(id: Int, name: String,
      read: Long, written: Long, memSpilled: Long, diskSpilled: Long,
      sec: Double)

  /** What a [[Meter]] has counted so far. */
  final case class Reading(jobs: Int, shuffleRead: Long, shuffleWritten: Long,
      stages: Int)

  /** The engine-level Spark-event meter: jobs started, shuffle bytes
    * read/written and per-stage rows ([[StageBytes]]) since it was
    * attached ([[meter]]). The listener bus is asynchronous, so read it
    * through [[settle]]. */
  final class Meter private[Harness] (spark: SparkSession)
      extends org.apache.spark.scheduler.SparkListener {
    private val jobs = new java.util.concurrent.atomic.AtomicInteger
    @volatile private var read = 0L
    @volatile private var written = 0L
    private val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[StageBytes]
    // SQL actions submit jobs through a thread pool, so a stage's OWN
    // callsite is the pool lambda ("withThreadLocalCaptured at
    // CompletableFuture.java") — attribution lives in the JOB
    // properties instead: callSite.short is the driving action
    // ("count at Exec.scala:NN"), which together with the
    // deterministic job ORDER names each exchange across scale points.
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, String]
    private val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]
    override def onOtherEvent(
        e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
      // the SQL execution description IS the driving action's callsite
      // ("count at Exec.scala:NN") — the only place it survives the
      // thread-pool submission
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execDesc.put(s.executionId, s.description.linesIterator.nextOption().getOrElse("").take(100))
      case _ =>
    }
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val cs = Option(js.properties).flatMap { p =>
        Option(p.getProperty("spark.sql.execution.id")).map { eid =>
          s"exec $eid: ${Option(execDesc.get(eid.toLong)).getOrElse("?")}"
        }.orElse(Option(p.getProperty("callSite.short")))
      }.getOrElse("?")
      js.stageIds.foreach(sid => stageJob.put(sid, s"job ${js.jobId}: $cs"))
    }
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      read += m.shuffleReadMetrics.totalBytesRead
      written += m.shuffleWriteMetrics.bytesWritten
      // stage wall (submission -> completion): the attribution tool the
      // r15c GCLocker hunt was missing - bytes alone cannot say WHERE a
      // 2x wall regression lives
      val sec = (for {
        sub <- sc.stageInfo.submissionTime
        done <- sc.stageInfo.completionTime
      } yield (done - sub) / 1e3).getOrElse(0.0)
      stageRows.add(StageBytes(sc.stageInfo.stageId,
        Option(stageJob.get(sc.stageInfo.stageId)).getOrElse(sc.stageInfo.name),
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled, sec))
    }

    private def reading: Reading = Reading(jobs.get, read, written, stageRows.size)

    /** The reading once in-flight events have landed. The bus's drain
      * API is private[spark], and a fixed sleep under-drains exactly
      * when the backlog is largest (the heavy 10× scale runs), silently
      * understating the totals — so poll until two consecutive readings
      * agree (quiescent), bounded at 5 s. The stage count is part of
      * the reading: a trailing stage that shuffled nothing but spilled
      * changes neither byte counter and would otherwise be dropped
      * while still queued (defect class #17). */
    def settle(): Reading = {
      var prev = Reading(-1, -1L, -1L, -1)
      var waited = 0
      var settled = false
      while (!settled && waited < 5000) {
        Thread.sleep(100); waited += 100
        val cur = reading
        settled = cur == prev
        prev = cur
      }
      prev
    }

    /** Completed stages so far, most shuffle bytes written first. */
    def stages: Vector[StageBytes] = {
      import scala.jdk.CollectionConverters._
      stageRows.iterator().asScala.toVector.sortBy(-_.written)
    }

    /** Detach from the session's listener bus. */
    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** Attach a fresh [[Meter]] to `spark`'s listener bus. */
  def meter(spark: SparkSession): Meter = {
    val m = new Meter(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
