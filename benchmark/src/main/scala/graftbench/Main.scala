package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col}

/** Runs one benchmark workload in this JVM and writes a result file.
  *
  * {{{
  * graftbench.Main --workload season|board --seed N
  *   --trace 0|1 --work DIR --out FILE
  *   season: --plays N
  *   board:  --data SF_DIR --stride N
  * }}}
  *
  * The JVM is expected to run with `java.io.tmpdir` inside `--work`, so
  * every artifact the engine keeps under the temp dir belongs to this
  * run. The result file holds raw timings, per-op outcomes and (traced)
  * spans and counters; `benchmark/run.py` checks and summarises it. */
object Main {
  def main(args: Array[String]): Unit = {
    // JVM uptime when main starts; set-up time runs from JVM start
    val mainAtS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val main0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current.pid}", traced)

    val spark = tracer.span("setup.session") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"graftbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    tracer.attach(spark)
    tracer.span("setup.warm")(warm(spark, s"$work/warm"))

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    def failure(e: Throwable): String = {
      e.printStackTrace()
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    var extra = Map.empty[String, Any]

    // the workload's preparation (part of set-up) and its timed ops
    val (prep, timed): (() => Unit, () => Unit) = workload match {
      case "season" =>
        val plays = opt("plays").toInt
        (() => tracer.span("season.gen")(
            Season.generate(spark, plays, seed, s"$work/season/input")),
          () => {
            val m = Season.run(spark, s"$work/season/input", s"$work/season/out",
              stage => body => {
                val t0 = tracer.now()
                val err = try { tracer.span(stage)(body); None }
                  catch { case e: Throwable => Some(failure(e)) }
                ops += Map("name" -> stage, "module" -> "season",
                  "seconds" -> (tracer.now() - t0) / 1e9, "error" -> err)
              })
            // JSON has no NaN: a non-finite metric is written as null
            def finite(x: Double) = Some(x).filterNot(v => v.isNaN || v.isInfinite)
            extra = Map("season_out" -> s"$work/season/out",
              "model_metrics" -> m.map(x => Map("auc" -> finite(x.auc),
                "logloss" -> finite(x.logloss), "brier" -> finite(x.brier))))
          })
      case "board" =>
        val sf = opt("data")
        val stride = opt("stride").toInt
        (() => tracer.span("setup.prepare") {
            tracer.span("io.schemas")(Board.readSchemas(spark, sf))
            tracer.span("io.bucketed_pair")(graft.Ioops.ensureBucketedPair(spark, sf))
          },
          () => Board.order(stride, seed).foreach { case (module, name, fn) =>
            tracer.span("query", "query" -> name, "module" -> module) {
              val b0 = tracer.now()
              var b1 = b0
              val res = try {
                val df = tracer.span(s"queries.$module.build")(fn(spark, sf))
                b1 = tracer.now()
                Right(tracer.span(s"queries.$module.action")(df.count()))
              } catch { case e: Throwable => Left(failure(e)) }
              val a1 = tracer.now()
              ops += Map("name" -> name, "module" -> module,
                "seconds" -> (a1 - b0) / 1e9, "build_s" -> (b1 - b0) / 1e9,
                "action_s" -> (a1 - b1) / 1e9,
                "rows" -> res.toOption, "error" -> res.left.toOption)
              // drop blocks pinned by eager checkpoints inside the query,
              // as graft.Bench does between queries
              spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
            }
          })
    }
    prep()

    val w0 = tracer.now()
    val setupS = mainAtS + (System.nanoTime() - main0) / 1e9
    tracer.span("run")(timed())
    val wallS = (tracer.now() - w0) / 1e9
    val peakRssMb = vmHwmMb()
    spark.stop() // drains the listener bus, so the counters are complete

    val result = Map(
      "workload" -> workload, "cores" -> cores, "setup_s" -> setupS, "wall_s" -> wallS,
      "peak_rss_mb" -> peakRssMb, "ops" -> ops.toSeq,
      "trace" -> (if (traced) tracer.payload() else null)) ++ extra
    val out = Paths.get(opt("out"))
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.write(out, json.getBytes(StandardCharsets.UTF_8))
  }

  /** Class loading and JIT for the operator families every workload
    * uses: one aggregate and broadcast join, one parquet sink and read,
    * one Spark ML fit. None of it is a timed op, and the timed ops still
    * compile their own generated code. */
  def warm(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val r = spark.range(0, 4096).withColumn("k", col("id") % 7)
    r.groupBy("k").count().join(broadcast(r.select("k").distinct()), "k").count()
    r.write.mode("overwrite").parquet(s"$dir/sink")
    spark.read.parquet(s"$dir/sink").count()
    val tiny = (0 until 16).map(i => (i.toDouble, (i * 7 % 5).toDouble)).toDF("a", "b")
    val v = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("a", "b")).setOutputCol("f").transform(tiny)
    new org.apache.spark.ml.clustering.KMeans().setInitMode("random")
      .setK(2).setSeed(1L).setMaxIter(1).setFeaturesCol("f").fit(v)
  }

  /** Peak resident set (`VmHWM`) of this process, in MB. */
  def vmHwmMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) -1.0
    else {
      val line = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .split("\n").find(_.startsWith("VmHWM:"))
      line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    }
  }
}
