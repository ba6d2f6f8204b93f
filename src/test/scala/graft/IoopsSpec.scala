package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** S1-CSV/S2/S6/S3/X17 specs: schema'd CSV roundtrip, fail-fast
  * missing-column and empty-input checks, partition-pruned multi-file
  * scan with per-file provenance, path templating, metrics sink. */
class IoopsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString

  test("CSV roundtrip preserves types and values (incl. shortest-repr doubles)") {
    val dir = tmpDir("csv") + "/t"
    val df = Seq((1L, "a", 2547.4), (2L, "b", -0.125), (3L, "c", 1e-7))
      .toDF("id", "name", "score")
    Ioops.writeCsv(df, dir)
    val back = Ioops.readCsv(spark, schema, dir)
    assert(back.schema == schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("requireColumns fails fast on a missing column, metadata-only on success") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val e = intercept[IllegalArgumentException] {
      Ioops.requireColumns(df, Seq("id", "score"))
    }
    assert(e.getMessage.contains("score"))
    assert(Ioops.requireColumns(df, Seq("id")) eq df)
  }

  test("requireNonEmpty raises on an empty frame") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val e = intercept[IllegalArgumentException] {
      Ioops.requireNonEmpty(empty, "players input")
    }
    assert(e.getMessage.contains("players input"))
  }

  test("partitioned write + filtered read prunes partitions at the scan") {
    val dir = tmpDir("part") + "/weeks"
    val df = (1 to 18).flatMap(w => (1 to 5).map(i => (w, w * 100L + i, i * 1.5)))
      .toDF("week", "game_id", "v")
    df.write.mode("overwrite").partitionBy("week").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("week").isin(1, 2))
    // the partition filter must reach the file listing, not a post-scan Filter
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("week"),
      s"partition filter not pushed:\n$scan")
    assert(pruned.count() == 10)
    assert(pruned.select("week").distinct().as[Int].collect().toSet == Set(1, 2))
  }

  test("input_file_name provenance recovers the source partition file") {
    val dir = tmpDir("prov") + "/weeks"
    (1 to 3).flatMap(w => Seq((w, w.toLong))).toDF("week", "game_id")
      .write.mode("overwrite").partitionBy("week").parquet(dir)
    val prov = spark.read.parquet(dir)
      .select(col("week"), input_file_name().as("src"))
      .collect()
    prov.foreach(r => assert(r.getString(1).contains(s"week=${r.getInt(0)}")))
  }

  test("X17 weekly path templating, driver-side and Column forms") {
    assert(Ioops.weeklyFile("input_2023", 7) == "input_2023_w07.csv")
    assert(Ioops.weeklyFile("output_2023", 18) == "output_2023_w18.csv")
    val got = Seq(3, 12).toDF("week")
      .select(Ioops.weeklyFileCol("input_2023", col("week")))
      .as[String].collect().toSet
    assert(got == Set("input_2023_w03.csv", "input_2023_w12.csv"))
  }

  test("locale hostility: machine-facing formatters are pinned (ASCII digits under ar-u-nu-arab)") {
    // the review-r14 class, swept corpus-wide in r17: java.util
    // Formatter renders %d with the DEFAULT locale's digit shapes, so
    // an ar-*-u-nu-arab deployment would mint non-ASCII file paths
    // (weeklyFile diverging from its format_string Column twin, which
    // Spark pins to Locale.US) and comma-decimal JSON. Flip the JVM
    // default and assert every machine-facing formatter held.
    val old = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("ar-SA-u-nu-arab"))
      assert(Ioops.weeklyFile("input_2023", 7) == "input_2023_w07.csv")
      assert(Ioops.jsonNum(2.94, 2) == "2.94")
      val verdict = Bench.gateVerdictJson(125.95, Some((2.215, 12, 1.1363, 4.9264)))
      assert(verdict.contains("\"raw_gate_ratio\":2.936"))
      assert(verdict.contains("drift 2.215") && verdict.contains("2.94x"))
      assert(verdict.forall(_ < 128), "gate fields must be pure ASCII under any locale")
    } finally java.util.Locale.setDefault(old)
  }

  test("metrics JSON sink writes sorted plain JSON") {
    val p = tmpDir("metrics") + "/run/metrics.json"
    Ioops.writeMetricsJson(p, Map("logloss" -> 0.581, "auc" -> 0.671))
    val s = Files.readString(java.nio.file.Paths.get(p))
    assert(s == """{"auc": 0.671, "logloss": 0.581}""")
  }

  test("dynamic partition overwrite replaces only the touched partition") {
    import spark.implicits._
    val dir = tmpDir("dynover") + "/t"
    Seq((1, "p0", "a"), (2, "p0", "b"), (3, "p1", "c"), (4, "p2", "d"))
      .toDF("id", "part", "v").write.partitionBy("part").parquet(dir)
    // rewrite partition p0 only: one row changed, one dropped
    Ioops.overwritePartitions(
      Seq((1, "p0", "a2")).toDF("id", "part", "v"), dir, Seq("part"))
    val got = spark.read.parquet(dir).select("id", "v")
      .as[(Int, String)].collect().toSet
    // p1/p2 survive untouched; p0 is exactly the update slice
    assert(got == Set((1, "a2"), (3, "c"), (4, "d")))
    // session conf restored (unset by default → static semantics back)
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_.equalsIgnoreCase("static")))
  }

  test("commitDirAtomic: publish is atomic, losers adopt the winner, broken dests are replaced") {
    import spark.implicits._
    val base = tmpDir("commit")
    val dest = s"$base/artifact"
    // fresh publish: no partial dir ever visible at dest
    Ioops.commitDirAtomic(spark, dest)(tmp =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(tmp))
    assert(spark.read.parquet(dest).count() == 2)
    // no stray temp dirs left behind
    def tmpsLeft(): Array[String] =
      Option(new java.io.File(base).list()).getOrElse(Array.empty)
        .filter(_.startsWith("artifact.tmp-"))
    assert(tmpsLeft().isEmpty, s"leftover temps: ${tmpsLeft().toSeq}")
    // simulate losing the publish race from the real precondition
    // (both builders saw NO artifact): a complete winner lands at dest
    // between our build and our rename — the loser must adopt it and
    // discard its own build (mixed directories must be impossible)
    locally {
      val fs = new org.apache.hadoop.fs.Path(dest)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dest), true)
    }
    var raced = false
    Ioops.commitDirAtomic(spark, dest) { tmp =>
      Seq((9L, "loser")).toDF("k", "v").write.parquet(tmp)
      if (!raced) { raced = true
        // the "winner": replaces dest after our temp build completes.
        // Delete+recreate via the FS API (crc sidecars) — rename from
        // a sibling, exactly what a concurrent commitDirAtomic does.
        val fs = new org.apache.hadoop.fs.Path(dest)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val wtmp = new org.apache.hadoop.fs.Path(s"$base/winner-build")
        Seq((7L, "winner")).toDF("k", "v").write.parquet(wtmp.toString)
        fs.delete(new org.apache.hadoop.fs.Path(dest), true)
        fs.rename(wtmp, new org.apache.hadoop.fs.Path(dest))
      }
    }
    // the loser must ADOPT the winner: winner's rows only, no temp dir
    // left in the base dir, and — critically — no loser build NESTED
    // inside the published artifact (Hadoop LocalFileSystem renames
    // onto an existing directory by copying INTO it and returning
    // true; nested pollution makes a partitioned artifact unreadable)
    val rows = spark.read.parquet(dest).as[(Long, String)].collect().toSet
    assert(rows == Set((7L, "winner")), s"got $rows")
    assert(tmpsLeft().isEmpty, s"loser temp not cleaned: ${tmpsLeft().toSeq}")
    val nestedDirs = Option(new java.io.File(dest).list()).getOrElse(Array.empty)
      .filter(_.contains(".tmp-"))
    assert(nestedDirs.isEmpty, s"loser build nested inside artifact: ${nestedDirs.toSeq}")
    // a broken pre-existing destination is replaced wholesale
    Ioops.commitDirAtomic(spark, dest)(tmp =>
      Seq((3L, "fresh")).toDF("k", "v").write.parquet(tmp))
    assert(spark.read.parquet(dest).as[(Long, String)].collect().toSet ==
      Set((3L, "fresh")))
  }

  test("commitDirAtomic: a failed build leaves no temp directory behind") {
    val base = tmpDir("commitfail")
    val dest = s"$base/artifact"
    val boom = intercept[RuntimeException] {
      Ioops.commitDirAtomic(spark, dest) { tmp =>
        Seq((1L, "partial")).toDF("k", "v").write.parquet(tmp)
        throw new RuntimeException("build failed mid-flight")
      }
    }
    assert(boom.getMessage.contains("mid-flight"))
    val left = Option(new java.io.File(base).list()).getOrElse(Array.empty)
    assert(left.isEmpty, s"orphaned temp after failed build: ${left.toSeq}")
  }

  test("collectStats: one pass, exact min/max/nulls, NDV within HLL bound") {
    import spark.implicits._
    val dir = tmpDir("stats") + "/t"
    (1L to 5000L).map(i => (i, if (i % 10 == 0) null else s"s${i % 700}"))
      .toDF("k", "v").write.mode("overwrite").parquet(dir)
    val stats = Ioops.collectStats(spark, dir, Seq("k", "v"))
    assert(stats("rows") == "5000")
    assert(stats("min_k") == "1" && stats("max_k") == "5000")
    assert(stats("nulls_k") == "0" && stats("nulls_v") == "500")
    val ndv = stats("ndv_k").toLong
    assert(math.abs(ndv - 5000) <= 5000 * 6 / 100, s"ndv_k=$ndv")
    // sidecar written next to the data
    assert(new java.io.File(dir, "_stats.json").exists)
  }
}
