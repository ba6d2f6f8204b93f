package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** The shared run harness: the session profile every main and the test
  * session get, the query loop's order, filter and sweep, and the Spark
  * event meter's settle. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the test session carries the shared session profile") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("eachQuery runs the named queries in name order and sweeps pinned blocks") {
    val seen = Harness.eachQuery(spark,
        Some(Set("s1_scan_filter_agg", "a0_groupagg_wide", "no_such_query"))) { (name, _) =>
      spark.sparkContext.parallelize(1 to 10).persist().count()
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      name
    }
    assert(seen.map(_._1) == Seq("a0_groupagg_wide", "s1_scan_filter_agg"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a settled meter has seen the jobs and shuffle bytes of a finished query") {
    val meter = Harness.meter(spark)
    try {
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k")).count().collect()
      val first = meter.settle()
      assert(first.jobs >= 1)
      assert(first.shuffleWritten > 0)
      assert(first.shuffleRead > 0)
      assert(first.stages >= 1)
      // nothing landed after the settle: it waited for the events
      Thread.sleep(1000)
      assert(meter.settle() == first)
    } finally meter.close()
  }
}
