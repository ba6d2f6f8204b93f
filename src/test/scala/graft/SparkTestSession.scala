package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suite-level lazy
  * sessions would pay ~8s JVM+session startup per suite). */
object SparkTestSession {
  lazy val spark: SparkSession = Harness.session("graft-tests", 4,
    warehouseDir = Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
