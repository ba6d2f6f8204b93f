package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL face of the engine: with every catalog table
  * registered as a temp view (events through its nanos-safe reader), a
  * SQL-only user can run relational queries and the injected native
  * kernels — including a full query that mirrors a DataFrame-API result
  * exactly. */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def registerAll(dir: String): Unit =
    Tables.names.foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case n        => Tables.t(spark, dir, n).createOrReplaceTempView(n)
    }

  private val sf = "/root/testdata/sf0.001"

  test("registerAll exposes every table, events with a usable timestamp") {
    registerAll(sf)
    Tables.names.foreach { n =>
      assert(spark.sql(s"SELECT * FROM $n LIMIT 1").count() == 1, n)
    }
    // nanos handling: ts must arrive as a real timestamp, not a long
    assert(spark.sql("SELECT ts FROM events LIMIT 1").schema.head.dataType.typeName
      == "timestamp")
  }

  test("a SQL-only top-k query matches the DataFrame-API query result") {
    registerAll(sf)
    val sql = spark.sql(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val api = SparkEntry.queries("o3_topk")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(sql == api)
  }

  test("native kernels compose inside plain SQL over registered tables") {
    registerAll(sf)
    val r = spark.sql(
      """SELECT vec_id,
        |  vec_dot(embedding, embedding) AS sq_norm,
        |  vec_lsh_bucket(embedding, 8) AS bucket
        |FROM embeddings ORDER BY vec_id LIMIT 5""".stripMargin).collect()
    assert(r.length == 5)
    assert(r.forall(_.getDouble(1) > 0))
  }
}
