package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // catalog root for ScaleTechniquesSpec's bucketBy … saveAsTable
      // and OlistWarehouseSpec's CREATE DATABASE
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("spark_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Every SparkEntry query runs at sf0.001 and returns a sane result.
  * (Value-level correctness is checked against the DuckDB oracle by the
  * driver and by check_oracle.py at sf0.01.)
  */
class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and is non-degenerate") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      df.count() // forces full evaluation; must not throw
    }
  }
}
