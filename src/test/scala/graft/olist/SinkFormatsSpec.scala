package graft.olist

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** S4/S5 sink generality: the same warehouse build round-trips through
  * every supported columnar/text format with identical fact contents.
  */
class SinkFormatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val src = OlistFixtures.sources(spark)

  private def factCount(format: String): (Long, Long) = {
    val dir = java.nio.file.Files.createTempDirectory(s"olist_wh_$format").toString
    val wh = new Warehouse(spark, dir, format)
    wh.build(src)
    (wh.table("orders_fact").count(), wh.table("product").count())
  }

  private lazy val reference = factCount("parquet")

  Seq("orc", "json", "csv").foreach { fmt =>
    test(s"warehouse builds identically on $fmt") {
      assert(factCount(fmt) == reference)
    }
  }

  test("unsupported format is rejected eagerly") {
    intercept[IllegalArgumentException] {
      new Warehouse(spark, "/tmp/x", "avro")
    }
  }

  test("explicit file:// URI basePath: meta travels through the Hadoop FileSystem") {
    // csv doesn't self-describe — reading back NEEDS the schema the
    // manifest records, so this exercises both the manifest write and
    // read over a scheme-qualified URI (the cluster-scale path shape)
    val dir = java.nio.file.Files.createTempDirectory("olist_uri").toString
    val wh = new Warehouse(spark, s"file://$dir", "csv")
    wh.build(src)
    assert(wh.table("orders_fact").count() == reference._1)
    // the manifests are the only store of each table's definition: no
    // per-table file sits beside the log directories
    val metaFiles = new java.io.File(s"$dir/_graft_meta").listFiles()
      .filter(_.isFile).map(_.getName)
    assert(metaFiles.isEmpty, metaFiles.mkString(", "))
    // a NEW instance over the same URI recovers partitioning + schema
    // from the manifest alone (cross-job incremental scenario)
    val wh2 = new Warehouse(spark, s"file://$dir", "csv")
    assert(wh2.table("orders_fact").count() == reference._1)
    assert(wh2.table("product").count() == reference._2)
  }

  test("stats file skipping is format-agnostic: a csv table prunes like parquet") {
    // the stats agg reads the written files back through the table's
    // own format reader, so skipping works even where the format has
    // no native footers (csv) — the manifest IS the stats store
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.olist.Warehouse.ColRange
    val dir = java.nio.file.Files.createTempDirectory("wh_csv_stats").toString
    val wh = new Warehouse(spark, dir, "csv")
    wh.save("t", Seq.range(0, 100).map(i => (i.toLong, s"a$i")).toDF("k", "v")
      .coalesce(1), clusterBy = Seq("k"))
    wh.append("t", Seq.range(1000, 1100).map(i => (i.toLong, s"b$i")).toDF("k", "v")
      .coalesce(1))
    val (read, total) = wh.scanFileCounts("t",
      Seq(ColRange("k", Some(1000L), Some(1099L))))
    assert(total == 2 && read == 1, s"csv stats skipping: $read/$total")
    assert(wh.scan("t", ColRange("k", Some(1000L), Some(1050L))).count() == 51)
  }

  test("append and appendStreamBatch record the schema of the table they create") {
    // csv doesn't self-describe: without the delta's schema in the
    // creating commit, the table reads back as strings
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wh_csv_born").toString
    val wh = new Warehouse(spark, dir, "csv")
    val delta = Seq((1L, 2.5)).toDF("k", "v")
    wh.append("a", delta)
    assert(wh.appendStreamBatch("s", delta, 0L))
    val fresh = new Warehouse(spark, dir, "csv")
    for (w <- Seq(wh, fresh); t <- Seq("a", "s")) {
      assert(w.table(t).schema.map(f => f.name -> f.dataType) ==
        delta.schema.map(f => f.name -> f.dataType), t)
      assert(w.table(t).as[(Long, Double)].collect().toSeq == Seq((1L, 2.5)), t)
    }
    // merge cannot create a table: it needs a partitioned one
    intercept[IllegalArgumentException](wh.merge("m", delta, Seq("k")))
    assert(!wh.hasTable("m"))
    val missing = intercept[IllegalArgumentException](wh.table("m"))
    assert(missing.getMessage.contains("no committed snapshot"), missing.getMessage)
  }
}
