package graft.olist

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end warehouse build from fixtures + every SURVEY §5 scenario:
  * dim hygiene, surrogate keys, fact semantics, OLTP-vs-DW report
  * equivalence, incremental idempotence, catalog ops.
  */
class OlistWarehouseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val src = OlistFixtures.sources(spark)
  private lazy val base = {
    val dir = java.nio.file.Files.createTempDirectory("olist_wh").toString
    val wh = new Warehouse(spark, dir)
    wh.build(src)
    (dir, wh)
  }
  private def wh = base._2

  test("product dim: header row filtered, distinct, keys contiguous from 1000") {
    val p = wh.table("product").orderBy("product_key").collect()
    val names = p.map(_.getAs[String]("product")).toSeq
    assert(!names.exists(_.equalsIgnoreCase("product_category_name_english")))
    assert(names.contains("car_accessories"), "new segment appended")
    val keys = p.map(_.getAs[Long]("product_key")).toSeq
    assert(keys == (1000L until (1000L + keys.size)).toSeq)
    assert(names.distinct.size == names.size)
  }

  test("location dim: duplicates collapsed, normalized") {
    val l = wh.table("location").collect()
    assert(l.count(r => r.getAs[Int]("zip") == 1001) == 1) // dup geoloc collapsed
    assert(l.forall(r => r.getAs[String]("city") == r.getAs[String]("city").toLowerCase))
  }

  test("orders fact: canceled + post-cutoff excluded, grain unique, CI city join held") {
    val f = wh.table("orders_fact")
    assert(f.filter(col("date_key") >= 20190101).count() == 0)
    assert(f.filter(col("date_key") === 20180612).count() == 0) // canceled o4
    assert(f.count() == f.select("date_key", "location_key", "product_key", "seller_id")
      .distinct().count())
    // seller_sp ('Sao Paulo') joined geolocation ('sao paulo') despite case
    assert(f.filter(col("seller_id") === "seller_sp").count() > 0)
  }

  test("conversions fact: negative-hours AVG truncates toward zero (T-SQL semantics)") {
    // -3h and -4h in ONE grain: avg -3.5 must truncate toward zero to
    // -3 (T-SQL integer division), NOT floor to -4 — the pre-delete
    // domain guard for the P7 avg<1 cleanup (SURVEY §7.4 #3)
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    import spark.implicits._
    val leads = Seq(
      ("m1", ts("2018-01-05 12:00:00"), "organic"),
      ("m2", ts("2018-01-05 12:00:00"), "organic"))
      .toDF("mql_id", "first_contact_date", "origin")
    val deals = Seq(
      ("m1", "s1", "seg", "lt", "bt", ts("2018-01-05 09:00:00")), // -3h
      ("m2", "s1", "seg", "lt", "bt", ts("2018-01-05 08:00:00"))) // -4h
      .toDF("mql_id", "seller_id", "business_segment", "lead_type",
        "business_type", "won_date")
    val sellers = Seq("s1").toDF("seller_id")
    val items = Seq("s1").toDF("seller_id")
    val fact = Facts.conversionsFact(leads, deals, sellers, items,
      Seq(("organic", 1L)).toDF("origin", "origin_key"),
      Seq(("lt", 1L)).toDF("lead_type", "lead_type_key"),
      Seq(("bt", 1L)).toDF("business_type", "business_type_key"),
      Seq(("seg", 1000L)).toDF("product", "product_key"),
      Seq((20180105, java.sql.Date.valueOf("2018-01-05")))
        .toDF("date_key", "date"))
    val rows = fact.select("avg_hrs_convert").as[Long].collect().toSeq
    assert(rows == Seq(-3L), s"expected toward-zero -3, got $rows")
  }

  test("conversions fact: T-SQL truncating avg, negative-duration grain deleted, null origin dropped") {
    val c = wh.table("conversions_fact").collect()
    // mql1's two deals (5h, 6h boundary crossings) in one grain → avg 5
    assert(c.exists(_.getAs[Long]("avg_hrs_convert") == 5L))
    // mql5's negative-duration grain removed by the avg<1 delete
    assert(c.forall(_.getAs[Long]("avg_hrs_convert") >= 1L))
  }

  test("report pair: top sellers by units, OLTP == DW") {
    val oltp = Reports.topSellersByUnitsOltp(src("orders"), src("order_items"),
      src("products"), src("category"), src("sellers"), 2018).collect()
    val dw = Reports.topSellersByUnitsDw(wh.table("orders_fact"),
      wh.table("time_period"), src("sellers"), 2018).collect()
    assert(oltp.toSeq == dw.toSeq, s"\noltp=${oltp.toSeq}\ndw=${dw.toSeq}")
  }

  test("report pair: top sellers by revenue, OLTP == DW") {
    val oltp = Reports.topSellersByRevenueOltp(src("orders"), src("order_items"),
      src("sellers"), 2018).collect()
    val dw = Reports.topSellersByRevenueDw(wh.table("orders_fact"),
      wh.table("time_period"), src("sellers"), 2018).collect()
    assert(oltp.toSeq == dw.toSeq, s"\noltp=${oltp.toSeq}\ndw=${dw.toSeq}")
  }

  test("report: fastest conversions runs on both shapes") {
    val oltp = Reports.fastestConversionsOltp(src("leads"), src("closed_deals"),
      src("sellers"), src("order_items")).collect()
    val dw = Reports.fastestConversionsDw(wh.table("conversions_fact"),
      wh.table("origin"), wh.table("time_period")).collect()
    assert(oltp.nonEmpty && dw.nonEmpty)
    // DW min-over-grains can only be ≤ the OLTP pooled average per group
    val dwMin = dw.map(_.getAs[Long]("avg_hrs_convert")).min
    val oltpMin = oltp.map(_.getAs[Long]("avg_hrs_convert")).min
    assert(dwMin <= oltpMin)
  }

  test("filtered time dim dynamically prunes the year-partitioned fact scan") {
    // the mechanism that lets the star probe scan 1/Nth of a 100 TB
    // fact: the partition column rides the join, so Catalyst plants a
    // dynamicpruning subquery on the fact scan fed by the filtered
    // (broadcast) dim — only matching year= files are read.
    // The dim filter is on `date`, NOT on year: a literal year filter
    // would propagate to the fact statically through the join
    // constraint (also good — but then there's nothing left for DPP
    // to do); a date-range filter implies the year only at runtime.
    val t = wh.table("time_period").alias("t")
      .filter(col("date").between("2018-06-01", "2018-06-30"))
    val f = wh.table("orders_fact").alias("f")
    val q = f.join(broadcast(t), col("f.date_key") === col("t.date_key") &&
        col("f.year") === col("t.year"))
      .groupBy(col("t.month")).agg(sum("units_sold").as("units"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), s"no dynamic partition pruning:\n$p")
    assert(q.collect().nonEmpty)
  }

  test("incremental load: fake-2019 scenario — append once, re-run is a no-op, J7 drops geo-less seller") {
    val before = wh.table("orders_fact").count()
    val appended = IncrementalLoad.run(wh, src, "2019-01-01", "2019-02-01")
    val newKeys = appended.select("date_key").collect().map(_.getInt(0)).sorted.toSeq
    // f1..f5 load; f6's seller has no geolocation → J7 inner join drops it
    assert(newKeys == Seq(20190101, 20190102, 20190103, 20190104, 20190105))
    val mid = wh.table("orders_fact").count()
    assert(mid == before + 5)
    val second = IncrementalLoad.run(wh, src, "2019-01-01", "2019-02-01")
    assert(second.count() == 0, "re-run must be a no-op (dead UPDATE path)")
    assert(wh.table("orders_fact").count() == mid)
  }

  test("upsert mode: late data REPLACES that date's rows; untouched partitions byte-identical") {
    // fresh warehouse so this test owns its state
    val dir = java.nio.file.Files.createTempDirectory("olist_upsert").toString
    val wh2 = new Warehouse(spark, dir)
    wh2.build(src)
    IncrementalLoad.run(wh2, src, "2019-01-01", "2019-02-01")
    val before = wh2.table("orders_fact")
      .filter(org.apache.spark.sql.functions.col("date_key") >= 20190101).count()
    assert(before == 5)
    // fingerprint every data file OUTSIDE the year=2019 partition
    def untouchedFiles(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir, "orders_fact")
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.toString.contains("year=2019"))
        .filterNot(_.getFileName.toString.startsWith("_")) // commit markers
        .map(p => root.relativize(p).toString ->
          (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toMap
    }
    val filesBefore = untouchedFiles()
    assert(filesBefore.nonEmpty)
    // re-running in upsert mode replaces (not duplicates, not drops)
    IncrementalLoad.runUpsert(wh2, src, "2019-01-01", "2019-02-01")
    val after = wh2.table("orders_fact")
      .filter(org.apache.spark.sql.functions.col("date_key") >= 20190101).count()
    assert(after == 5, "upsert must replace, not append duplicates")
    val total = wh2.table("orders_fact").count()
    // pre-2019 rows untouched
    assert(total == wh2.table("orders_fact")
      .select("date_key", "location_key", "product_key", "seller_id").distinct().count())
    // dynamic partition overwrite must NOT have rewritten other years:
    // same file names, sizes, and mtimes
    assert(untouchedFiles() == filesBefore,
      "files outside the affected year partition were rewritten")
  }

  test("compact: repeated appends collapse to one file per partition, rows intact") {
    val dir = java.nio.file.Files.createTempDirectory("olist_compact").toString
    val wh2 = new Warehouse(spark, dir)
    wh2.build(src)
    // accumulate small files the way daily increments do
    IncrementalLoad.run(wh2, src, "2019-01-01", "2019-02-01")
    val rows = wh2.table("orders_fact").count()
    def dataFiles(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "orders_fact"))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).toSeq
    }
    val before = dataFiles().size
    wh2.compact("orders_fact")
    assert(wh2.table("orders_fact").count() == rows, "compaction changed rows")
    // superseded files persist until vacuum (old-snapshot readers);
    // vacuum then leaves exactly the compacted layout
    wh2.vacuum("orders_fact")
    val byPartition = dataFiles()
      .groupBy(_.getParent.getFileName.toString)
    assert(byPartition.nonEmpty && byPartition.forall(_._2.size == 1),
      s"partitions not compacted to one file: ${byPartition.view.mapValues(_.size).toMap}")
    assert(dataFiles().size <= before)
    assert(wh2.table("orders_fact").count() == rows, "vacuum changed rows")
    // unpartitioned table compacts through the same manifest commit
    val convRows = wh2.table("conversions_fact").count()
    wh2.compact("conversions_fact")
    wh2.vacuum("conversions_fact")
    assert(wh2.table("conversions_fact").count() == convRows)
    import scala.jdk.CollectionConverters._
    // the shared _graft_stage PARENT is deliberately kept (deleting it
    // races a concurrent writer's mkdirs — see stageWrite); real
    // staging debris is anything INSIDE it after the writes settle
    val stageDir = java.nio.file.Paths.get(dir, "_graft_stage")
    val leftovers =
      if (!java.nio.file.Files.exists(stageDir)) Seq.empty[String]
      else java.nio.file.Files.list(stageDir)
        .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(leftovers.isEmpty, s"staging debris left behind: $leftovers")
  }

  test("snapshot isolation: a reader pinned before compaction sees the old snapshot, never partial") {
    val dir = java.nio.file.Files.createTempDirectory("olist_txn").toString
    val wh2 = new Warehouse(spark, dir)
    wh2.build(src)
    IncrementalLoad.run(wh2, src, "2019-01-01", "2019-02-01")
    val rows = wh2.table("orders_fact").count()
    // pin a reader to the current manifest version (resolved at
    // DataFrame creation, exactly what a long-running concurrent query
    // holds mid-compaction)
    val pinnedBeforeCompact = wh2.table("orders_fact")
    wh2.compact("orders_fact")
    assert(pinnedBeforeCompact.count() == rows,
      "pre-compaction reader lost rows mid-compaction")
    // same guarantee across a partition upsert: pinned reader keeps the
    // OLD values; a fresh read sees the new snapshot — never a mix
    val pinned2019 = wh2.table("orders_fact")
      .filter(org.apache.spark.sql.functions.col("date_key") >= 20190101)
    val before2019 = pinned2019.count()
    IncrementalLoad.runUpsert(wh2, src, "2019-01-01", "2019-02-01")
    assert(pinned2019.count() == before2019,
      "pre-upsert reader saw the upsert's partial state")
    assert(wh2.table("orders_fact").count() == rows)
    // and vacuum is what finally invalidates old snapshots (documented
    // retention contract)
    wh2.vacuum("orders_fact")
    assert(wh2.table("orders_fact").count() == rows)
  }

  test("time travel: tableAt reads any un-vacuumed committed version") {
    val dir = java.nio.file.Files.createTempDirectory("olist_tt").toString
    val wh2 = new Warehouse(spark, dir)
    wh2.build(src)
    val v1 = wh2.tableVersions("orders_fact").max
    val rowsV1 = wh2.table("orders_fact").count()
    IncrementalLoad.run(wh2, src, "2019-01-01", "2019-02-01")
    val v2 = wh2.tableVersions("orders_fact").max
    assert(v2 > v1, "append did not commit a new version")
    val rowsV2 = wh2.table("orders_fact").count()
    assert(rowsV2 == rowsV1 + 5)
    // as-of reads: the pre-append snapshot is still fully readable
    assert(wh2.tableAt("orders_fact", v1).count() == rowsV1)
    assert(wh2.tableAt("orders_fact", v2).count() == rowsV2)
    wh2.compact("orders_fact")
    // compaction commits a new version with identical rows
    val v3 = wh2.tableVersions("orders_fact").max
    assert(wh2.tableAt("orders_fact", v3).count() == rowsV2)
    assert(wh2.tableAt("orders_fact", v1).count() == rowsV1,
      "pre-compaction version unreadable before vacuum")
    // restore = publish an old version as the new head (append-only
    // history: the rolled-back-over versions stay readable)
    wh2.restore("orders_fact", v1)
    assert(wh2.table("orders_fact").count() == rowsV1, "restore did not roll back")
    assert(wh2.tableVersions("orders_fact").max > v3)
    assert(wh2.tableAt("orders_fact", v3).count() == rowsV2,
      "restore must not invalidate newer snapshots")
    wh2.restore("orders_fact", v3) // roll forward again for the vacuum checks
    // vacuum retires superseded versions: only the latest survives
    val head = wh2.tableVersions("orders_fact").max
    wh2.vacuum("orders_fact")
    assert(wh2.tableVersions("orders_fact") == Seq(head))
    intercept[IllegalArgumentException] { wh2.tableAt("orders_fact", v1) }
    assert(wh2.table("orders_fact").count() == rowsV2)
  }

  test("schema evolution: a delta with a new column widens the table; old rows read NULL") {
    import spark.implicits._
    Seq("parquet", "csv").foreach { fmt =>
      val dir = java.nio.file.Files.createTempDirectory(s"olist_evo_$fmt").toString
      val wh2 = new Warehouse(spark, dir, fmt)
      wh2.save("events_log", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      // the delta carries a NEW trailing column — no rewrite of old data
      wh2.append("events_log", Seq((3L, "c", 0.5)).toDF("id", "v", "score"))
      val t = wh2.table("events_log")
      assert(t.columns.toSeq == Seq("id", "v", "score"), s"[$fmt]")
      assert(t.count() == 3, s"[$fmt]")
      assert(t.filter(col("score").isNull).count() == 2, s"[$fmt] old rows must read NULL")
      assert(t.filter(col("id") === 3).select("score").head.getDouble(0) == 0.5, s"[$fmt]")
      // retype and drop are rejected loudly
      intercept[IllegalArgumentException] {
        wh2.append("events_log", Seq(("x", "c", 1.0)).toDF("id", "v", "score"))
      }
      intercept[IllegalArgumentException] {
        wh2.append("events_log", Seq((4L, "d")).toDF("id", "v"))
      }
      // a fresh instance over the store recovers the widened schema from meta
      val wh3 = new Warehouse(spark, dir, fmt)
      assert(wh3.table("events_log").columns.toSeq == Seq("id", "v", "score"), s"[$fmt]")
      assert(wh3.table("events_log").count() == 3, s"[$fmt]")
    }
  }

  test("exactly-once streaming append: replayed batches are skipped, mark survives compaction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("olist_stream").toString
    val wh2 = new Warehouse(spark, dir)
    wh2.save("clicks", Seq((0L, "seed")).toDF("id", "v"))
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(wh2.appendStreamBatch("clicks", b0, batchId = 0))
    assert(wh2.table("clicks").count() == 3)
    // at-least-once replay of the same micro-batch: must be a no-op
    assert(!wh2.appendStreamBatch("clicks", b0, batchId = 0))
    assert(wh2.table("clicks").count() == 3)
    assert(wh2.appendStreamBatch("clicks", Seq((3L, "c")).toDF("id", "v"), batchId = 1))
    assert(wh2.table("clicks").count() == 4)
    // the mark rides manifest metadata through a rewrite commit
    wh2.compact("clicks")
    assert(!wh2.appendStreamBatch("clicks", b0, batchId = 1),
      "compaction must not forget which batches landed")
    assert(wh2.table("clicks").count() == 4)
    // independent streams keep independent marks
    assert(wh2.appendStreamBatch("clicks", Seq((9L, "z")).toDF("id", "v"),
      batchId = 0, streamId = "other"))
    assert(wh2.table("clicks").count() == 5)
    // a batchId BELOW the mark = checkpoint reset: loud error, not a
    // silent forever-skip
    intercept[IllegalStateException] {
      wh2.appendStreamBatch("clicks", b0, batchId = 0)
    }
  }

  test("streamInto: a real Structured Streaming query lands rows exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("olist_sink").toString
    val wh2 = new Warehouse(spark, dir)
    wh2.save("live_events", Seq((0L, 0L)).toDF("event_id", "uid"))
    val mem = MemoryStream[(Long, Long)]
    val ck = java.nio.file.Files.createTempDirectory("olist_sink_ck").toString
    val q = wh2.streamInto("live_events",
      mem.toDF().toDF("event_id", "uid"), ck)
    try {
      mem.addData((1L, 10L), (2L, 10L))
      q.processAllAvailable()
      mem.addData((3L, 20L))
      q.processAllAvailable()
      val got = wh2.table("live_events").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(0L, 1L, 2L, 3L))
    } finally q.stop()
  }

  test("merge: matched keys replaced, new keys inserted, partition moves leave no stale copy") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("olist_merge").toString
    val wh2 = new Warehouse(spark, dir)
    wh2.save("kv",
      Seq((1L, 2017, 10.0), (2L, 2018, 20.0), (3L, 2018, 30.0), (4L, 2019, 40.0))
        .toDF("k", "year", "v"),
      partitionBy = Seq("year"))
    // fingerprint the untouched year=2017 partition's files
    def files2017() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "kv", "year=2017"))
        .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before2017 = files2017()
    // update k=2 in place; insert k=5; MOVE k=4 from 2019 to 2020
    wh2.merge("kv",
      Seq((2L, 2018, 21.0), (5L, 2019, 50.0), (4L, 2020, 41.0))
        .toDF("k", "year", "v"),
      keys = Seq("k"))
    // partition columns come back appended after data columns — access
    // by name, not position
    val got = wh2.table("kv").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Int]("year"), r.getAs[Double]("v"))).toSet
    assert(got == Set((1L, 2017, 10.0), (2L, 2018, 21.0), (3L, 2018, 30.0),
      (5L, 2019, 50.0), (4L, 2020, 41.0)), s"wrong merge result: $got")
    // the moved key left NO stale copy behind
    assert(wh2.table("kv").filter(col("k") === 4L).count() == 1)
    // untouched partition's files not rewritten
    assert(files2017() == before2017, "untouched partition was rewritten")
    // merging a delta that empties a partition removes it from the snapshot
    wh2.merge("kv", Seq((5L, 2020, 51.0)).toDF("k", "year", "v"), keys = Seq("k"))
    assert(wh2.table("kv").filter(col("year") === 2019).count() == 0,
      "emptied partition still visible")
    assert(wh2.table("kv").count() == 5)
    // merge on a key that is a partition column is rejected
    intercept[IllegalArgumentException] {
      wh2.merge("kv", Seq((9L, 2020, 0.0)).toDF("k", "year", "v"),
        keys = Seq("year"))
    }
    // duplicate-key deltas are rejected (Delta-MERGE contract), not
    // silently committed twice
    intercept[IllegalArgumentException] {
      wh2.merge("kv",
        Seq((7L, 2020, 1.0), (7L, 2021, 2.0)).toDF("k", "year", "v"),
        keys = Seq("k"))
    }
  }

  test("merge: null partition values match their hive default partition, no stale copy") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("olist_merge_null").toString
    val wh2 = new Warehouse(spark, dir)
    wh2.save("kvn",
      Seq((1L, Some(2018), 10.0), (2L, Option.empty[Int], 20.0))
        .toDF("k", "year", "v"),
      partitionBy = Seq("year"))
    // update the null-partition row in place
    wh2.merge("kvn", Seq((2L, Option.empty[Int], 21.0)).toDF("k", "year", "v"),
      keys = Seq("k"))
    val got = wh2.table("kvn").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"))).toSet
    assert(got == Set((1L, 10.0), (2L, 21.0)),
      s"null-partition merge left a stale or missing row: $got")
    assert(wh2.table("kvn").count() == 2)
    // string partition table: an EMPTY-string delta value aliases to the
    // hive default partition (it reads back as null) — the merge must
    // normalize it, not delete the default partition's unmatched rows
    val wh3 = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("olist_merge_empty").toString)
    wh3.save("kvs",
      Seq((1L, Option.empty[String], 10.0), (2L, Option.empty[String], 20.0))
        .toDF("k", "p", "v"),
      partitionBy = Seq("p"))
    wh3.merge("kvs", Seq((3L, "", 30.0)).toDF("k", "p", "v"), keys = Seq("k"))
    val got3 = wh3.table("kvs").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"))).toSet
    assert(got3 == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      s"empty-string partition merge lost default-partition rows: $got3")
  }

  test("clustered save: rows arrive sorted within every data file (row-group skipping)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("olist_clus").toString
    val wh2 = new Warehouse(spark, dir)
    val df = spark.range(100000).select(
      (col("id") * 7919 % 100000).as("k"), col("id").as("v"),
      (col("id") % 3).cast("int").as("year"))
    wh2.save("clus", df, partitionBy = Seq("year"), clusterBy = Seq("k"))
    assert(wh2.table("clus").count() == 100000)
    import scala.jdk.CollectionConverters._
    val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "clus"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.nonEmpty)
    def assertClustered(label: String): Unit = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "clus"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      assert(files.nonEmpty, label)
      files.foreach { f =>
        val ks = spark.read.parquet(f.toString).select("k")
          .collect().map(_.getLong(0)).toSeq
        assert(ks == ks.sorted, s"$label: file $f not clustered by k")
      }
    }
    assertClustered("after save")
    // clustering is TABLE layout: append and compact re-apply the sort
    wh2.append("clus", spark.range(1000).select(
      (col("id") * 31 % 1000 + 200000).as("k"), col("id").as("v"),
      lit(1).as("year")))
    wh2.compact("clus")
    wh2.vacuum("clus")
    assertClustered("after append+compact")
    assert(wh2.table("clus").count() == 101000)
  }

  test("catalog ops: database create, table registration, introspection, rename") {
    spark.sql("CREATE DATABASE IF NOT EXISTS olist_dw") // S9
    assert(spark.catalog.databaseExists("olist_dw"))
    assert(spark.catalog.tableExists("dw_orders_fact"))  // registered views
    val cols = spark.catalog.listColumns("dw_product").collect().map(_.name).toSet
    assert(cols == Set("product_key", "product"))        // S11 introspection
    // S10 rename: re-register under a new name (temp views)
    spark.table("dw_product").createOrReplaceTempView("dw_product_dim")
    spark.catalog.dropTempView("dw_product")
    assert(spark.catalog.tableExists("dw_product_dim"))
    assert(!spark.catalog.tableExists("dw_product"))
  }
}
