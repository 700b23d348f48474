package graft.olist

import graft.SparkTestSession
import graft.olist.Warehouse.ColRange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 table-format layers: per-file min/max stats + file skipping,
  * z-order clustering, the cross-process commit lock, and streaming
  * MERGE.
  */
class TableLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ----- per-file stats + skipping ----------------------------------

  test("scan: stats-pruned read skips files outside the range, result exact") {
    val dir = tmp("wh_stats")
    val wh = new Warehouse(spark, dir)
    // 8 range-partitioned slices of k → 8 files with disjoint k ranges
    val df = spark.range(80000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(8, col("k"))
    wh.save("t", df, clusterBy = Seq("k"))
    val (readAll, total) = wh.scanFileCounts("t", Nil)
    assert(total == 8 && readAll == 8)
    // a 1/8th slice should hit ~1 file, never all of them
    val (readFew, _) = wh.scanFileCounts("t",
      Seq(ColRange("k", lower = Some(10000L), upper = Some(14999L))))
    assert(readFew <= 2, s"expected ≤2 candidate files, got $readFew")
    val got = wh.scan("t", ColRange("k", Some(10000L), Some(14999L)))
      .agg(count(lit(1)), sum("v")).collect()(0)
    assert(got.getLong(0) == 5000)
    assert(got.getLong(1) == (10000L until 15000L).map(_ * 3).sum)
    // open-ended bound prunes too
    val (readHi, _) = wh.scanFileCounts("t",
      Seq(ColRange("k", lower = Some(75000L))))
    assert(readHi <= 2)
  }

  test("scan: appended batches carry their own stats; residual filter stays exact") {
    val dir = tmp("wh_stats_app")
    val wh = new Warehouse(spark, dir)
    import spark.implicits._
    wh.save("t", Seq.range(0, 100).map(i => (i.toLong, s"a$i")).toDF("k", "v")
      .coalesce(1), clusterBy = Seq("k"))
    wh.append("t", Seq.range(1000, 1100).map(i => (i.toLong, s"b$i")).toDF("k", "v")
      .coalesce(1))
    wh.append("t", Seq.range(2000, 2100).map(i => (i.toLong, s"c$i")).toDF("k", "v")
      .coalesce(1))
    val (read1, total) = wh.scanFileCounts("t",
      Seq(ColRange("k", Some(1000L), Some(1099L))))
    assert(total == 3 && read1 == 1, s"expected 1/3 files, got $read1/$total")
    assert(wh.scan("t", ColRange("k", Some(1000L), Some(1050L))).count() == 51)
    // stats survive compaction (recomputed for the rewritten files)
    wh.compact("t", filesPerPartition = 3)
    val (readC, totalC) = wh.scanFileCounts("t",
      Seq(ColRange("k", Some(0L), Some(99L))))
    assert(wh.scan("t", ColRange("k", Some(0L), Some(99L))).count() == 100)
    assert(readC <= totalC)
  }

  test("scan: string column stats prune; unknown column never prunes") {
    val dir = tmp("wh_stats_str")
    val wh = new Warehouse(spark, dir)
    import spark.implicits._
    wh.save("s", Seq("apple", "avocado", "banana").map(w => (w, 1)).toDF("w", "n")
      .coalesce(1), clusterBy = Seq("w"))
    wh.append("s", Seq("melon", "peach", "plum").map(w => (w, 1)).toDF("w", "n")
      .coalesce(1))
    val (read1, total) = wh.scanFileCounts("s",
      Seq(ColRange("w", Some("a"), Some("c"))))
    assert(total == 2 && read1 == 1)
    assert(wh.scan("s", ColRange("w", Some("a"), Some("c"))).count() == 3)
    // a column with no recorded stats keeps every file (safe direction)
    val (readN, _) = wh.scanFileCounts("s", Seq(ColRange("n", Some(0), Some(9))))
    assert(readN == 2)
  }

  // ----- z-order ----------------------------------------------------

  test("zorder: y-only predicate skips files; linear x-clustering cannot") {
    import spark.implicits._
    // 128×128 grid → both layouts write the same rows
    val grid = spark.range(128L * 128L).select(
      (col("id") % 128).as("x"), (col("id") / 128).cast("long").as("y"),
      col("id").as("v"))

    // pin the file count: at test scale AQE would (correctly) coalesce
    // the whole grid into one advisory-sized file and leave nothing to skip
    spark.conf.set("graft.layout.partitions", "16")
    val dirZ = tmp("wh_z")
    val whZ = new Warehouse(spark, dirZ)
    try whZ.save("g", grid, clusterBy = Seq("x", "y"), zorder = true)
    finally spark.conf.unset("graft.layout.partitions")

    val dirL = tmp("wh_l")
    val whL = new Warehouse(spark, dirL)
    whL.save("g", grid.repartitionByRange(16, col("x")), clusterBy = Seq("x"))

    val yRange = Seq(ColRange("y", Some(0L), Some(15L))) // 1/8th of y
    val (zRead, zTotal) = whZ.scanFileCounts("g", yRange)
    val (lRead, lTotal) = whL.scanFileCounts("g", yRange)
    assert(zTotal > 4, s"zorder should have written several files, got $zTotal")
    assert(lRead == lTotal, "x-sorted files all span the full y range")
    assert(zRead < zTotal / 2,
      s"zorder should skip most files on a y-only range: $zRead/$zTotal")

    // 2-D box prunes harder than either 1-D range, and the rows are exact
    val box = Seq(ColRange("x", Some(0L), Some(15L)), ColRange("y", Some(0L), Some(15L)))
    val (boxRead, _) = whZ.scanFileCounts("g", box)
    assert(boxRead <= zRead)
    val rows = whZ.scan("g", box: _*).collect()
    assert(rows.length == 16 * 16)
    assert(rows.map(_.getAs[Long]("v")).sorted.toSeq ==
      (for { y <- 0L until 16L; x <- 0L until 16L } yield y * 128 + x).sorted)
  }

  test("zorder: layout survives append and compact; restore rolls kind back") {
    import spark.implicits._
    spark.conf.set("graft.layout.partitions", "8")
    try zorderLifecycle()
    finally spark.conf.unset("graft.layout.partitions")
  }

  private def zorderLifecycle(): Unit = {
    val dir = tmp("wh_z2")
    val wh = new Warehouse(spark, dir)
    val pts = spark.range(4096).select((col("id") % 64).as("x"),
      (col("id") / 64).cast("long").as("y"), col("id").as("v"))
    wh.save("p", pts, clusterBy = Seq("x", "y"), zorder = true)
    val v1 = wh.tableVersions("p").max
    // a fresh instance recovers the zorder spec from the manifest
    val wh2 = new Warehouse(spark, dir)
    wh2.append("p", spark.range(4096, 4224).select((col("id") % 64).as("x"),
      (col("id") / 64 % 64).cast("long").as("y"), col("id").as("v")))
    wh2.compact("p", filesPerPartition = 8)
    assert(wh2.table("p").count() == 4224)
    val yOnly = Seq(ColRange("y", Some(0L), Some(7L)))
    val (r, t) = wh2.scanFileCounts("p", yOnly)
    assert(r < t, s"compacted zorder table should still skip: $r/$t")
    // restore to v1 brings the zorder kind back (exercises kind meta)
    wh2.restore("p", v1)
    assert(wh2.table("p").count() == 4096)
    // a write after restore still lays out z-ordered and skips
    wh2.append("p", spark.range(9000, 9128).select((col("id") % 64).as("x"),
      (col("id") / 64 % 64).cast("long").as("y"), col("id").as("v")))
    val (r2, t2) = wh2.scanFileCounts("p", yOnly)
    assert(r2 < t2)
  }

  test("zorder: rejected for a single column") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh_zerr"))
    intercept[IllegalArgumentException] {
      wh.save("bad", Seq((1, 2)).toDF("x", "y"), clusterBy = Seq("x"), zorder = true)
    }
    intercept[IllegalArgumentException] {
      graft.operators.ZOrder.zvalue(Seq((1, "a")).toDF("x", "s"), Seq("x", "s"))
    }
  }

  test("bloom file skipping: point lookup on a digest column reads only its file") {
    import spark.implicits._
    val dir = tmp("wh_bloom")
    val wh = new Warehouse(spark, dir)
    // size the sketch to the actual per-file cardinality so the
    // false-positive rate is negligible for the negative-lookup assert
    spark.conf.set("graft.bloom.items", "6000")
    try {
      // hash-partitioned digests: every file spans the whole value
      // space, so min/max stats are useless here — exactly the bloom case
      val df = spark.range(20000).select(
        md5(col("id").cast("string")).as("uid"), col("id").as("v"))
        .repartition(4, col("uid"))
      wh.save("b", df, bloomBy = Seq("uid"))
      def md5Hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
          .map("%02x".format(_)).mkString
      val present = md5Hex("123")
      val (read1, total) = wh.scanFileCounts("b",
        Seq(ColRange("uid", Some(present), Some(present))))
      assert(total == 4 && read1 == 1,
        s"point lookup should read exactly its hash file: $read1/$total")
      val row = wh.scan("b", ColRange("uid", Some(present), Some(present))).collect()
      assert(row.length == 1 && row(0).getAs[Long]("v") == 123L)
      // absent key: every sketch rejects — zero files read, zero rows
      val absent = md5Hex("never-written")
      val (read0, _) = wh.scanFileCounts("b",
        Seq(ColRange("uid", Some(absent), Some(absent))))
      assert(read0 == 0, s"absent key should read no files, got $read0")
      assert(wh.scan("b", ColRange("uid", Some(absent), Some(absent))).count() == 0)
      // blooms are per-write: appended files carry their own sketches
      wh.append("b", spark.range(20000, 21000).select(
        md5(col("id").cast("string")).as("uid"), col("id").as("v"))
        .repartition(1, col("uid")))
      val newKey = md5Hex("20500")
      val (readN, totalN) = wh.scanFileCounts("b",
        Seq(ColRange("uid", Some(newKey), Some(newKey))))
      assert(totalN == 5 && readN == 1, s"append lookup: $readN/$totalN")
      // a RANGE on the bloom column falls back to no pruning (safe)
      val (readR, _) = wh.scanFileCounts("b",
        Seq(ColRange("uid", Some("0"), Some("g"))))
      assert(readR == 5)
    } finally spark.conf.unset("graft.bloom.items")
  }

  test("olist build: orders_fact date_key clustering file-skips a year range") {
    val dir = tmp("wh_olist_skip")
    val wh = new Warehouse(spark, dir)
    wh.build(OlistFixtures.sources(spark))
    val r2018 = Seq(ColRange("date_key", Some(20180101), Some(20181231)))
    val (read, total) = wh.scanFileCounts("orders_fact", r2018)
    assert(total >= 2, s"expected multiple fact files, got $total")
    assert(read < total, s"date range should skip files: $read/$total")
    val viaScan = wh.scan("orders_fact", r2018.head).count()
    val viaFilter = wh.table("orders_fact")
      .filter(col("date_key").between(20180101, 20181231)).count()
    assert(viaScan == viaFilter && viaScan > 0)
    // the reference report through the pruned scan returns the same rows
    val sellers = OlistFixtures.sources(spark)("sellers")
    val pruned = Reports.topSellersByUnitsDwPruned(wh, sellers, 2018).collect().toSeq
    val full = Reports.topSellersByUnitsDw(wh.table("orders_fact"),
      wh.table("time_period"), sellers, 2018).collect().toSeq
    assert(pruned == full && pruned.nonEmpty)
  }

  // ----- cross-process commit lock ----------------------------------

  test("commit lock: two Warehouse instances racing appends lose nothing") {
    import spark.implicits._
    val dir = tmp("wh_lock")
    val whA = new Warehouse(spark, dir)
    val whB = new Warehouse(spark, dir) // separate instance = separate JVM-lock
    whA.save("t", Seq((0L, "seed")).toDF("k", "v").coalesce(1))
    val perWriter = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def run(wh: Warehouse, tag: String) = scala.concurrent.Future {
      (1 to perWriter).foreach { i =>
        wh.append("t", Seq((i.toLong, s"$tag$i")).toDF("k", "v").coalesce(1))
      }
    }
    val all = scala.concurrent.Future.sequence(Seq(run(whA, "a"), run(whB, "b")))
    scala.concurrent.Await.result(all, scala.concurrent.duration.Duration("300s"))
    pool.shutdown()
    // every commit landed: no lost update between the two writers
    assert(whA.table("t").count() == 1 + 2 * perWriter)
    assert(whA.tableVersions("t").size == 1 + 2 * perWriter)
  }

  test("commit lock: stale lock is taken over; held lock times out loudly") {
    import spark.implicits._
    val dir = tmp("wh_lock2")
    // staleMs far above any loaded-machine write stall: the live lock
    // below must DEADLINE, not be mistaken for a crashed writer (the
    // takeover case backdates its mtime 60 s, well past this too)
    val wh = new Warehouse(spark, dir, lockAcquireMs = 800, lockStaleMs = 45000)
    wh.save("t", Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val lock = java.nio.file.Paths.get(dir, "_graft_meta", "txn", "t", "_lock")
    // a crashed writer's lock: old mtime → taken over, append proceeds
    java.nio.file.Files.write(lock, "dead-beef".getBytes)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 60000))
    wh.append("t", Seq((2L, "b")).toDF("k", "v").coalesce(1))
    assert(wh.table("t").count() == 2)
    assert(!java.nio.file.Files.exists(lock), "released after takeover")
    // a LIVE lock (fresh mtime) blocks until the acquire deadline
    java.nio.file.Files.write(lock, "other-writer".getBytes)
    val ex = intercept[IllegalStateException] {
      wh.append("t", Seq((3L, "c")).toDF("k", "v").coalesce(1))
    }
    assert(ex.getMessage.contains("commit lock"))
    java.nio.file.Files.delete(lock)
    wh.append("t", Seq((3L, "c")).toDF("k", "v").coalesce(1))
    assert(wh.table("t").count() == 3)
  }

  test("history: every commit records its operation, time, and file count") {
    import spark.implicits._
    val dir = tmp("wh_hist")
    val wh = new Warehouse(spark, dir)
    wh.save("h", Seq((1L, 2020, "a")).toDF("k", "year", "v").coalesce(1),
      partitionBy = Seq("year"))
    wh.append("h", Seq((2L, 2021, "b")).toDF("k", "year", "v").coalesce(1))
    wh.merge("h", Seq((1L, 2020, "a2")).toDF("k", "year", "v"), keys = Seq("k"))
    wh.compact("h")
    wh.restore("h", 1)
    val hist = wh.history("h")
    assert(hist.map(_.version) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(hist.map(_.op) == Seq("save", "append", "merge", "compact", "restore"))
    assert(hist.forall(_.committedAt.nonEmpty))
    assert(hist.head.files == 1 && hist.last.files == 1)
    // streaming commits tag their own ops
    assert(wh.mergeStreamBatch("h",
      Seq((3L, 2021, "c")).toDF("k", "year", "v"), Seq("k"), batchId = 0))
    assert(wh.history("h").last.op == "stream-merge")
  }

  test("vacuum retention: kept versions stay readable, grace shields fresh files") {
    import spark.implicits._
    val dir = tmp("wh_vac")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, "a")).toDF("k", "v").coalesce(1))          // v1
    wh.save("t", Seq((2L, "b")).toDF("k", "v").coalesce(1))          // v2
    wh.save("t", Seq((3L, "c")).toDF("k", "v").coalesce(1))          // v3
    // keep the two newest snapshots: v2 must survive and stay readable
    wh.vacuum("t", graceMs = 0, keepVersions = 2)
    assert(wh.tableVersions("t") == Seq(2L, 3L))
    assert(wh.tableAt("t", 2).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(wh.table("t").collect().map(_.getLong(0)).toSeq == Seq(3L))
    intercept[IllegalArgumentException] { wh.tableAt("t", 1) }
    // a LONG grace window shields even unreferenced (fresh) files …
    wh.save("t", Seq((4L, "d")).toDF("k", "v").coalesce(1))          // v4
    wh.vacuum("t", graceMs = 3600000, keepVersions = 1)
    assert(wh.tableVersions("t") == Seq(4L))                          // manifests trimmed
    assert(wh.tableAt("t", 4).count() == 1)                           // current intact
    import scala.jdk.CollectionConverters._
    val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "t"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).size
    assert(dataFiles >= 2, "grace window must shield fresh unreferenced files")
    // … and zero grace reclaims them
    wh.vacuum("t")
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "t"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).size
    assert(after == 1)
    assert(wh.table("t").collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("tableChanges: manifest-diff change feed across appends; rewrites refuse") {
    import spark.implicits._
    val dir = tmp("wh_cdf")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))   // v1
    wh.append("t", Seq((3L, "c")).toDF("k", "v").coalesce(1))            // v2
    wh.append("t", Seq((4L, "d"), (5L, "e")).toDF("k", "v").coalesce(1)) // v3
    val delta = wh.tableChanges("t", 1, 3).collect().map(_.getLong(0)).sorted
    assert(delta.toSeq == Seq(3L, 4L, 5L))
    // from version 0 the bootstrap save counts as the first insert batch
    assert(wh.tableChanges("t", 0, 3).count() == 5)
    // empty range → empty frame, schema intact
    assert(wh.tableChanges("t", 3, 3).count() == 0)
    // a rewrite commit in range is refused loudly, not misreported
    wh.compact("t")                                                       // v4
    val ex = intercept[IllegalArgumentException] {
      wh.tableChanges("t", 3, 4).count()
    }
    assert(ex.getMessage.contains("rewrite"))
    // appends after the rewrite diff cleanly again
    wh.append("t", Seq((6L, "f")).toDF("k", "v").coalesce(1))            // v5
    assert(wh.tableChanges("t", 4, 5).collect().map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("tableChanges: a pure-DV delete refuses like a rewrite delete") {
    import spark.implicits._
    val dir = tmp("wh_cdf_dv")
    val wh = new Warehouse(spark, dir)
    wh.save("t", spark.range(1000).select(col("id").as("k"),
      (col("id") % 7).as("v")).coalesce(1))                            // v1
    wh.append("t", Seq((2000L, 1L)).toDF("k", "v").coalesce(1))        // v2
    // point delete takes the DV path: path set UNCHANGED, rows gone
    val res = wh.delete("t", col("k") === 3L)                          // v3
    assert(res.filesDv == 1 && res.filesRewritten == 0, res.toString)
    // the file-level feed must not report v3 as append-shaped — the
    // manifest paths are identical but the dv refs changed, and a
    // file diff cannot describe the deleted row
    val ex = intercept[IllegalArgumentException] {
      wh.tableChanges("t", 2, 3).count()
    }
    assert(ex.getMessage.contains("rewrite"), ex.getMessage)
    // the window BEFORE the delete still diffs cleanly, and a delete
    // AFTER toVersion cannot thin the historical batch (empty-DV pin)
    assert(wh.tableChanges("t", 1, 2).collect().map(_.getLong(0)).toSeq == Seq(2000L))
    assert(wh.tableChanges("t", 0, 2).count() == 1001)
    // the row-level feed DOES cross it, via change files
    val feed = wh.tableChangesRows("t", 2, 3)
    assert(feed.filter(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  /** Pin the classic rewrite path for surgery tests (DVs are covered
    * by their own tests below). */
  private def withoutDv[T](f: => T): T = {
    spark.conf.set("graft.dv.enabled", "false")
    try f finally spark.conf.unset("graft.dv.enabled")
  }

  test("delete: untouched files stay byte-identical; whole-match files drop without rewrite") {
    withoutDv {
    val dir = tmp("wh_del")
    val wh = new Warehouse(spark, dir)
    // 4 single-file partitions with disjoint k ranges (deterministic
    // layout: b = k / 1000 is the partition value), clustered on k so
    // the manifest stats admit pruning
    val df = spark.range(4000).select(col("id").as("k"), (col("id") % 7).as("v"),
      floor(col("id") / 1000).as("b")).repartition(col("b"))
    wh.save("t", df, partitionBy = Seq("b"), clusterBy = Seq("k"))
    val root = java.nio.file.Paths.get(dir, "t")
    def fileDigests(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          p.toString -> md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
        }.toMap
    }
    val before = fileDigests()
    // b=1 covers k in [1000,2000): delete its whole range (dropped
    // whole, no rewrite) plus a sliver of b=2 (rewritten); hint
    // bounds the probe to the two files via the manifest stats
    val res = wh.delete("t", col("k") >= 1000L && col("k") < 2100L,
      hint = Seq(Warehouse.ColRange("k", Some(1000L), Some(2099L))))
    assert(res.rowsDeleted == 1100, res.toString)
    assert(res.filesDropped == 1, res.toString)
    assert(res.filesRewritten == 1, res.toString)
    assert(res.filesUntouched == 2, res.toString)
    // the two untouched files are byte-identical on disk
    val after = fileDigests()
    val common = before.keySet intersect after.keySet
    assert(common.size >= 2, s"expected >=2 surviving original files, got $common")
    common.foreach(p => assert(before(p) == after(p), s"$p changed bytes"))
    // rows: exactly the predicate's complement
    val got = wh.table("t").agg(count(lit(1)), sum("k")).collect()(0)
    assert(got.getLong(0) == 2900)
    assert(got.getLong(1) == (0L until 4000L).filterNot(k => k >= 1000 && k < 2100).sum)
    // history carries the op stamp; the change feed refuses to cross it
    assert(wh.history("t").last.op == "delete")
    val ex = intercept[IllegalArgumentException] { wh.tableChanges("t", 1, 2).count() }
    assert(ex.getMessage.contains("rewrite"))
    // NULL-predicate rows are kept (SQL DELETE semantics)
    import spark.implicits._
    wh.save("n", Seq[(java.lang.Long, String)]((1L, "x"), (null, "y"), (3L, "z"))
      .toDF("k", "v").coalesce(1))
    val rn = wh.delete("n", col("k") > 0L)
    assert(rn.rowsDeleted == 2 && wh.table("n").count() == 1)
    assert(wh.table("n").select("v").as[String].collect().toSeq == Seq("y"))
    // no-match delete: no commit, version unchanged
    val v = wh.tableVersions("n").last
    val r0 = wh.delete("n", col("k") === 999L)
    assert(r0.rowsDeleted == 0 && wh.tableVersions("n").last == v)
    }
  }

  test("tableChangesRows: row-level feed crosses deletes and compactions faithfully") {
    import spark.implicits._
    val dir = tmp("wh_cdfrows")
    val wh = new Warehouse(spark, dir)
    wh.save("t", (1L to 6L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(2)) // v1
    wh.append("t", Seq((7L, "v7"), (8L, "v8")).toDF("k", "v").coalesce(1))    // v2
    val res = wh.delete("t", col("k") % 2 === 0)                              // v3
    assert(res.rowsDeleted == 4)
    wh.compact("t")                                                           // v4 (row-neutral)
    wh.append("t", Seq((9L, "v9")).toDF("k", "v").coalesce(1))                // v5
    val feed = wh.tableChangesRows("t", 0, 5)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    val inserts = feed.filter(_._2 == "insert").map(_._1).sorted
    val deletes = feed.filter(_._2 == "delete").map(_._1).sorted
    assert(inserts == (1L to 9L), s"inserts: $inserts")
    assert(deletes == Seq(2L, 4L, 6L, 8L), s"deletes: $deletes")
    // replaying the feed onto the empty v0 state reproduces the snapshot
    val replayed = inserts.diff(deletes).sorted
    val now = wh.table("t").select("k").as[Long].collect().sorted.toSeq
    assert(replayed == now)
    // MERGE records pre-image deletes + post-image inserts: upsert one
    // existing key (5) and one new key (20) on a partitioned table
    wh.save("m", Seq((1L, "a", 2018), (5L, "b", 2018), (9L, "c", 2019))
      .toDF("k", "v", "year").coalesce(1), partitionBy = Seq("year"))     // m v1
    wh.merge("m", Seq((5L, "B2", 2019), (20L, "new", 2019)).toDF("k", "v", "year"),
      keys = Seq("k"))                                                    // m v2
    val mfeed = wh.tableChangesRows("m", 1, 2)
      .select("k", "v", "_change_type").as[(Long, String, String)]
      .collect().toSeq.sorted
    assert(mfeed == Seq((5L, "B2", "insert"), (5L, "b", "delete"),
      (20L, "new", "insert")), s"merge feed: $mfeed")
    // replay check over the merge window too
    val mNow = wh.table("m").select("k", "v").as[(Long, String)]
      .collect().toSeq.sorted
    assert(mNow == Seq((1L, "a"), (5L, "B2"), (9L, "c"), (20L, "new")))
    // a window over only the compact emits nothing (rows unchanged)
    assert(wh.tableChangesRows("t", 3, 4).count() == 0)
    // windows crossing a TRUE rewrite still refuse
    wh.save("t", Seq((1L, "x")).toDF("k", "v"))                               // v6 save-over
    val ex = intercept[IllegalArgumentException] {
      wh.tableChangesRows("t", 5, 6).count()
    }
    assert(ex.getMessage.contains("rewrite"))
    // vacuum below the retention floor reclaims change files with their
    // manifests; the kept window still reads
    wh.vacuum("t", 0L, 2)
    assert(!new java.io.File(s"$dir/_graft_meta/changes/t/v3").exists())
  }

  test("recluster: re-layout turns an unskippable table into a skipping one") {
    import spark.implicits._
    val dir = tmp("wh_recl")
    val wh = new Warehouse(spark, dir)
    // unclustered hash-spread writes: no stats, nothing skips
    val df = spark.range(40000).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartition(8)
    wh.save("t", df)
    val range = Seq(ColRange("k", Some(0L), Some(4999L)))
    val (r0, t0) = wh.scanFileCounts("t", range)
    assert(t0 == 8 && r0 == 8, "no layout yet: every file is a candidate")
    spark.conf.set("graft.layout.partitions", "8")
    try wh.recluster("t", clusterBy = Seq("k"))
    finally spark.conf.unset("graft.layout.partitions")
    assert(wh.history("t").last.op == "recluster")
    val (r1, t1) = wh.scanFileCounts("t", range)
    assert(r1 < t1, s"reclustered range scan should skip: $r1/$t1")
    assert(wh.scan("t", range.head).count() == 5000)
    // the new layout sticks: an append sorts and carries stats too
    wh.append("t", Seq.range(100000, 100100).map(i => (i.toLong, i * 2L))
      .toDF("k", "v").coalesce(1))
    val (r2, t2) = wh.scanFileCounts("t",
      Seq(ColRange("k", Some(100000L), Some(100099L))))
    assert(r2 == 1, s"append after recluster should carry stats: $r2/$t2")
    assert(wh.table("t").count() == 40100)
  }

  test("consumeChanges: checkpointed incremental consumer sees each batch once") {
    import spark.implicits._
    val dir = tmp("wh_consume")
    val stateDir = tmp("wh_consume_state")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def consume() = wh.consumeChanges("t", stateDir) { df =>
      seen += df.collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(consume() == Some((0L, 1L)))           // bootstrap save
    assert(consume() == None)                     // nothing new
    wh.append("t", Seq((2L, "b")).toDF("k", "v").coalesce(1))
    wh.append("t", Seq((3L, "c")).toDF("k", "v").coalesce(1))
    assert(consume() == Some((1L, 3L)))           // both appends in one window
    assert(seen.toSeq == Seq(Seq(1L), Seq(2L, 3L)))
    // a fresh Warehouse instance (new process) resumes from the state file
    val wh2 = new Warehouse(spark, dir)
    wh2.append("t", Seq((4L, "d")).toDF("k", "v").coalesce(1))
    assert(wh2.consumeChanges("t", stateDir)(df =>
      seen += df.collect().map(_.getLong(0)).toSeq) == Some((3L, 4L)))
    assert(seen.last == Seq(4L))
    // a failing consumer does NOT advance the checkpoint: replay
    wh2.append("t", Seq((5L, "e")).toDF("k", "v").coalesce(1))
    intercept[RuntimeException] {
      wh2.consumeChanges("t", stateDir)(_ => throw new RuntimeException("boom"))
    }
    assert(wh2.consumeChanges("t", stateDir)(df =>
      seen += df.collect().map(_.getLong(0)).toSeq) == Some((4L, 5L)))
    assert(seen.last == Seq(5L))
  }

  test("zorder on a date column: day lanes interleave and prune") {
    import spark.implicits._
    spark.conf.set("graft.layout.partitions", "8")
    try {
      val dir = tmp("wh_zdate")
      val wh = new Warehouse(spark, dir)
      // 64 days × 64 ids
      val df = spark.range(4096).select(
        date_add(lit("2024-01-01").cast("date"),
          (col("id") % 64).cast("int")).as("d"),
        (col("id") / 64).cast("long").as("uid"), col("id").as("v"))
      wh.save("ev", df, clusterBy = Seq("d", "uid"), zorder = true)
      val week = Seq(ColRange("d",
        Some(java.sql.Date.valueOf("2024-01-01")),
        Some(java.sql.Date.valueOf("2024-01-08"))))
      val (r, t) = wh.scanFileCounts("ev", week)
      assert(t > 4 && r < t, s"date-lane zorder should prune: $r/$t")
      assert(wh.scan("ev", week.head).count() == 8 * 64)
    } finally spark.conf.unset("graft.layout.partitions")
  }

  // ----- streaming MERGE --------------------------------------------

  test("mergeStreamBatch: exactly-once upsert marks — replay skips, reset throws") {
    import spark.implicits._
    val dir = tmp("wh_smerge")
    val wh = new Warehouse(spark, dir)
    wh.save("acct", Seq((1L, 2020, 10.0), (2L, 2021, 20.0))
      .toDF("k", "year", "v"), partitionBy = Seq("year"))
    val b0 = Seq((1L, 2020, 11.0), (3L, 2021, 30.0)).toDF("k", "year", "v")
    assert(wh.mergeStreamBatch("acct", b0, Seq("k"), batchId = 0))
    // replay of the same batch: no-op, table unchanged
    val before = wh.table("acct").collect().toSet
    assert(!wh.mergeStreamBatch("acct", b0, Seq("k"), batchId = 0))
    assert(wh.table("acct").collect().toSet == before)
    // empty batch still advances the mark
    assert(wh.mergeStreamBatch("acct",
      Seq.empty[(Long, Int, Double)].toDF("k", "year", "v"), Seq("k"), batchId = 1))
    assert(!wh.mergeStreamBatch("acct",
      Seq.empty[(Long, Int, Double)].toDF("k", "year", "v"), Seq("k"), batchId = 1))
    // below the mark = checkpoint reset: loud failure
    intercept[IllegalStateException] {
      wh.mergeStreamBatch("acct", b0, Seq("k"), batchId = 0)
    }
    val rows = wh.table("acct").collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[Int]("year"), r.getAs[Double]("v"))).toSet
    assert(rows == Set((1L, 2020, 11.0), (2L, 2021, 20.0), (3L, 2021, 30.0)))
  }

  test("streamMergeInto: a live stream of upserts, key moving partitions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("wh_smerge2")
    val wh = new Warehouse(spark, dir)
    wh.save("state", Seq((1L, 2020, "init")).toDF("k", "year", "v"),
      partitionBy = Seq("year"))
    val source = MemoryStream[(Long, Int, String)]
    val q = wh.streamMergeInto("state",
      source.toDF().toDF("k", "year", "v"), Seq("k"),
      checkpoint = tmp("wh_smerge2_ckpt"))
    try {
      source.addData((1L, 2020, "updated"), (2L, 2021, "new"))
      q.processAllAvailable()
      // key 1 moves partition 2020 → 2022: old partition must drop it
      source.addData((1L, 2022, "moved"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = wh.table("state").collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[Int]("year"), r.getAs[String]("v"))).toSet
    assert(rows == Set((1L, 2022, "moved"), (2L, 2021, "new")))
  }

  test("update: file surgery, pre-image SET semantics, feed replays it") {
    withoutDv {
    import spark.implicits._
    val dir = tmp("wh_upd")
    val wh = new Warehouse(spark, dir)
    val df = spark.range(4000).select(col("id").as("k"), (col("id") % 7).as("v"),
      floor(col("id") / 1000).as("b")).repartition(col("b"))
    wh.save("t", df, partitionBy = Seq("b"), clusterBy = Seq("k"))          // v1
    val root = java.nio.file.Paths.get(dir, "t")
    def fileDigests(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          p.toString -> md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
        }.toMap
    }
    val before = fileDigests()
    // all of b=1 plus a sliver of b=2 match → exactly 2 files rewritten;
    // the stats hint keeps the probe off the other two
    val res = wh.update("t", col("k") >= 1000L && col("k") < 2100L,
      Map("v" -> (col("v") + 100L)),
      hint = Seq(Warehouse.ColRange("k", Some(1000L), Some(2099L))))       // v2
    assert(res.rowsUpdated == 1100, res.toString)
    assert(res.filesRewritten == 2, res.toString)
    assert(res.filesUntouched == 2, res.toString)
    val after = fileDigests()
    val common = before.keySet intersect after.keySet
    assert(common.size >= 2, s"expected >=2 surviving original files, got $common")
    common.foreach(p => assert(before(p) == after(p), s"$p changed bytes"))
    // values: matched rows shifted by exactly +100, count unchanged
    val got = wh.table("t").agg(count(lit(1)), sum("v")).collect()(0)
    assert(got.getLong(0) == 4000)
    assert(got.getLong(1) == (0L until 4000L).map(_ % 7).sum + 100L * 1100)
    assert(wh.history("t").last.op == "update")
    // row-level feed: pre-images as deletes, post-images as inserts
    val feed = wh.tableChangesRows("t", 1, 2)
      .select("k", "v", "_change_type").as[(Long, Long, String)]
      .collect().toSeq
    assert(feed.count(_._3 == "delete") == 1100)
    assert(feed.count(_._3 == "insert") == 1100)
    assert(feed.find(r => r._1 == 1000L && r._3 == "delete").get._2 == 1000L % 7)
    assert(feed.find(r => r._1 == 1000L && r._3 == "insert").get._2 == 1000L % 7 + 100)
    // replaying the whole feed from v0 reproduces the snapshot multiset
    val replay = wh.tableChangesRows("t", 0, 2)
    val applied = replay.filter(col("_change_type") === "insert")
      .select("k", "v").exceptAll(
        replay.filter(col("_change_type") === "delete").select("k", "v"))
    assert(applied.exceptAll(wh.table("t").select("k", "v")).count() == 0)
    assert(wh.table("t").select("k", "v").exceptAll(applied).count() == 0)
    // the file-level feed refuses to cross the rewrite
    val ex = intercept[IllegalArgumentException] { wh.tableChanges("t", 1, 2).count() }
    assert(ex.getMessage.contains("rewrite"))
    // SET a=b, b=a swaps: every assignment reads the PRE-image
    wh.save("s", Seq((1L, 10L, 20L)).toDF("k", "a", "b").coalesce(1))
    wh.update("s", lit(true), Map("a" -> col("b"), "b" -> col("a")))
    val s = wh.table("s").select("a", "b").as[(Long, Long)].collect()(0)
    assert(s == ((20L, 10L)))
    // values cast to the declared column type (schema never changes)
    wh.update("s", lit(true), Map("a" -> lit(3.9)))
    assert(wh.table("s").schema("a").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(wh.table("s").select("a").as[Long].collect()(0) == 3L)
    // NULL-predicate rows untouched; unknown column refused; no-match = no commit
    wh.save("n", Seq[(java.lang.Long, String)]((1L, "x"), (null, "y"))
      .toDF("k", "v").coalesce(1))
    wh.update("n", col("k") > 0L, Map("v" -> lit("hit")))
    assert(wh.table("n").orderBy("v").select("v").as[String].collect().toSeq ==
      Seq("hit", "y"))
    intercept[IllegalArgumentException] {
      wh.update("n", lit(true), Map("nope" -> lit(1)))
    }
    val ver = wh.tableVersions("n").last
    val r0 = wh.update("n", col("k") === 999L, Map("v" -> lit("never")))
    assert(r0.rowsUpdated == 0 && wh.tableVersions("n").last == ver)
    }
  }

  test("countRows: COUNT(*) from manifest metadata across the write lifecycle") {
    import spark.implicits._
    val dir = tmp("wh_cnt")
    val wh = new Warehouse(spark, dir)
    wh.save("t", spark.range(1000).toDF("k").coalesce(3))
    assert(wh.countRows("t").contains(1000L))
    wh.append("t", spark.range(1000, 1500).toDF("k").coalesce(2))
    assert(wh.countRows("t").contains(1500L))
    wh.delete("t", col("k") < 100L)
    assert(wh.countRows("t").contains(1400L))
    wh.update("t", col("k") === 200L, Map("k" -> lit(9999L)))
    assert(wh.countRows("t").contains(1400L))
    wh.compact("t")
    assert(wh.countRows("t").contains(1400L))
    // the metadata answer always equals the scan answer
    assert(wh.countRows("t").contains(wh.table("t").count()))
    // a shallow clone inherits the counts with the stats it references
    wh.cloneTable("t", "t2")
    assert(wh.countRows("t2").contains(1400L))
  }

  test("derivedRanges: predicate conjuncts become pruning bounds, only provable ones") {
    import org.apache.spark.sql.types._
    val wh = new Warehouse(spark, tmp("wh_dr"))
    val sc = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("a", LongType),
      StructField("b", LongType), StructField("d", DateType)))
    val r = wh.derivedRanges(col("k") >= 5L && col("k") < 10L &&
      col("v") === "x" && (col("a") > 1L || col("b") < 2L), sc)
    assert(r.contains(ColRange("k", Some(5L), None)))
    assert(r.contains(ColRange("k", None, Some(10L))))
    assert(r.contains(ColRange("v", Some("x"), Some("x"))))
    // a disjunction implies NO per-column constraint: must not prune
    assert(!r.exists(c => c.column == "a" || c.column == "b"))
    // literal-on-the-left comparisons flip correctly
    assert(wh.derivedRanges(lit(7L) > col("k"), sc) ==
      Seq(ColRange("k", None, Some(7L))))
    assert(wh.derivedRanges(lit(7L) <= col("k"), sc) ==
      Seq(ColRange("k", Some(7L), None)))
    // opaque predicates (function of a column) derive nothing
    assert(wh.derivedRanges(col("k") % 2 === 0L, sc).isEmpty)
    // LOSSY coercions derive nothing: Spark evaluates `k = '7'` as
    // 7L = 7L (TRUE) but the stats/bloom probe would compare the string
    // '7' under the column's type — pruning on it could skip files that
    // hold matching rows. Mismatched literal type → no range.
    assert(wh.derivedRanges(col("k") === "7", sc).isEmpty)
    assert(wh.derivedRanges(col("d") > "2020-1-1", sc).isEmpty)
    assert(wh.derivedRanges(col("v") === 42L, sc).isEmpty)
    // ...but value-PRESERVING widening derives: an Int literal on a
    // Long column hashes and compares identically after the upcast —
    // the lane every SQL-text predicate lives in (the parser types 42
    // as INT regardless of the column)
    assert(wh.derivedRanges(col("k") === 7, sc) ==
      Seq(ColRange("k", Some(7L), Some(7L))))
    // unknown column (not in the schema) derives nothing
    assert(wh.derivedRanges(col("zz") === 1L, sc).isEmpty)
    // exact-type matches still derive
    assert(wh.derivedRanges(
      col("d") === java.sql.Date.valueOf("2020-01-01"), sc).nonEmpty)
  }

  test("merge: the matched-key probe opens only stat-admitting files") {
    import spark.implicits._
    val dir = tmp("wh_merge_probe")
    val wh = new Warehouse(spark, dir)
    // 4 single-file partitions with disjoint k ranges, clustered on k
    val df = spark.range(4000).select(col("id").as("k"), (col("id") % 7).as("v"),
      floor(col("id") / 1000).as("b")).repartition(col("b"))
    wh.save("t", df, partitionBy = Seq("b"), clusterBy = Seq("k"))
    val files = wh.describeDetail("t").toMap.apply("numFiles").toInt
    assert(files == 4)
    // a CDC batch touching two keys in b=2's range: the probe admits
    // exactly that one file
    val delta = Seq((2500L, 99L, 2L), (2501L, 98L, 2L)).toDF("k", "v", "b")
    val cands = wh.mergeProbeCandidates(
      wh.currentManifestFiles("t"), wh.table("t").schema, delta, Seq("k"))
    assert(cands.size == 1 && cands.head.contains("b=2"), cands.toString)
    // a wide delta (keys spanning two files' ranges) admits both, not all
    val wide = Seq((500L, 1L, 0L), (3500L, 1L, 3L)).toDF("k", "v", "b")
    val wcands = wh.mergeProbeCandidates(
      wh.currentManifestFiles("t"), wh.table("t").schema, wide, Seq("k"))
    assert(wcands.size <= 4 && wcands.exists(_.contains("b=0")) &&
      wcands.exists(_.contains("b=3")), wcands.toString)
    // and the merge itself stays correct end-to-end: replaced keys,
    // untouched partitions byte-identical
    val before = dataDigests(dir, "t")
    wh.merge("t", delta, Seq("k"))
    val after = dataDigests(dir, "t")
    (before.keySet intersect after.keySet)
      .filterNot(_.contains("b=2"))
      .foreach(p => assert(before(p) == after(p), s"$p changed bytes"))
    assert(wh.table("t").count() == 4000)
    assert(wh.table("t").filter(col("k") === 2500L).select("v")
      .collect()(0).getLong(0) == 99L)
  }

  test("derivedRanges/derivedInSets: SQL-text predicates (the expr lane) derive too") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.expr
    val wh = new Warehouse(spark, tmp("wh_dr_sql"))
    val sc = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    // the SQL DELETE/UPDATE surface builds its predicate via expr():
    // the parsed catalyst tree must yield the same provable bounds
    val r = wh.derivedRanges(expr("k >= 5 AND k < 10 AND v = 'x'"), sc)
    assert(r.contains(ColRange("k", Some(5L), None)), r.toString)
    assert(r.contains(ColRange("k", None, Some(10L))), r.toString)
    assert(r.contains(ColRange("v", Some("x"), Some("x"))), r.toString)
    // IN lists and OR-of-equalities from SQL text
    assert(wh.derivedInSets(expr("k IN (3, 7)"), sc) ==
      Seq(("k", Seq(3L, 7L))))
    assert(wh.derivedInSets(expr("k = 3 OR k = 7"), sc) ==
      Seq(("k", Seq(3L, 7L))))
    // lossy coercion still refuses through the SQL lane
    assert(wh.derivedRanges(expr("k = '7'"), sc).isEmpty)
    assert(wh.derivedInSets(expr("k IN ('3', '7')"), sc).isEmpty)
    // opaque terms contribute nothing, conjuncts beside them still do
    assert(wh.derivedRanges(expr("k % 2 = 0 AND k >= 5"), sc) ==
      Seq(ColRange("k", Some(5L), None)))
  }

  test("manifest log: commit bytes are O(touched files), not O(table files)") {
    import spark.implicits._
    val dir = tmp("wh_log")
    val wh = new Warehouse(spark, dir, checkpointEvery = 5)
    wh.save("t", spark.range(1000).toDF("k").repartition(8)) // v1: 8 files
    (1 to 7).foreach { i =>                                  // v2..v8: 1 file each
      wh.append("t", Seq(1000L + i).toDF("k").coalesce(1))
    }
    val txn = new java.io.File(s"$dir/_graft_meta/txn/t")
    def size(n: String): Long = {
      val f = new java.io.File(txn, n); assert(f.exists(), s"missing $n"); f.length
    }
    def lines(n: String): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(
        new java.io.File(txn, n).toPath)).split("\n").toSeq
    // v1 and v5 are full checkpoints; every other version is a delta
    assert(size("v1.manifest") > 0 && size("v5.manifest") > 0)
    (2L to 8L).filter(_ != 5L).foreach { v =>
      assert(new java.io.File(txn, s"v$v.delta").exists(), s"v$v.delta")
      assert(!new java.io.File(txn, s"v$v.manifest").exists(), s"v$v.manifest")
    }
    // a one-file append's commit record names exactly ONE file — commit
    // bytes ride the delta, not the snapshot
    val d8 = lines("v8.delta")
    assert(d8.count(_.startsWith("+")) == 1, d8)
    assert(!d8.exists(_.startsWith("-")))
    assert(size("v8.delta") < size("v5.manifest"))
    // replayed state is exact at every version
    assert(wh.table("t").count() == 1007)
    assert(wh.tableAt("t", 3).count() == 1002)
    assert(wh.tableAt("t", 5).count() == 1004)
    assert(wh.countRows("t").contains(1007L))
    // a delete's record carries its removes/adds, not the survivors
    wh.delete("t", col("k") === 1001L) // v9: drops v2's whole file
    val d9 = lines("v9.delta")
    assert(d9.count(_.startsWith("-")) == 1, d9)
    assert(d9.count(_.startsWith("+")) == 0, d9)
    assert(wh.table("t").count() == 1006)
    assert(wh.history("t").size == 9)
    assert(wh.history("t").last.op == "delete")
    // vacuum with the floor on a DELTA version materializes a full
    // checkpoint there so every kept version stays resolvable
    wh.vacuum("t", 0L, keepVersions = 2)
    assert(wh.tableVersions("t") == Seq(8L, 9L))
    assert(new java.io.File(txn, "v8.manifest").exists())
    assert(wh.tableAt("t", 8).count() == 1007)
    assert(wh.table("t").count() == 1006)
    // and the log keeps working past the sweep
    wh.append("t", Seq(9999L).toDF("k").coalesce(1)) // v10: checkpoint
    assert(new java.io.File(txn, "v10.manifest").exists())
    assert(wh.table("t").count() == 1007)
  }

  test("manifest log at depth: 60 commits, checkpoint cadence, vacuum, continue") {
    import spark.implicits._
    val dir = tmp("wh_deep")
    val wh = new Warehouse(spark, dir, checkpointEvery = 16)
    wh.save("t", Seq(1L).toDF("k").coalesce(1))                 // v1
    (2L to 60L).foreach(i =>
      wh.append("t", Seq(i).toDF("k").coalesce(1)))             // v2..v60
    assert(wh.table("t").count() == 60)
    assert(wh.countRows("t").contains(60L))
    val txn = new java.io.File(s"$dir/_graft_meta/txn/t")
    def names = txn.list.toSet
    // checkpoints exactly on cadence: v1, v16, v32, v48; deltas elsewhere
    assert(Seq(1, 16, 32, 48).forall(v => names.contains(s"v$v.manifest")))
    assert((2 to 60).filterNot(Seq(16, 32, 48).contains(_))
      .forall(v => !names.contains(s"v$v.manifest")), names.toString)
    // any version replays exactly (checkpoint + bounded delta tail)
    Seq(1L, 15L, 16L, 17L, 47L, 60L).foreach(v =>
      assert(wh.tableAt("t", v).count() == v, s"v$v"))
    // retention sweep: floor v56 (a delta) gains a materialized
    // checkpoint; everything below dies; kept versions stay readable
    wh.vacuum("t", 0L, keepVersions = 5)
    assert(wh.tableVersions("t") == (56L to 60L))
    assert(names.contains("v56.manifest"))
    Seq(56L, 60L).foreach(v => assert(wh.tableAt("t", v).count() == v))
    // and the log keeps appending + checkpointing past the sweep
    (61L to 64L).foreach(i =>
      wh.append("t", Seq(i).toDF("k").coalesce(1)))
    assert(names.contains("v64.manifest")) // 64 = 4×16, on cadence
    assert(wh.table("t").count() == 64)
    assert(wh.history("t").size == 9)      // 56..64
  }

  test("head cache: a second instance's commit is visible to the first immediately") {
    import spark.implicits._
    val dir = tmp("wh_xvis")
    val wh1 = new Warehouse(spark, dir)
    val wh2 = new Warehouse(spark, dir)
    wh1.save("t", Seq(1L, 2L).toDF("k").coalesce(1))
    assert(wh1.table("t").count() == 2) // wh1 caches head v1
    wh2.append("t", Seq(3L).toDF("k").coalesce(1)) // external commit v2
    // wh1's next read must see v2 — the version+1 existence probe
    // invalidates its cached head without any directory listing
    assert(wh1.table("t").select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    assert(wh1.countRows("t").contains(3L))
  }

  test("compactWhere: only matching partitions rewritten, others byte-identical") {
    import spark.implicits._
    val dir = tmp("wh_cw")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("t", Seq((0L, 2020)).toDF("k", "year").repartition(col("year")),
      partitionBy = Seq("year"))
    (1L to 4L).foreach(i => wh.append("t", Seq((i, 2020)).toDF("k", "year")))
    (10L to 11L).foreach(i => wh.append("t", Seq((i, 2021)).toDF("k", "year")))
    def filesOf(year: Int): Set[String] = wh.table("t")
      .filter(col("year") === year).select(input_file_name())
      .as[String].distinct().collect().toSet
    assert(filesOf(2020).size == 5 && filesOf(2021).size == 2)
    val before2021 = filesOf(2021)
    val res = wh.compactWhere("t", col("year") === 2020)
    assert(res.filesCompacted == 5 && res.filesWritten == 1, res)
    // 2020 collapsed to one file; 2021's files are the SAME paths
    assert(filesOf(2020).size == 1)
    assert(filesOf(2021) == before2021, "untouched partition was rewritten")
    assert(wh.table("t").select("k").as[Long].collect().toSet ==
      (0L to 4L).toSet ++ Set(10L, 11L))
    // a predicate naming a DATA column refuses before any I/O
    intercept[org.apache.spark.sql.AnalysisException](
      wh.compactWhere("t", col("k") > 0))
    // no-match predicate commits nothing
    val v = wh.tableVersions("t").last
    assert(wh.compactWhere("t", col("year") === 1999).filesCompacted == 0)
    assert(wh.tableVersions("t").last == v)
    // SQL surface drives the same path
    val row = spark.sql("OPTIMIZE t WHERE year = 2021").collect()(0)
    assert(row.getAs[Long]("files_compacted") == 2L)
    assert(filesOf(2021).size == 1)
  }

  test("schema evolution: rename -> append -> time-travel; drop tombstones") {
    import spark.implicits._
    val dir = tmp("wh_coln")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("t", Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("k", "label", "score"))                       // v1
    wh.renameColumn("t", "label", "tag")                  // v2 (metadata-only)
    assert(wh.table("t").columns.toSeq == Seq("k", "tag", "score"))
    assert(wh.table("t").filter(col("tag") === "a").count() == 1)
    // append AFTER the rename: the delta speaks the new name, the file
    // on disk keeps the frozen physical name
    wh.append("t", Seq((3L, "c", 30.0)).toDF("k", "tag", "score")) // v3
    assert(wh.table("t").select("k", "tag").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel is version-pinned: v1 still shows the OLD name
    assert(wh.tableAt("t", 1).columns.toSeq == Seq("k", "label", "score"))
    assert(wh.tableAt("t", 1).filter(col("label") === "b").count() == 1)
    assert(wh.tableAt("t", 3).columns.toSeq == Seq("k", "tag", "score"))
    // delete/update work through the mapping (predicate on the NEW name)
    assert(wh.delete("t", col("tag") === "c").rowsDeleted == 1)    // v4
    wh.update("t", col("tag") === "a", Map("score" -> lit(11.0)))  // v5
    assert(wh.table("t").filter(col("k") === 1L)
      .select("score").as[Double].collect()(0) == 11.0)
    // drop is logical; the physical tombstone blocks re-adding the name
    wh.dropColumn("t", "score")                           // v6
    assert(wh.table("t").columns.toSeq == Seq("k", "tag"))
    val shadow = intercept[IllegalArgumentException](
      wh.append("t", Seq((9L, "z", 99.9)).toDF("k", "tag", "score")))
    assert(shadow.getMessage.contains("physical"))
    // rename to a tombstoned physical name is refused too
    assert(intercept[IllegalArgumentException](
      wh.renameColumn("t", "tag", "score")).getMessage.contains("physical"))
    // restore rolls the NAMES back with the data
    wh.restore("t", 1)                                    // v7
    assert(wh.table("t").columns.toSeq == Seq("k", "label", "score"))
    assert(wh.table("t").count() == 2)
    // SQL surface drives the same paths
    spark.sql("ALTER TABLE t RENAME COLUMN label TO tag2")
    assert(wh.table("t").columns.contains("tag2"))
    spark.sql("ALTER TABLE t DROP COLUMN score")
    assert(wh.table("t").columns.toSeq == Seq("k", "tag2"))
  }

  test("schema evolution: type widening is metadata-only, old files promote on read") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh_widen"))
    wh.save("t", Seq((1, 1.5f), (2, 2.5f)).toDF("k", "v"))   // v1: int, float
    // explicit widen: no rewrite, just a schema commit
    wh.widenColumn("t", "k", LongType)                        // v2
    wh.widenColumn("t", "v", DoubleType)                      // v3
    assert(wh.table("t").schema("k").dataType == LongType)
    assert(wh.table("t").schema("v").dataType == DoubleType)
    // old narrow files read fine under the widened schema
    assert(wh.table("t").select("k").as[Long].collect().toSet == Set(1L, 2L))
    // a delta wider than the PRE-widen type now fits
    wh.append("t", Seq((5000000000L, 9.25)).toDF("k", "v"))   // v4
    // a NARROW delta upcasts into the widened schema
    wh.append("t", Seq((7, 0.5f)).toDF("k", "v"))             // v5
    assert(wh.table("t").select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 5000000000L, 7L))
    // time travel is version-pinned: v1 still reads with the narrow types
    assert(wh.tableAt("t", 1).schema("k").dataType == IntegerType)
    assert(wh.tableAt("t", 1).count() == 2)
    // append-driven widening: a wider delta widens the schema by itself
    val wh2 = new Warehouse(spark, tmp("wh_widen2")).enableSql()
    wh2.save("u", Seq((1, 10L)).toDF("a", "b"))
    wh2.append("u", Seq((5000000000L, 20L)).toDF("a", "b"))
    assert(wh2.table("u").schema("a").dataType == LongType)
    // SQL surface widens too
    wh2.save("w", Seq((1, 2.5f)).toDF("a", "b"))
    spark.sql("ALTER TABLE w ALTER COLUMN b TYPE DOUBLE")
    assert(wh2.table("w").schema("b").dataType == DoubleType)
    assert(wh2.table("u").select("a").as[Long].collect().toSet ==
      Set(1L, 5000000000L))
    // refusals: lossy retype, layout column, non-numeric
    intercept[IllegalArgumentException](
      wh.widenColumn("t", "k", IntegerType)) // narrowing
    val wh3 = new Warehouse(spark, tmp("wh_widen3"))
    wh3.save("c", Seq((1, 2)).toDF("k", "v"), clusterBy = Seq("k"))
    intercept[IllegalArgumentException](
      wh3.widenColumn("c", "k", LongType))   // cluster col
    intercept[IllegalArgumentException](     // widened delta on a cluster col
      wh3.append("c", Seq((5000000000L, 3)).toDF("k", "v")))
  }

  test("schema evolution refusals: layout and check columns keep their names") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh_colref"))
    wh.save("t", Seq((1L, 2020, "x", 5.0)).toDF("k", "year", "v", "s")
      .repartition(col("year")),
      partitionBy = Seq("year"), clusterBy = Seq("k"))
    wh.addCheck("t", "s_pos", "s >= 0")
    assert(intercept[IllegalArgumentException](
      wh.renameColumn("t", "year", "yr")).getMessage.contains("partition"))
    assert(intercept[IllegalArgumentException](
      wh.dropColumn("t", "k")).getMessage.contains("cluster"))
    assert(intercept[IllegalArgumentException](
      wh.renameColumn("t", "s", "s2")).getMessage.contains("check"))
    wh.dropCheck("t", "s_pos")
    wh.renameColumn("t", "s", "s2") // allowed once the check is gone
    assert(wh.table("t").columns.contains("s2"))
  }

  test("delete with a coerced literal predicate removes every matching row") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh_coerce"))
    // cluster + bloom on k so a (wrong) derived range would have stats
    // and a sketch to prune against — the silent-survivor setup
    wh.save("t", spark.range(0, 1000).toDF("k")
        .withColumn("v", col("k").cast("string")).repartition(4),
      clusterBy = Seq("k"), bloomBy = Seq("k"))
    // '042' coerces to 42L in Spark's comparison; lexicographic stats or
    // an exact-string bloom probe would never admit it
    val res = wh.delete("t", col("k") === "042")
    assert(res.rowsDeleted == 1L, res)
    assert(wh.table("t").filter(col("k") === 42L).count() == 0)
    assert(wh.table("t").count() == 999)
  }

  // ----- AUTOMATIC read-path file skipping --------------------------

  /** Files a (possibly AQE-wrapped) executed plan actually opened,
    * from the scan node's own metric — the ground truth the
    * auto-skipping asserts run against. */
  private def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan) // AQE stages hide their subtree
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  test("auto skipping: plain SQL over dw_ views prunes files like scan(), no hint") {
    val dir = tmp("wh_autoskip")
    val wh = new Warehouse(spark, dir)
    val df = spark.range(80000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(8, col("k"))
    wh.save("t", df, clusterBy = Seq("k"))
    // the oracle: what an explicit stats-pruned scan would read
    val (expect, total) = wh.scanFileCounts("t",
      Seq(ColRange("k", Some(10000L), Some(14999L))))
    assert(total == 8 && expect <= 2, s"$expect/$total")
    val q = spark.sql(
      "SELECT count(*) AS c, sum(v) AS s FROM dw_t WHERE k BETWEEN 10000 AND 14999")
    val row = q.collect()(0)
    assert(row.getLong(0) == 5000)
    assert(row.getLong(1) == (10000L until 15000L).map(_ * 3).sum)
    assert(filesRead(q) == expect,
      s"SQL read ${filesRead(q)} files, stats admit $expect of $total")
    // the DataFrame API path prunes identically — same relation
    val d = wh.table("t").filter(col("k") === 42L)
    assert(d.count() == 1)
    assert(filesRead(d) <= 2, s"${filesRead(d)} files for a point lookup")
    // a cast on the COLUMN defeats provability: the read must fall back
    // to every file rather than skip wrongly (the coerced-literal trap)
    val c = spark.sql("SELECT count(*) AS c FROM dw_t WHERE CAST(k AS STRING) = '42'")
    assert(c.collect()(0).getLong(0) == 1)
    assert(filesRead(c) == total,
      s"cast-wrapped predicate must not prune: ${filesRead(c)}/$total")
  }

  test("auto skipping: bloom point lookups and appends through plain SQL") {
    val dir = tmp("wh_autoskip_bloom")
    val wh = new Warehouse(spark, dir)
    spark.conf.set("graft.bloom.items", "6000")
    try {
      // hash-partitioned digests: min/max stats are useless (every file
      // spans the space) — only the per-file bloom sketch can skip
      val df = spark.range(20000).select(
        md5(col("id").cast("string")).as("uid"), col("id").as("v"))
        .repartition(4, col("uid"))
      wh.save("b", df, bloomBy = Seq("uid"))
      def md5Hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
          .map("%02x".format(_)).mkString
      val present = md5Hex("123")
      val q = spark.sql(s"SELECT v FROM dw_b WHERE uid = '$present'")
      val rows = q.collect()
      assert(rows.length == 1 && rows(0).getAs[Long]("v") == 123L)
      assert(filesRead(q) == 1,
        s"bloom lookup should open exactly its file: ${filesRead(q)}/4")
      // absent key: every sketch rejects — zero files opened
      val absent = md5Hex("never-written")
      val q0 = spark.sql(s"SELECT v FROM dw_b WHERE uid = '$absent'")
      assert(q0.collect().isEmpty)
      assert(filesRead(q0) == 0, s"absent key opened ${filesRead(q0)} files")
    } finally spark.conf.unset("graft.bloom.items")
  }

  test("auto skipping: IS NULL / IS NOT NULL prune from non-null-count stats") {
    val wh = new Warehouse(spark, tmp("wh_autoskip_null"))
    // 8 EXACT 10000-row slices (range's own partitioning, no re-range
    // whose sampled boundaries could straddle 20000); v is ENTIRELY
    // null in the two low files and never null elsewhere — the
    // sparse-column shape
    val df = spark.range(0, 80000, 1, 8).select(col("id").as("k"),
      when(col("id") >= 20000, col("id")).as("v"))
    wh.save("t", df)
    wh.statsBy("t", Seq("v"))
    val qNull = spark.sql("SELECT count(*) AS c FROM dw_t WHERE v IS NULL")
    assert(qNull.collect()(0).getLong(0) == 20000L)
    assert(filesRead(qNull) == 2,
      s"IS NULL should open only the all-null files: ${filesRead(qNull)}/8")
    val qNot = spark.sql("SELECT count(k) AS c FROM dw_t WHERE v IS NOT NULL")
    assert(qNot.collect()(0).getLong(0) == 60000L)
    assert(filesRead(qNot) == 6,
      s"IS NOT NULL should skip the all-null files: ${filesRead(qNot)}/6")
    // the analyzer's implicit isnotnull under a comparison composes
    // with range admission: all-null files carry NO min/max for v (the
    // range test must keep them) — the nn=0 stat is what skips them
    val qEq = spark.sql("SELECT k FROM dw_t WHERE v = 25000")
    assert(qEq.collect().map(_.getLong(0)).toSeq == Seq(25000L))
    assert(filesRead(qEq) == 1,
      s"point lookup on the sparse column read ${filesRead(qEq)}/8 files")
  }

  test("auto skipping: LIKE-prefix predicates prune via string stats") {
    val wh = new Warehouse(spark, tmp("wh_autoskip_like"))
    // 8 exact slices; s is zero-padded so lexicographic order == id
    // order and each file holds one disjoint prefix band
    val df = spark.range(0, 80000, 1, 8).select(
      concat(lit("k"), lpad(col("id").cast("string"), 5, "0")).as("s"),
      col("id").as("v"))
    wh.save("t", df)
    wh.statsBy("t", Seq("s"))
    val q = spark.sql("SELECT count(*) AS c FROM dw_t WHERE s LIKE 'k0%'")
    assert(q.collect()(0).getLong(0) == 10000L)
    assert(filesRead(q) == 1,
      s"prefix band spans one file: read ${filesRead(q)}/8")
    // a prefix matching nothing reads nothing
    val q0 = spark.sql("SELECT count(*) AS c FROM dw_t WHERE s LIKE 'z%'")
    assert(q0.collect()(0).getLong(0) == 0L)
    assert(filesRead(q0) == 0, s"absent prefix read ${filesRead(q0)} files")
    // non-prefix LIKE cannot derive a range — full read, exact answer
    val qc = spark.sql("SELECT count(*) AS c FROM dw_t WHERE s LIKE '%42'")
    assert(qc.collect()(0).getLong(0) == 800L)
    assert(filesRead(qc) == 8)
  }

  test("auto skipping: IN-lists and OR-of-equalities prune via stats and blooms") {
    val dir = tmp("wh_autoskip_in")
    val wh = new Warehouse(spark, dir)
    spark.conf.set("graft.bloom.items", "6000")
    try {
      // range-clustered: 8 files with disjoint k ranges of 10000 each
      val df = spark.range(80000).select(col("id").as("k"), (col("id") * 3).as("v"))
        .repartitionByRange(8, col("k"))
      wh.save("t", df, clusterBy = Seq("k"))
      // IN over two distant slices: exactly their 2 files
      val q = spark.sql("SELECT sum(v) AS s FROM dw_t WHERE k IN (5, 75000)")
      assert(q.collect()(0).getLong(0) == 5L * 3 + 75000L * 3)
      assert(filesRead(q) == 2, s"IN (2 slices) read ${filesRead(q)}/8 files")
      // a long IN list still prunes through the optimizer's InSet form
      // (default conversion threshold is 10)
      val many = (0 until 20).map(i => i * 4000).mkString(", ")
      val qm = spark.sql(s"SELECT count(*) AS c FROM dw_t WHERE k IN ($many)")
      assert(qm.collect()(0).getLong(0) == 20)
      assert(filesRead(qm) == 8, s"20-value IN spans all slices: ${filesRead(qm)}")
      val few = Seq(5, 7, 11, 4001, 4003, 4005, 4007, 4009, 4011, 4013, 4015)
      val qf = spark.sql(
        s"SELECT count(*) AS c FROM dw_t WHERE k IN (${few.mkString(", ")})")
      assert(qf.collect()(0).getLong(0) == few.size)
      assert(filesRead(qf) == 1, s"11-value InSet one slice: ${filesRead(qf)}/8")
      // OR of equalities prunes the same way
      val qo = spark.sql(
        "SELECT count(*) AS c FROM dw_t WHERE k = 5 OR k = 75000")
      assert(qo.collect()(0).getLong(0) == 2)
      assert(filesRead(qo) == 2, s"OR-of-eq read ${filesRead(qo)}/8")
      // IN on a bloomBy column: only admitting files open, absent keys none
      val db = spark.range(20000).select(
        md5(col("id").cast("string")).as("uid"), col("id").as("v"))
        .repartition(4, col("uid"))
      wh.save("b", db, bloomBy = Seq("uid"))
      def md5Hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
          .map("%02x".format(_)).mkString
      val qb = spark.sql(s"SELECT v FROM dw_b WHERE uid IN " +
        s"('${md5Hex("123")}', '${md5Hex("124")}')")
      assert(qb.collect().map(_.getLong(0)).sorted.toSeq == Seq(123L, 124L))
      assert(filesRead(qb) <= 2, s"bloom IN opened ${filesRead(qb)}/4 files")
      val q0 = spark.sql(s"SELECT v FROM dw_b WHERE uid IN " +
        s"('${md5Hex("no-such-a")}', '${md5Hex("no-such-b")}')")
      assert(q0.collect().isEmpty)
      assert(filesRead(q0) == 0, s"absent IN keys opened ${filesRead(q0)} files")
      // a cast around the column defeats provability: read everything
      val qc = spark.sql(
        "SELECT count(*) AS c FROM dw_t WHERE CAST(k AS STRING) IN ('5', '75000')")
      assert(qc.collect()(0).getLong(0) == 2)
      assert(filesRead(qc) == 8, s"cast-wrapped IN must not prune: ${filesRead(qc)}/8")
    } finally spark.conf.unset("graft.bloom.items")
  }

  test("delete/update: IN-list predicates bound the probe to admitting files") {
    withoutDv {
      val dir = tmp("wh_del_in")
      val wh = new Warehouse(spark, dir)
      val df = spark.range(4000).select(col("id").as("k"), (col("id") % 7).as("v"),
        floor(col("id") / 1000).as("b")).repartition(col("b"))
      wh.save("t", df, partitionBy = Seq("b"), clusterBy = Seq("k"))
      def digests() = dataDigests(dir, "t")
      val before = digests()
      // two point deletes in ONE partition's range: only that file rewrites
      val res = wh.delete("t", col("k").isin(1500L, 1501L))
      assert(res.rowsDeleted == 2, res.toString)
      assert(res.filesRewritten == 1 && res.filesUntouched == 3, res.toString)
      val after = digests()
      // all pre-delete files stay byte-identical on disk (the rewritten
      // one's pre-image survives until vacuum; the rewrite lands as a
      // NEW file), and exactly one new file appeared
      val common = before.keySet intersect after.keySet
      assert(common.size == 4, s"4 original files on disk, got ${common.size}")
      common.foreach(p => assert(before(p) == after(p), s"$p changed"))
      assert((after.keySet -- before.keySet).size == 1,
        s"one rewrite output expected: ${after.keySet -- before.keySet}")
      assert(wh.table("t").count() == 3998)
      // OR-of-equalities updates through the same bounded probe
      val ur = wh.update("t", col("k") === 2500L || col("k") === 2501L,
        Map("v" -> lit(99L)))
      assert(ur.rowsUpdated == 2 && ur.filesRewritten == 1, ur.toString)
      assert(wh.table("t").filter(col("v") === 99L).count() == 2)
      // type-mismatched IN value: conjunct dropped, correctness intact
      // (falls back to probing every file, never skips a matching row)
      val r2 = wh.delete("t", col("k").isin("3500", "3501"))
      assert(r2.rowsDeleted == 2, r2.toString)
      assert(wh.table("t").count() == 3996)
    }
  }

  test("delete/update: IS NULL and LIKE-prefix predicates bound the probe") {
    withoutDv {
      val wh = new Warehouse(spark, tmp("wh_del_null"))
      // 4 exact slices; v null ONLY in slice 0; s zero-padded so each
      // slice is one disjoint string-prefix band
      val df = spark.range(0, 4000, 1, 4).select(
        col("id").as("k"),
        when(col("id") >= 1000, col("id")).as("v"),
        concat(lit("p"), lpad(col("id").cast("string"), 4, "0")).as("s"))
      wh.save("t", df)
      wh.statsBy("t", Seq("v", "s"))
      // nullness probe: only the all-null-v file can hold a match
      val res = wh.delete("t", col("v").isNull && col("k") < 10)
      assert(res.rowsDeleted == 10, res.toString)
      assert(res.filesRewritten == 1 && res.filesUntouched == 3,
        s"IS NULL probe must open one file: $res")
      // prefix probe (Column API startsWith): one band file rewrites
      val ur = wh.update("t", col("s").startsWith("p35"),
        Map("v" -> lit(-1L)))
      assert(ur.rowsUpdated == 100 && ur.filesRewritten == 1, ur.toString)
      assert(wh.table("t").filter(col("v") === -1L).count() == 100)
      // DESCRIBE PRUNING parity, Column AND SQL-text lanes; a
      // non-prefix pattern derives nothing — all files admitted
      val (allAdmitted, total) =
        wh.pruningPreviewFor("t", expr("s LIKE '%35'"))
      assert(allAdmitted == total && total >= 4)
      assert(wh.pruningPreviewFor("t", col("v").isNull) == ((1, total)))
      assert(wh.pruningPreviewFor("t", expr("v IS NULL")) == ((1, total)))
      assert(wh.pruningPreviewFor("t", expr("s LIKE 'p35%'"))._1 <= 2)
    }
  }

  test("auto skipping: partition pruning and stats pruning compose in one read") {
    val dir = tmp("wh_autoskip_part")
    val wh = new Warehouse(spark, dir)
    // 2 year-partitions × 4 clustered slices each = 8 files
    val df = spark.range(8000).select(
      (lit(2020) + (col("id") % 2)).cast("int").as("year"),
      col("id").as("k"), (col("id") * 7).as("v"))
      .repartitionByRange(8, col("year"), col("k"))
    wh.save("t", df, partitionBy = Seq("year"), clusterBy = Seq("k"))
    val (_, total) = wh.scanFileCounts("t", Nil)
    assert(total >= 8, s"setup wants ≥8 files, got $total")
    // partition filter alone halves the file list (directory pruning);
    // the k-range then drops clustered slices inside the partition
    val q = spark.sql(
      "SELECT count(*) AS c FROM dw_t WHERE year = 2020 AND k < 2000")
    q.collect()
    assert(filesRead(q) < total / 2,
      s"partition+stats should prune below half: ${filesRead(q)}/$total")
    // correctness against the unpruned rendering
    val want = wh.table("t")
      .filter(col("year") === 2020 && col("k") < 2000).count()
    assert(spark.sql(
      "SELECT count(*) AS c FROM dw_t WHERE year = 2020 AND k < 2000")
      .collect()(0).getLong(0) == want)
  }

  test("update: partition-column assignment moves rows across partitions") {
    import spark.implicits._
    val dir = tmp("wh_updpart")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, "a", 2020), (2L, "b", 2020), (3L, "c", 2021))
      .toDF("k", "v", "year").repartition(col("year")),
      partitionBy = Seq("year"))
    val res = wh.update("t", col("k") === 1L, Map("year" -> lit(2022)))
    assert(res.rowsUpdated == 1)
    val rows = wh.table("t").select("k", "year").as[(Long, Int)]
      .collect().toSet
    assert(rows == Set((1L, 2022), (2L, 2020), (3L, 2021)))
    // the moved row physically lives under its new partition directory
    val moved = wh.table("t").filter(col("year") === 2022)
      .select(input_file_name()).as[String].collect()(0)
    assert(moved.contains("year=2022"), moved)
  }

  // ----- deletion vectors -------------------------------------------

  private def dataDigests(dir: String, table: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir, table)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith(".") &&
        !p.getParent.getFileName.toString.equals("_dv"))
      .map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
        p.toString -> md.digest(java.nio.file.Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
      }.toMap
  }

  test("deletion vectors: point delete leaves every data file byte-identical") {
    import spark.implicits._
    val dir = tmp("wh_dv")
    val wh = new Warehouse(spark, dir)
    val df = spark.range(4000).select(col("id").as("k"), (col("id") % 7).as("v"),
      floor(col("id") / 1000).as("b")).repartition(col("b"))
    wh.save("t", df, partitionBy = Seq("b"), clusterBy = Seq("k"))        // v1
    val before = dataDigests(dir, "t")
    assert(before.size == 4)
    // one-row delete: NO data file is rewritten or dropped — only a DV
    val res = wh.delete("t", col("k") === 1500L)                          // v2
    assert(res == Warehouse.DeleteResult(1L, 0, 0, 3, filesDv = 1), res.toString)
    assert(dataDigests(dir, "t") == before, "a data file changed bytes")
    // snapshot, metadata count, and SQL read all agree
    assert(wh.table("t").count() == 3999)
    assert(wh.table("t").filter(col("k") === 1500L).count() == 0)
    assert(wh.countRows("t").contains(3999L))
    assert(spark.sql("SELECT count(*) FROM dw_t").collect()(0).getLong(0) == 3999)
    val detail = wh.describeDetail("t").toMap
    assert(detail("numDeletionVectors") == "1" && detail("numDvDeletedRows") == "1")
    // second delete on the SAME file unions positions into a fresh DV
    val res2 = wh.delete("t", col("k") === 1501L || col("k") === 1502L)   // v3
    assert(res2 == Warehouse.DeleteResult(2L, 0, 0, 3, filesDv = 1), res2.toString)
    assert(dataDigests(dir, "t") == before, "a data file changed bytes")
    assert(wh.table("t").count() == 3997)
    assert(wh.describeDetail("t").toMap.apply("numDvDeletedRows") == "3")
    // aggregate over the DV'd table is exact
    assert(wh.table("t").agg(sum("k")).collect()(0).getLong(0) ==
      (0L until 4000L).sum - 1500 - 1501 - 1502)
    // time travel: v1 still shows every row, v2 exactly one missing
    assert(wh.tableAt("t", 1).count() == 4000)
    assert(wh.tableAt("t", 2).count() == 3999)
    assert(wh.tableAt("t", 2).filter(col("k") === 1501L).count() == 1)
    // row-level feed replay reconstructs the snapshot across DV deletes
    val feed = wh.tableChangesRows("t", 0, 3)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    assert(feed.count(_._2 == "delete") == 3)
    val replayed = feed.filter(_._2 == "insert").map(_._1)
      .diff(feed.filter(_._2 == "delete").map(_._1)).sorted
    assert(replayed == wh.table("t").select("k").as[Long].collect().sorted.toSeq)
    // a big delete on the same table still takes the rewrite/drop path
    val res3 = wh.delete("t", col("k") >= 3000L)                          // v4
    assert(res3.filesDropped == 1 && res3.filesDv == 0, res3.toString)
    assert(wh.table("t").count() == 2997)
    // compaction materializes the DVs away; counts survive
    wh.compact("t")                                                      // v5
    val d2 = wh.describeDetail("t").toMap
    assert(d2("numDeletionVectors") == "0")
    assert(wh.table("t").count() == 2997 && wh.countRows("t").contains(2997L))
    // vacuum reclaims the now-unreferenced sidecars with the old files
    wh.vacuum("t")
    assert(!new java.io.File(s"$dir/t/_dv").exists() ||
      new java.io.File(s"$dir/t/_dv").list().isEmpty)
    assert(wh.table("t").count() == 2997)
  }

  test("deletion vectors: compactWhere folds a hot partition's sidecars, others untouched") {
    import spark.implicits._
    val dir = tmp("wh_dvscoped")
    val wh = new Warehouse(spark, dir)
    val df = spark.range(4000).select(col("id").as("k"), (col("id") % 7).as("v"),
      floor(col("id") / 1000).as("b")).repartition(col("b"))
    wh.save("t", df, partitionBy = Seq("b"), clusterBy = Seq("k"))        // v1
    // two separate point deletes → two sidecars on two partitions
    assert(wh.delete("t", col("k") === 1500L).filesDv == 1)               // v2
    assert(wh.delete("t", col("k") === 2500L).filesDv == 1)               // v3
    def sidecars(): Int = Option(new java.io.File(s"$dir/t/_dv").list())
      .map(_.count(!_.startsWith("."))).getOrElse(0) // skip .crc shadows
    assert(sidecars() == 2)
    // observability: the full scan reads 4 files, 2 of them DV'd, 2
    // positions subtracted; a b=1-ranged scan sees only its own DV
    assert(wh.dvScanStats("t") == ((4, 2, 2L)))
    assert(wh.dvScanStats("t",
      Seq(ColRange("k", Some(1000L), Some(1999L)))) == ((1, 1, 1L)))
    val before = dataDigests(dir, "t")
    // scoped compact of ONLY the hot partition materializes its DV
    val cr = wh.compactWhere("t", col("b") === 1L)                        // v4
    assert(cr.filesCompacted == 1 && cr.filesWritten == 1, cr.toString)
    val after = dataDigests(dir, "t")
    // every other partition's data file is byte-identical
    (before.keySet intersect after.keySet).filterNot(_.contains("b=1"))
      .foreach(p => assert(before(p) == after(p), s"$p changed bytes"))
    assert(wh.dvScanStats("t") == ((4, 1, 1L)), "b=2's DV must survive")
    assert(wh.table("t").count() == 3998)
    // vacuum reclaims the b=1 sidecar (no kept snapshot references it);
    // b=2's sidecar stays — its file still needs it
    wh.vacuum("t")
    assert(sidecars() == 1, s"expected 1 surviving sidecar, got ${sidecars()}")
    assert(wh.table("t").count() == 3998)
    assert(wh.table("t").filter(col("k").isin(1500L, 2500L)).count() == 0)
    // compacting the second hot partition folds the last sidecar away
    wh.compactWhere("t", col("b") === 2L)                                 // v5
    wh.vacuum("t")
    assert(sidecars() == 0, "all sidecars should fold away")
    assert(wh.describeDetail("t").toMap.apply("numDeletionVectors") == "0")
    assert(wh.dvScanStats("t") == ((4, 0, 0L)))
    assert(wh.table("t").agg(sum("k")).collect()(0).getLong(0) ==
      (0L until 4000L).sum - 1500 - 2500)
  }

  test("deletion vectors: point update appends new images, old file untouched") {
    import spark.implicits._
    val dir = tmp("wh_dvupd")
    val wh = new Warehouse(spark, dir)
    wh.save("t", spark.range(2000).select(col("id").as("k"),
      (col("id") % 7).as("v")).coalesce(2), clusterBy = Seq("k"))         // v1
    val before = dataDigests(dir, "t")
    val res = wh.update("t", col("k") === 42L, Map("v" -> lit(999L)))     // v2
    assert(res.rowsUpdated == 1 && res.filesDv == 1 && res.filesRewritten == 0,
      res.toString)
    // the two original files are byte-identical; ONE new image file appended
    val after = dataDigests(dir, "t")
    assert(before.forall { case (p, h) => after.get(p).contains(h) })
    assert(wh.table("t").count() == 2000)
    assert(wh.table("t").filter(col("k") === 42L).select("v").as[Long]
      .collect().toSeq == Seq(999L))
    assert(wh.countRows("t").contains(2000L))
    // feed: pre-image delete + post-image insert
    val feed = wh.tableChangesRows("t", 1, 2)
      .select("k", "v", "_change_type").as[(Long, Long, String)]
      .collect().toSeq.sorted
    assert(feed == Seq((42L, 42L % 7, "delete"), (42L, 999L, "insert")), feed)
    // a DV'd file still prunes by its manifest stats on the read path
    val pruned = wh.scan("t", ColRange("k", Some(1900L), Some(1950L)))
    assert(pruned.count() == 51)
  }

  test("deletion vectors: clone subtracts the source's DV; vacuum keeps shared sidecars") {
    import spark.implicits._
    val dir = tmp("wh_dvclone")
    val wh = new Warehouse(spark, dir)
    wh.save("src", spark.range(1000).select(col("id").as("k")).coalesce(1),
      clusterBy = Seq("k"))
    wh.delete("src", col("k") === 7L)
    wh.cloneTable("src", "cl")
    assert(wh.table("cl").count() == 999)
    assert(wh.table("cl").filter(col("k") === 7L).count() == 0)
    // source vacuums aggressively: the clone still reads (data + DV kept)
    wh.delete("src", col("k") === 8L)
    wh.vacuum("src")
    assert(wh.table("cl").count() == 999)
    assert(wh.table("src").count() == 998)
  }

  test("deletion vectors: small CDC merge takes file surgery — DVs + delta append") {
    import spark.implicits._
    val dir = tmp("wh_dvmerge")
    val wh = new Warehouse(spark, dir)
    // 4 single-file partitions, 4000 rows, key-clustered
    val df = spark.range(4000).select(col("id").as("k"), (col("id") % 7).as("v"),
      floor(col("id") / 1000).as("b")).repartition(col("b"))
    wh.save("t", df, partitionBy = Seq("b"), clusterBy = Seq("k"))        // v1
    val before = dataDigests(dir, "t")
    assert(before.size == 4)
    // 10-row CDC batch: 6 updates spread over three partitions' key
    // ranges + 4 inserts (one landing a brand-new partition value)
    val delta = Seq(
      (100L, 900L, 0L), (101L, 901L, 0L), (1500L, 902L, 1L),
      (1501L, 903L, 1L), (2500L, 904L, 2L), (2501L, 905L, 2L),
      (4100L, 906L, 4L), (4101L, 907L, 4L), (4102L, 908L, 0L),
      (4103L, 909L, 1L)).toDF("k", "v", "b")
    wh.merge("t", delta, Seq("k"))                                        // v2
    // EVERY pre-merge data file survives byte-identical: replaced rows
    // left via DVs, the delta landed as new files
    val after = dataDigests(dir, "t")
    before.foreach { case (p, d) =>
      assert(after.get(p).contains(d), s"pre-merge file $p changed bytes") }
    assert(after.size > before.size, "delta rows appended as new files")
    val detail = wh.describeDetail("t").toMap
    assert(detail("numDeletionVectors").toInt == 3, detail.toString)
    assert(detail("numDvDeletedRows").toInt == 6, detail.toString)
    // snapshot exact: 4000 + 4 inserts; updated keys show new values once
    assert(wh.table("t").count() == 4004)
    assert(wh.countRows("t").contains(4004L))
    val got = wh.table("t").filter(col("k").isin(100L, 2501L, 4103L))
      .select("k", "v").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((100L, 900L), (2501L, 905L), (4103L, 909L)), got.toString)
    // row-level feed: pre-images leave as deletes, post-images arrive
    val feed = wh.tableChangesRows("t", 1, 2)
      .select("k", "v", "_change_type").as[(Long, Long, String)]
      .collect().toSeq
    assert(feed.count(_._3 == "insert") == 10)
    assert(feed.count(_._3 == "delete") == 6)
    assert(feed.filter(_._3 == "delete").map(_._1).sorted ==
      Seq(100L, 101L, 1500L, 1501L, 2500L, 2501L))
    assert(feed.filter(r => r._3 == "delete" && r._1 == 100L).head._2 ==
      100L % 7, "pre-image carries the OLD value")
    // a merge matching MOST of the table still takes the partition
    // rewrite (fraction above graft.merge.dvPathMaxFraction)
    val big = spark.range(3000).select(col("id").as("k"),
      lit(-1L).as("v"), floor(col("id") / 1000).as("b"))
    wh.merge("t", big, Seq("k"))                                          // v3
    val d3 = wh.describeDetail("t").toMap
    assert(d3("numDeletionVectors").toInt == 0,
      s"big merge should rewrite, not DV: $d3")
    assert(wh.table("t").count() == 4004)
    assert(wh.table("t").filter(col("v") === -1L).count() == 3000)
  }

  test("compactSmall: bin-packs only small files; compact files keep their paths; DV'd stragglers fold") {
    import spark.implicits._
    val dir = tmp("wh_csm")
    val wh = new Warehouse(spark, dir)
    // year=2020: one 100-row file + four 3-row append files;
    // year=2021: one 100-row file and no debris
    wh.save("t", (0L until 100L).map(i => (i, 2020)).toDF("k", "year")
      .coalesce(1), partitionBy = Seq("year"))
    wh.append("t", (1000L until 1100L).map(i => (i, 2021))
      .toDF("k", "year").coalesce(1))
    (0 until 4).foreach(b => wh.append("t",
      (100L + 3 * b until 103L + 3 * b).map(i => (i, 2020))
        .toDF("k", "year").coalesce(1)))
    def serving(year: Int): Set[String] = wh.table("t")
      .filter(col("year") === year).select(input_file_name())
      .as[String].distinct().collect().toSet
    assert(serving(2020).size == 5 && serving(2021).size == 1)
    val big20 = serving(2020).filter(f =>
      wh.table("t").filter(input_file_name() === f).count() == 100)
    val before21 = serving(2021)
    val res = wh.compactSmall("t", targetRows = 100L, minFileRows = 50L)
    // only 2020's four 3-row files pack (12 rows → 1 bin); both
    // 100-row files and their paths survive untouched
    assert(res.filesCompacted == 4 && res.filesWritten == 1 &&
      res.filesUntouched == 2, res.toString)
    assert(serving(2021) == before21)
    assert(serving(2020).size == 2 && big20.subsetOf(serving(2020)))
    assert(wh.table("t").count() == 212 && wh.countRows("t").contains(212L))
    assert(wh.history("t").last.op == "compact")
    // a lone small file with no DV is left alone — idempotent
    val v = wh.tableVersions("t").last
    val res2 = wh.compactSmall("t", 100L, 50L)
    assert(res2.filesCompacted == 0 && wh.tableVersions("t").last == v)
    // hollow the straggler with a DV (2 of 12 rows ≤ dvMaxFraction) —
    // now folding the lone small file pays and it compacts
    val del = wh.delete("t", col("k").isin(100L, 101L))
    assert(del.rowsDeleted == 2 && del.filesDv == 1, del.toString)
    val res3 = wh.compactSmall("t", 100L, 50L)
    assert(res3.filesCompacted == 1 && res3.filesWritten == 1, res3.toString)
    assert(wh.table("t").count() == 210 && wh.countRows("t").contains(210L))
    assert(wh.describeDetail("t").toMap.apply("numDeletionVectors") == "0")
    // guard-rail: a target below the minimum refuses
    intercept[IllegalArgumentException](wh.compactSmall("t", 10L, 50L))
  }
}
