package graft.olist

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition evolution (`repartitionTable`): change the layout for
  * future writes without rewriting existing data. Mixed-layout
  * snapshots must read correctly (each file's columns come from its
  * own data/directory split), path-keyed operations must refuse
  * loudly until a compact normalizes, and compact must in fact
  * normalize.
  */
class PartitionEvolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(n: String): String =
    java.nio.file.Files.createTempDirectory(n).toString

  private def rows(wh: Warehouse, t: String): Set[(Long, String, String)] =
    wh.table(t).select("id", "grp", "region").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("unpartitioned -> partitioned: old files stay, new writes land in dirs, reads union") {
    import spark.implicits._
    val dir = tmp("wh_pevo1")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, "a", "eu"), (2L, "b", "us"))
      .toDF("id", "grp", "region"))
    val filesBefore = new java.io.File(s"$dir/t").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSet
    wh.repartitionTable("t", Seq("grp"))
    wh.append("t", Seq((3L, "a", "apac")).toDF("id", "grp", "region"))
    // old files untouched on disk; the new file is under grp=
    val after = new java.io.File(s"$dir/t").listFiles()
    assert(filesBefore.subsetOf(
      after.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet))
    assert(after.exists(f => f.isDirectory && f.getName == "grp=a"))
    // the mixed snapshot reads the full logical rows from both layouts
    assert(rows(wh, "t") ==
      Set((1L, "a", "eu"), (2L, "b", "us"), (3L, "a", "apac")))
    assert(wh.countRows("t") == Some(3L))
    assert(wh.history("t").map(_.op) == Seq("save", "repartition", "append"))
  }

  test("partitioned -> different column: reads, deletes, and time travel stay correct") {
    import spark.implicits._
    val dir = tmp("wh_pevo2")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, "a", "eu"), (2L, "b", "us"), (3L, "b", "eu"))
      .toDF("id", "grp", "region"), partitionBy = Seq("grp"))
    wh.repartitionTable("t", Seq("region"))
    wh.append("t", Seq((4L, "c", "us")).toDF("id", "grp", "region"))
    assert(rows(wh, "t") == Set((1L, "a", "eu"), (2L, "b", "us"),
      (3L, "b", "eu"), (4L, "c", "us")))
    // predicate delete does file surgery across BOTH layouts
    val del = wh.delete("t", col("region") === "eu")
    assert(del.rowsDeleted == 2L)
    assert(rows(wh, "t") == Set((2L, "b", "us"), (4L, "c", "us")))
    // time travel reads the pre-evolution version under its own layout
    assert(wh.tableAt("t", 1L).count() == 3L)
  }

  test("path-keyed ops refuse on mixed layouts; compact normalizes and unblocks") {
    import spark.implicits._
    val dir = tmp("wh_pevo3")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, "a", "eu"), (2L, "b", "us"))
      .toDF("id", "grp", "region"), partitionBy = Seq("grp"))
    wh.repartitionTable("t", Seq("region"))
    wh.append("t", Seq((3L, "c", "apac")).toDF("id", "grp", "region"))
    val e1 = intercept[IllegalArgumentException](wh.overwritePartitions("t",
      Seq((9L, "z", "eu")).toDF("id", "grp", "region")))
    assert(e1.getMessage.contains("different partition layout"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      wh.merge("t", Seq((2L, "b2", "us")).toDF("id", "grp", "region"),
        Seq("id")))
    assert(e2.getMessage.contains("different partition layout"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      wh.compactWhere("t", col("region") === "eu"))
    assert(e3.getMessage.contains("different partition layout"), e3.getMessage)
    // compact rewrites every file into the CURRENT scheme...
    wh.compact("t")
    val root = new java.io.File(s"$dir/t")
    assert(root.listFiles().exists(f => f.isDirectory &&
      f.getName.startsWith("region=")))
    assert(rows(wh, "t") ==
      Set((1L, "a", "eu"), (2L, "b", "us"), (3L, "c", "apac")))
    // ...after which the path-keyed ops work again
    wh.overwritePartitions("t", Seq((9L, "z", "eu"))
      .toDF("id", "grp", "region"))
    assert(rows(wh, "t") ==
      Set((9L, "z", "eu"), (2L, "b", "us"), (3L, "c", "apac")))
    wh.merge("t", Seq((2L, "b2", "us")).toDF("id", "grp", "region"), Seq("id"))
    assert(rows(wh, "t") ==
      Set((9L, "z", "eu"), (2L, "b2", "us"), (3L, "c", "apac")))
  }

  test("repartitionTable refuses unknown and renamed columns") {
    import spark.implicits._
    val dir = tmp("wh_pevo4")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, "a", "eu")).toDF("id", "grp", "region"))
    val e1 = intercept[IllegalArgumentException](
      wh.repartitionTable("t", Seq("nope")))
    assert(e1.getMessage.contains("no column nope"), e1.getMessage)
    wh.renameColumn("t", "grp", "cohort")
    val e2 = intercept[IllegalArgumentException](
      wh.repartitionTable("t", Seq("cohort")))
    assert(e2.getMessage.contains("renamed"), e2.getMessage)
    // an un-renamed column is fine after other renames
    wh.repartitionTable("t", Seq("region"))
    wh.append("t", Seq((2L, "b", "us")).toDF("id", "cohort", "region"))
    assert(wh.table("t").count() == 2L)
  }

  test("ALTER TABLE ... PARTITIONED BY drives the evolution from SQL") {
    import spark.implicits._
    val dir = tmp("wh_pevo5")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("t", Seq((1L, "a", "eu")).toDF("id", "grp", "region"))
    assert(spark.sql("ALTER TABLE t PARTITIONED BY (region)")
      .collect()(0).getAs[String]("status") == "OK")
    spark.sql("INSERT INTO t VALUES (2, 'b', 'us')")
    assert(new java.io.File(s"$dir/t").listFiles()
      .exists(f => f.isDirectory && f.getName == "region=us"))
    assert(spark.sql("SELECT count(*) FROM dw_t").collect()(0).getLong(0) == 2L)
    // back to unpartitioned for future writes
    spark.sql("ALTER TABLE t PARTITION BY ()")
    spark.sql("INSERT INTO t VALUES (3, 'c', 'apac')")
    assert(spark.sql("SELECT count(*) FROM dw_t").collect()(0).getLong(0) == 3L)
  }

  test("layout lives in the manifest: another instance's appends follow repartition, recluster and restore") {
    import spark.implicits._
    val dir = tmp("wh_layout_xinst")
    val a = new Warehouse(spark, dir)
    val b = new Warehouse(spark, dir)
    def batch(id: Long, year: Int) = Seq((id, year, s"d$id")).toDF("id", "year", "d")
    // b's append adds exactly these manifest entries
    def appendedBy(id: Long, year: Int): Seq[Warehouse.DataFile] = {
      val before = b.currentManifestFiles("t").map(_.path).toSet
      b.append("t", batch(id, year))
      b.currentManifestFiles("t").filterNot(f => before.contains(f.path))
    }
    a.save("t", batch(1L, 2021).coalesce(1))
    assert(appendedBy(2L, 2021).forall(f => !f.path.contains("=")))
    val flatVersion = a.tableVersions("t").last
    a.repartitionTable("t", Seq("year"))
    val partitioned = appendedBy(3L, 2022)
    assert(partitioned.nonEmpty && partitioned.forall(_.path.startsWith("year=2022/")),
      partitioned.map(_.path))
    a.recluster("t", Seq("id"), bloomBy = Seq("d"))
    val bloomed = appendedBy(4L, 2022)
    assert(bloomed.nonEmpty && bloomed.forall(f =>
      f.path.startsWith("year=2022/") && f.blooms.contains("d") &&
        f.stats.contains("id")), bloomed.map(f => (f.path, f.blooms.keySet)))
    a.restore("t", flatVersion)
    val restored = appendedBy(5L, 2023)
    assert(restored.nonEmpty && restored.forall(f =>
      !f.path.contains("=") && f.blooms.isEmpty),
      restored.map(f => (f.path, f.blooms.keySet)))
    assert(a.table("t").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 5L))
  }

  test("a fresh instance reads and appends with the committed layout alone, no side files") {
    import spark.implicits._
    val dir = tmp("wh_layout_fresh")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, 2021, "x"), (2L, 2022, "y")).toDF("id", "year", "d"),
      partitionBy = Seq("year"), clusterBy = Seq("id"), bloomBy = Seq("d"))
    // any per-table definition file beside the manifests is deleted:
    // the manifest alone must carry schema and layout
    val side = Seq("partitions", "schema.json", "cluster", "clusterkind", "bloom")
    side.foreach(sfx => new java.io.File(s"$dir/_graft_meta/t.$sfx").delete())
    val fresh = new Warehouse(spark, dir)
    assert(fresh.table("t").schema.map(f => f.name -> f.dataType) ==
      wh.table("t").schema.map(f => f.name -> f.dataType))
    val before = fresh.currentManifestFiles("t").map(_.path).toSet
    fresh.append("t", Seq((3L, 2023, "z")).toDF("id", "year", "d"))
    val added = fresh.currentManifestFiles("t").filterNot(f => before.contains(f.path))
    assert(added.nonEmpty && added.forall(f => f.path.startsWith("year=2023/") &&
      f.stats.contains("id") && f.blooms.contains("d")),
      added.map(f => (f.path, f.blooms.keySet)))
    assert(fresh.table("t").filter(col("year") === 2023).count() == 1L)
    assert(side.forall(sfx => !new java.io.File(s"$dir/_graft_meta/t.$sfx").exists()))
  }
}
