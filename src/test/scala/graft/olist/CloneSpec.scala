package graft.olist

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shallow clone: `cloneTable` forks a table by manifest reference —
  * zero data I/O — and the two tables then evolve independently, with
  * vacuum on either side unable to break the other.
  */
class CloneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def dataFilesUnder(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Nil
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith("_") &&
        !f.getFileName.toString.startsWith("."))
      .map(_.toString).toSeq
  }

  test("clone is zero-copy, independent both ways, vacuum-safe") {
    import spark.implicits._
    val dir = tmp("wh_clone")
    val wh = new Warehouse(spark, dir)
    wh.save("src", spark.range(4000).select(col("id").as("k"),
      (col("id") % 7).as("v"), (floor(col("id") / 2000) + 2020).as("year"))
      .repartition(col("year")),
      partitionBy = Seq("year"), clusterBy = Seq("k"))              // src v1
    wh.cloneTable("src", "fork")
    // zero data I/O: the clone's directory holds no data files
    assert(dataFilesUnder(s"$dir/fork").isEmpty)
    assert(wh.table("fork").count() == 4000)
    // partition column survives the referenced read
    assert(wh.table("fork").filter(col("year") === 2021).count() == 2000)
    assert(wh.history("fork").last.op == "clone")
    assert(wh.history("src").last.op == "clone-ref")

    // append to the clone: lands in ITS directory, source unchanged
    wh.append("fork", Seq((9001L, 1L, 2022L)).toDF("k", "v", "year")
      .coalesce(1))
    assert(wh.table("fork").count() == 4001)
    assert(wh.table("src").count() == 4000)
    assert(dataFilesUnder(s"$dir/fork").nonEmpty)

    // delete on the clone: straddling source file materializes into the
    // clone, source rows untouched
    val res = wh.delete("fork", col("k") < 100L)
    assert(res.rowsDeleted == 100)
    assert(wh.table("fork").count() == 3901)
    assert(wh.table("src").count() == 4000)

    // update the SOURCE: the clone keeps reading its pinned snapshot
    wh.update("src", col("k") === 200L, Map("v" -> lit(999L)))
    assert(wh.table("src").filter(col("v") === 999L).count() == 1)
    assert(wh.table("fork").filter(col("v") === 999L).count() == 0)

    // aggressive source vacuum: files the clone references SURVIVE
    wh.vacuum("src", graceMs = 0L, keepVersions = 1)
    assert(wh.table("fork").count() == 3901)
    assert(wh.table("src").count() == 4000)
    // a fresh instance reads the clone the same way (its manifest
    // carries the definition)
    val wh2 = new Warehouse(spark, dir)
    assert(wh2.table("fork").count() == 3901)
  }

  test("held serving cuts survive vacuum: holdSnapshot pins member versions; a released stale cut refuses loudly, never dangles") {
    import spark.implicits._
    val dir = tmp("wh_heldcut")
    val wh = new Warehouse(spark, dir)
    def save(rows: Int): Unit = {
      wh.save("t", spark.range(rows).select(col("id").as("k"),
        (col("id") % 7).as("v")).coalesce(2))
      wh.save("u", spark.range(rows / 10).select(col("id").as("k"))
        .coalesce(1))
    }
    save(100) // both tables at v1
    // hold ONE cut across both tables (the serving amortization
    // pattern), then churn: every save rewrites every file, so the
    // held versions' files are exactly what an unshielded vacuum reaps
    val (cut, release) = wh.holdSnapshot(Seq("t", "u"), "svc")
    val heldRows = cut("t").count()
    val heldSum = cut("t").agg(sum("v")).first().getLong(0)
    (1 to 3).foreach(i => save(100 + i * 10))
    // the preview agrees with the shield before anything is deleted
    assert(wh.pinnedVersions("t") == Map("svc" -> 1L))
    val preview = wh.vacuumPreview("t", 0L, 1)
    val v1Files = wh.tableAt("t", 1L).inputFiles.map(f =>
      f.substring(f.lastIndexOf("/t/") + 3)).toSeq
    assert(v1Files.forall(f => !preview.contains(f)),
      s"preview would reap pinned files: $preview")
    wh.vacuum("t", 0L, 1)
    wh.vacuum("u", 0L, 1)
    // (a) continued correct serving: the held frames keep answering,
    // and a REBUILT reader over the pinned version answers identically
    // — version-exact, not a dangling-file read
    assert(cut("t").count() == heldRows)
    assert(cut("t").agg(sum("v")).first().getLong(0) == heldSum)
    assert(wh.tableAt("t", 1L).count() == heldRows)
    assert(wh.tableAt("u", 1L).count() == heldRows / 10)
    // live reads see the churned head, untouched by the shield
    assert(wh.table("t").count() == 130)
    // a held cut also blocks dropTable (the clone rule's sibling):
    // the holder must release before the table can die
    val held = intercept[IllegalArgumentException] { wh.dropTable("u") }
    assert(held.getMessage.contains("pin"), held.getMessage)
    // release: the next sweep reclaims the cut, and (b) a stale
    // re-resolution fails LOUDLY with the retention diagnosis
    release()
    assert(wh.pinnedVersions("t").isEmpty &&
      wh.pinnedVersions("u").isEmpty)
    wh.vacuum("t", 0L, 1)
    val stale = intercept[IllegalArgumentException] {
      wh.tableAt("t", 1L)
    }
    assert(stale.getMessage.contains("not retained") &&
      stale.getMessage.contains("holdSnapshot"), stale.getMessage)
    // the shield was surgical: releasing actually freed the storage
    val left = dataFilesUnder(s"$dir/t")
    assert(v1Files.forall(f => !left.exists(_.endsWith(f))),
      s"released cut's files survived: $left")
    // re-pinning a reaped version refuses — a dead cut cannot be
    // resurrected into the registry
    val gone = intercept[IllegalArgumentException] {
      wh.pinVersion("t", 1L, "svc2")
    }
    assert(gone.getMessage.contains("not retained"), gone.getMessage)
  }

  test("pin leases: a crashed holder's lease expires and vacuum reclaims LOUDLY; a live holder's heartbeat keeps the cut alive indefinitely") {
    import spark.implicits._
    val dir = tmp("wh_leases")
    val wh = new Warehouse(spark, dir)
    def save(rows: Int): Unit =
      wh.save("t", spark.range(rows).select(col("id").as("k"),
        (col("id") % 7).as("v")).coalesce(2))
    save(100) // v1
    // a LIVE holder with a generous lease, heartbeating
    val (cut, heartbeat, release) =
      wh.holdSnapshotLeased(Seq("t"), "live-svc", leaseMs = 60000L)
    val heldSum = cut("t").agg(sum("v")).first().getLong(0)
    // a CRASHED holder: a tiny lease, never refreshed again
    wh.pinVersion("t", 1L, "dead-svc", Some(1L))
    val before = wh.pinDetails("t")
    assert(before.map(_.holder).toSet == Set("live-svc", "dead-svc"))
    assert(before.forall(_.pinnedAtMs.nonEmpty),
      "every new pin carries its registration stamp")
    Thread.sleep(20) // dead-svc's 1 ms lease lapses
    // heartbeat re-stamps the live pin (DESCRIBE PINS age restarts)
    val at0 = before.find(_.holder == "live-svc").get.pinnedAtMs.get
    heartbeat()
    val at1 = wh.pinDetails("t").find(_.holder == "live-svc")
      .get.pinnedAtMs.get
    assert(at1 > at0, "heartbeat must re-stamp pinned-at")
    (1 to 3).foreach(i => save(100 + i * 10))
    wh.vacuum("t", 0L, 1)
    // the expired pin was swept with a LOUD history op; the live one
    // survived and still shields v1
    assert(wh.pinDetails("t").map(_.holder) == Seq("live-svc"))
    assert(wh.history("t").exists(_.op == "pin-expired"),
      wh.history("t").map(_.op).mkString(", "))
    assert(cut("t").agg(sum("v")).first().getLong(0) == heldSum)
    assert(wh.tableAt("t", 1L).agg(sum("v")).first().getLong(0)
      == heldSum)
    // the dead holder coming back learns its cut is GONE — refreshPin
    // refuses with the re-resolve diagnosis instead of silently
    // re-registering nothing
    val lost = intercept[IllegalStateException] {
      wh.refreshPin("t", "dead-svc")
    }
    assert(lost.getMessage.contains("expired"), lost.getMessage)
    // a further heartbeat + sweep cycle: the live cut stays readable
    // for as long as the holder beats (indefinite survival)
    heartbeat()
    wh.vacuum("t", 0L, 1)
    assert(wh.tableAt("t", 1L).count() == 100)
    // release: the next sweep reclaims, and the stale read is loud
    release()
    wh.vacuum("t", 0L, 1)
    val stale = intercept[IllegalArgumentException] {
      wh.tableAt("t", 1L)
    }
    assert(stale.getMessage.contains("not retained"), stale.getMessage)
  }

  test("clone at a historical version; clone of a clone re-registers owners") {
    import spark.implicits._
    val dir = tmp("wh_clone2")
    val wh = new Warehouse(spark, dir)
    wh.save("src", Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)) // v1
    wh.append("src", Seq((3L, "c")).toDF("k", "v").coalesce(1))          // v2
    wh.cloneTable("src", "old", version = Some(1L))
    assert(wh.table("old").count() == 2)
    assert(wh.table("src").count() == 3)
    // clone of a clone: entries keep pointing at the physical owner
    wh.cloneTable("old", "older")
    assert(wh.table("older").count() == 2)
    // …and the grandchild registered itself on the ORIGINAL owner, so
    // the source's vacuum keeps the shared file alive for it
    wh.vacuum("src", graceMs = 0L, keepVersions = 1)
    assert(wh.table("older").count() == 2)
    // an existing table refuses to be clobbered by a clone
    intercept[IllegalArgumentException] { wh.cloneTable("src", "old") }
  }

  test("clone carries the column mapping; both sides rename independently") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh_clonecol"))
    wh.save("s", Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    wh.renameColumn("s", "v", "w")          // physical name stays "v"
    wh.cloneTable("s", "c")
    // the clone shows the renamed logical name and reads the shared
    // physical files through the carried mapping
    assert(wh.table("c").columns.toSeq == Seq("k", "w"))
    assert(wh.table("c").filter(col("w") === "a").count() == 1)
    // clone-side rename diverges; the source keeps its name
    wh.renameColumn("c", "w", "z")
    assert(wh.table("c").columns.toSeq == Seq("k", "z"))
    assert(wh.table("s").columns.toSeq == Seq("k", "w"))
    // an append to the clone speaks "z", lands under the frozen
    // physical name, and unions cleanly with the referenced files
    wh.append("c", Seq((3L, "c3")).toDF("k", "z"))
    assert(wh.table("c").select("k", "z").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c3")))
    // source unaffected
    assert(wh.table("s").count() == 2)
  }

  test("dropTable refuses while clones reference it; clones drop freely") {
    import spark.implicits._
    val dir = tmp("wh_drop")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("src", Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    wh.cloneTable("src", "fork")
    // the source is pinned by the clone's references
    val ex = intercept[IllegalArgumentException] { wh.dropTable("src") }
    assert(ex.getMessage.contains("fork"))
    assert(wh.table("src").count() == 2)
    // the clone itself drops freely (its references die with it)…
    spark.sql("DROP TABLE fork").collect()
    assert(!wh.hasTable("fork"))
    // …deregistering from the source's clone registry as it goes
    assert(wh.history("src").last.op == "clone-ref")
    wh.vacuum("src", graceMs = 0L, keepVersions = 1) // no stale-walk blowup
    // …and the source is then droppable, fully gone
    wh.dropTable("src")
    assert(!wh.hasTable("src"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "src")))
    intercept[Exception] { wh.table("src").count() }
  }
}
