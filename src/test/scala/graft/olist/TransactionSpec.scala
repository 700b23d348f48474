package graft.olist

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-table atomic transactions: a fact+dim batch lands together or
  * not at all. The linearization point is the parent `.committed`
  * marker; per-table records tagged with the txn id are invisible
  * until it exists.
  */
class TransactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  import spark.implicits._

  test("transaction: fact+dim commit atomically; racing reader never sees one side alone") {
    val dir = tmp("wh_txn")
    val wh = new Warehouse(spark, dir)
    wh.save("fact", Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    wh.save("dim", Seq((1L, "a")).toDF("k", "name").coalesce(1))

    // reader races on a SEPARATE warehouse instance (fresh caches —
    // the cross-process shape); reads fact FIRST, then dim. With the
    // atomic marker, (fact=new, dim=old) is impossible: the flip
    // happens at one instant, and fact is read before dim. A
    // non-atomic commit (fact landed, dim not yet) shows exactly that
    // forbidden pair for the whole inter-commit window.
    val reader = new Warehouse(spark, dir)
    @volatile var stop = false
    @volatile var violation: Option[(Long, Long)] = None
    val t = new Thread(() => {
      while (!stop && violation.isEmpty) {
        val f = reader.table("fact").count()
        val d = reader.table("dim").count()
        if (f > 1 && d == 1) violation = Some((f, d))
      }
    })
    t.start()
    try {
      wh.transaction(Seq("fact", "dim")) {
        wh.append("fact", Seq((2L, 20L), (3L, 30L)).toDF("k", "v").coalesce(1))
        Thread.sleep(300) // widen the would-be partial-visibility window
        wh.append("dim", Seq((2L, "b"), (3L, "c")).toDF("k", "name").coalesce(1))
        Thread.sleep(200)
        // own-reads: the transaction sees its uncommitted writes...
        assert(wh.table("fact").count() == 3)
        // ...while the racing reader must still see the old snapshot
        assert(reader.table("fact").count() == 1,
          "uncommitted txn write leaked to a concurrent reader")
      }
    } finally { stop = true; t.join() }
    assert(violation.isEmpty,
      s"reader observed fact without dim: $violation")
    assert(wh.table("fact").count() == 3)
    assert(wh.table("dim").count() == 3)
    assert(reader.table("fact").count() == 3)
    assert(reader.table("dim").count() == 3)
    // history shows both commits, now visible
    assert(wh.tableVersions("fact").size == 2)
    assert(wh.tableVersions("dim").size == 2)
  }

  test("transaction: body failure rolls every table back; born-in-txn table vanishes") {
    val dir = tmp("wh_txn_abort")
    val wh = new Warehouse(spark, dir)
    wh.save("fact", Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    wh.save("dim", Seq((1L, "a")).toDF("k", "name").coalesce(1))
    val ex = intercept[RuntimeException] {
      wh.transaction(Seq("fact", "dim", "newt")) {
        wh.append("fact", Seq((2L, 20L)).toDF("k", "v").coalesce(1))
        wh.save("newt", Seq((9L, 9L)).toDF("a", "b").coalesce(1))
        wh.append("dim", Seq((2L, "b")).toDF("k", "name").coalesce(1))
        throw new RuntimeException("boom")
      }
    }
    assert(ex.getMessage == "boom")
    // neither side landed; versions unchanged
    assert(wh.table("fact").count() == 1)
    assert(wh.table("dim").count() == 1)
    assert(wh.tableVersions("fact") == Seq(1L))
    assert(wh.tableVersions("dim") == Seq(1L))
    // the table born inside the transaction does not exist
    assert(wh.tableVersions("newt").isEmpty)
    // the log is healthy: the next plain append takes the next version
    wh.append("fact", Seq((5L, 50L)).toDF("k", "v").coalesce(1))
    assert(wh.tableVersions("fact") == Seq(1L, 2L))
    assert(wh.table("fact").count() == 2)
    // SQL view never saw the aborted rows and still works
    assert(spark.sql("SELECT count(*) FROM dw_fact").head.getLong(0) == 2)
  }

  test("transaction: writes to undeclared tables refuse; nesting refuses") {
    val dir = tmp("wh_txn_decl")
    val wh = new Warehouse(spark, dir)
    wh.save("a", Seq((1L, 1L)).toDF("k", "v").coalesce(1))
    wh.save("b", Seq((1L, 1L)).toDF("k", "v").coalesce(1))
    val ex = intercept[IllegalArgumentException] {
      wh.transaction(Seq("a")) {
        wh.append("b", Seq((2L, 2L)).toDF("k", "v").coalesce(1))
      }
    }
    assert(ex.getMessage.contains("undeclared"))
    // the abort left b untouched and a's log clean
    assert(wh.table("b").count() == 1)
    assert(wh.tableVersions("a") == Seq(1L))
    val ex2 = intercept[IllegalArgumentException] {
      wh.transaction(Seq("a")) { wh.transaction(Seq("b")) { () } }
    }
    assert(ex2.getMessage.contains("nesting"))
  }

  test("transaction: incremental consumers see the batch only after the marker") {
    val dir = tmp("wh_txn_feed")
    val wh = new Warehouse(spark, dir)
    wh.save("fact", Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    wh.save("dim", Seq((1L, "a")).toDF("k", "name").coalesce(1))
    val state = tmp("feed_state")
    // drain the bootstrap batches
    assert(wh.consumeChanges("fact", state)(_ => ()).isDefined)
    assert(wh.consumeChanges("dim", state)(_ => ()).isDefined)
    wh.beginTransaction(Seq("fact", "dim"))
    wh.append("fact", Seq((2L, 20L)).toDF("k", "v").coalesce(1))
    wh.append("dim", Seq((2L, "b")).toDF("k", "name").coalesce(1))
    // a consumer polling mid-transaction sees NOTHING on either side:
    // tagged versions are not committed yet (the CDC-atomicity half of
    // the racing-reader property — same filter the streaming source's
    // getOffset rides). Polling from a FRESH instance, as a real
    // downstream job would.
    val reader = new Warehouse(spark, dir)
    assert(reader.consumeChanges("fact", state)(_ => ()).isEmpty)
    assert(reader.consumeChanges("dim", state)(_ => ()).isEmpty)
    wh.commitTransaction()
    // after the marker both batches arrive, complete
    var factRows = 0L; var dimRows = 0L
    assert(reader.consumeChanges("fact", state)(df => factRows = df.count()).isDefined)
    assert(reader.consumeChanges("dim", state)(df => dimRows = df.count()).isDefined)
    assert(factRows == 1 && dimRows == 1, s"$factRows/$dimRows")
  }

  test("transaction: a racing plain writer on a declared table fails loudly, log stays linear") {
    val dir = tmp("wh_txn_race")
    // short acquisition timeout so the blocked writer's refusal is fast
    val wh = new Warehouse(spark, dir, lockAcquireMs = 1500)
    wh.save("t", Seq((1L, 1L)).toDF("k", "v").coalesce(1))
    @volatile var writerError: Option[Throwable] = None
    wh.transaction(Seq("t")) {
      wh.append("t", Seq((2L, 2L)).toDF("k", "v").coalesce(1))
      // a plain writer from ANOTHER thread (fresh instance — the
      // cross-process shape) cannot sneak a commit between the txn's
      // tagged versions: it waits on the table lock, then refuses
      val other = new Thread(() => {
        try new Warehouse(spark, dir, lockAcquireMs = 1500)
          .append("t", Seq((99L, 99L)).toDF("k", "v").coalesce(1))
        catch { case e: Throwable => writerError = Some(e) }
      })
      other.start(); other.join()
    }
    assert(writerError.exists(_.getMessage.contains("commit lock")),
      s"racing writer should refuse on the lock, got: $writerError")
    // the transaction committed cleanly; the interloper left no trace
    assert(wh.table("t").count() == 2)
    assert(wh.table("t").filter(col("k") === 99L).count() == 0)
    assert(wh.tableVersions("t") == Seq(1L, 2L))
    // and the table is writable again afterwards
    new Warehouse(spark, dir).append("t",
      Seq((3L, 3L)).toDF("k", "v").coalesce(1))
    assert(wh.table("t").count() == 3)
  }

  test("vacuum racing an open transaction keeps the tagged tail's files") {
    val dir = tmp("wh_txn_vac")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq((1L, 1L)).toDF("k", "v").coalesce(1))
    wh.beginTransaction(Seq("t"))
    try {
      wh.append("t", Seq((2L, 2L)).toDF("k", "v").coalesce(1)) // v2, tagged
      // an aggressive zero-grace vacuum from another instance while the
      // transaction is open: the tagged commit's files are referenced
      // only by an INVISIBLE record, and must still survive
      val other = new Warehouse(spark, dir)
      // the preview must agree with the sweep: the tagged tail's files
      // are in the keep-set, so nothing is doomed here
      val previewed = other.vacuumPreview("t")
      assert(previewed.isEmpty,
        s"vacuumPreview listed kept (tagged-tail) files as doomed: $previewed")
      other.vacuum("t")
      // explicit-version surfaces refuse the uncommitted version by
      // raw number too (tableVersions already hides it)
      val ex = intercept[IllegalArgumentException] {
        other.tableAt("t", 2).count()
      }
      assert(ex.getMessage.contains("uncommitted"), ex.getMessage)
      val ex2 = intercept[IllegalArgumentException] {
        other.cloneTable("t", "t_leak", Some(2L))
      }
      assert(ex2.getMessage.contains("uncommitted"), ex2.getMessage)
    } finally wh.commitTransaction()
    // the commit that raced the vacuum reads back whole
    assert(wh.table("t").count() == 2)
    assert(new Warehouse(spark, dir).table("t").count() == 2)
  }

  test("vacuumTxnMarkers: reclaims markers once no kept record references them") {
    val dir = tmp("wh_txn_markers")
    val wh = new Warehouse(spark, dir)
    wh.save("fact", Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    wh.save("dim", Seq((1L, "a")).toDF("k", "name").coalesce(1))
    wh.transaction(Seq("fact", "dim")) {
      wh.append("fact", Seq((2L, 20L)).toDF("k", "v").coalesce(1))
      wh.append("dim", Seq((2L, "b")).toDF("k", "name").coalesce(1))
    }
    // a rolled-back txn leaves a pending marker (audit) — reclaimable
    intercept[RuntimeException] {
      wh.transaction(Seq("fact")) {
        wh.append("fact", Seq((9L, 9L)).toDF("k", "v").coalesce(1))
        throw new RuntimeException("boom")
      }
    }
    def markers(): Set[String] =
      Option(new java.io.File(s"$dir/_graft_meta/_txn").list())
        .map(_.toSet.filter((n: String) => !n.startsWith("."))).getOrElse(Set.empty)
    assert(markers().exists(_.endsWith(".committed")))
    // the committed txn's v2 records still reference the id: kept
    val n1 = wh.vacuumTxnMarkers()
    assert(markers().exists(_.endsWith(".committed")),
      s"live marker must survive (deleted $n1)")
    // time travel to the tagged version still works through the marker
    assert(wh.tableAt("fact", 2).count() == 2)
    // drop the tagged history (keep only the current untagged head),
    // then the marker has no referent and reclaims
    wh.append("fact", Seq((3L, 30L)).toDF("k", "v").coalesce(1)) // v3, untagged
    wh.append("dim", Seq((3L, "c")).toDF("k", "name").coalesce(1))
    wh.vacuum("fact"); wh.vacuum("dim")
    val n2 = wh.vacuumTxnMarkers()
    assert(n2 >= 1, s"expected the dead markers reclaimed, got $n2")
    assert(markers().isEmpty, markers().toString)
    assert(wh.table("fact").count() == 3)
  }

  test("transaction: crash-abandoned tail is invisible and healed by the next writer") {
    val dir = tmp("wh_txn_crash")
    val wh = new Warehouse(spark, dir)
    wh.save("fact", Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    wh.save("dim", Seq((1L, "a")).toDF("k", "name").coalesce(1))
    wh.transaction(Seq("fact", "dim")) {
      wh.append("fact", Seq((2L, 20L)).toDF("k", "v").coalesce(1))
      wh.append("dim", Seq((2L, "b")).toDF("k", "name").coalesce(1))
    }
    // simulate the crash-before-marker state: surgically remove the
    // committed marker — tagged v2 records remain with no parent
    val txnDir = new java.io.File(s"$dir/_graft_meta/_txn")
    val markers = txnDir.listFiles().filter(_.getName.endsWith(".committed"))
    assert(markers.length == 1)
    markers.foreach(m => assert(m.delete()))
    // a FRESH instance (no positive marker cache) must not see v2...
    val wh2 = new Warehouse(spark, dir)
    assert(wh2.table("fact").count() == 1)
    assert(wh2.table("dim").count() == 1)
    assert(wh2.tableVersions("fact") == Seq(1L))
    // ...and its first write heals the dead tail, then lands as v2
    wh2.append("fact", Seq((7L, 70L)).toDF("k", "v").coalesce(1))
    assert(wh2.tableVersions("fact") == Seq(1L, 2L))
    assert(wh2.table("fact").count() == 2)
    assert(wh2.table("fact").filter(col("k") === 2L).count() == 0,
      "aborted txn row resurrected by the healing append")
  }

  test("streaming sink vs open transaction: batch refuses; restart after commit lands it exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("wh_txn_stream")
    // short lock wait: the refusal is the lock timeout, not a hang
    val wh = new Warehouse(spark, dir, lockAcquireMs = 1500)
    wh.save("ev", Seq((1L, "base")).toDF("k", "v").coalesce(1))
    val ckpt = tmp("wh_txn_stream_ckpt")
    val source = MemoryStream[(Long, String)]
    wh.beginTransaction(Seq("ev"))
    val failed =
      try {
        // the txn's own (tagged, invisible-to-others) write
        wh.append("ev", Seq((2L, "txn")).toDF("k", "v").coalesce(1))
        // a streaming micro-batch from ANOTHER thread must refuse: it
        // is not the transaction and cannot take the held lock
        val q = wh.streamInto("ev", source.toDS().toDF("k", "v"), ckpt)
        source.addData((10L, "stream"))
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
          q.awaitTermination(30000)
        }
        assert(ex.getMessage.contains("commit lock") ||
          Option(ex.getCause).exists(_.getMessage.contains("commit lock")),
          s"expected the lock refusal, got: ${ex.getMessage}")
        true
      } finally wh.commitTransaction()
    assert(failed)
    // transaction closed: same checkpoint + same source re-drives the
    // refused batch; the sink's batch-id mark makes it exactly-once
    val q2 = wh.streamInto("ev", source.toDS().toDF("k", "v"), ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val rows = wh.table("ev").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(rows.sorted == Seq((1L, "base"), (2L, "txn"), (10L, "stream")),
      s"got $rows")
  }

  test("snapshotTables: a pinned multi-table cut survives a later transaction; torn reads impossible") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh_txn_snap"))
    wh.save("fact", Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    wh.save("dim", Seq((1L, "a")).toDF("k", "name").coalesce(1))
    val snap = wh.snapshotTables(Seq("fact", "dim"))
    // a cross-table transaction lands AFTER the cut
    wh.transaction(Seq("fact", "dim")) {
      wh.append("fact", Seq((2L, 20L)).toDF("k", "v").coalesce(1))
      wh.append("dim", Seq((2L, "b")).toDF("k", "name").coalesce(1))
    }
    // live reads see the batch on BOTH tables …
    assert(wh.table("fact").count() == 2 && wh.table("dim").count() == 2)
    // … the pinned cut sees it on NEITHER — all-or-nothing, no tear
    assert(snap("fact").count() == 1 && snap("dim").count() == 1)
    // a fresh cut is the post-batch world on both
    val snap2 = wh.snapshotTables(Seq("fact", "dim"))
    assert(snap2("fact").count() == 2 && snap2("dim").count() == 2)
  }

  test("snapshotTablesAt: a historical cut is whole-transaction verified; an instant inside a commit window refuses") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh_txn_snapat"))
    wh.save("fct", Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    wh.save("dm", Seq((1L, "a")).toDF("k", "name").coalesce(1))
    Thread.sleep(20)
    val t1 = java.time.Instant.now()
    Thread.sleep(20)
    // a cross-table transaction whose member commits land at
    // measurably different wall-clock instants — the window the
    // tear check must detect
    wh.transaction(Seq("fct", "dm")) {
      wh.append("fct", Seq((2L, 20L)).toDF("k", "v").coalesce(1))
      Thread.sleep(80)
      wh.append("dm", Seq((2L, "b")).toDF("k", "name").coalesce(1))
    }
    // at t1 (before the transaction): the old world on BOTH tables
    val s1 = wh.snapshotTablesAt(Seq("fct", "dm"), t1)
    assert(s1("fct").count() == 1 && s1("dm").count() == 1)
    // now: the post-transaction world on both
    val s2 = wh.snapshotTablesAt(Seq("fct", "dm"),
      java.time.Instant.now())
    assert(s2("fct").count() == 2 && s2("dm").count() == 2)
    // an instant INSIDE the window — at fct's commit stamp, before
    // dm's — would include the transaction on fct only: refused
    val fctStamp = java.time.Instant
      .parse(wh.history("fct").last.committedAt)
    val dmStamp = java.time.Instant
      .parse(wh.history("dm").last.committedAt)
    assert(fctStamp.isBefore(dmStamp), "fixture needs a real window")
    val torn = intercept[IllegalArgumentException] {
      wh.snapshotTablesAt(Seq("fct", "dm"), fctStamp)
    }
    assert(torn.getMessage.contains("commit window"), torn.getMessage)
    // a single-table read at the same instant is fine (no tear
    // possible with one member in the cut… of a one-table list)
    assert(wh.snapshotTablesAt(Seq("fct"), fctStamp)("fct").count() == 2)
  }

  test("snapshotTablesAt under default retention: a head resolution is never refused; the horizon guard fires only where a tear could hide") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh_txn_snapat_vac"))
    // u FIRST: every later t-resolution instant must find a u version
    // at or before it
    wh.save("u", Seq((1L, "a")).toDF("k", "name").coalesce(1))
    wh.save("t", Seq((1L, 10L)).toDF("k", "v").coalesce(1))
    wh.save("t", Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1))
    // DEFAULT vacuum = keepVersions 1: t retains exactly its head
    // (v2), which is therefore ALSO its retention horizon. Every
    // instant resolves t there — the refusal used to fire on ALL of
    // them, permanently disabling AS-OF on a default-retention table.
    wh.vacuum("t")
    Thread.sleep(10)
    val now = java.time.Instant.now()
    // multi-table cut: t resolves at its NEWEST version — every
    // transaction's effects on t are fully included, no tear can hide
    val cut = wh.snapshotTablesAt(Seq("t", "u"), now)
    assert(cut("t").count() == 2 && cut("u").count() == 1)
    // single-table cut: no second table to disagree with — resolves
    // even at a non-head horizon
    assert(wh.snapshotTablesAt(Seq("t"), now)("t").count() == 2)
    // the guard still fires where it must: a multi-table instant
    // resolving t at a vacuumed horizon that is NOT the head (reaped
    // txn tags below, later commits above — the hideable-tear shape)
    wh.save("t",
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v").coalesce(1))
    val midStamp = java.time.Instant
      .parse(wh.history("t").takeRight(2).head.committedAt)
    wh.vacuum("t", 0L, 2) // retains v2 (horizon, > 1) and v3 (head)
    val refused = intercept[IllegalArgumentException] {
      wh.snapshotTablesAt(Seq("t", "u"), midStamp)
    }
    assert(refused.getMessage.contains("retention horizon"),
      refused.getMessage)
  }

  test("dw_ view: a save inside a transaction stays invisible to other threads until the commit") {
    val dir = tmp("wh_txn_view")
    val wh = new Warehouse(spark, dir)
    wh.save("t", Seq(1L, 2L).toDF("k").coalesce(1))
    def countElsewhere(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong(-1L)
      val th = new Thread(() => n.set(spark.table("dw_t").count()))
      th.start(); th.join()
      n.get
    }
    assert(countElsewhere() == 2L)
    wh.transaction(Seq("t")) {
      wh.save("t", Seq(1L, 2L, 3L).toDF("k").coalesce(1))
      assert(countElsewhere() == 2L, "dw_t exposed the half-landed batch")
    }
    assert(countElsewhere() == 3L)
  }
}
