package graft.olist

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Olist star-schema warehouse on Spark — the engine with the same
  * capability surface as the reference's `Olist DW.sql` + SSIS package,
  * re-expressed Spark-first.
  *
  * Source tables arrive as a Map of DataFrames (from CSV with declared
  * schemas, Parquet, or test fixtures); warehouse tables are written as
  * Parquet under `basePath` and registered as temp views `dw_<name>`.
  * At cluster scale `basePath` is a distributed store and the fact
  * tables are written partitioned by year (SURVEY §4: partition pruning
  * on the date axis; dims stay broadcast-sized and unpartitioned).
  *
  * Tables commit through a version manifest (the minimal
  * transactional core of a table format): every write publishes a new
  * immutable file-list version, reads resolve one version per
  * DataFrame, and superseded files survive until [[vacuum]] — so
  * compaction and partition upserts are snapshot-consistent for
  * concurrent readers instead of exposing partial directory listings.
  */
class Warehouse(val spark: SparkSession, basePath: String,
    format: String = "parquet",
    lockAcquireMs: Long = 30000, val lockStaleMs: Long = 600000,
    checkpointEvery: Int = 16) {
  import Normalize.norm
  import Warehouse.{DataFile, ColRange, DvRef}

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[Warehouse])

  require(Seq("parquet", "orc", "json", "csv").contains(format),
    s"unsupported warehouse format: $format")

  /** Serializes read-modify-write manifest commits per table within
    * this JVM, so concurrent writers in one application (e.g. two
    * streams into the same table) cannot erase each other's commit
    * between a manifest read and the version swap. CROSS-process
    * writers remain single-writer-per-table by contract: the
    * rename-no-overwrite commit detects same-version races on stores
    * with atomic-exclusive rename (HDFS), it does not resolve them. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withCommitLock[T](name: String)(f: => T): T = {
    val tx = txnState.get()
    if (tx != null) {
      // the transaction already holds this table's monitor + file lock
      // for its whole lifetime; re-acquiring would self-deadlock on the
      // (non-reentrant) file lock. Undeclared tables refuse loudly —
      // their locks are NOT held, so a commit there could interleave
      // with another writer and break the all-or-nothing contract.
      require(tx.tables.contains(name),
        s"transaction over [${tx.tables.mkString(", ")}] cannot write " +
          s"undeclared table '$name' — declare every table the body commits to")
      f
    } else commitLocks.computeIfAbsent(name, _ => new Object).synchronized {
      val token = acquireTableLock(name)
      // heartbeat: a rewrite running under the lock (merge/delete/
      // update/compact of a big table) can outlive lockStaleMs;
      // refreshing the mtime while genuinely alive keeps a slow commit
      // from being mistaken for a crashed writer and hijacked mid-swap.
      // One shared daemon timer per warehouse — no thread per commit.
      val beat = startHeartbeat(name)
      try f finally {
        beat.cancel()
        releaseTableLock(name, token)
      }
    }
  }

  /** Schedules the lock-mtime heartbeat for `name` on the shared daemon
    * timer; caller cancels the returned task when the lock is released. */
  private def startHeartbeat(name: String): java.util.TimerTask = {
    val period = math.max(lockStaleMs / 3, 1000L)
    val beat = new java.util.TimerTask {
      // ANY throwable escaping a TimerTask kills the shared daemon
      // Timer thread, after which every schedule() on this warehouse
      // throws — all commits would permanently fail. setTimes can
      // throw beyond IOException (UnsupportedOperationException on
      // several object-store filesystems), so swallow NonFatal; an
      // FS that cannot refresh mtimes stops beating after the first
      // failure (the takeover window then reverts to plain
      // lockStaleMs — degraded, never fatal).
      override def run(): Unit =
        try metaFs.setTimes(lockPath(name),
          System.currentTimeMillis, -1)
        catch {
          case _: java.io.IOException => () // lock gone: noop
          case scala.util.control.NonFatal(_) => cancel()
        }
    }
    heartbeatTimer.schedule(beat, period, period)
    beat
  }

  private lazy val heartbeatTimer =
    new java.util.Timer("graft-lock-heartbeat", true)

  // ----- cross-process table lock -----------------------------------
  //
  // The in-JVM monitor above serializes writers inside ONE application;
  // this file lock extends the guarantee across processes: a second
  // driver (backfill job, compaction cron) commits through the same
  // `_graft_meta/txn/<name>/_lock`. Acquisition is an atomic
  // create-exclusive (O_CREAT|O_EXCL via java.nio on local filesystems,
  // where Hadoop's RawLocalFileSystem create/rename both silently
  // overwrite; FileSystem.create(overwrite=false) on HDFS-like stores,
  // where it IS atomic). A crashed holder is detected by lock-file age
  // (mtime, not content — content reads of a just-created lock can race)
  // and taken over by renaming the stale lock to a tombstone first, so
  // two takeover candidates cannot both think they cleared the way: only
  // the one whose rename succeeds retries the create. `lockStaleMs` must
  // exceed the longest commit (a merge's partition rewrite runs under
  // the lock); the default 10 min is sized for that, not for append
  // latency. Object stores without atomic create (S3 pre-conditional-
  // put) need a real lock service — same contract as production table
  // formats.
  private def lockPath(name: String) =
    new org.apache.hadoop.fs.Path(txnDir(name), "_lock")

  private def tryCreateExclusive(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, payload: Array[Byte]): Boolean =
    try {
      fs match {
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          val nio = java.nio.file.Paths.get(p.toUri.getPath)
          try {
            java.nio.file.Files.write(nio, payload,
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        case _ =>
          val out = fs.create(p, false)
          try out.write(payload) finally out.close()
          true
      }
    } catch { case _: java.io.IOException => false }

  /** Blocks until the table lock is held (returns the ownership token)
    * or `lockAcquireMs` elapses (throws — a stuck writer should be
    * loud, not silently skipped). */
  private def acquireTableLock(name: String): String = {
    val fs = metaFs
    val dir = txnDir(name)
    fs.mkdirs(dir)
    val lock = lockPath(name)
    val token = java.util.UUID.randomUUID.toString
    val payload = token.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val deadline = System.currentTimeMillis + lockAcquireMs
    while (true) {
      if (tryCreateExclusive(fs, lock, payload)) return token
      val stale =
        try System.currentTimeMillis -
          fs.getFileStatus(lock).getModificationTime > lockStaleMs
        catch { case _: java.io.IOException => false } // vanished: retry create
      if (System.currentTimeMillis > deadline)
        throw new IllegalStateException(
          s"could not acquire commit lock for $name within ${lockAcquireMs}ms " +
            s"(held by another writer; lock: $lock)")
      else if (stale) {
        // tombstone-rename: exactly one takeover candidate wins the
        // rename and proceeds to the create race; losers just loop
        val tomb = new org.apache.hadoop.fs.Path(dir,
          s"._lock.stale.${token.take(8)}")
        try if (fs.rename(lock, tomb)) fs.delete(tomb, false)
        catch { case _: java.io.IOException => () }
      } else Thread.sleep(50)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Non-blocking table-lock attempt: Some(token) iff the lock was
    * free RIGHT NOW — no waiting, no stale takeover. For maintenance
    * that must never block a live writer (vacuum's record sweep): on
    * contention the caller defers to its next run instead of queuing
    * behind an open transaction. */
  private def tryTableLock(name: String): Option[String] = {
    val fs = metaFs
    fs.mkdirs(txnDir(name))
    val token = java.util.UUID.randomUUID.toString
    if (tryCreateExclusive(fs, lockPath(name),
        token.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      Some(token)
    else None
  }

  /** Runs `body` under the table lock IF it is immediately available
    * (or already held by this thread's open transaction over `name`);
    * returns false without running otherwise. The vacuum sweeps ride
    * this: airtight against concurrent pin commits when they run,
    * never blocking the writer path when they don't. */
  private def withTryLock(name: String)(body: => Unit): Boolean = {
    val tx = txnState.get()
    if (tx != null && tx.tables.contains(name)) { body; true }
    else commitLocks.computeIfAbsent(name, _ => new Object).synchronized {
      tryTableLock(name) match {
        case Some(token) =>
          val beat = startHeartbeat(name)
          try { body; true }
          finally { beat.cancel(); releaseTableLock(name, token) }
        case None => false
      }
    }
  }

  /** Deletes the lock only if we still own it — if a (mis-sized)
    * staleness takeover hijacked it mid-commit, the new owner's lock
    * must survive. */
  private def releaseTableLock(name: String, token: String): Unit = {
    val fs = metaFs
    val lock = lockPath(name)
    try {
      val in = fs.open(lock)
      val held =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) == token
        finally in.close()
      if (held) fs.delete(lock, false)
    } catch { case _: java.io.IOException => () } // taken over or gone
  }

  // ----- cross-table atomic transaction ------------------------------
  //
  // A fact+dim load that must be seen together gets a parent commit
  // record both tables' manifests reference: every version committed
  // inside `transaction` carries `#txn:<id>` in its metadata, and such
  // a version is INVISIBLE to every reader until the parent marker
  // `_graft_meta/_txn/<id>.committed` exists (one atomic
  // rename-no-overwrite — the transaction's single commit point).
  // Readers resolving a table head whose record is tagged with an
  // uncommitted txn step back to the last visible version, so a racing
  // reader either sees NO table's txn writes or ALL of them — never one
  // side without the other. The transaction holds every declared
  // table's commit lock for its whole lifetime (sorted acquisition, so
  // two transactions over overlapping table sets cannot deadlock);
  // body failure rolls the tagged tail records back and leaves every
  // table at its pre-transaction version. A crash between table
  // commits and the marker leaves tagged tails that readers skip and
  // the next locked writer rolls back — all-or-nothing either way.

  private final case class TxnState(id: String, tables: Seq[String],
      preHeads: Map[String, Long],
      locks: List[(String, String, java.util.TimerTask)])
  private val txnState = new ThreadLocal[TxnState]
  /** Positive-only cache: a committed marker never disappears. */
  private val committedTxns =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  private def txnMarkerPath(id: String, state: String) =
    new org.apache.hadoop.fs.Path(s"$basePath/_graft_meta/_txn/$id.$state")

  /** Is a `#txn:`-tagged record visible: yes for the owning thread
    * (a transaction reads its own uncommitted writes), else only once
    * the parent committed marker exists. */
  private def txnVisible(id: String): Boolean = {
    val tx = txnState.get()
    (tx != null && tx.id == id) || committedTxns.contains(id) || {
      val ok = metaFs.exists(txnMarkerPath(id, "committed"))
      if (ok) committedTxns.put(id, ())
      ok
    }
  }

  /** Roll back this table's tagged-but-uncommitted tail records (if
    * any) down to the last visible version. Safe ONLY under the
    * table's commit lock: a live transaction holds its tables' locks
    * for its whole lifetime, so a tagged tail observed while holding
    * the lock has no live owner. */
  private def rollbackInvisibleTail(name: String): Unit =
    headVersion(name).foreach { ph =>
      var v = ph
      while (v >= 1 && metaOfVersion(name, v).get(TxnMeta)
          .exists(id => !txnVisible(id))) {
        metaFs.delete(deltaPath(name, v), false)
        metaFs.delete(manifestPath(name, v), false)
        v -= 1
      }
      if (v != ph) {
        snapshotCache.remove(name)
        if (v >= 1) writeHeadHint(name, v)
        else metaFs.delete(headHintPath(name), false)
        log.warn(s"rolled back abandoned transaction tail of $name: " +
          s"v${v + 1}..v$ph (no committed parent marker)")
      }
    }

  /** Opens a cross-table transaction on THIS thread: acquires every
    * declared table's commit lock (sorted — two transactions over
    * overlapping sets cannot deadlock) and holds them until
    * [[commitTransaction]]/[[rollbackTransaction]]. Every write this
    * thread performs on the declared tables commits tagged and
    * invisible until the parent marker lands. The explicit-scope form
    * the statement-at-a-time SQL surface needs; prefer the scoped
    * [[transaction]] from code. While open, OTHER writers to the
    * declared tables wait on the file lock up to `lockAcquireMs` then
    * fail loudly — size long transactions accordingly. */
  def beginTransaction(names: Seq[String]): Unit = {
    require(names.nonEmpty, "transaction: declare at least one table")
    require(txnState.get() == null,
      "transaction: already inside a transaction (nesting unsupported)")
    val tables = names.distinct.sorted // sorted ⇒ deadlock-free acquisition
    val held = scala.collection.mutable.ListBuffer
      .empty[(String, String, java.util.TimerTask)]
    try {
      tables.foreach { n =>
        val token = acquireTableLock(n)
        held += ((n, token, startHeartbeat(n)))
      }
      // heal any crash-abandoned tail first, so preHeads are the true
      // pre-transaction versions (we hold every declared lock)
      tables.foreach(rollbackInvisibleTail)
      val id = java.util.UUID.randomUUID.toString
      val preHeads = tables.map(n =>
        n -> headVersion(n).getOrElse(0L)).toMap
      // intent marker (observability + abort audit; correctness rides
      // solely on the committed marker's existence)
      writeRecord(txnMarkerPath(id, "pending").getParent,
        txnMarkerPath(id, "pending"),
        (Seq(s"#txn:$id", s"#startedAt:${java.time.Instant.now}") ++
          tables.map(n => s"${n}:${preHeads(n)}")).mkString("\n"))
      txnState.set(TxnState(id, tables, preHeads, held.toList))
    } catch {
      case e: Throwable =>
        txnState.remove()
        held.foreach { case (n, token, beat) =>
          beat.cancel(); releaseTableLock(n, token) }
        throw e
    }
  }

  private def releaseTxnLocks(tx: TxnState): Unit =
    tx.locks.foreach { case (n, token, beat) =>
      beat.cancel(); releaseTableLock(n, token) }

  private def rollbackOpen(tx: TxnState): Unit = {
    txnState.remove() // own tail is now invisible to us too
    try {
      tx.tables.foreach(rollbackInvisibleTail)
      metaFs.delete(txnMarkerPath(tx.id, "pending"), false)
      tx.tables.foreach(refreshView)
    } finally releaseTxnLocks(tx)
  }

  /** THE commit point of the open transaction: one rename-no-overwrite
    * publishes the parent marker, flipping every tagged version
    * visible at once (table records are already hsync'd, so the
    * ordering is durable). A marker-write failure rolls the whole
    * transaction back — it never half-lands. */
  def commitTransaction(): Unit = {
    val tx = txnState.get()
    require(tx != null, "commitTransaction: no open transaction")
    val landed =
      try writeRecord(txnMarkerPath(tx.id, "committed").getParent,
        txnMarkerPath(tx.id, "committed"),
        (Seq(s"#txn:${tx.id}", s"#committedAt:${java.time.Instant.now}") ++
          tx.tables.map(n => s"${n}:${headVersion(n).getOrElse(0L)}"))
          .mkString("\n"))
      catch { case e: Throwable => rollbackOpen(tx); throw e }
    if (!landed) {
      rollbackOpen(tx)
      throw new IllegalStateException(
        s"transaction ${tx.id}: committed-marker collision — duplicate txn id?")
    }
    committedTxns.put(tx.id, ())
    txnState.remove()
    try {
      metaFs.delete(txnMarkerPath(tx.id, "pending"), false)
      tx.tables.foreach(refreshView)
    } finally releaseTxnLocks(tx)
  }

  /** Aborts the open transaction: every declared table rolls back to
    * its pre-transaction version (tables born inside vanish), staged
    * data files are left for vacuum like any lost commit's. */
  def rollbackTransaction(): Unit = {
    val tx = txnState.get()
    require(tx != null, "rollbackTransaction: no open transaction")
    rollbackOpen(tx)
  }

  /** Reclaims cross-table transaction marker files
    * (`_graft_meta/_txn/<id>.{committed,pending}`) that no log record
    * of any table still references — the marker-lifecycle counterpart
    * of per-table [[vacuum]]. A committed marker must outlive every
    * record tagged with its id (time travel to a tagged version
    * re-checks it), so referenced ids are collected from EVERY
    * table's surviving records first; run AFTER per-table vacuums so
    * freshly-dropped history releases its markers. Pending markers
    * are observability-only (correctness rides on `.committed`), so
    * an unreferenced one — a rolled-back or healed transaction's —
    * always reclaims. Returns the number of markers deleted. */
  def vacuumTxnMarkers(): Int = {
    val fs = metaFs
    val markerDir = txnMarkerPath("x", "x").getParent
    if (!fs.exists(markerDir)) 0
    else {
      // every id any surviving record of any table still carries
      val logsRoot = new org.apache.hadoop.fs.Path(s"$basePath/_graft_meta/txn")
      def referencedIds(): Set[String] =
        if (!fs.exists(logsRoot)) Set.empty
        else fs.listStatus(logsRoot).iterator.filter(_.isDirectory)
          .map(_.getPath.getName).flatMap { t =>
            logVersions(t).iterator.flatMap(v =>
              metaOfVersion(t, v).get(TxnMeta))
          }.toSet
      val referenced = referencedIds()
      // an OPEN transaction's id is referenced even before its first
      // commit — never reclaim the live txn's pending marker
      val live = Option(txnState.get()).map(_.id).toSet
      val candidates = fs.listStatus(markerDir).iterator.map(_.getPath)
        .filter { p =>
          val n = p.getName
          (n.endsWith(".committed") || n.endsWith(".pending")) &&
            !referenced.contains(n.substring(0, n.lastIndexOf('.'))) &&
            !live.contains(n.substring(0, n.lastIndexOf('.')))
        }.toSeq
      // A concurrent transaction lands its tagged RECORDS before its
      // MARKER, so any marker present in the listing above belongs to a
      // transaction whose records were already on disk when the listing
      // ran. The first log scan, however, ran BEFORE the listing and can
      // miss exactly those records — deleting on its word alone would
      // orphan a freshly committed transaction (its tagged versions turn
      // invisible and the next writer's rollback drops them). A second
      // scan, started AFTER the listing, necessarily sees every record of
      // every listed marker's transaction — so candidates absent from it
      // too are genuinely unreferenced.
      val dead =
        if (candidates.isEmpty) candidates
        else {
          val confirmed = referencedIds()
          candidates.filter { p =>
            val n = p.getName
            !confirmed.contains(n.substring(0, n.lastIndexOf('.')))
          }
        }
      dead.foreach(fs.delete(_, false))
      dead.size
    }
  }

  /** Runs `body` as ONE atomic commit across `names`: every write the
    * body performs on the declared tables becomes visible to readers
    * together — at the moment the parent marker lands — or, on body
    * failure, not at all (each table rolls back to its
    * pre-transaction version). The body uses the normal API
    * (`append`, `save`, `delete`, `merge`, …) and reads its own
    * uncommitted writes; writes to undeclared tables refuse. Nested
    * transactions refuse (no savepoint semantics to hide behind).
    * Data files staged by a rolled-back body are unreferenced and
    * reclaimed by vacuum, like any lost commit's. The session
    * `dw_<table>` views refresh only at the outcome, so SQL readers
    * never see a half-landed batch either. */
  def transaction[T](names: Seq[String])(body: => T): T = {
    beginTransaction(names)
    val result =
      try body
      catch {
        case e: Throwable =>
          if (txnState.get() != null) rollbackTransaction()
          throw e
      }
    commitTransaction()
    result
  }

  /** Re-point the session `dw_<name>` view at the current visible
    * snapshot (no-op for a table with no visible version). */
  private def refreshView(name: String): Unit =
    if (currentManifest(name).isDefined)
      read(name).createOrReplaceTempView(s"dw_$name")

  /** A table's write layout: partition columns, cluster columns and
    * kind, bloom columns (the point-lookup complement of min/max stats,
    * for high-cardinality ids and digests) and [[statsBy]]'s declared
    * stats columns. It is TABLE
    * layout, not a per-write option: append/compact/merge must re-apply
    * it or they silently corrupt partition discovery and destroy the
    * row-group-skipping property. The committed manifest meta is its
    * one store; writes that commit a NEW layout (save, recluster) pass
    * it down explicitly. */
  private final case class Layout(parts: Seq[String] = Nil,
      cluster: Seq[String] = Nil, kind: String = LinearKind,
      bloom: Seq[String] = Nil, stats: Seq[String] = Nil)

  private def layoutOf(meta: Map[String, String]): Layout = {
    def cols(k: String): Seq[String] = meta.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    Layout(cols(PartsMeta), cols(ClusterMeta),
      meta.get(ClusterKindMeta).filter(_.nonEmpty).getOrElse(LinearKind),
      cols(BloomMeta), cols(StatsByMeta))
  }

  /** The committed layout of `name` (empty when it has no snapshot). */
  private def layoutOf(name: String): Layout =
    layoutOf(currentManifestFull(name).map(_._3).getOrElse(Map.empty))

  /** The table-definition meta a commit creating a table records:
    * schema plus layout, so every later reader — this instance or a
    * fresh one over the same store — sees the declared definition. */
  private def definitionMeta(sc: org.apache.spark.sql.types.StructType,
      lay: Layout): Map[String, String] =
    Map(SchemaMeta -> sc.json, PartsMeta -> lay.parts.mkString(","),
      ClusterMeta -> lay.cluster.mkString(","), ClusterKindMeta -> lay.kind,
      BloomMeta -> lay.bloom.mkString(","))

  /** [[definitionMeta]] under an empty layout when the commit about to
    * land creates the table. */
  private def bornMeta(creating: Boolean,
      sc: org.apache.spark.sql.types.StructType): Map[String, String] =
    if (creating) definitionMeta(sc, Layout()) else Map.empty

  private def partitionColsOf(name: String): Seq[String] = layoutOf(name).parts

  /** Declare extra statistics columns for a table: every
    * later write records min/max ranges AND an HLL NDV sketch for
    * `cols` alongside the cluster/bloom stats, and THIS call re-collects
    * stats for the current snapshot in one columnar pass (files keep
    * their bytes and deletion vectors — only manifest entries change),
    * so the declaration takes effect immediately.
    *
    * Why it exists: NDV sketches otherwise ride only the indexed
    * (cluster ∪ bloom) columns, so a join on any other column plans
    * stats-blind — the CBO's join reordering needs distinct counts for
    * the keys actually joined on. Declaring the known join keys here is
    * the ANALYZE-shaped fix; at 100 TB the one-time pass is the same
    * cost as the ANALYZE every warehouse already schedules.
    *
    * `cols = Nil` clears the declaration (future writes stop sketching
    * the extras; existing manifest entries keep theirs until rewritten). */
  def statsBy(name: String, cols: Seq[String]): Unit = {
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name)
        .map(t => (t._2, t._3)).getOrElse(
          throw new IllegalArgumentException(
            s"statsBy: $name has no committed snapshot"))
      val sc = tableSchema(name)
      val lay = layoutOf(meta).copy(stats = cols)
      val bad = cols.filterNot(sc.fieldNames.contains)
      require(bad.isEmpty,
        s"statsBy: unknown column(s) ${bad.mkString(", ")} on $name")
      require(cols.forall(!lay.parts.contains(_)),
        "statsBy: partition columns already prune by directory")
      // stats columns are layout-bearing (requireRenameable blocks
      // rename-after-declare); the mirror refusal — a PREVIOUSLY
      // renamed column cannot be declared: files store it under its
      // frozen physical name, so both this re-analyze and every
      // append-time collectStats (which works on the physical schema)
      // would silently see nothing and hand the CBO empty sketches.
      val renamed = cols.filter(c =>
        colMapOf(meta).get(c).exists(_ != c))
      require(renamed.isEmpty,
        s"statsBy: ${renamed.mkString(", ")} on $name was renamed " +
          "(physical name differs) — stats collection keys by physical " +
          "column name; declare before renaming, or rename back")
      // immediate re-analyze: one stats pass over the snapshot's own
      // files (clone-borrowed ".." paths keep their old entries — their
      // owner re-analyzes them); DV refs survive entry replacement
      val (own, borrowed) = files.partition(!_.path.contains(".."))
      val byPath = files.map(f => f.path -> f).toMap
      val recollected = collectStats(name, own.map(_.path), sc, lay)
        .map(f => f.copy(dv = byPath(f.path).dv))
      commitManifest(name, recollected ++ borrowed,
        Map(StatsByMeta -> cols.mkString(",")), op = "statsby")
    }
  }

  /** Re-applies the table's recorded clustering to rows about to be
    * written.
    *
    * Linear: sort WITHIN each task by (partition cols ++ cluster cols)
    * — no extra shuffle; row-group min/max stats on the cluster columns
    * get tight, and with them the per-FILE stats the manifest records.
    *
    * Z-order: range-distribute by (partition cols, z) then sort by the
    * same — one extra shuffle per write, but output files cover
    * DISJOINT z-ranges, so the per-file min/max of EVERY z dimension is
    * narrow and a predicate on any subset of the z columns skips files.
    * Linear clustering only ever achieves that for its leading column.
    * The z lanes are scaled by the written batch's own min/max (one
    * driver-side bounds agg): batch-relative scaling only affects
    * cross-batch LOCALITY, never correctness — skipping always compares
    * against the real recorded column stats, not z-values. */
  private def clustered(df: DataFrame, lay: Layout): DataFrame = {
    val (parts, cluster) = (lay.parts, lay.cluster)
    if (cluster.isEmpty) df
    else if (lay.kind == ZOrderKind) {
      require(!df.columns.contains(ZCol), s"column name $ZCol is reserved")
      val keyed = df.withColumn(ZCol, graft.operators.ZOrder.zvalue(df, cluster))
      val keys = (parts :+ ZCol).map(col)
      // without an explicit count AQE sizes the range partitions to its
      // advisory target (≈64 MB files) — the production default; AQE
      // only ever merges ADJACENT ranges, so coalesced files still
      // cover disjoint z-ranges and skipping is preserved. The session
      // conf pins an exact file count when callers need one (tests,
      // file-count SLAs).
      val repartitioned =
        spark.conf.getOption("graft.layout.partitions").map(_.toInt) match {
          case Some(n) => keyed.repartitionByRange(n, keys: _*)
          case None => keyed.repartitionByRange(keys: _*)
        }
      repartitioned.sortWithinPartitions(keys: _*).drop(ZCol)
    } else df.sortWithinPartitions((parts ++ cluster).map(col): _*)
  }

  /** S4 CTAS-style sink + `dw_<name>` view registration (reference:
    * SELECT..INTO, Olist DW.sql:64-67 etc.). The write commits through
    * the version manifest (see [[commitManifest]]): data files land
    * first, the manifest swap is the atomic commit point, and readers
    * pinned to the previous version keep a complete snapshot.
    *
    * `clusterBy` sorts rows by the given columns WITHIN each output
    * file (no extra shuffle): parquet/orc then record tight per-row-
    * group min/max stats on those columns, so point/range filters skip
    * whole row groups at scan time — the poor man's Z-ORDER, and the
    * second lever (after partition pruning) that decides how little of
    * 100 TB a selective query reads. The partition columns prefix the
    * sort so the partitioned writer's own required ordering is already
    * satisfied and doesn't re-sort away the clustering.
    *
    * `zorder = true` (≥2 cluster columns) switches the
    * layout to a bit-interleaved z-order over `clusterBy`: files cover
    * disjoint z-ranges, so selective predicates on ANY of the cluster
    * columns — not just the leading one — skip files via the manifest's
    * per-file min/max stats (see [[scan]]).
    *
    * `bloomBy` records a per-file bloom filter over each
    * named column: the point-lookup complement of min/max stats for
    * high-cardinality columns (ids, digests) where every file spans the
    * whole value space. An equality [[scan]] on a bloom column reads
    * only the files whose sketch admits the key — no sort, no index.
    * Sketch size per file per column is `graft.bloom.bits` (default
    * 2^17 ≈ 16 KB; size it against expected rows-per-file ×
    * `graft.bloom.items` for the target false-positive rate). */
  def save(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil, zorder: Boolean = false,
      bloomBy: Seq[String] = Nil): DataFrame = {
    require(!zorder || clusterBy.size >= 2,
      "zorder needs at least two cluster columns (one column = linear clusterBy)")
    val lay = Layout(partitionBy, clusterBy,
      if (zorder) ZOrderKind else LinearKind, bloomBy, layoutOf(name).stats)
    val files = stageWrite(name, clustered(df, lay), lay, mapCols = false)
    // overwrite: new snapshot is the new files; the schema rides the
    // SAME atomic commit so no crash window can separate data from
    // its definition, and tableAt reads each version with the
    // schema it was committed under. A full rewrite resets the
    // rename/drop column mapping — the new files ARE the schema.
    withCommitLock(name) {
      commitManifest(name, files, definitionMeta(df.schema, lay) ++
        Map(ColMapMeta -> "", DroppedMeta -> ""), op = "save")
    }
    read(name)
  }

  /** S5/S7 append sink (reference: SSIS fast-load `Package.dtsx:281-445`;
    * INSERT..SELECT `Olist DW.sql:71-75`). Parquet append is bulk and
    * atomic per task — the moral equivalent of TABLOCK fast load.
    *
    * Schema evolution (add-column): a delta carrying NEW
    * columns widens the table schema in the same commit — existing
    * files simply lack the column and read as NULL (the columnar
    * add-column semantics of production table formats, no rewrite of
    * old data). Dropping or retyping columns is rejected loudly. */
  def append(name: String, df: DataFrame): Unit = {
    val (aligned0, widened) = alignDelta(name, df, allowWiden = true)
    val aligned = enforceChecks(name, aligned0)
    val files = stageLaidOut(name, aligned)
    withCommitLock(name) {
      val old = currentManifest(name).map(_._2)
      commitManifest(name, old.getOrElse(Nil) ++ files,
        bornMeta(old.isEmpty, aligned.schema) ++
          widened.map(m => Map(SchemaMeta -> m.json)).getOrElse(Map.empty),
        op = "append")
    }
    maybeAutoCompact(name, files.map(f => partitionPrefix(f.path)).toSet)
  }

  /** Opt-in small-file auto-compaction (the production "auto optimize"
    * pattern): with `graft.autocompact.minFiles` set to N > 0, an
    * [[append]] that leaves its target — the whole table when
    * unpartitioned, each partition the append touched when
    * partitioned — holding ≥ N files triggers an inline compaction of
    * JUST that target. Bounded work rides the write that caused it, so
    * a many-small-appends workload (the micro-batch shape) never
    * degrades into a thousands-of-files scan; untouched partitions'
    * files stay byte-identical.
    *
    * Best-effort maintenance, decided under the commit lock against
    * the freshest snapshot: mixed write-time layouts (see
    * [[repartitionTable]]) are skipped silently — the append must not
    * fail over a maintenance nicety. NOTE: compaction is a rewrite
    * commit, which an append-only change-feed consumer (tableChanges /
    * the graft-changes source) refuses loudly — leave the knob unset
    * on tables consumed as feeds (the row-level feed handles rewrites
    * fine). */
  private def maybeAutoCompact(name: String, touched: Set[String]): Unit = try {
    // best-effort means EXACTLY that: a malformed knob value or a
    // cross-process commit conflict during the compaction's own commit
    // must not make the append that already succeeded look failed
    val minFiles = spark.conf.getOption("graft.autocompact.minFiles")
      .flatMap(_.trim.toIntOption).getOrElse(0)
    // size-tiered mode (`graft.autocompact.targetRows` = R > 0): only
    // files below R LIVE rows (committed minus DV — compactSmall's
    // currency) count toward the trigger and only THEY rewrite; a
    // partition's already-compact files keep their paths on every
    // append. This is the steady-state shape at 100 TB — without it a
    // hot partition re-rewrites its big files on every Nth micro-batch,
    // O(partition) write amplification for O(debris) worth of mess.
    // The folded file grows across triggers until it crosses R, then
    // ages out of the small set and stops being touched. Files
    // predating row stats count as small (they're legacy debris).
    // Knob unset → the original whole-target rewrite, unchanged.
    val targetRows = spark.conf.getOption("graft.autocompact.targetRows")
      .flatMap(_.trim.toLongOption).getOrElse(0L)
    val small: Warehouse.DataFile => Boolean = f =>
      targetRows <= 0 || f.stats.get(RowsKey)
        .map(_._1.toLong - f.dv.map(_.rows).getOrElse(0L))
        .forall(_ < targetRows)
    if (minFiles > 0) withCommitLock(name) {
      currentManifestFull(name).foreach { case (_, cur, meta) =>
        val parts = partitionColsOf(name)
        val uniform = cur.forall(f => schemeOf(f.path) == parts)
        val matched: Seq[String] =
          if (!uniform) Nil
          else if (parts.isEmpty) {
            val c = cur.filter(small)
            if (c.size >= minFiles) c.map(_.path) else Nil
          } else cur.groupBy(f => partitionPrefix(f.path))
            .map { case (p, fs) => (p, fs.filter(small)) }
            .filter { case (p, fs) => touched.contains(p) && fs.size >= minFiles }
            .values.flatten.map(_.path).toSeq
        if (matched.nonEmpty) {
          val sc = committedSchema(name, meta)
          val snapshot = fromFiles(name, matched, sc)
          val shaped =
            if (parts.isEmpty) snapshot.coalesce(1)
            else snapshot.repartition(parts.map(col): _*)
          val rewritten = stageLaidOut(name, shaped)
          val untouchedFiles = cur.filterNot(f => matched.contains(f.path))
          commitManifest(name, untouchedFiles ++ rewritten, op = "compact")
        }
      }
    }
  } catch {
    case scala.util.control.NonFatal(e) =>
      log.warn(s"auto-compaction of $name skipped: ${e.getMessage}")
  }

  /** RENAME COLUMN, metadata-only at any table size: the column keeps
    * its frozen PHYSICAL name inside every parquet file (old and
    * future — appends map back before staging); only the logical name
    * in the committed schema and the colmap change. Version-pinned:
    * [[tableAt]] of a pre-rename version still shows the old name.
    *
    * Refused loudly for layout-bearing columns — partition, cluster,
    * and bloom columns key directory names, per-file stats, and
    * sketches by name — and for columns referenced by a CHECK
    * constraint (its expression text would silently stop matching).
    * The target name must be free: not a current column, not a dropped
    * column's physical name (stale data exists in old files), not
    * another column's physical name. */
  def renameColumn(name: String, from: String, to: String): Unit = {
    require(from != to, s"renameColumn: $from -> $to is a no-op")
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"renameColumn: $name has no committed snapshot")
      }
      val sc = committedSchema(name, meta)
      require(sc.fieldNames.contains(from),
        s"renameColumn: no column $from in ${sc.fieldNames.mkString(", ")}")
      requireRenameable(name, meta, from, "renameColumn")
      val cm = colMapOf(meta)
      require(!sc.fieldNames.contains(to),
        s"renameColumn: column $to already exists")
      require(!droppedOf(meta).contains(to) && !cm.valuesIterator.contains(to),
        s"renameColumn: $to collides with a physical column name " +
          "still present in data files")
      val physical = cm.getOrElse(from, from)
      val newMap = (cm - from) ++
        (if (to == physical) Map.empty[String, String]
         else Map(to -> physical))
      val newSchema = org.apache.spark.sql.types.StructType(
        sc.map(f => if (f.name == from) f.copy(name = to) else f))
      commitManifest(name, files, Map(SchemaMeta -> newSchema.json,
        ColMapMeta -> encodeColMap(newMap)), op = "rename-column")
    }
  }

  /** DROP COLUMN, metadata-only: the physical column stays in old
    * files (columnar projection never reads it — zero cost), the
    * schema and mapping forget it, and its physical name is tombstoned
    * so a later add-column cannot silently resurrect stale data under
    * the same name. Same layout-column refusals as [[renameColumn]];
    * version-pinned like everything else in the manifest. */
  def dropColumn(name: String, colName: String): Unit = {
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"dropColumn: $name has no committed snapshot")
      }
      val sc = committedSchema(name, meta)
      require(sc.fieldNames.contains(colName),
        s"dropColumn: no column $colName in ${sc.fieldNames.mkString(", ")}")
      require(sc.size > 1, s"dropColumn: $colName is $name's only column")
      requireRenameable(name, meta, colName, "dropColumn")
      val cm = colMapOf(meta)
      val physical = cm.getOrElse(colName, colName)
      val newSchema = org.apache.spark.sql.types.StructType(
        sc.filterNot(_.name == colName))
      commitManifest(name, files, Map(SchemaMeta -> newSchema.json,
        ColMapMeta -> encodeColMap(cm - colName),
        DroppedMeta -> (droppedOf(meta) + physical).toSeq.sorted
          .mkString(",")), op = "drop-column")
    }
  }

  /** Lossless numeric widenings the parquet vectorized reader promotes
    * on the fly (Spark 4 type-widening support) — old narrow files stay
    * readable under the widened schema with zero rewrite. */
  private def canWiden(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** WIDEN a column's type (int→long, float→double, …), metadata-only:
    * the committed schema changes, old files keep their narrow
    * physical type and the reader promotes per batch — no rewrite at
    * any size. Version-pinned like rename: tableAt of an older version
    * reads with the narrow type it was committed under. Refused for
    * layout-bearing columns — bloom sketches hash the EXACT physical
    * type (an int's and a long's digests differ, so widened probes
    * would wrongly skip files), and partition/cluster metadata is
    * keyed by the declared type. ORC lacks the reader-side promotion,
    * so only parquet/csv/json tables widen. */
  def widenColumn(name: String, colName: String,
      to: org.apache.spark.sql.types.DataType): Unit = {
    require(format != "orc",
      "widenColumn: the ORC reader does not promote types on read")
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"widenColumn: $name has no committed snapshot")
      }
      val sc = committedSchema(name, meta)
      require(sc.fieldNames.contains(colName),
        s"widenColumn: no column $colName in ${sc.fieldNames.mkString(", ")}")
      val f = sc(colName)
      require(canWiden(f.dataType, to),
        s"widenColumn: ${f.dataType} -> $to is not a lossless widening " +
          "(supported: byte/short/int -> wider integral, float -> double)")
      val lay = layoutOf(meta)
      require(!(lay.parts ++ lay.cluster ++ lay.bloom).contains(colName),
        s"widenColumn: $colName is a layout column of $name " +
          "(partition/cluster/bloom metadata is keyed by the declared type)")
      val newSchema = org.apache.spark.sql.types.StructType(
        sc.map(x => if (x.name == colName) x.copy(dataType = to) else x))
      commitManifest(name, files, Map(SchemaMeta -> newSchema.json),
        op = "widen-column")
    }
  }

  /** PARTITION EVOLUTION, metadata-only: change the partition layout
    * for FUTURE writes without touching a byte of existing data — at
    * 100 TB, re-laying a table out (say day→(region,day) once one
    * region dominates) must not mean rewriting 100 TB first. The
    * commit updates only the layout metadata; files written before it
    * keep their directory shape, and the snapshot reader groups the
    * file list by each file's OWN scheme (see [[fromFiles]]) so mixed
    * snapshots read correctly — every column lives either in a file's
    * data or in its directory names, whichever its write-time layout
    * chose.
    *
    * Operations that decide partition membership from file paths
    * (overwritePartitions, merge, compactWhere) refuse on mixed
    * layouts until a [[compact]] normalizes the files — the honest
    * trade production formats make (evolve the spec now, rewrite
    * lazily or never).
    *
    * Renamed columns are refused as partition keys: the directory
    * names would be written under the frozen PHYSICAL name while the
    * caller filters by the logical one. */
  def repartitionTable(name: String, newPartitionBy: Seq[String]): Unit = {
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"repartitionTable: $name has no committed snapshot")
      }
      val sc = committedSchema(name, meta)
      val colMap = colMapOf(meta)
      newPartitionBy.foreach { c =>
        require(sc.fieldNames.contains(c),
          s"repartitionTable: no column $c in ${sc.fieldNames.mkString(", ")}")
        require(!colMap.contains(c),
          s"repartitionTable: $c was renamed (physical name ${colMap(c)}) — " +
            "partition directories key by physical name; rename it back " +
            "or rewrite the table first")
      }
      commitManifest(name, files,
        Map(PartsMeta -> newPartitionBy.mkString(",")), op = "repartition")
    }
  }

  /** Shared rename/drop refusals: layout-bearing columns (partition
    * directories, per-file stats, bloom sketches are all keyed by
    * name) and columns referenced by CHECK expressions. */
  private def requireRenameable(name: String, meta: Map[String, String],
      colName: String, op: String): Unit = {
    val lay = layoutOf(meta)
    require(!lay.parts.contains(colName),
      s"$op: $colName is a partition column of $name")
    require(!lay.cluster.contains(colName),
      s"$op: $colName is a cluster column of $name (per-file stats key)")
    require(!lay.bloom.contains(colName),
      s"$op: $colName is a bloom column of $name (sketches key by name)")
    require(!lay.stats.contains(colName),
      s"$op: $colName is a declared stats column of $name " +
        "(statsBy(name, cols) without it first)")
    val referencing = decodeChecks(meta).filter(c =>
      ("""\b""" + java.util.regex.Pattern.quote(colName) + """\b""").r
        .findFirstIn(c.expr).isDefined)
    require(referencing.isEmpty,
      s"$op: $colName is referenced by check(s) " +
        s"${referencing.map(_.name).mkString(", ")} — drop them first")
  }

  /** Declare a row-level CHECK constraint on a table,
    * enforced on every [[append]] (the fast-load path — reference: the
    * SSIS data flow's per-column `errorRowDisposition`,
    * `Package.dtsx:61,227,349`, which is exactly this knob: FailComponent
    * vs IgnoreFailure vs redirect-to-error-output).
    *
    * `onViolation` dispositions (a row violates when the predicate
    * evaluates FALSE — NULL passes, SQL CHECK semantics):
    *  - `"fail"`       — the whole append throws, nothing commits
    *                     (FailComponent);
    *  - `"drop"`       — violating rows are silently filtered from the
    *                     batch (IgnoreFailure);
    *  - `"quarantine"` — violating rows land in `<table>_rejects` with
    *                     the failing check's name and a timestamp (the
    *                     SSIS error output as a table). The rejects
    *                     write precedes the main commit, so a crashed
    *                     append can leave quarantine rows for a batch
    *                     that never landed (at-least-once diagnostics —
    *                     the safe direction).
    *
    * The check rides the manifest metadata, so it survives every
    * commit, applies from any Warehouse instance, shows in the audit
    * trail (op `alter-check`), and time-travels with [[restore]].
    * Declared order is evaluation order; a row's FIRST failing soft
    * check decides where it goes. Merge/update/streaming writers are
    * trusted (enforcement there would double-scan upsert deltas); the
    * load boundary is the append path, as in the reference. */
  def addCheck(name: String, check: String, exprSql: String,
      onViolation: String = "fail"): Unit = {
    require(Seq("fail", "drop", "quarantine").contains(onViolation),
      s"addCheck: unknown disposition '$onViolation'")
    require(check.nonEmpty && !check.contains(":") && !check.contains("\n"),
      "addCheck: check names must be non-empty, one line, colon-free")
    // the predicate must resolve against the table schema NOW — a
    // check that only explodes at append time is a booby trap
    val sc = tableSchema(name)
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), sc)
    require(probe.select(expr(exprSql).as("__c")).schema.head.dataType ==
        org.apache.spark.sql.types.BooleanType,
      s"addCheck: '$exprSql' is not a boolean predicate over ${sc.fieldNames.mkString(", ")}")
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"addCheck: $name has no committed snapshot")
      }
      val existing = decodeChecks(meta).filterNot(_.name == check)
      val updated = existing :+ Warehouse.Check(check, exprSql, onViolation)
      commitManifest(name, files,
        Map(ChecksMeta -> encodeChecks(updated)), op = "alter-check")
    }
  }

  /** Remove a declared check (op `alter-check` in the audit trail). */
  def dropCheck(name: String, check: String): Unit = {
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"dropCheck: $name has no committed snapshot")
      }
      val kept = decodeChecks(meta).filterNot(_.name == check)
      commitManifest(name, files,
        Map(ChecksMeta -> encodeChecks(kept)), op = "alter-check")
    }
  }

  /** The table's declared checks, in evaluation order. */
  def checks(name: String): Seq[Warehouse.Check] =
    currentManifestFull(name).map(m => decodeChecks(m._3)).getOrElse(Nil)

  private def encodeChecks(cs: Seq[Warehouse.Check]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(cs.map(c =>
      ("name" -> c.name) ~ ("expr" -> c.expr) ~ ("onViolation" -> c.onViolation))))
  }

  private def decodeChecks(meta: Map[String, String]): Seq[Warehouse.Check] =
    meta.get(ChecksMeta).filter(_.nonEmpty).map { s =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(s) match {
        case JArray(items) => items.collect {
          case o: JObject =>
            implicit val fmt: Formats = DefaultFormats
            Warehouse.Check((o \ "name").extract[String],
              (o \ "expr").extract[String],
              (o \ "onViolation").extract[String])
        }
        case _ => Nil
      }
    }.getOrElse(Nil)

  /** Applies the table's declared checks to an append batch: throws on
    * a `fail` violation, filters `drop` rows, routes `quarantine` rows
    * to `<name>_rejects`, returns the clean batch. One extra pass over
    * the DELTA only (never the table) when checks exist; zero cost
    * otherwise. */
  private def enforceChecks(name: String, df: DataFrame): DataFrame = {
    val cs = checks(name)
    if (cs.isEmpty) df
    else {
      val pinned = df.localCheckpoint() // evaluated 2-3×: pin the lineage
      val failing = cs.filter(_.onViolation == "fail")
      if (failing.nonEmpty) {
        val counts = pinned.select(failing.map(c =>
          count(when(expr(c.expr) <=> lit(false), lit(1))).as(c.name)): _*)
          .collect()(0)
        failing.zipWithIndex.foreach { case (c, i) =>
          if (counts.getLong(i) > 0)
            throw new IllegalArgumentException(
              s"append to $name rejected: check '${c.name}' " +
                s"(${c.expr}) fails on ${counts.getLong(i)} row(s)")
        }
      }
      val soft = cs.filterNot(_.onViolation == "fail")
      if (soft.isEmpty) pinned
      else {
        val failCol = coalesce(soft.map(c =>
          when(expr(c.expr) <=> lit(false), lit(c.name))): _*)
        val qNames = soft.filter(_.onViolation == "quarantine").map(_.name)
        if (qNames.nonEmpty) {
          val rejects = s"${name}_rejects"
          val viol = pinned.withColumn("_check", failCol)
            .filter(col("_check").isin(qNames: _*))
            .withColumn("_rejected_at",
              lit(java.time.Instant.now.toString))
          // The save-or-append bootstrap decision must sit under the
          // rejects table's CROSS-PROCESS commit lock, not just this
          // JVM's monitor: two appends from different processes could
          // both observe no snapshot and both save(), the second
          // overwrite discarding the first batch's quarantine rows —
          // losing the at-least-once diagnostics. Stage outside the
          // lock (every writer does), decide inside it: whoever enters
          // second sees the first's commit and appends.
          val existed = currentManifest(rejects).isDefined
          val (aligned, widened) =
            if (existed) alignDelta(rejects, viol, allowWiden = true)
            else (viol, None)
          val staged = stageLaidOut(rejects, aligned)
          withCommitLock(rejects) {
            currentManifest(rejects) match {
              case Some((_, old)) =>
                commitManifest(rejects, old ++ staged,
                  widened.map(m => Map(SchemaMeta -> m.json))
                    .getOrElse(Map.empty), op = "append")
              case None =>
                commitManifest(rejects, staged,
                  definitionMeta(aligned.schema, Layout()), op = "save")
            }
          }
        }
        pinned.filter(failCol.isNull)
      }
    }
  }

  /** Validates a delta against the table's recorded schema
    * and returns it column-aligned to the recorded order (csv maps
    * columns positionally on read; json/orc get one canonical layout).
    * With `allowWiden`, NEW columns extend the schema at the end
    * (add-column evolution) and the widened schema is returned;
    * otherwise the delta must carry exactly the current columns.
    * Retypes and drops are always rejected. */
  private def alignDelta(name: String, df: DataFrame, allowWiden: Boolean)
      : (DataFrame, Option[org.apache.spark.sql.types.StructType]) = {
    val current = tableSchema(name)
    if (current.isEmpty || current == df.schema) (df, None)
    else {
      val curByName = current.map(f => f.name -> f).toMap
      val dByName = df.schema.map(f => f.name -> f).toMap
      df.schema.foreach { f =>
        curByName.get(f.name).foreach { cf =>
          // equal, or a lossless widening in EITHER direction: a
          // narrower delta upcasts into the table's type; a WIDER
          // delta widens the table schema (append-only, like
          // add-column). ORC lacks reader-side promotion, so only
          // non-orc tables widen.
          require(cf.dataType == f.dataType ||
            canWiden(f.dataType, cf.dataType) ||
            (allowWiden && format != "orc" && canWiden(cf.dataType, f.dataType)),
            s"delta for $name cannot retype column ${f.name}: " +
              s"${cf.dataType} -> ${f.dataType}")
        }
      }
      val missing = current.filterNot(f => df.schema.fieldNames.contains(f.name))
      require(missing.isEmpty,
        s"delta for $name drops columns ${missing.map(_.name).mkString(", ")}; " +
          "deltas must carry the full current schema")
      val added = df.schema.filterNot(f => curByName.contains(f.name))
      require(allowWiden || added.isEmpty,
        s"delta for $name adds columns ${added.map(_.name).mkString(", ")}; " +
          "only append() widens the schema")
      // a NEW column must not shadow a physical name still present in
      // old data files (a dropped column's tombstone, or a renamed
      // column's frozen physical name) — the old files' stale values
      // would silently resurface under the new column
      if (added.nonEmpty) {
        val meta = currentManifestFull(name).map(_._3).getOrElse(Map.empty)
        val taken = droppedOf(meta) ++ colMapOf(meta).values
        val shadowing = added.map(_.name).filter(taken.contains)
        require(shadowing.isEmpty,
          s"delta for $name adds column(s) ${shadowing.mkString(", ")} " +
            "whose name matches a dropped or renamed column's physical " +
            "data still present in old files — pick another name or " +
            "rewrite the table (save)")
      }
      // target schema: current columns (types widened where the delta
      // is wider) ++ added columns; deltas upcast into it
      val retargeted = current.map { cf =>
        dByName.get(cf.name) match {
          case Some(f) if allowWiden && canWiden(cf.dataType, f.dataType) =>
            cf.copy(dataType = f.dataType)
          case _ => cf
        }
      }
      val widenedCols = retargeted.zip(current).collect {
        case (r, c) if r.dataType != c.dataType => r.name }
      if (widenedCols.nonEmpty) {
        val lay = layoutOf(name)
        val layout = (lay.parts ++ lay.cluster ++ lay.bloom).toSet
        val bad = widenedCols.filter(layout.contains)
        require(bad.isEmpty,
          s"delta for $name widens layout column(s) ${bad.mkString(", ")} — " +
            "partition/cluster/bloom metadata is keyed by the declared type")
      }
      val target = org.apache.spark.sql.types.StructType(retargeted ++ added)
      val widened =
        if (added.isEmpty && retargeted == current.toSeq) None
        else Some(target)
      (df.select(target.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*), widened)
    }
  }

  /** The table's current schema, as its committed manifest records it
    * (versioned atomically with the data); empty when the table has no
    * snapshot yet. */
  private def tableSchema(name: String): org.apache.spark.sql.types.StructType =
    currentManifestFull(name).flatMap(m => metaSchema(m._3))
      .getOrElse(org.apache.spark.sql.types.StructType(Nil))

  private def metaSchema(meta: Map[String, String])
      : Option[org.apache.spark.sql.types.StructType] =
    meta.get(SchemaMeta).flatMap(j =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)

  /** Partition-scoped overwrite: replace ONLY the partitions present in
    * `df`, leaving every other partition's files physically untouched
    * (Spark's `partitionOverwriteMode=dynamic` semantics). This is what
    * makes the date-grain upsert a bounded rewrite instead of a
    * full-table one — at 100 TB a daily delta touches one `year=`
    * directory, not the table. */
  def overwritePartitions(name: String, df: DataFrame): Unit = {
    val parts = partitionColsOf(name)
    require(parts.nonEmpty, s"overwritePartitions: $name is not partitioned")
    // manifest-level dynamic overwrite: the new snapshot keeps every
    // file OUTSIDE the partitions present in the delta and swaps in
    // the delta's files — untouched partitions' files are not even
    // listed, let alone rewritten, and the swap is atomic
    requireUniformLayout("overwritePartitions", name,
      currentManifest(name).map(_._2).getOrElse(Nil))
    val (aligned, _) = alignDelta(name, df, allowWiden = false)
    val files = stageLaidOut(name, aligned)
    val touched = files.map(f => partitionPrefix(f.path)).toSet
    withCommitLock(name) {
      val kept = currentManifest(name).map(_._2).getOrElse(Nil)
        .filterNot(f => touched.contains(partitionPrefix(f.path)))
      commitManifest(name, kept ++ files, op = "overwrite-partitions")
    }
  }

  /** The partition-directory part of a manifest-relative file path
    * ("year=2018/f.parquet" → "year=2018/"; unpartitioned → ""). */
  private def partitionPrefix(rel: String): String =
    rel.substring(0, rel.lastIndexOf('/') + 1)

  /** Row-level MERGE (the Delta-style upsert) for partitioned
    * tables: delta rows REPLACE target rows carrying the same key —
    * wherever they live — and new keys are inserted. Only partitions
    * that hold delta rows or matched keys are rewritten; everything
    * else is untouched files in the new manifest.
    *
    * Handles the key-moves-partition case `overwritePartitions` cannot:
    * when a delta row lands a key in a NEW partition, the key's old
    * partition is also rewritten without it (even if that empties the
    * partition entirely), so no stale duplicate survives. The affected
    * partition list is collected to the driver — it is bounded by the
    * partitions a delta touches (days/years), never by table size. */
  def merge(name: String, delta: DataFrame, keys: Seq[String]): Unit = {
    mergeImpl(name, delta, keys, Map.empty, None); ()
  }

  /** Exactly-once streaming MERGE micro-batch: [[merge]] semantics with
    * the batch's id committed in the SAME manifest swap (the
    * [[appendStreamBatch]] high-water-mark protocol — exact replay of
    * the last committed batch is skipped, a batchId below the mark is a
    * checkpoint reset and throws). An EMPTY delta still advances the
    * mark with a files-unchanged commit, so a replayed empty batch
    * cannot alias as "never ran". Returns true iff this call changed
    * the table (false = duplicate replay). */
  def mergeStreamBatch(name: String, delta: DataFrame, keys: Seq[String],
      batchId: Long, streamId: String = "stream"): Boolean = {
    val markKey = s"watermark.$streamId"
    val pre = currentManifestFull(name).flatMap(_._3.get(markKey)).map(_.toLong)
    if (pre.contains(batchId)) false
    else if (pre.exists(batchId < _))
      throw new IllegalStateException(
        s"mergeStreamBatch($name, streamId=$streamId): batchId $batchId is " +
          s"below the committed mark ${pre.get} — stream checkpoint was " +
          "reset or two queries share this streamId; use a fresh streamId")
    else mergeImpl(name, delta, keys, Map(markKey -> batchId.toString),
      Some((markKey, batchId)))
  }

  /** Drive a streaming DataFrame of upserts into a
    * partitioned table: the continuous CDC-apply shape (stream of
    * latest-state rows keyed by `keys`), exactly-once via
    * [[mergeStreamBatch]]. The stream must emit at most one row per key
    * per micro-batch (aggregate upstream otherwise) — the same contract
    * as batch [[merge]]. */
  def streamMergeInto(name: String, stream: DataFrame, keys: Seq[String],
      checkpoint: String, streamId: String = "stream")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        mergeStreamBatch(name, batch, keys, id, streamId); ()
      }
      .start()

  private def mergeImpl(name: String, delta: DataFrame, keys: Seq[String],
      extraMeta: Map[String, String], mark: Option[(String, Long)]): Boolean = {
    val parts = partitionColsOf(name)
    require(parts.nonEmpty, s"merge: $name is not partitioned")
    require(keys.nonEmpty, "merge needs at least one key column")
    require(keys.forall(!parts.contains(_)),
      "merge keys must be non-partition columns (a partition value IS part of the key path)")
    // directory-name reconstruction below covers int/long/string/date
    // values (and null/empty via the hive default-partition name);
    // timestamp renders differently on the path than String.valueOf
    require(!tableSchema(name).exists(f => parts.contains(f.name) &&
      (f.dataType == org.apache.spark.sql.types.TimestampType ||
        f.dataType == org.apache.spark.sql.types.TimestampNTZType)),
      s"merge: timestamp partition columns are not supported on $name")
    requireUniformLayout("merge", name,
      currentManifest(name).map(_._2).getOrElse(Nil))
    // pin the delta once: its lineage would otherwise re-execute in the
    // guard, the partition probe, and the rewrite — and a
    // non-deterministic delta could make the dropped-prefix set
    // disagree with the rows actually written (runUpsert pins for the
    // same reason)
    val (aligned0, _) = alignDelta(name, delta, allowWiden = false)
    // the partitioned writer stores an EMPTY string partition value in
    // the hive default partition, where it reads back as null —
    // normalize the delta up front so the path prefixes, the null-safe
    // partition probe, and the rows actually written all agree
    val partTypes = tableSchema(name).map(f => f.name -> f.dataType).toMap
    val emptyNormalized = parts.foldLeft(aligned0) { (d, pc) =>
      if (partTypes.get(pc).contains(org.apache.spark.sql.types.StringType))
        d.withColumn(pc, when(col(pc) === "", lit(null)).otherwise(col(pc)))
      else d
    }
    val aligned = emptyNormalized.localCheckpoint()
    // Delta-MERGE contract: at most one source row per key, keys non-null
    val badKeys = aligned
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 || keys.map(k => col(k).isNull).reduce(_ || _))
      .limit(1).collect()
    require(badKeys.isEmpty,
      s"merge delta for $name has duplicate or null key rows " +
        s"(e.g. ${badKeys.headOption.getOrElse("")}); one source row per key required")
    // in-JVM writers serialize around the whole read-rewrite-commit:
    // the kept rows are derived from the same snapshot the kept-file
    // list is filtered from, so a concurrent append cannot land rows
    // into an affected partition between the two and be erased
    withCommitLock(name) {
      // authoritative replay check under the lock (the pre-check raced)
      val replayed = mark.exists { case (k, b) =>
        currentManifestFull(name).flatMap(_._3.get(k)).map(_.toLong)
          .exists(_ >= b) }
      if (!replayed) {
      val manifestFiles = currentManifest(name).map(_._2).getOrElse(Nil)
      val sc = tableSchema(name)
      val outCols = read(name).columns.toSeq
      val deltaKeys = aligned.select(keys.map(col): _*).distinct()
      val opStamp = if (mark.isDefined) "stream-merge" else "merge"
      // stats/bloom-bounded probe: a file whose key-column stats admit
      // no delta key cannot hold a matched row, so the matched-row
      // scan opens only admitting files. On a key-clustered/bloom'd
      // table a small CDC batch probes a handful of files instead of
      // the table — the merge cost model that survives 100 TB.
      // Missing stats keep files (safe). One columnar pass counts
      // (live, matched) per candidate file; its result drives BOTH the
      // cost-model choice below and the affected-file lists, so no
      // second probe scan ever runs.
      val matched: Map[String, (Long, Long)] = probeMatches(
        "merge", name,
        mergeProbeCandidates(manifestFiles, sc, aligned, keys), sc,
        agg = Seq(count(lit(1)).as("__total"),
          count(col("__dm")).as("__matched")),
        keepIf = _.getLong(2) > 0,
        xform = df => df.join(
          broadcast(deltaKeys.withColumn("__dm", lit(1))),
          keys, "left")).map { case (p, r) =>
        p -> (r.getLong(1), r.getLong(2)) }
      val deltaRows = aligned.count()
      val matchedRows = matched.valuesIterator.map(_._2).sum
      // live table rows from manifest stats (None = a pre-stats file)
      val tableLive: Option[Long] = {
        val cs = manifestFiles.map(_.stats.get(RowsKey).map(_._1.toLong))
        if (cs.forall(_.isDefined))
          Some(cs.flatten.sum - manifestFiles.flatMap(_.dv).map(_.rows).sum)
        else None
      }
      // cost-model fork, delete's policy extended to upserts: a small
      // CDC batch (matched + inserted rows a small fraction of the
      // table) takes FILE surgery — matched rows leave via deletion
      // vectors (or a file rewrite where the file loses a big chunk),
      // the delta appends as new files, and every untouched file
      // survives byte-identical. A large delta keeps the partition
      // rewrite, which also refreshes clustering. O(delta) vs O(table)
      // is the difference between a CDC trickle and a backfill.
      val surgery = dvEnabled && tableLive.exists(t =>
        t > 0 && (matchedRows + deltaRows).toDouble / t <=
          mergeDvPathMaxFraction)
      if (surgery && (deltaRows > 0 || matched.nonEmpty)) {
        val byPath = manifestFiles.map(f => f.path -> f).toMap
        // per-file totals are LIVE rows (the probe read is DV-applied)
        val droppedWhole = matched.collect {
          case (p, (tot, m)) if m == tot => p }.toSet
        val straddling = matched.keySet -- droppedWhole
        val dvTargets = straddling.filter { p =>
          val (tot, m) = matched(p); m.toDouble / tot <= dvMaxFraction }
        val rewrite = straddling -- dvTargets
        val rewritten =
          if (rewrite.isEmpty) Nil
          else stageLaidOut(name, fromFiles(name, rewrite.toSeq.sorted, sc)
            .join(broadcast(deltaKeys), keys, "left_anti")
            .select(outCols.map(col): _*))
        val dvUpdated = writeDvPositions(name, dvTargets.toSeq.sorted,
          byPath,
          fromFiles(name, dvTargets.toSeq.sorted, sc, withPos = true)
            .join(broadcast(deltaKeys), keys, "left_semi")
            .select(col(DvFileCol).as("file"), col(DvPosCol).as("pos")),
          newCount = p => matched(p)._2)
        val deltaFiles =
          if (deltaRows == 0) Nil
          else stageLaidOut(name, aligned.select(outCols.map(col): _*))
        val untouched = manifestFiles.filterNot(f =>
          droppedWhole.contains(f.path) || rewrite.contains(f.path) ||
            dvTargets.contains(f.path))
        // row-level change files: replaced pre-images leave, delta rows
        // arrive — pre-images read from ONLY the matched files
        val inserts = aligned.select(outCols.map(col): _*)
          .withColumn(ChangeTypeCol, lit("insert"))
        writeChangeFiles(name,
          if (matched.isEmpty) inserts
          else fromFiles(name, matched.keySet.toSeq.sorted, sc)
            .join(broadcast(deltaKeys), keys, "left_semi")
            .select(outCols.map(col): _*)
            .withColumn(ChangeTypeCol, lit("delete"))
            .unionByName(inserts))
        commitManifest(name,
          untouched ++ rewritten ++ dvUpdated ++ deltaFiles, extraMeta,
          op = opStamp)
      } else if (deltaRows > 0 || matched.nonEmpty) {
        // hive-style partition dir prefixes of every affected partition:
        // the delta's own partitions plus (via the uniform layout) the
        // directories of files holding matched keys — including ones
        // the rewrite may leave EMPTY (key moved away).
        // getPartitionPathString handles null/empty values the way the
        // writer's path rendering does (__HIVE_DEFAULT_PARTITION__).
        val prefixSet = aligned.select(parts.map(col): _*).distinct()
          .collect().map { row =>
            parts.indices.map { i =>
              val raw = row.get(i)
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .getPartitionPathString(parts(i),
                  if (raw == null) null else String.valueOf(raw))
            }.mkString("", "/", "/")
          }.toSet ++ matched.keySet.map(partitionPrefix)
        // the affected-partition restriction is a FILE-LIST selection:
        // under the uniform layout asserted above, prefix membership is
        // exactly partition membership (null/empty values included —
        // prefixSet uses the writer's own path rendering), so the
        // rewrite and pre-image reads open only affected partitions'
        // files instead of semi-join-filtering a full-table scan
        val affected = fromFiles(name,
          manifestFiles.map(_.path)
            .filter(p => prefixSet.contains(partitionPrefix(p))), sc)
        val keptRows = affected
          .join(broadcast(deltaKeys), keys, "left_anti") // minus matched keys
          .select(outCols.map(col): _*)
        val merged = keptRows.unionByName(aligned.select(outCols.map(col): _*))
        val files = stageLaidOut(name, merged)
        val keptFiles = manifestFiles
          .filterNot(f => prefixSet.contains(partitionPrefix(f.path)))
        // row-level change files: the replaced pre-images leave, the
        // delta rows arrive (a new key is a bare insert) — bounded by
        // the delta, evaluated against the pre-commit snapshot
        writeChangeFiles(name,
          affected.join(broadcast(deltaKeys), keys, "left_semi")
            .select(outCols.map(col): _*)
            .withColumn(ChangeTypeCol, lit("delete"))
          .unionByName(aligned.select(outCols.map(col): _*)
            .withColumn(ChangeTypeCol, lit("insert"))))
        commitManifest(name, keptFiles ++ files, extraMeta,
          op = opStamp)
      } else if (extraMeta.nonEmpty)
        // empty streaming batch: advance the mark, files unchanged
        commitManifest(name, currentManifest(name).map(_._2).getOrElse(Nil),
          extraMeta, op = if (mark.isDefined) "stream-merge" else "merge")
      }
      !replayed
    }
  }

  /** Candidate files for a merge's matched-key probe, bounded by the
    * delta's own key statistics: per key column, the delta's [min,
    * max] becomes a stats range conjunct, and when the delta holds ≤64
    * distinct values of a column they additionally probe the per-file
    * bloom/point stats as an IN conjunct (per-column sets are sound —
    * a matched row's every key column takes one of the delta's values
    * for that column). An empty delta or a null bound contributes
    * nothing; files without stats always stay candidates. */
  /** Current snapshot's manifest entries (test seam). */
  private[olist] def currentManifestFiles(name: String): Seq[DataFile] =
    currentManifest(name).map(_._2).getOrElse(Nil)

  private[olist] def mergeProbeCandidates(files: Seq[DataFile],
      sc: org.apache.spark.sql.types.StructType,
      aligned: DataFrame, keys: Seq[String]): Seq[String] = {
    val aggs = keys.flatMap(k =>
      Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
    val r = aligned.agg(aggs.head, aggs.tail: _*).collect()(0)
    val ranges = keys.flatMap { k =>
      val mn = r.getAs[Any](s"__mn_$k"); val mx = r.getAs[Any](s"__mx_$k")
      if (mn == null || mx == null) None
      else Some(ColRange(k, Some(mn), Some(mx)))
    }
    val inSets = keys.flatMap { k =>
      // limit(65): we only need to know whether the distinct count
      // exceeds the cap, never the full set of a large delta
      val vs = aligned.select(col(k)).distinct().limit(65)
        .collect().map(_.get(0)).toSeq
      if (vs.nonEmpty && vs.size <= 64) Some(k -> vs) else None
    }
    candidatesWith(files, sc, ranges, inSets).map(_.path)
  }

  /** First-class predicate DELETE (reference: `Olist DW.sql:183-184,
    * 287-292` runs DELETE twice during the build): removes the rows
    * where `predicate` is TRUE and commits through the manifest with its
    * own `delete` op stamp.
    *
    * File-level surgery, not a table rewrite:
    *  - `hint` ranges (optional) bound the probe with the manifest's
    *    per-file stats/blooms, exactly like [[scan]] — files the stats
    *    prove clean are never even OPENED. The hint must be implied by
    *    the predicate (every matching row falls inside the ranges);
    *    rows outside it are silently kept, same contract as a partition
    *    predicate on a production DELETE.
    *  - one columnar probe over the candidate files (reading only the
    *    predicate's columns) counts matched vs total rows per file;
    *  - files with NO matching rows survive byte-identical in the new
    *    snapshot; files where EVERY row matches are dropped with no
    *    rewrite at all (the partition-aligned delete costs zero data
    *    I/O); only files that straddle the predicate are rewritten
    *    minus their matching rows, clustering re-applied.
    *
    * SQL NULL semantics: rows where the predicate evaluates NULL are
    * KEPT (only TRUE deletes). The predicate must be deterministic — it
    * is evaluated in both the probe and the rewrite.
    *
    * Change-feed behavior: the removed rows are written as CHANGE FILES
    * under `_graft_meta/changes/<table>/v<N>/` in the same transaction
    * (orphaned harmlessly if the commit loses), so the row-level feed
    * [[tableChangesRows]] can emit them as `delete` rows. The
    * file-level [[tableChanges]] still refuses to cross a delete —
    * file diffs cannot describe it.
    *
    * Returns the per-class file counts and the number of rows removed.
    * A no-match delete leaves the table version unchanged (no commit). */
  def delete(name: String, predicate: org.apache.spark.sql.Column,
      hint: Seq[ColRange] = Nil): Warehouse.DeleteResult = {
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"delete: $name has no committed snapshot")
      }
      val sc = committedSchema(name, meta)
      require(fromFiles(name, files.map(_.path), sc)
          .select(predicate.as("__p")).queryExecution.analyzed
          .expressions.forall(_.deterministic),
        "delete predicate must be deterministic (it runs in the probe and the rewrite)")
      // explicit hint ∪ ranges ∪ IN-lists provably implied by the
      // predicate itself
      val cands = candidatesWith(files, sc,
        hint ++ derivedRanges(predicate, sc),
        derivedInSets(predicate, sc),
        derivedNullness(predicate, sc)).map(_.path)
      val matched: Map[String, (Long, Long)] = probeMatches(
        "delete", name, cands, sc,
        agg = Seq(count(lit(1)).as("__total"),
          count(when(predicate, lit(1))).as("__matched")),
        keepIf = _.getLong(2) > 0).map { case (p, r) =>
        p -> (r.getLong(1), r.getLong(2)) }
      if (matched.isEmpty)
        Warehouse.DeleteResult(0L, 0, 0, files.size)
      else {
        val byPath = files.map(f => f.path -> f).toMap
        // per-file totals are LIVE rows (the probe read is DV-applied),
        // so a file whose every remaining row matches drops whole even
        // if an earlier DV already marked part of it
        val droppedWhole = matched.collect {
          case (p, (tot, m)) if m == tot => p }.toSet
        val straddling = matched.keySet -- droppedWhole
        // deletion-vector policy: a straddling file whose matched
        // fraction is small takes a DV (the data file survives
        // byte-identical, only positions are committed) — the point-
        // delete shape where rewriting a 1 GB file for one row is the
        // wrong cost model; a file losing a big chunk is rewritten
        // (its DV would be data-sized, and the rewrite also refreshes
        // clustering)
        val dvTargets =
          if (!dvEnabled) Set.empty[String]
          else straddling.filter { p =>
            val (tot, m) = matched(p); m.toDouble / tot <= dvMaxFraction }
        val rewrite = straddling -- dvTargets
        val rowsDeleted = matched.valuesIterator.map(_._2).sum
        val rewritten =
          if (rewrite.isEmpty) Nil
          else {
            // keep rows where the predicate is FALSE or NULL; the files
            // being read stay physically present until vacuum, so the
            // lazy read is safe to rewrite from (same reasoning as
            // compact)
            val keep = fromFiles(name, rewrite.toSeq, sc)
              .filter(!(predicate <=> lit(true)))
            stageLaidOut(name, keep)
          }
        val dvUpdated = writeDv(name, dvTargets.toSeq.sorted, sc, byPath,
          predicate, newCount = p => matched(p)._2)
        val untouched = files.filterNot(f =>
          droppedWhole.contains(f.path) || rewrite.contains(f.path) ||
            dvTargets.contains(f.path))
        // change files: the removed rows, staged under the version this
        // commit will publish (we hold the lock, so current+1 is ours);
        // one columnar pass over ONLY the matched files
        writeChangeFiles(name,
          fromFiles(name, matched.keySet.toSeq, sc)
            .filter(predicate <=> lit(true))
            .withColumn(ChangeTypeCol, lit("delete")))
        commitManifest(name, untouched ++ rewritten ++ dvUpdated,
          op = "delete")
        Warehouse.DeleteResult(rowsDeleted, droppedWhole.size, rewrite.size,
          untouched.size, dvTargets.size)
      }
    }
  }

  /** Whether point DELETE/UPDATE may take the deletion-vector path:
    * parquet only (positions ride the reader's `_metadata.row_index`),
    * on by default, opt-out via `graft.dv.enabled=false`. */
  private def dvEnabled: Boolean = format == "parquet" &&
    spark.conf.getOption("graft.dv.enabled").forall(_.toBoolean)

  /** Largest matched-rows fraction of a file's LIVE rows that still
    * takes a DV instead of a rewrite (`graft.dv.maxFraction`). */
  private def dvMaxFraction: Double =
    spark.conf.getOption("graft.dv.maxFraction")
      .flatMap(_.toDoubleOption).getOrElse(0.2)

  /** Largest (matched + inserted) row fraction of the table that still
    * takes MERGE's file-surgery path (DVs + delta append) instead of
    * the partition rewrite (`graft.merge.dvPathMaxFraction`). Above it
    * the rewrite amortizes better and refreshes clustering. */
  private def mergeDvPathMaxFraction: Double =
    spark.conf.getOption("graft.merge.dvPathMaxFraction")
      .flatMap(_.toDoubleOption).getOrElse(0.05)

  /** Shared DELETE/UPDATE probe: one columnar pass over the candidate
    * files aggregating `agg` per file, rows kept by `keepIf`, keyed
    * back to manifest-relative paths. Parquet probes group on the
    * positional [[DvFileCol]] (exact path identity, correct even after
    * the DV anti-join where `input_file_name` sees join-task files);
    * csv/json keep the URI-suffix resolution (those tables can carry
    * no DVs). A probed file that cannot be named would silently
    * survive the operation — that direction stays loud. */
  private def probeMatches(op: String, name: String, cands: Seq[String],
      sc: org.apache.spark.sql.types.StructType,
      agg: Seq[org.apache.spark.sql.Column],
      keepIf: org.apache.spark.sql.Row => Boolean,
      xform: DataFrame => DataFrame = identity)
      : Map[String, org.apache.spark.sql.Row] =
    if (cands.isEmpty) Map.empty
    else if (format == "parquet") {
      val relOf = cands.map(p => normalizedRel(name, p) -> p).toMap
      xform(fromFiles(name, cands, sc, withPos = true))
        .groupBy(col(DvFileCol).as("__file"))
        .agg(agg.head, agg.tail: _*)
        .collect().filter(keepIf).map { r =>
          val rel = r.getString(0)
          relOf.getOrElse(rel, throw new IllegalStateException(
            s"$op: cannot resolve probed file $rel back to a manifest path")
          ) -> r
        }.toMap
    } else
      xform(fromFiles(name, cands, sc))
        .groupBy(input_file_name().as("__file"))
        .agg(agg.head, agg.tail: _*)
        .collect().filter(keepIf).map { r =>
          val uri = r.getString(0)
          manifestPathOf(name, cands, uri).getOrElse(
            throw new IllegalStateException(
              s"$op: cannot resolve probed file $uri back to a manifest path")
          ) -> r
        }.toMap

  /** Publishes ONE new DV sidecar covering `targets` (paths of the
    * current snapshot) and returns their updated manifest entries: the
    * sidecar holds each target's prior deleted positions (carried
    * forward from its old DV — positions are ORIGINAL-file coordinates,
    * so they union) plus the positions `predicate` matches among its
    * live rows. Files NOT in `targets` keep referencing their old
    * sidecars; vacuum drops a sidecar once no kept snapshot entry
    * names it. */
  private def writeDv(name: String, targets: Seq[String],
      sc: org.apache.spark.sql.types.StructType,
      byPath: Map[String, DataFile],
      predicate: org.apache.spark.sql.Column,
      newCount: String => Long): Seq[DataFile] =
    if (targets.isEmpty) Nil
    else writeDvPositions(name, targets, byPath,
      fromFiles(name, targets, sc, withPos = true)
        .filter(predicate <=> lit(true))
        .select(col(DvFileCol).as("file"), col(DvPosCol).as("pos")),
      newCount)

  /** Position-level core of [[writeDv]]: `newPos` is a (file, pos)
    * frame of ORIGINAL-row coordinates to mark deleted in `targets` —
    * the DELETE path derives it from a predicate, the MERGE surgery
    * path from a key semi-join. Publishing semantics are writeDv's. */
  private def writeDvPositions(name: String, targets: Seq[String],
      byPath: Map[String, DataFile],
      newPos: DataFrame,
      newCount: String => Long): Seq[DataFile] =
    if (targets.isEmpty) Nil
    else {
      val carried = targets.filter(p => byPath(p).dv.isDefined)
      val all =
        if (carried.isEmpty) newPos
        else {
          val oldPaths = carried.flatMap(p => byPath(p).dv.map(_.path))
            .distinct.map(p =>
              qualifiedPath(s"$basePath/${normalizedRel(name, p)}").toString)
          val rels = carried.map(p => normalizedRel(name, p))
          newPos.unionByName(spark.read.schema(DvSchema).parquet(oldPaths: _*)
            .where(col("file").isin(rels: _*)))
        }
      val fs = metaFs
      val txnId = java.util.UUID.randomUUID.toString.take(8)
      val stage = qualifiedPath(s"$basePath/_graft_stage/dv-$name-$txnId")
      // one small file: DV cardinality is bounded by dvMaxFraction of
      // the touched files' rows — the big-delete shape takes the
      // rewrite path and never funnels through this coalesce
      all.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = fs.listStatus(stage).map(_.getPath)
        .find(_.getName.startsWith("part-")).getOrElse(
          throw new IllegalStateException(s"writeDv: no part file in $stage"))
      val destRel = s"_dv/dv-$txnId.parquet"
      val dest = new org.apache.hadoop.fs.Path(
        qualifiedPath(s"$basePath/$name"), destRel)
      fs.mkdirs(dest.getParent)
      require(fs.rename(part, dest), s"writeDv: move failed: $part -> $dest")
      fs.delete(stage, true)
      val stageParent = stage.getParent
      if (fs.exists(stageParent) && fs.listStatus(stageParent).isEmpty)
        fs.delete(stageParent, false)
      targets.map { p =>
        val f = byPath(p)
        f.copy(dv = Some(DvRef(destRel,
          f.dv.map(_.rows).getOrElse(0L) + newCount(p))))
      }
    }

  /** First-class predicate UPDATE (reference: `Olist DW.sql` issues
    * UPDATEs the SSIS flow renders dead — see SURVEY §2.9 I2; this is
    * the live rendering): sets `assignments` on the rows where
    * `predicate` is TRUE and commits through the manifest with its own
    * `update` op stamp. The row-identity-free complement of [[merge]] —
    * merge replaces rows BY KEY from a delta frame; update rewrites
    * rows IN PLACE from expressions over the row itself.
    *
    * Same file-level surgery as [[delete]]: `hint` ranges bound the
    * probe with per-file stats/blooms, one columnar probe finds the
    * files that hold matching rows, and ONLY those files are rewritten
    * (assignments applied where the predicate holds, other rows copied
    * bit-for-bit); untouched files survive byte-identical. Unlike
    * delete there is no zero-I/O class — a matched file always needs
    * its new row images written.
    *
    * SQL UPDATE semantics, exactly:
    *  - every assignment expression evaluates against the PRE-image row
    *    (`SET a = b, b = a` swaps — assignments never see each other);
    *  - each value is cast to the column's declared type: UPDATE never
    *    changes the schema, only the rows;
    *  - rows where the predicate evaluates NULL are untouched (only
    *    TRUE updates);
    *  - partition-column assignments are allowed and move the row's
    *    file to its new partition directory (the rewrite re-runs the
    *    table's partition + cluster layout).
    *
    * Change-feed behavior: the transaction writes the pre-image rows as
    * `delete` and the post-image rows as `insert` change files, so
    * replaying [[tableChangesRows]] across an update reproduces the
    * snapshot — same contract as merge. The file-level [[tableChanges]]
    * refuses to cross it, as for every rewrite.
    *
    * A no-match update leaves the table version unchanged (no commit). */
  def update(name: String, predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      hint: Seq[ColRange] = Nil): Warehouse.UpdateResult = {
    require(assignments.nonEmpty, "update: no assignments")
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"update: $name has no committed snapshot")
      }
      val sc = committedSchema(name, meta)
      assignments.keys.foreach { c =>
        require(sc.fieldNames.contains(c),
          s"update: column $c is not in ${sc.fieldNames.mkString(", ")}") }
      val typed: Map[String, org.apache.spark.sql.Column] =
        assignments.map { case (c, e) => c -> e.cast(sc(c).dataType) }
      val exprFrame = fromFiles(name, files.map(_.path).take(1), sc)
      (predicate +: typed.values.toSeq).foreach { c =>
        require(exprFrame.select(c.as("__e")).queryExecution.analyzed
            .expressions.forall(_.deterministic),
          "update predicate/assignments must be deterministic " +
            "(they run in the probe and the rewrite)") }
      // all assignments read the pre-image: ONE select, every output
      // column an expression over the input row
      def applyAssign(df: DataFrame): DataFrame =
        df.select(sc.fieldNames.toSeq.map { c =>
          typed.get(c) match {
            case Some(e) => when(predicate, e).otherwise(col(c)).as(c)
            case None    => col(c)
          }
        }: _*)
      val cands = candidatesWith(files, sc,
        hint ++ derivedRanges(predicate, sc),
        derivedInSets(predicate, sc),
        derivedNullness(predicate, sc)).map(_.path)
      val matched: Map[String, (Long, Long)] = probeMatches(
        "update", name, cands, sc,
        agg = Seq(count(lit(1)).as("__total"),
          count(when(predicate, lit(1))).as("__matched")),
        keepIf = _.getLong(2) > 0).map { case (p, r) =>
        p -> (r.getLong(1), r.getLong(2)) }
      if (matched.isEmpty)
        Warehouse.UpdateResult(0L, 0, files.size)
      else {
        val byPath = files.map(f => f.path -> f).toMap
        val touched = matched.keySet
        // DV shape for updates (the production point-UPDATE): mark the
        // OLD images deleted via a DV on the untouched data file, stage
        // the NEW images as appended files — a one-row update of a 1 GB
        // file writes one row, not 1 GB. Files losing a big fraction
        // rewrite in place as before.
        val dvTargets =
          if (!dvEnabled) Set.empty[String]
          else touched.filter { p =>
            val (tot, m) = matched(p); m.toDouble / tot <= dvMaxFraction }
        val rewriteSet = touched -- dvTargets
        val rowsUpdated = matched.valuesIterator.map(_._2).sum
        val rewritten =
          if (rewriteSet.isEmpty) Nil
          else stageLaidOut(name,
            applyAssign(fromFiles(name, rewriteSet.toSeq, sc)))
        val dvUpdated = writeDv(name, dvTargets.toSeq.sorted, sc, byPath,
          predicate, newCount = p => matched(p)._2)
        val appended =
          if (dvTargets.isEmpty) Nil
          else stageLaidOut(name,
            applyAssign(fromFiles(name, dvTargets.toSeq, sc)
              .filter(predicate <=> lit(true))))
        val untouched = files.filterNot(f => touched.contains(f.path))
        val pre = fromFiles(name, touched.toSeq, sc)
          .filter(predicate <=> lit(true))
        writeChangeFiles(name,
          pre.withColumn(ChangeTypeCol, lit("delete"))
            .unionByName(applyAssign(pre)
              .withColumn(ChangeTypeCol, lit("insert"))))
        commitManifest(name,
          untouched ++ rewritten ++ dvUpdated ++ appended, op = "update")
        Warehouse.UpdateResult(rowsUpdated, rewriteSet.size, untouched.size,
          dvTargets.size)
      }
    }
  }

  private val ChangeTypeCol = "_change_type"

  private def changesDir(name: String, version: Long) =
    new org.apache.hadoop.fs.Path(
      s"$basePath/_graft_meta/changes/$name/v$version")

  /** Stages a change frame (table columns + [[ChangeTypeCol]]) under the
    * version the CURRENT commit-lock holder is about to publish. The
    * change type is the partition column, so the files themselves carry
    * only table rows and read back with the type parsed from the path.
    * Orphaned harmlessly if the commit loses. */
  private def writeChangeFiles(name: String, changes: DataFrame): Unit = {
    val version = currentManifest(name).map(_._1).getOrElse(0L) + 1
    changes.write.mode("overwrite").format(format).option("header", "true")
      .partitionBy(ChangeTypeCol)
      .save(changesDir(name, version).toString)
  }

  /** Row-level change feed — the production extension of
    * [[tableChanges]]: every row-visible commit in `(fromVersion,
    * toVersion]` rendered as rows with a `_change_type` column.
    *
    *  - append-shaped commits → their added rows as `insert`
    *  - `delete` commits → the removed rows (change files written at
    *    commit time) as `delete`
    *  - `merge` / `stream-merge` commits → the replaced pre-image rows
    *    as `delete` plus the delta rows as `insert` (an upsert of a new
    *    key is a bare insert); mark-only empty batches emit nothing
    *  - `compact` / `recluster` → NOTHING (they rewrite files but change
    *    no row — the whole point of a row-level feed)
    *  - rewrites that DO change rows without recording them
    *    (overwrite-partitions, restore, save-over, pre-change-file
    *    deletes/merges) refuse loudly
    *
    * Applying the feed in order to the `fromVersion` snapshot
    * reproduces the `toVersion` snapshot as a multiset (spec-asserted).
    * Delivery composes with [[consumeChanges]]-style checkpointing; the
    * streaming source stays file-level (insert-only) by design. */
  def tableChangesRows(name: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"tableChangesRows: fromVersion $fromVersion > toVersion $toVersion")
    val fs = metaFs
    val sc = tableSchema(name)
    val rowNeutral = Set("compact", "recluster")
    val recorded = Set("delete", "update", "merge", "stream-merge")
    def manifest(v: Long) = stateAt(name, v)
    val curMap = currentManifestFull(name).map(m => colMapOf(m._3))
      .getOrElse(Map.empty)
    val versions = tableVersions(name)
      .filter(v => v > fromVersion && v <= toVersion)
    var seen: Set[String] =
      if (fromVersion == 0) Set.empty
      else manifest(fromVersion)._1.map(_.path).toSet
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    versions.foreach { v =>
      val (vFiles, vMeta) = manifest(v)
      val op = vMeta.getOrElse(OpMeta, "unknown")
      val paths = vFiles.map(_.path).toSet
      if (recorded.contains(op)) {
        val dir = changesDir(name, v)
        if (fs.exists(dir)) {
          // change files carry version v's LOGICAL column names and
          // types; a later rename/widen must not null them out of the
          // replay. Bridge by the FROZEN physical names: current
          // logical -> physical (current colmap) -> v's logical (v's
          // colmap, identity where never renamed), cast v's type up to
          // the current one (widening), and surface the current names
          // — the feed always speaks the reader's schema.
          val vSc = metaSchema(vMeta).getOrElse(sc)
          val vMap = colMapOf(vMeta)
          val raw = spark.read.format(format).option("header", "true")
            .schema(vSc.add(ChangeTypeCol,
              org.apache.spark.sql.types.StringType))
            .load(dir.toString)
          out += raw.select(sc.map { f =>
            val phys = curMap.getOrElse(f.name, f.name)
            val atV = vMap.collectFirst {
              case (l, p) if p == phys => l }.getOrElse(phys)
            if (vSc.fieldNames.contains(atV))
              col(atV).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          } :+ col(ChangeTypeCol): _*)
        }
        else require(paths == seen && op != "delete" && op != "update",
          s"tableChangesRows: '$op' commit v$v of $name predates change " +
            "files — re-read the snapshot") // mark-only commits change no rows
      } else if (rowNeutral.contains(op) || paths == seen) {
        // file rewrite with identical rows, or a metadata-only commit
        // (alter-check, clone-ref, mv mark): nothing to emit
      } else {
        val appendShaped = ((Set("append", "stream-append").contains(op) ||
          (Set("save", "clone").contains(op) && seen.isEmpty)) &&
          seen.subsetOf(paths))
        require(appendShaped,
          s"tableChangesRows: version $v of $name is a '$op' rewrite with " +
            "no recorded row changes; re-read the snapshot")
        // pin version v's DV state for the added files (freshly added
        // files carry none) — the CURRENT manifest may have DV'd them
        // since, and replay must still see every row inserted at v
        out += fromFiles(name, (paths -- seen).toSeq, sc,
          dvByOpt = Some(vFiles.iterator.flatMap(f =>
            f.dv.map(f.path -> _)).toMap))
          .withColumn(ChangeTypeCol, lit("insert"))
      }
      seen = paths
    }
    if (out.isEmpty)
      fromFiles(name, Nil, sc).withColumn(ChangeTypeCol, lit(""))
        .filter(lit(false))
    else out.reduce(_ unionByName _)
  }

  /** Small-files compaction (the OPTIMIZE of a plain-Parquet warehouse):
    * incremental appends accumulate one file per task per run, and at
    * cluster scale the file-listing + task-scheduling overhead of ten
    * thousand tiny files dominates scans. Rewrites each partition of a
    * partitioned table into ≤ `filesPerPartition` files, or an
    * unpartitioned table into that many files total.
    *
    * The rewrite is snapshot-consistent: it lands as new data
    * files and one atomic manifest swap, so a concurrent reader sees
    * the pre-compaction snapshot or the post-compaction one, never a
    * partial listing (and readers pinned to the old manifest keep
    * working — superseded files survive until [[vacuum]]). Exclusive
    * WRITER access is still the contract: rows appended between the
    * snapshot read and the commit would be dropped by the replace. */
  def compact(name: String, filesPerPartition: Int = 1): Unit = {
    val parts = partitionColsOf(name)
    val n = math.max(filesPerPartition, 1)
    withCommitLock(name) {
      // the whole snapshot-rewrite-commit holds the table's commit
      // lock: the kept rows derive from the same manifest the replace
      // supersedes, so an in-JVM concurrent append can't land between
      // the snapshot read and the commit and be erased. The manifest
      // pins the snapshot's exact file list and nothing below deletes
      // data files — the lazy read is safe to rewrite from.
      val snapshot = read(name)
      val shaped =
        if (parts.nonEmpty) {
          if (n == 1) snapshot.repartition(parts.map(col): _*)
          else snapshot.repartition((parts.map(col) :+
            pmod(hash(snapshot.columns.map(col): _*), lit(n))): _*)
        } else snapshot.coalesce(n)
      // clustering is table layout: compaction must re-establish it
      val files = stageLaidOut(name, shaped)
      // full replace: the snapshot covers the table
      commitManifest(name, files, op = "compact")
    }
  }

  /** Size-tiered bin-packing OPTIMIZE (Delta's `OPTIMIZE` policy,
    * rows as the size currency): rewrites ONLY files below
    * `minFileRows` live rows, packing each partition's small files
    * into ⌈Σrows/targetRows⌉ outputs, and leaves every already-compact
    * file byte-identical — where [[compact]] rewrites the whole table
    * and [[compactWhere]] whole partitions, this touches exactly the
    * accumulated append/merge debris. At 100 TB this is the ONLY
    * affordable steady-state compaction: its I/O is O(small-file
    * bytes), a pure function of the debris, not the table.
    *
    * Live rows = the manifest's committed per-file count minus its DV
    * rows, so a small file whose deletion vector has hollowed it out
    * qualifies and the fold happens here (DV sidecars reclaim at the
    * next vacuum). A lone small file with no DV is left in place —
    * rewriting it buys nothing. Files predating row stats are skipped
    * (a full [[compact]] handles them). Same snapshot-consistency
    * contract as [[compact]]: new files + one atomic manifest swap
    * under the commit lock. */
  def compactSmall(name: String, targetRows: Long,
      minFileRows: Long): Warehouse.CompactResult = {
    require(minFileRows > 0 && targetRows >= minFileRows,
      s"compactSmall: need 0 < minFileRows ≤ targetRows")
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"compactSmall: $name has no committed snapshot")
      }
      val sc = committedSchema(name, meta)
      requireUniformLayout("compactSmall", name, files)
      val live = (f: Warehouse.DataFile) => f.stats.get(RowsKey)
        .map(_._1.toLong - f.dv.map(_.rows).getOrElse(0L))
      val cand = files.flatMap { f =>
        live(f) match {
          case Some(r) if r < minFileRows =>
            Some((f.path.split("/").dropRight(1).mkString("/"), f, r))
          case _ => None
        }
      }
      // a group compacts only when it nets fewer files or folds a DV
      val groups = cand.groupBy(_._1).filter { case (_, g) =>
        g.size >= 2 || g.exists(_._2.dv.nonEmpty)
      }
      if (groups.isEmpty) Warehouse.CompactResult(0, 0, files.size)
      else {
        val doomed = groups.valuesIterator.flatten.map(_._2.path).toSet
        val newFiles = groups.toSeq.sortBy(_._1).flatMap { case (_, g) =>
          val bins = math.max(1L,
            (g.map(_._3).sum + targetRows - 1) / targetRows).toInt
          val df = fromFiles(name, g.map(_._2.path), sc)
          stageLaidOut(name, df.repartition(bins))
        }
        val untouched = files.filterNot(f => doomed.contains(f.path))
        commitManifest(name, untouched ++ newFiles, op = "compact")
        Warehouse.CompactResult(doomed.size, newFiles.size, untouched.size)
      }
    }
  }

  /** Partition-scoped OPTIMIZE: compacts ONLY the partitions matching
    * `partitionPredicate`, leaving every other file untouched
    * byte-for-byte. THE compaction shape at 100 TB — yesterday's
    * streaming partition accumulates small files while the other
    * thousand partitions are already compact, and a full-table
    * [[compact]] would rewrite all of them.
    *
    * The predicate may reference ONLY partition columns (it resolves
    * against a frame holding exactly those — anything else fails
    * loudly before any I/O; a data-column predicate here would DROP
    * the non-matching rows of rewritten partitions). Matching files
    * are found by parsing the k=v partition segments out of the
    * manifest paths — no file footer is opened to decide; only the
    * matched partitions' rows are read and rewritten. */
  def compactWhere(name: String, partitionPredicate: org.apache.spark.sql.Column,
      filesPerPartition: Int = 1): Warehouse.CompactResult = {
    val parts = partitionColsOf(name)
    require(parts.nonEmpty,
      s"compactWhere: $name is not partitioned (use compact)")
    val n = math.max(filesPerPartition, 1)
    withCommitLock(name) {
      val (files, meta) = currentManifestFull(name) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalArgumentException(
          s"compactWhere: $name has no committed snapshot")
      }
      val sc = committedSchema(name, meta)
      requireUniformLayout("compactWhere", name, files)
      val rows: Seq[org.apache.spark.sql.Row] = files.map { f =>
        val kv = f.path.split("/").dropRight(1).flatMap { seg =>
          val i = seg.indexOf('=')
          if (i <= 0) None
          else Some(seg.substring(0, i) ->
            java.net.URLDecoder.decode(seg.substring(i + 1), "UTF-8"))
        }.toMap
        org.apache.spark.sql.Row.fromSeq(f.path +: parts.map(p =>
          kv.get(p).filterNot(_ == "__HIVE_DEFAULT_PARTITION__").orNull))
      }
      import scala.jdk.CollectionConverters._
      val partSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("__path",
          org.apache.spark.sql.types.StringType) +:
          parts.map(p => org.apache.spark.sql.types.StructField(p,
            org.apache.spark.sql.types.StringType)))
      // cast the parsed strings to the DECLARED partition types, then
      // resolve the predicate against ONLY these columns — a predicate
      // naming a data column fails analysis here, loudly and early
      val typed = spark.createDataFrame(rows.asJava, partSchema)
        .select(col("__path") +: parts.map(p =>
          col(p).cast(sc(p).dataType).as(p)): _*)
      val matched = typed.filter(partitionPredicate)
        .select("__path").collect().map(_.getString(0)).toSet
      if (matched.isEmpty) Warehouse.CompactResult(0, 0, files.size)
      else {
        val snapshot = fromFiles(name, matched.toSeq, sc)
        val shaped =
          if (n == 1) snapshot.repartition(parts.map(col): _*)
          else snapshot.repartition((parts.map(col) :+
            pmod(hash(snapshot.columns.map(col): _*), lit(n))): _*)
        val rewritten = stageLaidOut(name, shaped)
        val untouched = files.filterNot(f => matched.contains(f.path))
        commitManifest(name, untouched ++ rewritten, op = "compact")
        Warehouse.CompactResult(matched.size, rewritten.size, untouched.size)
      }
    }
  }

  /** Reclaims data files no longer referenced by the CURRENT manifest
    * (superseded by save/overwritePartitions/compact) plus superseded
    * manifest versions. Caller contract: run only after in-flight
    * readers of older snapshots have drained — the retention window is
    * the caller's policy, exactly as in production table formats. */
  def vacuum(name: String): Unit = vacuum(name, 0L, 1)

  /** The union keep-set a retention sweep must preserve, computed ONCE
    * and shared by [[vacuum]] and [[vacuumPreview]] so the preview can
    * never disagree with the sweep it previews:
    *  - every kept snapshot's file list (+ DV sidecars — a sidecar
    *    survives while ANY kept snapshot's entry names it): any kept
    *    version must remain fully readable after the sweep;
    *  - files any registered clone still references (each clone's live
    *    manifests, entries resolving into THIS table's directory);
    *  - files referenced by a pending cross-table transaction's tagged
    *    tail (log versions above the VISIBLE head — `tableVersions`
    *    filters them): the transaction is mid-flight, its marker may
    *    still land, and reaping its staged-and-committed files would
    *    corrupt a commit that later becomes visible. A crash-abandoned
    *    tail holds its files only until the next locked writer heals
    *    the records — then they reclaim normally. */
  /** The versions a retention sweep keeps fully readable: the newest
    * `keepVersions` PLUS every registered pin ([[pinVersion]] — held
    * serving cuts), sorted so `head` is the sweep floor. Shared by
    * [[vacuum]] and [[vacuumPreview]] so the preview can never
    * disagree with the sweep. A pin naming a no-longer-retained
    * version (possible only if it was registered against different
    * retention earlier) is ignored rather than resurrecting nothing. */
  private def vacuumKeptVersions(name: String, versions: Seq[Long],
      keepVersions: Int): Seq[Long] = {
    // EXPIRED leases don't shield: the sweep ignores them (and vacuum
    // removes them loudly — sweepExpiredPins), so preview and sweep
    // agree on what an expired pin no longer protects
    val now = System.currentTimeMillis
    (versions.takeRight(keepVersions) ++
      pinDetails(name).filterNot(_.expired(now))
        .map(_.version).filter(versions.contains))
      .distinct.sorted
  }

  /** Remove pins whose lease has lapsed, with a LOUD `pin-expired`
    * history op — the crashed-holder escape hatch: a leased pin whose
    * holder stopped heartbeating ([[refreshPin]]) stops shielding
    * retention at the next vacuum instead of forever. Lease-less pins
    * are never swept (explicit-release contract). */
  private def sweepExpiredPins(name: String): Unit = {
    // lock-free pre-check: the common case (no expired pins) must not
    // touch the lock at all — vacuum runs beside live writers
    if (pinDetails(name).exists(_.expired(System.currentTimeMillis))) {
      val ran = withTryLock(name) {
        currentManifestFull(name).foreach { case (_, fs0, _) =>
          val now = System.currentTimeMillis
          val (dead, live) = pinDetails(name).partition(_.expired(now))
          if (dead.nonEmpty) {
            log.warn(s"vacuum($name): sweeping expired pins " +
              dead.map(p => s"${p.holder}→v${p.version}").mkString(", "))
            commitManifest(name, fs0, Map(PinsMeta -> encodePins(live)),
              op = "pin-expired")
          }
        }
      }
      // contended (an open transaction holds the table): defer — the
      // keep-set already ignores expired pins, so nothing dangles; the
      // registry entry folds at the next uncontended vacuum
      if (!ran) log.info(s"vacuum($name): lock contended — expired-pin " +
        "sweep deferred to the next vacuum")
    }
  }

  private def vacuumKeepSet(name: String, visibleVersions: Seq[Long],
      kept: Seq[Long]): Set[String] = {
    val cloneKeep: Set[String] = currentManifestFull(name)
      .flatMap(_._3.get(ClonesMeta)).toSeq
      .flatMap(_.split(",").filter(_.nonEmpty))
      .flatMap { c =>
        tableVersions(c).flatMap { cv =>
          stateAt(c, cv)._1.flatMap(e => e.path +: e.dv.map(_.path).toSeq) }
      }
      .collect { case pth if pth.startsWith(s"../$name/") =>
        pth.stripPrefix(s"../$name/") }
      .toSet
    val taggedKeep: Set[String] = {
      val visHead = visibleVersions.lastOption.getOrElse(0L)
      logVersions(name).filter(_ > visHead).flatMap(v =>
        stateAt(name, v)._1.flatMap(e =>
          e.path +: e.dv.map(_.path).toSeq)).toSet
    }
    kept.flatMap { kv =>
      stateAt(name, kv)._1.flatMap(e => e.path +: e.dv.map(_.path).toSeq)
    }.toSet ++ cloneKeep ++ taggedKeep
  }

  /** Retention-aware vacuum. `keepVersions` newest snapshots stay fully
    * readable (their manifests AND every file any of them references
    * survive — the time-travel/history retention window); unreferenced
    * data files are deleted only when older than `graceMs`. The grace
    * window is what makes vacuum safe to run beside live writers: a
    * writer stages its files into the table directory BEFORE taking the
    * commit lock, so a zero-grace vacuum racing an in-flight append
    * could delete just-staged files its commit is about to name (the
    * same reasoning as production table formats' modification-time
    * retention checks). Size `graceMs` above the longest stage-to-
    * commit gap — `lockStaleMs` is a sound default on a live table;
    * the zero default matches single-writer maintenance windows. */
  def vacuum(name: String, graceMs: Long, keepVersions: Int): Unit = {
    require(keepVersions >= 1, "vacuum must keep at least the current version")
    val fs = metaFs
    currentManifest(name).foreach { _ =>
      // lapsed leases leave the registry FIRST (loud `pin-expired`
      // commit), so the keep-set below never resurrects a crashed
      // holder's shield
      sweepExpiredPins(name)
      val versions = tableVersions(name)
      val kept = vacuumKeptVersions(name, versions, keepVersions)
      val keep = vacuumKeepSet(name, versions, kept)
      val cutoff = System.currentTimeMillis - graceMs
      val root = qualifiedPath(s"$basePath/$name")
      // a zero-file snapshot never created the data dir: nothing to scan
      if (fs.exists(root)) {
        val doomed = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val st = it.next()
          val f = st.getPath
          val rel = relativeTo(root, f)
          if (!keep.contains(rel) && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".") &&
            (graceMs <= 0 || st.getModificationTime < cutoff)) doomed += f
        }
        doomed.foreach(fs.delete(_, false))
        // empty partition directories left behind by the deletes
        fs.listStatus(root).filter(_.isDirectory).foreach { d =>
          if (!fs.listFiles(d.getPath, true).hasNext) fs.delete(d.getPath, true)
        }
      }
      // only sweep BELOW the retention-window floor: a commit landing
      // concurrently creates a version ABOVE it, which a not-in-kept
      // predicate would have deleted — monotonic comparison can't.
      // Pinned versions BELOW the window (held serving cuts) are
      // spared individually; everything else below the floor loses
      // its record too, so a stale unpinned cut fails LOUDLY at
      // re-resolution ("older than retention") instead of resolving a
      // record whose files are gone and dangling at scan time.
      // The RECORD sweep runs under the table lock IF it is free, with
      // pins (and heads) RE-READ: a pin that committed after the
      // keep-set computation above but before this sweep (holdSnapshot
      // racing retention) must be honored here — the data-file sweep
      // is grace-mitigated, but reaping a freshly-pinned version's
      // commit record would leave the held cut permanently
      // unresolvable. TRY-lock, not blocking: vacuum must keep running
      // beside an open transaction (the tagged-tail test's contract) —
      // on contention the record sweep defers to the next vacuum (the
      // data files are already reclaimed; records are metadata-sized).
      val sweepRan = withTryLock(name) {
        val versions2 = tableVersions(name)
        val kept2 = vacuumKeptVersions(name, versions2, keepVersions)
        val winFloor = versions2.takeRight(keepVersions).head
        // every version that must stay resolvable after its ancestor
        // records die — the window floor and each below-window pin —
        // needs a full checkpoint manifest first if it only has a delta
        // record. Idempotent — a lost rename just means another vacuum
        // (or the original commit) already published it.
        val anchors = (kept2.filter(_ < winFloor) :+ winFloor).distinct
        anchors.foreach { av =>
          if (!fs.exists(manifestPath(name, av))) {
            val (aFiles, aMeta) = stateAt(name, av)
            writeRecord(txnDir(name), manifestPath(name, av),
              (metaLines(aMeta) ++ aFiles.map(encodeFile)).mkString("\n"))
          }
        }
        // The record sweep destroys the anchors' ancestors, so it may
        // only run once EVERY checkpoint is DURABLY published: a
        // transiently failed rename (not already-exists — writeRecord is
        // idempotent there) would otherwise leave kept versions
        // permanently unresolvable. Skipping is safe — the data-file
        // sweep above already ran, and the next vacuum retries the
        // checkpoints.
        if (anchors.forall(av => fs.exists(manifestPath(name, av)))) {
          fs.listStatus(txnDir(name)).foreach { st =>
            val doomedVer = st.getPath.getName match {
              case ManifestName(ver) => Some(ver.toLong)
              case DeltaName(ver) => Some(ver.toLong)
              case _ => None
            }
            doomedVer
              .filter(v => v < winFloor && !kept2.contains(v))
              .foreach { ver =>
                fs.delete(st.getPath, false)
                // the version's row-level change files share its lifecycle
                fs.delete(changesDir(name, ver), true)
              }
          }
        }
      }
      if (!sweepRan) log.info(s"vacuum($name): lock contended — " +
        "record sweep deferred to the next vacuum")
    }
  }

  /** The current snapshot under the schema it was committed with
    * (json/csv don't self-describe). */
  private def read(name: String): DataFrame = {
    val (_, files, meta) = currentManifestFull(name).getOrElse(
      throw new IllegalArgumentException(s"$name has no committed snapshot"))
    fromFiles(name, files.map(_.path), committedSchema(name, meta))
  }

  /** The schema a version's meta records — every commit that creates
    * a table records one (see [[commitManifest]]). */
  private def committedSchema(name: String, meta: Map[String, String])
      : org.apache.spark.sql.types.StructType =
    metaSchema(meta).getOrElse(throw new IllegalStateException(
      s"$name: committed snapshot records no schema"))

  /** Snapshot reader over an explicit committed file list, resolved at
    * DataFrame creation — concurrent commits can't change or truncate
    * what this reader sees. basePath keeps partition columns parsed
    * from the k=v directory segments.
    *
    * `sc` is the LOGICAL schema; files are loaded under the version's
    * column mapping (renamed columns live in parquet under their frozen
    * physical names) and projected back to logical names. `colMapOpt`
    * pins a historical version's mapping (tableAt); None reads the
    * current one.
    *
    * Deletion vectors: files whose snapshot entry carries a [[DvRef]]
    * are read minus their deleted positions — an anti-join of
    * (file, row_index) against the referenced sidecars, applied ONLY
    * when the read touches a DV'd file (clean tables pay nothing).
    * `dvByOpt` pins a HISTORICAL version's dv state (tableAt, feed
    * replay); None applies the current manifest's. `withPos` appends
    * the [[DvFileCol]]/[[DvPosCol]] helper columns (the file's
    * table-relative path and the row's ORIGINAL position in it) for
    * the delete/update probes — parquet only. */
  private def fromFiles(name: String, files: Seq[String],
      sc: org.apache.spark.sql.types.StructType,
      colMapOpt: Option[Map[String, String]] = None,
      dvByOpt: Option[Map[String, DvRef]] = None,
      withPos: Boolean = false): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sc)
    else {
      val manifest = currentManifestFull(name)
      val colMap = colMapOpt.getOrElse(manifest
        .map(m => colMapOf(m._3)).getOrElse(Map.empty))
      val dvBy: Map[String, DvRef] = dvByOpt.getOrElse(manifest
        .map(_._2.iterator.flatMap(f => f.dv.map(f.path -> _)).toMap)
        .getOrElse(Map.empty))
      val dvTouched = files.filter(dvBy.contains)
      val needPos = withPos || dvTouched.nonEmpty
      require(sc.nonEmpty, s"$name: reading data files needs a declared schema")
      // per-file stats/blooms of the CURRENT snapshot, for read-path
      // file skipping — files are immutable once committed, so current
      // stats stay valid for any path they describe (a historical
      // path absent here just reads unpruned)
      val statsBy: Map[String, DataFile] =
        manifest.map(_._2.iterator.map(df => df.path -> df).toMap)
          .getOrElse(Map.empty)
      val phys =
        if (colMap.isEmpty) sc
        else org.apache.spark.sql.types.StructType(sc.map(f =>
          colMap.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
      // a shallow clone's manifest may reference files in SEVERAL
      // physical table directories ("../src/…" entries next to its
      // own), and after [[repartitionTable]] ONE directory holds files
      // under SEVERAL partition-dir layouts; Spark's partition
      // inference demands one consistent directory structure per load,
      // so group the list by (owning directory, partition scheme),
      // scan each group against its own basePath, and union. Every
      // group resolves the full logical column set — a column is in
      // the data file whenever it was not a partition column at that
      // file's write time, and in the directory names whenever it was.
      val groups = files
        .groupBy(f => (normalizedRel(name, f).takeWhile(_ != '/'), schemeOf(f)))
        .toSeq.sortBy { case ((owner, scheme), _) =>
          (owner, scheme.mkString(",")) }
      // per-GROUP plan statistics from per-file manifest entries: EVERY
      // read — the full-snapshot table read, a stats-pruned scan()
      // subset, a clone's mixed-directory union, the delete/update
      // probe — carries rowCount/NDV for exactly the files IT loads,
      // as long as each loaded file has manifest stats. Per-file row
      // counts sum (minus each file's DV'd positions under the
      // EFFECTIVE dv map, so time travel subtracts its own version's);
      // per-file HLL sketches union — a subset's NDV comes from the
      // subset's sketches, never scaled from the table's. One file
      // without stats (historical path, pre-stats manifest) and the
      // group reads stats-blind, the safe direction.
      def groupRows(fs: Seq[String]): Option[Long] = {
        val counts = fs.map(f => statsBy.get(f)
          .flatMap(_.stats.get(RowsKey)).map(_._1.toLong))
        if (counts.exists(_.isEmpty)) None
        else Some(counts.flatten.sum -
          fs.flatMap(dvBy.get).map(_.rows).sum)
      }
      // memoized per (table, committed version, file subset): the HLL
      // union costs O(files × columns) heapify work, and a DataFrame
      // over the same snapshot subset is created far more often than
      // the snapshot changes (sketches are immutable once committed,
      // so a hit can never be stale)
      def groupNdv(fs: Seq[String]): Map[String, BigInt] =
        manifest.map { m =>
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(fs.sorted.mkString("\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (name, m._1, java.util.Base64.getEncoder.encodeToString(digest))
        } match {
          case Some(key) => ndvCache.getOrElseUpdate(key, {
            if (ndvCache.size > 256) ndvCache.clear() // bounded, not LRU
            computeGroupNdv(fs, statsBy)
          })
          case None => computeGroupNdv(fs, statsBy)
        }
      def load(owner: String, fs: Seq[String]): DataFrame = {
        val opts = Map("basePath" -> s"$basePath/$owner") ++
          (if (format == "csv") Map("header" -> "true") else Map.empty)
        val leaves = fs.map(f => qualifiedPath(
          s"$basePath/${normalizedRel(name, f)}"))
        val index = new org.apache.spark.sql.graft.PruningFileIndex(
          spark, leaves, opts, phys, groupPruner(name, fs, statsBy, phys))
        val gRows = groupRows(fs)
        val rel = org.apache.spark.sql.graft.PruningFileIndex.relation(
          spark, index, phys, format, opts, name,
          catalogStats = gRows.map(r =>
            (BigInt(index.sizeInBytes), Some(BigInt(r)))),
          colNdv = if (gRows.isDefined) groupNdv(fs) else Map.empty)
        // position columns ride the scan's hidden _metadata (parquet
        // row_index), resolved per relation — they cannot be added
        // after the union, so every group materializes them here
        if (!needPos) rel
        else rel.withColumn(DvFileCol, relPathCol)
          .withColumn(DvPosCol, col("_metadata.row_index"))
      }
      val raw = groups.map { case ((owner, _), fs) => load(owner, fs) }
        .reduce(_ unionByName _)
      val undeleted =
        if (dvTouched.isEmpty) raw
        else {
          // one sidecar read bounded to the touched files; the dv side
          // is broadcast below a row bound (manifest knows its exact
          // cardinality — no size guess), so the anti-join adds no
          // shuffle of the data
          val dvPaths = dvTouched.flatMap(dvBy.get).map(_.path).distinct
            .map(p => qualifiedPath(s"$basePath/${normalizedRel(name, p)}").toString)
          val rels = dvTouched.map(p => normalizedRel(name, p))
          val dvRows = spark.read.schema(DvSchema).parquet(dvPaths: _*)
            .where(col("file").isin(rels: _*))
            .select(col("file").as("__gdv_f2"), col("pos").as("__gdv_p2"))
          val dvTotal = dvTouched.flatMap(dvBy.get).map(_.rows).sum
          val dvSide =
            if (dvTotal <= spark.conf.getOption("graft.dv.broadcastRows")
              .flatMap(_.toLongOption).getOrElse(4000000L)) broadcast(dvRows)
            else dvRows
          raw.join(dvSide,
            raw(DvFileCol) === dvSide("__gdv_f2") &&
              raw(DvPosCol) === dvSide("__gdv_p2"), "left_anti")
        }
      if (!needPos && (colMap.isEmpty || sc.isEmpty)) undeleted
      else {
        val logical = sc.map(f =>
          col(colMap.getOrElse(f.name, f.name)).as(f.name))
        val extra = if (withPos) Seq(col(DvFileCol), col(DvPosCol)) else Nil
        undeleted.select(logical ++ extra: _*)
      }
    }

  /** Helper-column names a `withPos` [[fromFiles]] read appends. */
  private val DvFileCol = "__gdv_file"
  private val DvPosCol = "__gdv_pos"

  // keyed on a 128-bit digest of the sorted file subset, not the Seq's
  // 32-bit hashCode — a hashCode collision between two subsets of the
  // same snapshot would silently hand the CBO the wrong subset's NDVs
  private val ndvCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, String), Map[String, BigInt]]

  /** Union the per-file HLL sketches of `fs` per indexed column. A
    * column qualifies only when EVERY file carries its sketch (a
    * missing file would silently undercount). */
  private def computeGroupNdv(fs: Seq[String],
      statsBy: Map[String, DataFile]): Map[String, BigInt] = {
    val entries = fs.map(statsBy.get)
    if (entries.exists(_.isEmpty)) Map.empty
    else {
      val mfs = entries.flatten
      val cols = mfs.iterator.map(_.ndvs.keySet)
        .reduceOption(_ intersect _).getOrElse(Set.empty)
      cols.iterator.flatMap { c =>
        scala.util.Try {
          val u = new org.apache.datasketches.hll.Union(12)
          mfs.foreach(f => u.update(
            org.apache.datasketches.hll.HllSketch.heapify(
              java.util.Base64.getDecoder.decode(f.ndvs(c)))))
          c -> BigInt(math.max(1L, math.round(u.getResult.getEstimate)))
        }.toOption
      }.toMap
    }
  }

  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** The scanned row's file as a basePath-relative path (the same
    * rendering [[normalizedRel]] gives a manifest entry), derived from
    * `_metadata.file_path` by stripping the scheme and the warehouse
    * root. Computed the same way at DV write and DV apply time, so the
    * join key is stable even if the warehouse directory is relocated
    * wholesale — and unlike a bare file NAME it cannot collide across
    * partition directories (one write job reuses part-00000-<uuid> in
    * every partition it touches). */
  private def relPathCol: org.apache.spark.sql.Column = {
    // both sides must reduce to the same authority-free absolute path:
    // the prefix comes from toUri.getPath (no scheme, no authority), so
    // the regex must strip scheme AND authority from file_path —
    // "s3://bucket/wh/t/f" → "/wh/t/f", "hdfs://nn:8020/wh/t/f" →
    // "/wh/t/f", "file:/root/wh/t/f" and "file:///root/wh/t/f" →
    // "/root/wh/t/f". (The old scheme-only strip kept the authority,
    // breaking every bucket/namenode filesystem.)
    val prefix = qualifiedPath(basePath).toUri.getPath.stripSuffix("/") + "/"
    regexp_replace(col("_metadata.file_path"),
      "^[a-zA-Z0-9+.\\-]+:(//[^/]*)?", "")
      .substr(lit(prefix.length + 1), lit(Int.MaxValue))
  }

  /** File-admission oracle for ONE [[fromFiles]] load group, keyed by
    * the absolute paths Spark's listing reports. Given the ranges and
    * IN-list value sets a query's pushed filters imply, admits exactly
    * the files [[candidatesWith]] would keep — stats straddle + bloom
    * test, per-value union for IN — and every file the manifest has no
    * stats for (absent entry, historical path, stat-free column):
    * missing knowledge keeps files, never drops them. */
  private def groupPruner(name: String, group: Seq[String],
      statsBy: Map[String, DataFile],
      phys: org.apache.spark.sql.types.StructType)
      : (Seq[(String, Option[Any], Option[Any])], Seq[(String, Seq[Any])],
          Seq[(String, Boolean)])
        => (String => Boolean) = {
    lazy val byAbs: Map[String, DataFile] = group.iterator.flatMap { f =>
      statsBy.get(f).map(df =>
        qualifiedPath(s"$basePath/${normalizedRel(name, f)}").toUri.getPath -> df)
    }.toMap
    (triples, inSets, nulls) => {
      val ranges = triples.map { case (c, lo, hi) => ColRange(c, lo, hi) }
      if (ranges.isEmpty && inSets.isEmpty && nulls.isEmpty) _ => true
      else {
        val ok = candidatesWith(byAbs.values.toSeq, phys,
          ranges, inSets, nulls).map(_.path).toSet
        abs => byAbs.get(abs).forall(df => ok(df.path))
      }
    }
  }

  /** Ordered partition keys a manifest-relative path was written
    * under ("year=2018/month=1/f.parquet" → year, month; unpartitioned
    * or clone-prefixed segments without '=' contribute nothing). This
    * is each file's OWN layout — after [[repartitionTable]] it can
    * differ from the table's current partition columns. */
  private def schemeOf(rel: String): Seq[String] =
    rel.split("/").dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None else Some(seg.substring(0, i))
    }

  /** Loud gate for operations that decide partition membership from
    * file PATHS (dynamic partition overwrite, partition-move merge,
    * partition-scoped compaction): every current file must carry
    * exactly the table's current partition scheme, else an old-layout
    * file silently escapes the path keying — the wrong-results
    * direction. After [[repartitionTable]] these refuse until a
    * [[compact]] rewrites the old-layout files into the new scheme. */
  private def requireUniformLayout(op: String, name: String,
      files: Seq[DataFile]): Unit = {
    val want = partitionColsOf(name)
    val off = files.filter(f => schemeOf(f.path) != want)
    require(off.isEmpty,
      s"$op: $name holds ${off.size} file(s) written under a different " +
        s"partition layout than the current (${want.mkString(",")}) — " +
        "run compact() first to rewrite them into the current scheme")
  }

  /** `name`-dir-relative manifest path with `..` segments resolved —
    * "t/year=1/f" for a plain file, "src/f" for a clone-referenced
    * one. Probes match `input_file_name()` URIs against this. */
  private def normalizedRel(name: String, rel: String): String =
    (name + "/" + rel).split("/").foldLeft(List.empty[String]) {
      case (acc, "..") if acc.nonEmpty => acc.tail
      case (acc, s) if s.nonEmpty && s != "." => s :: acc
      case (acc, _) => acc
    }.reverse.mkString("/")

  /** Resolve a probed file URI back to its manifest path (clone-aware). */
  private def manifestPathOf(name: String, cands: Seq[String],
      uri: String): Option[String] =
    cands.find(m => uri.endsWith("/" + normalizedRel(name, m)))

  /** Append-only change feed: the rows ADDED between two committed
    * versions (exclusive `fromVersion`, inclusive `toVersion`),
    * computed purely from manifest file-list diffs — no extra change
    * files, no full-table diff. This is the incremental-consumer hook:
    * a downstream job remembers the last version it processed and reads
    * only the new files since.
    *
    * Sound ONLY across append-shaped commits (append / stream-append /
    * mark-only stream-merge): a rewrite commit (merge, compact,
    * overwrite-partitions, restore, save) re-stages surviving rows into
    * new files, which a file-level diff would misreport as inserts —
    * those commits throw instead of lying. Row-level CDF through
    * rewrites needs change files written at commit time (the production
    * table-format approach), intentionally out of scope. */
  def tableChanges(name: String, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"tableChanges: fromVersion $fromVersion > toVersion $toVersion")
    val appendOps = Set("append", "stream-append", "stream-merge", "merge")
    val versions = tableVersions(name)
      .filter(v => v > fromVersion && v <= toVersion)
    def manifest(v: Long) = stateAt(name, v)
    require(tableVersions(name).contains(fromVersion) || fromVersion == 0,
      s"tableChanges: version $fromVersion of $name is vacuumed or missing")
    var seenFiles: Map[String, DataFile] =
      if (fromVersion == 0) Map.empty
      else manifest(fromVersion)._1.map(f => f.path -> f).toMap
    val added = scala.collection.mutable.ArrayBuffer.empty[String]
    versions.foreach { v =>
      val (files, meta) = manifest(v)
      val op = meta.getOrElse(OpMeta, "unknown")
      val byPath = files.map(f => f.path -> f).toMap
      val paths = byPath.keySet
      val seen = seenFiles.keySet
      // the bootstrap save/clone is append-shaped when nothing preceded
      // it; a metadata-only commit (alter-check, clone-ref) adds
      // nothing — but ONLY if the file ENTRIES are unchanged too: a
      // pure-DV delete keeps every path while flipping dv refs, and a
      // file-level diff cannot describe the rows it removed. Carried
      // files must also be untouched under a genuine append (a commit
      // that both appends and DVs an old file deletes rows).
      val carriedUntouched =
        seen.subsetOf(paths) && seen.forall(p => byPath(p) == seenFiles(p))
      val appendShaped = (appendOps.contains(op) ||
        (Set("save", "clone").contains(op) && seen.isEmpty) ||
        byPath == seenFiles) && carriedUntouched
      require(appendShaped,
        s"tableChanges: version $v of $name is a '$op' rewrite — file-level " +
          "diffs only describe append-shaped commits; re-read the snapshot")
      added ++= files.map(_.path).filterNot(seen)
      seenFiles = byPath
    }
    // added files carry no DV at their add version (fresh names), and
    // a delete inside the window refuses above — pin the empty DV
    // state so a delete AFTER toVersion can't thin a historical batch
    fromFiles(name, added.toSeq, tableSchema(name), dvByOpt = Some(Map.empty))
  }

  /** Checkpointed incremental consumption of [[tableChanges]]: reads
    * the rows appended since the last successful call (tracked in a
    * one-line state file under the consumer's own directory), hands
    * them to `f`, and advances the checkpoint only AFTER `f` returns —
    * crash before the advance replays the batch, so delivery is
    * at-least-once and `f` should be idempotent (or write through a
    * sink with its own exactly-once mark, e.g. [[appendStreamBatch]]).
    * Returns the (fromVersion, toVersion] window processed, or None
    * when there is nothing new. The polling shape of a downstream
    * incremental pipeline — no long-lived query, resumable from any
    * process. */
  def consumeChanges(name: String, stateDir: String)
      (f: DataFrame => Unit): Option[(Long, Long)] = {
    val fs = metaFs
    val stateFile = new org.apache.hadoop.fs.Path(stateDir, s"$name.version")
    val last: Long =
      if (!fs.exists(stateFile)) 0L
      else {
        val in = fs.open(stateFile)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }
    val head = tableVersions(name).lastOption.getOrElse(0L)
    if (head <= last) None
    else {
      f(tableChanges(name, last, head))
      fs.mkdirs(new org.apache.hadoop.fs.Path(stateDir))
      val out = fs.create(stateFile, true)
      try out.write(head.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      Some((last, head))
    }
  }

  /** Continuous read half of CDC: a Structured Streaming DataFrame over
    * this table's commit feed — each committed append version becomes a
    * micro-batch of exactly its added rows (offsets ARE manifest
    * versions; see [[graft.streaming.ChangeFeedSource]]). Pair with
    * `streamInto`/`streamMergeInto` on the write side for an
    * exactly-once table-to-table pipeline. `startingVersion` is
    * exclusive: 0 replays the full append history as the first batch;
    * pass the current head for changes-from-now. */
  def readChangeStream(name: String, startingVersion: Long = 0L,
      maxVersionsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format(classOf[graft.streaming.ChangeFeedProvider].getName)
      .option("path", basePath)
      .option("table", name)
      .option("format", format)
      .option("startingVersion", startingVersion.toString)
    maxVersionsPerTrigger.foldLeft(r)((acc, m) =>
      acc.option("maxVersionsPerTrigger", m.toString)).load()
  }

  /** ROW-level streaming change feed (`mode = rows` of the same
    * source): each committed version arrives as one micro-batch of
    * [[tableChangesRows]] rows — inserts plus the pre/post images of
    * deletes, updates, and merges, tagged `_change_type` — so a
    * downstream CDC-apply sees every row change continuously, not just
    * appends. Only unrecorded rewrites (overwrite-partitions, restore,
    * save-over) refuse the stream. */
  def readRowChangeStream(name: String, startingVersion: Long = 0L,
      maxVersionsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format(classOf[graft.streaming.ChangeFeedProvider].getName)
      .option("path", basePath)
      .option("table", name)
      .option("format", format)
      .option("mode", "rows")
      .option("startingVersion", startingVersion.toString)
    maxVersionsPerTrigger.foldLeft(r)((acc, m) =>
      acc.option("maxVersionsPerTrigger", m.toString)).load()
  }

  private val MvBaseMeta = "mv.sourceTable"
  private val MvVerMeta = "mv.sourceVersion"

  /** Incrementally-maintained aggregate table — a materialized view
    * over `base` grouped by `keys`, carrying `cnt` (group row count)
    * and one `sum_<c>` per requested numeric column. The classic
    * incremental-view-maintenance shape for distributive aggregates:
    * AVG is `sum_<c>/cnt` at read time, and the refresh NEVER rescans
    * the base table after bootstrap.
    *
    *  - **Bootstrap** (first call, or `full = true`): one aggregation
    *    of the base snapshot pinned by its manifest, saved as the MV.
    *  - **Refresh**: reads [[tableChangesRows]] over `(lastV, curV]` —
    *    inserts contribute +1/+v, deletes −1/−v, so appends, deletes,
    *    updates and merges all maintain the view. Groups whose count
    *    reaches zero are REMOVED. The refreshed base version rides the
    *    SAME manifest commit as the new MV rows (`mv.sourceVersion`
    *    metadata), so a crash replays the whole refresh — exactly-once
    *    without side state, the [[appendStreamBatch]] idea applied to
    *    view maintenance.
    *  - **File surgery**: only MV files that HOLD an affected key are
    *    rewritten (one columnar key probe, stats/bloom candidates
    *    apply if the MV is clustered on its keys); a refresh that
    *    touches 3 groups of a billion-group view rewrites a file or
    *    two, not the view.
    *
    * A base rewrite the row feed cannot describe (overwrite, restore,
    * save-over) makes the refresh throw — pass `full = true` to
    * re-bootstrap. Sum columns are coalesced to 0 for all-NULL groups
    * (document-level deviation from SQL's NULL sum, chosen so the
    * incremental combine is total). NULL group keys are maintained
    * null-safely, like GROUP BY. */
  def refreshAggregate(base: String, mv: String, keys: Seq[String],
      sums: Seq[String] = Nil, full: Boolean = false,
      bootstrapFiles: Int = 0): Warehouse.MvRefresh = {
    require(keys.nonEmpty, "refreshAggregate needs at least one key column")
    val baseSc = tableSchema(base)
    (keys ++ sums).foreach(c => require(baseSc.fieldNames.contains(c),
      s"refreshAggregate: $base has no column $c"))
    sums.foreach(c => require(
      baseSc(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"refreshAggregate: sum column $c is not numeric"))
    def aggOf(rows: DataFrame): DataFrame =
      rows.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("cnt"),
          sums.map(c => sum(col(c)).as(s"sum_$c")): _*)
    val (curV, baseFiles, _) = currentManifestFull(base).getOrElse(
      throw new IllegalArgumentException(
        s"refreshAggregate: $base has no committed snapshot"))
    val mvMeta0 = currentManifestFull(mv).map(_._3).getOrElse(Map.empty)
    mvMeta0.get(MvBaseMeta).foreach(b => require(b == base,
      s"refreshAggregate: $mv tracks table $b, not $base"))
    val lastV = mvMeta0.get(MvVerMeta).map(_.toLong)
    val stamp = Map(MvBaseMeta -> base, MvVerMeta -> curV.toString)
    if (!full && lastV.contains(curV))
      Warehouse.MvRefresh(curV, curV, 0L, 0, bootstrapped = false)
    else if (full || lastV.isEmpty) {
      // bootstrapFiles > 0 hash-partitions the view by its keys into a
      // stable file count (so later refreshes rewrite one key's file,
      // not a coalesced singleton); 0 = natural partitioning
      val agg0 = aggOf(fromFiles(base, baseFiles.map(_.path), baseSc))
      save(mv, if (bootstrapFiles > 0)
        agg0.repartition(bootstrapFiles, keys.map(col): _*) else agg0)
      withCommitLock(mv) {
        commitManifest(mv, currentManifest(mv).map(_._2).getOrElse(Nil),
          stamp, op = "mv-refresh")
      }
      Warehouse.MvRefresh(0L, curV, -1L, 0, bootstrapped = true)
    } else withCommitLock(mv) {
      val from = lastV.get
      val feed = tableChangesRows(base, from, curV)
      val sign = when(col(ChangeTypeCol) === "insert", lit(1L))
        .otherwise(lit(-1L))
      val delta = feed.groupBy(keys.map(col): _*)
        .agg(sum(sign).as("cnt"),
          sums.map(c => sum(sign * col(c)).as(s"sum_$c")): _*)
        .localCheckpoint()
      val changed = delta.count()
      val (mvFiles, mvMeta) = currentManifestFull(mv) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalStateException(
          s"refreshAggregate: $mv lost its snapshot")
      }
      if (changed == 0) {
        // row-neutral base window (e.g. compactions): advance the mark
        commitManifest(mv, mvFiles, stamp, op = "mv-refresh")
        Warehouse.MvRefresh(from, curV, 0L, 0, bootstrapped = false)
      } else {
        val mvSc = committedSchema(mv, mvMeta)
        val keyCond = (l: String, r: String) =>
          keys.map(k => col(s"$l.$k") <=> col(s"$r.$k")).reduce(_ && _)
        // one columnar key probe: which MV files hold an affected key?
        // (the file identity is pinned in a projection directly over
        // the scan — after a shuffle join input_file_name() is
        // undefined; parquet uses the positional path column, which
        // also stays correct when the MV itself carries DVs)
        val mvPaths = mvFiles.map(_.path)
        val probeSrc =
          if (format == "parquet")
            fromFiles(mv, mvPaths, mvSc, withPos = true)
              .select((keys.map(col) :+ col(DvFileCol).as("__file")): _*)
          else fromFiles(mv, mvPaths, mvSc)
            .select((keys.map(col) :+ input_file_name().as("__file")): _*)
        val probe = probeSrc.as("m")
          .join(delta.select(keys.map(col): _*).as("d"),
            keyCond("m", "d"), "left_semi")
          .select("__file").distinct().collect()
        val relOf = mvPaths.map(p => normalizedRel(mv, p) -> p).toMap
        val touched: Set[String] = probe.map { r =>
          val uri = r.getString(0)
          (if (format == "parquet") relOf.get(uri)
           else manifestPathOf(mv, mvPaths, uri)).getOrElse(
            throw new IllegalStateException(
              s"refreshAggregate: cannot resolve probed file $uri"))
        }.toSet
        // ONE full-outer join replaces keep(anti) + oldK(semi) +
        // combine(outer): rows with no delta side pass through
        // untouched, everything else gets the arithmetic — measured to
        // matter, the refresh cost is dominated by fixed per-job
        // overhead at small deltas (see BASELINE.md "Incremental MV
        // refresh vs full recompute")
        val touchedRows = fromFiles(mv, touched.toSeq, mvSc)
        val metric = (l: org.apache.spark.sql.Column,
            r: org.apache.spark.sql.Column) =>
          coalesce(l, lit(0)) + coalesce(r, lit(0))
        val marked = delta.withColumn("__d", lit(1))
        val rewritten0 = touchedRows.as("o")
          .join(marked.as("d"), keyCond("o", "d"), "full_outer")
          .select(
            keys.map(k => coalesce(col(s"o.$k"), col(s"d.$k")).as(k)) ++
              ((when(col("d.__d").isNull, col("o.cnt"))
                .otherwise(metric(col("o.cnt"), col("d.cnt")))
                .cast(mvSc("cnt").dataType).as("cnt")) +:
                sums.map(c => when(col("d.__d").isNull, col(s"o.sum_$c"))
                  .otherwise(metric(col(s"o.sum_$c"), col(s"d.sum_$c")))
                  .cast(mvSc(s"sum_$c").dataType).as(s"sum_$c"))): _*)
          .filter(col("cnt") > 0)
        val rewritten = stageLaidOut(mv, rewritten0)
        val untouched = mvFiles.filterNot(f => touched.contains(f.path))
        commitManifest(mv, untouched ++ rewritten, stamp, op = "mv-refresh")
        Warehouse.MvRefresh(from, curV, changed, touched.size,
          bootstrapped = false)
      }
    }
  }

  private val MvDimMeta = "mv.joinDim"
  private val MvDimVerMeta = "mv.joinDimVersion"

  /** Incrementally-maintained JOIN view — the denormalization MV every
    * warehouse serves reports from: `mv` materializes
    * `fact INNER JOIN dim ON joinKeys` (fact columns + the dim payload)
    * and [[refreshJoinView]] keeps it current from BOTH tables'
    * row-level change feeds without rescanning either after bootstrap.
    *
    * The maintenance rule is one unified affected-set re-derivation:
    *  - `ids`  = fact ids touched by the fact feed window (any insert
    *    or delete — updates are delete+insert pairs, so churn folds in)
    *  - `K`    = join keys touched by the dim feed window (a dim
    *    update/delete/insert invalidates every MV row of that key —
    *    including fact rows that previously had NO match and now do,
    *    which pure delta-join algebra gets wrong for late-arriving
    *    dim keys)
    *  - MV rows with `factId ∈ ids OR joinKey ∈ K` are removed by file
    *    surgery (only files HOLDING one are rewritten — the
    *    refreshAggregate probe), and
    *    `fact_now[id ∈ ids ∨ key ∈ K] ⋈ dim_now` re-derives their
    *    replacements from CURRENT state — no ordering games over
    *    multi-version churn windows, the end state is definitionally
    *    right.
    *
    * Cost is O(delta): both affected sets are bounded by the feed
    * windows; when small (≤1024) they collect to IN-literals so the
    * fact probe file-prunes through stats/bloom (cluster the fact on
    * `factId` or the join key to make that bite at 100 TB), larger
    * sets fall back to semi-joins. Both source versions ride the MV
    * commit (`mv.sourceVersion`/`mv.joinDimVersion`), so a crashed
    * refresh replays exactly-once like the aggregate MV. The dim side
    * must be key-unique — verified on the DELTA keys each refresh
    * (bounded), and on the whole dim at bootstrap (it is being
    * full-scanned anyway). Base rewrites the feeds cannot describe →
    * throw; `full = true` re-bootstraps. */
  def refreshJoinView(fact: String, dim: String, mv: String,
      joinKeys: Seq[String], factId: String,
      full: Boolean = false, bootstrapFiles: Int = 0): Warehouse.JoinMvRefresh = {
    require(joinKeys.nonEmpty, "refreshJoinView needs join key columns")
    val factSc = tableSchema(fact)
    val dimSc = tableSchema(dim)
    (joinKeys :+ factId).foreach(c => require(factSc.fieldNames.contains(c),
      s"refreshJoinView: $fact has no column $c"))
    joinKeys.foreach(c => require(dimSc.fieldNames.contains(c),
      s"refreshJoinView: $dim has no column $c"))
    val dimPayload = dimSc.fieldNames.filterNot(joinKeys.contains).toSeq
    val overlap = dimPayload.filter(factSc.fieldNames.contains)
    require(overlap.isEmpty,
      s"refreshJoinView: dim payload ${overlap.mkString(",")} collides " +
        s"with fact columns — rename or project the dim first")
    def joined(f: DataFrame, d: DataFrame): DataFrame =
      f.join(d, joinKeys, "inner")
        .select((factSc.fieldNames.toSeq ++ dimPayload).map(col): _*)
    def requireUniqueKeys(d: DataFrame, what: String): Unit = {
      val dup = d.groupBy(joinKeys.map(col): _*)
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"refreshJoinView: $dim is not key-unique on " +
          s"(${joinKeys.mkString(",")}) over $what — a join view needs " +
          "an FK target, not a fan-out")
    }
    val (curFv, factFiles, _) = currentManifestFull(fact).getOrElse(
      throw new IllegalArgumentException(
        s"refreshJoinView: $fact has no committed snapshot"))
    val (curDv, dimFiles, _) = currentManifestFull(dim).getOrElse(
      throw new IllegalArgumentException(
        s"refreshJoinView: $dim has no committed snapshot"))
    val mvMeta0 = currentManifestFull(mv).map(_._3).getOrElse(Map.empty)
    mvMeta0.get(MvBaseMeta).foreach(b => require(b == fact,
      s"refreshJoinView: $mv tracks fact $b, not $fact"))
    mvMeta0.get(MvDimMeta).foreach(b => require(b == dim,
      s"refreshJoinView: $mv tracks dim $b, not $dim"))
    val lastFv = mvMeta0.get(MvVerMeta).map(_.toLong)
    val lastDv = mvMeta0.get(MvDimVerMeta).map(_.toLong)
    val stamp = Map(MvBaseMeta -> fact, MvVerMeta -> curFv.toString,
      MvDimMeta -> dim, MvDimVerMeta -> curDv.toString)
    if (!full && lastFv.contains(curFv) && lastDv.contains(curDv))
      Warehouse.JoinMvRefresh(curFv, curFv, curDv, curDv, 0L, 0L, 0,
        bootstrapped = false)
    else if (full || lastFv.isEmpty || lastDv.isEmpty) {
      val dimNow = fromFiles(dim, dimFiles.map(_.path), dimSc)
      requireUniqueKeys(dimNow, "the full dim")
      val mv0 = joined(fromFiles(fact, factFiles.map(_.path), factSc), dimNow)
      // RANGE-lay the view out by factId and cluster on it: fact-side
      // churn (the dominant CDC shape — appends land in the id tail,
      // deletes cluster in id ranges) then touches a file or two, and
      // the manifest's factId stats let the refresh prune its probe
      // to candidate files instead of scanning the view
      save(mv, if (bootstrapFiles > 0)
        mv0.repartitionByRange(bootstrapFiles, col(factId)) else mv0,
        clusterBy = (factId +: joinKeys).distinct)
      withCommitLock(mv) {
        commitManifest(mv, currentManifest(mv).map(_._2).getOrElse(Nil),
          stamp, op = "mv-join-refresh")
      }
      Warehouse.JoinMvRefresh(0L, curFv, 0L, curDv, -1L, -1L, 0,
        bootstrapped = true)
    } else withCommitLock(mv) {
      val ids = tableChangesRows(fact, lastFv.get, curFv)
        .select(col(factId)).distinct().localCheckpoint()
      val keysD = tableChangesRows(dim, lastDv.get, curDv)
        .select(joinKeys.map(col): _*).distinct().localCheckpoint()
      // a NULL id can never be matched back — neither IN-literals nor
      // the marker join hit NULL — so its old view row would go
      // silently stale; refuse loudly instead (delta-sized probe)
      require(ids.filter(col(factId).isNull).limit(1).collect().isEmpty,
        s"refreshJoinView: the $fact delta contains a NULL $factId — " +
          "a join view needs a non-null fact id to re-derive by")
      val nIds = ids.count(); val nKeys = keysD.count()
      val (mvFiles, mvMeta) = currentManifestFull(mv) match {
        case Some((_, fs, m)) => (fs, m)
        case None => throw new IllegalStateException(
          s"refreshJoinView: $mv lost its snapshot")
      }
      if (nIds == 0 && nKeys == 0) {
        commitManifest(mv, mvFiles, stamp, op = "mv-join-refresh")
        Warehouse.JoinMvRefresh(lastFv.get, curFv, lastDv.get, curDv,
          0L, 0L, 0, bootstrapped = false)
      } else {
        val dimNow = fromFiles(dim, dimFiles.map(_.path), dimSc)
        if (nKeys > 0)
          requireUniqueKeys(dimNow.join(keysD, joinKeys, "left_semi"),
            "the delta keys")
        // the affected-row predicate, in two strengths: bounded sets
        // become IN-literals (manifest stats/bloom file-prune the fact
        // and MV probes — the 100 TB lane for trickle CDC), big ones
        // stay distributed marker-joins. Markers, not union+distinct:
        // the sets are key-distinct so a left join cannot fan out, and
        // multiplicity of duplicate-id fact rows is preserved.
        val inline = nIds <= 1024 && nKeys <= 1024 && joinKeys.size == 1
        val inlineVals: Option[(Seq[Any], Seq[Any])] =
          if (!inline) None
          else Some((ids.collect().map(_.get(0)).toSeq,
            keysD.collect().map(_.get(0)).toSeq))
        def split(df: DataFrame): (DataFrame, DataFrame) = inlineVals match {
          case Some((idVals, keyVals)) =>
            val c =
              (if (idVals.isEmpty) lit(false)
               else col(factId).isin(idVals: _*)) ||
                (if (keyVals.isEmpty) lit(false)
                 else col(joinKeys.head).isin(keyVals: _*))
            // a NULL factId makes `c` NULL: filter(c) AND filter(!c)
            // would BOTH drop the row — the null-id view row must land
            // in the kept side (the marker-join lane's behavior)
            val hit = coalesce(c, lit(false))
            (df.filter(hit), df.filter(!hit))
          case None =>
            val marked = df
              .join(ids.withColumn("__hitI", lit(1)), Seq(factId), "left")
              .join(keysD.withColumn("__hitK", lit(1)), joinKeys, "left")
            (marked.filter(col("__hitI").isNotNull ||
                col("__hitK").isNotNull).drop("__hitI", "__hitK"),
              marked.filter(col("__hitI").isNull &&
                col("__hitK").isNull).drop("__hitI", "__hitK"))
        }
        def affected(df: DataFrame): DataFrame = split(df)._1
        // bounded-delta lane: manifest stats/blooms prune BOTH scans to
        // files that can hold an affected row — the union of each
        // conjunct's candidate set (conservative: a file with no stats
        // for the column is kept). On an id-clustered fact and the
        // factId-range MV layout this is what makes a trickle refresh
        // O(delta) instead of O(view): the probe opens candidate
        // files, not the table.
        def candidateFiles(files: Seq[Warehouse.DataFile],
            sc: org.apache.spark.sql.types.StructType)
            : Seq[Warehouse.DataFile] = inlineVals match {
          case Some((idVals, keyVals)) =>
            val byId = if (idVals.isEmpty) Nil
              else candidatesWith(files, sc, Nil, Seq((factId, idVals)))
            val byKey = if (keyVals.isEmpty) Nil
              else candidatesWith(files, sc, Nil,
                Seq((joinKeys.head, keyVals)))
            (byId ++ byKey).distinct
          case None => files
        }
        val factNow = fromFiles(fact,
          candidateFiles(factFiles, factSc).map(_.path), factSc)
        val fresh = joined(affected(factNow), dimNow).localCheckpoint()
        // MV file surgery: rewrite only files HOLDING an affected row
        val mvSc = committedSchema(mv, mvMeta)
        val mvPaths = candidateFiles(mvFiles, mvSc).map(_.path)
        // an empty candidate set (no view file can hold an affected
        // row — e.g. a late dim key no view row carries yet) means no
        // surgery; the empty-relation fallback also has no metadata
        // column to probe
        val touched: Set[String] = if (mvPaths.isEmpty) Set.empty else {
          val probeSrc =
            if (format == "parquet")
              fromFiles(mv, mvPaths, mvSc, withPos = true)
                .select(((joinKeys :+ factId).map(col) :+
                  col(DvFileCol).as("__file")): _*)
            else fromFiles(mv, mvPaths, mvSc)
              .select(((joinKeys :+ factId).map(col) :+
                input_file_name().as("__file")): _*)
          val probe = affected(probeSrc)
            .select("__file").distinct().collect()
          val relOf = mvPaths.map(p => normalizedRel(mv, p) -> p).toMap
          probe.map { r =>
            val uri = r.getString(r.length - 1)
            (if (format == "parquet") relOf.get(uri)
             else manifestPathOf(mv, mvPaths, uri)).getOrElse(
              throw new IllegalStateException(
                s"refreshJoinView: cannot resolve probed file $uri"))
          }.toSet
        }
        val keptMinus = split(fromFiles(mv, touched.toSeq, mvSc))._2
        val rewritten = stageLaidOut(mv, keptMinus.unionByName(fresh))
        val untouched = mvFiles.filterNot(f => touched.contains(f.path))
        commitManifest(mv, untouched ++ rewritten, stamp,
          op = "mv-join-refresh")
        Warehouse.JoinMvRefresh(lastFv.get, curFv, lastDv.get, curDv,
          nIds, nKeys, touched.size, bootstrapped = false)
      }
    }
  }

  /** Re-declare the table's layout (cluster columns, z-order, bloom
    * columns) and rewrite the data to match — the OPTIMIZE/recluster
    * command. The new spec commits with the compaction rewrite, so
    * every subsequent append/merge lays files out the new way and the
    * per-file stats/sketches in the manifest reflect the new columns. */
  def recluster(name: String, clusterBy: Seq[String],
      zorder: Boolean = false, bloomBy: Seq[String] = Nil,
      filesPerPartition: Int = 1): Unit = {
    require(!zorder || clusterBy.size >= 2,
      "zorder needs at least two cluster columns")
    withCommitLock(name) {
      // piggyback the spec change on a commit that also rewrites the
      // data: layout metadata and layout reality stay in step
      val lay = layoutOf(name).copy(cluster = clusterBy,
        kind = if (zorder) ZOrderKind else LinearKind, bloom = bloomBy)
      val parts = lay.parts
      val snapshot = read(name)
      val n = math.max(filesPerPartition, 1)
      val shaped =
        if (clusterBy.nonEmpty && !zorder) {
          // RANGE-distribute on the cluster key so rewritten files
          // cover disjoint ranges — that's what turns linear
          // clustering into file-level skipping, not just row-group
          // skipping (zorder does its own range distribution inside
          // clustered()); same file-count knob as the zorder writes
          val keys = (parts ++ clusterBy).map(col)
          spark.conf.getOption("graft.layout.partitions").map(_.toInt) match {
            case Some(np) => snapshot.repartitionByRange(np, keys: _*)
            case None => snapshot.repartitionByRange(keys: _*)
          }
        } else if (parts.nonEmpty) {
          if (n == 1) snapshot.repartition(parts.map(col): _*)
          else snapshot.repartition((parts.map(col) :+
            pmod(hash(snapshot.columns.map(col): _*), lit(n))): _*)
        } else snapshot.coalesce(n)
      val files = stageWrite(name, clustered(shaped, lay), lay)
      commitManifest(name, files, Map(
        ClusterMeta -> clusterBy.mkString(","),
        ClusterKindMeta -> lay.kind,
        BloomMeta -> bloomBy.mkString(",")), op = "recluster")
    }
  }

  /** Commit history of a table, ascending — the DESCRIBE
    * HISTORY audit trail: which operation produced each version, when,
    * and how many data files the snapshot holds. Reads each version's
    * own manifest (op/timestamp overwrite per commit, so every manifest
    * records what created it). Pre-history manifests report "unknown". */
  def history(name: String): Seq[Warehouse.Commit] = {
    tableVersions(name).map { v =>
      // one meta-block read per version; replay only for pre-FilesMeta
      // records (older logs)
      val meta = metaOfVersion(name, v)
      val nFiles = meta.get(FilesMeta).flatMap(_.toIntOption)
        .getOrElse(stateAt(name, v)._1.size)
      Warehouse.Commit(v, meta.getOrElse(OpMeta, "unknown"),
        meta.getOrElse(TimeMeta, ""), nFiles,
        meta.get(RowsMeta).flatMap(_.toLongOption))
    }
  }

  /** Committed versions of a table, ascending. Versions
    * committed by a cross-table [[transaction]] whose parent marker has
    * not landed are not committed yet — the (bounded) tagged tail is
    * hidden, so time travel and the change feeds can never resolve a
    * half-landed batch. */
  def tableVersions(name: String): Seq[Long] = {
    val all = logVersions(name)
    var end = all.length
    while (end > 0 && metaOfVersion(name, all(end - 1)).get(TxnMeta)
        .exists(id => !txnVisible(id))) end -= 1
    all.take(end)
  }

  /** Time travel: the table AS OF a committed version. Every commit is
    * an immutable file list, so any un-vacuumed version stays readable
    * — the audit/debug/reproducibility read a training-data pipeline
    * needs ("which snapshot did run X train on?"). */
  def tableAt(name: String, version: Long): DataFrame = {
    // a version vacuum reaped must fail HERE with the real diagnosis,
    // not as a missing-record parse error (or worse, resolve through
    // a stale chain): a held-but-unpinned serving cut re-resolving
    // after a retention sweep is the expected caller
    val retained = logVersions(name)
    if (!retained.contains(version)) {
      if (retained.lastOption.exists(version <= _))
        throw new IllegalArgumentException(
          s"tableAt: version $version of $name is not retained " +
            s"(retained: ${retained.mkString(", ")}) — vacuum reaped " +
            "it; shield held serving cuts with holdSnapshot/pinVersion")
      else
        throw new IllegalArgumentException(
          s"tableAt: $name has no committed version $version " +
            s"(latest: ${retained.lastOption.getOrElse("none")})")
    }
    val (files, vMeta) = stateAt(name, version)
    requireVisible("tableAt", name, version, vMeta)
    // read the OLD version with the schema AND column mapping it was
    // committed under — a later save() may have redefined column order
    // or types, a later rename/drop changed the visible names — and
    // the DV state of THAT version (a later delete's positions must
    // not vanish from a historical read, nor an older one's reappear)
    fromFiles(name, files.map(_.path), committedSchema(name, vMeta),
      colMapOpt = Some(colMapOf(vMeta)),
      dvByOpt = Some(files.iterator.flatMap(f =>
        f.dv.map(f.path -> _)).toMap))
  }

  /** Consistent multi-table snapshot — the READ-side complement of
    * [[transaction]]: pinned DataFrames over a version cut in which
    * every cross-table transaction is either fully visible or fully
    * absent. A naive loop of `table(n)` reads can straddle a commit
    * landing between two of its reads (fact post-batch, dim
    * pre-batch — exactly the torn join a report must never compute);
    * this resolves all heads, re-resolves, and retries until two
    * consecutive passes agree — the optimistic read-only-transaction
    * protocol, O(tables) head probes per pass, no locks held, writers
    * never blocked. The returned frames are [[tableAt]]-pinned: later
    * commits and vacuums (within retention) cannot change what they
    * read. */
  def snapshotTables(names: Seq[String],
      maxRetries: Int = 10): Map[String, DataFrame] =
    snapshotVersions(names, maxRetries)
      .map { case (n, v) => n -> tableAt(n, v) }

  /** The version cut [[snapshotTables]] pins, without the readers —
    * the seam [[holdSnapshot]] needs the raw versions through. */
  def snapshotVersions(names: Seq[String],
      maxRetries: Int = 10): Map[String, Long] = {
    require(names.nonEmpty, "snapshotTables: no tables")
    def heads(): Seq[(String, Long)] =
      names.map(n => n -> tableVersions(n).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"snapshotTables: $n has no committed snapshot")))
    var cut = heads()
    var settled = false
    var tries = 0
    while (!settled && tries < maxRetries) {
      val again = heads()
      if (again == cut) settled = true else { cut = again; tries += 1 }
    }
    if (!settled) throw new IllegalStateException(
      s"snapshotTables: heads kept moving after $maxRetries retries — " +
        "commit rate exceeds the optimistic read window")
    cut.toMap
  }

  /** Current pins on `name` — holder → the version vacuum must keep
    * fully readable (expired leases included; [[pinDetails]] carries
    * the lease state). */
  def pinnedVersions(name: String): Map[String, Long] =
    pinDetails(name).map(p => p.holder -> p.version).toMap

  /** Current pins on `name` with their registration stamps and leases
    * — the `DESCRIBE PINS` read: age tells a retention decision WHICH
    * holder is stale, and an expired lease marks the pin sweepable
    * (the next [[vacuum]] removes it with a loud `pin-expired`
    * history op). Pins written before the stamp era parse with no
    * stamp (age unknown, never expire — the legacy conservative
    * default). */
  def pinDetails(name: String): Seq[Warehouse.PinInfo] =
    currentManifestFull(name).map(_._3).getOrElse(Map.empty)
      .getOrElse(PinsMeta, "").split(",").filter(_.nonEmpty).toSeq
      .map { kv =>
        val Array(h, rest) = kv.split("=", 2)
        rest.split(":") match {
          case Array(v) => Warehouse.PinInfo(h, v.toLong, None, None)
          case Array(v, at) =>
            Warehouse.PinInfo(h, v.toLong, Some(at.toLong), None)
          case Array(v, at, lease) =>
            Warehouse.PinInfo(h, v.toLong, Some(at.toLong),
              Some(lease.toLong))
          case _ => throw new IllegalStateException(
            s"pinDetails: unparsable pin entry '$kv' on $name")
        }
      }

  private def encodePins(pins: Seq[Warehouse.PinInfo]): String =
    pins.map { p =>
      val tail = (p.pinnedAtMs, p.leaseMs) match {
        case (Some(at), Some(l)) => s":$at:$l"
        case (Some(at), None) => s":$at"
        case _ => ""
      }
      s"${p.holder}=${p.version}$tail"
    }.mkString(",")

  /** Register `holder`'s pin on `version` of `name`: until released,
    * [[vacuum]] treats the pinned version as a kept snapshot — its
    * files survive the sweep AND its commit record survives the
    * record truncation, so a held serving cut stays version-exact
    * readable for as long as it is held (the clone registry's
    * mechanism at version grain). A holder re-pinning replaces its
    * previous pin (the refresh-the-cut cadence); a pin rides the
    * manifest, so it survives process restarts — release it
    * ([[unpinVersion]]) or it shields retention forever. Refuses a
    * version that is not currently retained: a cut that already fell
    * off retention cannot be resurrected by pinning. */
  def pinVersion(name: String, version: Long, holder: String,
      leaseMs: Option[Long] = None): Unit = {
    require(holder.nonEmpty &&
      !holder.exists(c => c == ',' || c == '=' || c == ':'),
      s"pinVersion: holder '$holder' must be non-empty without " +
        "',', '=' or ':'")
    require(leaseMs.forall(_ > 0), "pinVersion: leaseMs must be positive")
    withCommitLock(name) {
      val (_, fs0, _) = currentManifestFull(name).getOrElse(
        throw new IllegalArgumentException(
          s"pinVersion: $name has no committed snapshot"))
      require(tableVersions(name).contains(version),
        s"pinVersion: version $version of $name is not retained " +
          "(vacuumed, or never committed) — a cut must be pinned " +
          "while it is still readable")
      // prev metadata carries forward through commitManifest; only
      // the pins key changes. A re-pin under the same holder replaces
      // its previous entry (the refresh-the-cut cadence).
      val pins = pinDetails(name).filterNot(_.holder == holder) :+
        Warehouse.PinInfo(holder, version,
          Some(System.currentTimeMillis), leaseMs)
      commitManifest(name, fs0,
        Map(PinsMeta -> encodePins(pins)), op = "pin")
    }
  }

  /** Heartbeat `holder`'s pin on `name`: re-stamp pinned-at (the lease
    * window restarts), keeping version and lease. A LIVE holder calls
    * this on a cadence comfortably under its lease; a pin that is
    * GONE refuses loudly — the holder just learned its lease expired
    * and a vacuum swept the cut (re-resolve and re-hold; the cut's
    * files may already be reclaimed). */
  def refreshPin(name: String, holder: String): Unit = {
    withCommitLock(name) {
      val (_, fs0, _) = currentManifestFull(name).getOrElse(
        throw new IllegalArgumentException(
          s"refreshPin: $name has no committed snapshot"))
      val pins = pinDetails(name)
      val mine = pins.find(_.holder == holder).getOrElse(
        throw new IllegalStateException(
          s"refreshPin: $holder holds no pin on $name — its lease " +
            "expired and a vacuum swept it (or it was never " +
            "registered); the held cut is no longer shielded — " +
            "re-resolve and re-hold"))
      commitManifest(name, fs0,
        Map(PinsMeta -> encodePins(pins.filterNot(_.holder == holder) :+
          mine.copy(pinnedAtMs = Some(System.currentTimeMillis)))),
        op = "pin")
    }
  }

  /** Release `holder`'s pin on `name` (no-op when none is held). */
  def unpinVersion(name: String, holder: String): Unit = {
    withCommitLock(name) {
      currentManifestFull(name).foreach { case (_, fs0, _) =>
        val pins = pinDetails(name)
        if (pins.exists(_.holder == holder))
          commitManifest(name, fs0,
            Map(PinsMeta ->
              encodePins(pins.filterNot(_.holder == holder))),
            op = "unpin")
      }
    }
  }

  /** A held serving cut with a VACUUM SHIELD — the deployment pattern
    * the serving snapshots recommend (hold ONE cut across many
    * queries, refresh on your own staleness cadence), made safe to
    * hold across retention sweeps: resolves one consistent cut
    * ([[snapshotTables]]'s protocol), registers `holder`'s pin on
    * every member version, and only then builds the pinned readers —
    * so from registration on, [[vacuum]] keeps each member version
    * fully readable however old the cut grows. Returns (readers,
    * release); ALWAYS release when the cut is retired — an abandoned
    * holder shields retention forever (re-holding with the same
    * holder name replaces the pins, the refresh cadence's shape). A
    * vacuum that already reaped a member version between resolution
    * and pinning refuses loudly (pinVersion's retention check) —
    * never a dangling reader. */
  def holdSnapshot(names: Seq[String], holder: String)
      : (Map[String, DataFrame], () => Unit) =
    (holdCut(names, holder, None),
      () => names.foreach(n => unpinVersion(n, holder)))

  /** The body both holds share: resolve one cut, pin every member for
    * `holder` (with `leaseMs` when leased), then build the pinned
    * readers. Pins are taken member-by-member, UNWINDING on failure: if
    * a later member's pin refuses (a vacuum reaped its version between
    * resolution and pinning — the documented loud path), pins already
    * committed on earlier members must not be orphaned — an abandoned
    * pin shields retention forever with no holder alive to release it. */
  private def holdCut(names: Seq[String], holder: String,
      leaseMs: Option[Long]): Map[String, DataFrame] = {
    val cut = snapshotVersions(names)
    val pinned = scala.collection.mutable.ListBuffer.empty[String]
    try cut.foreach { case (n, v) =>
      pinVersion(n, v, holder, leaseMs); pinned += n
    } catch {
      case e: Throwable =>
        pinned.foreach(n => scala.util.Try(unpinVersion(n, holder)))
        throw e
    }
    cut.map { case (n, v) => n -> tableAt(n, v) }
  }

  /** [[holdSnapshot]] with a LEASE — the crash-safe deployment shape:
    * every member pin carries `leaseMs`, so a holder that dies without
    * releasing stops shielding retention once the lease lapses (the
    * next [[vacuum]] sweeps the pins with a loud `pin-expired` op and
    * reclaims the cut). A LIVE holder keeps the cut alive indefinitely
    * by calling the returned `heartbeat` on a cadence comfortably
    * under the lease (the commit lock's mtime-refresh pattern, at
    * version-pin grain) — each beat re-stamps every member pin;
    * a beat AFTER expiry+sweep throws [[refreshPin]]'s diagnosis (the
    * cut is gone; re-resolve and re-hold). Returns (readers,
    * heartbeat, release). */
  def holdSnapshotLeased(names: Seq[String], holder: String,
      leaseMs: Long): (Map[String, DataFrame], () => Unit, () => Unit) = {
    require(leaseMs > 0, "holdSnapshotLeased: leaseMs must be positive")
    (holdCut(names, holder, Some(leaseMs)),
      () => names.foreach(n => refreshPin(n, holder)),
      () => names.foreach(n => unpinVersion(n, holder)))
  }

  /** [[snapshotTables]] AS OF a past instant — the reproducibility
    * read ("what did these tables jointly say at T?"): each table
    * resolves to its latest commit at or before `ts`
    * ([[tableAtTime]]'s rule), and the cut is then VERIFIED whole
    * against every cross-table transaction any of these tables ever
    * committed under — a transaction's member versions carry their
    * own wall-clock stamps, so an instant falling INSIDE a
    * transaction's commit window would naively include its writes in
    * some tables and not others (exactly the torn read the live
    * [[snapshotTables]] precludes by construction). Such an instant
    * REFUSES loudly rather than serving a cut no live reader could
    * ever have seen; pick an instant outside the window (per-version
    * timestamps are in DESCRIBE HISTORY, and commit windows are
    * milliseconds wide). Cost: one meta-block read per retained
    * version per table — the audit/debug path's price, not a serving
    * path. Vacuum truncates how far back this can reach (retention
    * policy, as everywhere). */
  def snapshotTablesAt(names: Seq[String],
      ts: java.time.Instant): Map[String, DataFrame] = {
    require(names.nonEmpty, "snapshotTablesAt: no tables")
    // ONE meta-block read per retained version per table: the same
    // pass collects the commit stamp (for the time resolution) and
    // the txn tag (for the tear check) — on object storage each read
    // is a round trip, so the two consumers share it
    val metas: Map[String, Seq[(Long, java.time.Instant,
        Option[String])]] = names.map { n =>
      n -> tableVersions(n).map { v =>
        val m = metaOfVersion(n, v)
        // a missing or unparsable commit stamp THROWS rather than
        // being skipped: skipping would silently resolve to an OLDER
        // version than the true latest-at-or-before — a quiet
        // wrong-answer path on metadata corruption, on the one
        // surface whose whole point is reproducibility
        val stamp = m.getOrElse(TimeMeta, throw new IllegalStateException(
          s"snapshotTablesAt: version $v of $n has no commit stamp — " +
            "metadata is corrupt; refusing to time-resolve over it"))
        (v,
          scala.util.Try(java.time.Instant.parse(stamp)).getOrElse(
            throw new IllegalStateException(
              s"snapshotTablesAt: version $v of $n has an unparsable " +
                s"commit stamp '$stamp' — metadata is corrupt; " +
                "refusing to time-resolve over it")),
          m.get(TxnMeta))
      }
    }.toMap
    val resolved: Map[String, Long] = names.map { n =>
      require(metas(n).nonEmpty,
        s"snapshotTablesAt: $n has no committed snapshot")
      val at = metas(n).reverse
        .find { case (_, stamp, _) => !stamp.isAfter(ts) }
        .getOrElse(throw new IllegalArgumentException(
          s"snapshotTablesAt: $n has no version committed at or " +
            s"before $ts"))._1
      n -> at
    }.toMap
    // the whole-transaction check below sees only RETAINED history:
    // once vacuum has reaped a member table's txn-tagged versions,
    // that table silently leaves the txn's member set, and an instant
    // inside the commit window could pass verification and serve a
    // genuinely torn cut. The dangerous resolution is exactly "at a
    // truncated table's retention horizon" (any later resolution has
    // the surviving tags it needs) — refuse it, EXCEPT where a tear is
    // structurally impossible:
    //  - a single-table cut has no second table to disagree with;
    //  - a table resolved at its NEWEST version includes every
    //    transaction's effects on it entirely (all of any txn's
    //    versions of this table are <= the head), so it can never be
    //    the split/excluded side of a tear — and under the DEFAULT
    //    vacuum retention (keepVersions = 1) the head IS the horizon,
    //    which would otherwise permanently disable AS-OF on every
    //    default-retention table.
    if (names.size > 1) names.foreach { n =>
      val oldest = metas(n).head._1
      val newest = metas(n).last._1
      if (resolved(n) == oldest && oldest > 1L && resolved(n) != newest)
        throw new IllegalArgumentException(
          s"snapshotTablesAt: $ts resolves $n at its retention " +
            s"horizon (version $oldest; earlier history vacuumed) — " +
            "whole-transaction verification cannot see reaped txn " +
            "tags there; pick a later instant or extend retention")
    }
    // whole-transaction check: for each txn id tagged anywhere in
    // these tables' histories, the cut must sit entirely at-or-above
    // that txn's versions (included) or entirely below (excluded) in
    // EVERY member table — per-table version spans included
    val txnSpan: Map[String, Map[String, (Long, Long)]] = names.map { n =>
      n -> metas(n)
        .flatMap { case (v, _, tid) => tid.map(_ -> v) }
        .groupBy(_._1)
        .map { case (t, vs) =>
          t -> (vs.map(_._2).min, vs.map(_._2).max)
        }
    }.toMap
    txnSpan.values.flatMap(_.keys).toSet[String].foreach { t =>
      val members = names.filter(n => txnSpan(n).contains(t))
      val states = members.map { n =>
        val (lo, hi) = txnSpan(n)(t)
        if (resolved(n) >= hi) "included"
        else if (resolved(n) < lo) "excluded"
        else "split"
      }.toSet
      require(states == Set("included") || states == Set("excluded"),
        s"snapshotTablesAt: $ts falls inside cross-table transaction " +
          s"$t's commit window over ${members.mkString(", ")} — the " +
          "cut would tear it; pick an instant outside the window " +
          "(per-version timestamps: DESCRIBE HISTORY)")
    }
    resolved.map { case (n, v) => n -> tableAt(n, v) }
  }

  /** Explicit-version surfaces (time travel, restore, clone) must not
    * resolve a version an uncommitted cross-table transaction
    * committed — tableVersions hides the tagged tail, but a caller
    * guessing the raw number would otherwise read (or worse, clone/
    * restore-resurrect) data whose parent marker never landed. */
  private def requireVisible(op: String, name: String, v: Long,
      meta: Map[String, String]): Unit =
    require(meta.get(TxnMeta).forall(txnVisible),
      s"$op: version $v of $name belongs to an uncommitted cross-table " +
        "transaction and is not readable until its marker lands")

  /** Commit metadata of ONE version — its own record's `#` block
    * (delta preferred: the true commit record; a lazy floor checkpoint
    * copies it verbatim). */
  private def metaOfVersion(name: String,
      v: Long): Map[String, String] = {
    if (metaFs.exists(deltaPath(name, v))) readDeltaFile(deltaPath(name, v))._3
    else readManifestFile(manifestPath(name, v))._2
  }

  /** Time travel by TIMESTAMP: the table as of the LATEST commit at or
    * before `ts` (every commit stamps its wall-clock instant in the
    * record). The Delta-style `TIMESTAMP AS OF` resolution: versions
    * after `ts` exist but are not visible; a `ts` before the first
    * commit refuses. */
  def tableAtTime(name: String, ts: java.time.Instant): DataFrame = {
    val versions = tableVersions(name)
    require(versions.nonEmpty, s"tableAtTime: $name has no committed snapshot")
    val at = versions.reverse.find { v =>
      metaOfVersion(name, v).get(TimeMeta)
        .flatMap(s => scala.util.Try(java.time.Instant.parse(s)).toOption)
        .exists(!_.isAfter(ts))
    }.getOrElse(throw new IllegalArgumentException(
      s"tableAtTime: $name has no version committed at or before $ts " +
        s"(earliest: ${metaOfVersion(name, versions.head).getOrElse(TimeMeta, "?")})"))
    tableAt(name, at)
  }

  /** Read-only consistency audit — the warehouse fsck. Every other
    * observability surface reports what the system DID (history, the
    * ingest/maintenance ledgers, DESCRIBE PINS); this one asks whether
    * what is on disk still MATCHES what the log claims, so corruption
    * is a finding on a report instead of a FileNotFound (or a silently
    * short count) in some later query. Checks, each one row per
    * finding plus an `ok` summary row when a category is clean:
    *
    *  - `log_chain`: every retained version still reconstructs from
    *    its delta/checkpoint records (a reaped or unparsable record is
    *    per-version `error`);
    *  - `data_files` / `dv_sidecars`: every file (and deletion-vector
    *    sidecar) named by the HEAD snapshot and by every live pinned
    *    version exists on the filesystem — the versions a reader can
    *    actually be serving from right now;
    *  - `orphan_files`: files under the table directory that NO
    *    retained version, clone, pin, or pending transaction tail
    *    references (`warn` — crashed-write debris; vacuum ignores
    *    untracked files, so they persist until noticed);
    *  - `pins`: a pin naming a no-longer-retained version is `error`
    *    (the held cut is already unreadable); an expired lease is
    *    `warn` (the next vacuum sweeps it);
    *  - with `deep = true`, two Spark jobs verify CONTENT against the
    *    manifest's own bookkeeping: each head data file's physical row
    *    count against its recorded `__rows` stat (a swapped or
    *    truncated file fails even though it exists), and each DV
    *    sidecar's per-file position count against the manifest's
    *    `DvRef.rows` (parquet/orc only — csv/json counts are not
    *    self-describing enough to assert bit-certainty).
    *
    * Returns (check, status ok|warn|error, subject, detail), errors
    * first. Read-only: commits nothing, never mutates the log.
    * `graceMs` bounds the orphan check the way vacuum's grace bounds
    * its sweep: a writer renames staged files into the table directory
    * moments before its manifest commit, so an audit racing live
    * writers should ignore files younger than the stage-to-commit gap
    * (`lockStaleMs` is the same sound default); zero suits a quiesced
    * table. SQL: `AUDIT TABLE t [DEEP]`. */
  def audit(name: String, deep: Boolean = false,
      graceMs: Long = 0L): DataFrame = {
    import spark.implicits._
    val fs = metaFs
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String)]
    def ok(check: String, detail: String): Unit =
      out += ((check, "ok", "", detail))
    def warnF(check: String, subject: String, detail: String): Unit =
      out += ((check, "warn", subject, detail))
    def errF(check: String, subject: String, detail: String): Unit =
      out += ((check, "error", subject, detail))
    val versions = tableVersions(name)
    if (versions.isEmpty)
      errF("log_chain", name, "no committed snapshot")
    else {
      // 1. the log chain: every retained version reconstructs
      var chainBad = 0
      val states = versions.flatMap { v =>
        try Some(v -> stateAt(name, v)._1)
        catch {
          case scala.util.control.NonFatal(e) =>
            chainBad += 1
            errF("log_chain", s"v$v",
              s"version does not reconstruct: ${e.getMessage}")
            None
        }
      }.toMap
      if (chainBad == 0)
        ok("log_chain", s"${versions.length} retained versions reconstruct")
      val head = versions.last
      val now = System.currentTimeMillis
      val pins = pinDetails(name)
      // 2. existence, on the versions a reader can be serving from NOW:
      // the head plus every live pinned cut
      val auditVs = (Seq(head) ++ pins.filterNot(_.expired(now))
        .map(_.version).filter(states.contains)).distinct.sorted
      var missing = 0
      auditVs.foreach { v =>
        states.get(v).toSeq.flatten.foreach { f =>
          if (!fs.exists(qualifiedPath(
            s"$basePath/${normalizedRel(name, f.path)}"))) {
            missing += 1
            errF("data_files", s"v$v:${f.path}",
              "manifest references a missing data file")
          }
          f.dv.foreach { d =>
            if (!fs.exists(qualifiedPath(
              s"$basePath/${normalizedRel(name, d.path)}"))) {
              missing += 1
              errF("dv_sidecars", s"v$v:${d.path}",
                "manifest references a missing deletion-vector sidecar")
            }
          }
        }
      }
      if (missing == 0)
        ok("data_files", s"every file of ${auditVs.length} audited " +
          "versions (head + live pins) exists")
      // 3. orphans: under the table dir but in NO retained version's
      // keep set (the union vacuum itself preserves — so these are
      // files vacuum would never delete AND no reader can reach)
      val keep = vacuumKeepSet(name, versions,
        vacuumKeptVersions(name, versions, versions.length))
      val root = qualifiedPath(s"$basePath/$name")
      var orphans = 0
      if (fs.exists(root)) {
        val cutoff = now - graceMs
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val st = it.next()
          val f = st.getPath
          val rel = relativeTo(root, f)
          if (!keep.contains(rel) && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".") &&
            (graceMs <= 0 || st.getModificationTime < cutoff)) {
            orphans += 1
            warnF("orphan_files", rel,
              "file is referenced by no retained version, clone, pin " +
                "or pending transaction — crashed-write debris")
          }
        }
      }
      if (orphans == 0)
        ok("orphan_files", "no untracked files under the table directory")
      // 4. pins
      var pinBad = 0
      pins.foreach { p =>
        if (!versions.contains(p.version)) {
          pinBad += 1
          errF("pins", p.holder, s"pin names version ${p.version}, " +
            "which is no longer retained — the held cut is unreadable")
        } else if (p.expired(now)) {
          pinBad += 1
          warnF("pins", p.holder, s"lease expired (pinned at " +
            s"${p.pinnedAtMs.getOrElse(0L)}, lease ${p.leaseMs.getOrElse(0L)} ms) " +
            "— the next vacuum sweeps it")
        }
      }
      if (pinBad == 0)
        ok("pins", if (pins.isEmpty) "no pins registered"
        else s"${pins.length} pins name retained versions, no expired leases")
      // 5. deep content checks (self-describing formats only)
      if (deep && !Seq("parquet", "orc").contains(format))
        warnF("row_stats", format,
          "deep content checks need a self-describing format " +
            "(parquet/orc) — skipped")
      else if (deep) {
        // an audit must read the DISK, not a cached listing: a file
        // swapped behind the manifest's back changes size, and a stale
        // FileStatus would turn the count check into a read crash
        spark.catalog.refreshByPath(s"$basePath/$name")
        def msgOf(e: Throwable): String =
          Option(e.getMessage).getOrElse(e.toString).take(200)
        val headFiles = states.getOrElse(head, Nil)
        val withRows = headFiles.filter(_.stats.contains(RowsKey))
        val skipped = headFiles.length - withRows.length
        if (skipped > 0)
          warnF("row_stats", s"$skipped files",
            "no per-file row stat recorded (pre-stats files) — count " +
              "check skipped for them")
        if (withRows.nonEmpty) {
          val cands = withRows.map(_.path)
          def uriOf(f: Warehouse.DataFile) = qualifiedPath(
            s"$basePath/${normalizedRel(name, f.path)}").toString
          var bad = 0
          val unreadable = scala.collection.mutable.Set.empty[String]
          // one fused job over every head file; a single corrupt
          // footer fails it, so the fallback re-reads per file and
          // makes the CULPRIT the finding (paid only on an incident)
          val actual: Map[String, Long] =
            try spark.read.format(format).load(withRows.map(uriOf): _*)
              .groupBy(input_file_name().as("f")).count()
              .collect().flatMap(r =>
                manifestPathOf(name, cands, r.getString(0))
                  .map(_ -> r.getLong(1))).toMap
            catch {
              case scala.util.control.NonFatal(_) =>
                withRows.flatMap { f =>
                  try Some(f.path ->
                    spark.read.format(format).load(uriOf(f)).count())
                  catch {
                    case scala.util.control.NonFatal(e) =>
                      bad += 1
                      unreadable += f.path
                      errF("row_stats", f.path,
                        s"file unreadable: ${msgOf(e)}")
                      None
                  }
                }.toMap
            }
          withRows.filterNot(f => unreadable.contains(f.path)).foreach { f =>
            f.stats(RowsKey)._1.toLongOption match {
              case None =>
                bad += 1
                errF("row_stats", f.path,
                  s"unparsable row stat '${f.stats(RowsKey)._1}'")
              case Some(recorded) =>
                val phys = actual.getOrElse(f.path, 0L)
                if (phys != recorded) {
                  bad += 1
                  errF("row_stats", f.path,
                    s"manifest records $recorded rows, file holds $phys")
                }
            }
          }
          if (bad == 0)
            ok("row_stats",
              s"${withRows.length} files match their recorded row counts")
        }
        val dvFiles = headFiles.filter(_.dv.isDefined)
        if (dvFiles.nonEmpty) {
          // the count is scoped to each data file's OWN sidecar: a
          // superseded sidecar another file still references can hold
          // STALE rows for this file (writeDv carries positions
          // forward), so a count fused across all sidecars would
          // overcount — input_file_name keys each row to its sidecar
          def sidecarUri(rel: String): String = qualifiedPath(
            s"$basePath/${normalizedRel(name, rel)}").toUri.getPath
          val sidecars = dvFiles.map(f => sidecarUri(f.dv.get.path))
            .distinct.filter(p =>
              fs.exists(new org.apache.hadoop.fs.Path(p)))
          val badSidecars = scala.collection.mutable.Set.empty[String]
          def countsOf(paths: Seq[String]): Map[(String, String), Long] =
            spark.read.schema(DvSchema).parquet(paths: _*)
              .groupBy(input_file_name().as("sc"), col("file")).count()
              .collect().map { r =>
                (new org.apache.hadoop.fs.Path(r.getString(0))
                  .toUri.getPath, r.getString(1)) -> r.getLong(2)
              }.toMap
          var bad = 0
          val counts: Map[(String, String), Long] =
            if (sidecars.isEmpty) Map.empty
            else try countsOf(sidecars)
            catch {
              case scala.util.control.NonFatal(_) =>
                // same incident fallback: isolate the unreadable
                // sidecar(s), keep auditing the rest
                sidecars.flatMap { p =>
                  try countsOf(Seq(p)).toSeq
                  catch {
                    case scala.util.control.NonFatal(e) =>
                      bad += 1
                      badSidecars += p
                      errF("dv_rows", p,
                        s"sidecar unreadable: ${msgOf(e)}")
                      Nil
                  }
                }.toMap
            }
          dvFiles
            .filterNot(f => badSidecars.contains(sidecarUri(f.dv.get.path)))
            .foreach { f =>
              val actual = counts.getOrElse(
                (sidecarUri(f.dv.get.path), normalizedRel(name, f.path)), 0L)
              if (actual != f.dv.get.rows) {
                bad += 1
                errF("dv_rows", f.path,
                  s"manifest records ${f.dv.get.rows} deleted positions, " +
                    s"sidecar holds $actual")
              }
            }
          if (bad == 0)
            ok("dv_rows", s"${dvFiles.length} DV-carrying files match " +
              "their recorded position counts")
        }
      }
    }
    val sev = Map("error" -> 0, "warn" -> 1, "ok" -> 2)
    out.sortBy(r => (sev(r._2), r._1, r._3)).toSeq
      .toDF("check", "status", "subject", "detail")
  }

  /** What [[vacuum]] would delete, without deleting it: the
    * table-dir-relative data files outside every kept snapshot (and
    * past the grace window) plus the log records below the retention
    * floor. The safety review before a destructive sweep. */
  def vacuumPreview(name: String, graceMs: Long = 0L,
      keepVersions: Int = 1): Seq[String] = {
    require(keepVersions >= 1, "vacuum must keep at least the current version")
    val fs = metaFs
    currentManifest(name) match {
      case None => Nil
      case Some(_) =>
        val versions = tableVersions(name)
        val kept = vacuumKeptVersions(name, versions, keepVersions)
        val keep = vacuumKeepSet(name, versions, kept)
        val cutoff = System.currentTimeMillis - graceMs
        val root = qualifiedPath(s"$basePath/$name")
        val doomed = scala.collection.mutable.ArrayBuffer.empty[String]
        if (fs.exists(root)) {
          val it = fs.listFiles(root, true)
          while (it.hasNext) {
            val st = it.next()
            val f = st.getPath
            val rel = relativeTo(root, f)
            if (!keep.contains(rel) && !f.getName.startsWith("_") &&
              !f.getName.startsWith(".") &&
              (graceMs <= 0 || st.getModificationTime < cutoff)) doomed += rel
          }
        }
        val winFloor = versions.takeRight(keepVersions).head
        val records = versions
          .filter(v => v < winFloor && !kept.contains(v)).flatMap { v =>
            Seq(deltaPath(name, v), manifestPath(name, v))
              .filter(fs.exists)
              .map(p => s"_graft_meta/txn/$name/${p.getName}")
          }
        (doomed.toSeq ++ records).sorted
    }
  }

  /** Rolls a table back to an earlier committed version by publishing
    * that version's file list (and the schema and layout it was
    * committed under, so later appends lay files out the way that
    * version did) as a NEW version — history stays linear and
    * append-only, later un-vacuumed snapshots remain readable, and
    * operational metadata (streaming high-water marks) carries
    * forward rather than being resurrected from the past. The undo
    * button the time-travel read implies. */
  def restore(name: String, version: Long): Unit = {
    val (files, vMeta) = stateAt(name, version)
    requireVisible("restore", name, version, vMeta)
    require(vMeta.contains(SchemaMeta) && vMeta.contains(PartsMeta),
      s"restore: version $version of $name predates table-definition " +
        "metadata in the manifest — its layout cannot be rolled back safely")
    withCommitLock(name) {
      // ColMap/Dropped ride the rollback too — a restore to a
      // pre-rename version must surface the old logical names, and the
      // keys are written even when absent in vMeta so a later rename's
      // mapping is cleared rather than inherited
      commitManifest(name, files,
        Seq(SchemaMeta, PartsMeta, ClusterMeta, ClusterKindMeta, BloomMeta,
            StatsByMeta)
          .flatMap(k => vMeta.get(k).map(k -> _)).toMap ++
          Map(ColMapMeta -> vMeta.getOrElse(ColMapMeta, ""),
            DroppedMeta -> vMeta.getOrElse(DroppedMeta, "")), op = "restore")
    }
  }

  /** Drop a table: data directory, change files, and manifest log
    * (which holds the table's definition), gone in that order (the log
    * last, so a concurrent reader that already resolved the head either
    * reads a complete snapshot or fails loudly — never a silent partial
    * one).
    *
    * Clone safety: refuses while any REGISTERED clone's manifests
    * still reference this table's files (drop or materialize the
    * clones first — `compact` materializes); a clone itself drops
    * freely, its references die with it. */
  def dropTable(name: String): Unit = {
    withCommitLock(name) {
      val fs = metaFs
      val holdouts = currentManifestFull(name).toSeq
        .flatMap(_._3.get(ClonesMeta)).flatMap(_.split(",")).filter(_.nonEmpty)
        .filter { c =>
          tableVersions(c).exists { cv =>
            stateAt(c, cv)._1.exists(e =>
              (e.path +: e.dv.map(_.path).toSeq)
                .exists(_.startsWith(s"../$name/")))
          }
        }
      require(holdouts.isEmpty,
        s"dropTable: clones still reference $name's files: " +
          s"${holdouts.mkString(", ")} — drop or compact them first")
      // a held serving cut dies with its table: refuse while LIVE pins
      // are registered (the clone rule's version-grain sibling) — the
      // holder releases first, or the drop is a conscious override
      // after unpinning, never a silent kill of a live cut. An EXPIRED
      // lease doesn't block: its holder is gone by contract (the next
      // vacuum would sweep it anyway).
      val pinned = pinDetails(name)
        .filterNot(_.expired(System.currentTimeMillis))
      require(pinned.isEmpty,
        s"dropTable: held serving cuts still pin $name " +
          s"(${pinned.map(p => s"${p.holder}→v${p.version}")
            .mkString(", ")})" +
          " — release them (unpinVersion / UNPIN TABLE) first")
      // a dropped CLONE deregisters from every owner it referenced, so
      // owners' registries (walked by their vacuums) don't accumulate
      // dead entries
      val owners = tableVersions(name).flatMap { v =>
        stateAt(name, v)._1.map(_.path)
      }.collect { case p if p.startsWith("../") =>
        p.drop(3).takeWhile(_ != '/') }.distinct
      owners.foreach { owner =>
        withCommitLock(owner) {
          currentManifestFull(owner).foreach { case (_, ofs, ometa) =>
            val kept = ometa.getOrElse(ClonesMeta, "").split(",")
              .filter(_.nonEmpty).filterNot(_ == name)
            commitManifest(owner, ofs,
              Map(ClonesMeta -> kept.mkString(",")), op = "clone-ref")
          }
        }
      }
      fs.delete(qualifiedPath(s"$basePath/$name"), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$basePath/_graft_meta/changes/$name"), true)
      fs.delete(txnDir(name), true)
    }
    snapshotCache.remove(name)
    spark.catalog.dropTempView(s"dw_$name")
  }

  /** COUNT(*) from metadata alone: the sum of per-file row counts the
    * manifest carries — no file opened, at any table size. None when
    * any current file predates row-count stats (then a scan is the
    * only honest answer). */
  def countRows(name: String): Option[Long] = {
    val files = currentManifest(name).map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"countRows: $name has no committed snapshot"))
    val counts = files.map(_.stats.get(RowsKey).map(_._1.toLong))
    if (counts.forall(_.isDefined))
      Some(counts.flatten.sum - files.flatMap(_.dv).map(_.rows).sum)
    else None
  }

  /** MIN/MAX + COUNT(*) answered from manifest metadata — the
    * aggregate-pushdown twin of [[countRows]]: `SELECT min(c), max(c),
    * count(*) FROM t` is a fold over the per-file stats the manifest
    * already carries, O(files) driver work with ZERO data files opened.
    * At 100 TB that is the difference between a full-table scan and a
    * manifest read — the same trick Delta/Iceberg pull for
    * metadata-only aggregates.
    *
    * Exactness over convenience, in both directions the stats can lie:
    *  - a file carrying a DELETION VECTOR is rescanned (its per-file
    *    min/max may belong to deleted rows) — only those files; the
    *    scan row and the metadata row merge in one final fold. DVs are
    *    a small fraction by construction (the rewrite policies bound
    *    them), so the scan side stays O(delta).
    *  - a clean file MISSING a stat entry for a requested column makes
    *    the whole answer None — indistinguishable between "predates
    *    analysis" and "all-null in that column" (collectStats omits
    *    null-extreme entries), and only the first is skippable. None
    *    means "scan is the only honest answer", exactly countRows'
    *    contract.
    *
    * Result: ONE row — `min_<c>`, `max_<c>` per requested column (typed
    * as the column) and `cnt`. With no DV'd files the plan is a
    * LocalRelation — no FileScan anywhere (spec-asserted). Columns must
    * be declared stats/cluster columns ([[statsBy]] /
    * `ANALYZE TABLE … FOR COLUMNS`).
    *
    * With `withSums` each requested INTEGRAL or DECIMAL column also
    * answers `sum_<c>` (LongType for integrals, decimal(min(38, p+10),
    * s) — Spark's own Sum result type — for decimal(p, s); SQL null
    * semantics) from the per-file exact sums — the API twin of the SQL
    * rewrite's token-ledger lane; a float/double request (whose
    * addition is order-dependent — no metadata fold can promise the
    * scan's bits), a pre-sum-stats file, or a clean-file total beyond
    * the answer type makes the whole answer None, the usual honest
    * direction. DV'd files rescan and their live-row sums merge
    * exactly (sums fold additively — the same one-scan-row shape as
    * min/max); the scan and merge accumulate in DECIMAL(38, column
    * scale) with one final cast to the answer type, so a merged total
    * beyond it RAISES under ANSI instead of wrapping — never a
    * silently-wrong ledger.
    *
    * With `withAvgs` each requested INTEGRAL or DECIMAL column also
    * answers `avg_<c>` (DoubleType, SQL null semantics — NULL over
    * zero non-null rows) = the exact folded sum over the exact
    * non-null count, ONE division at the very end — no per-row
    * accumulation artifacts (for integrals while |sum| ≤ 2^53 the
    * result is the correctly rounded mean; beyond that — and for
    * decimal sums — the exact sum's own double conversion rounds once
    * first, then divides: still exact-ingredient arithmetic, never
    * order-dependent). The "mean doc length per source" ledger
    * question stops paying a scan. Same disqualifiers as sums, plus
    * any clean file missing its non-null count. */
  def statsAggregate(name: String, cols0: Seq[String],
      withSums: Boolean = false, withAvgs: Boolean = false)
      : Option[DataFrame] = {
    val cols = cols0.distinct // duplicate requests would collide column names
    require(cols.nonEmpty, "statsAggregate: no columns requested")
    val (_, files, meta) = currentManifestFull(name).getOrElse(
      throw new IllegalArgumentException(
        s"statsAggregate: $name has no committed snapshot"))
    val sc = committedSchema(name, meta)
    val types = sc.map(f => f.name -> f.dataType).toMap
    cols.foreach(c => require(types.contains(c),
      s"statsAggregate: $name has no column $c"))
    val (dvd, clean) = files.partition(_.dv.isDefined)
    val folded = foldStats(clean, types, cols)
    val cleanCnt = foldRowCount(clean)
    val sumCols = if (withSums || withAvgs) cols else Nil
    val avgCols = if (withAvgs) cols else Nil
    val sums = metadataSumFold(clean, types, sumCols)
    val nns = foldNonNull(clean, avgCols)
    for { mm <- folded; n <- cleanCnt; sm <- sums; nn <- nns } yield {
      def sumLit(c: String) = sm(c) match {
        case null => lit(null)
        case v: Long => lit(v)
        case v: java.math.BigDecimal => lit(v)
      }
      def acc(c: String) = sumAccType(types(c))
      val metaRow = spark.range(1).select(
        mm.flatMap { case (c, lo, hi) =>
          def tl(v: Option[Any]) =
            v.map(lit).getOrElse(lit(null)).cast(types(c))
          Seq(tl(lo).as(s"min_$c"), tl(hi).as(s"max_$c"))
        } ++ (if (withSums) cols.map(c =>
          sumLit(c).cast(sumResultType(types(c))).as(s"sum_$c")) else Nil) ++
          (if (dvd.isEmpty)
            // no DVs: the mean settles here — one double division
            // (decimal sums round to double ONCE, then divide — the
            // same two steps the DV-merge lane's cast/divide performs)
            avgCols.map(c => (sm(c) match {
              case null => lit(null)
              case v: Long => lit(v.toDouble / nn(c))
              case v: java.math.BigDecimal =>
                lit(v.doubleValue() / nn(c))
            }).cast("double").as(s"avg_$c"))
          else
            // DV'd files in play: carry the exact ingredients through
            // the merge, divide after
            avgCols.flatMap(c => Seq(
              sumLit(c).cast(acc(c)).as(s"__sum_$c"),
              lit(nn(c)).as(s"__nn_$c"))))
          :+ lit(n).as("cnt"): _*)
      if (dvd.isEmpty) metaRow
      else {
        // DV'd files only: fromFiles applies their deletion vectors,
        // so the scan's extremes/count describe LIVE rows exactly
        val scanAggs = cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))) ++
          // DECIMAL accumulation at the column's own scale: a DV'd
          // file's live rows can never overflow their own scan sum
          (if (withSums) cols.map(c =>
            sum(col(c).cast(acc(c))).as(s"sum_$c")) else Nil) ++
          avgCols.flatMap(c => Seq(
            sum(col(c).cast(acc(c))).as(s"__sum_$c"),
            count(col(c)).as(s"__nn_$c"))) :+
          count(lit(1)).as("cnt")
        val scanRow = fromFiles(name, dvd.map(_.path), sc)
          .agg(scanAggs.head, scanAggs.tail: _*)
        val mergeAggs = cols.flatMap(c =>
          Seq(min(col(s"min_$c")).as(s"min_$c"),
            max(col(s"max_$c")).as(s"max_$c"))) ++
          (if (withSums) cols.map(c =>
            sum(col(s"sum_$c").cast(acc(c)))
              .cast(sumResultType(types(c))).as(s"sum_$c"))
          else Nil) ++
          avgCols.flatMap(c => Seq(
            sum(col(s"__sum_$c").cast(acc(c))).as(s"__sum_$c"),
            sum(col(s"__nn_$c")).cast("long").as(s"__nn_$c"))) :+
          sum(col("cnt")).cast("long").as("cnt")
        val merged = metaRow.unionByName(scanRow)
          .agg(mergeAggs.head, mergeAggs.tail: _*)
        // exact merged sum / exact merged count, ONE final division
        merged.select(
          cols.flatMap(c =>
            Seq(col(s"min_$c"), col(s"max_$c"))) ++
            (if (withSums) cols.map(c => col(s"sum_$c")) else Nil) ++
            avgCols.map(c =>
              when(col(s"__sum_$c").isNull, lit(null))
                .otherwise(col(s"__sum_$c").cast("double") /
                  col(s"__nn_$c")).as(s"avg_$c")) :+
            col("cnt"): _*)
      }
    }
  }

  /** Per-column non-null counts over a clean-file subset — the avg
    * denominators; any file missing a count poisons the answer. */
  private def foldNonNull(fs: Seq[Warehouse.DataFile],
      cols: Seq[String]): Option[Map[String, Long]] =
    cols.foldLeft(Option(Map.empty[String, Long])) { case (acc, c) =>
      acc.flatMap { m =>
        val per = fs.map(nonNullOf(_, c))
        if (per.forall(_.isDefined)) Some(m + (c -> per.flatten.sum))
        else None
      }
    }

  /** Fold min-of-mins / max-of-maxs over typed per-file stats; any
    * unparseable or missing entry poisons the whole answer (None —
    * the honest direction) — EXCEPT a file whose non-null count for
    * the column is 0: min/max are legitimately absent there (nulls
    * never contribute to an extreme), so the file contributes nothing
    * instead of poisoning. Shared by the ungrouped, grouped, and
    * Catalyst-rule forms of the metadata aggregate. */
  private def foldStats(fs: Seq[Warehouse.DataFile],
      types: Map[String, org.apache.spark.sql.types.DataType],
      cols: Seq[String])
      : Option[Seq[(String, Option[Any], Option[Any])]] =
    cols.foldLeft(Option(Seq.empty[(String, Option[Any], Option[Any])])) {
      case (accOpt, c) => accOpt.flatMap { acc =>
        val dt = types(c)
        val parsed: Seq[Option[Seq[(Any, Any)]]] = fs.map { f =>
          f.stats.get(c) match {
            case Some((mn, mx)) => for {
              lo <- statValue(dt, mn); hi <- statValue(dt, mx)
            } yield Seq((lo, hi))
            case None if nonNullOf(f, c).contains(0L) => Some(Nil)
            case None => None
          }
        }
        if (!parsed.forall(_.isDefined)) None
        else {
          val vs = parsed.flatten.flatten
          def pick(sel: ((Any, Any)) => Any, keepHi: Boolean) =
            vs.map(sel).reduceOption((a, b) =>
              if ((statOrder(a, b) > 0) == keepHi) a else b)
          Some(acc :+ ((c, pick(_._1, keepHi = false),
            pick(_._2, keepHi = true))))
        }
      }
    }

  private def foldRowCount(fs: Seq[Warehouse.DataFile]): Option[Long] = {
    val ns = fs.map(_.stats.get(RowsKey).map(_._1.toLong))
    if (ns.forall(_.isDefined)) Some(ns.flatten.sum) else None
  }

  /** The raw material for the Catalyst metadata-aggregate rewrite
    * ([[graft.plans.MetadataAggRewrite]]): the current snapshot's file
    * list, column types, and partition columns. The rule does its own
    * file selection (partition-predicate WHERE) and grouping
    * driver-side, then folds through [[metadataAggFold]]. */
  private[graft] def metadataAggSnapshot(name: String)
      : Option[(Seq[Warehouse.DataFile],
          Map[String, org.apache.spark.sql.types.DataType], Seq[String])] =
    currentManifestFull(name).flatMap { case (_, files, meta) =>
      // manifest stats key PHYSICAL column names; after a rename or a
      // drop-and-re-add, a logical name could silently hit a DIFFERENT
      // column's stats — any column mapping disqualifies the fold
      if (colMapOf(meta).nonEmpty || droppedOf(meta).nonEmpty) None
      else {
        val sc = committedSchema(name, meta)
        Some((files, sc.map(f => f.name -> f.dataType).toMap,
          partitionColsOf(name)))
      }
    }

  /** Typed partition values of one snapshot file, for the rewrite's
    * driver-side Filter eval / GROUP BY — None when not derivable. */
  private[graft] def filePartitionValues(f: Warehouse.DataFile,
      cols: Seq[String],
      types: Map[String, org.apache.spark.sql.types.DataType])
      : Option[Seq[Any]] =
    partitionValuesOf(f.path, cols, types)

  /** Fold a chosen file subset to (per-column (lo, hi), per-column
    * non-null count, exact row count). MIN/MAX (`cols`) and
    * `count(col)` (`cntCols`) refuse deletion vectors — a deleted row
    * may BE the extreme / may or may not be null, and an analysis rule
    * must not run a scan to find out. COUNT(*) alone stays exact
    * THROUGH DVs: the manifest knows each sidecar's cardinality, so
    * n = Σ file rows − Σ dv rows. Any file missing a requested stat
    * poisons the whole fold (None). */
  private[graft] def metadataAggFold(fs: Seq[Warehouse.DataFile],
      types: Map[String, org.apache.spark.sql.types.DataType],
      cols: Seq[String], cntCols: Seq[String] = Nil)
      : Option[(Seq[(String, Option[Any], Option[Any])],
          Map[String, Long], Long)] = {
    if (!(cols ++ cntCols).forall(types.contains)) return None
    if ((cols.nonEmpty || cntCols.nonEmpty) && fs.exists(_.dv.isDefined))
      return None
    val cnts: Option[Map[String, Long]] =
      cntCols.foldLeft(Option(Map.empty[String, Long])) { case (acc, c) =>
        acc.flatMap { m =>
          val per = fs.map(nonNullOf(_, c))
          if (per.forall(_.isDefined)) Some(m + (c -> per.flatten.sum))
          else None
        }
      }
    for {
      folded <- foldStats(fs, types, cols)
      cn <- cnts
      n <- foldRowCount(fs)
    } yield (folded, cn, n - fs.flatMap(_.dv).map(_.rows).sum)
  }

  /** Fold the per-file exact SUM stats ([[sumKey]]) of a file subset
    * to a per-column total — the metadata lane behind
    * `SELECT sum(<integral col>)` (MetadataAggRewrite / the b10 token
    * ledger). Semantics match Spark's `Sum` over integral inputs
    * exactly: nulls never contribute, a column with ZERO non-null rows
    * across the subset sums to SQL NULL, and the output is LongType —
    * a BigInt total outside Long range disqualifies (None) so the
    * overflow surfaces through the real scan (ANSI error / try_sum
    * null), never through a silently-wrapped metadata answer.
    * Disqualifies like min/max on: any non-integral column, any file
    * carrying a deletion vector (the deleted rows' values are baked
    * into the stored sum), or any file missing the stat with a
    * non-zero (or unknown) non-null count — pre-stats files keep the
    * scan. */
  private[graft] def metadataSumFold(fs: Seq[Warehouse.DataFile],
      types: Map[String, org.apache.spark.sql.types.DataType],
      sumCols: Seq[String]): Option[Map[String, Any]] = {
    if (sumCols.isEmpty) return Some(Map.empty)
    if (!sumCols.forall(c => types.get(c).exists(exactSumType))) return None
    if (fs.exists(_.dv.isDefined)) return None
    sumCols.foldLeft(Option(Map.empty[String, Any])) { case (acc, c) =>
      acc.flatMap { m =>
        types(c) match {
          case d: org.apache.spark.sql.types.DecimalType =>
            // decimal lane: fixed-scale addition is exact; the total
            // answers as Spark's Sum result type decimal(p+10, s) —
            // a total that would overflow it disqualifies so the scan
            // surfaces the overflow (ANSI error / null), never a
            // silently-rescaled metadata answer
            val per: Seq[Option[(java.math.BigDecimal, Long)]] = fs.map { f =>
              (sumDecOf(f, c), nonNullOf(f, c)) match {
                case (Some(s), Some(nn)) => Some((s, nn))
                case (None, Some(0L)) =>
                  Some((java.math.BigDecimal.ZERO, 0L))
                case _ => None
              }
            }
            if (!per.forall(_.isDefined)) None
            else {
              val flat = per.flatten
              val nn = flat.map(_._2).sum
              val tot = flat.map(_._1)
                .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
                .setScale(d.scale)
              val rp = math.min(38, d.precision + 10)
              if (nn == 0L) Some(m + (c -> null))
              else if (org.apache.spark.sql.types.Decimal(tot)
                  .changePrecision(rp, d.scale)) Some(m + (c -> tot))
              else None
            }
          case _ =>
            val per: Seq[Option[(BigInt, Long)]] = fs.map { f =>
              (sumOf(f, c), nonNullOf(f, c)) match {
                case (Some(s), Some(nn)) => Some((s, nn))
                case (None, Some(0L)) => Some((BigInt(0), 0L))
                case _ => None
              }
            }
            if (!per.forall(_.isDefined)) None
            else {
              val flat = per.flatten
              val nn = flat.map(_._2).sum
              val tot = flat.map(_._1).sum
              if (nn == 0L) Some(m + (c -> null))
              else if (tot.isValidLong) Some(m + (c -> tot.toLong))
              else None
            }
        }
      }
    }
  }

  /** Typed partition values parsed from a file's k=v path segments —
    * None when a segment is missing (pre-evolution file) or a value
    * does not round-trip under the column's type. */
  private def partitionValuesOf(path: String, groupCols: Seq[String],
      types: Map[String, org.apache.spark.sql.types.DataType])
      : Option[Seq[Any]] = {
    // TOTAL: a `%` not followed by two hex digits stays verbatim. A
    // foreign-written directory like `x=100%` must disqualify the
    // group (value fails the type round-trip) or parse as its literal
    // self — never throw at ANALYSIS time; MetadataAggRewrite's
    // contract is "disqualify, never fail" (MetadataAggRewriteSpec
    // pins it on a malformed on-disk layout).
    def hex(c: Char): Int = Character.digit(c, 16)
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 2 < s.length &&
            hex(s.charAt(i + 1)) >= 0 && hex(s.charAt(i + 2)) >= 0) {
          sb.append(((hex(s.charAt(i + 1)) << 4) | hex(s.charAt(i + 2))).toChar)
          i += 3
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }
    val kv = path.split("/").dropRight(1).flatMap { seg =>
      val eq = seg.indexOf('=')
      if (eq <= 0) None else Some(seg.substring(0, eq) ->
        unescape(seg.substring(eq + 1)))
    }.toMap
    val vs: Seq[Option[Any]] = groupCols.map { g =>
      kv.get(g) match {
        case None => None
        case Some("__HIVE_DEFAULT_PARTITION__") => Some(null)
        case Some(raw) => statValue(types(g), raw)
      }
    }
    if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get))
  }

  /** The current snapshot's qualified file URI strings — data files
    * AND deletion-vector sidecars, clone-aware. The identity
    * [[graft.plans.MetadataAggRewrite]] compares against the leaf
    * FileIndexes of a `dw_` view's plan to prove the view it is
    * rewriting IS the current snapshot (a DV-carrying table's view is
    * the anti-join plan, whose leaves scan both sets). */
  private[graft] def currentDataPaths(name: String): Set[String] =
    currentManifest(name).map(_._2.flatMap(f =>
      f.path +: f.dv.map(_.path).toSeq).map(p =>
        qualifiedPath(s"$basePath/${normalizedRel(name, p)}").toString)
      .toSet).getOrElse(Set.empty)

  /** [[statsAggregate]] GROUPED BY PARTITION COLUMNS — exact because a
    * data file belongs to exactly ONE partition directory, so per-file
    * stats fold cleanly within each group: `SELECT p, min(c), max(c),
    * count(*) GROUP BY p` answers from the manifest + the k=v path
    * segments with zero data files opened (DV'd files rescan and merge
    * per group, like the ungrouped form). None when any clean file
    * lacks a requested stat OR predates the partition layout (mixed
    * layouts after partition evolution: the un-partitioned files carry
    * no group value — a scan is the only honest answer). `withSums`
    * adds `sum_<c>` per integral or decimal requested column under
    * [[statsAggregate]]'s contract — the per-GROUP token ledger.
    * `withAvgs` adds `avg_<c>` (exact sum / exact non-null count,
    * one final double division per group) under the same contract —
    * the per-group mean ledger. */
  def statsAggregateBy(name: String, groupCols: Seq[String],
      cols0: Seq[String], withSums: Boolean = false,
      withAvgs: Boolean = false): Option[DataFrame] = {
    val cols = cols0.distinct
    require(groupCols.nonEmpty && cols.nonEmpty,
      "statsAggregateBy: empty group or aggregate column list")
    val parts = partitionColsOf(name)
    groupCols.foreach(g => require(parts.contains(g),
      s"statsAggregateBy: $g is not a partition column of $name " +
        s"(partitioned by ${parts.mkString(",")}) — only partition " +
        "groups are exactly derivable from per-file stats"))
    val (_, files, meta) = currentManifestFull(name).getOrElse(
      throw new IllegalArgumentException(
        s"statsAggregateBy: $name has no committed snapshot"))
    val sc = committedSchema(name, meta)
    val types = sc.map(f => f.name -> f.dataType).toMap
    cols.foreach(c => require(types.contains(c),
      s"statsAggregateBy: $name has no column $c"))
    val (dvd, clean) = files.partition(_.dv.isDefined)
    val grouped: Option[Map[Seq[Any], Seq[Warehouse.DataFile]]] = {
      val gs = clean.map(f =>
        partitionValuesOf(f.path, groupCols, types).map(_ -> f))
      if (gs.forall(_.isDefined))
        Some(gs.flatten.groupBy(_._1).map { case (k, v) =>
          k -> v.map(_._2) })
      else None
    }
    val sumCols = if (withSums || withAvgs) cols else Nil
    val avgCols = if (withAvgs) cols else Nil
    val folded: Option[Seq[org.apache.spark.sql.Row]] = grouped.flatMap {
      byGroup =>
        val rows = byGroup.toSeq.map { case (gvals, gfiles) =>
          for {
            m <- foldStats(gfiles, types, cols)
            sm <- metadataSumFold(gfiles, types, sumCols)
            nn <- foldNonNull(gfiles, avgCols)
            n <- foldRowCount(gfiles)
          } yield org.apache.spark.sql.Row.fromSeq(gvals ++
            m.flatMap { case (_, lo, hi) =>
              Seq(lo.orNull, hi.orNull) } ++
            (if (withSums) sumCols.map(sm(_)) else Nil) ++
            // with DVs in play, carry the exact ingredients instead of
            // a settled mean — the merge divides once at the end
            (if (dvd.isEmpty)
              avgCols.map(c => sm(c) match {
                case null => null
                case v: Long => v.toDouble / nn(c)
                case v: java.math.BigDecimal => v.doubleValue() / nn(c)
              })
            else avgCols.flatMap(c => Seq(sm(c) match {
              case null => null
              case v: Long => BigDecimal(v)
              case v: java.math.BigDecimal => BigDecimal(v)
            }, nn(c)))) :+ n)
        }
        if (rows.forall(_.isDefined)) Some(rows.flatten) else None
    }
    folded.map { rows =>
      import org.apache.spark.sql.types._
      def acc(c: String) = sumAccType(types(c))
      val schema = StructType(
        groupCols.map(g => StructField(g, types(g))) ++
          cols.flatMap(c => Seq(StructField(s"min_$c", types(c)),
            StructField(s"max_$c", types(c)))) ++
          (if (withSums) cols.map(c =>
            StructField(s"sum_$c", sumResultType(types(c))))
          else Nil) ++
          (if (dvd.isEmpty)
            avgCols.map(c => StructField(s"avg_$c", DoubleType))
          else avgCols.flatMap(c =>
            Seq(StructField(s"__sum_$c", acc(c)),
              StructField(s"__nn_$c", LongType)))) :+
          StructField("cnt", LongType))
      val metaRows = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        schema)
      if (dvd.isEmpty) metaRows
      else {
        val scanAggs = cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))) ++
          (if (withSums) cols.map(c =>
            sum(col(c).cast(acc(c))).as(s"sum_$c")) else Nil) ++
          avgCols.flatMap(c => Seq(
            sum(col(c).cast(acc(c))).as(s"__sum_$c"),
            count(col(c)).as(s"__nn_$c"))) :+
          count(lit(1)).as("cnt")
        val scanRows = fromFiles(name, dvd.map(_.path), sc)
          .groupBy(groupCols.map(col): _*)
          .agg(scanAggs.head, scanAggs.tail: _*)
        val mergeAggs = cols.flatMap(c =>
          Seq(min(col(s"min_$c")).as(s"min_$c"),
            max(col(s"max_$c")).as(s"max_$c"))) ++
          // DECIMAL merge + one final cast to the answer type:
          // beyond-range totals RAISE under ANSI instead of wrapping
          // ([[statsAggregate]])
          (if (withSums) cols.map(c =>
            sum(col(s"sum_$c").cast(acc(c)))
              .cast(sumResultType(types(c))).as(s"sum_$c"))
          else Nil) ++
          avgCols.flatMap(c => Seq(
            sum(col(s"__sum_$c").cast(acc(c))).as(s"__sum_$c"),
            sum(col(s"__nn_$c")).cast("long").as(s"__nn_$c"))) :+
          sum(col("cnt")).cast("long").as("cnt")
        val merged = metaRows.unionByName(scanRows)
          .groupBy(groupCols.map(col): _*)
          .agg(mergeAggs.head, mergeAggs.tail: _*)
        merged.select(
          groupCols.map(col) ++
            cols.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))) ++
            (if (withSums) cols.map(c => col(s"sum_$c")) else Nil) ++
            avgCols.map(c =>
              when(col(s"__sum_$c").isNull, lit(null))
                .otherwise(col(s"__sum_$c").cast("double") /
                  col(s"__nn_$c")).as(s"avg_$c")) :+
            col("cnt"): _*)
      }
    }
  }

  /** One-stop table inspection (the DESCRIBE DETAIL payload): current
    * version, file count, layout (partition/cluster/zorder/bloom
    * columns), declared checks, registered clones, and the tracked MV
    * source if this table is one. Ordered key→value pairs. */
  def describeDetail(name: String): Seq[(String, String)] = {
    val (version, files, meta) = currentManifestFull(name).getOrElse(
      throw new IllegalArgumentException(
        s"describeDetail: $name has no committed snapshot"))
    val lay = layoutOf(meta)
    Seq(
      "version" -> version.toString,
      "numFiles" -> files.size.toString,
      "numRows" -> countRows(name).map(_.toString).getOrElse(""),
      "numDeletionVectors" -> files.count(_.dv.isDefined).toString,
      "numDvDeletedRows" -> files.flatMap(_.dv).map(_.rows).sum.toString,
      "partitionColumns" -> lay.parts.mkString(","),
      "clusterColumns" -> lay.cluster.mkString(","),
      "clusterKind" -> lay.kind,
      "bloomColumns" -> lay.bloom.mkString(","),
      "statsColumns" -> lay.stats.mkString(","),
      "checks" -> decodeChecks(meta).map(c =>
        s"${c.name}:${c.onViolation}(${c.expr})").mkString("; "),
      "clones" -> meta.getOrElse(ClonesMeta, ""),
      "mvSource" -> meta.get(MvBaseMeta).map(b =>
        s"$b@v${meta.getOrElse(MvVerMeta, "?")}").getOrElse(""),
      "lastOperation" -> meta.getOrElse(OpMeta, ""),
      "lastCommittedAt" -> meta.getOrElse(TimeMeta, ""))
  }

  /** True when `name` has a committed snapshot here (the predicate
    * the SQL command surface uses to decide binding). */
  def hasTable(name: String): Boolean = currentManifest(name).nonEmpty

  /** Re-point this session's `dw_<name>` view at the CURRENT committed
    * snapshot (SQL: `REFRESH TABLE name`). Commits made through this
    * instance re-point the view automatically (commitManifest); this
    * exists for commits made by ANOTHER instance or process — the head
    * probe makes them visible to new reads immediately, but a view
    * registered before them keeps its older file list until refreshed. */
  def refreshTable(name: String): Unit =
    read(name).createOrReplaceTempView(s"dw_$name")

  /** Bind this warehouse as the session's target for the SQL
    * maintenance surface (DELETE/UPDATE/VACUUM/OPTIMIZE/DESCRIBE
    * HISTORY/CLONE — see [[graft.plans.GraftSqlParser]]). The session
    * must have been built `.withExtensions(new GraftExtensions)`. */
  def enableSql(): this.type = {
    graft.plans.GraftSqlParser.bind(spark, this); this
  }

  /** Zero-copy shallow clone: `dst` becomes a full table whose first
    * manifest REFERENCES `src`'s data files (re-pointed `../src/…`
    * entries, per-file stats and blooms carried along) — no data I/O,
    * metadata only, at any size. Pass `version` to clone a historical
    * snapshot (time-travel fork).
    *
    * The clone is a real table from then on: appends land in its own
    * directory, DELETE/UPDATE rewrite only the files they touch (a
    * rewritten file materializes into the clone, untouched ones keep
    * pointing at the source), compact/recluster materialize it fully,
    * and its own history/time-travel/restore work as usual. Writes to
    * either table NEVER affect the other — the fork semantics of a
    * production table format's CLONE.
    *
    * Vacuum safety, both directions: vacuuming the CLONE only sweeps
    * its own directory (referenced source files live elsewhere);
    * vacuuming the SOURCE keeps every file any registered clone's
    * manifests still reference — the clone registers itself on the
    * source (op `clone-ref`) in the same call. Cloning a clone keeps
    * each file entry pointing at the directory that physically owns
    * it, and registers on every owner. */
  def cloneTable(src: String, dst: String,
      version: Option[Long] = None): Unit = {
    require(src != dst, "cloneTable: src and dst are the same table")
    val v = version.getOrElse(currentManifest(src).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"cloneTable: $src has no committed snapshot")))
    val (files, srcMeta) = stateAt(src, v)
    requireVisible("cloneTable", src, v, srcMeta)
    // each entry points at the directory that PHYSICALLY owns the file:
    // plain paths gain one "../src/" hop; already-referencing paths
    // (cloning a clone) are kept verbatim
    val repointed = files.map { f0 =>
      val f = if (f0.path.startsWith("../")) f0
        else f0.copy(path = s"../$src/${f0.path}")
      // a DV sidecar lives beside the data files it covers — repoint
      // its reference the same way so the clone subtracts them too
      f.copy(dv = f.dv.map(d =>
        if (d.path.startsWith("../")) d
        else d.copy(path = s"../$src/${d.path}")))
    }
    val carried = Seq(SchemaMeta, PartsMeta, ClusterMeta, ClusterKindMeta,
      BloomMeta, StatsByMeta, ChecksMeta, ColMapMeta, DroppedMeta)
      .flatMap(k => srcMeta.get(k).map(k -> _)).toMap
    require(currentManifest(dst).isEmpty,
      s"cloneTable: $dst already exists")
    // register dst on every table whose directory it references BEFORE
    // committing the clone's manifest, so THEIR vacuums keep the shared
    // files alive. Order matters: a clone committed before registration
    // leaves a window where a concurrent vacuum of the source sees no
    // registered clone and deletes files the already-committed clone
    // references — silently breaking it. The inverse failure (crash
    // after registration, before the dst commit) only leaves a dangling
    // registry entry, which is benign: vacuum keeps extra files, and
    // dropTable re-verifies actual manifest references.
    val owners = repointed.map(_.path).collect {
      case pth if pth.startsWith("../") => pth.drop(3).takeWhile(_ != '/')
    }.distinct
    owners.foreach { owner =>
      withCommitLock(owner) {
        val (_, ofs, ometa) = currentManifestFull(owner).getOrElse(
          throw new IllegalStateException(
            s"cloneTable: referenced table $owner has no snapshot"))
        val clones = (ometa.getOrElse(ClonesMeta, "").split(",")
          .filter(_.nonEmpty).toSeq :+ dst).distinct
        commitManifest(owner, ofs,
          Map(ClonesMeta -> clones.mkString(",")), op = "clone-ref")
      }
    }
    withCommitLock(dst) {
      require(currentManifest(dst).isEmpty,
        s"cloneTable: $dst already exists")
      commitManifest(dst, repointed, carried, op = "clone")
    }
  }

  /** Exactly-once streaming micro-batch append. Structured
    * Streaming's foreachBatch is at-least-once: after a failure between
    * the sink write and the checkpoint advance, the same batchId is
    * REPLAYED. Committing the batch and its id in one atomic manifest
    * swap makes the replay detectable — batchIds are monotonically
    * increasing per query, so a single high-water mark per streamId in
    * the manifest metadata suffices, and because metadata rides every
    * subsequent commit, the guarantee survives compaction and upserts.
    * Only an exact replay of the LAST committed batch is skipped; a
    * batchId BELOW the mark means the stream checkpoint was reset or
    * two queries share a streamId — that is an error, not a silent
    * skip (silence there would discard all data forever). Returns true
    * iff the batch landed (false = duplicate replay). */
  /** The committed batchId high-water mark for (name, streamId) — the
    * fence [[appendStreamBatch]] enforces, exposed so a COMPOSED ingest
    * path ([[graft.operators.Ingest.ingestBatch]]) can settle a
    * fenced-out batch BEFORE any stateful gate stages its appends: a
    * stale batchId carrying genuinely unseen doc_ids (a restart driven
    * from an old checkpoint) must not commit gate memory for docs that
    * will never land in the base table. */
  def streamHighWaterMark(name: String,
      streamId: String = "stream"): Option[Long] =
    currentManifestFull(name)
      .flatMap(_._3.get(s"watermark.$streamId")).map(_.toLong)

  def appendStreamBatch(name: String, df: DataFrame, batchId: Long,
      streamId: String = "stream"): Boolean = {
    val markKey = s"watermark.$streamId"
    val check = currentManifestFull(name).flatMap(_._3.get(markKey)).map(_.toLong)
    if (check.contains(batchId)) false // replay of the last committed batch
    else if (check.exists(batchId < _))
      throw new IllegalStateException(
        s"appendStreamBatch($name, streamId=$streamId): batchId $batchId is " +
          s"below the committed mark ${check.get} — stream checkpoint was " +
          "reset or two queries share this streamId; use a fresh streamId")
    else {
      val (aligned, _) = alignDelta(name, df, allowWiden = false)
      val files = stageLaidOut(name, aligned)
      withCommitLock(name) {
        // re-read under the lock: a concurrent writer may have committed
        val prev = currentManifestFull(name)
        val mark = prev.flatMap(_._3.get(markKey)).map(_.toLong)
        if (mark.exists(_ >= batchId)) false
        else {
          commitManifest(name, prev.map(_._2).getOrElse(Nil) ++ files,
            bornMeta(prev.isEmpty, aligned.schema) ++
              Map(markKey -> batchId.toString),
            op = "stream-append")
          true
        }
      }
    }
  }

  /** Drive a streaming DataFrame into a table with
    * exactly-once rows via [[appendStreamBatch]].
    *
    * Interaction with open [[transaction]]s — REFUSE, never defer: a
    * micro-batch landing while another thread holds the table inside
    * `BEGIN TRAN` waits on the commit lock up to `lockAcquireMs`, then
    * fails the batch (and with it the streaming query) loudly. The
    * batch's offsets were not committed to the sink, so restarting the
    * query from the same checkpoint after the transaction closes
    * re-drives the batch exactly once — no tag-and-defer limbo where a
    * stream's rows would become retroactively visible (or vanish on
    * rollback) at someone else's commit point. TransactionSpec pins
    * this under a live MemoryStream. */
  def streamInto(name: String, stream: DataFrame, checkpoint: String,
      streamId: String = "stream"): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendStreamBatch(name, batch, id, streamId); ()
      }
      .start()

  /** [[streamInto]] with CONTINUOUS join-view maintenance: each
    * micro-batch lands in the fact table exactly-once, then
    * [[refreshJoinView]] advances the MV from the feeds in the same
    * foreachBatch turn — so the denormalized view trails ingestion by
    * at most one trigger. Crash-safe by construction, no extra state:
    * the append is batchId-fenced, and the refresh is idempotent over
    * VERSION windows (a crash between append and refresh just means
    * the next batch's refresh covers two versions). Dim-side changes
    * land through normal writes and are picked up by the same
    * refresh calls. */
  def streamIntoJoinView(fact: String, dim: String, mv: String,
      joinKeys: Seq[String], factId: String, stream: DataFrame,
      checkpoint: String, streamId: String = "stream")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendStreamBatch(fact, batch, id, streamId)
        refreshJoinView(fact, dim, mv, joinKeys, factId); ()
      }
      .start()

  // ----- version-manifest commit log ------------------------------
  //
  // The minimal transactional core of a table format: a table's current
  // snapshot is an immutable LIST OF FILES named by a manifest; writers
  // stage data files first (invisible — readers only see listed files),
  // then publish a new manifest version; the highest version wins.
  // Readers resolve the manifest once per DataFrame, so every query runs
  // against one consistent snapshot even while writers land new
  // versions, and compaction/upsert never present a partial directory.
  // Manifests live under _graft_meta (not the table dir) so the data
  // directories hold data only. Single-writer-per-table remains the
  // contract (the create-exclusive commit detects races rather than
  // resolving them — production formats add a log store/lock service).

  private val ManifestName = "v(\\d+)\\.manifest".r
  private val DeltaName = "v(\\d+)\\.delta".r
  /** Manifest metadata keys: the committed schema (compact single-line
    * JSON — safe in the `#key:value` line format), the partition spec,
    * and the cluster spec — all versioned atomically with the data so
    * restore can roll the full table definition back. */
  private val SchemaMeta = "schema"
  private val PartsMeta = "parts"
  private val ClusterMeta = "cluster"
  private val ClusterKindMeta = "clusterKind"
  private val BloomMeta = "bloom"
  /** Declared extra statistics columns ([[statsBy]]): min/max + HLL NDV
    * ride the stats pass for these even though they are neither cluster
    * nor bloom columns — the CBO-coverage knob for known join keys. */
  private val StatsByMeta = "statsBy"
  private val OpMeta = "op"
  private val TimeMeta = "committedAt"
  /** Snapshot file count stamped into every record so history() reads
    * one meta block per version instead of replaying each snapshot. */
  private val FilesMeta = "files"
  private val RowsMeta = "rows"
  private val ChecksMeta = "checks"
  private val ClonesMeta = "clones"
  /** Vacuum-shielded version pins (`holder=version,…`) — the held
    * serving-cut registry ([[pinVersion]]): vacuum keeps every pinned
    * version fully readable (files AND records), the clone registry's
    * shape at version grain. */
  private val PinsMeta = "pins"
  /** Cross-table transaction id a version was committed under; the
    * version is invisible until `_graft_meta/_txn/<id>.committed`
    * exists (see [[transaction]]). Never carried forward: untagged
    * commits strip it. */
  private val TxnMeta = "txn"
  /** Column mapping (logical name → physical parquet name) for renamed
    * columns, and the physical names of dropped columns. A column's
    * PHYSICAL name is frozen at first write; RENAME only changes the
    * logical name in this map (no file rewrite at any size), DROP only
    * removes it from the visible schema. Both are version-pinned:
    * tableAt reads an old version with its own schema + mapping. */
  private val ColMapMeta = "colmap"
  private val DroppedMeta = "droppedcols"

  private def colMapOf(meta: Map[String, String]): Map[String, String] =
    meta.get(ColMapMeta).filter(_.nonEmpty).map { js =>
      org.json4s.jackson.JsonMethods.parse(js) match {
        case org.json4s.JObject(fields) => fields.collect {
          case (k, org.json4s.JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }
    }.getOrElse(Map.empty)

  private def encodeColMap(m: Map[String, String]): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods
      .render(org.json4s.JObject(m.toList.sortBy(_._1).map {
        case (k, v) => k -> org.json4s.JString(v) })))

  private def droppedOf(meta: Map[String, String]): Set[String] =
    meta.get(DroppedMeta).map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Rename the frame's renamed-logical columns back to their frozen
    * physical names before staging, so every data file of a table
    * carries ONE physical schema regardless of rename history. */
  private def toPhysical(name: String, df: DataFrame): DataFrame = {
    val cm = currentManifestFull(name).map(m => colMapOf(m._3))
      .getOrElse(Map.empty)
    cm.foldLeft(df) { case (d, (logical, physical)) =>
      if (d.columns.contains(logical)) d.withColumnRenamed(logical, physical)
      else d
    }
  }
  /** Pseudo stat column carrying each file's row count; no real column
    * is named like this, so [[candidates]] never consults it. */
  private val RowsKey = "__rows"
  /** Pseudo stat key carrying a column's per-file NON-NULL count
    * (`"__nn_<col>" -> (n, n)`, the RowsKey rendering). Min/max stats
    * cannot see nulls: this is what distinguishes "no stats" from
    * "all null", folds `count(col)` from metadata, and skips files for
    * `IS [NOT] NULL` predicates. */
  private def nonNullKey(c: String) = s"__nn_$c"
  private def nonNullOf(f: Warehouse.DataFile, c: String): Option[Long] =
    f.stats.get(nonNullKey(c)).flatMap(_._1.toLongOption)
  /** Pseudo stat key carrying a column's per-file exact SUM
    * (`"__sum_<col>" -> (s, s)`, RowsKey rendering) — INTEGRAL stat
    * columns only. Collected as DECIMAL(38,0) so the per-file value
    * can never overflow however wide the file; folded driver-side as
    * BigInt, so `SELECT sum(tokens)` — the token-budget ledger every
    * training-data pipeline keeps — answers from the manifest without
    * opening a file ([[metadataSumFold]], MetadataAggRewrite). A file
    * whose column is all-null carries no entry (sum over no values is
    * the additive identity; `__nn_ == 0` marks it, same convention as
    * min/max). Floating-point columns are deliberately NOT summed:
    * double addition is order-dependent, so a metadata fold could not
    * promise the scan's exact bits. */
  private def sumKey(c: String) = s"__sum_$c"
  private def sumOf(f: Warehouse.DataFile, c: String): Option[BigInt] =
    f.stats.get(sumKey(c)).flatMap(s =>
      scala.util.Try(BigInt(s._1)).toOption)
  private def sumDecOf(f: Warehouse.DataFile,
      c: String): Option[java.math.BigDecimal] =
    f.stats.get(sumKey(c)).flatMap(s =>
      scala.util.Try(new java.math.BigDecimal(s._1)).toOption)
  private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType
  }
  /** Columns whose per-file sums fold EXACTLY: integrals (BigInt) and
    * decimals (fixed-scale addition is exact and order-independent).
    * Floats/doubles stay out — their addition is order-dependent, so a
    * metadata fold could never promise the scan's bits. */
  private def exactSumType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.DecimalType => true
      case other => integralType(other)
    }
  /** The metadata sum's ANSWER type — Spark's own Sum result type, so
    * the fold can stand in for the scan: LongType for integrals,
    * DecimalType(min(38, p+10), s) for decimal(p, s). */
  private[graft] def sumResultType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case d: org.apache.spark.sql.types.DecimalType =>
      org.apache.spark.sql.types.DecimalType(
        math.min(38, d.precision + 10), d.scale)
    case _ => org.apache.spark.sql.types.LongType
  }
  /** Widest no-overflow accumulator for a column's scan-side sums: the
    * column's own scale at precision 38. */
  private def sumAccType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DecimalType = dt match {
    case d: org.apache.spark.sql.types.DecimalType =>
      org.apache.spark.sql.types.DecimalType(38, d.scale)
    case _ => org.apache.spark.sql.types.DecimalType(38, 0)
  }
  private val LinearKind = "linear"
  private val ZOrderKind = "zorder"
  /** Reserved column name carrying the transient z-value during writes. */
  private val ZCol = "_graft_zvalue"

  private def txnDir(name: String) =
    new org.apache.hadoop.fs.Path(s"$basePath/_graft_meta/txn/$name")

  private def qualifiedPath(p: String): org.apache.hadoop.fs.Path =
    metaFs.makeQualified(new org.apache.hadoop.fs.Path(p))

  /** Path of `f` relative to directory `root` (same FileSystem). */
  private def relativeTo(root: org.apache.hadoop.fs.Path,
      f: org.apache.hadoop.fs.Path): String = {
    val rootPath = root.toUri.getPath.stripSuffix("/") + "/"
    val fp = f.toUri.getPath
    require(fp.startsWith(rootPath), s"$f is not under $root")
    fp.substring(rootPath.length)
  }

  /** Manifest format: optional leading `#key:value` metadata lines
    * (carried forward commit-to-commit; e.g. streaming high-water
    * marks), then one data-file line per file: the path, optionally
    * followed by a TAB and a compact JSON object of per-column
    * `{"col":["min","max"]}` stats (JSON string escaping keeps literal
    * tabs out of the payload, so the first tab always delimits).
    * Stats ride the file line — not the metadata block — because they
    * share the file's lifecycle: a compaction that drops the file drops
    * its stats in the same commit. Pathless old manifests parse fine. */
  private def parseManifest(content: String): (Seq[DataFile], Map[String, String]) = {
    val lines = content.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val (meta, files) = lines.partition(_.startsWith("#"))
    (files.map(decodeFile), meta.map { m =>
      val kv = m.drop(1).split(":", 2)
      kv(0) -> (if (kv.length > 1) kv(1) else "")
    }.toMap)
  }

  private def minMaxJson(stats: Map[String, (String, String)]): org.json4s.JObject =
    org.json4s.JObject(stats.toList.sortBy(_._1).map {
      case (c, (mn, mx)) =>
        c -> org.json4s.JArray(List(org.json4s.JString(mn), org.json4s.JString(mx)))
    })

  private def encodeFile(f: DataFile): String =
    if (f.stats.isEmpty && f.blooms.isEmpty && f.dv.isEmpty &&
      f.ndvs.isEmpty) f.path
    else {
      // flat {"col":["mn","mx"]} when there are only min/max stats
      // (the common, compact case); {"m":{…},"b":{…},"h":{…},"d":{…}}
      // once blooms, HLL sketches, or a deletion vector join —
      // decodeFile accepts both. The dv is an OBJECT
      // ({"p":path,"n":rows}), not an array, so it can never be
      // mistaken for a flat stat of a column named "d"
      import org.json4s._
      def colMapJson(m: Map[String, String]): JValue =
        JObject(m.toList.sortBy(_._1).map {
          case (c, b64) => c -> (JString(b64): JValue) })
      val j: JValue =
        if (f.blooms.isEmpty && f.dv.isEmpty && f.ndvs.isEmpty)
          minMaxJson(f.stats)
        else JObject(
          List("m" -> (minMaxJson(f.stats): JValue)) ++
          (if (f.blooms.isEmpty) Nil
           else List("b" -> colMapJson(f.blooms))) ++
          (if (f.ndvs.isEmpty) Nil
           else List("h" -> colMapJson(f.ndvs))) ++
          f.dv.toList.map(d => "d" -> (JObject(List(
            "p" -> (JString(d.path): JValue),
            "n" -> (JString(d.rows.toString): JValue))): JValue)))
      f.path + "\t" + org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(j))
    }

  private def decodeFile(line: String): DataFile = {
    import org.json4s._
    val split = line.split("\t", 2)
    if (split.length == 1) DataFile(split(0))
    else {
      def minMax(fields: List[(String, JValue)]) = fields.collect {
        case (c, JArray(List(JString(mn), JString(mx)))) => c -> (mn, mx)
      }.toMap
      scala.util.Try(org.json4s.jackson.JsonMethods.parse(split(1))) match {
        case scala.util.Success(JObject(fields))
            if fields.exists { case (k, v) =>
              (k == "m" || k == "b" || k == "h" || k == "d") &&
                v.isInstanceOf[JObject] } =>
          val mm = fields.collectFirst { case ("m", JObject(f)) => minMax(f) }
            .getOrElse(Map.empty[String, (String, String)])
          val bf = fields.collectFirst { case ("b", JObject(f)) => f.collect {
            case (c, JString(b64)) => c -> b64 }.toMap }
            .getOrElse(Map.empty[String, String])
          val hl = fields.collectFirst { case ("h", JObject(f)) => f.collect {
            case (c, JString(b64)) => c -> b64 }.toMap }
            .getOrElse(Map.empty[String, String])
          val dv = fields.collectFirst { case ("d", JObject(f)) =>
            for {
              p <- f.collectFirst { case ("p", JString(s)) => s }
              n <- f.collectFirst { case ("n", JString(s)) => s.toLongOption }
                .flatten
            } yield DvRef(p, n)
          }.flatten
          DataFile(split(0), mm, bf, dv, hl)
        case scala.util.Success(JObject(fields)) =>
          DataFile(split(0), minMax(fields))
        case _ => DataFile(split(0))
      }
    }
  }

  private def readManifestFile(p: org.apache.hadoop.fs.Path): (Seq[DataFile], Map[String, String]) = {
    val in = metaFs.open(p)
    val content =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    parseManifest(content)
  }

  /** Parse a delta record: `#key:value` metadata lines (the FULL
    * metadata map — meta is small and carrying it whole keeps every
    * version's op/timestamp/schema self-contained), then one line per
    * touched file: `-path` removes it from the prior state, `+path[TAB
    * stats]` adds it. */
  private def readDeltaFile(p: org.apache.hadoop.fs.Path)
      : (Seq[DataFile], Seq[String], Map[String, String]) = {
    val in = metaFs.open(p)
    val content =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val lines = content.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val meta = lines.filter(_.startsWith("#")).map { m =>
      val kv = m.drop(1).split(":", 2)
      kv(0) -> (if (kv.length > 1) kv(1) else "")
    }.toMap
    val adds = lines.filter(_.startsWith("+")).map(l => decodeFile(l.drop(1)))
    val removes = lines.filter(_.startsWith("-")).map(_.drop(1))
    (adds, removes, meta)
  }

  private def manifestPath(name: String, v: Long) =
    new org.apache.hadoop.fs.Path(txnDir(name), s"v$v.manifest")
  private def deltaPath(name: String, v: Long) =
    new org.apache.hadoop.fs.Path(txnDir(name), s"v$v.delta")

  /** All committed versions in the log, ascending — a version exists
    * if EITHER record kind does (its delta commit record, or a full
    * checkpoint manifest; a version can have both once vacuum
    * materializes a lazy checkpoint at the retention floor). */
  private def logVersions(name: String): Seq[Long] = {
    val fs = metaFs
    val dir = txnDir(name)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case ManifestName(v) => Some(v.toLong)
      case DeltaName(v) => Some(v.toLong)
      case _ => None
    }).distinct.sorted
  }

  /** Snapshot state at committed version `v`: the nearest full
    * checkpoint at or below `v` replayed forward through the delta
    * tail. Metadata comes from version `v`'s own record (every record
    * carries the full map). This is the read side of the O(delta)
    * commit log: a read costs one checkpoint + at most
    * `checkpointEvery - 1` deltas, never the whole history. */
  private def stateAt(name: String, v: Long)
      : (Seq[DataFile], Map[String, String]) = {
    val fs = metaFs
    require(versionExists(name, v),
      s"$name has no committed version $v (vacuumed, or never existed); " +
        s"available: ${logVersions(name).mkString(", ")}")
    // versions are dense consecutive integers and every checkpointEvery-th
    // one is a checkpoint, so the nearest checkpoint at or below v is a
    // bounded backward probe — no directory listing on the read path
    var ckpt = v
    while (ckpt >= 1 && !fs.exists(manifestPath(name, ckpt))) ckpt -= 1
    if (ckpt < 1) throw new IllegalStateException(
      s"$name: no checkpoint manifest at or below v$v — log corrupted " +
        "(vacuum materializes a checkpoint at the retention floor)")
    val (base, ckptMeta) = readManifestFile(manifestPath(name, ckpt))
    val state = scala.collection.mutable.LinkedHashMap(
      base.map(f => f.path -> f): _*)
    var meta = ckptMeta
    (ckpt + 1) to v foreach { dv =>
      val (adds, removes, dMeta) = readDeltaFile(deltaPath(name, dv))
      removes.foreach(state.remove)
      adds.foreach(f => state(f.path) = f)
      meta = dMeta
    }
    // when v itself has both records (floor checkpoint), the delta is
    // the commit record and its meta was already applied above; when v
    // IS the chosen checkpoint, ckptMeta is v's meta. Either way `meta`
    // is version v's.
    (state.values.toSeq, meta)
  }

  /** Memoized head snapshot per table: (version, files, meta).
    * Validation never trusts the cache blind: the log's versions are
    * DENSE consecutive integers, so "is the cache current" is ONE
    * existence probe of version+1 — an external writer's commit
    * invalidates it naturally, at object-store point-read cost
    * instead of a directory LIST per read. */
  private val snapshotCache = scala.collection.concurrent.TrieMap
    .empty[String, (Long, Seq[DataFile], Map[String, String])]

  private def versionExists(name: String, v: Long): Boolean =
    metaFs.exists(deltaPath(name, v)) || metaFs.exists(manifestPath(name, v))

  /** Best-effort head hint (`_head` under the txn dir) written after
    * every commit. A reader seeds its forward probe from it; a stale
    * or missing hint only costs extra probes / a listing fallback,
    * never a wrong answer — the probe always walks forward to the
    * true head, and the head search never goes BACKWARD from a hint
    * (a hint ahead of a vacuumed-then-recreated log falls back to the
    * listing). */
  private def headHintPath(name: String) =
    new org.apache.hadoop.fs.Path(txnDir(name), "_head")

  private def writeHeadHint(name: String, v: Long): Unit =
    try {
      val out = metaFs.create(headHintPath(name), true)
      try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () } // hint only

  /** The head version, or None for no table: seed from the cache or
    * the hint, then probe forward while version+1 exists. Falls back
    * to a full listing when no seed resolves to an existing version. */
  private def headVersion(name: String): Option[Long] = {
    val seed = snapshotCache.get(name).map(_._1).orElse {
      try {
        val p = headHintPath(name)
        if (!metaFs.exists(p)) None
        else {
          val in = metaFs.open(p)
          val s = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
          s.toLongOption
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }.filter(v => v >= 1 && versionExists(name, v))
    seed match {
      case Some(v0) =>
        var v = v0
        while (versionExists(name, v + 1)) v += 1
        Some(v)
      case None => logVersions(name).lastOption
    }
  }

  /** Latest committed (version, file list, metadata), if any. */
  private def currentManifestFull(name: String)
      : Option[(Long, Seq[DataFile], Map[String, String])] =
    headVersion(name) match {
      case None => snapshotCache.remove(name); None
      case Some(latest) =>
        val entry = snapshotCache.get(name) match {
          // A cached head tagged with a transaction we can't see may be a
          // DEAD entry: another process can roll the tagged tail back and
          // recommit the SAME version number, and the version-only probe
          // can't tell the new record from the one we cached. Trusting it
          // would pin readers to the pre-txn snapshot (and writers to a
          // stale prev-version) forever. Re-read the record from disk
          // instead — while the foreign transaction is genuinely open
          // that costs non-owner readers a replay per read, which is the
          // price of not serving a rolled-back ghost.
          case Some(hit @ (v, _, _)) if v == latest &&
              hit._3.get(TxnMeta).forall(txnVisible) => hit
          case _ =>
            val (files, meta) = stateAt(name, latest)
            val e = (latest, files, meta)
            snapshotCache(name) = e
            e
        }
        // cross-table txn visibility: a head tagged with an uncommitted
        // transaction is invisible (except to the owning thread) — step
        // back to the last visible version. The walk is bounded by that
        // one transaction's own commits on this table.
        if (entry._3.get(TxnMeta).forall(txnVisible)) Some(entry)
        else {
          var v = entry._1 - 1
          var res: Option[(Long, Seq[DataFile], Map[String, String])] = None
          while (v >= 1 && res.isEmpty) {
            val (fls, m) = stateAt(name, v)
            if (m.get(TxnMeta).forall(txnVisible)) res = Some((v, fls, m))
            else v -= 1
          }
          res // None: the table was born inside the pending transaction
        }
    }

  private def currentManifest(name: String): Option[(Long, Seq[DataFile])] =
    currentManifestFull(name).map { case (v, files, _) => (v, files) }

  /** Write a fully-formed log record body atomically: hidden temp
    * file, fsync/close, rename-no-overwrite to `dst`. The rename is
    * the commit point — it either publishes the complete record or
    * fails loudly. */
  private def writeRecord(dir: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path, body: String): Boolean = {
    val fs = metaFs
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".${dst.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try {
      out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // durability before visibility; local checksum streams lack hsync
      try out.hsync()
      catch { case _: UnsupportedOperationException => out.flush() }
    } finally out.close()
    if (!fs.rename(tmp, dst)) { fs.delete(tmp, false); false } else true
  }

  private def metaLines(meta: Map[String, String]): Seq[String] =
    meta.toSeq.sorted.map { case (k, v) => s"#$k:$v" }

  /** Atomic commit of the next version. `files` is the DESIRED full
    * snapshot (callers stay declarative), but what lands on disk is
    * O(touched files), not O(table files): the new state is diffed
    * against the previous snapshot by path (staged file names are
    * transaction-unique and immutable, so path identity is file
    * identity) and written as a `v<N>.delta` of adds/removes. Every
    * `checkpointEvery`-th version (and v1) writes the full
    * `v<N>.manifest` checkpoint instead, bounding read-side replay.
    * Delta-vs-checkpoint is a pure function of the version number, so
    * two racing committers of the same version always collide on the
    * SAME filename — rename-no-overwrite keeps detecting the race. */
  private def commitManifest(name: String, files: Seq[DataFile],
      extraMeta: Map[String, String] = Map.empty,
      op: String = "commit"): Unit = {
    val fs = metaFs
    val dir = txnDir(name)
    fs.mkdirs(dir)
    val tx = txnState.get()
    // a crash-abandoned cross-table txn leaves tagged tail records that
    // visibility-filtered reads skip but that would collide with this
    // commit's version number — heal them here, under the lock every
    // caller holds (a live txn owns its tables' locks, so an invisible
    // tail seen here is dead). Inside a transaction the tagged tail IS
    // ours and must stand.
    if (tx == null) rollbackInvisibleTail(name)
    val prev = currentManifestFull(name)
    val version = prev.map(_._1).getOrElse(0L) + 1
    // metadata (streaming marks etc.) survives every commit — a
    // compaction must not forget which batches already landed; the op
    // + timestamp overwrite per commit, so each version's record
    // names what created IT (the audit trail history() reads)
    // the snapshot's total row count rides the commit (sum of per-file
    // counts — blank only when a current file predates row stats), so
    // history()/DESCRIBE HISTORY answer "how many rows did this leave"
    // without opening a file — the operation-metrics audit trail
    val rowCounts = files.map(_.stats.get(RowsKey).map(_._1.toLong))
    val rowsTotal =
      if (rowCounts.forall(_.isDefined))
        (rowCounts.flatten.sum - files.flatMap(_.dv).map(_.rows).sum).toString
      else ""
    val meta = prev.map(_._3).getOrElse(Map.empty) - TxnMeta ++ extraMeta ++
      Map(OpMeta -> op, TimeMeta -> java.time.Instant.now.toString,
        FilesMeta -> files.size.toString, RowsMeta -> rowsTotal) ++
      (if (tx != null) Map(TxnMeta -> tx.id) else Map.empty)
    // the manifest is the one store of a table's definition: a commit
    // that creates the table must record it
    if (prev.isEmpty && !meta.contains(SchemaMeta))
      throw new IllegalStateException(
        s"$op on $name would create it without recording its schema")
    val isCheckpoint = version == 1L || version % checkpointEvery == 0L
    val (dst, body) =
      if (isCheckpoint)
        (manifestPath(name, version),
          (metaLines(meta) ++ files.map(encodeFile)).mkString("\n"))
      else {
        val prevFiles = prev.map(_._2).getOrElse(Nil)
        val prevByPath = prevFiles.map(f => f.path -> f).toMap
        val newPaths = files.map(_.path).toSet
        // ENTRY-level diff, not path-level: a DV delete changes a
        // file's entry (new dv ref) while its path stays — the delta
        // must carry the updated entry (+path replaces in replay)
        val adds = files.filterNot(f => prevByPath.get(f.path).contains(f))
        val removes = prevFiles.map(_.path).filterNot(newPaths.contains)
        (deltaPath(name, version),
          (metaLines(meta) ++ removes.map("-" + _) ++
            adds.map(f => "+" + encodeFile(f))).mkString("\n"))
      }
    if (!writeRecord(dir, dst, body))
      throw new IllegalStateException(
        s"commit conflict on $name v$version: concurrent writer detected")
    snapshotCache(name) = (version, files, meta)
    writeHeadHint(name, version)
    // re-point the session's `dw_<name>` view at the snapshot just
    // committed: the view is a fixed file list resolved at DataFrame
    // creation, so without this every post-save mutation (append,
    // DELETE/UPDATE file surgery, MERGE, RESTORE, compaction) leaves
    // SQL readers on the pre-mutation snapshot — and a later vacuum
    // turns that stale list into dangling reads. Every mutation route
    // commits here, making this the one refresh point. Inside a
    // cross-table transaction the refresh waits for the outcome —
    // the session view must never expose a half-landed batch.
    if (tx == null) read(name).createOrReplaceTempView(s"dw_$name")
  }

  /** Writes `df` to a staging directory, then moves the data files into
    * the table directory under transaction-unique names (a pure
    * same-filesystem rename per file). Staged/moved files are invisible
    * to readers until the manifest naming them is committed. Returns
    * the moved files (paths relative to the table dir, partition
    * directories included), each carrying per-file min/max stats on the
    * table's cluster columns — one extra columnar agg over JUST those
    * columns of the files this write produced (see [[collectStats]]).
    * `lay` is the layout the files are written and their stats
    * collected under: the committed one, or the one the caller's
    * commit is about to record. */
  private def stageWrite(name: String, df0: DataFrame,
      lay: Layout, mapCols: Boolean = true): Seq[DataFile] = {
    // renamed logical columns go to disk under their frozen physical
    // names (save() resets the mapping and stages verbatim)
    val df = if (mapCols) toPhysical(name, df0) else df0
    val fs = metaFs
    val txnId = java.util.UUID.randomUUID.toString.take(8)
    val stage = qualifiedPath(s"$basePath/_graft_stage/$name-$txnId")
    val w = df.write.mode("overwrite").format(format).option("header", "true")
    (if (lay.parts.nonEmpty) w.partitionBy(lay.parts: _*) else w)
      .save(stage.toString)
    val tableRoot = qualifiedPath(s"$basePath/$name")
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(stage, true)
    while (it.hasNext) {
      val f = it.next().getPath
      val base = f.getName
      if (!base.startsWith("_") && !base.startsWith(".")) {
        val rel = relativeTo(stage, f)
        val relDir = rel.stripSuffix(base).stripSuffix("/")
        val destRel = (if (relDir.isEmpty) "" else s"$relDir/") + s"$txnId-$base"
        val dest = new org.apache.hadoop.fs.Path(tableRoot, destRel)
        fs.mkdirs(dest.getParent)
        require(fs.rename(f, dest), s"stage move failed: $f -> $dest")
        moved += destRel
      }
    }
    fs.delete(stage, true)
    // the shared `_graft_stage` parent is deliberately NOT cleaned up:
    // an empty-check-then-delete races a concurrent writer's mkdirs
    // under the same parent — the delete can fail ("not empty", the
    // local FS throws) or, worse, WIN and yank the ancestor out from
    // under the other writer's in-flight FileOutputCommitter. Each
    // transaction's own uuid'd stage dir is removed above; the one
    // empty parent directory that remains costs nothing.
    collectStats(name, moved.toSeq, df.schema, lay)
  }

  /** Stages `df` under the table's committed layout, clustering
    * re-applied — every rewrite or append of rows into an existing
    * table takes this shape. */
  private def stageLaidOut(name: String, df: DataFrame): Seq[DataFile] = {
    val lay = layoutOf(name)
    stageWrite(name, clustered(df, lay), lay)
  }

  /** Per-file min/max stats on the table's cluster columns for the
    * files a write just produced. The stats scan reads ONLY the stat
    * columns (columnar projection) of ONLY the new files — at 100 TB a
    * daily append re-reads a few columns of the delta, never the table.
    * Values are rendered to strings for the line-oriented manifest and
    * compared back under the column's type (see [[statCompare]]); a
    * file whose stat column is all-null carries no entry and is simply
    * never skipped — the safe direction. */
  private def collectStats(name: String, moved: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      lay: Layout): Seq[DataFile] = {
    val statCols = (lay.cluster ++ lay.stats).distinct
      .filter(schema.fieldNames.contains)
    val bCols = lay.bloom.filter(schema.fieldNames.contains)
    if (moved.isEmpty)
      moved.map(DataFile(_))
    else {
      val tableRoot = qualifiedPath(s"$basePath/$name")
      val r = spark.read.format(format).option("header", "true").schema(schema)
        .option("basePath", tableRoot.toString)
        .load(moved.map(m => new org.apache.hadoop.fs.Path(tableRoot, m).toString): _*)
      // bloom sketch sizing knobs, per FILE — size bits against
      // rows-per-file for the target false-positive rate, and remember
      // every manifest line carries bits/8 bytes in base64
      val items = spark.conf.getOption("graft.bloom.items")
        .map(_.toLong).getOrElse(100000L)
      val bits = spark.conf.getOption("graft.bloom.bits")
        .map(_.toInt).getOrElse(1 << 17)
      val bloomAgg = udaf(new graft.functions.BloomSketch.Agg(bits,
        graft.functions.BloomSketch.optimalK(bits, items)),
        org.apache.spark.sql.Encoders.scalaLong)
      // the row count ALWAYS rides along (one zero-column pass when no
      // layout columns exist — parquet answers it from row-group
      // metadata speed): countRows() and DESCRIBE DETAIL read the
      // table's cardinality from the manifest without opening a file
      // per-file HLL distinct-count sketches on every indexed column
      // (cluster ∪ bloom): mergeable, so the table's NDV for the
      // cost-based optimizer is the UNION of per-file sketches — exact
      // under compaction/appends, never a per-file sum. lgK=12 ≈ ±2.5%
      // at ~2 KB per (file, column); rides the same single stats pass.
      // hll_sketch_agg accepts only int/bigint/string/binary; every
      // other type (date, timestamp, double, decimal, …) goes through
      // a 64-bit xxhash fingerprint — distinct-preserving up to hash
      // collisions, which are far below the sketch's own ±2.5%. The
      // encoding is a pure function of the column TYPE, so per-file
      // sketches of one column always union consistently.
      // sizing knobs: `graft.ndv.lgk` trades manifest bytes for NDV
      // precision (lgK=12 ≈ ±2.5% at ~2 KB/entry; a many-thousand-file
      // table can drop to 10 ≈ ±5% at ~0.5 KB), `graft.ndv.enabled=
      // false` skips sketching entirely. The driver-side Union(12)
      // downsamples mixed-lgK sketches, so the knob can change
      // between commits without invalidating older entries.
      val ndvOn = spark.conf.getOption("graft.ndv.enabled")
        .forall(_.toBoolean)
      val ndvLgK = spark.conf.getOption("graft.ndv.lgk")
        .flatMap(_.toIntOption).getOrElse(12).max(4).min(12)
      val ndvCols =
        if (ndvOn) (statCols ++ bCols).distinct else Nil
      def sketchable(c: String): org.apache.spark.sql.Column = {
        import org.apache.spark.sql.types._
        schema(c).dataType match {
          case IntegerType | LongType | StringType | BinaryType => col(c)
          case _ => xxhash64(col(c))
        }
      }
      // exact per-file SUM for the integral AND decimal stat columns —
      // rides the same single stats pass; DECIMAL(38, column scale)
      // accumulation so no file, however large, can overflow its own
      // sum (see [[sumKey]])
      val sumCols = statCols.filter(c => exactSumType(schema(c).dataType))
      val aggs = Seq(count(lit(1)).as("__nrows")) ++
        statCols.flatMap(c =>
          Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"),
            count(col(c)).as(s"__c_$c"))) ++
        sumCols.map(c =>
          sum(col(c).cast(sumAccType(schema(c).dataType))).as(s"__sm_$c")) ++
        bCols.map(c => bloomAgg(xxhash64(col(c))).as(s"__bf_$c")) ++
        ndvCols.map(c =>
          hll_sketch_agg(sketchable(c), lit(ndvLgK)).as(s"__h_$c"))
      val rows = r.groupBy(input_file_name().as("__file"))
        .agg(aggs.head, aggs.tail: _*).collect()
      // match each scanned file URI back to its manifest-relative path
      // by path SUFFIX — base names alone are ambiguous (a partitioned
      // write emits the same part-00000 name in every partition dir).
      val statRows = rows.map { row =>
        val n = row.getAs[Long]("__nrows").toString
        val mm = statCols.flatMap { c =>
          val mn = statString(row.getAs[Any](s"__mn_$c"))
          val mx = statString(row.getAs[Any](s"__mx_$c"))
          if (mn == null || mx == null) None else Some(c -> (mn, mx))
        }.toMap ++ statCols.map { c =>
          // the non-null count rides unconditionally — zero is exactly
          // the "all null, min/max legitimately absent" marker
          val cn = row.getAs[Long](s"__c_$c").toString
          nonNullKey(c) -> (cn, cn)
        } ++ sumCols.flatMap { c =>
          // all-null file → SQL sum is null → no entry (nn==0 marks it).
          // toPlainString: scale-0 sums render as the bare integer
          // (byte-identical to the pre-decimal format), decimal sums
          // keep their fixed scale, never scientific notation
          Option(row.getAs[java.math.BigDecimal](s"__sm_$c")).map { s =>
            val v = s.toPlainString
            sumKey(c) -> (v, v)
          }
        } + (RowsKey -> (n, n))
        val bf = bCols.flatMap { c =>
          Option(row.getAs[Array[Byte]](s"__bf_$c")).map(b =>
            c -> java.util.Base64.getEncoder.encodeToString(b))
        }.toMap
        val hs = ndvCols.flatMap { c =>
          Option(row.getAs[Array[Byte]](s"__h_$c")).map(b =>
            c -> java.util.Base64.getEncoder.encodeToString(b))
        }.toMap
        (row.getString(0), mm, bf, hs)
      }
      val (hits, misses) = moved.partition(m =>
        statRows.exists(_._1.endsWith("/" + m)))
      val withStats = hits.map { m =>
        val hit = statRows.find(_._1.endsWith("/" + m)).get
        DataFile(m, hit._2, hit._3, ndvs = hit._4)
      }
      // a file absent from the groupBy is either EMPTY (a scan task
      // whose rows all filtered out still writes a schema-only file —
      // it contributes no group) or a suffix non-match (URI-encoded
      // exotic partition values). Distinguish by re-counting just the
      // missing files: verified-empty files are dropped from the
      // commit AND from disk (nothing references them yet; committing
      // them would bloat the manifest with dataless entries and leave
      // countRows honestly answerless) — any rows at all means the
      // matching failed, so keep every missing file WITHOUT stats:
      // never skipped, the safe direction.
      if (misses.isEmpty) withStats
      else {
        val missing = spark.read.format(format).option("header", "true")
          .schema(schema).option("basePath", tableRoot.toString)
          .load(misses.map(m =>
            new org.apache.hadoop.fs.Path(tableRoot, m).toString): _*)
        if (missing.count() == 0L) {
          val fs = metaFs
          misses.foreach(m =>
            fs.delete(new org.apache.hadoop.fs.Path(tableRoot, m), false))
          withStats
        } else withStats ++ misses.map(DataFile(_))
      }
    }
  }

  private def statString(v: Any): String = v match {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString
    case x => String.valueOf(x)
  }

  /** Orders two stat strings under the column's type. Only types whose
    * rendered form round-trips unambiguously participate in skipping;
    * anything else returns None and the file is kept. */
  private def statCompare(dt: org.apache.spark.sql.types.DataType,
      a: String, b: String): Option[Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        scala.util.Try(java.lang.Long.compare(a.toLong, b.toLong)).toOption
      case FloatType =>
        // compare in the FLOAT domain: file stats are floats whose
        // rendered form round-trips to float exactly; rounding the
        // bound to float can only keep extra files, never drop one
        // whose true values straddle the original bound
        scala.util.Try(java.lang.Float.compare(a.toFloat, b.toFloat)).toOption
      case DoubleType =>
        scala.util.Try(java.lang.Double.compare(a.toDouble, b.toDouble)).toOption
      case _: DecimalType =>
        scala.util.Try(BigDecimal(a).compare(BigDecimal(b))).toOption
      // ISO renderings: lexicographic IS chronological order
      case StringType | DateType => Some(a.compareTo(b))
      case _ => None // timestamps render with varying fraction widths
    }
  }

  /** Typed parse of a rendered stat string — the inverse of
    * [[statString]] for types whose rendering round-trips exactly.
    * Timestamps DO participate here (unlike [[statCompare]]'s
    * lexicographic lane): `java.sql.Timestamp.valueOf` parses the
    * varying fraction widths `Timestamp.toString` emits back to the
    * exact instant, so comparing PARSED values is sound where
    * comparing the strings is not — but ONLY under a fixed-offset JVM
    * zone (UTC, the deployment default): in a DST zone the fall-back
    * hour's wall-clock strings name two instants and valueOf picks
    * one, so timestamps honestly refuse there (None → the caller
    * scans). */
  private def statValue(dt: org.apache.spark.sql.types.DataType,
      s: String): Option[Any] = {
    import org.apache.spark.sql.types._
    if (s == null) None
    else dt match {
      case ByteType => s.toByteOption
      case ShortType => s.toShortOption
      case IntegerType => s.toIntOption
      case LongType => s.toLongOption
      case FloatType => scala.util.Try(s.toFloat).toOption
      case DoubleType => scala.util.Try(s.toDouble).toOption
      case _: DecimalType =>
        scala.util.Try(new java.math.BigDecimal(s)).toOption
      case StringType => Some(s)
      case DateType => scala.util.Try(java.sql.Date.valueOf(s)).toOption
      case TimestampType if s.endsWith("Z") =>
        // java8 datetime API sessions collect Instants; ISO-Z parses
        // back to the exact instant under any JVM zone
        scala.util.Try(java.time.Instant.parse(s)).toOption
      case TimestampType
          if java.time.ZoneId.systemDefault().getRules.isFixedOffset =>
        // legacy-API sessions collect java.sql.Timestamp; normalize to
        // Instant so mixed-era stats order under ONE class
        scala.util.Try(java.sql.Timestamp.valueOf(s).toInstant).toOption
      case TimestampNTZType =>
        // NTZ stats render as LocalDateTime.toString (ISO, seconds and
        // fraction elided when zero) — zone-free, always exact
        scala.util.Try(java.time.LocalDateTime.parse(s)).toOption
      case _ => None
    }
  }

  /** Orders two [[statValue]]-produced values. Every type statValue
    * emits is Comparable against its own kind (boxed primitives,
    * String, BigDecimal, Date, Timestamp — Timestamp.compareTo is
    * nanos-exact); float/double NaN sorts largest, matching Spark's
    * min/max ordering. */
  private def statOrder(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** The warehouse's metadata root: manifest logs, change files,
    * transaction markers. Everything that defines a table (schema,
    * partitions, clustering, blooms) lives in its committed manifest
    * meta there, so a NEW Warehouse instance over an existing basePath
    * (the cross-job incremental scenario) reads and appends with the
    * table's own definition. Goes through the Hadoop FileSystem
    * resolved from the basePath URI (NOT java.nio) so the metadata
    * lands beside the data on whatever store basePath names — HDFS,
    * S3A, or local file:// — exactly like the data writes do. */
  private def metaDir = new org.apache.hadoop.fs.Path(s"$basePath/_graft_meta")

  /** The session's Hadoop conf, copied once per instance: a fresh
    * `newHadoopConf()` copies every entry (~1k), and [[metaFs]] runs
    * on every head probe, log read and qualified path. */
  private lazy val metaConf = spark.sessionState.newHadoopConf()

  private def metaFs: org.apache.hadoop.fs.FileSystem =
    metaDir.getFileSystem(metaConf)

  def table(name: String): DataFrame = read(name)

  /** Stats-pruned scan: resolves the current snapshot, drops every data
    * file whose recorded [min,max] on a constrained column cannot
    * intersect the requested range, reads only the survivors, and
    * re-applies the predicate to the rows (stats only bound what a file
    * MIGHT contain — the residual filter is always applied, so the
    * result is exact even with missing or stale-typed stats).
    *
    * This is the file-level data-skipping layer of the table format: at
    * 100 TB, partition pruning picks the directories, these stats pick
    * the files inside them, and parquet row-group stats (tight, because
    * writes are clustered) prune inside each file. A selective range
    * query on a clustered column touches a few files out of tens of
    * thousands without any index structure. */
  def scan(name: String, ranges: ColRange*): DataFrame = {
    val (_, files, meta) = currentManifestFull(name).getOrElse(
      throw new IllegalArgumentException(s"$name has no committed snapshot"))
    val sc = committedSchema(name, meta)
    val df = fromFiles(name, candidates(files, sc, ranges).map(_.path), sc)
    ranges.foldLeft(df) { (d, r) =>
      val lo = r.lower.map(v => col(r.column) >= lit(v))
      val hi = r.upper.map(v => col(r.column) <= lit(v))
      (lo ++ hi).foldLeft(d)(_ filter _)
    }
  }

  /** (files a [[scan]] with these ranges would read, total files in the
    * snapshot) — the observability hook the skipping specs assert on. */
  /** Pruning introspection for an arbitrary predicate — the planner's
    * "how many files would this touch" answer, from manifest stats
    * alone (no file opened): derives range AND IN-list conjuncts from
    * the predicate exactly the way DELETE/UPDATE/MERGE do, then counts
    * admitted vs total files. SQL form: `DESCRIBE PRUNING t WHERE …`.
    * A predicate deriving NO conjuncts truthfully reports all files —
    * the same read a full scan would do. */
  def pruningPreviewFor(name: String,
      predicate: org.apache.spark.sql.Column): (Int, Int) = {
    currentManifestFull(name) match {
      case Some((_, files, meta)) =>
        val sc = committedSchema(name, meta)
        (candidatesWith(files, sc, derivedRanges(predicate, sc),
          derivedInSets(predicate, sc),
          derivedNullness(predicate, sc)).size, files.size)
      case None => (0, 0)
    }
  }

  def scanFileCounts(name: String, ranges: Seq[ColRange]): (Int, Int) = {
    currentManifestFull(name) match {
      case Some((_, files, meta)) =>
        val sc = committedSchema(name, meta)
        (candidates(files, sc, ranges).size, files.size)
      case None => (0, 0)
    }
  }

  /** DV observability for a (possibly pruned) read: of the files a
    * scan over `ranges` admits, (admitted, admitted carrying a DV,
    * DV'd positions those reads must subtract). The "how much deleted
    * data am I still reading around" signal: when the third number is
    * a meaningful fraction of a partition's rows, a scoped
    * [[compactWhere]] folds the sidecars away and restores clean
    * scans — without rewriting the rest of the table. */
  def dvScanStats(name: String, ranges: Seq[ColRange] = Nil): (Int, Int, Long) = {
    currentManifestFull(name) match {
      case Some((_, files, meta)) =>
        val sc = committedSchema(name, meta)
        val admitted = candidates(files, sc, ranges)
        (admitted.size, admitted.count(_.dv.isDefined),
          admitted.flatMap(_.dv).map(_.rows).sum)
      case None => (0, 0, 0L)
    }
  }

  /** Files whose stats admit rows in every requested range. A file with
    * no stats for a column (pre-stats manifest, all-null file, or a
    * column outside the cluster/bloom sets) is always a candidate.
    * An EQUALITY range (lower == upper) on a bloom column additionally
    * tests the per-file sketch — a miss is definitive (blooms have no
    * false negatives), a hit keeps the file and the residual filter
    * settles it. */
  /** Range constraints PROVABLY implied by a predicate, for stats/bloom
    * file pruning: top-level conjuncts of the form `col <op> literal`
    * (either operand order) become [[ColRange]] bounds; anything else —
    * disjunctions, casts, function calls — contributes nothing, which
    * is the safe direction (a missing range keeps files, never drops
    * one). Strict comparisons use their literal as an inclusive bound:
    * looser pruning, still sound. This is what lets a bare
    * `delete(t, col("k") === 42)` probe only the files whose stats or
    * blooms admit 42, with no manual hint.
    *
    * A bound is emitted ONLY when the literal's runtime type matches
    * the column's declared type in `schema`. Spark's comparison
    * COERCES mismatched operands (`int_col = '042'` is TRUE for 42;
    * `date_col > '2020-1-1'` parses the string), but [[candidates]]
    * compares the rendered literal under the column's type —
    * lexicographic for string/date stats, exact-bytes xxhash for
    * blooms — so a coerced literal could prune a file that holds
    * matching rows and the delete/update would silently skip them.
    * Type mismatch → no range for that conjunct (the safe direction),
    * same as casts and function-of-column forms. */
  private def typeMatches(dt: org.apache.spark.sql.types.DataType,
      v: Any): Boolean = {
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (IntegerType, _: java.lang.Integer)      => true
      case (LongType, _: java.lang.Long)            => true
      case (ShortType, _: java.lang.Short)          => true
      case (ByteType, _: java.lang.Byte)            => true
      case (DoubleType, _: java.lang.Double)        => true
      case (FloatType, _: java.lang.Float)          => true
      case (StringType, _: String)                  => true
      case (BooleanType, _: java.lang.Boolean)      => true
      case (DateType, _: java.sql.Date)             => true
      case (DateType, _: java.time.LocalDate)       => true
      case (TimestampType, _: java.sql.Timestamp)   => true
      case (TimestampType, _: java.time.Instant)    => true
      case (_: DecimalType, _: java.math.BigDecimal) => true
      case (_: DecimalType, _: BigDecimal)          => true
      case _                                        => false
    }
  }

  /** Value-PRESERVING literal widening: an int literal on a bigint
    * column compares, hashes (xxhash64 of 42L ≡ the stored column's),
    * and renders identically after the upcast — unlike lossy coercions
    * (string→int, string→date), which stay blocked. This is the lane
    * SQL-text predicates live in: the parser types `42` as INT
    * regardless of the column. */
  private def widenLit(dt: org.apache.spark.sql.types.DataType,
      v: Any): Option[Any] = {
    import org.apache.spark.sql.types._
    if (typeMatches(dt, v)) Some(v)
    else (dt, v) match {
      case (LongType, i: java.lang.Integer) => Some(i.longValue: java.lang.Long)
      case (LongType, s: java.lang.Short) => Some(s.longValue: java.lang.Long)
      case (IntegerType, s: java.lang.Short) => Some(s.intValue: java.lang.Integer)
      case _ => None
    }
  }

  private[olist] def derivedRanges(pred: org.apache.spark.sql.Column,
      schema: org.apache.spark.sql.types.StructType): Seq[ColRange] = {
    val types = schema.map(f => f.name -> f.dataType).toMap
    org.apache.spark.sql.GraftColumnShim.impliedRanges(pred).flatMap {
      case (c, lo, hi) =>
        types.get(c).flatMap { dt =>
          val wlo = lo.map(widenLit(dt, _))
          val whi = hi.map(widenLit(dt, _))
          if ((wlo.toSeq ++ whi.toSeq).forall(_.isDefined))
            Some(ColRange(c, wlo.flatten, whi.flatten))
          else None
        }
    }
  }

  /** IN-list conjuncts provably implied by a DELETE/UPDATE predicate,
    * filtered to value sets whose EVERY element matches the column's
    * declared type — one coerced element and the whole conjunct is
    * dropped (the comparison would coerce per row, the stats compare
    * would not; pruning on it could silently skip matching rows). */
  private[olist] def derivedInSets(pred: org.apache.spark.sql.Column,
      schema: org.apache.spark.sql.types.StructType)
      : Seq[(String, Seq[Any])] = {
    val types = schema.map(f => f.name -> f.dataType).toMap
    org.apache.spark.sql.GraftColumnShim.impliedInSets(pred).flatMap {
      case (c, vs) =>
        types.get(c).flatMap { dt =>
          val wv = vs.map(widenLit(dt, _))
          if (wv.forall(_.isDefined)) Some((c, wv.flatten)) else None
        }
    }
  }

  /** Nullness conjuncts provably implied by a DELETE/UPDATE predicate
    * (`col.isNull` / `col.isNotNull` / their SQL-text forms), filtered
    * to declared columns — consumed against the per-file "__nn_"
    * stats by [[candidatesWith]]. */
  private[olist] def derivedNullness(pred: org.apache.spark.sql.Column,
      schema: org.apache.spark.sql.types.StructType)
      : Seq[(String, Boolean)] =
    org.apache.spark.sql.GraftColumnShim.impliedNullness(pred)
      .filter { case (c, _) => schema.fieldNames.contains(c) }

  /** [[candidates]] extended with IN-list conjuncts: for each
    * (column, values) pair a file survives when ANY value's
    * point-range admits it (stats contain + bloom might-contain) —
    * the union over values, intersected across conjuncts. The bloom
    * sketch decodes ONCE per (file, conjunct), not per value — at a
    * thousand files × a long IN list the per-pair base64 decode would
    * dominate the listing. Bounded work: |values| ≤ the walker's cap
    * × files, each test O(1). */
  /** Nullness admission from the "__nn_" stats: IS NULL skips a file
    * whose every row is non-null (nn == rows), IS NOT NULL one whose
    * every row is null (nn == 0). Removing rows via a DV cannot ADD
    * nulls or non-nulls, so both skips stay sound on DV-carrying
    * files; unknown stats always admit. Shared by the automatic read
    * path ([[groupPruner]]) and the predicate probes. */
  private def nullAdmits(f: DataFile, c: String, wantNull: Boolean): Boolean =
    if (wantNull) {
      val provablyNoNulls = (for {
        nn <- nonNullOf(f, c)
        rows <- f.stats.get(RowsKey).flatMap(_._1.toLongOption)
      } yield nn == rows).getOrElse(false)
      !provablyNoNulls
    } else !nonNullOf(f, c).contains(0L)

  private def candidatesWith(files: Seq[DataFile],
      schema: org.apache.spark.sql.types.StructType,
      ranges: Seq[ColRange],
      inSets: Seq[(String, Seq[Any])],
      nulls: Seq[(String, Boolean)] = Nil): Seq[DataFile] = {
    val admitted =
      if (nulls.isEmpty) files
      else files.filter(f => nulls.forall { case (c, wn) =>
        nullAdmits(f, c, wn) })
    val base = candidates(admitted, schema, ranges)
    if (inSets.isEmpty) base
    else {
      val types = schema.map(f => f.name -> f.dataType).toMap
      inSets.foldLeft(base) { case (acc, (c, vs)) =>
        val dtOpt = types.get(c)
        acc.filter { f =>
          val bloom = f.blooms.get(c)
            .map(java.util.Base64.getDecoder.decode)
          vs.exists { v =>
            // same point semantics as candidates(lower == upper):
            // stats contain v, and the sketch does not reject it
            val mmOk = (f.stats.get(c), dtOpt) match {
              case (Some((mn, mx)), Some(dt)) =>
                statCompare(dt, mx, statString(v)).forall(_ >= 0) &&
                  statCompare(dt, mn, statString(v)).forall(_ <= 0)
              case _ => true
            }
            val bloomOk = (bloom, dtOpt) match {
              case (Some(b), Some(dt)) =>
                xxhashOf(v, dt) match {
                  case Some(h) =>
                    graft.functions.BloomSketch.mightContain(b, h)
                  case None => true // un-hashable type: keep the file
                }
              case _ => true
            }
            mmOk && bloomOk
          }
        }
      }
    }
  }

  private def candidates(files: Seq[DataFile],
      schema: org.apache.spark.sql.types.StructType,
      ranges: Seq[ColRange]): Seq[DataFile] = {
    val types = schema.map(f => f.name -> f.dataType).toMap
    files.filter { f =>
      ranges.forall { r =>
        val dtOpt = types.get(r.column)
        val mmOk = (f.stats.get(r.column), dtOpt) match {
          case (Some((mn, mx)), Some(dt)) =>
            val loOk = r.lower.forall(l =>
              statCompare(dt, mx, statString(l)).forall(_ >= 0))
            val hiOk = r.upper.forall(u =>
              statCompare(dt, mn, statString(u)).forall(_ <= 0))
            loOk && hiOk
          case _ => true
        }
        val bloomOk = (r.lower, r.upper, f.blooms.get(r.column), dtOpt) match {
          case (Some(lo), Some(hi), Some(b64), Some(dt)) if lo == hi =>
            xxhashOf(lo, dt) match {
              case Some(h) => graft.functions.BloomSketch.mightContain(
                java.util.Base64.getDecoder.decode(b64), h)
              case None => true // un-hashable bound type: keep the file
            }
          case _ => true
        }
        mmOk && bloomOk
      }
    }
  }

  /** xxhash64 of `v` as the column type — MUST match what
    * `bloom_filter_agg(xxhash64(col))` hashed on the executors, so the
    * bound is coerced to the column's exact type first (hashing 42L
    * and 42 give different digests). Unsupported types → None → no
    * bloom pruning for that bound. */
  private def xxhashOf(v: Any, dt: org.apache.spark.sql.types.DataType): Option[Long] = {
    import org.apache.spark.sql.types._
    val coerced: Option[Any] = scala.util.Try(dt match {
      case ByteType => v.toString.toByte
      case ShortType => v.toString.toShort
      case IntegerType => v.toString.toInt
      case LongType => v.toString.toLong
      case FloatType => v.toString.toFloat
      case DoubleType => v.toString.toDouble
      case StringType => String.valueOf(v)
      case _ => null
    }).toOption.filter(_ != null)
    coerced.flatMap(c => scala.util.Try(
      new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal.create(c, dt)))
        .eval(null).asInstanceOf[Long]).toOption)
  }

  /** Build every dim + both facts from the given source tables, as the
    * reference build's dependency graph (Olist DW.sql:39-184) rather
    * than its statement order. The six dimensions read only the
    * sources, so they are built at once: time_period, product followed
    * by its new-segments append, location, origin, lead_type and
    * business_type. orders_fact starts once time_period, product and
    * location have committed; conversions_fact once time_period,
    * product, origin, lead_type and business_type have. Every table
    * keeps its statement, layout and commit path; the branches commit
    * to different tables under their own table locks.
    *
    * The branches run on a pool that lives for this call. The calling
    * thread makes its threads, so every build job carries the
    * caller's Spark local properties (job group, description) and
    * active session, and `cancelJobGroup` reaches a build. Once a
    * branch fails, no branch starts after it; the call waits until
    * every running branch has ended, then rethrows the failure of the
    * earliest failing branch in statement order. No build thread or
    * job outlives the call.
    *
    * Inside an open [[transaction]] the same graph runs on the calling
    * thread: the transaction's state is this thread's, and it holds
    * the table locks a pool thread would wait on. */
  def build(src: Map[String, DataFrame]): Unit = {
    import java.util.concurrent.{CompletableFuture, CompletionException,
      ConcurrentLinkedQueue, Executor, LinkedBlockingQueue,
      ThreadPoolExecutor, TimeUnit}
    val threads = new ConcurrentLinkedQueue[Thread]
    val pool =
      if (txnState.get() != null) None
      else {
        val p = new ThreadPoolExecutor(6, 6, 0L, TimeUnit.MILLISECONDS,
          new LinkedBlockingQueue[Runnable], (r: Runnable) => {
            val t = new Thread(r, s"warehouse-build-${threads.size}")
            t.setDaemon(true)
            threads.add(t)
            t
          })
        // every thread now, from this thread: they inherit its local
        // properties and active session at creation
        p.prestartAllCoreThreads()
        Some(p)
      }
    val exec: Executor = pool.getOrElse((r: Runnable) => r.run())
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // declared in statement order, each after the steps it reads
    val steps = scala.collection.mutable.LinkedHashMap
      .empty[String, CompletableFuture[Void]]
    def step(name: String, after: String*)(body: => Unit): Unit =
      steps(name) = CompletableFuture.allOf(after.map(steps): _*)
        .thenRunAsync(() => if (!failed.get) {
          try body
          catch { case e: Throwable => failed.set(true); throw e }
        }, exec)
    try {
      step("time_period") {
        save("time_period", TimeDim.generate(spark, "2016-09-01", "2019-12-31"))
      }
      step("product") {
        save("product", Dimensions.product(src("category")))
        // dim append: new business segments not already in product dim
        // (Olist DW.sql:71-75 — NOT IN + INSERT..SELECT as anti-join+append)
        append("product",
          Dimensions.newSegments(src("closed_deals"), table("product")))
      }
      step("location")(save("location", Dimensions.location(src("geolocation"))))
      step("origin")(save("origin", Dimensions.origin(src("leads"))))
      step("lead_type")(save("lead_type", Dimensions.leadType(src("closed_deals"))))
      step("business_type") {
        save("business_type", Dimensions.businessType(src("closed_deals")))
      }
      // cluster the fact by date_key: files get tight date ranges, so the
      // manifest's per-file stats let scan() skip files inside a year
      // partition (and row-group stats prune inside each file) — the date
      // axis is both the partition AND the clustering lever (SURVEY §4)
      step("orders_fact", "time_period", "product", "location") {
        save("orders_fact",
          Facts.ordersFact(src("orders"), src("order_items"), src("products"),
            src("category"), src("sellers"), table("product"), table("location"),
            table("time_period"), cutoff = "2019-01-01"),
          partitionBy = Seq("year"), clusterBy = Seq("date_key"))
      }
      step("conversions_fact", "time_period", "product", "origin",
          "lead_type", "business_type") {
        val conv = Facts.conversionsFact(src("leads"), src("closed_deals"),
          src("sellers"), src("order_items"), table("origin"),
          table("lead_type"), table("business_type"), table("product"),
          table("time_period"))
        // S8: DELETE WHERE avg_hrs_convert < 1 (Olist DW.sql:183-184) as
        // anti-filter rewrite
        save("conversions_fact", conv.filter(col("avg_hrs_convert") >= 1))
      }
      // join() waits without being interrupted: every branch ends first
      CompletableFuture.allOf(steps.values.toSeq: _*)
        .handle[Void]((_, _) => null).join()
      // a step whose input failed carries that input's failure, and
      // comes after it in statement order
      steps.values.find(_.isCompletedExceptionally).foreach { f =>
        try f.join() catch { case e: CompletionException => throw e.getCause }
      }
    } finally pool.foreach { p =>
      p.shutdown()
      var interrupted = false
      threads.forEach { t =>
        while (t.isAlive)
          try t.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread.interrupt()
    }
  }
}

object Warehouse {
  /** One registered version pin ([[Warehouse.pinVersion]]): `holder`'s
    * shield on `version`. `pinnedAtMs` is the registration (or last
    * [[Warehouse.refreshPin]] heartbeat) wall-clock stamp — None only
    * for pins written before the stamp era. `leaseMs` bounds how long
    * the pin survives without a heartbeat: past `pinnedAtMs + leaseMs`
    * the pin is EXPIRED — the next [[Warehouse.vacuum]] sweeps it with
    * a loud `pin-expired` history op, so a crashed holder cannot
    * shield retention forever. A lease-less pin never expires (the
    * explicit-release contract). */
  final case class PinInfo(holder: String, version: Long,
      pinnedAtMs: Option[Long], leaseMs: Option[Long]) {
    def expired(nowMs: Long): Boolean =
      leaseMs.exists(l => pinnedAtMs.exists(at => nowMs > at + l))
  }

  /** One committed data file: manifest-relative path plus optional
    * per-column (min, max) stats on the table's cluster columns,
    * per-column bloom filters (base64 of Spark's sketch format) on the
    * table's bloom columns, per-column HLL distinct-count sketches
    * (base64 DataSketches HLL — mergeable, so the TABLE's NDV is the
    * union of per-file sketches, never a sum) on the indexed columns,
    * and an optional deletion-vector reference marking rows of THIS
    * file deleted without rewriting it. */
  final case class DataFile(path: String,
      stats: Map[String, (String, String)] = Map.empty,
      blooms: Map[String, String] = Map.empty,
      dv: Option[DvRef] = None,
      ndvs: Map[String, String] = Map.empty)

  /** Deletion-vector reference on a [[DataFile]]: `path` names the
    * sidecar parquet (table-dir-relative, like data paths) whose
    * (file, pos) rows mark ORIGINAL row positions of the data file as
    * deleted; `rows` is how many of them belong to this data file.
    * The data file itself stays byte-identical — readers subtract the
    * positions, [[Warehouse.compact]] materializes them away. */
  final case class DvRef(path: String, rows: Long)

  /** Inclusive range constraint for stats-based file skipping; `None`
    * bounds are open. Equality = same value on both bounds. */
  final case class ColRange(column: String,
      lower: Option[Any] = None, upper: Option[Any] = None)

  /** One entry of a table's commit [[Warehouse.history]]. `rows` is
    * the snapshot's total row count after this commit (from the
    * manifest's per-file counts — None only when a file in that
    * snapshot predates row stats). */
  final case class Commit(version: Long, op: String,
      committedAt: String, files: Int, rows: Option[Long] = None)

  /** Outcome of a predicate [[Warehouse.delete]]: rows removed, files
    * dropped whole (every row matched — zero rewrite I/O), files
    * rewritten without their matching rows, files untouched
    * (byte-identical in the new snapshot). */
  final case class CompactResult(filesCompacted: Int, filesWritten: Int,
    filesUntouched: Int)

  final case class DeleteResult(rowsDeleted: Long, filesDropped: Int,
      filesRewritten: Int, filesUntouched: Int, filesDv: Int = 0)

  /** Outcome of a predicate [[Warehouse.update]]: rows whose new image
    * was written, files rewritten (every file holding a matching row),
    * files untouched (byte-identical in the new snapshot), and files
    * handled as DV-delete + append of the new images (no rewrite). */
  final case class UpdateResult(rowsUpdated: Long, filesRewritten: Int,
      filesUntouched: Int, filesDv: Int = 0)

  /** Outcome of a [[Warehouse.refreshAggregate]]: the base-version
    * window applied, groups whose aggregate changed (−1 on bootstrap),
    * and MV files rewritten. */
  final case class MvRefresh(fromVersion: Long, toVersion: Long,
      keysChanged: Long, filesRewritten: Int, bootstrapped: Boolean)

  /** Outcome of a [[Warehouse.refreshJoinView]]: the two base-version
    * windows applied, affected fact ids / dim keys (−1 on bootstrap),
    * and MV files rewritten. */
  final case class JoinMvRefresh(fromFactVersion: Long,
      toFactVersion: Long, fromDimVersion: Long, toDimVersion: Long,
      factIdsChanged: Long, dimKeysChanged: Long, filesRewritten: Int,
      bootstrapped: Boolean)

  /** A declared row-level CHECK constraint (see
    * [[Warehouse.addCheck]]): violation = predicate FALSE, disposition
    * one of fail | drop | quarantine. */
  final case class Check(name: String, expr: String, onViolation: String)
}

/** F6 — SQL Server's default collation is case-insensitive; Spark is
  * case-sensitive. All join/filter boundaries on human-entered strings
  * normalize through here (SURVEY §7.4 trap #1). */
object Normalize {
  def norm(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lower(trim(c))
}
