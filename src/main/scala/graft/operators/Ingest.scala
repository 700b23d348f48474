package graft.operators

import graft.olist.Warehouse
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Transactional searchable-corpus ingest — the composition that turns
  * the individual pieces (exactly-once streaming append, inverted-index
  * refresh, ANN-index refresh, cross-table transactions) into the thing
  * a retrieval platform actually runs: documents stream in, and EVERY
  * micro-batch lands the base table, the BM25 index, and the vector
  * index under ONE commit marker. A reader at any instant sees a base
  * table and indexes that agree — never a doc that is searchable but
  * unfetchable, or fetchable but invisible to search.
  *
  * Exactly-once under replay comes from layering two mechanisms that
  * are each already tested alone:
  *  - the base append is batchId-fenced ([[Warehouse.appendStreamBatch]]
  *    commits the high-water mark WITH the batch — and inside the
  *    transaction the mark rides the same marker, so a rollback takes
  *    the mark with it and a retry re-drives the whole batch);
  *  - the index refreshes are anti-join idempotent (a replayed doc is
  *    already in the membership list → no-op), so the landed=false
  *    replay path can skip them without looking.
  *
  * Scale shape per batch: O(batch) tokenize/encode work, O(delta
  * vocab) df segments, one marker rename. Nothing corpus-sized moves.
  * The base table is APPEND-only here (dedup/upsert is a modeling
  * choice — compose [[Warehouse.streamMergeInto]] yourself if doc_ids
  * must upsert); the indexes stay singular regardless via their
  * anti-joins. */
object Ingest {

  /** One micro-batch, atomically: dedup GATE (optional) + base append
    * + text-index advance + ANN advance (vectors ride the batch as an
    * `embedding` column, keyed by doc_id). Returns true iff the batch
    * landed (false = a replay of the last committed batch — every
    * structure already holds it). Crash anywhere inside → the single
    * marker never lands, every staged version rolls back (the gate's
    * band/bucket advances included), and the stream re-drives the
    * batch from its un-advanced checkpoint.
    *
    * With `dedupIdx` set, each batch doc is judged against everything
    * the gate has ever seen ([[DedupIndex.admitBody]] — stored bucket
    * mins + intra-batch priors) and only keep verdicts reach the base
    * table and the indexes; dropped near-dups still enter the GATE's
    * memory (they convict future arrivals — the transitive keep-first
    * policy) but never become corpus. The gate's anti-join doubles as
    * the replay guard: a replayed batch's docs are already in the
    * band membership, so the gate commits nothing and the batchId
    * fence settles the rest.
    *
    * With `contamIdx` set, the [[ContamGate]] benchmark firewall runs
    * docs sharing any word-8-gram with the stored eval suite out
    * before the dedup gate ever sees them — a contaminated doc
    * must not become a near-dup prior that later convicts its CLEAN
    * paraphrase (the gate's memory should describe the corpus, not
    * the rejects). The firewall is read-only (its gram table is not
    * part of this transaction), so it adds no atomicity surface.
    *
    * With `minQuality` set, the stateless t2 quality gate
    * ([[TextAnalysis.qualityExpr]] — Curate's stage-1 signal) runs
    * FIRST of all: a pure map-side projection, so the cheapest gate
    * sheds load before any gate that joins stored state. Gate order
    * is cheapest-first: quality (projection) → contamination (stored
    * digest probe) → near-dup (stored bands + own-batch window).
    *
    * Fence-first: the stream's committed high-water mark is checked
    * BEFORE any gate runs ([[Warehouse.streamHighWaterMark]]) — a
    * replay of the last committed batch returns false without
    * touching the gates, and a batchId BELOW the mark refuses loudly
    * (checkpoint reset / shared streamId — [[appendStreamBatch]]'s
    * contract). Without the pre-check, a stale batch carrying
    * genuinely unseen doc_ids would commit dedup-gate band memory for
    * docs that never land, permanently convicting their future
    * legitimate deliveries.
    *
    * Every landed batch also appends ONE row to the ADMISSION LEDGER
    * `<table>_ingest_log` — (batch_id, stream_id, n_in, quality_drops,
    * contam_drops, dup_drops, landed) — INSIDE the same transaction
    * marker: a rolled-back batch leaves no ledger row, a replay writes
    * none. Per-gate drop counts are the drift signal a production
    * pipeline monitors — a contamination spike IS how a benchmark
    * leaking into a crawl surfaces. */
  def ingestBatch(wh: Warehouse, table: String, batch: DataFrame,
      batchId: Long, textIdx: Option[String] = None,
      annIdx: Option[String] = None,
      dedupIdx: Option[String] = None,
      contamIdx: Option[String] = None,
      minQuality: Option[Double] = None,
      blameSuites: Boolean = false,
      streamId: String = "ingest"): Boolean = {
    // settle fenced-out batches before any gate stages state
    val mark = wh.streamHighWaterMark(table, streamId)
    if (mark.contains(batchId)) return false
    if (mark.exists(batchId < _))
      throw new IllegalStateException(
        s"ingestBatch($table, streamId=$streamId): batchId $batchId is " +
          s"below the committed mark ${mark.get} — stream checkpoint was " +
          "reset or two queries share this streamId; use a fresh streamId")
    require(!blameSuites || contamIdx.nonEmpty,
      "ingestBatch: blameSuites without contamIdx — there is no gate " +
        "to attribute drops to")
    val log = ledgerTable(table)
    val blame = if (blameSuites) Seq(blameTable(table)) else Nil
    val names = (Seq(table, log) ++ blame
      ++ textIdx.toSeq.flatMap(TextIndex.tables)
      ++ annIdx.toSeq.flatMap(AnnIndex.tables)
      ++ dedupIdx.toSeq.flatMap(DedupIndex.tables)).distinct
    // every batch-sized frame pinned below is released in the finally:
    // a long-running stream otherwise accumulates checkpoint blocks in
    // executor storage until the ContextCleaner happens to GC them
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint(); pins += p; p
    }
    try wh.transaction(names) {
      // each ARMED gate's output pins (batch-sized): the ledger
      // counts, the base append, and BOTH index refreshes read the
      // surviving rows — without the pin the gate chain (quality
      // filter + two verdict joins) re-executes per consumer, ~5×
      // per trigger. A skipped gate adds no pin: its stage IS the
      // previous frame.
      //
      // The quality gate is ONE pass: the pinned frame carries the
      // verdict as a flag column, so the stage filter AND the ledger's
      // (in, passed) counts both read the pin — qualityExpr evaluates
      // once per row per trigger, not once for the filter and again
      // for the counts.
      val flagged = minQuality.map { q =>
        require(!batch.columns.contains("__q_ok"),
          "ingestBatch: batch already has a __q_ok column — it collides " +
            "with the quality gate's verdict flag; rename upstream")
        pin(batch.withColumn("__q_ok",
          TextAnalysis.qualityExpr(col("text")) >= q))
      }
      val qualified = flagged match {
        // a cheap flag filter over the pinned frame — no second pin
        case Some(f) => f.filter(col("__q_ok")).drop("__q_ok")
        case None => batch
      }
      // each gate's VERDICT frame is pinned too: the stage semi-join
      // and the ledger's (judged, kept) aggregate both read it — one
      // bounded agg over a batch-sized pinned frame replaces the
      // per-stage distinct-count jobs the ledger used to schedule.
      // ONE gram derivation feeds the verdict AND (when enabled) the
      // per-suite blame lens — the shared-pass seam; the gram pin
      // rides this trigger's pin ledger like every other stage frame.
      val bg = contamIdx.map(_ =>
        pin(ContamGate.grams(qualified.select("doc_id", "text"))))
      val nGrams = bg.map(_.count())
      val contamV = contamIdx.map(i =>
        pin(ContamGate.verdictsOn(wh, i, qualified, bg.get, nGrams.get)))
      val clean = contamV match {
        case Some(v) =>
          pin(qualified.join(broadcast(v.filter(col("keep") === 1)
            .select("doc_id")), Seq("doc_id"), "left_semi"))
        case None => qualified
      }
      // admitBody pins its verdict internally (it must settle BEFORE
      // the gate state advances); no second pin needed here
      val dedupV = dedupIdx.map(i => DedupIndex.admitBody(wh, i, clean))
      val kept = dedupV match {
        case Some(v) =>
          // verdicts are delta-sized and pinned — the semi-join keeps
          // only first-of-their-neighborhood docs, in batch row order
          pin(clean.join(broadcast(v.filter(col("keep") === 1)
            .select("doc_id")), Seq("doc_id"), "left_semi"))
        case None => clean
      }
      // the ledger counts DISTINCT doc ids per stage (the grain the
      // gates judge at). ONE aggregate per ARMED stage: the quality
      // gate folds (in, passed) from the raw batch in one job; each
      // verdict gate reads (judged, kept) off its own pinned verdict
      // frame — a verdict row is one distinct doc by construction, so
      // count/sum replace the distinct-count jobs. Unarmed stages
      // stitch from their neighbors: the contam gate judges every
      // distinct surviving doc, so its judged count IS the previous
      // stage's survivor count. The DEDUP verdict cannot stitch
      // upward — it judges only FRESH docs (already-admitted ids are
      // anti-joined away before judging, and their silent drop is
      // exactly what dup_drops must record), so only its KEPT count
      // is used.
      def verdictCounts(v: DataFrame): (Long, Long) = {
        val r = v.agg(count(lit(1)), sum(col("keep"))).first()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      val qualCounts: Option[(Long, Long)] = flagged.map { f =>
        val r = f.agg(countDistinct(col("doc_id")),
          countDistinct(when(col("__q_ok"), col("doc_id")))).first()
        (r.getLong(0), r.getLong(1))
      }
      val contamCounts = contamV.map(verdictCounts)
      val nQual = qualCounts.map(_._2)
        .orElse(contamCounts.map(_._1)) // contam judged = quality kept
        .getOrElse(batch.select("doc_id").distinct().count())
      val nIn = qualCounts.map(_._1).getOrElse(nQual)
      val nClean = contamCounts.map(_._2).getOrElse(nQual)
      val nKept = dedupV.map(v => verdictCounts(v)._2).getOrElse(nClean)
      val landed = wh.appendStreamBatch(table, kept, batchId, streamId)
      if (!landed)
        // the fence pre-check at the top already settled legitimate
        // replays — reaching here means a concurrent writer sharing
        // this streamId advanced the mark BETWEEN the pre-check and
        // the under-lock re-check. Returning false would still commit
        // the transaction, landing the dedup gate's staged band
        // appends as memory for docs that never reach the base table
        // (the poisoned-band scenario the fence exists to prevent);
        // throwing rolls every staged version back.
        throw new IllegalStateException(
          s"ingestBatch($table, streamId=$streamId): batchId $batchId " +
            "was committed concurrently after the fence pre-check — " +
            "two writers share this streamId; rolled back")
      textIdx.foreach(i => TextIndex.refreshBody(wh, i, kept))
      annIdx.foreach(i => AnnIndex.refresh(wh, i,
        kept.select(col("doc_id").as("vec_id"), col("embedding"))))
      val spark0 = batch.sparkSession
      import spark0.implicits._
      val row = Seq((batchId, streamId, nIn, nIn - nQual,
        nQual - nClean, nClean - nKept, nKept))
        .toDF("batch_id", "stream_id", "n_in", "quality_drops",
          "contam_drops", "dup_drops", "landed")
      if (wh.hasTable(log)) wh.append(log, row) else wh.save(log, row)
      // suite BLAME rows, riding the same transaction marker: one
      // (batch_id, stream_id, suite, drops) row per suite that
      // convicted ≥1 doc this trigger — the triage answer ("WHICH
      // benchmark leaked?") recorded at ingest time, when the batch
      // still exists to be judged; a later re-judge may be impossible.
      // Off the SAME pinned gram frame as the verdict (one derivation);
      // a doc two suites convict counts in BOTH rows (per-suite
      // evidence — the verdictsBySuite semantics), so blame sums can
      // exceed contam_drops by design.
      if (blameSuites) contamIdx.foreach { i =>
        val br = ContamGate.blameOn(wh, i, bg.get, nGrams.get)
          .groupBy("suite")
          .agg(countDistinct(col("doc_id")).as("drops"))
          .select(lit(batchId).as("batch_id"),
            lit(streamId).as("stream_id"), col("suite"), col("drops"))
        val bt = blameTable(table)
        if (wh.hasTable(bt)) wh.append(bt, br) else wh.save(bt, br)
      }
      true
    } finally {
      pins.foreach(_.unpersist())
      // ledger hygiene, OUTSIDE the transaction (a maintenance rewrite,
      // not part of the batch's atomicity): a year of micro-batches is
      // ~100k one-row appends — without folding, 100k files for a
      // 100k-row table. Size-tiered: files at/above LedgerFileRows are
      // sealed and never rewritten again, so the amortized rewrite cost
      // per trigger is O(LedgerFileRows / LedgerCompactMinFiles) rows —
      // constant, not O(ledger).
      // Try-guarded: this runs on the exception path too, and a
      // maintenance hiccup (lock contention, concurrent commit) must
      // never MASK the transaction's own failure — or fail a batch
      // that already committed. A FAILED fold is recorded in the
      // maintenance ledger (success is routine and stays silent —
      // one maint row per trigger would out-write the ledger it
      // folds), so repeated failures surface in
      // `DESCRIBE INGEST LOG t MAINT` instead of vanishing.
      val foldT0 = System.currentTimeMillis()
      val fold = scala.util.Try {
        // the blame ledger appends per blame-enabled trigger too —
        // same fold, same sealing tier
        Seq(log, blameTable(table)).foreach { t =>
          if (wh.hasTable(t) &&
              wh.describeDetail(t).toMap.get("numFiles")
                .flatMap(_.toIntOption).exists(_ >= LedgerCompactMinFiles)) {
            wh.compactSmall(t, LedgerFileRows, LedgerFileRows); ()
          }
        }
      }
      fold.failed.foreach { e =>
        System.err.println(
          s"[graft] ledger fold failed for $table: ${e.getMessage}")
        recordMaint(wh, table, "ledger_fold", foldT0, Nil,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      ()
    }
  }

  /** Fold the ledger's small files once this many accumulate. */
  private val LedgerCompactMinFiles = 16

  /** Ledger files at/above this many rows are sealed (never rewritten
    * by the per-trigger fold). */
  private val LedgerFileRows = 4096L

  /** The admission ledger behind `table` — one row per landed batch. */
  def ledgerTable(table: String): String = s"${table}_ingest_log"

  /** The suite-blame ledger behind `table` — one row per (landed
    * batch, convicting suite), written only by blame-enabled triggers. */
  def blameTable(table: String): String = s"${table}_ingest_blame"

  /** The maintenance ledger behind `table` — one row per recorded
    * maintenance attempt (scheduled [[optimize]] runs, failed ledger
    * folds): (op, started_at, duration_ms, detail, error). `error`
    * NULL = success, `detail` = the per-step counters. This is what
    * makes a PERSISTENTLY failing scheduled optimize observable — the
    * stream must keep committing through maintenance hiccups (a
    * committed batch can never be failed retroactively), but the
    * swallowed exception used to go nowhere, which meant debris
    * growing without bound with zero signal (the drift BASELINE.md's
    * "Index maintenance: the debris drift" section measured). SQL:
    * `DESCRIBE INGEST LOG t MAINT`. */
  def maintTable(table: String): String = s"${table}_maint"

  /** The maintenance ledger as a frame, time-ordered — empty with the
    * correct schema before the first recorded attempt, like
    * [[ledger]]. When the RECORDER ITSELF has failed in this process
    * ([[recordMaint]]'s own append throwing — the one failure the
    * ledger cannot record in itself), a synthetic `maint_recorder`
    * row carries the process-local failure count, so `DESCRIBE INGEST
    * LOG t MAINT` surfaces even the recorder's blind spot instead of
    * leaving it on stderr alone. */
  def maintLedger(wh: Warehouse, table: String): DataFrame = {
    import wh.spark.implicits._
    val stored =
      if (wh.hasTable(maintTable(table))) wh.table(maintTable(table))
      else Seq.empty[(String, java.sql.Timestamp, Long, String, String)]
        .toDF("op", "started_at", "duration_ms", "detail", "error")
    val failures = Option(maintAppendFailures.get(failureKey(wh, table)))
      .map(_.get).getOrElse(0L)
    val all =
      if (failures == 0L) stored
      else stored.unionByName(Seq((
        "maint_recorder",
        new java.sql.Timestamp(System.currentTimeMillis()), 0L,
        s"append_failures=$failures",
        s"maint ledger appends failed $failures time(s) in this " +
          "process — rows for those attempts are MISSING below; " +
          "see the driver's stderr for each cause"))
        .toDF("op", "started_at", "duration_ms", "detail", "error"))
    all.orderBy("started_at", "op")
  }

  /** [[recordMaint]]'s own append failures, per maint table —
    * process-local BY NATURE (a failure to write the ledger cannot be
    * counted in the ledger); [[maintLedger]] folds the count into its
    * output as a synthetic row. */
  private val maintAppendFailures =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()

  /** Counter key: per (warehouse instance, table) — two warehouses
    * sharing a table NAME (test fixtures, multi-tenant paths) must not
    * see each other's recorder failures. */
  private def failureKey(wh: Warehouse, table: String): String =
    s"${System.identityHashCode(wh)}:${maintTable(table)}"

  /** Append one maintenance-outcome row. Best-effort BY DESIGN: the
    * recorder runs on paths that must never fail their host (a stream
    * trigger's finally, the post-commit optimize cadence), so its own
    * failure degrades to a stderr line PLUS a process-local counter
    * [[maintLedger]] surfaces — observable, never host-fatal. The
    * ledger rides the ingest ledger's size-tiered fold
    * ([[LedgerFileRows]]/[[LedgerCompactMinFiles]]): one row per
    * scheduled optimize would otherwise accumulate one FILE per
    * optimize forever — debris on the ledger of the operation that
    * exists to fold debris. */
  private def recordMaint(wh: Warehouse, table: String, op: String,
      startedMs: Long, counters: Seq[(String, Long)],
      error: Option[String]): Unit = {
    val t = maintTable(table)
    val res = scala.util.Try {
      val spark0 = wh.spark
      import spark0.implicits._
      val row = Seq((op, new java.sql.Timestamp(startedMs),
        System.currentTimeMillis() - startedMs,
        counters.map { case (k, v) => s"$k=$v" }.mkString(" "),
        error.orNull))
        .toDF("op", "started_at", "duration_ms", "detail", "error")
      if (wh.hasTable(t)) wh.append(t, row) else wh.save(t, row)
    }
    res.failed.foreach { e =>
      maintAppendFailures
        .computeIfAbsent(failureKey(wh, table),
          _ => new java.util.concurrent.atomic.AtomicLong(0L))
        .incrementAndGet()
      System.err.println(
        s"[graft] maint ledger append failed for $table/$op: " +
          s"${e.getMessage}")
    }
    // the maint ledger's own fold — same sealing tier as the ingest
    // ledger, so N scheduled optimizes leave O(1) live files. Its own
    // Try: a fold hiccup is not an append failure and must not count
    // as one (nor fail the host).
    if (res.isSuccess) scala.util.Try {
      if (wh.describeDetail(t).toMap.get("numFiles")
          .flatMap(_.toIntOption).exists(_ >= LedgerCompactMinFiles)) {
        wh.compactSmall(t, LedgerFileRows, LedgerFileRows); ()
      }
    }.failed.foreach(e => System.err.println(
      s"[graft] maint ledger fold failed for $table: ${e.getMessage}"))
  }

  /** [[optimize]] with its outcome recorded in the [[maintTable]]
    * ledger — the SCHEDULED path's entry ([[streamIndexed]]'s
    * optimizeEvery cadence): success lands a row carrying duration +
    * the per-step counters; failure lands an ERROR row and returns Nil
    * INSTEAD OF THROWING. The no-throw side is the stream-safety
    * contract (a maintenance hiccup must never fail a batch that
    * already committed); the error row is what keeps a persistent
    * failure from being invisible — the on-call query is
    * `DESCRIBE INGEST LOG t MAINT` filtered to `error IS NOT NULL`. */
  def optimizeLogged(wh: Warehouse, table: String,
      textIdx: Option[String] = None, annIdx: Option[String] = None,
      dedupIdx: Option[String] = None, contamIdx: Option[String] = None,
      targetRows: Long = 1L << 20,
      minFileRows: Long = 1L << 16): Seq[(String, Long)] = {
    val t0 = System.currentTimeMillis()
    scala.util.Try(optimize(wh, table, textIdx, annIdx, dedupIdx,
        contamIdx, targetRows, minFileRows)) match {
      case scala.util.Success(counters) =>
        recordMaint(wh, table, "optimize", t0, counters, None)
        counters
      case scala.util.Failure(e) =>
        System.err.println(
          s"[graft] scheduled optimize failed for $table: ${e.getMessage}")
        recordMaint(wh, table, "optimize", t0, Nil,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        Nil
    }
  }

  /** The suite-blame ledger as a frame, (stream, batch, suite)-ordered
    * — empty with the correct schema before the first blame-enabled
    * landed batch, like [[ledger]]. */
  def blameLedger(wh: Warehouse, table: String): DataFrame =
    if (wh.hasTable(blameTable(table)))
      wh.table(blameTable(table)).orderBy("stream_id", "batch_id", "suite")
    else {
      import wh.spark.implicits._
      Seq.empty[(Long, String, String, Long)]
        .toDF("batch_id", "stream_id", "suite", "drops")
    }

  /** The admission ledger as a frame, batch-ordered — the gate-drift
    * monitor's read path. EMPTY (correct schema, zero rows) before
    * the first landed batch, so a monitor can attach before the
    * pipeline's first trigger without crashing. */
  def ledger(wh: Warehouse, table: String): DataFrame =
    if (wh.hasTable(ledgerTable(table)))
      wh.table(ledgerTable(table)).orderBy("stream_id", "batch_id")
    else {
      import wh.spark.implicits._
      Seq.empty[(Long, String, Long, Long, Long, Long, Long)]
        .toDF("batch_id", "stream_id", "n_in", "quality_drops",
          "contam_drops", "dup_drops", "landed")
    }

  /** Scheduled MAINTENANCE for an ingest stream's whole storage
    * footprint — one call folds what a long-running stream
    * accumulates: the base table's per-trigger small files
    * ([[Warehouse.compactSmall]]) and each configured index family's
    * segment folds + debris packs ([[TextIndex.optimize]] /
    * [[AnnIndex.optimize]] / [[DedupIndex.optimize]] /
    * [[ContamGate.optimize]]). The admission ledgers already ride the
    * per-trigger size-tiered fold; this is the companion the indexes
    * and the base need, run on a maintenance cadence (hourly/daily),
    * never per trigger — the df fold is O(live vocab), maintenance-
    * priced, not trigger-priced. Every step is individually atomic
    * and answer-preserving; a crash between steps leaves every
    * structure consistent.
    *
    * TOMBSTONES ARE DELIBERATELY NOT FOLDED HERE. The fold's
    * dead-guard judgment needs the index's REFRESH SOURCE (the frame
    * future refreshes derive from); in the streaming composition that
    * source is future deliveries — unknowable, and NOT the base
    * table. Worse, after a [[Forget.forgetDocs]] the base no longer
    * carries the forgotten doc, so a base-sourced fold would judge
    * its guard dead and drop it — and the next delivery replaying the
    * doc would silently resurrect it into base and indexes. Fold a
    * stream's tombstones only against an upstream retention boundary
    * the caller can actually assert ("the crawler never re-delivers
    * docs older than X"), via the per-index foldTombstones.
    *
    * Single-maintainer contract: schedule between triggers (or from
    * the stream's own foreachBatch cadence, which serializes
    * naturally); do not race a live trigger. Returns per-step
    * counters, index-qualified. */
  def optimize(wh: Warehouse, table: String,
      textIdx: Option[String] = None, annIdx: Option[String] = None,
      dedupIdx: Option[String] = None, contamIdx: Option[String] = None,
      targetRows: Long = 1L << 20,
      minFileRows: Long = 1L << 16): Seq[(String, Long)] = {
    val base = wh.compactSmall(table, targetRows, minFileRows)
    def tagged(i: String, kv: Seq[(String, Long)]) =
      kv.filterNot(_._1 == "tombstones_dropped")
        .map { case (k, v) => s"$i.$k" -> v }
    Seq(s"$table.files_compacted" -> base.filesCompacted.toLong) ++
      textIdx.toSeq.flatMap(i => tagged(i, TextIndex.optimize(wh, i,
        targetRows = targetRows, minFileRows = minFileRows))) ++
      annIdx.toSeq.flatMap(i => tagged(i, AnnIndex.optimize(wh, i,
        targetRows, minFileRows))) ++
      dedupIdx.toSeq.flatMap(i => tagged(i, DedupIndex.optimize(wh, i,
        targetRows = targetRows, minFileRows = minFileRows))) ++
      contamIdx.toSeq.flatMap(i => tagged(i, ContamGate.optimize(wh, i,
        targetRows, minFileRows)))
  }

  /** Drive a streaming frame of documents (doc_id, text, …[, embedding])
    * through [[ingestBatch]] — base + indexes advance together, one
    * transaction per trigger. Bootstrap the indexes first
    * ([[TextIndex.build]] accepts an empty frame; [[AnnIndex.build]]
    * needs a real seed batch to train its codebooks).
    *
    * `optimizeEvery = Some(n)`: run [[optimize]] after every n-th
    * LANDED trigger, from inside foreachBatch — the one place the
    * single-maintainer contract is satisfied by construction
    * (triggers serialize, so maintenance can never race a live
    * ingest on the same index). The cadence trades steady-state file
    * counts against per-n-triggers maintenance cost (the df fold is
    * O(live vocab)); without it, debris grows one small file per
    * table per trigger forever (BASELINE.md's measured debris drift).
    * Runs through [[optimizeLogged]]: a maintenance hiccup must never
    * fail a batch that already committed, but every attempt — success
    * counters or the error — lands in the [[maintTable]] ledger, so a
    * persistently failing in-stream optimize is observable
    * (`DESCRIBE INGEST LOG t MAINT`) instead of silently growing
    * debris. Replays and rollbacks don't advance the cadence
    * counter. */
  def streamIndexed(wh: Warehouse, table: String, docs: DataFrame,
      checkpoint: String, textIdx: Option[String] = None,
      annIdx: Option[String] = None, dedupIdx: Option[String] = None,
      contamIdx: Option[String] = None,
      minQuality: Option[Double] = None,
      blameSuites: Boolean = false,
      streamId: String = "ingest",
      optimizeEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(optimizeEvery.forall(_ > 0),
      "streamIndexed: optimizeEvery must be positive")
    val landedCount = new java.util.concurrent.atomic.AtomicLong(0L)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val landed = ingestBatch(wh, table, b.toDF(), id, textIdx,
          annIdx, dedupIdx, contamIdx, minQuality, blameSuites,
          streamId)
        optimizeEvery.foreach { n =>
          if (landed && landedCount.incrementAndGet() % n == 0) {
            optimizeLogged(wh, table, textIdx, annIdx, dedupIdx,
              contamIdx)
            ()
          }
        }
        ()
      }
      .start()
  }
}
