package graft.operators

import graft.olist.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Warehouse-maintained INVERTED index — the sparse-retrieval twin of
  * [[AnnIndex]]: t18's BM25 recomputes corpus statistics and scans
  * every document's tokens per query, which is the right shape for a
  * one-shot batch sweep and the wrong one for serving many queries.
  * This stores the classic search-engine decomposition as ordinary
  * warehouse tables and keeps it current incrementally:
  *
  *   `<idx>_postings` (term, doc_id, tf, dl, pos)  term-clustered +
  *                     term
  *                     bloom sketches — a query's `term IN (…)` scan
  *                     file-skips to the handful of files holding its
  *                     terms' postings (dl is denormalized in, so
  *                     scoring needs NO join against a lengths table)
  *   `<idx>_doclen`   (doc_id, dl)            membership list — drives
  *                     refresh's anti-join and the stats increment
  *   `<idx>_df`       (term, df)              document-frequency
  *                     SEGMENTS (LSM-style): refresh/remove APPEND
  *                     additive rows (negative on removal) instead of
  *                     rewriting the vocabulary — maintenance is
  *                     O(delta vocab); a query sums its ≤|terms|
  *                     segment rows (term-clustered + bloomed, so the
  *                     read file-skips like the postings)
  *   `<idx>_stats`    (n, sum_dl)             one row
  *
  * Unlike the ANN index (frozen codebook — refresh preserves encode
  * equivalence, recall drifts), BM25 has no trained state: refresh
  * updates df/stats EXACTLY, so an incrementally-maintained index is
  * bit-identical to one built from scratch — the spec asserts full
  * equality, not a floor. Scoring reuses [[TextAnalysis.bm25ScoreExpr]]
  * so a stored-index query reproduces t18's doubles bit-for-bit.
  *
  * Single-maintainer contract as [[AnnIndex.refresh]].
  */
object TextIndex {

  /** Per-(doc, term) POSITIONAL postings with the doc length carried
    * along — tf/dl from the same tokenizer as
    * [[TextAnalysis.bm25TopK]], plus the term's ascending token
    * positions (`pos`). Positions are what turn a bag-of-words index
    * into a search engine: phrase and proximity queries resolve from
    * the index alone ([[phraseQuery]]), never re-reading text. The
    * classic space trade (Lucene's default is positional too): the
    * pos arrays roughly double the postings bytes; tf stays
    * denormalized so BM25 scoring still reads no array. */
  private def analyzed(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull) // un-tokenizable: not indexable
      .select(col("doc_id"),
        TextAnalysis.tokens(lower(col("text"))).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        posexplode(col("ts")).as(Seq("p", "term")))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p"))).as("pos"))

  /** Tokenize + invert `docs` (doc_id, text, …) into the four index
    * tables. `nFiles` range-splits the postings by term so each file
    * covers a disjoint term range (min/max skipping) with a bloom
    * sketch for point admission. Returns docs indexed. */
  def build(wh: Warehouse, idx: String, docs: DataFrame,
      nFiles: Int = 8): Long = {
    // same within-batch dedup as refresh: a duplicated doc would
    // otherwise double its tf while dl/df/n stay singular. NULL-text
    // docs are not indexable (analyzed drops them) — filter upstream.
    val post = analyzed(docs.dropDuplicates("doc_id"))
      .localCheckpoint() // feeds all the tables
    wh.save(s"${idx}_postings",
      post.select("term", "doc_id", "tf", "dl", "pos")
        .repartitionByRange(nFiles, col("term")),
      clusterBy = Seq("term"), bloomBy = Seq("term"))
    wh.save(s"${idx}_doclen", post.select("doc_id", "dl").distinct())
    wh.save(s"${idx}_df",
      post.groupBy("term").agg(count(lit(1)).as("df"))
        .repartitionByRange(nFiles, col("term")),
      clusterBy = Seq("term"), bloomBy = Seq("term"))
    // the right-to-be-forgotten tombstone list: ids remove()d stay
    // out even when later refresh sources still carry them
    wh.save(s"${idx}_gone", post.select("doc_id").limit(0))
    val s = post.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n"), sum("dl").as("sum_dl")).first()
    // empty bootstrap (build now, stream refreshes in later) leaves
    // sum null — an empty index is a legitimate starting state
    val sumDl = if (s.isNullAt(1)) 0L else s.getLong(1)
    wh.save(s"${idx}_stats", statsFrame(docs, s.getLong(0), sumDl))
    s.getLong(0)
  }

  private def statsFrame(shape: DataFrame, n: Long,
      sumDl: Long): DataFrame = {
    val spark = shape.sparkSession
    import spark.implicits._
    Seq((n, sumDl)).toDF("n", "sum_dl")
  }

  /** Index every document not yet in the membership list: O(delta)
    * tokenize + append, an ADDITIVE df upsert, and an incremented
    * stats row. df and stats stay EXACT, so incremental ≡ from-scratch
    * build, bit-for-bit. Returns docs added. */
  def refresh(wh: Warehouse, idx: String, docs: DataFrame): Long = {
    val delta = deltaOf(wh, idx, docs)
    if (delta.isEmpty) 0L
    // the four tables move ATOMICALLY: a crash between the postings
    // append and the df/stats rewrite would otherwise leave scores
    // computed from stats that disagree with the postings — exactly
    // the torn state the cross-table transaction machinery exists
    // to preclude (readers see all four updates or none)
    else wh.transaction(tables(idx))(appendDelta(wh, idx, delta, docs))
  }

  /** [[refresh]]'s body without the transaction wrapper — for callers
    * composing the index advance into a WIDER atomic unit
    * ([[Ingest.ingestBatch]]); the caller's transaction must declare
    * [[tables]]. Own-reads make the in-transaction delta discovery see
    * the caller's earlier in-transaction commits. */
  private[operators] def refreshBody(wh: Warehouse, idx: String,
      docs: DataFrame): Long = {
    val delta = deltaOf(wh, idx, docs)
    if (delta.isEmpty) 0L else appendDelta(wh, idx, delta, docs)
  }

  private def deltaOf(wh: Warehouse, idx: String,
      docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .join(wh.table(s"${idx}_doclen").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .join(wh.table(s"${idx}_gone"), Seq("doc_id"), "left_anti")
      .dropDuplicates("doc_id")

  private def appendDelta(wh: Warehouse, idx: String,
      delta: DataFrame, docs: DataFrame): Long = {
    val post = analyzed(delta).localCheckpoint() // delta-sized
    wh.append(s"${idx}_postings",
      post.select("term", "doc_id", "tf", "dl", "pos"))
    wh.append(s"${idx}_doclen", post.select("doc_id", "dl").distinct())
    // additive df SEGMENT append (the LSM trade): O(delta vocab)
    // written, nothing rewritten — the query sums segments per
    // term, and OPTIMIZE SMALL folds old segments when they
    // accumulate. A full-outer fold + rewrite here would be
    // O(vocab) per refresh, the one remaining corpus-shaped cost.
    wh.append(s"${idx}_df",
      post.groupBy("term").agg(count(lit(1)).as("df")))
    val d = post.select("doc_id", "dl").distinct()
      .agg(count(lit(1)), sum("dl")).first()
    val old = wh.table(s"${idx}_stats").first()
    wh.save(s"${idx}_stats", statsFrame(docs,
      old.getLong(0) + d.getLong(0), old.getLong(1) + d.getLong(1)))
    d.getLong(0)
  }

  /** The index's five backing tables — the unit every maintenance
    * op moves atomically (and what [[Forget.forgetDocs]] folds into
    * its own wider transaction). */
  private[operators] def tables(idx: String): Seq[String] =
    Seq(s"${idx}_postings", s"${idx}_doclen", s"${idx}_df",
      s"${idx}_stats", s"${idx}_gone")

  /** Un-index documents (the right-to-be-forgotten lane): DV-deletes
    * their postings and membership rows (untouched files stay
    * byte-identical), decrements df additively (terms whose last doc
    * leaves drop out), and decrements the stats row — all four tables
    * inside ONE cross-table transaction, so no reader ever scores
    * against stats that disagree with the postings. BM25 has no
    * trained state, so the shrunken index equals one built from
    * scratch without those docs, bit-for-bit (asserted). `ids` is a
    * bounded explicit list (the deletion-request queue), not a frame.
    * Returns docs removed. */
  def remove(wh: Warehouse, idx: String, ids: Seq[Long]): Long = {
    require(ids.nonEmpty, "remove: empty id list")
    wh.transaction(tables(idx))(removeBody(wh, idx, ids))
  }

  /** [[remove]]'s body without the transaction wrapper — for callers
    * composing the un-index into a WIDER atomic unit
    * ([[Forget.forgetDocs]]); the caller's transaction must declare
    * [[tables]]. */
  private[operators] def removeBody(wh: Warehouse, idx: String,
      ids: Seq[Long]): Long = {
    {
      val doomed = wh.table(s"${idx}_doclen")
        .filter(col("doc_id").isin(ids: _*))
        .localCheckpoint() // bounded by |ids|
      // EVERY requested id is tombstoned — a deletion request must
      // also block the id from re-entering via a later refresh whose
      // source still carries the doc (without this, remove() is
      // silently undone by the next maintenance cycle)
      val spark0 = doomed.sparkSession
      import spark0.implicits._
      wh.append(s"${idx}_gone",
        ids.distinct.toDF("doc_id")
          .join(wh.table(s"${idx}_gone"), Seq("doc_id"), "left_anti"))
      val d = doomed.agg(count(lit(1)), sum("dl")).first()
      val n = d.getLong(0)
      if (n > 0) {
        // df decrements = NEGATIVE segments from the doomed postings,
        // appended before they go — O(removed docs' vocab)
        val dfDec = wh.table(s"${idx}_postings")
          .filter(col("doc_id").isin(ids: _*))
          .groupBy("term")
          .agg((-count(lit(1))).as("df")).localCheckpoint()
        val old = wh.table(s"${idx}_stats").first()
        // the decrement segments are checkpointed (they read the
        // doomed postings), so appending them before the delete needs
        // no snapshot-pinning subtlety
        wh.append(s"${idx}_df", dfDec)
        wh.save(s"${idx}_stats", statsFrame(doomed,
          old.getLong(0) - d.getLong(0), old.getLong(1) - d.getLong(1)))
        wh.delete(s"${idx}_postings", col("doc_id").isin(ids: _*))
        wh.delete(s"${idx}_doclen", col("doc_id").isin(ids: _*))
      }
      n
    }
  }

  /** The three tables a QUERY reads — the unit [[Warehouse
    * .snapshotTables]] pins per serving call, so one query can never
    * score postings from one commit against df/stats from another
    * (the torn read a concurrent [[refresh]] would otherwise allow:
    * all four tables move atomically at commit, but three independent
    * `table()` calls can straddle that commit). */
  private[graft] def servingTables(idx: String): Seq[String] =
    Seq(s"${idx}_postings", s"${idx}_df", s"${idx}_stats")

  /** One pinned read surface over [[servingTables]]: `read(name)` is
    * the version-pinned frame from a single consistent cut. PUBLIC so
    * a serving deployment can amortize the per-call head probes: hold
    * ONE cut across many [[queryOn]]/[[queryBatchOn]] calls (a pinned
    * cut is version-exact and stays valid indefinitely — commits after
    * the cut are invisible to it by design; refresh the cut on your
    * own staleness cadence). The convenience forms ([[query]],
    * [[queryBatch]], [[queryTextBatch]]) take a fresh cut per call.
    *
    * RETENTION: this cut is NOT vacuum-shielded — a `vacuum` whose
    * retention window passes the cut reaps its files, and
    * re-resolution fails loudly ("not retained"). A deployment that
    * holds cuts across maintenance windows wants
    * [[servingSnapshotHeld]]. */
  def servingSnapshot(wh: Warehouse,
      idx: String): String => DataFrame = {
    val snap = wh.snapshotTables(servingTables(idx))
    snap(_)
  }

  /** [[servingSnapshot]] with a VACUUM SHIELD
    * ([[Warehouse.holdSnapshot]]): the cut's member versions are
    * pinned under `holder` until the returned release runs, so
    * retention sweeps keep the cut fully readable however long it is
    * held. ALWAYS release a retired cut (re-holding under the same
    * holder replaces the pins — the refresh cadence's shape). */
  def servingSnapshotHeld(wh: Warehouse, idx: String,
      holder: String): (String => DataFrame, () => Unit) = {
    val (snap, release) = wh.holdSnapshot(servingTables(idx), holder)
    (snap(_), release)
  }

  /** REPRODUCIBLE serving: the index's read surface AS OF a past
    * instant — "what did this index answer yesterday at 14:07?" is a
    * question every served-result incident eventually asks, and the
    * live tables cannot answer it once a refresh lands. The cut is
    * [[Warehouse.snapshotTablesAt]]: per-table time travel VERIFIED
    * whole against every cross-table transaction (a refresh's four
    * commits land milliseconds apart; an instant inside that window
    * refuses loudly rather than scoring post-commit postings against
    * pre-commit stats — a state no live reader ever saw). Pass the
    * result anywhere a `…On` form takes a read surface
    * ([[queryOn]], [[queryBatchOn]]); vacuum retention bounds the
    * reach back. */
  def servingSnapshotAt(wh: Warehouse, idx: String,
      ts: java.time.Instant): String => DataFrame = {
    val snap = wh.snapshotTablesAt(servingTables(idx), ts)
    snap(_)
  }

  /** MAINTENANCE: fold removal tombstones whose doc the CURRENT base
    * `source` no longer carries — the resurrection guard they provided
    * is dead (a refresh from this source cannot re-index the doc), and
    * without folding a year of right-to-be-forgotten traffic makes
    * every refresh's anti-join scan a year of dead ids forever.
    * Tombstones whose doc the source STILL carries survive verbatim
    * (the guard is live: the next refresh would resurrect them).
    * Run it from the same scheduled maintenance that OPTIMIZEs the
    * index. Returns tombstones dropped ([[IndexMaintenance.foldGone]]).
    */
  def foldTombstones(wh: Warehouse, idx: String,
      source: DataFrame): Long =
    IndexMaintenance.foldGone(wh, s"${idx}_gone", "doc_id", source)

  /** Index inventory, answered from the manifest and the 1-row stats
    * table — the ops surface behind `DESCRIBE SEARCH INDEX`: doc and
    * postings cardinalities are per-file row counts the manifest
    * already carries (DV-aware — removals subtract), so no postings
    * file is ever opened. Tombstone count is the [[foldTombstones]]
    * trigger signal; the `*_files` counts (manifest file-list sizes)
    * are [[optimize]]'s — every refresh appends small delta files and
    * df segments, and these numbers growing is the signal the debris
    * pack and the df major fold answer. */
  def describe(wh: Warehouse, idx: String): Seq[(String, String)] = {
    def rows(t: String) =
      wh.countRows(t).map(_.toString).getOrElse("unknown")
    def files(t: String) = wh.describeDetail(t).toMap
      .getOrElse("numFiles", "unknown")
    val st = wh.table(s"${idx}_stats").first()
    Seq(
      "docs" -> st.getLong(0).toString,
      "sum_doc_len" -> st.getLong(1).toString,
      "postings_rows" -> rows(s"${idx}_postings"),
      "postings_files" -> files(s"${idx}_postings"),
      "df_segment_rows" -> rows(s"${idx}_df"),
      "df_segment_files" -> files(s"${idx}_df"),
      "tombstones" -> rows(s"${idx}_gone"))
  }

  /** Read-only index consistency audit — [[AnnIndex.audit]]'s sparse
    * twin. BM25 carries NO trained state: every derived table is an
    * exact function of the postings, so unlike the ANN audit (whose
    * recall is a drift metric, not an invariant) every check here is a
    * hard equality — a failed row means maintenance corrupted the
    * index, full stop. One consistent snapshot cut; every check is a
    * skinny aggregate (terms, ids, counts — no text, no pos arrays
    * beyond their length):
    *
    *  - `tombstones`: postings ∩ gone = ∅ ([[remove]] DV-deletes the
    *    rows and [[refresh]] anti-joins the guard);
    *  - `membership`: postings docs ≡ doclen docs, the denormalized
    *    per-posting `dl` agrees with the membership row, Σtf per doc
    *    equals its dl (every token is in exactly one posting), and
    *    each posting's position array is exactly tf long;
    *  - `stats`: the one-row (n, sum_dl) equals the membership
    *    table's count and sum — the BM25 normalization inputs;
    *  - `df_segments`: each term's folded additive df equals its
    *    actual distinct-document count in the postings.
    *
    * Returns (check, status ok|error, subject, detail), errors first.
    * SQL: `AUDIT SEARCH INDEX idx`. */
  def audit(wh: Warehouse, idx: String): DataFrame = {
    val snap = wh.snapshotTables(tables(idx))
    val read: String => DataFrame = snap(_)
    val spark = read(s"${idx}_postings").sparkSession
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String)]
    def ok(check: String, detail: String): Unit =
      out += ((check, "ok", "", detail))
    def errF(check: String, subject: String, detail: String): Unit =
      out += ((check, "error", subject, detail))
    val postings = read(s"${idx}_postings")
    val doclen = read(s"${idx}_doclen")
    // 1. the tombstone invariant
    val served = postings.select("doc_id").distinct()
      .join(read(s"${idx}_gone"), Seq("doc_id"), "left_semi").count()
    if (served > 0)
      errF("tombstones", "postings",
        s"$served removed docs still hold postings — removed documents " +
          "would be served")
    else ok("tombstones", "no removed doc holds a posting")
    // 2. membership + denormalization, one aggregate over the join
    val perDoc = postings.groupBy("doc_id").agg(
      sum(col("tf")).as("tf_sum"),
      min(col("dl")).as("dl_min"), max(col("dl")).as("dl_max"),
      sum(when(size(col("pos")) =!= col("tf"), 1L).otherwise(0L))
        .as("bad_pos"))
    val j = perDoc.join(doclen.withColumnRenamed("dl", "mdl"),
      Seq("doc_id"), "full_outer")
    // every sum coalesces: an EMPTY index must audit clean, not NPE
    val agg = j.agg(
      coalesce(sum(when(col("mdl").isNull, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("tf_sum").isNull, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("tf_sum").isNotNull && col("mdl").isNotNull &&
        (col("dl_min") =!= col("mdl") || col("dl_max") =!= col("mdl") ||
          col("tf_sum") =!= col("mdl")), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(coalesce(col("bad_pos"), lit(0L))), lit(0L)),
      count(lit(1))).first()
    val (noMember, noPostings, dlBad, posBad) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    if (noMember > 0)
      errF("membership", "doclen",
        s"$noMember docs hold postings but no membership row")
    if (noPostings > 0)
      errF("membership", "postings",
        s"$noPostings membership rows have no postings")
    if (dlBad > 0)
      errF("membership", "dl",
        s"$dlBad docs disagree between their denormalized dl, their " +
          "membership dl, or their Σtf")
    if (posBad > 0)
      errF("membership", "pos",
        s"$posBad postings carry a position array shorter or longer " +
          "than their tf")
    if (noMember + noPostings + dlBad + posBad == 0)
      ok("membership", s"${agg.getLong(4)} docs consistent across " +
        "postings, membership, and positions")
    // 3. the one-row stats
    val st = read(s"${idx}_stats").first()
    val dlAgg = doclen.agg(count(lit(1)),
      coalesce(sum(col("dl")), lit(0L))).first()
    var statsBad = 0
    if (st.getLong(0) != dlAgg.getLong(0)) {
      statsBad += 1
      errF("stats", "n", s"stats records n = ${st.getLong(0)}, " +
        s"membership holds ${dlAgg.getLong(0)} docs")
    }
    if (st.getLong(1) != dlAgg.getLong(1)) {
      statsBad += 1
      errF("stats", "sum_dl", s"stats records sum_dl = ${st.getLong(1)}, " +
        s"membership sums to ${dlAgg.getLong(1)}")
    }
    if (statsBad == 0)
      ok("stats", s"(n = ${st.getLong(0)}, sum_dl = ${st.getLong(1)}) " +
        "matches the membership table")
    // 4. folded df ≡ actual distinct-doc counts (additive segments sum
    // to zero for fully-removed terms — coalesce covers both absences)
    val folded = read(s"${idx}_df").groupBy("term")
      .agg(sum(col("df")).as("fdf"))
    val actual = postings.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("adf"))
    val dfBad = folded.join(actual, Seq("term"), "full_outer")
      .filter(coalesce(col("fdf"), lit(0L)) =!=
        coalesce(col("adf"), lit(0L))).count()
    if (dfBad > 0)
      errF("df_segments", "df",
        s"$dfBad terms' folded df disagree with their actual " +
          "distinct-document counts")
    else ok("df_segments",
      "every term's folded df equals its distinct-document count")
    val sev = Map("error" -> 0, "ok" -> 1)
    out.sortBy(r => (sev(r._2), r._1, r._3)).toSeq
      .toDF("check", "status", "subject", "detail")
  }

  /** MAINTENANCE — this index's OPTIMIZE, run from the same scheduled
    * job that compacts the base tables. Three independent, each
    * individually atomic steps, none of which changes any query's
    * answer:
    *
    *   1. df MAJOR FOLD (the LSM compaction the segment design
    *      defers): [[refresh]] appends one additive segment row per
    *      delta term and [[remove]] appends negative ones, so
    *      `<idx>_df` grows by O(delta vocab) per maintenance event
    *      FOREVER without this; the fold rewrites it to ONE row per
    *      live term (net df > 0), range-split + term-clustered +
    *      bloomed exactly like [[build]]'s layout. A query sums its
    *      terms' segments either way — the fold's input and output
    *      sum identically per term — so scores are unchanged
    *      (spec-asserted bit-for-bit, and hash-checked cross-engine
    *      in the b17 lane). Skipped when already folded: equal
    *      row counts imply every term has exactly one (positive)
    *      segment — a lone negative segment cannot exist, remove only
    *      appends negatives where positives already do.
    *   2. POSTINGS/DOCLEN DEBRIS PACK: every refresh appends its
    *      delta as new small files; [[Warehouse.compactSmall]]
    *      bin-packs only files under `minFileRows` live rows into
    *      ~`targetRows`-row outputs and re-establishes the term
    *      clustering + bloom sketches inside each rewritten file —
    *      O(debris bytes), a pure function of the accumulated deltas,
    *      never of the index; sealed files stay byte-identical.
    *   3. TOMBSTONE FOLD (when `source` is given): [[foldTombstones]]
    *      against the current base corpus.
    *
    * Crash safety between steps: each commits through its own
    * manifest swap, and the index answers every query identically
    * after any prefix of the three — there is no cross-step
    * invariant, which is why this is NOT one transaction (and why a
    * scheduler can safely re-run it; every step is idempotent).
    * Trigger signals: [[describe]]'s `*_files`, `df_segment_rows` vs
    * live vocab, and `tombstones`. Returns per-step counters. */
  def optimize(wh: Warehouse, idx: String, nFiles: Int = 8,
      targetRows: Long = 1L << 20, minFileRows: Long = 1L << 16,
      source: Option[DataFrame] = None): Seq[(String, Long)] = {
    val dfT = s"${idx}_df"
    def dfFiles(): Int = wh.describeDetail(dfT).toMap
      .get("numFiles").flatMap(_.toIntOption).getOrElse(0)
    // the WHOLE read-fold-overwrite runs inside one transaction over
    // the df table (the [[IndexMaintenance.foldGone]] discipline): its
    // table lock serializes against a concurrent refresh/remove (whose
    // transactions declare the same table), so a segment committed
    // between the fold's read and its overwrite can never be erased —
    // a lost NEGATIVE segment would leave a removed doc's terms with
    // inflated df forever, silently. The rewrite fires when segments
    // fold OR when debris files accumulated beyond the fold layout
    // (single-segment-per-term refreshes — disjoint-vocab batches —
    // add files without adding foldable segments); either way the
    // output is the build's range-split term-clustered layout, never
    // a hash-mixed pack, and an already-folded already-packed table
    // is rewritten by NEITHER trigger (idempotence, spec-pinned).
    val (segsBefore, segsAfter, dfPacked) = wh.transaction(Seq(dfT)) {
      val before = wh.countRows(dfT).getOrElse(wh.table(dfT).count())
      val filesBefore = dfFiles()
      val folded = wh.table(dfT)
        .groupBy("term").agg(sum(col("df")).as("df"))
        .filter(col("df") > 0)
        .localCheckpoint() // pinned: the save replaces its own input
      try {
        val n = folded.count()
        if (n < before || filesBefore > nFiles)
          wh.save(dfT, folded.repartitionByRange(nFiles, col("term")),
            clusterBy = Seq("term"), bloomBy = Seq("term"))
        (before, n, math.max(0, filesBefore - dfFiles()))
      } finally { folded.unpersist(); () }
    }
    val post = wh.compactSmall(s"${idx}_postings", targetRows, minFileRows)
    val dlen = wh.compactSmall(s"${idx}_doclen", targetRows, minFileRows)
    val goneDropped = source.map(foldTombstones(wh, idx, _)).getOrElse(0L)
    Seq(
      "df_segments_folded" -> (segsBefore - segsAfter),
      "df_files_compacted" -> dfPacked.toLong,
      "postings_files_compacted" -> post.filesCompacted.toLong,
      "doclen_files_compacted" -> dlen.filesCompacted.toLong,
      "tombstones_dropped" -> goneDropped)
  }

  /** BM25 top-k over the STORED index: `term IN (…)` file-skips the
    * postings scan (term-range stats + bloom admission), the ≤|terms|
    * df rows and the 1-row stats collect as literals, per-doc term
    * scores pivot into FIXED-ORDER columns, and
    * [[TextAnalysis.bm25ScoreExpr]] reproduces t18's arithmetic
    * bit-for-bit. One shuffle (the per-doc pivot over matched postings
    * only); documents matching no term score 0 and are absent.
    *
    * SNAPSHOT-CONSISTENT: the postings/df/stats reads are pinned to
    * one version cut ([[servingSnapshot]]) — a refresh committing
    * mid-query can never mix its postings with the pre-commit stats. */
  def query(wh: Warehouse, idx: String, terms: Seq[String],
      k: Int, docFilter: Option[DataFrame] = None): DataFrame =
    queryOn(servingSnapshot(wh, idx), idx, terms, k, docFilter)

  /** [[query]] against an externally-pinned read surface — the seam
    * [[AnnIndex.hybridQuery]] uses to put BOTH indexes' tables under
    * ONE snapshot cut, and the amortization path for a serving
    * deployment holding one [[servingSnapshot]] across many calls.
    * The plan for ONE query — SQL `SEARCH INDEX` serves through it:
    * one per-doc pivot shuffle and an `orderBy(…).limit(k)` that
    * plans as a TakeOrderedAndProject; [[queryBatchOn]] is for N
    * queries at once. */
  def queryOn(read: String => DataFrame, idx: String,
      terms: Seq[String], k: Int,
      docFilter: Option[DataFrame] = None): DataFrame = {
    // segment sum per query term: ≤|terms| distinct terms' rows read
    // (term-pruned like the postings), summed here — a term whose
    // segments net to ≤0 no longer exists. The 1-row stats table
    // rides the SAME job (r17: stats first() + df collect were two
    // sequential driver round-trips; a right-outer join against the
    // always-one-row stats ships both in one scheduling round — the
    // stats row survives even when no query term is indexed)
    val stDfs = read(s"${idx}_df")
      .filter(col("term").isin(terms: _*))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
      .join(read(s"${idx}_stats"), lit(true), "right_outer")
      .collect()
    val st = org.apache.spark.sql.Row(
      stDfs.head.getAs[Long]("n"), stDfs.head.getAs[Long]("sum_dl"))
    val dfs = stDfs.filter(_.getAs[String]("term") != null)
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    // docFilter (filtered search, the AnnIndex.query(filter=…) twin):
    // a (doc_id, …) allowlist frame semi-joined onto the matched
    // postings BEFORE scoring, so the k results all satisfy it —
    // post-filtering would under-fill k under any selective predicate.
    // Corpus statistics stay GLOBAL (df/N describe the corpus, not the
    // slice — the standard filtered-search semantics: same scores,
    // restricted candidates).
    val base = read(s"${idx}_postings")
      .filter(col("term").isin(terms: _*))
    val matched = docFilter match {
      case None => base
      case Some(allow) =>
        base.join(allow.select("doc_id"), Seq("doc_id"), "left_semi")
    }
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf$i")
    }
    // corpus stats and per-term df as literals in ONE projection (a
    // withColumn chain re-analyzes the plan once per column)
    val statCols = lit(st.getLong(0)).as("n") +:
      lit(st.getLong(1)).as("sum_dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        lit(dfs.getOrElse(t, 0L)).as(s"df$i")
      }
    matched.groupBy("doc_id", "dl")
      .agg(tfCols.head, tfCols.tail: _*)
      .select(col("*") +: statCols: _*)
      .select(col("doc_id"), col("dl"),
        round(TextAnalysis.bm25ScoreExpr(terms.size), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** [[query]] for N queries in ONE distributed pass — the sparse twin
    * of [[AnnIndex.queryBatch]]: a retrieval service answering per
    * query pays |queries| driver-scheduled jobs and |queries| postings
    * reads through the loop; this batches the whole set. For a single
    * query the fold, salted windows and range sort below cost about
    * twice [[queryOn]]'s Spark jobs for the same answer — use
    * [[query]]/[[queryOn]] there. ONE
    * term-pruned postings scan over the UNION of every query's terms,
    * the per-(query, term) df literals broadcast, per-term BM25
    * contributions summed per (query, doc) in TERM-INDEX ORDER (an
    * array_sort + sequential fold — the identical IEEE addition order
    * to [[TextAnalysis.bm25ScoreExpr]]'s fixed-column reduce, so
    * per-query scores are bit-equal to [[query]]'s; absent terms
    * contribute exactly 0.0, which is additively inert here because
    * every BM25 term contribution is ≥ 0), then a two-level salted
    * top-k per query under (score desc, doc_id) — no single task
    * sorts a full query's candidate set. `docFilter` applies to the
    * whole batch (the allowlist semantics of [[query]]).
    * Snapshot-consistent like [[query]] (one pinned cut over
    * postings/df/stats). Returns (query_id, doc_id, dl, score), k
    * rows per query. */
  def queryBatch(wh: Warehouse, idx: String,
      queries: Seq[(Long, Seq[String])], k: Int,
      docFilter: Option[DataFrame] = None,
      saltParts: Int = 32): DataFrame =
    queryBatchOn(servingSnapshot(wh, idx), wh.spark, idx, queries, k,
      docFilter, saltParts)

  /** [[queryBatch]] for RAW QUERY STRINGS — the retrieval-service
    * front door: a live query arrives as text, not as a pre-tokenized
    * term list, and it must go through the SAME tokenizer the index
    * was built with ([[TextAnalysis.tokens]] over lowercased text —
    * [[analyzed]]'s exact expression) or scoring silently diverges on
    * any text the two tokenizations split differently. The
    * tokenization runs the shared Column expression over a
    * |queries|-row LOCAL frame (a LocalRelation — no corpus table is
    * touched to derive the terms; [[tokenizeQueries]]); a query whose
    * text tokenizes to nothing refuses loudly like the term form. */
  def queryTextBatch(wh: Warehouse, idx: String,
      queries: Seq[(Long, String)], k: Int,
      docFilter: Option[DataFrame] = None,
      saltParts: Int = 32): DataFrame =
    queryBatch(wh, idx, tokenizeQueries(wh.spark, queries), k,
      docFilter, saltParts)

  /** (query_id, tokens) for raw query strings through the INDEX's own
    * tokenizer — the identical `tokens(lower(text))` Column [[analyzed]]
    * indexes documents with, evaluated over a bounded LOCAL frame
    * (plan-asserted scan-free in TextIndexSpec). */
  private[graft] def tokenizeQueries(
      spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, String)]): Seq[(Long, Seq[String])] = {
    require(queries.nonEmpty, "queryTextBatch: empty query list")
    import spark.implicits._
    val byId = tokenizedFrame(spark, queries)
      .as[(Long, Seq[String])].collect().toMap
    queries.map { case (qid, _) =>
      val ts = byId(qid)
      // a blank query splits to [""] — no real term; refuse loudly
      // like the term form (it would silently return nothing)
      require(ts.exists(_.nonEmpty),
        s"queryTextBatch: query $qid tokenizes to no terms (it would " +
          "silently return nothing; the term form refuses it too)")
      (qid, ts)
    }
  }

  /** The tokenization plan itself, exposed for the scan-free plan
    * assertion: a LocalRelation projection, never a table read. */
  private[graft] def tokenizedFrame(
      spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        TextAnalysis.tokens(lower(col("qtext"))).as("ts"))
  }

  /** [[queryBatch]] against an externally-pinned read surface (the
    * [[AnnIndex.hybridQueryBatch]] seam — both indexes under ONE
    * snapshot cut; also the [[servingSnapshot]] amortization path),
    * RANK-KEEPING form: returns (query_id, doc_id, dl, score, r) with
    * `r` the per-query 1-based rank under (score desc, doc_id), rows
    * unsorted. [[queryBatchOn]] wraps it into the public contract. */
  private[operators] def queryBatchRankedOn(read: String => DataFrame,
      spark: org.apache.spark.sql.SparkSession, idx: String,
      queries: Seq[(Long, Seq[String])], k: Int,
      docFilter: Option[DataFrame] = None,
      saltParts: Int = 32): DataFrame = {
    require(queries.nonEmpty, "queryBatch: empty query list")
    require(queries.map(_._1).distinct.size == queries.size,
      "queryBatch: duplicate query_id")
    require(queries.forall(_._2.nonEmpty),
      "queryBatch: a query with no terms (it would silently return " +
        "nothing; the single-query form refuses it too)")
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    // one job ships the per-term df sums AND the 1-row stats (the
    // right-outer trick queryOn uses — r17, one scheduling round
    // instead of two)
    val stDfs = read(s"${idx}_df")
      .filter(col("term").isin(allTerms: _*))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
      .join(read(s"${idx}_stats"), lit(true), "right_outer")
      .collect()
    val st = org.apache.spark.sql.Row(
      stDfs.head.getAs[Long]("n"), stDfs.head.getAs[Long]("sum_dl"))
    val dfs = stDfs.filter(_.getAs[String]("term") != null)
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    // (query_id, term-index, term, df) — broadcast; ti preserves each
    // query's term order so the score fold adds in query()'s order
    val qterms = queries.flatMap { case (qid, terms) =>
      terms.zipWithIndex.map { case (t, i) =>
        (qid, i, t, dfs.getOrElse(t, 0L))
      }
    }.toDF("query_id", "ti", "term", "df")
    val base = read(s"${idx}_postings")
      .filter(col("term").isin(allTerms: _*))
    val matched = docFilter match {
      case None => base
      case Some(allow) =>
        base.join(allow.select("doc_id"), Seq("doc_id"), "left_semi")
    }
    // LSM segments: a (term, doc) may span several postings rows —
    // fold tf first (long addition, order-free), like query()'s pivot
    val tfAgg = matched.groupBy("term", "doc_id", "dl")
      .agg(sum(col("tf")).as("tf"))
    // the per-term contribution — bm25ScoreExpr's termScore verbatim,
    // with df a broadcast column instead of a pivoted literal
    val avgdl = lit(st.getLong(1)).cast("double") / lit(st.getLong(0))
    val lenNorm = lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl))
    val contrib = tfAgg.join(broadcast(qterms), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("dl"), col("ti"),
        (log((lit(2) * lit(st.getLong(0)) + 2).cast("double") /
          (lit(2) * col("df") + 1)) *
          ((col("tf") * lit(2.2)) / (col("tf") + lenNorm))).as("c"))
    val scored = contrib.groupBy("query_id", "doc_id", "dl")
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("ti"), col("c")))),
        lit(0.0), (acc, x) => acc + x.getField("c")), 6).as("score"))
    import org.apache.spark.sql.expressions.Window
    val lvl1 = Window
      .partitionBy(col("query_id"), pmod(xxhash64(col("doc_id")),
        lit(saltParts)))
      .orderBy(col("score").desc, col("doc_id").asc)
    val lvl2 = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("r1", row_number().over(lvl1)).filter(col("r1") <= k)
      .withColumn("r", row_number().over(lvl2)).filter(col("r") <= k)
      .select("query_id", "doc_id", "dl", "score", "r")
  }

  /** [[queryBatchRankedOn]] in the public output contract: rank
    * column dropped, rows presentation-ordered. The hybrid fusion
    * paths consume the ranked form directly — its `r` IS the sparse
    * rank the fusion would otherwise recompute (row_number over the
    * same (query_id | score desc, doc_id) window on the same ≤k rows
    * — the level-2 cut's own ordering), and skipping this final sort
    * leaves the frame hash-partitioned by query_id (r18). */
  def queryBatchOn(read: String => DataFrame,
      spark: org.apache.spark.sql.SparkSession, idx: String,
      queries: Seq[(Long, Seq[String])], k: Int,
      docFilter: Option[DataFrame] = None,
      saltParts: Int = 32): DataFrame =
    queryBatchRankedOn(read, spark, idx, queries, k, docFilter, saltParts)
      .select("query_id", "doc_id", "dl", "score")
      .orderBy(col("query_id").asc, col("score").desc, col("doc_id").asc)

  /** PHRASE search over the stored positional index — per doc, how
    * many times the exact token sequence occurs. The classic postings
    * intersection: pull each phrase term's position list for the
    * candidate docs (`term IN (…)` file-skips like BM25's read), shift
    * term i's positions left by i, and the occurrences are the
    * intersection of the shifted lists — all array arithmetic in one
    * per-doc fold, no text read, no re-tokenize. Duplicate phrase
    * terms work (the same list intersects its own shift: "table
    * table" = positions p with p+1 also present). Returns
    * (doc_id, phrase_cnt > 0), matching [[TextAnalysis.phraseCounts]]
    * row-for-row — the spec asserts index ≡ scan. */
  def phraseQuery(wh: Warehouse, idx: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseQuery: empty phrase")
    val matched = wh.table(s"${idx}_postings")
      .filter(col("term").isin(phrase.distinct: _*))
    // one row per (doc, distinct term): pin each term's position list
    // into a fixed column; a doc missing ANY phrase term drops (the
    // inner-join semantics of phrase match)
    val lists = phrase.distinct.zipWithIndex.map { case (t, i) =>
      first(when(col("term") === t, col("pos")), ignoreNulls = true)
        .as(s"__p$i")
    }
    val byDoc = matched.groupBy("doc_id").agg(lists.head, lists.tail: _*)
      .filter(phrase.distinct.indices
        .map(i => col(s"__p$i").isNotNull).reduce(_ && _))
    val slot = phrase.distinct.zipWithIndex.toMap
    val shifted = phrase.zipWithIndex.map { case (t, i) =>
      if (i == 0) col(s"__p${slot(t)}")
      else transform(col(s"__p${slot(t)}"), x => x - i)
    }
    byDoc
      .select(col("doc_id"),
        size(shifted.reduce(array_intersect)).cast("long")
          .as("phrase_cnt"))
      .filter(col("phrase_cnt") > 0)
      .orderBy("doc_id")
  }

  /** PROXIMITY search (`a NEAR/w b`) over the stored positional
    * index — the [[phraseQuery]] machinery with a windowed existence
    * test instead of exact adjacency: pull both terms' position
    * lists per candidate doc (term-pruned read), count `a` positions
    * with a distinct `b` position within `w`. Matches
    * [[TextAnalysis.nearCounts]] row-for-row. */
  def nearQuery(wh: Warehouse, idx: String, a: String, b: String,
      w: Int): DataFrame = {
    val matched = wh.table(s"${idx}_postings")
      .filter(col("term").isin(Seq(a, b).distinct: _*))
    val lists = Seq(a, b).distinct.zipWithIndex.map { case (t, i) =>
      first(when(col("term") === t, col("pos")), ignoreNulls = true)
        .as(s"__p$i")
    }
    val byDoc = matched.groupBy("doc_id").agg(lists.head, lists.tail: _*)
      .filter(Seq(a, b).distinct.indices
        .map(i => col(s"__p$i").isNotNull).reduce(_ && _))
    val slot = Seq(a, b).distinct.zipWithIndex.toMap
    val pa = col(s"__p${slot(a)}"); val pb = col(s"__p${slot(b)}")
    byDoc
      .select(col("doc_id"),
        size(filter(pa, i => exists(pb, j =>
          j =!= i && abs(j - i) <= w))).cast("long").as("near_cnt"))
      .filter(col("near_cnt") > 0)
      .orderBy("doc_id")
  }
}
