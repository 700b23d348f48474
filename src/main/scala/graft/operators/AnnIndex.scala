package graft.operators

import graft.functions.VectorFunctions
import graft.olist.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Warehouse-maintained IVF-PQ index — the piece that turns e13's
  * one-shot query into infrastructure a 100 TB corpus can actually
  * operate: train ONCE on a bounded sample, persist the codebooks and
  * the encoded corpus as ordinary warehouse tables, then keep the index
  * current by encoding ONLY appended vectors with the STORED codebooks.
  * Without this, every query (or every ingest batch) re-trains Lloyd
  * and re-encodes the whole corpus — O(corpus) work to serve one probe.
  * With it:
  *
  *   - `build`   one sample-bounded training + ONE full encode pass,
  *               amortized over the index's lifetime;
  *   - `refresh` anti-join finds the un-encoded delta, one projection
  *               pass encodes it, `append` commits it — O(delta);
  *   - `query`   reads ONLY the probed cells' files: the codes table is
  *               PARTITIONED BY cell, so the `cell IN (…)` probe prunes
  *               at the manifest before any I/O, then ADC-ranks 8-byte
  *               codes and exact-re-ranks ≤ overquery·topK vectors.
  *
  * The codebook is deliberately FROZEN at build time: incremental
  * encode with a stored codebook is exactly what FAISS/Milvus et al.
  * do (and the spec's invariant — incremental ≡ batch encode under the
  * same codebook — depends on it). Distribution drift degrades recall,
  * never correctness (the exact re-rank stays exact); the remedy is a
  * rebuild, which is still one sample + one pass.
  *
  * Table layout for index `idx`:
  *   `<idx>_coarse`   (sub=0, cid, c: array<double>, radius) nCells
  *                    rows — `radius` is each cell's max L2 distance
  *                    from its centroid over the UNIT members it has
  *                    ever held (an upper bound that build/retrain set
  *                    exactly, refresh only GROWS, and remove never
  *                    shrinks — conservative, so the exact-search
  *                    bound below stays sound through any history)
  *   `<idx>_codebook` (sub, cid, c: array<double>)     m·k rows
  *   `<idx>_codes`    (vec_id, cell, codes[, vec]) partitioned by
  *                    cell — `vec` (the raw source embedding,
  *                    verbatim) only when built with
  *                    `storeVectors = true`: the IVF-flat trade that
  *                    lets EXACT search read raw vectors cell-pruned
  *                    instead of re-scanning the source (the ranking
  *                    scan still reads only the one-byte codes —
  *                    column pruning keeps the fat column unread
  *                    there)
  *   `<idx>_meta`     (n_cells, m, k) — the index's geometry (the
  *                    [[DedupIndex]] `_meta` precedent): retrain /
  *                    maintain / any scheduled job reads the shape
  *                    FROM the index, never from caller defaults, so
  *                    an index built with non-default geometry can
  *                    never be silently re-shaped to 8/8/16 by a
  *                    maintenance run. Explicit params that disagree
  *                    with the stored geometry refuse loudly on
  *                    [[retrain]]; DELIBERATE re-shaping is
  *                    [[retrainAs]] — retrain is already a full
  *                    re-encode, the one moment a geometry change is
  *                    free — which commits the new shape atomically
  *                    with the new coarse/codebook/codes.
  */
object AnnIndex {

  import Similarity.{codesCol, cellCol, collectCents, l2sq, l2Normalized,
    trainingSample, defaultSampleN, pqTrain}

  /** The serving defaults, as NAMED constants: every probe signature
    * below defaults to these, and the SQL surface (`DESCRIBE VECTOR
    * INDEX … RECALL`) echoes the SAME values it passed — one source of
    * truth, so the reported parameters are always the measured ones. */
  val DefaultTopK = 10
  val DefaultOverquery = 5
  val DefaultNProbe = 3

  /** Encode cell + codes for `unit` (L2-normalized vectors) in one
    * shuffle-free projection pass against stored codebooks. `dim`
    * comes from the caller (corpus at build, CODEBOOK at refresh — so
    * an empty delta never needs a row to infer the width from). */
  private def encode(unit: DataFrame, coarse: DataFrame,
      codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    unit.select(col("vec_id"),
      cellCol(collectCents(coarse), dim).as("cell"),
      codesCol(collectCents(codebook), m, dim).as("codes"))
  }

  /** Per-cell radius: each cell's max L2 distance from its centroid
    * over the UNIT vectors assigned to it — the exact-search bound's
    * input (`codes` supplies the assignment, `unit` the vectors, the
    * broadcast centroids the reference point). One groupBy over the
    * encoded rows; at refresh it runs over the DELTA only. */
  private def cellRadii(unit: DataFrame, codes: DataFrame,
      coarse: DataFrame): DataFrame =
    codes.select("vec_id", "cell")
      .join(unit, "vec_id")
      .join(broadcast(coarse.select(col("cid").as("cell"), col("c"))),
        "cell")
      .groupBy("cell")
      .agg(max(sqrt(l2sq(col("embedding"), col("c")))).as("radius"))

  /** Attach the RAW source embedding (column `vec`, verbatim — the
    * exact re-rank's arithmetic must be bit-identical whether the
    * vector comes from the stored column or a source join) to encoded
    * rows, when the index stores vectors. The join is delta-sized at
    * refresh, corpus-sized at build — both one pass. */
  private def withStoredVec(enc: DataFrame, source: DataFrame,
      store: Boolean): DataFrame =
    if (!store) enc
    else enc.join(
      source.dropDuplicates("vec_id")
        .select(col("vec_id"), col("embedding").as("vec")),
      "vec_id")

  /** Whether `idx` stores raw member vectors ([[build]]'s
    * `storeVectors`) — declared by the codes table itself, so legacy
    * indexes and refresh/retrain derive it with no meta migration. */
  def storesVectors(wh: Warehouse, idx: String): Boolean =
    wh.table(s"${idx}_codes").columns.contains("vec")

  /** The coarse table's persisted shape: centroids + per-cell radius
    * (0.0 for a cell with no members yet). */
  private def coarseWithRadii(coarse: DataFrame,
      radii: DataFrame): DataFrame =
    coarse.select("sub", "cid", "c")
      .join(radii.withColumnRenamed("cell", "cid"), Seq("cid"), "left")
      .select(col("sub"), col("cid"), col("c"),
        coalesce(col("radius"), lit(0.0)).as("radius"))

  /** Train both quantizers on one bounded deterministic sample of
    * `source` (vec_id, embedding), encode the corpus once, and persist
    * all index tables. Returns the number of vectors indexed.
    *
    * `storeVectors = true` additionally stores each member's RAW
    * source embedding in the codes table (column `vec`) — the
    * IVF-flat trade: rows grow by dim floats (the 32× PQ compression
    * is kept for the RANKING scan; the raw column is only read by the
    * exact re-rank), and in exchange EXACT search reads raw vectors
    * CELL-PRUNED from the probed partitions instead of re-scanning
    * the source corpus per query — at 100 TB that is the difference
    * between O(probed cells) and O(corpus) I/O for every exact query.
    * The column rides the codes rows through every lifecycle op
    * (refresh append, remove's DV delete, OPTIMIZE's pack, retrainAs)
    * for free — one table, no new maintenance surface. */
  def build(wh: Warehouse, idx: String, source: DataFrame,
      nCells: Int = 8, m: Int = 8, k: Int = 16,
      storeVectors: Boolean = false): Long = {
    require(!source.isEmpty,
      "build: empty source — the codebooks train on data; bootstrap an " +
        "ANN index from its first real batch, not from nothing")
    requireGeometry(idx, nCells, m, k)
    // within-batch dedup (refresh's contract): a duplicated vec_id
    // would store duplicate code rows and surface twice in a top-k
    val unit = l2Normalized(source.dropDuplicates("vec_id"))
    val sample = trainingSample(unit,
      math.max(defaultSampleN(1, nCells), defaultSampleN(m, k)))
    val coarse = pqTrain(sample, m = 1, k = nCells, iters = 3)
      .localCheckpoint()
    val codebook = pqTrain(sample, m = m, k = k, iters = 6)
      .localCheckpoint()
    // codebook/coarse are GEOMETRY-bounded (m·k codebook rows, nCells
    // coarse rows — independent of corpus size), but inherit the
    // training computation's partitioning: saved as-is they spread a
    // few hundred rows over ~2 dozen tiny files, and every serving
    // probe's merged codebook∪ranking collect then schedules that many
    // near-empty tasks (r18, guide §6.2/§5). One file each makes the
    // bounded collect a couple of tasks at ANY corpus scale; rows are
    // byte-identical.
    wh.save(s"${idx}_codebook", codebook.coalesce(1))
    val codes = withStoredVec(
      encode(unit, coarse, codebook, m, dimOf(unit)),
      source, storeVectors)
    wh.save(s"${idx}_codes", codes, partitionBy = Seq("cell"))
    // per-cell radii off the stored codes (one bounded agg pass —
    // build-time priced), persisted ON the coarse table so every
    // serving cut pins centroids and bounds together
    wh.save(s"${idx}_coarse", coarseWithRadii(coarse,
      cellRadii(unit, wh.table(s"${idx}_codes"), coarse)).coalesce(1))
    // right-to-be-forgotten tombstones: ids remove()d stay out even
    // when later refresh sources still carry them
    wh.save(s"${idx}_gone", source.select("vec_id").limit(0))
    // record the geometry: every later retrain reads it from here
    val spark0 = source.sparkSession
    import spark0.implicits._
    wh.save(s"${idx}_meta",
      Seq((nCells, m, k)).toDF("n_cells", "m", "k"))
    wh.countRows(s"${idx}_codes")
      .getOrElse(wh.table(s"${idx}_codes").count())
  }

  /** Geometry bounds shared by [[build]] and [[retrainAs]]. The PQ
    * codebook size `k` caps at 127 (codes are stored as one-byte
    * arrays — the 32× compression a 100 TB corpus scans). The CELL
    * count does NOT share that cap ([[Similarity.cellCol]] assigns an
    * INT — beyond 127 cells the centroid table travels as one literal
    * value, still a shuffle-free projection): the √N rule puts a
    * 1 B-vector corpus at tens of thousands of cells, and freezing
    * nCells at a byte would make every cell corpus-proportional. The
    * 65 536 bound keeps the per-query cell ranking driver-sortable:
    * every serving path computes centroid distances IN SPARK (the
    * l2sq column) and collects only per-cell SCALARS — (cid, d2) for
    * the probes, (cid, bound) for exact search — so the driver cost
    * is nCells × ~16 B per query regardless of embedding dimension
    * (65 536 cells ≈ 1 MB); the centroid VECTORS reach the driver
    * only on the write path (encode literals). */
  private def requireGeometry(idx: String, nCells: Int, m: Int,
      k: Int): Unit = {
    require(nCells >= 1 && nCells <= 65536,
      s"$idx: nCells must be in [1, 65536] (the coarse table is " +
        s"driver-collected at probe time), got $nCells")
    require(m >= 1, s"$idx: m must be >= 1, got $m")
    require(k >= 1 && k <= 127,
      s"$idx: k must be in [1, 127] (codes are one byte), got $k")
  }

  /** The index's frozen (nCells, m, k), read from `<idx>_meta`; a
    * pre-meta index (built before the geometry freeze) derives the
    * same three numbers from the stored codebooks — the shape is fully
    * determined by what build wrote, never by caller defaults. */
  def geometry(wh: Warehouse, idx: String): (Int, Int, Int) =
    if (wh.hasTable(s"${idx}_meta")) {
      val r = wh.table(s"${idx}_meta").select("n_cells", "m", "k").first()
      (r.getInt(0), r.getInt(1), r.getInt(2))
    } else {
      val nCells = wh.table(s"${idx}_coarse").count().toInt
      val km = wh.table(s"${idx}_codebook")
        .agg(max(col("sub")), countDistinct(col("cid"))).first()
      (nCells, km.getInt(0) + 1, km.getLong(1).toInt)
    }

  private def dimOf(unit: DataFrame): Int =
    unit.select(size(col("embedding"))).first().getInt(0)

  /** Bring the index up to date with `source`: vectors whose ids are
    * not yet in the codes table are encoded with the STORED codebooks
    * (no retraining — codebooks are two bounded reads) and appended.
    * The delta discovery is one anti-join on ids — the codes side
    * reads only its vec_id column — and the encode touches only delta
    * rows. Returns how many vectors were added.
    *
    * Single-maintainer contract (the warehouse's single-writer rule,
    * one level up): two refreshers racing on the same index would each
    * anti-join the same snapshot, encode the same delta, and both
    * append it — duplicate code rows. One maintainer per index; a
    * streaming deployment gets this for free from [[streamRefresh]]'s
    * serialized micro-batches. */
  def refresh(wh: Warehouse, idx: String, source: DataFrame): Long = {
    val have = wh.table(s"${idx}_codes").select("vec_id")
    // dedup WITHIN the batch too: the anti-join only screens against
    // committed ids, so a producer retry landing the same vec_id twice
    // in one batch would otherwise append two code rows (ids are
    // immutable content here — duplicates are replays, never updates).
    // Tombstoned ids stay out: a remove() must not be silently undone
    // by the next refresh whose source still carries the vector.
    val delta = source.join(have, Seq("vec_id"), "left_anti")
      .join(wh.table(s"${idx}_gone"), Seq("vec_id"), "left_anti")
      .dropDuplicates("vec_id")
    if (delta.isEmpty) 0L
    else {
      val codebook = wh.table(s"${idx}_codebook")
      val (m, dsub) = {
        val r = codebook.agg(max(col("sub")), max(size(col("c")))).first()
        (r.getInt(0) + 1, r.getInt(1))
      }
      val before = wh.countRows(s"${idx}_codes").getOrElse(0L)
      val coarse = wh.table(s"${idx}_coarse")
      val unit = l2Normalized(delta)
      // the encode feeds BOTH the append and the radius growth — pin
      // it once (delta-sized) instead of projecting twice
      val enc = encode(unit, coarse, codebook, m, m * dsub)
        .localCheckpoint()
      try {
        // radius FIRST, codes second — the crash-safe order: a grown
        // radius without its vectors is merely conservative (the exact
        // probe reads a few extra cells), while landed vectors beyond
        // a stale radius would let the exact bound prune a cell that
        // holds a closer match — a silent wrong answer. Both commits
        // ride ONE marker inside [[Ingest.ingestBatch]]'s transaction;
        // standalone refreshes get the safe order instead.
        // A pre-radius index (legacy coarse without the column) skips
        // the update — exact mode refuses there until a retrain.
        if (coarse.columns.contains("radius")) {
          val grown = cellRadii(unit, enc, coarse)
            .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
          val stored = coarse.select("cid", "radius").collect()
            .map(r => r.getInt(0) -> r.getDouble(1)).toMap
          if (grown.exists { case (c0, r0) =>
              r0 > stored.getOrElse(c0, 0.0) }) {
            // ONE literal map value (not 2·|cells| expression nodes):
            // a wide delta can touch every cell, and the lifted cell
            // cap (65 536) would make a per-entry literal tree
            // uncompilable
            val rlit = typedLit(grown)
            wh.save(s"${idx}_coarse",
              coarse.select(col("sub"), col("cid"), col("c"),
                greatest(col("radius"),
                  coalesce(element_at(rlit, col("cid")), lit(0.0)))
                  .as("radius")))
          }
        }
        // a vector-storing index keeps its raw column through refresh
        // (delta-sized join; the appended schema matches the stored one)
        wh.append(s"${idx}_codes",
          withStoredVec(enc, delta, storesVectors(wh, idx)))
        wh.countRows(s"${idx}_codes").getOrElse(before) - before
      } finally { enc.unpersist(); () }
    }
  }

  /** Continuous index maintenance: drive a stream of (vec_id,
    * embedding, …) rows into [[refresh]] per micro-batch — the
    * embedding-ingest shape (new documents embed upstream, their
    * vectors land here, the index stays queryable throughout).
    * Exactly-once WITHOUT a batch-id high-water mark: foreachBatch is
    * at-least-once, but refresh's anti-join makes re-encoding a
    * replayed batch a NO-OP (its ids are already in the codes table) —
    * idempotence by construction, so the at-least-once sink composes
    * to exactly-once index CONTENT. The codebook stays frozen; drift
    * is a rebuild decision, not an ingest-path one. */
  def streamRefresh(wh: Warehouse, idx: String, stream: DataFrame,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          refresh(wh, idx, batch.toDF()); ()
      }
      .start()

  /** Un-index vectors (the right-to-be-forgotten lane): DV-deletes
    * their code rows — point deletes take the deletion-vector path, so
    * untouched files stay byte-identical and the removed ids vanish
    * from every subsequent probe immediately. The codebook is
    * unaffected (it was trained on a sample and carries no per-vector
    * state); cells keep serving. `ids` is a bounded explicit list (the
    * deletion-request queue). Returns rows removed. */
  def remove(wh: Warehouse, idx: String, ids: Seq[Long]): Long = {
    require(ids.nonEmpty, "remove: empty id list")
    wh.transaction(tables(idx))(removeBody(wh, idx, ids))
  }

  /** The index's backing tables moved by maintenance/refresh ops (see
    * [[TextIndex.tables]]): codes + tombstones, plus coarse — whose
    * radius column [[refresh]] grows when a delta extends a cell — so
    * a transaction composing a refresh declares everything it may
    * commit. The codebook is frozen state and never moves outside
    * retrain. */
  private[operators] def tables(idx: String): Seq[String] =
    Seq(s"${idx}_codes", s"${idx}_gone", s"${idx}_coarse")

  /** The three tables a PROBE reads — the unit [[Warehouse
    * .snapshotTables]] pins per serving call, so one query can never
    * ADC-rank codes from one commit through a codebook from another
    * ([[retrain]] swaps all three atomically; three independent
    * `table()` reads could straddle that swap). */
  private[graft] def servingTables(idx: String): Seq[String] =
    Seq(s"${idx}_coarse", s"${idx}_codebook", s"${idx}_codes")

  /** One pinned read surface over [[servingTables]] — PUBLIC for the
    * same amortization contract as [[TextIndex.servingSnapshot]]: a
    * serving deployment holds ONE cut across many
    * [[queryVecBatchOn]] calls and refreshes it on its own staleness
    * cadence (a pinned cut is version-exact forever). */
  def servingSnapshot(wh: Warehouse,
      idx: String): String => DataFrame = {
    val snap = wh.snapshotTables(servingTables(idx))
    snap(_)
  }

  /** [[servingSnapshot]] with a VACUUM SHIELD ([[Warehouse
    * .holdSnapshot]] — [[TextIndex.servingSnapshotHeld]]'s dense
    * twin): pins the cut's member versions under `holder` until the
    * returned release runs, so a cut held across retention sweeps
    * stays fully readable. Always release a retired cut. */
  def servingSnapshotHeld(wh: Warehouse, idx: String,
      holder: String): (String => DataFrame, () => Unit) = {
    val (snap, release) = wh.holdSnapshot(servingTables(idx), holder)
    (snap(_), release)
  }

  /** REPRODUCIBLE serving — [[TextIndex.servingSnapshotAt]]'s dense
    * twin: the probe surface AS OF a past instant, whole-transaction
    * verified ([[Warehouse.snapshotTablesAt]] — a [[retrain]]'s three
    * commits can never be torn by an instant inside their window; it
    * refuses instead). Feed to [[queryVecBatchOn]] to re-ask
    * yesterday's index yesterday's question. */
  def servingSnapshotAt(wh: Warehouse, idx: String,
      ts: java.time.Instant): String => DataFrame = {
    val snap = wh.snapshotTablesAt(servingTables(idx), ts)
    snap(_)
  }

  /** The next probe-prefix length after an under-filled filtered
    * round: at least double, at most every cell, and jumped
    * PROPORTIONALLY when the observed admissible density says
    * doubling would still starve — candidates scale ~linearly with
    * probed cells under a roughly uniform allowlist, so
    * p·topK·2/count (the 2 is the safety factor for non-uniformity)
    * usually fills in ONE extra round where pure doubling takes
    * log₂(nCells/p). Every round is a codes scan: at corpus scale
    * the scans dominate (fewer rounds = the win), at toy scale the
    * per-round job overhead does (same conclusion). Shared verbatim
    * by [[query]] and the batch core so their widening schedules —
    * and therefore their answers — cannot diverge. */
  private def widenTo(p: Int, count: Long, topK: Int,
      nCells: Int): Int = {
    val proportional =
      math.ceil(p.toDouble * topK * 2.0 / math.max(count, 1L).toDouble)
    // strictly monotonic even from a degenerate p (the entry points
    // require nProbe >= 1, but the loop must still TERMINATE if a
    // zero ever reaches it — max(p+1) guarantees progress toward the
    // nCells cap instead of spinning at 0)
    math.min(nCells.toDouble,
      math.max(p + 1.0, math.max(2.0 * p, proportional))).toInt
  }

  /** [[remove]]'s body without the transaction wrapper — for callers
    * composing into a wider atomic unit ([[Forget.forgetDocs]]). */
  private[operators] def removeBody(wh: Warehouse, idx: String,
      ids: Seq[Long]): Long = {
    val spark0 = wh.table(s"${idx}_gone").sparkSession
    import spark0.implicits._
    wh.append(s"${idx}_gone",
      ids.distinct.toDF("vec_id")
        .join(wh.table(s"${idx}_gone"), Seq("vec_id"), "left_anti"))
    wh.delete(s"${idx}_codes", col("vec_id").isin(ids: _*)).rowsDeleted
  }

  /** Index inventory from the manifest + the frozen geometry — the
    * ops surface behind `DESCRIBE VECTOR INDEX`: vector and tombstone
    * cardinalities fold from per-file row counts (DV-aware), the
    * shape from `<idx>_meta`; no codes file is opened. */
  def describe(wh: Warehouse, idx: String): Seq[(String, String)] = {
    def rows(t: String) =
      wh.countRows(t).map(_.toString).getOrElse("unknown")
    val (nCells, m, k) = geometry(wh, idx)
    Seq(
      "n_cells" -> nCells.toString,
      "m" -> m.toString,
      "k" -> k.toString,
      "vectors" -> rows(s"${idx}_codes"),
      "codes_files" -> wh.describeDetail(s"${idx}_codes").toMap
        .getOrElse("numFiles", "unknown"),
      "tombstones" -> rows(s"${idx}_gone"),
      // whether EXACT-mode serving is available (per-cell radii stored
      // on the coarse table — false only for a pre-radius legacy
      // index, until its next retrain)
      "exact_capable" -> wh.table(s"${idx}_coarse").columns
        .contains("radius").toString,
      // whether exact search reads raw vectors cell-pruned from the
      // codes table (the IVF-flat trade) or joins back to the source
      "stores_vectors" -> storesVectors(wh, idx).toString) ++ {
      // shape health — the numbers a retention/maintenance decision
      // reads before scheduling [[autoResize]]: a max far above the
      // mean means ONE hot cell is dragging probe cost (re-shape or
      // re-train); max ≈ mean ≫ target means the corpus outgrew the
      // cell count uniformly. One groupBy over the codes table's
      // skinny (cell) column — describe-priced, no vectors read.
      val agg = wh.table(s"${idx}_codes").groupBy("cell").count()
        .agg(max(col("count")), avg(col("count"))).first()
      if (agg.isNullAt(0)) Seq(
        "max_cell_rows" -> "0", "mean_cell_rows" -> "0")
      else Seq(
        "max_cell_rows" -> agg.getLong(0).toString,
        "mean_cell_rows" -> f"${agg.getDouble(1)}%.1f")
    }
  }

  /** Read-only index consistency audit — [[Warehouse.audit]]'s
    * index-family twin ([[describe]] reports shape HEALTH; this
    * asserts the INVARIANTS a correct index can never break, so a
    * maintenance bug or a hand-edited table surfaces as a finding,
    * not as a wrong top-k). One consistent snapshot cut across all
    * index tables; every check is a bounded scan of skinny index
    * columns (ids, cells, sizes) — no raw vectors are ranked:
    *
    *  - `geometry`: the recorded (nCells, m, k) match the actual
    *    coarse row count and the codebook's (sub, cid) extent;
    *  - `codes_shape`: every code array is exactly m bytes, and every
    *    cell id resolves to a coarse centroid (an unknown cell is a
    *    row no probe can ever reach);
    *  - `tombstones`: codes ∩ gone = ∅ — [[removeBody]] deletes the
    *    rows and [[refresh]] anti-joins the guard, so an id on both
    *    sides means a REMOVED vector is being served;
    *  - `radii`: per-cell exact-search bounds are present and
    *    non-negative (a negative bound would break the best-first
    *    stop rule's soundness);
    *  - `stored_vectors`: on a vector-storing index, every stored raw
    *    vector is non-null with the index dimension (exact serving
    *    reads these verbatim — a short vector is a wrong cosine).
    *
    * Returns (check, status ok|error, subject, detail), errors first.
    * SQL: `AUDIT VECTOR INDEX idx`. */
  def audit(wh: Warehouse, idx: String): DataFrame = {
    val names = (servingTables(idx) :+ s"${idx}_gone") ++
      (if (wh.hasTable(s"${idx}_meta")) Seq(s"${idx}_meta") else Nil)
    val snap = wh.snapshotTables(names)
    val read: String => DataFrame = snap(_)
    val spark = read(s"${idx}_codes").sparkSession
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String)]
    def ok(check: String, detail: String): Unit =
      out += ((check, "ok", "", detail))
    def errF(check: String, subject: String, detail: String): Unit =
      out += ((check, "error", subject, detail))
    val (nCells, m, k) = geometry(wh, idx)
    // 1. geometry vs actuals
    val coarseN = read(s"${idx}_coarse").count()
    val cb = read(s"${idx}_codebook")
      .groupBy("sub").agg(countDistinct(col("cid")).as("kk"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    var geoBad = 0
    if (coarseN != nCells) {
      geoBad += 1
      errF("geometry", "coarse",
        s"recorded n_cells = $nCells, coarse table holds $coarseN")
    }
    if (cb.keySet != (0 until m).toSet) {
      geoBad += 1
      errF("geometry", "codebook",
        s"recorded m = $m, codebook holds subspaces ${cb.keySet.toSeq.sorted}")
    }
    cb.filter(_._2 != k).foreach { case (sub, kk) =>
      geoBad += 1
      errF("geometry", s"sub=$sub",
        s"recorded k = $k, codebook holds $kk centroids")
    }
    if (geoBad == 0)
      ok("geometry", s"($nCells cells, m=$m, k=$k) matches the " +
        "coarse and codebook tables")
    // 2. codes shape + cell resolution (two skinny aggregates)
    val codes = read(s"${idx}_codes")
    val shp = codes.agg(count(lit(1)), min(size(col("codes"))),
      max(size(col("codes")))).first()
    val nCodes = shp.getLong(0)
    var shapeBad = 0
    if (nCodes > 0 && (shp.getInt(1) != m || shp.getInt(2) != m)) {
      shapeBad += 1
      errF("codes_shape", "codes",
        s"code arrays span ${shp.getInt(1)}..${shp.getInt(2)} bytes, " +
          s"geometry says $m")
    }
    val unknownCells = codes.select("cell").distinct()
      .join(read(s"${idx}_coarse").select(col("cid").as("cell")),
        Seq("cell"), "left_anti").count()
    if (unknownCells > 0) {
      shapeBad += 1
      errF("codes_shape", "cells",
        s"$unknownCells cell ids resolve to no coarse centroid — " +
          "those rows are unreachable by any probe")
    }
    if (shapeBad == 0)
      ok("codes_shape", s"$nCodes code rows are $m bytes in known cells")
    // 3. the tombstone invariant
    val served = codes.select("vec_id")
      .join(read(s"${idx}_gone"), Seq("vec_id"), "left_semi").count()
    if (served > 0)
      errF("tombstones", "codes",
        s"$served removed ids still hold code rows — removed vectors " +
          "would be served")
    else ok("tombstones", "no removed id holds a code row")
    // 4. exact-search bounds
    if (read(s"${idx}_coarse").columns.contains("radius")) {
      val badR = read(s"${idx}_coarse")
        .filter(col("radius").isNull || col("radius") < 0.0).count()
      if (badR > 0)
        errF("radii", "coarse",
          s"$badR cells carry a null or negative radius — the exact " +
            "stop bound is unsound there")
      else ok("radii", "every cell carries a non-negative radius")
    }
    // 5. stored raw vectors
    if (codes.columns.contains("vec")) {
      val dsub = read(s"${idx}_codebook")
        .select(size(col("c"))).first().getInt(0)
      val dim = m * dsub
      val badV = codes.filter(col("vec").isNull ||
        size(col("vec")) =!= dim).count()
      if (badV > 0)
        errF("stored_vectors", "codes",
          s"$badV stored vectors are null or not $dim-dimensional")
      else ok("stored_vectors",
        s"$nCodes stored vectors carry the index dimension ($dim)")
    }
    val sev = Map("error" -> 0, "ok" -> 1)
    out.sortBy(r => (sev(r._2), r._1, r._3)).toSeq
      .toDF("check", "status", "subject", "detail")
  }

  /** MAINTENANCE — this index's OPTIMIZE: every [[refresh]] appends
    * its delta encoded across ALL cells, which the partitioned write
    * lands as one small file per (touched cell, refresh) — a year of
    * micro-deltas makes a probed cell open hundreds of files for a
    * handful of rows each, and the probe's cost drifts from
    * O(probed rows) toward O(open syscalls).
    * [[Warehouse.compactSmall]] bin-packs each cell-partition's small
    * files into ~`targetRows`-row outputs — O(debris bytes), sealed
    * files byte-identical, the `cell=…` directory layout (and with it
    * the manifest partition pruning every probe rides) untouched.
    * When `source` is given, [[foldTombstones]] drops dead
    * resurrection guards in the same pass. Neither step changes any
    * probe's answer (codes rows are only re-binned, never recoded);
    * each commits through its own atomic manifest swap, so a crash
    * between them leaves a fully consistent index. Trigger signals:
    * [[describe]]'s `codes_files` and `tombstones`. */
  def optimize(wh: Warehouse, idx: String,
      targetRows: Long = 1L << 20, minFileRows: Long = 1L << 16,
      source: Option[DataFrame] = None): Seq[(String, Long)] = {
    val codes = wh.compactSmall(s"${idx}_codes", targetRows, minFileRows)
    val gone = source.map(foldTombstones(wh, idx, _)).getOrElse(0L)
    Seq(
      "codes_files_compacted" -> codes.filesCompacted.toLong,
      "tombstones_dropped" -> gone)
  }

  /** MAINTENANCE: fold removal tombstones whose vector the CURRENT
    * base `source` no longer carries — the [[TextIndex.foldTombstones]]
    * twin (see there; same dead-guard argument, same bounded-state
    * goal). Returns tombstones dropped. */
  def foldTombstones(wh: Warehouse, idx: String,
      source: DataFrame): Long =
    IndexMaintenance.foldGone(wh, s"${idx}_gone", "vec_id", source)

  /** Exact brute-force cosine top-k for EVERY probe query in ONE
    * corpus pass — the ground-truth half of [[recallProbe]]. Per
    * partition: a bounded top-k heap per query (Q·k state, the query
    * vectors broadcast); each partition emits its Q·k candidates, the
    * final merge groups Q ways over Q·k·partitions skinny rows. The
    * corpus is scanned exactly once regardless of |queryIds| — a
    * per-query TakeOrdered loop would pay |queryIds| full scans. */
  private def exactTopKAll(source: DataFrame, queryIds: Seq[Long],
      topK: Int): Map[Long, Set[Long]] = {
    val spark = source.sparkSession
    import spark.implicits._
    val base = source
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])]
    val qSet = queryIds.toSet
    val qvs: Array[(Long, Array[Double], Double)] = base
      .filter(r => qSet.contains(r._1)).collect()
      .sortBy(_._1)
      .map { case (id, v) =>
        val a = v.toArray
        (id, a, math.sqrt(a.map(x => x * x).sum))
      }
    require(qvs.length == qSet.size,
      s"recallProbe: ${qSet.size - qvs.length} query ids not in source")
    // worst-first ordering for the bounded min-heap: a kept candidate
    // loses to one with higher cosine, or equal cosine and smaller id
    val worstFirst: Ordering[(Double, Long)] = Ordering.by {
      case (cos, id) => (-cos, id)
    }
    val bc = spark.sparkContext.broadcast(qvs)
    val cand = base.mapPartitions { it =>
      val qs = bc.value
      val heaps = Array.fill(qs.length)(
        scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
          worstFirst))
      it.foreach { case (id, emb) =>
        val e = emb.toArray
        var n2 = 0.0
        var i = 0
        while (i < e.length) { n2 += e(i) * e(i); i += 1 }
        val en = math.sqrt(n2)
        var qi = 0
        while (qi < qs.length) {
          val (_, qv, qn) = qs(qi)
          var dot = 0.0
          i = 0
          while (i < e.length) { dot += e(i) * qv(i); i += 1 }
          val cos = dot / (en * qn)
          val h = heaps(qi)
          if (h.size < topK) h.enqueue((cos, id))
          else if (worstFirst.lt((cos, id), h.head)) {
            h.dequeue(); h.enqueue((cos, id))
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (cos, id) => (qi, id, cos) }
      }
    }
    cand.groupByKey(_._1)
      .flatMapGroups { (qi, rows) =>
        rows.toSeq.sortBy { case (_, id, cos) => (-cos, id) }
          .take(topK).map { case (_, id, _) => (qi, id) }.iterator
      }
      .collect()
      .groupBy(_._1)
      .map { case (qi, ids) => bc.value(qi)._1 -> ids.map(_._2).toSet }
  }

  /** The corpus the index is supposed to serve: `source` minus the
    * removal tombstones. Every probe-side derivation (query sample,
    * exact ground truth, retrain's live set) goes through here — a
    * tombstoned vector the index correctly excludes must not enter
    * the ground truth either, or measured recall deflates permanently
    * after removals and [[maintain]] retrains on every run without
    * ever reaching the SLO. */
  private def liveSource(wh: Warehouse, idx: String,
      source: DataFrame): DataFrame =
    source.dropDuplicates("vec_id")
      .join(wh.table(s"${idx}_gone"), Seq("vec_id"), "left_anti")

  /** A deterministic query sample for [[recallProbe]]: the n smallest
    * vec_id hashes among LIVE (non-tombstoned) vectors — layout- and
    * run-independent, biased toward nothing. */
  def probeQueryIds(wh: Warehouse, idx: String, source: DataFrame,
      n: Int): Seq[Long] =
    liveSource(wh, idx, source).select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(n).collect().map(_.getLong(0)).toSeq

  /** Measured recall@k of the STORED index under its real serving
    * parameters, against the exact ranking — the drift metric. The
    * codebooks are frozen by design ([[build]]); as the corpus
    * distribution shifts away from the training sample, cells stop
    * partitioning the data and ADC stops discriminating, and recall
    * decays SILENTLY (the exact re-rank keeps every answer it sees
    * correct — it just sees the wrong candidates). This probe is the
    * maintenance-time number that makes the decay visible: sampled
    * query set (bounded), exact ground truth for ALL queries from ONE
    * corpus pass ([[exactTopKAll]] — a scheduled maintenance job, not
    * a serving-path call), the stored side through the real serving
    * probe per query, mean overlap/k. When it sags below the SLO,
    * [[retrain]]. */
  def recallProbe(wh: Warehouse, idx: String, source: DataFrame,
      queryIds: Seq[Long], topK: Int = DefaultTopK, overquery: Int = DefaultOverquery,
      nProbe: Int = DefaultNProbe): Double = {
    require(queryIds.nonEmpty, "recallProbe: empty query sample")
    // ground truth over the LIVE set only: the index (correctly)
    // excludes tombstoned vectors, so the exact ranking must too.
    // The pin is corpus-sized (ground truth + |queryIds| probes all
    // read it) and this runs from SCHEDULED maintenance — release it
    // before returning or periodic maintain() calls accumulate
    // corpus-sized checkpoint blocks in executor storage.
    val live = liveSource(wh, idx, source).localCheckpoint()
    try {
      val exact = exactTopKAll(live, queryIds, topK)
      // ONE batched serving pass for ALL sampled queries ([[queryBatch]])
      // — the probe's job count is O(1) in |queryIds|, where the old
      // per-query loop scheduled ~2 driver jobs per sampled query
      val got = queryBatch(wh, idx, live, queryIds, topK, overquery, nProbe)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val per = queryIds.map { qid =>
        (got.getOrElse(qid, Set.empty) intersect exact(qid)).size.toDouble /
          topK
      }
      per.sum / per.size
    } finally { live.unpersist(); () }
  }

  /** The scheduled-maintenance composition over [[recallProbe]] and
    * [[retrain]]: probe recall on the deterministic
    * [[probeQueryIds]] sample; when it sags below `slo`, retrain and
    * re-probe the SAME query set. Returns (probed recall, post-retrain
    * recall — None when the index was healthy). One probe is one
    * corpus pass + |sample| serving probes; a triggered retrain is one
    * bounded sample train + one encode pass — all scheduled-job
    * shaped, nothing serving-path. */
  def maintain(wh: Warehouse, idx: String, source: DataFrame,
      slo: Double = 0.8, sampleQueries: Int = 20, topK: Int = DefaultTopK,
      overquery: Int = DefaultOverquery, nProbe: Int = DefaultNProbe): (Double, Option[Double]) = {
    val qids = probeQueryIds(wh, idx, source, sampleQueries)
    val before = recallProbe(wh, idx, source, qids, topK, overquery, nProbe)
    if (before >= slo) (before, None)
    else {
      retrain(wh, idx, source)
      (before,
        Some(recallProbe(wh, idx, source, qids, topK, overquery, nProbe)))
    }
  }

  /** Retrain the index on the CURRENT distribution and swap it in
    * atomically: fresh bounded [[Similarity.trainingSample]] → new
    * coarse + PQ codebooks → ONE shuffle-free re-encode pass over the
    * live corpus (tombstoned ids stay out) → all three tables commit
    * in one cross-table transaction, so a concurrent reader sees
    * either the old index or the new one, never codes encoded under
    * one codebook probed through another. Tombstones carry forward
    * untouched — a remove() survives retraining. Geometry is FROZEN:
    * (nCells, m, k) are read from `<idx>_meta` ([[geometry]]), never
    * taken as caller defaults — a scheduled [[maintain]] can refresh
    * the codebooks but can never re-shape the index. Returns the
    * number of vectors indexed. */
  def retrain(wh: Warehouse, idx: String, source: DataFrame): Long = {
    val (nCells, m, k) = geometry(wh, idx)
    retrainAs(wh, idx, source, nCells, m, k)
  }

  /** [[retrain]] with explicit geometry — ACCEPTED only when it equals
    * the index's recorded shape (a belt-and-braces caller restating
    * what it built); anything else refuses loudly. DELIBERATE
    * re-shaping is [[retrainAs]]. */
  def retrain(wh: Warehouse, idx: String, source: DataFrame,
      nCells: Int, m: Int, k: Int): Long = {
    val g = geometry(wh, idx)
    require(g == ((nCells, m, k)),
      s"retrain($idx): explicit geometry (nCells=$nCells, m=$m, k=$k) " +
        s"disagrees with the index's recorded (nCells=${g._1}, " +
        s"m=${g._2}, k=${g._3}) — a scheduled retrain never re-shapes; " +
        "to deliberately re-shape at retrain, call retrainAs (SQL: " +
        "ALTER VECTOR INDEX … RETRAIN … WITH (n_cells = …))")
    retrainAs(wh, idx, source, nCells, m, k)
  }

  /** GEOMETRY EVOLUTION: retrain the index with a NEW (nCells, m, k).
    * Retrain is already a full re-encode — the one moment a geometry
    * change costs nothing extra — so an index outgrown by its corpus
    * (a fixed cell count means per-cell rows, and with them probe
    * cost, grow LINEARLY with the corpus forever) re-shapes here
    * instead of drop-and-recreate, which would sever the tombstone
    * and serving continuity the index family guarantees. The new
    * geometry + coarse (with fresh radii) + codebook + codes + meta
    * commit in ONE cross-table transaction: a concurrent reader (or a
    * held serving cut) sees the old shape or the new one whole, never
    * codes encoded under one codebook probed through another — and
    * tombstones carry forward untouched (a remove() survives any
    * number of re-shapes). `m` must divide the embedding dimension,
    * and (nCells, k) respect [[requireGeometry]]. Returns the number of
    * vectors indexed. */
  def retrainAs(wh: Warehouse, idx: String, source: DataFrame,
      nCells: Int, m: Int, k: Int): Long = {
    requireGeometry(idx, nCells, m, k)
    val live = liveSource(wh, idx, source)
    require(!live.isEmpty,
      "retrain: no live vectors — an index with nothing left to serve " +
        "should be dropped, not retrained")
    val unit = l2Normalized(live)
    val sample = trainingSample(unit,
      math.max(defaultSampleN(1, nCells), defaultSampleN(m, k)))
    val coarse = pqTrain(sample, m = 1, k = nCells, iters = 3)
      .localCheckpoint()
    val codebook = pqTrain(sample, m = m, k = k, iters = 6)
      .localCheckpoint()
    // a vector-storing index STAYS one across a re-shape (derived from
    // the table being replaced, read before the transaction swaps it)
    val codes = withStoredVec(
      encode(unit, coarse, codebook, m, dimOf(unit)),
      live, storesVectors(wh, idx))
    val spark0 = source.sparkSession
    import spark0.implicits._
    wh.transaction(Seq(s"${idx}_coarse", s"${idx}_codebook",
        s"${idx}_codes", s"${idx}_meta")) {
      // one file per bounded table — build's rationale (r18)
      wh.save(s"${idx}_codebook", codebook.coalesce(1))
      wh.save(s"${idx}_codes", codes, partitionBy = Seq("cell"))
      // radii over the freshly staged codes (the transaction reads its
      // own uncommitted writes) — exact radii, not carried-forward
      // upper bounds: retrain is the moment conservatism resets
      wh.save(s"${idx}_coarse", coarseWithRadii(coarse,
        cellRadii(unit, wh.table(s"${idx}_codes"), coarse)).coalesce(1))
      // a pre-meta (legacy) index gains its meta table here — retrain
      // MIGRATES it into the recorded-geometry era
      wh.save(s"${idx}_meta",
        Seq((nCells, m, k)).toDF("n_cells", "m", "k"))
    }
    wh.countRows(s"${idx}_codes")
      .getOrElse(wh.table(s"${idx}_codes").count())
  }

  /** The geometry-drift auto rule ([[maintain]]'s shape-health twin):
    * when any cell's row count exceeds `maxCellRows` — the signal that
    * the corpus outgrew the cell count and probe cost is drifting from
    * O(k · cell) toward O(corpus) — re-shape via [[retrainAs]] to a
    * cell count that puts the MEAN cell at half the bound (headroom,
    * so steady growth doesn't re-trigger immediately), capped at the
    * geometry bound (65 536 — [[requireGeometry]]).
    * One groupBy over the codes table's skinny columns per check —
    * scheduled-maintenance priced. Returns Some((newNCells, vectors))
    * when a resize ran, None when the shape is healthy. */
  def autoResize(wh: Warehouse, idx: String, source: DataFrame,
      maxCellRows: Long): Option[(Int, Long)] = {
    require(maxCellRows >= 1, "autoResize: maxCellRows must be >= 1")
    val agg = wh.table(s"${idx}_codes").groupBy("cell").count()
      .agg(max(col("count")), sum(col("count"))).first()
    if (agg.isNullAt(0)) None // empty index: nothing to re-shape
    else {
      val maxRows = agg.getLong(0)
      val total = agg.getLong(1)
      if (maxRows <= maxCellRows) None
      else {
        val (nc0, m, k) = geometry(wh, idx)
        val ncNew = math.min(65536L, math.max(nc0 + 1L,
          math.ceil(total.toDouble /
            math.max(maxCellRows / 2, 1L).toDouble).toLong)).toInt
        Some((ncNew, retrainAs(wh, idx, source, ncNew, m, k)))
      }
    }
  }

  /** Hybrid retrieval over the STORED indexes — e14's composition
    * served from infrastructure instead of per-query corpus scans: the
    * sparse lane probes [[TextIndex]] (term-pruned postings), the
    * dense lane probes this index (cell-pruned codes), and
    * [[Similarity.rrfFuse]] combines the two pool-bounded rank lists.
    * Every corpus-sized structure involved is pre-built and
    * incrementally maintained; a query touches its terms' postings
    * files, its probe cells' code files, and ≤ 2·pool fusion rows. */
  /** One snapshot cut pinning BOTH indexes' serving tables — the
    * hybrid paths' read surface: a query racing an [[Ingest
    * .ingestBatch]] commit must never fuse a post-commit sparse lane
    * with a pre-commit dense lane (each lane alone was already
    * coherent; the CROSS-index cut is what this adds).
    *
    * BOUNDARY: the cut covers the INDEXES' tables. The caller-provided
    * `source` frame (the re-rank's float vectors, the id form's query
    * fetch, a filter's allowlist) is whatever the caller passed — a
    * raw parquet scan, or the live base table. For base-table
    * consistency too, pass a pinned frame (`wh.snapshotTables(Seq(
    * base))(base)` / `wh.tableAt`) as `source`; a live frame risks
    * the re-rank dropping a candidate a concurrent base delete
    * removed (an underfilled, not wrong, top-k). */
  def hybridSnapshot(wh: Warehouse, annIdx: String,
      textIdx: String): String => DataFrame = {
    val snap = wh.snapshotTables(
      servingTables(annIdx) ++ TextIndex.servingTables(textIdx))
    snap(_)
  }

  /** The hybrid lanes' side-thread harness (guide §2.6): the lane body
    * runs eager driver collects, so it is marked `blocking` — the
    * shared global pool grows a thread for it instead of starving its
    * cores-sized capacity under concurrent hybrid serving calls — and
    * the await is FINITE, so a wedged lane fails the call with a clear
    * timeout instead of hanging the caller forever. */
  private val SideLaneTimeout: scala.concurrent.duration.Duration =
    scala.concurrent.duration.Duration(1, java.util.concurrent.TimeUnit.HOURS)
  private def onSideThread[T](body: => T): scala.concurrent.Future[T] =
    scala.concurrent.Future(scala.concurrent.blocking(body))(
      scala.concurrent.ExecutionContext.global)

  def hybridQuery(wh: Warehouse, annIdx: String, textIdx: String,
      source: DataFrame, terms: Seq[String], queryId: Long,
      topK: Int = DefaultTopK, pool: Int = 50, overquery: Int = DefaultOverquery,
      nProbe: Int = DefaultNProbe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val read = hybridSnapshot(wh, annIdx, textIdx)
    // sparse lane on its own thread — its df/stats collect overlaps
    // the dense lane's query-vector fetch (guide §2.6)
    val sparseF = onSideThread {
      TextIndex.queryOn(read, textIdx, terms, pool)
        .withColumn("r", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select("doc_id", "r")
    }
    // the dense lane inline against the same pinned cut (the id-form
    // query vector still comes from `source` — the stored-row shape;
    // the literal form is [[hybridQueryVecBatch]]). The ranked core's
    // rk IS the global (cosine desc, vec_id) rank here — one query, so
    // the per-query window was already the global one (r18: the
    // re-window's range + single-partition Exchanges gone)
    val unit = l2Normalized(source)
    val q = unit.filter(col("vec_id") === queryId)
      .select("embedding").first().getSeq[Double](0).toArray
    val dense = vecBatchRanked(read, annIdx, source, Seq(queryId -> q),
        topK = pool, overquery = overquery, nProbe = nProbe,
        filter = None, saltParts = 32)
      .select(col("vec_id"), col("rk").as("r"))
    val sparse = scala.concurrent.Await.result(sparseF, SideLaneTimeout)
    Similarity.rrfFuse(Seq(sparse, dense), k = topK)
      .select(col("id").as("doc_id"), col("r0").as("bm25_rank"),
        col("r1").as("cos_rank"), col("rrf"))
  }

  /** [[hybridQuery]] for N queries in ONE pass per lane — the full
    * retrieval-service shape: the sparse lane is one batched BM25 over
    * the stored inverted index ([[TextIndex.queryBatch]] — one
    * term-pruned postings scan for every query's terms), the dense
    * lane is one batched IVF-PQ probe ([[queryBatch]] — one
    * cell-pruned codes scan), and the fusion is [[Similarity.rrfFuse]]
    * lifted per query: full-outer on (query_id, id), rrf = Σ
    * 1/(60+rank) with absent ranks contributing exactly 0 (the same
    * coalesce fold, same addition order), top-k per query by
    * (rrf desc, id) over ≤ 2·pool rows per query. Per-query rows are
    * identical to the [[hybridQuery]] loop's (AnnIndexSpec pins it).
    * Each query pairs its own terms with its own query vector
    * (`queries` = (queryId, terms)). */
  def hybridQueryBatch(wh: Warehouse, annIdx: String, textIdx: String,
      source: DataFrame, queries: Seq[(Long, Seq[String])],
      topK: Int = DefaultTopK, pool: Int = 50, overquery: Int = DefaultOverquery,
      nProbe: Int = DefaultNProbe,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    hybridQueryBatchOn(hybridSnapshot(wh, annIdx, textIdx), annIdx,
      textIdx, source, queries, topK, pool, overquery, nProbe, filter)

  /** [[hybridQueryBatch]] against an explicit read surface — the seam
    * the snapshot-consistency spec uses to DEMONSTRATE the torn fusion
    * an unpinned read pair would produce (and that the public path,
    * which always passes one [[hybridSnapshot]] cut, precludes). */
  def hybridQueryBatchOn(read: String => DataFrame,
      annIdx: String, textIdx: String, source: DataFrame,
      queries: Seq[(Long, Seq[String])], topK: Int = DefaultTopK, pool: Int = 50,
      overquery: Int = DefaultOverquery, nProbe: Int = DefaultNProbe,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val spark = source.sparkSession
    import spark.implicits._
    // the two lanes are independent until the fusion, and EACH pays
    // bounded driver collects (df/stats; codebook + cell ranking)
    // before its distributed work — build them on two threads so the
    // collects overlap instead of queueing (guide §2.6; job
    // submission is thread-safe, and both lanes read the SAME pinned
    // cut so concurrency cannot tear the snapshot)
    val sparseF = onSideThread {
      TextIndex.queryBatchRankedOn(read, spark, textIdx, queries,
        pool, docFilter = hybridAllow(source, filter))
    }
    // the dense lane's query vectors from `source` (the id form); the
    // codes/codebook reads ride the same pinned cut as the sparse lane
    val dense = vecBatchRanked(read, annIdx, source,
      fetchQueryVecs(source, queries.map(_._1).distinct,
        "hybridQueryBatch"),
      topK = pool, overquery = overquery,
      nProbe = nProbe, filter = filter, saltParts = 32)
    val sparse = scala.concurrent.Await.result(sparseF, SideLaneTimeout)
    fuseBatch(sparse, dense, topK)
  }

  /** FILTERED hybrid retrieval's sparse-lane allowlist: the same
    * predicate the dense lane applies inside its probe, reduced to a
    * doc_id allowlist over `source` (doc ids and vector ids coincide
    * in the hybrid composition — the fusion joins on them). Both lanes
    * restrict BEFORE ranking, so the fused top-k fills with qualifying
    * docs; corpus statistics stay global (the standard filtered-search
    * semantics both single-index paths already implement). */
  private def hybridAllow(source: DataFrame,
      filter: Option[org.apache.spark.sql.Column]): Option[DataFrame] =
    filter.map(pred =>
      source.filter(pred).select(col("vec_id").as("doc_id")))

  /** [[hybridQueryBatch]] for LITERAL queries — the full
    * retrieval-service front door: each query arrives as (query_id,
    * raw query TEXT, raw query VECTOR). The sparse lane tokenizes the
    * text through the index's own tokenizer, evaluated on the driver
    * ([[TextIndex.tokenizer]] via [[TextIndex.tokenizeQueries]] — no
    * query execution, no corpus read); the dense
    * lane normalizes the vector through the index's own normalizer
    * ([[normalizedQueryVecs]] — same); both lanes read ONE pinned
    * snapshot cut across all six serving tables, and the fusion is
    * [[hybridQueryBatch]]'s verbatim. A literal query equal to a
    * stored row reproduces the id form bit-for-bit (spec-pinned). */
  def hybridQueryVecBatch(wh: Warehouse, annIdx: String, textIdx: String,
      source: DataFrame, queries: Seq[(Long, String, Seq[Double])],
      topK: Int = DefaultTopK, pool: Int = 50, overquery: Int = DefaultOverquery,
      nProbe: Int = DefaultNProbe,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    hybridQueryVecBatchOn(hybridSnapshot(wh, annIdx, textIdx), annIdx,
      textIdx, source, queries, topK, pool, overquery, nProbe, filter)

  /** [[hybridQueryVecBatch]] against an externally-pinned read surface
    * (hold one [[hybridSnapshot]] across many calls — the serving
    * amortization path). */
  def hybridQueryVecBatchOn(read: String => DataFrame, annIdx: String,
      textIdx: String, source: DataFrame,
      queries: Seq[(Long, String, Seq[Double])],
      topK: Int = DefaultTopK, pool: Int = 50, overquery: Int = DefaultOverquery,
      nProbe: Int = DefaultNProbe,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(queries.nonEmpty, "hybridQueryVecBatch: empty query list")
    val spark = source.sparkSession
    // two-thread lane build — hybridQueryBatchOn's rationale (§2.6)
    val sparseF = onSideThread {
      val terms = TextIndex.tokenizeQueries(spark,
        queries.map { case (qid, text, _) => (qid, text) })
      TextIndex.queryBatchRankedOn(read, spark, textIdx, terms,
        pool, docFilter = hybridAllow(source, filter))
    }
    val dense = vecBatchRanked(read, annIdx, source,
      normalizedQueryVecs(spark,
        queries.map { case (qid, _, v) => (qid, v) }),
      topK = pool, overquery = overquery, nProbe = nProbe,
      filter = filter, saltParts = 32)
    val sparse = scala.concurrent.Await.result(sparseF, SideLaneTimeout)
    fuseBatch(sparse, dense, topK)
  }

  /** The per-query RRF fusion both batch hybrids share: rrfFuse's fold
    * lifted per query — coalesce-to-zero reciprocal ranks summed in
    * lane order (identical arithmetic to [[Similarity.rrfFuse]]),
    * top-k per query under (rrf desc, id) over ≤ 2·pool rows/query.
    *
    * Inputs are the lanes' RANK-KEEPING forms (r18): each lane already
    * computed this exact per-query rank for its own top-k cut
    * (row_number over (query_id | score desc, doc_id) resp. (query_id
    * | cosine desc, vec_id), then filtered to the ≤pool prefix — a
    * rank over the surviving prefix equals the rank it arrived with),
    * so re-windowing here only re-derived known values through two
    * extra Exchanges. The lane pairing itself is a UNION + one
    * per-(query, id) aggregate rather than a full-outer join: each id
    * appears at most once per lane, so min-over-lane-tagged rows IS
    * the join's row (same r0/r1, nulls where a lane misses), for one
    * Exchange instead of two plus the merge-join sorts (guide §2.1). */
  private def fuseBatch(sparseRanked: DataFrame, denseRanked: DataFrame,
      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sparse = sparseRanked.select(col("query_id"),
      col("doc_id").as("id"), lit(0).as("lane"), col("r").as("rank"))
    val dense = denseRanked.select(col("query_id"),
      col("vec_id").as("id"), lit(1).as("lane"), col("rk").as("rank"))
    val folded = sparse.unionByName(dense)
      .groupBy("query_id", "id")
      .agg(min(when(col("lane") === 0, col("rank"))).as("r0"),
        min(when(col("lane") === 1, col("rank"))).as("r1"))
    val rrf = (coalesce(lit(1.0) / (lit(60) + col("r0")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60) + col("r1")), lit(0.0))).as("rrf")
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("id").asc)
    folded
      .select(col("query_id"), col("id"), col("r0"), col("r1"), rrf)
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topK).drop("rk")
      .select(col("query_id"), col("id").as("doc_id"),
        col("r0").as("bm25_rank"), col("r1").as("cos_rank"), col("rrf"))
      .orderBy(col("query_id").asc, col("rrf").desc, col("doc_id").asc)
  }

  /** IVF-PQ probe over the STORED index: nProbe nearest coarse cells
    * (codebook-bounded read), `cell IN (probed)` partition-prunes the
    * codes table at the manifest, ADC ranks the surviving codes, and
    * the exact cosine re-rank over ≤ overquery·topK ids settles the
    * order. `source` supplies the float vectors only for the query row
    * and the re-rank set.
    *
    * `filter` (vector-DB "filtered search", the standard metadata
    * predicate: `lang = 'en' AND label = 3`): evaluated on `source`,
    * reduced to an id allowlist, and semi-joined onto the probed
    * cells' codes BEFORE the ADC top-k — so the k results all satisfy
    * the predicate rather than being filtered away after the fact
    * (post-filtering returns < k whenever the predicate is selective).
    * Only ids cross the allowlist join. When the allowlist-restricted
    * probed cells hold fewer than topK candidates the probe
    * AUTO-WIDENS — the probe prefix grows along the query's full
    * best-first cell ranking ([[widenTo]]: at least doubling,
    * jumped proportionally from the observed admissible density; one
    * additional cell-pruned codes scan per widening round, usually
    * one round total) until k fills or every cell is probed, so a
    * selective predicate can never silently under-fill k; fewer than k
    * rows now means fewer than k matches EXIST. Widening preserves
    * the probe's APPROXIMATE ranking: it stops once k qualifiers sit
    * inside the probed cells, and (exactly like the unfiltered probe)
    * a qualifier outside them can still outrank — raise nProbe for
    * higher filtered recall; a full probe is exact. The unfiltered
    * plan is untouched, and a filtered probe whose initial cells
    * already fill k pays no extra scan (the candidate cut is
    * materialized once and reused by the re-rank). */
  def query(wh: Warehouse, idx: String, source: DataFrame, queryId: Long,
      topK: Int = DefaultTopK, overquery: Int = DefaultOverquery, nProbe: Int = DefaultNProbe,
      filter: Option[org.apache.spark.sql.Column] = None,
      exact: Boolean = false): DataFrame = {
    require(nProbe >= 1,
      s"query: nProbe must be >= 1 (got $nProbe) — a zero-cell probe " +
        "answers nothing and the widening loop needs a seed")
    // one snapshot cut pins coarse+codebook+codes for the whole probe
    val read = servingSnapshot(wh, idx)
    val unit = l2Normalized(source)
    val q = unit.filter(col("vec_id") === queryId)
      .select("embedding").first().getSeq[Double](0)
    if (exact)
      return exactCore(read, idx, source, q.toArray, topK, filter,
        nProbe)._1
    val qlit = array(q.map(lit): _*)
    val coarse = read(s"${idx}_coarse")
    val codebook = read(s"${idx}_codebook")
    // ONE bounded job answers the codebook dimensions, the full
    // best-first cell ranking, AND the per-(sub, cid) ADC distance
    // table (r17: these were three sequential driver round-trips —
    // the km aggregate, the coarse ranking collect, and pqRank's own
    // table collect; a tagged union over the two bounded tables ships
    // the same scalars in one scheduling round. The l2sq columns, the
    // (d2, cid) order, and the slice arithmetic are unchanged — the
    // per-subspace slice length comes from size(c), which equals
    // pqRank's dsub — so every double is bit-identical)
    val merged = codebook
      .select(lit(0).as("tag"), col("sub").as("a"),
        col("cid").cast("int").as("b"),
        l2sq(slice(qlit, col("sub") * size(col("c")) + 1,
          size(col("c"))), col("c")).as("d2"))
      .unionAll(coarse
        .select(lit(1).as("tag"), col("cid").as("a"), lit(0).as("b"),
          l2sq(qlit, col("c")).as("d2")))
      .collect()
    val cbPairs = merged.filter(_.getInt(0) == 0)
    val k = cbPairs.map(_.getInt(2)).distinct.length
    val m = cbPairs.map(_.getInt(1)).max + 1
    val flat = Array.fill(m * k)(Double.MaxValue)
    cbPairs.foreach(r => flat(r.getInt(1) * k + r.getInt(2)) = r.getDouble(3))
    // nProbe takes the ranking's prefix; widening takes a longer one
    val ranked = merged.filter(_.getInt(0) == 1)
      .map(r => (r.getDouble(3), r.getInt(1)))
      .sortBy(identity).map(_._2).toSeq
    val nCells = ranked.length
    def candsAt(p: Int, allow: Option[DataFrame]): DataFrame = {
      val probedCodes = read(s"${idx}_codes")
        .filter(col("cell").isin(ranked.take(p): _*))
        .select("vec_id", "codes")
      val admissible = (filter, allow) match {
        case (None, _) => probedCodes
        // widening rounds semi-join the PINNED id list — the
        // predicate's source scan ran once, not once per round
        case (_, Some(a)) =>
          probedCodes.join(a, Seq("vec_id"), "left_semi")
        case (Some(pred), None) => probedCodes.join(
          source.filter(pred).select("vec_id"), Seq("vec_id"), "left_semi")
      }
      Similarity.pqRankWith(admissible, flat, m = m, k = k,
        topK = overquery * topK)
    }
    val cands = filter match {
      case None => candsAt(math.min(nProbe, nCells), None)
      case Some(pred) =>
        // auto-widen: the materialized cut's row count IS the fill
        // check (≥ topK candidates ⇔ the probed allowlist held ≥ topK —
        // the cut keeps overquery·topK ≥ topK), so the filled-first
        // case costs exactly the one scan the probe pays anyway
        var p = math.min(nProbe, nCells)
        var c = candsAt(p, None).localCheckpoint()
        var n = c.count()
        if (n < topK && p < nCells) {
          // widening begins: materialize the allowlist ONCE (ids
          // only — 8 bytes/row) so every further round is a pruned
          // codes scan against pinned ids, not a fresh source scan
          val allow = source.filter(pred).select("vec_id")
            .localCheckpoint()
          try while (n < topK && p < nCells) {
            p = widenTo(p, n, topK, nCells)
            c = candsAt(p, Some(allow)).localCheckpoint()
            n = c.count()
          } finally { allow.unpersist(); () }
        }
        c
    }
    // the query vector was already collected once (q) — re-rank against
    // it as a literal array rather than re-deriving a one-row frame and
    // paying a second collect + broadcast join on the serving path.
    // repartition before the decimal fold: bounded candidate set,
    // same rationale (explicit-count AQE note + static-bound
    // condition) as the batch core's re-rank spread (r17)
    val dp = source.sparkSession.sparkContext.defaultParallelism
    val joined = source.join(cands.select("vec_id"), "vec_id")
    (if (overquery.toLong * topK > 32L * dp)
       joined.repartition(dp, col("vec_id"))
     else joined)
      .withColumn("qe", qlit)
      .select(col("vec_id"),
        round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(topK)
  }

  /** EXACT top-k for a literal query vector — the IVF escape hatch for
    * callers who need brute-force-equal ranking (filtered or not) at
    * adaptive cost instead of pinning nProbe = nCells: probe cells
    * best-first by their LOWER BOUND (centroid distance − stored
    * radius, the triangle inequality on the unit sphere), rank the
    * probed members by exact cosine, and STOP once every unprobed
    * cell's bound exceeds the k-th candidate's exact distance — no
    * unprobed vector can then enter the top-k. On clustered data the
    * probe terminates after a few cells; the worst case converges to
    * the full probe only when the data demands it. Requires the
    * radius column ([[build]]/[[retrainAs]] write it; a legacy index
    * refuses until retrained). SQL: `VECTOR SEARCH … EXACT`. */
  def queryVecExact(wh: Warehouse, idx: String, source: DataFrame,
      query: Seq[Double], topK: Int = DefaultTopK,
      filter: Option[org.apache.spark.sql.Column] = None,
      nProbe: Int = DefaultNProbe): DataFrame =
    queryVecExactOn(servingSnapshot(wh, idx), idx, source, query, topK,
      filter, nProbe)

  /** [[queryVecExact]] against an externally-pinned read surface (a
    * held serving cut, or an AS-OF historical cut). */
  def queryVecExactOn(read: String => DataFrame, idx: String,
      source: DataFrame, query: Seq[Double], topK: Int = DefaultTopK,
      filter: Option[org.apache.spark.sql.Column] = None,
      nProbe: Int = DefaultNProbe): DataFrame =
    exactCore(read, idx, source,
      normalizedQueryVecs(source.sparkSession,
        Seq((0L, query))).head._2, topK, filter, nProbe)._1

  /** [[queryVecExact]] for a BATCH of literal queries over ONE pinned
    * snapshot: each query's probe terminates at ITS OWN cell bound
    * (adaptivity is per-query — a query inside a tight cluster stops
    * after one cell while an outlier widens), so this is a driver
    * loop over [[exactCore]], not one fused job: exactness needs the
    * k-th distance OBSERVED before the next widening decision, which
    * is inherently sequential per query — but the snapshot cut, the
    * coarse collect and the allowlist shape are shared, and each
    * query's result is a bounded local relation. For throughput-first
    * batch serving use [[queryVecBatch]] (one distributed pass,
    * IVF-approximate). Returns (query_id, vec_id, cosine), ≤ topK
    * rows per query, ordered by (query_id, cosine desc, vec_id). */
  def queryVecBatchExact(wh: Warehouse, idx: String, source: DataFrame,
      queries: Seq[(Long, Seq[Double])], topK: Int = DefaultTopK,
      filter: Option[org.apache.spark.sql.Column] = None,
      nProbe: Int = DefaultNProbe): DataFrame = {
    require(queries.nonEmpty, "queryVecBatchExact: empty query list")
    val spark = source.sparkSession
    import spark.implicits._
    val read = servingSnapshot(wh, idx)
    normalizedQueryVecs(spark, queries)
      .flatMap { case (qid, q) =>
        exactCore(read, idx, source, q, topK, filter, nProbe)._1
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }
      .toDF("query_id", "vec_id", "cosine")
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** Distance slack on the exact-search stop rule: an unprobed cell
    * whose bound is within this of the k-th distance is probed rather
    * than trusted — absorbs the float error between the bound
    * arithmetic (unit-sphere L2) and the re-rank cosine (raw vectors,
    * rounded to 12 decimals). Over-probing is cheap and always sound;
    * under-probing would be a silent wrong answer. */
  private val BoundEps = 1e-6

  /** The exact-search core: returns (topK frame, cells probed). The
    * result frame is a LOCAL relation of ≤ topK rows (the loop already
    * collected them to test the stop bound) — no recomputation at
    * consumption, and the probe statistics are exposed for the spec
    * that asserts fewer-than-all cells were read. */
  private[graft] def exactCore(read: String => DataFrame, idx: String,
      source: DataFrame, q: Array[Double], topK: Int,
      filter: Option[org.apache.spark.sql.Column],
      nProbe: Int): (DataFrame, Int) = {
    require(topK >= 1, s"exact search: topK must be >= 1, got $topK")
    require(nProbe >= 1, s"exact search: nProbe must be >= 1, got $nProbe")
    val spark = source.sparkSession
    import spark.implicits._
    val coarse = read(s"${idx}_coarse")
    require(coarse.columns.contains("radius"),
      s"exact search: index '$idx' has no per-cell radii (built before " +
        "the radius column) — retrain it (ALTER VECTOR INDEX … " +
        "RETRAIN) to enable EXACT mode")
    val qlit = array(q.toSeq.map(lit): _*)
    // (cid, lower bound) best-first: no member of a cell can sit
    // closer to q than dist(q, centroid) − radius — all unit vectors,
    // L2 is a metric, the standard IVF bound. The distance arithmetic
    // runs IN SPARK through the same l2sq column the probe ranking
    // uses (left-fold aggregate — identical IEEE operation order to
    // the old driver loop, so bounds are bit-equal) and the collect
    // ships only per-cell SCALARS: the driver cost of exact serving is
    // nCells × 16 B regardless of vector dimension, not nCells × dim
    // doubles. The max(0, ·) clamp stays on the driver (math.max, the
    // original arithmetic) so a −0.0 from Spark's greatest can never
    // perturb the (bound, cid) sort.
    val cellRows = coarse.select(col("cid"),
        (sqrt(l2sq(qlit, col("c"))) - col("radius")).as("rawBound"),
        size(col("c")).as("cdim")).collect()
    cellRows.foreach { r =>
      require(r.getAs[Int]("cdim") == q.length,
        s"exact search: query dimension ${q.length} != index " +
          s"dimension ${r.getAs[Int]("cdim")}")
    }
    val cells = cellRows.map(r => (r.getAs[Int]("cid"),
        math.max(0.0, r.getAs[Double]("rawBound"))))
      .sortBy { case (cid, b) => (b, cid) }
    val nCells = cells.length
    // filtered exact: the allowlist materializes ONCE (ids only), like
    // the widening probe's
    val allow = filter.map(pred =>
      source.filter(pred).select("vec_id").localCheckpoint())
    try {
      // exact cosine over the probed prefix's (qualifying) members —
      // the honest price of exactness: float vectors of probed cells
      // are read, but ONLY probed cells (partition-pruned), and the
      // loop widens best-first so most queries stop after a few.
      // A vector-storing index ([[build]]'s storeVectors) reads the
      // raw vectors FROM the probed partitions — zero source I/O for
      // an unfiltered exact query (the scale path: O(probed cells),
      // not O(corpus)); a codes-only index joins the probed ids back
      // to the source. Both compute the SAME arithmetic on the SAME
      // raw values — the stored column is the source embedding
      // verbatim — so the ranking is bit-identical either way.
      val stored = read(s"${idx}_codes").columns.contains("vec")
      // top-k over ONE slice of the best-first cell order — each
      // widening round reads only its DELTA cells (the r17 change:
      // the old loop re-scanned every already-probed cell per round,
      // so a search settling at p cells paid ~2p cell reads; cells
      // are disjoint and the ranking is a per-row pure function, so
      // topK(probed) = topK(topK(old slice) ∪ topK(delta slice)) —
      // the driver merge below is exact, and at corpus scale the
      // probed-partition I/O halves)
      def topSlice(from: Int, until: Int): Array[(Long, Double)] = {
        val probed = read(s"${idx}_codes")
          .filter(col("cell").isin(
            cells.slice(from, until).map(_._1).toSeq: _*))
        val probedVecs =
          if (stored) probed.select(col("vec_id"),
            col("vec").as("embedding"))
          else probed.select("vec_id")
        val admissible = allow match {
          case Some(a) => probedVecs.join(a, Seq("vec_id"), "left_semi")
          case None => probedVecs
        }
        (if (stored) admissible else source.join(admissible, "vec_id"))
          .withColumn("qe", qlit)
          .select(col("vec_id"),
            round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id").asc)
          .limit(topK)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
      }
      var p = math.min(math.max(1, nProbe), nCells)
      var top = topSlice(0, p)
      var settled = false
      while (!settled) {
        // k-th candidate's exact distance from its cosine: unit
        // vectors, ‖q−v‖² = 2 − 2·cos
        val dk =
          if (top.length < topK) Double.PositiveInfinity
          else math.sqrt(math.max(0.0, 2.0 - 2.0 * top.last._2))
        val nextBound =
          if (p < nCells) cells(p)._2 else Double.PositiveInfinity
        // settle when every unprobed cell bounds out — or when there
        // is nothing left to probe (fewer than k matches EXIST: both
        // dk and nextBound are infinite there, and ∞ > ∞ is false)
        if (p >= nCells || nextBound > dk + BoundEps) settled = true
        else {
          val np = math.min(nCells, math.max(p + 1, 2 * p))
          // merge under the final (cosine desc, vec_id asc) order —
          // cells are disjoint, so no candidate appears twice. The
          // +0.0 normalizes -0.0 before negating: Scala's total order
          // puts -0.0 < 0.0, so a bare -cos would order a ±0.0 cosine
          // tie differently than the single-scan Spark orderBy this
          // merge must reproduce exactly (which treats them equal and
          // falls to the vec_id tiebreak)
          top = (top ++ topSlice(p, np))
            .sortBy { case (id, cos) => (-(cos + 0.0), id) }.take(topK)
          p = np
        }
      }
      (top.toSeq.toDF("vec_id", "cosine"), p)
    } finally { allow.foreach(_.unpersist()); () }
  }

  /** [[query]] for N queries in ONE distributed pass — the serving
    * shape a retrieval service (and the scheduled [[recallProbe]])
    * actually needs: a per-query driver loop schedules |queries| jobs
    * and reads the probed cells |queries| times; this batches the whole
    * set so the job count is O(1) in |queryIds|.
    *
    * Per-query semantics are IDENTICAL to [[query]] by construction —
    * every per-query ingredient (probed cells, ADC distance table, the
    * round-6 ADC sum, the overquery·topK cut under (adc, vec_id), the
    * round-12 exact-cosine re-rank under (cosine desc, vec_id)) is the
    * same arithmetic in the same fold order; AnnIndexSpec pins
    * queryBatch ≡ the query loop row-for-row.
    *
    * Scale shape: the query vectors, their probe lists, and their ADC
    * tables are all driver-computed from BOUNDED reads (|queries| rows
    * collected once; coarse = nCells rows; codebook = m·k rows) and
    * broadcast; the codes table is scanned ONCE, partition-pruned to
    * the UNION of all queries' probed cells (`cell IN (…)` at the
    * manifest), and each code row fans out only to the queries probing
    * its cell. The ADC top-k is a TWO-LEVEL cut — first within
    * (query, hash-salt) groups, then per query over ≤ salts·overquery·
    * topK survivors — so no single task ever sorts a full query's
    * candidate set (the per-group-top-k shape that survives 100 TB;
    * top-N under a total order is partition-stable, so the two-level
    * cut selects exactly the global top-N). The exact re-rank touches
    * ≤ |queries|·overquery·topK float vectors.
    *
    * Returns (query_id, vec_id, cosine), topK rows per query, ordered
    * by (query_id, cosine desc, vec_id). */
  def queryBatch(wh: Warehouse, idx: String, source: DataFrame,
      queryIds: Seq[Long], topK: Int = DefaultTopK, overquery: Int = DefaultOverquery,
      nProbe: Int = DefaultNProbe, filter: Option[org.apache.spark.sql.Column] = None,
      saltParts: Int = 32): DataFrame = {
    require(queryIds.nonEmpty, "queryBatch: empty query id list")
    val ids = queryIds.distinct
    val spark = source.sparkSession
    import spark.implicits._
    vecBatchCore(servingSnapshot(wh, idx), idx, source,
      fetchQueryVecs(source, ids, "queryBatch"), topK, overquery,
      nProbe, filter, saltParts)
  }

  /** The id form's query-vector fetch — the N stored rows, normalized,
    * in id order (ONE bounded collect); missing ids refuse loudly.
    * Shared by [[queryBatch]] and [[hybridQueryBatchOn]] so the two
    * front doors can never diverge on the fetch or its validation. */
  private def fetchQueryVecs(source: DataFrame, ids: Seq[Long],
      caller: String): Seq[(Long, Array[Double])] = {
    val spark = source.sparkSession
    import spark.implicits._
    val byId: Map[Long, Array[Double]] = l2Normalized(source)
      .filter(col("vec_id").isin(ids: _*))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    require(byId.size == ids.size,
      s"$caller: ${ids.size - byId.size} query ids not in source")
    ids.map(id => id -> byId(id))
  }

  /** [[queryBatch]] for LITERAL query vectors — the retrieval-service
    * front door: a live query is an UNSEEN embedding by definition,
    * and the id form cannot ask the index anything the corpus doesn't
    * already contain (and pays a corpus scan just to fetch the query
    * vectors it does). `queries` = (query_id, raw embedding); each
    * vector L2-normalizes through the SAME [[Similarity.l2Normalized]]
    * Column expression the index applies to stored rows — evaluated
    * over a |queries|-row LOCAL frame ([[normalizedQueryFrame]], a
    * LocalRelation: plan-asserted scan-free), so a literal vector that
    * equals a stored row produces the id form's answer bit-for-bit
    * (AnnIndexSpec pins it). `source` is read ONLY for the bounded
    * exact re-rank (≤ |queries|·overquery·topK float vectors). */
  def queryVecBatch(wh: Warehouse, idx: String, source: DataFrame,
      queries: Seq[(Long, Seq[Double])], topK: Int = DefaultTopK,
      overquery: Int = DefaultOverquery, nProbe: Int = DefaultNProbe,
      filter: Option[org.apache.spark.sql.Column] = None,
      saltParts: Int = 32): DataFrame =
    queryVecBatchOn(servingSnapshot(wh, idx), idx, source, queries,
      topK, overquery, nProbe, filter, saltParts)

  /** [[queryVecBatch]] against an externally-pinned read surface — a
    * serving deployment holds ONE [[servingSnapshot]] across many
    * calls (the cut is version-exact forever; refresh it on your own
    * staleness cadence) instead of paying the head probes per call. */
  def queryVecBatchOn(read: String => DataFrame, idx: String,
      source: DataFrame, queries: Seq[(Long, Seq[Double])],
      topK: Int = DefaultTopK, overquery: Int = DefaultOverquery, nProbe: Int = DefaultNProbe,
      filter: Option[org.apache.spark.sql.Column] = None,
      saltParts: Int = 32): DataFrame =
    vecBatchCore(read, idx, source,
      normalizedQueryVecs(source.sparkSession, queries), topK, overquery,
      nProbe, filter, saltParts)

  /** Literal query vectors normalized EXACTLY as the index normalizes
    * stored rows: the [[Similarity.l2Normalized]] expression over a
    * bounded local frame — same decimal-exact norm, same IEEE division,
    * no corpus read anywhere in the derivation. */
  private[graft] def normalizedQueryVecs(
      spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, Seq[Double])]): Seq[(Long, Array[Double])] = {
    require(queries.nonEmpty, "queryVecBatch: empty query list")
    require(queries.map(_._1).distinct.size == queries.size,
      "queryVecBatch: duplicate query_id")
    val dims = queries.map(_._2.size).distinct
    require(dims.size == 1 && dims.head > 0,
      s"queryVecBatch: query vectors must share one positive " +
        s"dimension, got ${dims.mkString(", ")}")
    // refuse loudly what cosine cannot answer: a non-finite component
    // poisons every distance, and the zero vector normalizes to NaN
    // (0/0) — both would otherwise return topK rows of NaN scores in
    // arbitrary id order, silent garbage from a serving surface
    queries.foreach { case (qid, v) =>
      require(v.forall(x => java.lang.Double.isFinite(x)),
        s"queryVecBatch: query $qid has a non-finite component")
      require(v.exists(_ != 0.0),
        s"queryVecBatch: query $qid is the zero vector — cosine is " +
          "undefined; there is no meaningful nearest-neighbor answer")
    }
    import spark.implicits._
    val byId = normalizedQueryFrame(spark, queries)
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    queries.map { case (qid, _) => qid -> byId(qid) }
  }

  /** The normalization plan itself, exposed for the scan-free plan
    * assertion: a LocalRelation projection, never a table read. */
  private[graft] def normalizedQueryFrame(
      spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    l2Normalized(queries.toDF("vec_id", "embedding"))
  }

  /** The shared batched-probe core: per-query probe lists and ADC
    * tables driver-computed from the PINNED coarse/codebook reads and
    * broadcast; ONE cell-pruned codes scan; two-level salted top-k;
    * bounded exact re-rank against `source`. `qvs` is ordered and
    * already L2-normalized (both entry forms normalize through the
    * same expression). */
  private def vecBatchRanked(read: String => DataFrame, idx: String,
      source: DataFrame, qvs: Seq[(Long, Array[Double])], topK: Int,
      overquery: Int, nProbe: Int,
      filter: Option[org.apache.spark.sql.Column],
      saltParts: Int): DataFrame = {
    require(nProbe >= 1,
      s"queryBatch: nProbe must be >= 1 (got $nProbe) — a zero-cell " +
        "probe answers nothing and the widening loop needs a seed")
    val spark = source.sparkSession
    import spark.implicits._
    // driver-side sequential-fold L2 for the ADC tables — the same
    // IEEE operation order as the l2sq Column (zip_with + left-fold
    // aggregate), so the tables are bit-identical to pqRank's
    def l2sqD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // per query, the FULL best-first cell ranking (tie-break (d2, cid)
    // — query()'s orderBy; nProbe takes its prefix, auto-widening a
    // longer one), computed IN SPARK: the query vectors broadcast
    // against the coarse table and score through the SAME l2sq column
    // the single-query probe ranks with — the d2 doubles, and with
    // them the cell order, are bit-identical to query()'s by
    // construction. The collect ships only |Q| · nCells (query_id,
    // cid, d2) SCALAR rows plus the m·k codebook centroids the driver
    // ADC tables need anyway — and it ships them in ONE job (r17: the
    // codebook collect and the ranking collect were two sequential
    // driver round-trips over two bounded tables; a tagged union
    // answers both in one scheduling round, same reads, same
    // arithmetic).
    val qset = qvs.toMap.toSeq
    val qframe = qset.map { case (qid, q) => (qid, q.toSeq) }
      .toDF("query_id", "qv")
    val merged = read(s"${idx}_codebook")
      .select(lit(0).as("tag"), col("sub"), col("cid").cast("int").as("cid"),
        col("c"), lit(0.0).as("d2"), lit(0L).as("query_id"))
      .unionAll(read(s"${idx}_coarse")
        .crossJoin(broadcast(qframe))
        .select(lit(1).as("tag"), lit(0).as("sub"),
          col("cid").cast("int").as("cid"),
          lit(null).cast("array<double>").as("c"),
          l2sq(col("qv"), col("c")).as("d2"), col("query_id")))
      .collect()
    val cbRows: Array[(Int, Int, Seq[Double])] = merged
      .filter(_.getInt(0) == 0)
      .map(r => (r.getAs[Int]("sub"), r.getAs[Int]("cid"),
        r.getAs[scala.collection.Seq[Double]]("c").toVector: Seq[Double]))
    val m = cbRows.map(_._1).max + 1
    val k = cbRows.map(_._2).distinct.length
    val dsub = cbRows.head._3.size
    qvs.foreach { case (qid, q) =>
      require(q.length == m * dsub,
        s"query $qid: vector dimension ${q.length} != index dimension " +
          s"${m * dsub}")
    }
    val rankedById: Map[Long, Seq[Int]] = merged
      .filter(_.getInt(0) == 1)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("cid"),
        r.getAs[Double]("d2")))
      .groupBy(_._1)
      .map { case (qid, rs) =>
        qid -> rs.sortBy(t => (t._3, t._2)).map(_._2).toSeq }
    val nCells = rankedById.headOption.map(_._2.length).getOrElse(0)
    // the m·k ADC distance table per query (k·m scalars — bounded)
    val qrows: Seq[(Long, Seq[Double], Seq[Double])] =
      qvs.map { case (qid, q) =>
        val flat = Array.fill(m * k)(Double.MaxValue)
        cbRows.foreach { case (s0, cid, c) =>
          flat(s0 * k + cid) = l2sqD(
            java.util.Arrays.copyOfRange(q, s0 * dsub, (s0 + 1) * dsub),
            c.toArray)
        }
        (qid, flat.toSeq, q.toSeq)
      }
    // each query's m·k ADC table broadcasts ONCE keyed by query_id —
    // not once per probed cell (nProbe× the bytes for nothing; at
    // service-scale batches the duplicated form needlessly approaches
    // broadcast limits). The query vectors ride a second skinny frame
    // for the re-rank join.
    val qtbls = qrows.map { case (qid, tbl, _) => (qid, tbl) }
      .toDF("query_id", "tbl")
    val qvecs = qrows.map { case (qid, _, q) => (qid, q) }
      .toDF("query_id", "qe")
    import org.apache.spark.sql.expressions.Window
    val oq = overquery * topK
    // one scoring round for `probe` = (query_id, its probed cells):
    // ONE partition-pruned scan over the union of the round's cells
    // (probe membership a SKINNY broadcast (query_id, cell) frame),
    // allowlist semi-join, broadcast-ADC scoring (the same round-6
    // table-lookup sum as pqRank, the table a broadcast column instead
    // of a literal), then the two-level overquery·topK cut per query
    // under (adc, vec_id)
    def candsFor(probe: Seq[(Long, Seq[Int])],
        allow: Option[DataFrame]): DataFrame = {
      val qcells = probe
        .flatMap { case (qid, cells) => cells.map(c => (qid, c)) }
        .toDF("query_id", "cell")
      val allCells = probe.flatMap(_._2).distinct
      val probedCodes = read(s"${idx}_codes")
        .filter(col("cell").isin(allCells: _*))
        .select("vec_id", "cell", "codes")
      val admissible = (filter, allow) match {
        case (None, _) => probedCodes
        // widening rounds semi-join the PINNED id list — the
        // predicate's source scan ran once, not once per round
        case (_, Some(a)) =>
          probedCodes.join(a, Seq("vec_id"), "left_semi")
        case (Some(pred), None) => probedCodes.join(
          source.filter(pred).select("vec_id"), Seq("vec_id"), "left_semi")
      }
      val scored = admissible.join(broadcast(qcells), Seq("cell"))
        .join(broadcast(qtbls), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          // fused native ADC sum (r18) — bit-parity with the
          // zip_with/element_at fold; the broadcast per-row table
          // column replaces pqRankWith's literal, same arithmetic
          round(VectorFunctions.adcScore(col("codes"), col("tbl"), m, k),
            6).as("adc"))
      val lvl1 = Window
        .partitionBy(col("query_id"), pmod(xxhash64(col("vec_id")),
          lit(saltParts)))
        .orderBy(col("adc").asc, col("vec_id").asc)
      val lvl2 = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("vec_id").asc)
      scored
        .withColumn("r1", row_number().over(lvl1)).filter(col("r1") <= oq)
        .withColumn("r2", row_number().over(lvl2)).filter(col("r2") <= oq)
        .select("query_id", "vec_id")
    }
    val (cands, probedAll) = filter match {
      case None =>
        val pn = math.min(nProbe, nCells)
        (candsFor(qvs.map { case (qid, _) =>
          qid -> rankedById(qid).take(pn) }, None),
          qvs.flatMap { case (qid, _) => rankedById(qid).take(pn) }
            .distinct)
      case Some(pred) =>
        // AUTO-WIDEN per query: the materialized cut's per-query row
        // count IS the fill check (≥ topK rows ⇔ the probed allowlist
        // held ≥ topK — the cut keeps oq ≥ topK per query), so a batch
        // whose every query fills at nProbe pays exactly the one codes
        // scan it pays anyway. Under-filled queries widen their probe
        // prefix ([[widenTo]]) and re-score TOGETHER — one pruned
        // codes scan per widening round for the whole deficient set,
        // against the allowlist PINNED once when widening begins;
        // each query's final round is identical to a one-shot probe
        // at its widened nProbe, so query ≡ queryBatch survives
        // widening by construction, and < topK rows back now means
        // < topK matches EXIST.
        var probeN: Map[Long, Int] =
          qvs.map(_._1 -> math.min(nProbe, nCells)).toMap
        var pending: Seq[Long] = qvs.map(_._1)
        var settled: List[DataFrame] = Nil
        var allow: Option[DataFrame] = None
        try {
          while (pending.nonEmpty) {
            val round = candsFor(
              pending.map(qid => qid -> rankedById(qid).take(probeN(qid))),
              allow).localCheckpoint()
            val counts = round.groupBy("query_id").count().collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
            val (full, under) = pending.partition(qid =>
              counts.getOrElse(qid, 0L) >= topK || probeN(qid) >= nCells)
            if (full.nonEmpty)
              settled ::= (if (under.isEmpty) round
                else round.filter(col("query_id").isin(full: _*)))
            pending = under
            probeN = probeN ++ under.map(qid =>
              qid -> widenTo(probeN(qid), counts.getOrElse(qid, 0L),
                topK, nCells))
            if (pending.nonEmpty && allow.isEmpty)
              allow = Some(source.filter(pred).select("vec_id")
                .localCheckpoint())
          }
        } finally { allow.foreach(_.unpersist()); () }
        (settled.reduce(_ union _),
          qvs.flatMap { case (qid, _) =>
            rankedById(qid).take(probeN(qid)) }.distinct)
    }
    // exact re-rank: ≤ |queries|·oq candidate vectors, query vectors
    // broadcast — the same round-12 cosine as query(). A
    // vector-storing index reads the candidates' raw vectors from the
    // PROBED partitions (every candidate came from one), so the whole
    // batch serves from the index alone — the source corpus is not
    // scanned at all on the unfiltered path (a plain index broadcasts
    // the bounded candidate set against a full source scan instead).
    // Same raw values either way — the ranking is bit-identical.
    val vecSrc =
      if (read(s"${idx}_codes").columns.contains("vec"))
        read(s"${idx}_codes")
          .filter(col("cell").isin(probedAll: _*))
          .select(col("vec_id"), col("vec").as("embedding"))
      else source
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    // spread the exact-decimal re-rank (r17): the candidate set is
    // BOUNDED (≤ |queries|·overquery·topK rows by construction, so
    // the exchange is bounded at any corpus size) but its scan
    // parallelism is whatever the joined file split gave — at bench
    // scale ONE task ran every DECIMAL(38,20) fold serially, the
    // lane's single biggest job. Hash-spreading by the output keys is
    // deterministic; the per-row cosine and all downstream (window,
    // order) are key-determined, so results are unchanged. The
    // partition count is EXPLICIT (defaultParallelism — core count at
    // any scale): a bare column repartition is AQE-coalesced back to
    // one tiny partition, re-serializing the very fold this spreads.
    // CONDITIONAL on the static bound: below ~32 rows/core the fold
    // is milliseconds and the extra stage costs more than it saves.
    val rerankBound = qvs.size.toLong * oq
    val spreadIf = (df: DataFrame) =>
      if (rerankBound > 32L * spark.sparkContext.defaultParallelism)
        df.repartition(spark.sparkContext.defaultParallelism,
          col("query_id"), col("vec_id"))
      else df
    spreadIf(vecSrc.join(broadcast(cands), "vec_id")
      .join(broadcast(qvecs), "query_id"))
      .select(col("query_id"), col("vec_id"),
        round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"))
      .withColumn("rk", row_number().over(wFinal))
      .filter(col("rk") <= topK)
  }

  /** [[vecBatchRanked]] in the public output contract: rank column
    * dropped, rows presentation-ordered. The hybrid fusion paths stay
    * on the ranked form — its `rk` IS the dense rank the fusion would
    * otherwise recompute (row_number over the same (query_id |
    * cosine desc, vec_id) window on the same ≤topK rows), and skipping
    * this final global sort leaves the frame hash-partitioned by
    * query_id for the fusion's consumers (r18, guide §2.1: two
    * exchanges — range sort + re-window hash — per hybrid lane gone). */
  private def vecBatchCore(read: String => DataFrame, idx: String,
      source: DataFrame, qvs: Seq[(Long, Array[Double])], topK: Int,
      overquery: Int, nProbe: Int,
      filter: Option[org.apache.spark.sql.Column],
      saltParts: Int): DataFrame =
    vecBatchRanked(read, idx, source, qvs, topK, overquery, nProbe,
      filter, saltParts)
      .drop("rk")
      .orderBy(col("query_id").asc, col("cosine").desc, col("vec_id").asc)
}
