package graft

import graft.olist.Warehouse
import graft.olist.Warehouse.ColRange
import graft.operators.{TextAnalysis, TextIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Warehouse-maintained inverted index: stored-BM25 ≡ t18's scan-time
  * BM25 bit-for-bit, exact incremental maintenance, term-pruned
  * postings reads. */
class TextIndexSpec extends AnyFunSuite {
  import TextIndexSpec.tokenizedFrame
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val terms = TextAnalysis.bm25Query

  test("stored-index query reproduces bm25TopK bit-for-bit on every matching document") {
    val wh = new Warehouse(spark, tmp("ti1"))
    val docs = Tables.documents(spark, sf)
    assert(TextIndex.build(wh, "ti", docs) == docs.count())
    // t18 ranks ALL docs (zero scores included); the index only holds
    // matching docs — compare the positive-score prefix exactly
    val scan = TextAnalysis.bm25TopK(docs, terms, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._3 > 0.0).toSeq
    assert(scan.nonEmpty, "corpus must contain the query terms")
    val stored = TextIndex.query(wh, "ti", terms, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._3 > 0.0).toSeq
    assert(stored == scan,
      s"stored-index scores diverged:\nscan  =$scan\nstored=$stored")
  }

  test("queryBatch ≡ the per-query loop row-for-row: distinct term lists, shared terms, absent terms, filtered") {
    val wh = new Warehouse(spark, tmp("ti_batch"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs)
    // three queries: the standard one, an overlapping two-term one,
    // and one carrying a term absent from the corpus (df = 0 — its
    // contribution must be exactly zero, not a poisoned score)
    val queries = Seq(
      (1L, terms),
      (2L, Seq(terms.head, "data")),
      (3L, Seq("data", "zzz_nonexistent_term")))
    def loop(filter: Option[org.apache.spark.sql.DataFrame])
        : Seq[(Long, Long, Long, Double)] =
      queries.flatMap { case (qid, ts) =>
        TextIndex.query(wh, "ti", ts, 20, docFilter = filter)
          .collect()
          .map(r => (qid, r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    def batch(filter: Option[org.apache.spark.sql.DataFrame])
        : Seq[(Long, Long, Long, Double)] =
      TextIndex.queryBatch(wh, "ti", queries, 20, docFilter = filter)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
    // row-for-row INCLUDING per-query order and the round-6 scores —
    // the term-index-ordered fold must reproduce the pivoted reduce's
    // IEEE addition order exactly
    assert(batch(None) == loop(None), "unfiltered batch ≠ query loop")
    val allow = Some(docs.filter(col("doc_id") % 2 === 0))
    assert(batch(allow) == loop(allow), "filtered batch ≠ query loop")
  }

  test("refresh is exact: incrementally-maintained index answers identically to a from-scratch build") {
    val wh = new Warehouse(spark, tmp("ti2"))
    val whFull = new Warehouse(spark, tmp("ti2f"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs.filter(col("doc_id") < 300))
    assert(TextIndex.refresh(wh, "ti", docs) ==
      docs.filter(col("doc_id") >= 300).count())
    TextIndex.build(whFull, "ti", docs)
    // df and stats are exact (no trained state), so the two indexes
    // must agree on every score, not just a recall floor
    val inc = TextIndex.query(wh, "ti", terms, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val full = TextIndex.query(whFull, "ti", terms, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(inc == full, s"inc=$inc\nfull=$full")
    // idempotent: nothing new → no commits anywhere
    val vs = Seq("ti_postings", "ti_doclen", "ti_df", "ti_stats")
      .map(t => wh.tableVersions(t).last)
    assert(TextIndex.refresh(wh, "ti", docs) == 0L)
    assert(Seq("ti_postings", "ti_doclen", "ti_df", "ti_stats")
      .map(t => wh.tableVersions(t).last) == vs)
    // within-batch duplicate docs index once
    val dup = docs.filter(col("doc_id") === 1L)
    val wh3 = new Warehouse(spark, tmp("ti3"))
    TextIndex.build(wh3, "ti", docs.filter(col("doc_id") > 1L))
    assert(TextIndex.refresh(wh3, "ti", dup.union(dup)) == 1L)
    assert(wh3.table("ti_doclen").filter(col("doc_id") === 1L).count() == 1)
  }

  test("postings reads are term-pruned: a point term admits a fraction of the files") {
    val wh = new Warehouse(spark, tmp("ti4"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs, nFiles = 8)
    val (all, total) = wh.scanFileCounts("ti_postings", Nil)
    assert(total >= 4, s"expected several postings files, got $total")
    // range-clustered by term: a single-term probe survives min/max +
    // bloom admission in only a couple of files
    val (few, _) = wh.scanFileCounts("ti_postings",
      Seq(ColRange("term", Some(terms.head), Some(terms.head))))
    assert(few <= math.max(2, total / 2),
      s"term probe read $few of $total files")
    assert(all == total)
  }

  test("remove is exact and atomic: shrunken index equals a from-scratch build without those docs; untouched postings files byte-identical") {
    val whDir = tmp("ti_rm")
    val wh = new Warehouse(spark, whDir)
    val whRef = new Warehouse(spark, tmp("ti_rmref"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs)
    // disk-level identity: DV point deletes must leave every postings
    // data file byte-identical (input_file_name() is unusable on a
    // DV'd table — its read path is a join — so compare mtimes)
    def postingsFiles(): Map[String, Long] = {
      val dir = new java.io.File(whDir, "ti_postings")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val before = postingsFiles()
    val gone = Seq(3L, 7L, 123L)
    assert(TextIndex.remove(wh, "ti", gone) == 3L)
    val after = postingsFiles()
    assert(before.forall { case (f, m) => after.get(f).contains(m) },
      "postings data files were rewritten")
    assert(wh.describeDetail("ti_postings").toMap
      .apply("numDeletionVectors").toInt >= 1)
    assert(wh.table("ti_doclen")
      .filter(col("doc_id").isin(gone: _*)).count() == 0)
    // exactness: identical answers to an index never containing them
    TextIndex.build(whRef, "ti", docs.filter(!col("doc_id").isin(gone: _*)))
    val a = TextIndex.query(wh, "ti", terms, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val b = TextIndex.query(whRef, "ti", terms, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(a == b, s"a=$a\nb=$b")
    // removing an id that was never indexed is a zero-effect no-op
    val vs = wh.tableVersions("ti_postings").last
    assert(TextIndex.remove(wh, "ti", Seq(99999L)) == 0L)
    assert(wh.tableVersions("ti_postings").last == vs)
  }

  test("tombstones survive maintenance; empty bootstrap then refresh equals a from-scratch build") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("ti_tomb"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs)
    val gone = Seq(3L, 7L)
    TextIndex.remove(wh, "ti", gone)
    // a refresh whose source still carries the removed docs must not
    // resurrect them — and finds nothing else to do
    assert(TextIndex.refresh(wh, "ti", docs) == 0L)
    assert(wh.table("ti_doclen")
      .filter(col("doc_id").isin(gone: _*)).count() == 0)
    // empty bootstrap: create-now-fill-later is a legitimate lifecycle
    val wh2 = new Warehouse(spark, tmp("ti_boot"))
    assert(TextIndex.build(wh2, "ti",
      docs.filter(col("doc_id") < 0)) == 0L)
    assert(TextIndex.refresh(wh2, "ti", docs) == docs.count())
    val whRef = new Warehouse(spark, tmp("ti_bootref"))
    TextIndex.build(whRef, "ti", docs)
    val a = TextIndex.query(wh2, "ti", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val b = TextIndex.query(whRef, "ti", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(a == b)
    // null-text docs are not indexable and do NOT churn refresh
    val withNull = docs.unionByName(
      Seq((90001L, null.asInstanceOf[String], "en", "srcx", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    assert(TextIndex.refresh(wh2, "ti", withNull) == 0L)
  }

  test("filtered search: allowlist restricts candidates, scores stay global-corpus BM25, k fills") {
    val wh = new Warehouse(spark, tmp("ti_filter"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs)
    val allow = docs.filter(col("lang") === "en").select("doc_id")
    val allowed = allow.collect().map(_.getLong(0)).toSet
    val got = TextIndex.query(wh, "ti", terms, 10, Some(allow))
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.length == 10)
    assert(got.forall(r => allowed.contains(r._1)), "escaped the filter")
    // scores are the GLOBAL-corpus scores (df/N unchanged): the
    // filtered ranking is exactly the unfiltered one restricted
    val global = TextIndex.query(wh, "ti", terms, 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
      .filter(r => allowed.contains(r._1)).take(10).toSeq
    assert(got.toSeq == global, s"got=${got.toSeq}\nexp=$global")
  }

  test("maintenance lifecycle: remove -> OPTIMIZE SMALL folds the DV debris; answers unchanged throughout") {
    val wh = new Warehouse(spark, tmp("ti_lifecycle"))
    wh.enableSql()
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs)
    TextIndex.remove(wh, "ti", Seq(3L, 7L, 123L))
    val answer = TextIndex.query(wh, "ti", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(wh.describeDetail("ti_postings").toMap
      .apply("numDeletionVectors").toInt >= 1)
    // fold the hollowed files: size-tiered compaction rewrites only
    // DV-carrying/small postings files, then the sidecars are gone
    spark.sql("OPTIMIZE ti_postings SMALL TARGET 100000 MIN 100000")
    assert(wh.describeDetail("ti_postings").toMap
      .apply("numDeletionVectors").toInt == 0)
    val after = TextIndex.query(wh, "ti", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(after == answer, "compaction changed answers")
    // and maintenance keeps composing: refresh still finds nothing
    assert(TextIndex.refresh(wh, "ti", docs) == 0L)
  }

  test("df segments: refresh and remove append, never rewrite the vocabulary table") {
    val whDir = tmp("ti_seg")
    val wh = new Warehouse(spark, whDir)
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs.filter(col("doc_id") < 300))
    def dfFiles(): Map[String, Long] = {
      val dir = new java.io.File(whDir, "ti_df")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val before = dfFiles()
    TextIndex.refresh(wh, "ti", docs)
    val afterRefresh = dfFiles()
    assert(before.forall { case (f, m) => afterRefresh.get(f).contains(m) },
      "refresh rewrote df files - the segment design appends only")
    assert(afterRefresh.size > before.size)
    TextIndex.remove(wh, "ti", Seq(5L))
    val afterRemove = dfFiles()
    assert(afterRefresh.forall { case (f, m) =>
      afterRemove.get(f).contains(m) }, "remove rewrote df files")
    // a term whose segments net to zero stops existing: all docs that
    // contain it removed -> its score contribution is gone (query path
    // drops df <= 0 terms); spot-check via a full-query equality
    val whRef = new Warehouse(spark, tmp("ti_segref"))
    TextIndex.build(whRef, "ti", docs.filter(col("doc_id") =!= 5L))
    val a = TextIndex.query(wh, "ti", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val b = TextIndex.query(whRef, "ti", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(a == b)
  }

  test("phrase search: positional index equals the scan form, duplicate terms included") {
    val wh = new Warehouse(spark, tmp("ti_phrase"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs)
    for (phrase <- Seq(Seq("hash", "join"), Seq("table", "table"),
        Seq("fast"), Seq("key", "agg", "row"))) {
      val scan = TextAnalysis.phraseCounts(docs, phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val idx = TextIndex.phraseQuery(wh, "ti", phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(idx == scan, s"phrase $phrase diverged:\nscan=$scan\nidx =$idx")
    }
    // a phrase that never occurs yields no rows from either path
    assert(TextIndex.phraseQuery(wh, "ti",
      Seq("hash", "hash", "hash", "hash", "hash")).count() == 0)
  }

  test("NEAR search: positional index equals the scan form") {
    val wh = new Warehouse(spark, tmp("ti_near"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs)
    for ((a, b, w) <- Seq(("scan", "filter", 5), ("hash", "join", 1),
        ("table", "table", 3))) {
      val scan = TextAnalysis.nearCounts(docs, a, b, w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val idx = TextIndex.nearQuery(wh, "ti", a, b, w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(idx == scan, s"NEAR($a,$b,$w) diverged:\nscan=$scan\nidx =$idx")
      assert(scan.nonEmpty || a == "zzz")
    }
  }

  test("queryTextBatch: raw query strings ≡ the term form through the index's own tokenizer; blank text refuses") {
    val wh = new Warehouse(spark, tmp("ti_text"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs)
    val termQueries = Seq(
      (1L, terms),
      (2L, Seq(terms(1), terms.head)),
      (3L, Seq(terms.last)))
    // text = whitespace-joined terms: the index tokenizer (whitespace
    // split of lowercased trimmed text) recovers exactly the term list
    // — INCLUDING when the caller's casing differs
    val textQueries = termQueries.map { case (qid, ts) =>
      (qid, ts.mkString("  ").toUpperCase + " ")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val byTerms = rows(TextIndex.queryBatch(wh, "ti", termQueries, 10))
    val byText = rows(TextIndex.queryTextBatch(wh, "ti", textQueries, 10))
    assert(byText == byTerms,
      s"text form ≠ term form:\ntext=$byText\nterm=$byTerms")
    // the tokenization oracle is a LocalRelation projection — no table
    // read anywhere in the query-term derivation
    val dScans = tokenizedFrame(spark, textQueries)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(dScans.isEmpty, s"tokenization scanned a file:\n$dScans")
    // a blank query refuses loudly, like the term form's empty-list
    val e = intercept[IllegalArgumentException] {
      TextIndex.queryTextBatch(wh, "ti", Seq((9L, "   ")), 10)
    }
    assert(e.getMessage.contains("tokenizes to no terms"))
  }

  test("the driver-side tokenizer ≡ tokenizedFrame ≡ the terms build stored in _postings, on adversarial text; blank text refuses") {
    val wh = new Warehouse(spark, tmp("ti_tok"))
    import spark.implicits._
    // Unicode case mappings (dotted capital I, final sigma, sharp s,
    // ligatures), whitespace Spark's trim keeps (it strips only
    // U+0020: tab and newline inside and at the edges; NBSP, which
    // the \s+ split does not split on either), punctuation, repeated
    // terms, blank and whitespace-only text
    val texts = Seq(
      "İstanbul İİ", "ΣΊΣΥΦΟΣ ΟΔΟΣ", "Straße STRASSE ß", "ﬁle ﬂow Ǆ",
      "\tlead tab", "trail tab\t", "in\ttab", "\u00a0nbsp\u00a0edge\u00a0",
      "in\u00a0nbsp", "\nline\nbreak\n", " \r\n mixed \t ",
      "punct, end. (paren) don't e-mail!", "rep rep REP Rep rep",
      "", "   ", "\t", " \t\n ", "\u00a0")
    val byId = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    TextIndex.build(wh, "ti", byId.toDF("doc_id", "text"))
    // each doc's stored token sequence: its terms placed at their
    // positions (the executors' codegen tokenize at build time)
    val stored = wh.table("ti_postings").collect()
      .groupBy(_.getAs[Long]("doc_id")).map { case (id, rs) =>
        id -> rs.toSeq.flatMap(r => r.getSeq[Int](r.fieldIndex("pos"))
          .map(_ -> r.getAs[String]("term"))).sortBy(_._1).map(_._2)
      }
    val oracle = tokenizedFrame(spark, byId)
      .as[(Long, Seq[String])].collect().toMap
    val tokenize = TextIndex.tokenizer(spark)
    byId.foreach { case (id, t) =>
      val got = tokenize(t)
      assert(got == oracle(id), s"≠ tokenizedFrame for ${t.toSeq}")
      assert(got == stored(id), s"≠ stored postings for ${t.toSeq}")
      if (got.exists(_.nonEmpty))
        assert(TextIndex.tokenizeQueries(spark, Seq((7L, t))) ==
          Seq((7L, got)))
      else {
        val e = intercept[IllegalArgumentException] {
          TextIndex.tokenizeQueries(spark, Seq((7L, t)))
        }
        assert(e.getMessage.contains("query 7 tokenizes to no terms"),
          e.getMessage)
      }
    }
    // the fixture exercises both sides of the refusal, and Spark's
    // trim keeping a tab yields an empty leading term that build stores
    assert(texts.count(t => !tokenize(t).exists(_.nonEmpty)) == 4)
    assert(stored(4L) == Seq("", "lead", "tab"), stored(4L).toString)
  }

  test("foldTombstones: dead guards fold, live ones survive; refresh still cannot resurrect; count bounded across cycles") {
    val wh = new Warehouse(spark, tmp("ti_fold"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs)
    // remove two docs; the source still carries BOTH -> guards live
    TextIndex.remove(wh, "ti", Seq(3L, 4L))
    assert(wh.table("ti_gone").count() == 2)
    assert(TextIndex.foldTombstones(wh, "ti", docs) == 0)
    assert(wh.table("ti_gone").count() == 2)
    assert(TextIndex.refresh(wh, "ti", docs) == 0) // guard works
    // the base forgets doc 3 -> its guard is dead; doc 4's stays
    val shrunk = docs.filter(col("doc_id") =!= 3L)
    assert(TextIndex.foldTombstones(wh, "ti", shrunk) == 1)
    assert(wh.table("ti_gone").collect().map(_.getLong(0)).toSeq
      == Seq(4L))
    // refresh from the shrunk source resurrects NEITHER: 3 is absent
    // from the source, 4 is still tombstoned
    assert(TextIndex.refresh(wh, "ti", shrunk) == 0)
    assert(wh.table("ti_doclen")
      .filter(col("doc_id").isin(3L, 4L)).isEmpty)
    // bounded state across N remove -> base-drop -> fold cycles: the
    // tombstone list never accumulates dead guards
    var src = shrunk
    for (id <- Seq(10L, 11L, 12L, 13L)) {
      TextIndex.remove(wh, "ti", Seq(id))
      src = src.filter(col("doc_id") =!= id)
      TextIndex.foldTombstones(wh, "ti", src)
    }
    assert(wh.table("ti_gone").count() == 1,
      "tombstones accumulated across remove/fold cycles")
  }

  test("optimize: df major fold + debris pack + tombstone fold; answers byte-identical; ≡ from-scratch build on the surviving corpus") {
    val wh = new Warehouse(spark, tmp("ti_opt"))
    val docs = Tables.documents(spark, sf)
    // the b17 lifecycle: incremental build-out, then a removal
    TextIndex.build(wh, "ti", docs.filter(col("doc_id") % 4 === 0))
    (1 to 3).foreach { r =>
      TextIndex.refresh(wh, "ti", docs.filter(col("doc_id") % 4 <= r))
      ()
    }
    TextIndex.remove(wh, "ti", Seq(3L, 7L))
    def desc() = TextIndex.describe(wh, "ti").toMap
    val d0 = desc()
    // segments really accumulated: more df rows than live terms
    val liveTerms = wh.table("ti_df").groupBy("term")
      .agg(sum("df").as("df")).filter(col("df") > 0).count()
    assert(d0("df_segment_rows").toLong > liveTerms,
      "fixture produced no df segments — the fold has nothing to prove")
    val before = TextIndex.query(wh, "ti", terms, 30).collect().toSeq
    val beforeBatch = TextIndex.queryBatch(wh, "ti",
      Seq((1L, terms), (2L, Seq(terms.head))), 20).collect().toSeq
    // source = the FULL corpus (still carries 3 and 7): guards live
    val r1 = TextIndex.optimize(wh, "ti", source = Some(docs)).toMap
    assert(r1("df_segments_folded") ==
      d0("df_segment_rows").toLong - liveTerms)
    assert(r1("tombstones_dropped") == 0L)
    val d1 = desc()
    assert(d1("df_segment_rows").toLong == liveTerms)
    assert(d1("postings_files").toInt < d0("postings_files").toInt,
      s"debris pack bought nothing: ${d0("postings_files")} -> " +
        d1("postings_files"))
    assert(d1("tombstones") == "2")
    // answers byte-identical through both serving paths
    assert(TextIndex.query(wh, "ti", terms, 30).collect().toSeq
      == before, "optimize changed single-query answers")
    assert(TextIndex.queryBatch(wh, "ti",
      Seq((1L, terms), (2L, Seq(terms.head))), 20).collect().toSeq
      == beforeBatch, "optimize changed batch answers")
    // removal still effective: a refresh from the full corpus
    // resurrects nothing
    assert(TextIndex.refresh(wh, "ti", docs) == 0L)
    // idempotent: a second run folds nothing and rewrites nothing
    val dfDetail0 = wh.describeDetail("ti_df").toMap.apply("version")
    val r2 = TextIndex.optimize(wh, "ti", source = Some(docs)).toMap
    assert(r2("df_segments_folded") == 0L)
    assert(wh.describeDetail("ti_df").toMap.apply("version") == dfDetail0,
      "an already-folded df table was rewritten anyway")
    // the maintained index ≡ a from-scratch build on the survivors
    val whRef = new Warehouse(spark, tmp("ti_optref"))
    TextIndex.build(whRef, "ti", docs.filter(!col("doc_id").isin(3L, 7L)))
    assert(TextIndex.query(wh, "ti", terms, 30).collect().toSeq ==
      TextIndex.query(whRef, "ti", terms, 30).collect().toSeq,
      "maintained index diverged from a from-scratch build")
  }

  test("servingSnapshotAt: a past answer reproduces exactly; commits after the instant are invisible") {
    val wh = new Warehouse(spark, tmp("ti_asof"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs.filter(col("doc_id") < 250))
    val past = TextIndex.query(wh, "ti", terms, 20).collect().toSeq
    Thread.sleep(20)
    val t1 = java.time.Instant.now()
    Thread.sleep(20)
    TextIndex.refresh(wh, "ti", docs)
    val now = TextIndex.query(wh, "ti", terms, 20).collect().toSeq
    assert(now != past,
      "fixture: the refresh must change the served answer")
    // the incident question — "what did the index answer at t1?" —
    // replays bit-for-bit through the historical cut, even though
    // the live index has moved on
    val replay = TextIndex.queryOn(
      TextIndex.servingSnapshotAt(wh, "ti", t1), "ti", terms, 20)
      .collect().toSeq
    assert(replay == past,
      "historical serving cut failed to reproduce the past answer")
  }

  test("servingSnapshotHeld: a held cut serves correctly ACROSS vacuum; release reclaims and a stale re-hold of the reaped cut is loud") {
    val wh = new Warehouse(spark, tmp("ti_held"))
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs.filter(col("doc_id") < 250))
    val (held, release) = TextIndex.servingSnapshotHeld(wh, "ti", "svc")
    val past = TextIndex.queryOn(held, "ti", terms, 20).collect().toSeq
    // the index moves on: refresh appends, optimize REWRITES the df
    // and postings files — the held versions' storage is exactly what
    // an unshielded vacuum would reap
    TextIndex.refresh(wh, "ti", docs)
    TextIndex.optimize(wh, "ti")
    TextIndex.servingTables("ti").foreach(t => wh.vacuum(t, 0L, 1))
    // the held cut still answers — version-exact, through reaped-
    // for-everyone-else storage the pin kept alive
    assert(TextIndex.queryOn(held, "ti", terms, 20).collect().toSeq
      == past, "held cut diverged after vacuum")
    // fresh cuts see the refreshed index, untouched by the shield
    assert(TextIndex.query(wh, "ti", terms, 20).collect().toSeq != past)
    release()
    TextIndex.servingTables("ti").foreach { t =>
      assert(wh.pinnedVersions(t).isEmpty, s"$t still pinned")
      wh.vacuum(t, 0L, 1)
    }
    // the reaped versions now refuse loudly at re-resolution
    val stale = intercept[IllegalArgumentException] {
      wh.tableAt("ti_df", 1L)
    }
    assert(stale.getMessage.contains("not retained"), stale.getMessage)
  }

  test("audit: a maintained index is invariant-clean; a resurrected posting, an orphan posting, and a poisoned df segment each surface as a named error") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("ti_audit")).enableSql()
    val docs = Tables.documents(spark, sf)
    TextIndex.build(wh, "ti", docs.filter(col("doc_id") < 100))
    TextIndex.refresh(wh, "ti", docs)
    TextIndex.remove(wh, "ti", Seq(3L, 4L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3))).toSeq
    val clean = rows(TextIndex.audit(wh, "ti"))
    assert(clean.nonEmpty && clean.forall(_._2 == "ok"), clean.toString)
    assert(clean.map(_._1).toSet == Set("tombstones", "membership",
      "stats", "df_segments"), clean.toString)
    // SQL twin
    val sql = spark.sql("AUDIT SEARCH INDEX ti").collect()
    assert(sql.nonEmpty && sql.forall(_.getString(1) == "ok"),
      sql.mkString(", "))

    // a maintenance bug resurrects a removed doc's posting. Inject from
    // typed tuples — primitive-element Seq encoders carry
    // containsNull = false, the committed array shape (a frame derived
    // from the parquet READ would relax it to true and the append
    // would refuse the retype — the alignment guard working as built)
    val donorRow = wh.table("ti_postings").first()
    def inject(docId: Long): Unit =
      wh.append("ti_postings", Seq((
        donorRow.getAs[String]("term"), docId,
        donorRow.getAs[Long]("tf"), donorRow.getAs[Long]("dl"),
        donorRow.getAs[Seq[Int]]("pos").toVector))
        .toDF("term", "doc_id", "tf", "dl", "pos"))
    inject(3L)
    // and writes a posting for a doc with no membership row
    inject(90001L)
    // and a df segment for a term nobody holds
    wh.append("ti_df", Seq(("zzzghostterm", 5L)).toDF("term", "df"))
    val res = rows(TextIndex.audit(wh, "ti"))
    assert(res.exists(r => r._1 == "tombstones" && r._2 == "error" &&
      r._4.contains("1 removed docs")), res.toString)
    assert(res.exists(r => r._1 == "membership" && r._2 == "error" &&
      r._3 == "doclen"), res.toString)
    assert(res.exists(r => r._1 == "df_segments" && r._2 == "error"),
      res.toString)
    assert(res.head._2 == "error", res.toString)
  }
}

object TextIndexSpec {

  /** The parity oracle for [[TextIndex.tokenizer]]: the index's
    * tokenizer Column over a LocalRelation of (query_id, qtext) — the
    * tokenization plan the serving path ran before it tokenized on the
    * driver. */
  def tokenizedFrame(
      spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, String)]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        TextAnalysis.tokens(lower(col("qtext"))).as("ts"))
  }
}
