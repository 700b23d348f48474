package graft

import graft.olist.Warehouse
import graft.operators.{AnnIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Warehouse-maintained IVF-PQ index: build / refresh / query
  * lifecycle, the incremental-≡-batch encode invariant, and the
  * partition-pruned probe read path. */
class AnnIndexSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("build → query: ≥8/10 recall vs exact; codes partitioned by cell; probe reads only probed cells' files") {
    val wh = new Warehouse(spark, tmp("ann_idx"))
    val emb = Tables.embeddings(spark, sf)
    assert(AnnIndex.build(wh, "ann", emb) == emb.count())
    // layout: the codes table is partitioned by cell, so a cell probe
    // reads only that cell's files — the mechanism query()'s
    // `cell IN (probed)` rides
    val cell0 = wh.table("ann_codes").select("cell").first().getInt(0)
    val files = wh.table("ann_codes").filter(col("cell") === cell0)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains(s"cell=$cell0")),
      s"probe leaked outside cell=$cell0: ${files.mkString(", ")}")
    // recall floor vs the exact brute-force ranking (e13's grade)
    val exact = SparkEntry.queries("e1_cosine_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val got = AnnIndex.query(wh, "ann", emb, queryId = 0L)
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 10)
    assert((exact intersect got).size >= 8,
      s"stored-index recall too low: exact=$exact got=$got")
  }

  test("nProbe must be >= 1: a zero-cell probe refuses loudly instead of spinning or answering nothing") {
    val wh = new Warehouse(spark, tmp("ann_np0"))
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    AnnIndex.build(wh, "ann", emb, nCells = 4, m = 4, k = 8)
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.query(wh, "ann", emb, queryId = 0L, nProbe = 0,
        filter = Some(col("vec_id") % 2 === 0))
    }
    assert(e1.getMessage.contains("nProbe"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.queryBatch(wh, "ann", emb, Seq(0L), nProbe = 0)
    }
    assert(e2.getMessage.contains("nProbe"), e2.getMessage)
  }

  test("refresh: encodes only the delta with the frozen codebook; incremental ≡ batch encode; idempotent") {
    val wh = new Warehouse(spark, tmp("ann_idx2"))
    val emb = Tables.embeddings(spark, sf)
    val first = emb.filter(col("vec_id") < 400)
    assert(AnnIndex.build(wh, "ann", first) == 400)
    val v0 = wh.tableVersions("ann_codes").last
    // delta = the 100 held-out vectors; nothing else re-encodes
    assert(AnnIndex.refresh(wh, "ann", emb) == emb.count() - 400)
    assert(wh.table("ann_codes").count() == emb.count())
    // the frozen-codebook invariant: the incrementally-maintained table
    // is row-for-row what a from-scratch batch encode of the FULL
    // corpus under the SAME stored codebooks produces — PQ codes via
    // pqCodes(m=8), the coarse cell via pqCodes(m=1) (whose one-byte
    // code IS the cell id)
    val unit = Similarity.l2Normalized(emb)
    val batch = Similarity.pqCodes(unit,
        Similarity.collectCents(wh.table("ann_codebook")), m = 8)
      .join(Similarity.pqCodes(unit,
          Similarity.collectCents(wh.table("ann_coarse")), m = 1)
        .select(col("vec_id"),
          element_at(col("codes"), 1).cast("int").as("cell")), "vec_id")
    val stored = wh.table("ann_codes")
    assert(stored.join(batch, Seq("vec_id"))
      .filter(stored("cell") =!= batch("cell") ||
        stored("codes") =!= batch("codes")).count() == 0,
      "incremental encode diverged from batch encode")
    // idempotent: a second refresh finds no delta and commits nothing
    val v1 = wh.tableVersions("ann_codes").last
    assert(AnnIndex.refresh(wh, "ann", emb) == 0L)
    assert(wh.tableVersions("ann_codes").last == v1 && v1 > v0)
    // and the refreshed index still answers with full recall floor
    val exact = SparkEntry.queries("e1_cosine_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val got = AnnIndex.query(wh, "ann", emb, queryId = 0L)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect got).size >= 8,
      s"post-refresh recall too low: exact=$exact got=$got")
  }

  test("streamRefresh: micro-batches extend the index exactly once; replayed rows are no-ops; index queryable throughout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = new Warehouse(spark, tmp("ann_idx3"))
    val emb = Tables.embeddings(spark, sf).cache()
    AnnIndex.build(wh, "ann", emb.filter(col("vec_id") < 400))
    val rows = emb.filter(col("vec_id") >= 400)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1), r.getInt(2))).toSeq
    val src = MemoryStream[(Long, Seq[Float], Int)]
    val q = AnnIndex.streamRefresh(wh, "ann",
      src.toDF().toDF("vec_id", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<float>")),
      tmp("ann_ckpt"))
    try {
      val (b1, b2) = rows.splitAt(50)
      src.addData(b1: _*); q.processAllAvailable()
      assert(wh.table("ann_codes").count() == 450)
      src.addData(b2: _*); q.processAllAvailable()
      assert(wh.table("ann_codes").count() == 500)
      // a replayed batch (at-least-once delivery) encodes nothing new
      val v = wh.tableVersions("ann_codes").last
      src.addData(b1: _*); q.processAllAvailable()
      assert(wh.table("ann_codes").count() == 500)
      assert(wh.tableVersions("ann_codes").last == v,
        "replay must not commit")
      // and the maintained index answers with the recall floor
      val exact = SparkEntry.queries("e1_cosine_topk")(spark, sf)
        .collect().map(_.getLong(0)).toSet
      val got = AnnIndex.query(wh, "ann", emb, queryId = 0L)
        .collect().map(_.getLong(0)).toSet
      assert((exact intersect got).size >= 8)
    } finally { q.stop(); emb.unpersist() }
  }

  test("filtered search: predicate applied inside the probe; full k results, all satisfying it; exact under full probe") {
    val wh = new Warehouse(spark, tmp("ann_idx4"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    // post-filtering would return < k here: only ~1/10 of the corpus
    // has this label, so most of an unfiltered top-10 fails it
    val got = AnnIndex.query(wh, "ann", emb, queryId = 0L,
      nProbe = 8, filter = Some(col("label") === 3))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10, s"filtered search must still fill k: ${got.length}")
    val labels = emb.filter(col("label") === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => labels.contains(r._1)),
      "a result escaped the predicate")
    // with every cell probed the admissible set fits inside
    // overquery*topK, so the exact re-rank sees ALL of it — the result
    // IS the brute-force filtered ranking computed straight off the
    // source, not an approximation
    import graft.functions.VectorFunctions
    val qe = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qe"))
    val brute = emb.filter(col("label") === 3).crossJoin(broadcast(qe))
      .select(col("vec_id"),
        round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
          (VectorFunctions.normExact(col("embedding")) *
            VectorFunctions.normExact(col("qe"))), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == brute.toSeq, s"got=${got.toSeq} brute=${brute.toSeq}")
  }

  test("filtered search auto-widens: qualifiers outside the nProbe nearest cells still fill k; fewer matches than k exhausts every cell and returns them all") {
    val wh = new Warehouse(spark, tmp("ann_widen"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    // a 2%-selective predicate — exactly 10 qualifying vectors at
    // sf0.001, scattered across cells, so the single nearest cell
    // nProbe = 1 probes cannot hold them all: the pre-widening
    // behavior returned < k here with no signal
    val pred = col("vec_id") % 50 === 0
    val allow = emb.filter(pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(allow.size == 10)
    val cellOf = wh.table("ann_codes").select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(allow.groupBy(cellOf).map(_._2.size).max < 10,
      "premise: no single cell may hold every qualifier")
    val got = AnnIndex.query(wh, "ann", emb, queryId = 0L, topK = 10,
      nProbe = 1, filter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10,
      s"auto-widening must fill k: got ${got.length}")
    // widening stops only once every qualifier is inside the probed
    // cells (only 10 exist), and 10 ≤ overquery·topK admits them all —
    // the answer IS the brute-force filtered ranking
    import graft.functions.VectorFunctions
    val qe = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qe"))
    val brute = emb.filter(pred).crossJoin(broadcast(qe))
      .select(col("vec_id"),
        round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
          (VectorFunctions.normExact(col("embedding")) *
            VectorFunctions.normExact(col("qe"))), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == brute.toSeq, s"got=${got.toSeq} brute=${brute.toSeq}")
    // the batch form widens per query to the identical answers
    val batch = AnnIndex.queryBatch(wh, "ann", emb, Seq(0L, 1L),
      topK = 10, nProbe = 1, filter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    Seq(0L, 1L).foreach { qid =>
      val single = AnnIndex.query(wh, "ann", emb, qid, topK = 10,
        nProbe = 1, filter = Some(pred))
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.filter(_._1 == qid).toSeq == single,
        s"batch diverged from the widened single probe for query $qid")
    }
    // fewer matches than k: widening exhausts every cell and returns
    // ALL of them — a short result now MEANS the matches don't exist
    val five = AnnIndex.query(wh, "ann", emb, queryId = 0L, topK = 10,
      nProbe = 1, filter = Some(col("vec_id") % 100 === 0))
      .collect().map(_.getLong(0))
    assert(five.length == 5 && five.toSet ==
      Set(0L, 100L, 200L, 300L, 400L), five.mkString(", "))
  }

  test("property: random selective predicates fill min(k, matches) under widening, all qualifying, scores ordered; full probe ≡ brute-force filtered ranking — seeded sweep") {
    import graft.functions.VectorFunctions
    val wh = new Warehouse(spark, tmp("ann_widen_prop"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    val qids = Seq(0L, 7L)
    val qvecs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1): Seq[Double])).toMap
    val rnd = new scala.util.Random(1234)
    // moduli give 5–18 qualifiers at sf0.001 (500 vectors) — every
    // predicate is selective enough to defeat a 1-cell probe. The
    // contract under test is the widening's: exactly min(k, matches)
    // rows, every one qualifying, scores non-increasing — NOT exact
    // top-k (widening preserves the probe's IVF-approximate ranking:
    // it stops once k qualifiers are inside the probed cells, and a
    // qualifier outside them can still outrank — the same recall
    // trade the unfiltered probe makes). The FULL-probe form is where
    // exactness is owed, and it must equal brute force.
    Seq(29, 37, 53, 83, 101).foreach { m =>
      val r = rnd.nextInt(m)
      val pred = col("vec_id") % m === r
      val want = emb.filter(pred).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      val got = AnnIndex.queryVecBatch(wh, "ann", emb,
        qids.map(q => q -> qvecs(q)), topK = 10, nProbe = 1,
        filter = Some(pred))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      val full = AnnIndex.queryVecBatch(wh, "ann", emb,
        qids.map(q => q -> qvecs(q)), topK = 10, nProbe = 8,
        overquery = 50, filter = Some(pred))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      qids.foreach { q =>
        val mine = got.filter(_._1 == q).map(x => (x._2, x._3)).toSeq
        assert(mine.length == math.min(10, want.size),
          s"m=$m r=$r q=$q: ${mine.length} rows for ${want.size} matches")
        assert(mine.forall(x => want.contains(x._1)),
          s"m=$m r=$r q=$q: a result escaped the predicate")
        assert(mine.map(_._2) == mine.map(_._2).sorted.reverse,
          s"m=$m r=$r q=$q: scores not non-increasing")
        val brute = emb.filter(pred).crossJoin(broadcast(
            emb.filter(col("vec_id") === q)
              .select(col("embedding").as("qe"))))
          .select(col("vec_id"),
            round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
              (VectorFunctions.normExact(col("embedding")) *
                VectorFunctions.normExact(col("qe"))), 12).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id").asc).limit(10)
          .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
        val fullQ = full.filter(_._1 == q).map(x => (x._2, x._3)).toSeq
        assert(fullQ == brute, s"m=$m r=$r q=$q:\n$fullQ\n$brute")
      }
    }
  }

  test("refresh dedups within one batch: a replayed id landing twice appends a single code row") {
    val wh = new Warehouse(spark, tmp("ann_idx5"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb.filter(col("vec_id") < 400))
    // delta carrying vec_id 450 twice (producer retry inside the batch)
    val dup = emb.filter(col("vec_id") >= 400)
      .union(emb.filter(col("vec_id") === 450L))
    assert(AnnIndex.refresh(wh, "ann", dup) == 100)
    assert(wh.table("ann_codes").count() == 500)
    assert(wh.table("ann_codes")
      .filter(col("vec_id") === 450L).count() == 1)
  }

  test("hybridQuery: stored sparse + dense lanes fuse to the scan-time composition under a full probe") {
    import org.apache.spark.sql.expressions.Window
    val wh = new Warehouse(spark, tmp("ann_hyb"))
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    operators.TextIndex.build(wh, "ti", docs)
    val terms = operators.TextAnalysis.bm25Query
    val got = AnnIndex.hybridQuery(wh, "ann", "ti", emb, terms,
      queryId = 0L, topK = 10, nProbe = 8, overquery = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    // reference: the same fusion built from the SCAN-TIME lanes —
    // bm25TopK's positive prefix and the exact dense ranking (the full
    // probe + deep overquery make the stored dense lane exact too)
    val sparse = operators.TextAnalysis.bm25TopK(docs, terms, 50)
      .filter(col("score") > 0.0)
      .withColumn("r", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select("doc_id", "r")
    import graft.functions.VectorFunctions
    val qe = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qe"))
    val dense = emb.crossJoin(broadcast(qe))
      .select(col("vec_id"),
        round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
          (VectorFunctions.normExact(col("embedding")) *
            VectorFunctions.normExact(col("qe"))), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(50)
      .withColumn("r", row_number()
        .over(Window.orderBy(col("cosine").desc, col("vec_id"))))
      .select("vec_id", "r")
    val expect = Similarity.rrfFuse(Seq(sparse, dense), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got == expect, s"got=$got\nexpect=$expect")
  }

  test("hybridQueryBatch ≡ the hybridQuery loop row-for-row") {
    val wh = new Warehouse(spark, tmp("ann_hyb_batch"))
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    operators.TextIndex.build(wh, "ti", docs)
    val queries = Seq(
      (0L, operators.TextAnalysis.bm25Query),
      (7L, Seq(operators.TextAnalysis.bm25Query.head, "data")),
      (42L, Seq("data")))
    val loop = queries.flatMap { case (qid, ts) =>
      AnnIndex.hybridQuery(wh, "ann", "ti", emb, ts, qid, topK = 10)
        .collect().map(r => (qid, r.getLong(0),
          Option(r.get(1)).map(_.toString).orNull,
          Option(r.get(2)).map(_.toString).orNull, r.getDouble(3)))
    }
    val batch = AnnIndex.hybridQueryBatch(wh, "ann", "ti", emb, queries,
        topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.toString).orNull,
        Option(r.get(3)).map(_.toString).orNull, r.getDouble(4))).toSeq
    assert(batch == loop,
      s"hybrid batch ≠ per-query loop:\nbatch=$batch\nloop =$loop")
  }

  test("remove: DV-deleted vectors vanish from probes; untouched code files byte-identical") {
    val whDir = tmp("ann_rm")
    val wh = new Warehouse(spark, whDir)
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    val top = AnnIndex.query(wh, "ann", emb, queryId = 0L)
      .collect().map(_.getLong(0)).toSeq
    val victim = top(1) // a real result (not the query itself)
    def codeFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(whDir, "ann_codes"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val before = codeFiles()
    assert(AnnIndex.remove(wh, "ann", Seq(victim)) == 1L)
    val after = codeFiles()
    assert(before.forall { case (f, m) => after.get(f).contains(m) },
      "point delete must take the DV path (files rewritten)")
    val top2 = AnnIndex.query(wh, "ann", emb, queryId = 0L)
      .collect().map(_.getLong(0)).toSeq
    assert(!top2.contains(victim) && top2.size == 10)
    // survivors keep their exact order; one newcomer fills the tail
    assert(top2.take(9) == top.filterNot(_ == victim), top2.toString)
    assert(!top.contains(top2.last))
    // the tombstone outlives maintenance: a refresh whose source STILL
    // carries the removed vector must not resurrect it
    assert(AnnIndex.refresh(wh, "ann", emb) == 0L)
    assert(AnnIndex.query(wh, "ann", emb, queryId = 0L)
      .collect().map(_.getLong(0)).toSeq == top2)
  }

  test("drift: recall decays under corpus turnover; retrain ≡ rebuild restores it; tombstones survive") {
    val wh = new Warehouse(spark, tmp("ann_drift"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    // complete corpus turnover into a distribution the frozen
    // codebooks never saw (a nonlinear warp — the new wave's subspace
    // geometry no longer matches the trained centroids): the new wave
    // lands via refresh, the old wave is forgotten via remove. The
    // exact re-rank keeps every ANSWER correct; what decays silently
    // is WHICH candidates the cells + codes surface — recallProbe is
    // the number that makes that visible.
    val shifted = emb.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"),
        x => greatest(x, lit(0.0)) + lit(0.05)).as("embedding"),
      col("label"))
    assert(AnnIndex.refresh(wh, "ann", shifted) == emb.count())
    val oldIds = emb.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(AnnIndex.remove(wh, "ann", oldIds) == oldIds.size.toLong)
    val qids = AnnIndex.probeQueryIds(wh, "ann", shifted, 10)
    val before = AnnIndex.recallProbe(wh, "ann", shifted, qids)
    // a removed vector must stay out through the retrain — and out of
    // the probe's GROUND TRUTH: recallProbe measures the index against
    // the live corpus, so the tombstoned victim deflates nothing even
    // though the source frame still carries it
    val victim = shifted.select("vec_id")
      .filter(!col("vec_id").isin(qids: _*)).first().getLong(0)
    AnnIndex.remove(wh, "ann", Seq(victim))
    assert(AnnIndex.retrain(wh, "ann", shifted) == shifted.count() - 1)
    val after = AnnIndex.recallProbe(wh, "ann", shifted, qids)
    assert(after >= 0.55 && after >= before + 0.1,
      s"retrain must materially restore recall: before=$before after=$after")
    // retrain IS a rebuild, atomically swapped: a from-scratch index
    // over the same live set measures the IDENTICAL recall (the
    // deterministic sample/train/encode path makes this exact). wh2
    // has no tombstones, so its live set is pinned by filtering the
    // source — the same corpus wh's gone-anti-join derives.
    val wh2 = new Warehouse(spark, tmp("ann_drift_ref"))
    AnnIndex.build(wh2, "ann", shifted.filter(col("vec_id") =!= victim))
    val fresh = AnnIndex.recallProbe(wh2, "ann",
      shifted.filter(col("vec_id") =!= victim), qids)
    assert(after == fresh,
      s"retrain ≠ rebuild: retrained=$after fresh=$fresh")
    assert(wh.table("ann_codes")
      .filter(col("vec_id") === victim).count() == 0,
      "retrain resurrected a tombstoned vector")
    // the scheduled-maintenance composition: a below-SLO probe
    // retrains (idempotent here — the codebooks re-derive from the
    // same live set, so recall lands exactly where it is); a healthy
    // probe leaves the index alone
    val (pb, pr) = AnnIndex.maintain(wh, "ann", shifted,
      slo = after + 0.01, sampleQueries = 10)
    assert(pb == after && pr.contains(after), s"got ($pb, $pr)")
    val (hb, hr) = AnnIndex.maintain(wh, "ann", shifted,
      slo = after - 0.01, sampleQueries = 10)
    assert(hb == after && hr.isEmpty, s"got ($hb, $hr)")
  }

  test("geometry is frozen in _meta: maintain/retrain preserve a non-default shape; mismatched explicit params refuse") {
    val wh = new Warehouse(spark, tmp("ann_geo"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb, nCells = 16, m = 4, k = 8)
    def shape(): (Long, Int, Long) = {
      val km = wh.table("ann_codebook")
        .agg(max(col("sub")), countDistinct(col("cid"))).first()
      (wh.table("ann_coarse").count(), km.getInt(0) + 1, km.getLong(1))
    }
    assert(AnnIndex.geometry(wh, "ann") == ((16, 4, 8)))
    assert(shape() == ((16L, 4, 8L)))
    // a scheduled maintenance run that triggers a retrain (slo above
    // any achievable recall) must rebuild the codebooks AT THE FROZEN
    // SHAPE — the default-params re-shape this test exists to forbid
    AnnIndex.maintain(wh, "ann", emb, slo = 1.01, sampleQueries = 5)
    assert(shape() == ((16L, 4, 8L)),
      "maintain re-shaped a non-default index to defaults")
    assert(AnnIndex.geometry(wh, "ann") == ((16, 4, 8)))
    // plain retrain: same invariant, and the index still serves
    AnnIndex.retrain(wh, "ann", emb)
    assert(shape() == ((16L, 4, 8L)))
    assert(AnnIndex.query(wh, "ann", emb, queryId = 0L).count() == 10)
    // explicit params that agree are accepted; any disagreement refuses
    AnnIndex.retrain(wh, "ann", emb, nCells = 16, m = 4, k = 8)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.retrain(wh, "ann", emb, nCells = 8, m = 8, k = 16)
    }
    // the refusal points the caller at the DELIBERATE re-shape lane
    assert(e.getMessage.contains("retrainAs"))
    assert(shape() == ((16L, 4, 8L)))
  }

  test("an index without its _meta table refuses loudly, naming the table, wherever the geometry is read") {
    val wh = new Warehouse(spark, tmp("ann_nometa"))
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    AnnIndex.build(wh, "ann", emb, nCells = 4, m = 4, k = 8)
    wh.dropTable("ann_meta")
    for ((what, run) <- Seq[(String, () => Any)](
        "geometry" -> (() => AnnIndex.geometry(wh, "ann")),
        "describe" -> (() => AnnIndex.describe(wh, "ann")),
        "retrain" -> (() => AnnIndex.retrain(wh, "ann", emb)),
        "audit" -> (() => AnnIndex.audit(wh, "ann").collect()))) {
      val e = intercept[RuntimeException](run())
      assert(e.getMessage.contains("ann_meta"), s"$what: ${e.getMessage}")
    }
  }

  test("default geometry on clustered unit vectors: approximate recall@10 vs brute force is bounded by the 5x ADC pool, not by the cells or the re-rank") {
    // 2,000 vectors in 10 tight clusters; query 0 sits in cluster 0,
    // so its true top-10 is 10 of that cluster's 200 members
    val wh = new Warehouse(spark, tmp("ann_recall"))
    val emb = clustered(10, 200, 64, jitter = 0.3, seed = 3)
      .localCheckpoint()
    AnnIndex.build(wh, "ann", emb) // 8 cells, m = 8, k = 16
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray)
    val q = vecs.find(_._1 == 0L).get._2
    def cos(a: Array[Double]): Double =
      a.zip(q).map { case (x, y) => x * y }.sum /
        math.sqrt(a.map(x => x * x).sum * q.map(x => x * x).sum)
    val truth = vecs.map { case (id, v) => (id, cos(v)) }
      .sortBy(t => (-t._2, t._1)).take(10).map(_._1).toSet
    def recall(nProbe: Int, overquery: Int, exact: Boolean = false): Int =
      (AnnIndex.query(wh, "ann", emb, queryId = 0L, nProbe = nProbe,
        overquery = overquery, exact = exact)
        .collect().map(_.getLong(0)).toSet intersect truth).size
    val default = recall(AnnIndex.DefaultNProbe, AnnIndex.DefaultOverquery)
    val allCells = recall(8, AnnIndex.DefaultOverquery)
    // a pool of 200 × 10 = every vector: each row of the 3 probed cells
    // is re-ranked exactly
    val wholeCells = recall(AnnIndex.DefaultNProbe, 200)
    info(s"recall@10: default $default/10, all 8 cells with the 5x " +
      s"pool $allCells/10, 3 cells re-ranked whole $wholeCells/10")
    // the probed cells hold the whole true top-10 and the exact
    // re-rank orders it right: no answer is lost outside the ADC stage
    assert(wholeCells == 10 && recall(1, 1, exact = true) == 10)
    // the loss is the ADC pool: 8×16 codes cannot order the 50 best
    // of a tight cluster's members, and probing more cells does not help
    assert(default == 5 && allCells == default,
      s"default $default, all cells $allCells")
  }

  test("queryBatch ≡ the per-query loop row-for-row, filtered search included") {
    val wh = new Warehouse(spark, tmp("ann_batch"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    val qids = Seq(0L, 7L, 13L, 42L, 111L)
    def loop(filter: Option[org.apache.spark.sql.Column])
        : Seq[(Long, Long, Double)] =
      qids.flatMap { qid =>
        AnnIndex.query(wh, "ann", emb, qid, filter = filter)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }
    def batch(filter: Option[org.apache.spark.sql.Column])
        : Seq[(Long, Long, Double)] =
      AnnIndex.queryBatch(wh, "ann", emb, qids, filter = filter)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    // row-for-row INCLUDING per-query order: same cells probed, same
    // round-6 ADC cut, same round-12 cosine, same tie-breaks
    assert(batch(None) == loop(None), "unfiltered batch ≠ query loop")
    val pred = Some(col("vec_id") % 3 === 0)
    assert(batch(pred) == loop(pred), "filtered batch ≠ query loop")
  }

  test("recallProbe schedules O(1) jobs in sampleQueries (the batched probe path)") {
    val wh = new Warehouse(spark, tmp("ann_probejobs"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    // count ONLY this thread's jobs via a job group — the suite may
    // share the session with concurrently-running suites
    def jobsDuring(tag: String)(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
              .contains(tag)) { n.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        spark.sparkContext.setJobGroup(tag, tag)
        body
        spark.sparkContext.clearJobGroup()
        // the listener bus is async — wait for the count to settle
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val cur = n.get()
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
        n.get()
      } finally {
        spark.sparkContext.removeSparkListener(l)
        spark.sparkContext.clearJobGroup()
      }
    }
    def probe(nq: Int): Double = {
      val qids = AnnIndex.probeQueryIds(wh, "ann", emb, nq)
      AnnIndex.recallProbe(wh, "ann", emb, qids)
    }
    val j2 = jobsDuring("probe2")(probe(2))
    val j10 = jobsDuring("probe10")(probe(10))
    // 5× the queries must not mean 5× the jobs — small slack for AQE
    // stage-count variance on the larger collect
    assert(j10 <= j2 + 3,
      s"recallProbe job count grows with sampleQueries: 2→$j2, 10→$j10")
  }

  test("queryVecBatch: literal vectors ≡ the id form bit-for-bit; the query-vector derivation never scans a table") {
    val wh = new Warehouse(spark, tmp("ann_vec"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    val ids = Seq(0L, 7L, 42L)
    // literal queries = the RAW stored vectors, widened float→double
    // (exact) — the caller-supplied shape; normalization happens
    // INSIDE through the same l2Normalized expression the id form uses
    val raw = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val queries = ids.map(id => id -> raw(id))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val byId = rows(AnnIndex.queryBatch(wh, "ann", emb, ids))
    val byVec = rows(AnnIndex.queryVecBatch(wh, "ann", emb, queries))
    assert(byVec == byId,
      s"literal ≠ id form:\nvec=$byVec\nid =$byId")
    // an UNSEEN vector (no stored row) is served: exact under a full
    // probe — the brute-force cosine of the SAME normalized query
    val unseen = raw(0L).zip(raw(7L)).map { case (a, b) => (a + b) / 2 }
    val gotU = rows(AnnIndex.queryVecBatch(wh, "ann", emb,
      Seq(999L -> unseen), topK = 10, overquery = 200, nProbe = 8))
    val qn = AnnIndex.normalizedQueryVecs(spark, Seq(999L -> unseen))
      .head._2
    import graft.functions.VectorFunctions
    val qlit = array(qn.toSeq.map(lit): _*)
    val exactU = emb
      .select(lit(999L).as("query_id"), col("vec_id"),
        round(VectorFunctions.dotExact(col("embedding"), qlit) /
          (VectorFunctions.normExact(col("embedding")) *
            VectorFunctions.normExact(qlit)), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(10)
    assert(gotU == rows(exactU),
      s"unseen-vector full probe ≠ exact:\ngot=$gotU\nexp=${rows(exactU)}")
    // the query-vector derivation is a LocalRelation projection — no
    // corpus (or any) table is scanned to produce the query side
    val dScans = AnnIndex.normalizedQueryFrame(spark, queries)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(dScans.isEmpty,
      s"query normalization scanned a file:\n$dScans")
    // the result plan reads exactly TWO tables: the cell-pruned codes
    // scan and the bounded re-rank against source
    val qe = AnnIndex.queryVecBatch(wh, "ann", emb, queries)
      .queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2,
      s"expected codes + re-rank scans only, got ${scans.size}:\n" +
        qe.sparkPlan)
    assert(scans.exists(_.partitionFilters.exists(
        _.toString.contains("cell"))),
      s"codes scan lost its cell partition pruning:\n${qe.sparkPlan}")
    // degenerate literals refuse loudly instead of returning NaN
    // garbage: the zero vector (0/0 normalization) and non-finite
    // components (poisoned distances)
    val dim = raw(0L).size
    val eZero = intercept[IllegalArgumentException] {
      AnnIndex.queryVecBatch(wh, "ann", emb,
        Seq(1L -> Seq.fill(dim)(0.0)))
    }
    assert(eZero.getMessage.contains("zero vector"))
    val eNan = intercept[IllegalArgumentException] {
      AnnIndex.queryVecBatch(wh, "ann", emb,
        Seq(1L -> (Double.NaN +: Seq.fill(dim - 1)(1.0))))
    }
    assert(eNan.getMessage.contains("non-finite"))
  }

  test("hybridQueryVecBatch: literal (text, vector) queries ≡ the id+terms form; tokenization is the index's own") {
    val wh = new Warehouse(spark, tmp("ann_hyb_vec"))
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    operators.TextIndex.build(wh, "ti", docs)
    val termQueries = Seq(
      (0L, operators.TextAnalysis.bm25Query),
      (7L, Seq(operators.TextAnalysis.bm25Query.head, "data")),
      (42L, Seq("data")))
    val raw = emb.filter(col("vec_id").isin(0L, 7L, 42L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // the literal form: query TEXT (whitespace-joined terms tokenize
    // back to exactly the term list — the index's own tokenizer) and
    // the raw query vector
    val litQueries = termQueries.map { case (qid, ts) =>
      (qid, ts.mkString(" "), raw(qid))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.toString).orNull,
        Option(r.get(3)).map(_.toString).orNull, r.getDouble(4))).toSeq
    val byId = rows(AnnIndex.hybridQueryBatch(wh, "ann", "ti", emb,
      termQueries, topK = 10))
    val byLit = rows(AnnIndex.hybridQueryVecBatch(wh, "ann", "ti", emb,
      litQueries, topK = 10))
    assert(byLit == byId,
      s"literal hybrid ≠ id form:\nlit=$byLit\nid =$byId")
    // a blank query text refuses loudly (it would silently return
    // nothing through the sparse lane)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.hybridQueryVecBatch(wh, "ann", "ti", emb,
        Seq((1L, "   ", raw(0L))))
    }
    assert(e.getMessage.contains("tokenizes to no terms"))
  }

  test("hybrid serving is snapshot-consistent: one cut pins both lanes; a torn read pair is observably wrong") {
    val wh = new Warehouse(spark, tmp("ann_hyb_snap"))
    val spark0 = spark
    import spark0.implicits._
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    operators.TextIndex.build(wh, "ti", docs)
    val queries = Seq((0L, operators.TextAnalysis.bm25Query))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.toString).orNull,
        Option(r.get(3)).map(_.toString).orNull, r.getDouble(4))).toSeq
    // the pinned pre-commit versions of every serving table
    val preVersions = (AnnIndex.servingTables("ann") ++
      operators.TextIndex.servingTables("ti"))
      .map(n => n -> wh.tableVersions(n).last).toMap
    val pre = rows(AnnIndex.hybridQueryBatch(wh, "ann", "ti", emb,
      queries, topK = 10))
    // commit a dual-lane advance that changes BOTH lanes' answers:
    // new docs stuffed with the query terms top the BM25 ranking, and
    // a right-to-be-forgotten remove DV-deletes two of the dense
    // lane's top candidates (visible through the codes table alone)
    val terms = operators.TextAnalysis.bm25Query.mkString(" ")
    val newDocs = (1 to 5).map(i =>
      (900000L + i, s"$terms $terms $terms extra$i")).toDF("doc_id", "text")
    operators.TextIndex.refresh(wh, "ti", newDocs)
    AnnIndex.remove(wh, "ann", Seq(17L, 225L))
    val post = rows(AnnIndex.hybridQueryBatch(wh, "ann", "ti", emb,
      queries, topK = 10))
    assert(post != pre,
      "the dual commit was supposed to change the fused answer")
    // TORN read pair — post-commit sparse, pre-commit dense (exactly
    // what two independent table() calls straddling the commit read):
    // differs from BOTH coherent answers, so the tear is observable,
    // not hypothetical
    val head: String => org.apache.spark.sql.DataFrame = wh.table(_)
    val torn: String => org.apache.spark.sql.DataFrame = n =>
      if (n.startsWith("ann_")) wh.tableAt(n, preVersions(n)) else head(n)
    val tornRows = rows(AnnIndex.hybridQueryBatchOn(torn, "ann", "ti",
      emb, queries, topK = 10))
    assert(tornRows != pre && tornRows != post,
      s"expected the torn fusion to differ from both coherent answers:\n" +
        s"torn=$tornRows\npre =$pre\npost=$post")
    // and the pinned pre-commit cut replays the pre-commit answer
    val pinned: String => org.apache.spark.sql.DataFrame = n =>
      wh.tableAt(n, preVersions(n))
    assert(rows(AnnIndex.hybridQueryBatchOn(pinned, "ann", "ti", emb,
      queries, topK = 10)) == pre)
  }

  test("foldTombstones: dead guards fold, refresh still cannot resurrect, probes unaffected") {
    val wh = new Warehouse(spark, tmp("ann_fold"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    AnnIndex.remove(wh, "ann", Seq(5L, 6L))
    assert(wh.table("ann_gone").count() == 2)
    // both still in the source: nothing folds, refresh stays a no-op
    assert(AnnIndex.foldTombstones(wh, "ann", emb) == 0)
    assert(AnnIndex.refresh(wh, "ann", emb) == 0)
    // the base forgets vec 5 -> its guard folds; 6's survives
    val shrunk = emb.filter(col("vec_id") =!= 5L)
    assert(AnnIndex.foldTombstones(wh, "ann", shrunk) == 1)
    assert(wh.table("ann_gone").collect().map(_.getLong(0)).toSeq
      == Seq(6L))
    assert(AnnIndex.refresh(wh, "ann", shrunk) == 0)
    assert(wh.table("ann_codes")
      .filter(col("vec_id").isin(5L, 6L)).isEmpty)
    // a probe never returns either
    val got = AnnIndex.query(wh, "ann", emb, queryId = 0L, topK = 10,
      overquery = 200, nProbe = 8).collect().map(_.getLong(0)).toSet
    assert(!got.contains(5L) && !got.contains(6L))
  }

  test("a held serving cut is version-exact across commits; fresh calls see them") {
    val wh = new Warehouse(spark, tmp("ann_cut"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    val raw = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // a service holds ONE cut across many calls (amortizing the head
    // probes); the cut is version-pinned, so answers are stable even
    // while maintenance commits land
    val cut = AnnIndex.servingSnapshot(wh, "ann")
    def served() = rows(AnnIndex.queryVecBatchOn(cut, "ann", emb,
      Seq((0L, raw)), topK = 10, overquery = 200, nProbe = 8))
    val a1 = served()
    val victim = a1(1)._2
    AnnIndex.remove(wh, "ann", Seq(victim))
    assert(served() == a1,
      "a held cut must replay its pinned version after a commit")
    // a FRESH cut (the convenience form) sees the removal
    val fresh = rows(AnnIndex.queryVecBatch(wh, "ann", emb,
      Seq((0L, raw)), topK = 10, overquery = 200, nProbe = 8))
    assert(!fresh.map(_._2).contains(victim) && fresh != a1)
  }

  test("property: random unseen literal vectors, full probe ≡ exact brute force (seeded sweep)") {
    val wh = new Warehouse(spark, tmp("ann_vecprop"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val rnd = new scala.util.Random(151515L)
    val queries = (0 until 5).map { i =>
      (1000L + i) -> Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    }
    import graft.functions.VectorFunctions
    val got = AnnIndex.queryVecBatch(wh, "ann", emb, queries,
        topK = 10, overquery = 200, nProbe = 8)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = queries.flatMap { case (qid, _) =>
      // the reference ranks against the SAME normalized vector the
      // serving path derives — apples to apples at round-12
      val qn = AnnIndex.normalizedQueryVecs(spark, Seq(queries.find(_._1 == qid).get)).head._2
      val qlit = array(qn.toSeq.map(lit): _*)
      emb.select(lit(qid).as("query_id"), col("vec_id"),
          round(VectorFunctions.dotExact(col("embedding"), qlit) /
            (VectorFunctions.normExact(col("embedding")) *
              VectorFunctions.normExact(qlit)), 12).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc).limit(10)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    assert(got == exact,
      s"random literal sweep diverged:\ngot=$got\nexp=$exact")
  }

  test("filtered hybrid retrieval: both lanes restrict inside their probes; fused top-k ≡ filtered scan-time fusion") {
    import org.apache.spark.sql.expressions.Window
    val wh = new Warehouse(spark, tmp("ann_hyb_filt"))
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb)
    operators.TextIndex.build(wh, "ti", docs)
    val terms = operators.TextAnalysis.bm25Query
    val text = terms.mkString(" ")
    val raw0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    val pred = col("label") === 3
    val allowed = emb.filter(pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val got = AnnIndex.hybridQueryVecBatch(wh, "ann", "ti", emb,
        Seq((0L, text, raw0)), topK = 10, pool = 50, overquery = 200,
        nProbe = 8, filter = Some(pred))
      .collect().map(r => (r.getLong(1), r.getDouble(4))).toSeq
    assert(got.nonEmpty && got.forall(r => allowed.contains(r._1)),
      s"a fused result escaped the predicate: $got")
    // reference: the SAME fusion over scan-time FILTERED lanes —
    // sparse = global-stats BM25 restricted to allowed ids (the
    // filtered-search semantics), dense = brute-force filtered cosine
    // (exact under the full probe)
    val sparse = operators.TextAnalysis.bm25TopK(docs, terms, 100000)
      .filter(col("score") > 0.0)
      .filter(col("doc_id").isInCollection(allowed))
      .orderBy(col("score").desc, col("doc_id")).limit(50)
      .withColumn("r", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select("doc_id", "r")
    import graft.functions.VectorFunctions
    val qn = AnnIndex.normalizedQueryVecs(spark, Seq(0L -> raw0)).head._2
    val qlit = array(qn.toSeq.map(lit): _*)
    val dense = emb.filter(pred)
      .select(col("vec_id"),
        round(VectorFunctions.dotExact(col("embedding"), qlit) /
          (VectorFunctions.normExact(col("embedding")) *
            VectorFunctions.normExact(qlit)), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(50)
      .withColumn("r", row_number()
        .over(Window.orderBy(col("cosine").desc, col("vec_id"))))
      .select("vec_id", "r")
    val expect = Similarity.rrfFuse(Seq(sparse, dense), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got == expect, s"filtered fusion diverged:\ngot=$got\nexp=$expect")
  }

  test("optimize: per-cell debris pack + tombstone fold; probes byte-identical; cell pruning survives") {
    val wh = new Warehouse(spark, tmp("ann_opt"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb.filter(col("vec_id") < 400))
    // micro-deltas: each refresh appends one small file per touched
    // cell — the accumulation optimize exists to fold
    Seq(450L, 800L, 1200L, 2000L).foreach { hi =>
      AnnIndex.refresh(wh, "ann", emb.filter(col("vec_id") < hi)); ()
    }
    AnnIndex.remove(wh, "ann", Seq(5L))
    def files() = AnnIndex.describe(wh, "ann").toMap
      .apply("codes_files").toInt
    val f0 = files()
    val queries = Seq(0L, 7L, 42L)
    val before = AnnIndex.queryBatch(wh, "ann", emb, queries)
      .collect().toSeq
    // source still carries vec 5 -> its guard survives the fold
    val r = AnnIndex.optimize(wh, "ann", source = Some(emb)).toMap
    assert(r("codes_files_compacted") > 0L, "no debris packed")
    assert(r("tombstones_dropped") == 0L)
    assert(files() < f0, s"codes files did not shrink: $f0 -> ${files()}")
    assert(AnnIndex.queryBatch(wh, "ann", emb, queries)
      .collect().toSeq == before, "optimize changed probe answers")
    // the cell=… layout (and the probe's partition pruning) survives:
    // every packed file still lives under exactly one cell directory
    val cell0 = wh.table("ann_codes").select("cell").first().getInt(0)
    val inCell = wh.table("ann_codes").filter(col("cell") === cell0)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(inCell.nonEmpty && inCell.forall(_.contains(s"cell=$cell0")),
      "debris pack broke the cell partition layout")
    // removal still effective after the pack + fold
    assert(AnnIndex.refresh(wh, "ann", emb) ==
      emb.filter(col("vec_id") >= 2000L).count(),
      "refresh after optimize mis-sized its delta")
    assert(wh.table("ann_codes").filter(col("vec_id") === 5L).isEmpty,
      "optimize resurrected a removed vector")
  }

  // ----- round-17: geometry evolution + exact cell-bound search ------

  /** Clustered synthetic corpus for the exact-search sweep: `nClusters`
    * tight clusters of `per` unit-ish vectors each (seeded jitter), so
    * the IVF cells are genuinely separable and the cell bound can
    * terminate early — real pruning, not a fixture accident. */
  private def clustered(nClusters: Int, per: Int, dim: Int,
      jitter: Double, seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    (0 until nClusters * per).map { i =>
      val c = centers(i % nClusters)
      (i.toLong,
        c.map(x => x + jitter * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("retrainAs: geometry evolves at retrain — corpus grown far past the built shape re-cells atomically; tombstones and held cuts survive; full-probe answers identical") {
    val wh = new Warehouse(spark, tmp("ann_reshape"))
    val emb = Tables.embeddings(spark, sf)
    // built SMALL: 4 cells over 50 vectors…
    AnnIndex.build(wh, "ann", emb.filter(col("vec_id") < 50),
      nCells = 4, m = 4, k = 8)
    // …then the corpus grows 10×: per-cell rows (and probe cost) now
    // scale with the corpus — the shape the index was built for is gone
    AnnIndex.refresh(wh, "ann", emb)
    // a removal that must survive the re-shape
    AnnIndex.remove(wh, "ann", Seq(5L))
    val liveIds = emb.filter(col("vec_id") =!= 5L)
    def fullProbe(nProbe: Int): Seq[(Long, Double)] =
      AnnIndex.query(wh, "ann", liveIds, queryId = 0L, topK = 10,
        overquery = 50, nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = fullProbe(4) // full probe under the OLD geometry
    // a serving cut held ACROSS the re-shape: it pinned the old three
    // tables and must keep answering the old way
    val (held, release) = AnnIndex.servingSnapshotHeld(wh, "ann", "svc")
    val qv = liveIds.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    val heldBefore = AnnIndex.queryVecBatchOn(held, "ann", liveIds,
      Seq((0L, qv)), topK = 10, overquery = 50, nProbe = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // THE re-shape: 4 → 16 cells, same m/k, one atomic transaction
    assert(AnnIndex.retrainAs(wh, "ann", emb, nCells = 16, m = 4, k = 8)
      == emb.count() - 1)
    assert(AnnIndex.geometry(wh, "ann") == ((16, 4, 8)))
    assert(wh.table("ann_coarse").count() == 16)
    // full probe under the NEW geometry: identical exact answers
    assert(fullProbe(16) == before,
      "re-shape changed the full-probe (exact) answer")
    // the held cut still serves the OLD index, version-exact
    assert(AnnIndex.queryVecBatchOn(held, "ann", liveIds,
      Seq((0L, qv)), topK = 10, overquery = 50, nProbe = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      == heldBefore, "held cut torn by the re-shape")
    release()
    // the tombstone carried forward: 5 stays out of codes and probes
    assert(wh.table("ann_codes").filter(col("vec_id") === 5L).isEmpty)
    assert(AnnIndex.refresh(wh, "ann", emb) == 0L,
      "re-shape dropped the tombstone: refresh resurrected removed ids")
    // the scheduled lane still refuses to re-shape (recorded geometry)
    val frozen = intercept[IllegalArgumentException] {
      AnnIndex.retrain(wh, "ann", emb, nCells = 32, m = 4, k = 8)
    }
    assert(frozen.getMessage.contains("retrainAs"), frozen.getMessage)
  }

  test("autoResize: an oversized cell triggers geometry growth; a healthy shape is a no-op") {
    val wh = new Warehouse(spark, tmp("ann_autoresize"))
    val emb = Tables.embeddings(spark, sf)
    AnnIndex.build(wh, "ann", emb, nCells = 4, m = 4, k = 8)
    // healthy: 500 vectors over 4 cells, bound of 1000 — no resize
    assert(AnnIndex.autoResize(wh, "ann", emb, maxCellRows = 1000L)
      .isEmpty)
    // oversized: some cell holds > 60 rows (500/4 ≥ 125 on average);
    // target mean = bound/2 = 30 → ceil(500/30) = 17 cells
    val resized = AnnIndex.autoResize(wh, "ann", emb, maxCellRows = 60L)
    assert(resized.exists(_._1 == 17), s"got $resized")
    assert(AnnIndex.geometry(wh, "ann") == ((17, 4, 8)))
    // no cell exceeds… the trigger? Lloyd makes no balance promise, but
    // the RE-CHECK must at least see the max shrink below 500
    val again = AnnIndex.autoResize(wh, "ann", emb, maxCellRows = 1000L)
    assert(again.isEmpty)
  }

  test("exact search: cell-bound termination ≡ brute-force ranking bit-for-bit, probing FEWER cells than nCells on clustered data; filtered and unfiltered — seeded sweep") {
    import graft.functions.VectorFunctions
    val wh = new Warehouse(spark, tmp("ann_exact"))
    val emb = clustered(nClusters = 8, per = 60, dim = 32,
      jitter = 0.05, seed = 42).localCheckpoint()
    AnnIndex.build(wh, "ann", emb, nCells = 8, m = 4, k = 16)
    val read = AnnIndex.servingSnapshot(wh, "ann")
    def brute(pred: Option[org.apache.spark.sql.Column],
        q: Seq[Double]): Seq[(Long, Double)] = {
      val base = pred.map(emb.filter).getOrElse(emb)
      base.withColumn("qe", array(q.map(lit): _*))
        .select(col("vec_id"),
          round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
            (VectorFunctions.normExact(col("embedding")) *
              VectorFunctions.normExact(col("qe"))), 12).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val rnd = new scala.util.Random(7)
    var prunedSomewhere = false
    (1 to 6).foreach { i =>
      // a query near a random stored vector (clustered ⇒ near a center)
      val qid = rnd.nextInt(480).toLong
      val qRaw = emb.filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .first().getSeq[Double](0)
      val q = graft.operators.AnnIndex
        .normalizedQueryVecs(spark, Seq((0L, qRaw))).head._2
      val pred =
        if (i % 2 == 0) Some(col("vec_id") % 3 === i % 3) else None
      val (got, cellsProbed) = AnnIndex.exactCore(read, "ann", emb,
        q, topK = 10, filter = pred, nProbe = 3)
      val gotRows = got.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(gotRows == brute(pred, qRaw.map(_.toDouble)),
        s"round $i (qid=$qid, filtered=${pred.nonEmpty}): exact " +
          s"diverged from brute force")
      if (cellsProbed < 8) prunedSomewhere = true
    }
    assert(prunedSomewhere,
      "exact search never terminated early on clustered data — the " +
        "cell bound is not pruning")
    // the public surfaces agree with the core
    val qRaw = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    assert(AnnIndex.queryVecExact(wh, "ann", emb, qRaw, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == brute(None, qRaw))
    assert(AnnIndex.query(wh, "ann", emb, queryId = 0L, topK = 10,
      exact = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == brute(None, qRaw))
    // the BATCH surface: one shared cut, per-query adaptive stops —
    // each query's block equals its own brute force
    val q2Raw = emb.filter(col("vec_id") === 100L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    val batch = AnnIndex.queryVecBatchExact(wh, "ann", emb,
      Seq((7L, qRaw), (8L, q2Raw)), topK = 10).collect()
    assert(batch.filter(_.getLong(0) == 7L)
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq == brute(None, qRaw))
    assert(batch.filter(_.getLong(0) == 8L)
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq == brute(None, q2Raw))
  }

  test("exact search stays exact through refresh (radius grows with the delta) and under fewer-than-k matches; a pre-radius index refuses") {
    val wh = new Warehouse(spark, tmp("ann_exact_refresh"))
    val emb = clustered(nClusters = 4, per = 50, dim = 16,
      jitter = 0.02, seed = 11).localCheckpoint()
    // build on HALF, then refresh with the rest at WIDER jitter: the
    // deltas land in existing cells but extend past the built radii —
    // exactly the case a stale bound would get wrong
    val spread = clustered(nClusters = 4, per = 50, dim = 16,
      jitter = 0.4, seed = 12)
      .select((col("vec_id") + 200L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    AnnIndex.build(wh, "ann", emb, nCells = 4, m = 4, k = 8)
    val all = emb.union(spread).localCheckpoint()
    AnnIndex.refresh(wh, "ann", all)
    import graft.functions.VectorFunctions
    def brute(base: org.apache.spark.sql.DataFrame,
        q: Seq[Double], k: Int): Seq[(Long, Double)] =
      base.withColumn("qe", array(q.map(lit): _*))
        .select(col("vec_id"),
          round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
            (VectorFunctions.normExact(col("embedding")) *
              VectorFunctions.normExact(col("qe"))), 12).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc).limit(k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // a query sitting ON a spread (post-refresh) vector: the true
    // nearest neighbors include deltas beyond the built radius
    val qRaw = all.filter(col("vec_id") === 210L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    assert(AnnIndex.queryVecExact(wh, "ann", all, qRaw, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == brute(all, qRaw, 10),
      "exact search went stale after refresh — radius did not grow")
    // fewer than k matches: a needle predicate returns ALL matches
    val pred = col("vec_id") % 97 === 0
    val want = all.filter(pred).count()
    assert(want < 10, "fixture: needle predicate too permissive")
    val got = AnnIndex.queryVecExact(wh, "ann", all, qRaw, topK = 10,
      filter = Some(pred)).collect()
    assert(got.length == want,
      s"exact filtered returned ${got.length} of $want matches")
    // a legacy (pre-radius) index refuses EXACT loudly
    wh.save("ann_coarse",
      wh.table("ann_coarse").drop("radius"))
    val legacy = intercept[IllegalArgumentException] {
      AnnIndex.queryVecExact(wh, "ann", all, qRaw, topK = 10).collect()
    }
    assert(legacy.getMessage.contains("radius"), legacy.getMessage)
    // describe() reports the capability honestly both ways
    assert(AnnIndex.describe(wh, "ann")
      .toMap[String, String].apply("exact_capable") == "false")
    AnnIndex.retrainAs(wh, "ann", all, 4, 4, 8)
    assert(AnnIndex.describe(wh, "ann")
      .toMap[String, String].apply("exact_capable") == "true")
  }

  test("storeVectors: exact search reads raw vectors cell-pruned — bit-identical to the source-join path through build, refresh, remove and retrainAs") {
    import graft.functions.VectorFunctions
    val emb = clustered(nClusters = 6, per = 50, dim = 16,
      jitter = 0.05, seed = 31).localCheckpoint()
    val first = emb.filter(col("vec_id") < 200)
    // twin indexes, same data + geometry (training is deterministic,
    // so cells/codebooks agree): one stores raw vectors, one does not
    val whV = new Warehouse(spark, tmp("ann_vecs"))
    val whP = new Warehouse(spark, tmp("ann_plain"))
    AnnIndex.build(whV, "ann", first, nCells = 6, m = 4, k = 8,
      storeVectors = true)
    AnnIndex.build(whP, "ann", first, nCells = 6, m = 4, k = 8)
    assert(AnnIndex.storesVectors(whV, "ann"))
    assert(!AnnIndex.storesVectors(whP, "ann"))
    assert(AnnIndex.describe(whV, "ann")
      .toMap[String, String].apply("stores_vectors") == "true")
    val qRaw = emb.filter(col("vec_id") === 5L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    def exactOf(wh: Warehouse, src: org.apache.spark.sql.DataFrame,
        pred: Option[org.apache.spark.sql.Column] = None) =
      AnnIndex.queryVecExact(wh, "ann", src, qRaw, topK = 10,
        filter = pred)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def brute(base: org.apache.spark.sql.DataFrame) =
      base.withColumn("qe", array(qRaw.map(lit): _*))
        .select(col("vec_id"),
          round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
            (VectorFunctions.normExact(col("embedding")) *
              VectorFunctions.normExact(col("qe"))), 12).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the stored column is the source embedding VERBATIM, so the two
    // read paths compute identical arithmetic — and both equal brute
    assert(exactOf(whV, first) == brute(first))
    assert(exactOf(whV, first) == exactOf(whP, first))
    // filtered: the allowlist still comes from the source predicate
    val pred = Some(col("vec_id") % 3 === 0)
    assert(exactOf(whV, first, pred)
      == exactOf(whP, first, pred))
    // the APPROXIMATE batch path also serves from the index alone on
    // a vector-storing index (candidates' raw vectors come from the
    // probed partitions, not a source scan) — bit-identical to the
    // plain twin's source-join re-rank, filtered and unfiltered
    def batchOf(wh: Warehouse,
        pred: Option[org.apache.spark.sql.Column]) =
      AnnIndex.queryVecBatch(wh, "ann", first,
        Seq((0L, qRaw), (1L, qRaw.map(-_))), topK = 5, filter = pred)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    assert(batchOf(whV, None) == batchOf(whP, None))
    assert(batchOf(whV, pred) == batchOf(whP, pred))
    // refresh carries the column (delta-sized join) and stays exact
    assert(AnnIndex.refresh(whV, "ann", emb) == 100L)
    assert(AnnIndex.storesVectors(whV, "ann"))
    assert(exactOf(whV, emb) == brute(emb))
    // remove: DV-deleted rows leave the exact result (the raw column
    // rides the same rows)
    val gone = exactOf(whV, emb).head._1
    AnnIndex.remove(whV, "ann", Seq(gone))
    assert(!exactOf(whV, emb).exists(_._1 == gone))
    assert(exactOf(whV, emb)
      == brute(emb.filter(col("vec_id") =!= gone)))
    // retrainAs preserves the storing property across a re-shape
    AnnIndex.retrainAs(whV, "ann", emb, nCells = 12, m = 4, k = 8)
    assert(AnnIndex.storesVectors(whV, "ann"))
    assert(exactOf(whV, emb)
      == brute(emb.filter(col("vec_id") =!= gone)))
  }

  test("beyond the byte: retrainAs across the 127-cell boundary — the single-literal argmin assigns cells bit-identically to a driver brute force; exact serving unchanged; geometry bounds refuse") {
    import graft.functions.VectorFunctions
    val wh = new Warehouse(spark, tmp("ann_big"))
    val emb = Tables.embeddings(spark, sf) // 500 vectors
    AnnIndex.build(wh, "ann", emb, nCells = 8, m = 4, k = 8)
    // the corpus "outgrew" 8 cells: re-shape PAST the one-byte cap —
    // cells are partition keys (int), not stored codes, so the √N
    // rule's thousands-of-cells regime must be reachable
    AnnIndex.retrainAs(wh, "ann", emb, nCells = 150, m = 4, k = 8)
    assert(AnnIndex.geometry(wh, "ann") == ((150, 4, 8)))
    assert(wh.table("ann_coarse").count() == 150)
    val stored = wh.table("ann_codes").select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the lifted cap is actually exercised: members land in cells a
    // byte could not name
    assert(stored.values.max > 127,
      s"no cell beyond 127 was populated (max=${stored.values.max})")
    // reference assignment, driver-side: the SAME unit vectors the
    // encode saw (collected from l2Normalized — identical doubles),
    // the stored centroids, sequential (x−y)² fold in array order and
    // the (d2, cid) lexicographic tie-break — bit-for-bit the
    // projection's arithmetic, computed independently of Catalyst
    val cents = wh.table("ann_coarse").select("cid", "c").collect()
      .map(r => (r.getInt(0),
        r.getAs[scala.collection.Seq[Double]](1).toArray))
      .sortBy(_._1)
    val units = Similarity.l2Normalized(emb)
      .collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Double]](1).toArray))
    units.foreach { case (id, v) =>
      var bd = Double.MaxValue; var bc = -1
      cents.foreach { case (cid, c) =>
        var s = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }
        if (s < bd || (s == bd && cid < bc)) { bd = s; bc = cid }
      }
      assert(stored(id) == bc,
        s"vec $id: stored cell ${stored(id)} != reference argmin $bc")
    }
    // exact serving over the re-shaped index still equals brute force
    val qRaw = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    val brute = emb.withColumn("qe", array(qRaw.map(lit): _*))
      .select(col("vec_id"),
        round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
          (VectorFunctions.normExact(col("embedding")) *
            VectorFunctions.normExact(col("qe"))), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(AnnIndex.queryVecExact(wh, "ann", emb, qRaw, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == brute)
    // and the probed (approximate) surface still fills k
    assert(AnnIndex.query(wh, "ann", emb, queryId = 0L).count() == 10)
    // geometry bounds: the coarse table must stay driver-collectable,
    // and PQ codes stay one byte
    val eCells = intercept[IllegalArgumentException] {
      AnnIndex.build(wh, "ann2", emb, nCells = 65537, m = 4, k = 8)
    }
    assert(eCells.getMessage.contains("65536"), eCells.getMessage)
    val eK = intercept[IllegalArgumentException] {
      AnnIndex.build(wh, "ann2", emb, nCells = 8, m = 4, k = 128)
    }
    assert(eK.getMessage.contains("one byte"), eK.getMessage)
  }

  test("audit: a maintained index is invariant-clean; an injected resurrection, unknown cell, and lost centroid each surface as a named error") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("ann_audit")).enableSql()
    val emb = clustered(nClusters = 6, per = 50, dim = 16,
      jitter = 0.05, seed = 47).localCheckpoint()
    AnnIndex.build(wh, "ann", emb.filter(col("vec_id") < 200),
      nCells = 6, m = 4, k = 8, storeVectors = true)
    AnnIndex.refresh(wh, "ann", emb)
    AnnIndex.remove(wh, "ann", Seq(7L, 8L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3))).toSeq
    val clean = rows(AnnIndex.audit(wh, "ann"))
    assert(clean.nonEmpty && clean.forall(_._2 == "ok"), clean.toString)
    assert(clean.map(_._1).toSet == Set("geometry", "codes_shape",
      "tombstones", "radii", "stored_vectors"), clean.toString)
    // SQL twin
    val sql = spark.sql("AUDIT VECTOR INDEX ann").collect()
    assert(sql.nonEmpty && sql.forall(_.getString(1) == "ok"),
      sql.mkString(", "))

    // a maintenance bug resurrects a removed id: its code row returns
    // while the tombstone still stands. Inject from typed tuples —
    // primitive-element Seq encoders carry containsNull = false, the
    // committed array shape (a frame derived from the parquet READ
    // would relax it to true and the append would refuse the retype —
    // the alignment guard working as built)
    val donorRow = wh.table("ann_codes").first()
    // codes is committed with NULLABLE elements (codesCol builds it by
    // expression), vec with non-null ones — box the former so both
    // array shapes match the committed schema exactly
    def inject(vecId: Long, cell: Int): Unit =
      wh.append("ann_codes", Seq((vecId, cell,
        donorRow.getAs[Seq[Byte]]("codes").toVector
          .map(Byte.box): Seq[java.lang.Byte],
        donorRow.getAs[Seq[Double]]("vec").toVector))
        .toDF("vec_id", "cell", "codes", "vec"))
    inject(7L, donorRow.getAs[Int]("cell"))
    // and a row lands in a cell no centroid backs
    inject(90001L, 9999)
    // and one centroid is lost behind the meta's back
    val someCid = wh.table("ann_coarse").select("cid").first().getInt(0)
    wh.delete("ann_coarse", col("cid") === someCid)
    val res = rows(AnnIndex.audit(wh, "ann"))
    assert(res.exists(r => r._1 == "tombstones" && r._2 == "error" &&
      r._4.contains("1 removed ids")), res.toString)
    // the injected cell AND the lost centroid's cell are both unknown
    assert(res.exists(r => r._1 == "codes_shape" && r._2 == "error" &&
      r._4.contains("resolve to no coarse centroid")), res.toString)
    assert(res.exists(r => r._1 == "geometry" && r._2 == "error" &&
      r._3 == "coarse"), res.toString)
    // errors sort first
    assert(res.head._2 == "error", res.toString)
  }
}
