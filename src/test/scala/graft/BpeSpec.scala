package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real BPE: training reproduces the hand-computable merge sequence on
  * the classic corpus, encoding is greedy-left-to-right exact, the
  * expression chain ≡ the mapPartitions production encoder, and both
  * are layout-independent.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import Bpe.EndMark

  /** Sennrich's running example, frequency-weighted by repetition:
    * low×5, lower×2, newest×6, widest×3. */
  private def classic = {
    import spark.implicits._
    val docs = Seq(
      (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
      (2L, (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
    docs.toDF("doc_id", "text")
  }

  test("training learns the classic corpus' merge sequence") {
    val merges = Bpe.train(classic, nMerges = 5)
    // pair counts round 1: (e,s)=9, (s,t)=9, (t,</w>)=9, (w,e)=8 …
    // tie-break (c DESC, a ASC, b ASC) picks (e,s); then (es,t)=9,
    // (t,</w>)… st gone (absorbed), (est,</w>)=9 after round 2.
    assert(merges.take(3) ==
      Seq(("e", "s"), ("es", "t"), ("est", EndMark)))
    // after est</w>: counts are l,o=7 / o,w=7 / n,e=6 … → (l,o) then (lo,w)
    assert(merges.slice(3, 5) == Seq(("l", "o"), ("lo", "w")))
  }

  test("training is layout-independent") {
    val a = Bpe.train(classic, nMerges = 5)
    val b = Bpe.train(classic.repartition(7), nMerges = 5)
    assert(a == b)
  }

  test("in-memory training ≡ the distributed cross-check lane") {
    // same corpus, both lanes, deep enough to run past the obvious
    // prefix — the incremental heap/index bookkeeping must reproduce
    // the per-round recount exactly, ties included
    val inMem = Bpe.train(classic, nMerges = 12)
    val dist = BpeDistributed.trainDistributed(classic, nMerges = 12)
    assert(inMem == dist)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    assert(Bpe.train(docs, nMerges = 10) ==
      BpeDistributed.trainDistributed(docs, nMerges = 10))
  }

  test("a 1k+ merge vocabulary trains in seconds, not Spark jobs") {
    import spark.implicits._
    // 3000 distinct length-10 words: every word must collapse to its
    // own final symbol, so >1200 productive merges exist by counting
    val rnd = new scala.util.Random(42)
    val words = (0 until 3000).map { _ =>
      (0 until 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val docs = words.grouped(100).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val merges = Bpe.train(docs, nMerges = 1200)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(merges.size == 1200, s"pair supply ran dry at ${merges.size}")
    assert(secs < 30.0, f"1200 merges took $secs%.1f s — the merge " +
      "loop must be driver-memory incremental, not one job per round")
  }

  test("hostile sentinel bytes: training, encode and encodeLarge agree") {
    import spark.implicits._
    // \u001E/\u001F inside text must strip BEFORE tokenization in
    // EVERY lane — a fabricated symbol boundary in any one of them
    // would diverge from the other two
    val hostile = Seq((1L, "lo\u001Ew low\u001F \u001E\u001Fnewest"))
      .toDF("doc_id", "text")
    val clean = Seq((1L, "low low newest")).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", Bpe.EndMark))
    val eh = Bpe.encode(hostile, merges).collect()(0)
    val ec = Bpe.encode(clean, merges).collect()(0)
    assert(eh.getString(2) == ec.getString(2))
    assert(eh.getLong(1) == ec.getLong(1))
    val lh = Bpe.encodeLarge(hostile, merges).collect()(0)
    assert(lh.getString(2) == ec.getString(2))
    assert(lh.getLong(1) == ec.getLong(1))
    // training tokenizes identically: same word-frequency table
    val wfH = Bpe.wordFreqs(hostile, 100).orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val wfC = Bpe.wordFreqs(clean, 100).orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(wfH == wfC && wfH.nonEmpty)
  }

  test("empty and whitespace-only text: zero subwords in both lanes") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "   \t "), (3L, "low"))
      .toDF("doc_id", "text")
    val merges = Seq(("l", "o"))
    val a = Bpe.encode(docs, merges).orderBy("doc_id").collect()
    val b = Bpe.encodeLarge(docs, merges).orderBy("doc_id").collect()
    Seq(a, b).foreach { r =>
      assert(r(0).getLong(1) == 0L && r(0).getString(2) == "")
      assert(r(1).getLong(1) == 0L && r(1).getString(2) == "")
      assert(r(2).getLong(1) == 3L) // l o w</w> → lo w </w> (no merge to low)
    }
    // and training sees no word there either
    assert(Bpe.wordFreqs(docs.filter($"doc_id" < 3), 10).count() == 0)
  }

  test("non-BMP text: surrogate pairs are ONE symbol in both encoders") {
    import spark.implicits._
    // 😀 (U+1F600) is two UTF-16 chars; a char-based split would turn
    // it into two half-symbols and diverge from the regex lane
    val docs = Seq((1L, "😀😀a a😀b"))
      .toDF("doc_id", "text")
    val merges = Seq(("😀", "😀"), ("a", Bpe.EndMark))
    val a = Bpe.encode(docs, merges).collect()(0)
    val b = Bpe.encodeLarge(docs, merges).collect()(0)
    assert(a.getString(2) == b.getString(2),
      s"expression='${a.getString(2)}' mapPartitions='${b.getString(2)}'")
    assert(a.getLong(1) == b.getLong(1))
    // the emoji-pair merge fired (one symbol 😀😀, not four halves)
    assert(a.getString(2).startsWith("😀😀 "))
  }

  test("encode: greedy left-to-right, EndMark distinct from in-word chars") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa aaa low lowest")).toDF("doc_id", "text")
    val merges = Seq(("a", "a"), ("l", "o"), ("lo", "w"), ("low", EndMark))
    val r = Bpe.encode(docs, merges).collect()(0)
    // aaaa → aa aa </w>; aaa → aa a </w>; low → low</w> (word-final
    // merge fires); lowest → low e s t </w> (no low</w> — not final)
    assert(r.getAs[String]("subwords") ==
      s"aa aa $EndMark aa a $EndMark low$EndMark low e s t $EndMark")
    assert(r.getAs[Long]("n_subwords") == 12L)
  }

  test("expression encode ≡ mapPartitions production encoder") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.fixedMerges
    val a = Bpe.encode(docs, merges).orderBy("doc_id").collect()
    val b = Bpe.encodeLarge(docs, merges).orderBy("doc_id").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(x.getString(2) == y.getString(2),
        s"doc ${x.getLong(0)} diverged")
      assert(x.getLong(1) == y.getLong(1))
    }
  }

  test("round trip: dropping EndMark boundaries reconstructs the text") {
    import spark.implicits._
    val docs = Seq((1L, "newest widest low lower")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, nMerges = 8)
    val sub = Bpe.encode(docs, merges).collect()(0).getAs[String]("subwords")
    // subwords of one word concatenate back to word+EndMark; EndMark
    // therefore splits the stream back into the original words
    val words = sub.replace(" ", "").split(java.util.regex.Pattern
      .quote(EndMark)).toSeq
    assert(words == Seq("newest", "widest", "low", "lower"))
  }

  test("train→encode composes: classic vocab tokenizes unseen words") {
    val merges = Bpe.train(classic, nMerges = 10)
    import spark.implicits._
    val unseen = Seq((1L, "lowest")).toDF("doc_id", "text")
    val sub = Bpe.encode(unseen, merges).collect()(0).getAs[String]("subwords")
    // "lowest" decomposes through learned subwords (low + est</w> after
    // enough merges) — never through whole-word memorization
    assert(sub.replace(" ", "") == s"lowest$EndMark")
    assert(sub.split(" ").length < "lowest".length + 1,
      s"expected real merges to fire, got '$sub'")
  }

  test("encode plan is one map-side projection: no shuffle, no UDF") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Bpe.encode(docs, Bpe.fixedMerges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "BPE encode must not shuffle")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("mapPartitions"))
  }
}
