package graft.operators

import graft.{Q, Tables => T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair encoding — the REAL merge-based tokenizer (Sennrich et
  * al. 2016, arXiv:1508.07909), replacing the t-series' "BPE-ish
  * regex" approximation with the actual algorithm: train a ranked
  * merge table from corpus word frequencies, then tokenize by applying
  * merges in rank order. Training-data pipelines live on this op —
  * token budgets (sp10's packing input), per-doc token counts, and
  * vocabulary construction are all downstream of a real BPE.
  *
  * The symbol representation is the whole trick. A word's symbol
  * sequence is one STRING with each symbol wrapped in sentinel bytes:
  * "\u001E l \u001F \u001E o \u001F \u001E w \u001F" (sentinels
  * shown spaced) for "low". One merge
  * (a,b) is then a plain `replace` of `⟨a⟩⟨b⟩` with `⟨ab⟩` —
  * and because SQL `replace` substitutes non-overlapping occurrences
  * LEFT-TO-RIGHT, one call IS the greedy single-merge pass BPE
  * specifies ("aaaa" under (a,a) → "aa","aa"; "aaa" → "aa","a").
  * The sentinels make symbol boundaries unambiguous (no substring of
  * a longer symbol can match), and the SAME rendering runs in DuckDB
  * (`replace` there is also left-to-right non-overlapping — verified
  * by the t21 oracle hash), so ENCODING is cross-engine checkable
  * even though it is 20 chained folds deep.
  *
  * Scale shape:
  *  - TRAINING touches the corpus exactly once: one distributed
  *    aggregation builds the (word, freq) table — Zipf-bounded,
  *    capped to the `maxWords` most frequent, so ≤100k rows by
  *    construction — which is then collected ONCE and the merge loop
  *    runs entirely in driver memory with incrementally-maintained
  *    pair statistics (a lazy max-heap + per-pair affected-word
  *    index, the classic subword-nmt structure). A 32k-merge
  *    production vocabulary is seconds of driver CPU, not 64k Spark
  *    jobs. The original one-Spark-round-per-merge lane lives in
  *    test scope (`BpeDistributed`) as a cross-check; BpeSpec
  *    asserts the two produce identical merge sequences.
  *  - ENCODING is one map-side projection: wrap → `nMerges` chained
  *    codegen'd `replace`s → unwrap. No shuffle, no UDF, no state.
  *    That expression chain is the right form for bounded merge
  *    tables (hundreds); a production 50k-merge vocabulary instead
  *    uses [[encodeLarge]] — same semantics via per-partition rank
  *    iteration with a word memo-cache (Zipf makes the hit rate
  *    ~100%), asserted equal to the expression form in BpeSpec.
  */
object Bpe {

  private val Open = "\u001E"
  private val Close = "\u001F"
  /** End-of-word symbol (classic Sennrich): lets merges capture
    * word-final context ("w</w>" ≠ "w") and makes detokenization
    * unambiguous. */
  val EndMark = "</w>"

  private def wrapped(a: String): String = Open + a + Close

  /** One word → its wrapped initial symbol string (code points +
    * EndMark; Java regex `.` and DuckDB RE2 `.` both match one CODE
    * POINT, so a surrogate pair wraps as ONE symbol in both engines).
    * Words containing the sentinel bytes themselves are not
    * representable; every tokenization lane (training AND both encode
    * forms) goes through [[cleanTokens]], which strips them first. */
  def wrapWord(w: Column): Column =
    concat(regexp_replace(w, "(.)", Open + "$1" + Close),
      lit(wrapped(EndMark)))

  /** Wrapped symbol string → array of symbols. */
  def symbols(s: Column): Column =
    split(s.substr(lit(2), length(s) - 2),
      java.util.regex.Pattern.quote(Close + Open))

  /** One BPE merge applied greedily left-to-right — see the scaladoc:
    * `replace`'s non-overlap scan is exactly the specified pass. */
  def applyMerge(s: Column, a: String, b: String): Column =
    replace(s, lit(wrapped(a) + wrapped(b)), lit(wrapped(a + b)))

  /** The shared tokenization lane: sentinel bytes stripped (so a
    * hostile \u001E/\u001F cannot fabricate a symbol boundary), then
    * lowercased whitespace words, empty strings dropped (whitespace-
    * only text must tokenize to NOTHING, not to [""]). Training
    * ([[wordFreqs]]), [[encode]] (via [[subwordsExpr]]) and
    * [[encodeLarge]] all tokenize through here so they agree on every
    * input, hostile or degenerate or not — BpeSpec pins it. */
  private def cleanTokens(text: Column): Column =
    filter(TextAnalysis.tokens(translate(lower(text), Open + Close, "")),
      _ =!= "")

  /** (word, n) frequency table the trainer runs on: lowercased
    * whitespace words (sentinel bytes stripped), capped to the
    * `maxWords` most frequent (n DESC, word ASC — deterministic). */
  def wordFreqs(docs: DataFrame, maxWords: Int): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(explode(cleanTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(maxWords)

  /** Code-point comparison — identical to Spark's UTF8String binary
    * (UTF-8 byte) order, which `orderBy` on strings uses. Java's
    * `String.compareTo` is UTF-16 code-UNIT order and disagrees on
    * supplementary characters vs U+E000..U+FFFF, so the driver-side
    * tie-break must not use it or [[train]] and its distributed
    * cross-check lane (test scope, `BpeDistributed`) could diverge on
    * non-BMP vocabularies. */
  private[operators] def cpCompare(x: String, y: String): Int = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i); val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx); j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** Heap entry: pair (a,b) at the count it had when pushed. Stale
    * entries (count has since changed) are discarded lazily at pop. */
  private final case class PQE(c: Long, a: String, b: String)
  private val pqOrd: Ordering[PQE] = new Ordering[PQE] {
    def compare(x: PQE, y: PQE): Int = {
      val c0 = java.lang.Long.compare(x.c, y.c)
      if (c0 != 0) c0
      else {
        val a0 = cpCompare(y.a, x.a) // smaller a = higher priority
        if (a0 != 0) a0 else cpCompare(y.b, x.b)
      }
    }
  }

  /** One word → its initial symbol array: code points + EndMark
    * (code POINTS, matching the expression lane's per-code-point
    * regex wrap — a surrogate pair is one symbol, never two). */
  private[operators] def initialSymbols(w: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      b += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    b += EndMark
    b.result()
  }

  /** The greedy left-to-right single-merge pass on a symbol array —
    * the in-memory twin of [[applyMerge]]'s `replace`. */
  private[operators] def mergePass(sym: Array[String], a: String,
      b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
        out += (a + b); i += 2 // greedy: consume both, scan on
      } else { out += sym(i); i += 1 }
    }
    out.result()
  }

  private def hasPair(sym: Array[String], a: String, b: String): Boolean = {
    var i = 0
    while (i + 1 < sym.length) {
      if (sym(i) == a && sym(i + 1) == b) return true
      i += 1
    }
    false
  }

  /** Train `nMerges` ranked merges from the corpus. The corpus is
    * touched exactly once ([[wordFreqs]]: one distributed groupBy,
    * capped to `maxWords` rows); the merge loop itself runs in driver
    * memory over that bounded table via [[trainInMemory]]. Fully
    * deterministic: best pair by (count DESC, a ASC, b ASC) in UTF-8
    * byte order, the same order the distributed cross-check lane's
    * `orderBy` uses. Stops early when no pair remains. */
  def train(docs: DataFrame, nMerges: Int,
      maxWords: Int = 100000): Seq[(String, String)] = {
    val rows = wordFreqs(docs, maxWords).collect()
    trainInMemory(rows.map(r => initialSymbols(r.getString(0))),
      rows.map(_.getLong(1)), nMerges)
  }

  /** The in-memory merge loop with incrementally-maintained pair
    * statistics — the structure every production BPE trainer uses
    * (subword-nmt's get_pair_statistics/replace_pair/prune):
    *  - `counts`: live pair → weighted count;
    *  - `heap`: lazy max-heap of (count, a, b) — every count CHANGE
    *    pushes a fresh entry, pops discard entries whose count no
    *    longer matches `counts`, so the top is always current;
    *  - `where`: pair → bitset of word indices that contained it when
    *    last counted (may be stale; re-checked with [[hasPair]]).
    * Per merge round the work is proportional to the words that
    * actually CONTAIN the best pair, not the vocabulary — 32k merges
    * over a 100k-word table is seconds (timed in BpeSpec). */
  private[operators] def trainInMemory(words: Array[Array[String]],
      freq: Array[Long], nMerges: Int): Seq[(String, String)] = {
    val counts = new java.util.HashMap[(String, String), Long]()
    val where = new java.util.HashMap[(String, String), java.util.BitSet]()
    val heap = scala.collection.mutable.PriorityQueue.empty[PQE](pqOrd)

    def note(p: (String, String), idx: Int): Unit =
      where.computeIfAbsent(p, _ => new java.util.BitSet()).set(idx)

    // initial statistics: one pass, one heap entry per distinct pair
    var i = 0
    while (i < words.length) {
      val w = words(i); val f = freq(i)
      var j = 0
      while (j + 1 < w.length) {
        val p = (w(j), w(j + 1))
        counts.merge(p, f, java.lang.Long.sum)
        note(p, i)
        j += 1
      }
      i += 1
    }
    counts.forEach((p, c) => heap.enqueue(PQE(c, p._1, p._2)))

    def bump(p: (String, String), d: Long): Unit = {
      val nc = counts.getOrDefault(p, 0L) + d
      if (nc <= 0L) counts.remove(p)
      else { counts.put(p, nc); heap.enqueue(PQE(nc, p._1, p._2)) }
    }

    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < nMerges && !done) {
      var best: PQE = null
      while (best == null && heap.nonEmpty) {
        val e = heap.dequeue()
        if (counts.getOrDefault((e.a, e.b), 0L) == e.c) best = e
      }
      if (best == null) done = true
      else {
        val (a, b) = (best.a, best.b)
        merges += ((a, b))
        val idxs = where.remove((a, b))
        if (idxs != null) {
          var k = idxs.nextSetBit(0)
          while (k >= 0) {
            val w = words(k)
            if (hasPair(w, a, b)) { // `where` may be stale — verify
              val f = freq(k)
              var j = 0
              while (j + 1 < w.length) { bump((w(j), w(j + 1)), -f); j += 1 }
              val nw = mergePass(w, a, b)
              words(k) = nw
              j = 0
              while (j + 1 < nw.length) {
                val p = (nw(j), nw(j + 1))
                bump(p, f); note(p, k)
                j += 1
              }
            }
            k = idxs.nextSetBit(k + 1)
          }
        }
        // all occurrences merged: the pair's count must now be zero
        counts.remove((a, b))
      }
      m += 1
    }
    merges.result()
  }

  /** Whole-document encode as ONE string expression: wrap every
    * word (tokenized through [[cleanTokens]] — same lane as
    * training), join with spaces (a space between wraps blocks
    * cross-word merges by construction), chain the merges, unwrap.
    * Returns the space-joined subword sequence. */
  def subwordsExpr(text: Column, merges: Seq[(String, String)]): Column = {
    val doc0 = array_join(
      transform(cleanTokens(text), wrapWord(_)), " ")
    val merged = merges.foldLeft(doc0) {
      case (s, (a, b)) => applyMerge(s, a, b)
    }
    // ⟨x⟩⟨y⟩ → "x y": intra-word boundaries become spaces like the
    // inter-word ones, then the outer sentinels drop
    translate(regexp_replace(merged,
      java.util.regex.Pattern.quote(Close + Open), " "), Open + Close, "")
  }

  /** Per-doc BPE tokenization: (doc_id, n_subwords, subwords).
    * Empty/whitespace-only text encodes to ZERO subwords (not a bare
    * EndMark) — matching [[encodeLarge]] and training, which see no
    * words there either. */
  def encode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val sub = subwordsExpr(col("text"), merges)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        when(sub === "", lit(0L))
          .otherwise(size(split(sub, " ")).cast("long")).as("n_subwords"),
        sub.as("subwords"))
  }

  /** The production-vocabulary encoder: same semantics as
    * [[encode]] (same [[cleanTokens]] lane), but merges apply per
    * WORD in rank order inside `mapPartitions` — a 50k-merge table
    * cannot be a 50k-deep expression chain. The broadcast-size merge
    * list rides the closure; a per-partition word→subwords memo-cache
    * (bounded) makes the Zipf-heavy common case one lookup. */
  def encodeLarge(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.toArray
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), cleanTokens(col("text")).as("ws"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val cache = new java.util.HashMap[String, Seq[String]]()
        it.map { case (id, ws) =>
          val subs = ws.iterator.flatMap { w =>
            var hit = cache.get(w)
            if (hit == null) {
              hit = encodeWord(w, ms)
              if (cache.size < 200000) cache.put(w, hit)
            }
            hit
          }.toSeq
          (id, subs.size.toLong, subs.mkString(" "))
        }
      }
      .toDF("doc_id", "n_subwords", "subwords")
  }

  /** Reference single-word encode: code points + EndMark, then each
    * merge in RANK order applied greedily left-to-right (equivalent
    * to the lowest-rank-present priority form — a merge is only ever
    * enabled by EARLIER-rank merges, so one ordered pass settles the
    * word). */
  private[operators] def encodeWord(w: String,
      merges: Array[(String, String)]): Seq[String] = {
    var sym = initialSymbols(w)
    merges.foreach { case (a, b) =>
      if (sym.length > 1) sym = mergePass(sym, a, b)
    }
    sym.toIndexedSeq
  }

  // ── fixed published-vocabulary merges for the oracle-checked encode
  // (t21): data-INdependent literals, like shipping GPT-2's frozen
  // merges.txt — training itself is t20's job. Ordered so later
  // merges compose earlier ones (table ← t+a+b+l+e ← chars).
  val fixedMerges: Seq[(String, String)] = Seq(
    ("a", EndMark), ("t", "a"), ("ta", "b"), ("tab", "l"),
    ("tabl", "e"), ("table", EndMark), ("r", "o"), ("ro", "w"),
    ("row", EndMark), ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("join", EndMark), ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("scan", EndMark), ("e", "r"), ("s", "t"), ("h", "a"))

  /** DuckDB rendering of [[subwordsExpr]] under [[fixedMerges]] —
    * the same strip-sentinels → split → drop-empties → wrap →
    * replace-chain → unwrap, `chr(30)/chr(31)` sentinels, so both
    * engines compute identical subword strings. */
  def encodeOracleSql(merges: Seq[(String, String)]): String = {
    // NB: the outer template below is ALSO stripMargin'd, so no line
    // of this inner fragment may BEGIN with `|` — a leading `||`
    // concat would lose a pipe to the second stripping pass
    def lit(s: String) = s.replace("'", "''")
    def wrapSql(s: String) = s"chr(30)||'${lit(s)}'||chr(31)"
    val doc0 =
      """array_to_string(list_transform(
        |    list_filter(regexp_split_to_array(
        |      trim(replace(replace(lower(text), chr(30), ''),
        |        chr(31), '')), '\s+'), w -> w <> ''),
        |    w -> regexp_replace(w, '(.)', chr(30)||'\1'||chr(31), 'g') ||
        |    chr(30)||'</w>'||chr(31)), ' ')""".stripMargin
    val chained = merges.foldLeft(doc0) { case (s, (a, b)) =>
      s"replace($s,\n  ${wrapSql(a)}||${wrapSql(b)}, ${wrapSql(a + b)})"
    }
    s"""WITH enc AS (
       |  SELECT doc_id,
       |    replace(replace(replace($chained,
       |      chr(31)||chr(30), ' '), chr(30), ''), chr(31), '') AS subwords
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id,
       |  CASE WHEN subwords = '' THEN 0
       |    ELSE cast(len(string_split(subwords, ' ')) AS BIGINT)
       |  END AS n_subwords,
       |  subwords
       |FROM enc ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    // T20 — in-engine BPE TRAINING: the ranked merge table learned
    // from the corpus word frequencies. Sequential by nature (merge k
    // depends on the table after merge k-1), so not SQL-expressible as
    // one query → rows-only here; BpeSpec pins the exact merge
    // sequence on the classic hand-computable corpus, the determinism
    // of the tie-break, and train ≡ the distributed cross-check lane.
    Q("t20_bpe_train", None, (s, d) => {
      import s.implicits._
      train(T.documents(s, d), nMerges = 25)
        .zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "a", "b")
        .orderBy("rank")
    }),

    // T21 — BPE ENCODE, oracle-checked cross-engine: the frozen
    // 20-merge vocabulary applies as a replace-chain in BOTH engines
    // (identical strip/wrap/sentinel/unwrap rendering), so the full
    // subword STRING of every document hash-matches — not just counts.
    Q("t21_bpe_encode", Some(encodeOracleSql(fixedMerges)),
      (s, d) => encode(T.documents(s, d), fixedMerges).orderBy("doc_id"))
  )
}
