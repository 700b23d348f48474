package graft.operators

import graft.{Q, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table: tokenization, quality scoring, language-ID
  * heuristic, document fingerprinting. All are pure codegen'd column
  * expressions (no UDFs) — they run inside whole-stage codegen and
  * scale linearly with no shuffle (per-row only).
  *
  * Every query here has a DuckDB oracle: the heuristics are defined as
  * deterministic closed-form expressions so the same formula is
  * computable in ANSI SQL.
  */
object TextAnalysis {

  /** Whitespace tokenizer (the `\s+` split both engines agree on). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Non-whitespace character count. */
  def nonSpaceLen(text: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("long")

  /** Count of matches of a word-boundary alternation, e.g. stopwords. */
  def wordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(text, lit("\\b(" + words.mkString("|") + ")\\b"), lit(1)))
      .cast("long")

  /** Whitespace-normalized lowercase MD5 fingerprint (rolling-hash class
    * of SURVEY §2.10's fingerprinting requirement; MD5 chosen because it
    * is bit-identical across engines). */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** The t2 closed-form quality signal (length saturation × stopword
    * density), 0..1 — one pure projection, shared by the t2 oracle row,
    * [[Curate.curate]]'s quality stage, and the [[Ingest]] quality
    * gate so they can never disagree on what "quality" means. */
  def qualityExpr(text: Column): Column = {
    val nTokens = size(tokens(text)).cast("long")
    least(lit(1.0), nTokens / 50.0) * 0.5 +
      least(lit(1.0), lit(5.0) * wordHits(text, enWords) / nTokens) * 0.5
  }

  // PII patterns — RE2-safe (no lookarounds/backrefs) so DuckDB's RE2
  // and Java's regex agree match-for-match. Applied in a fixed order
  // (email → IPv4 → phone) on both engines.
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** PII redaction: emails, IPv4 addresses, and US-style phone numbers
    * replaced by typed placeholder tags. Pure per-row regexp chain —
    * codegen'd, shuffle-free, the shape a 100 TB redaction pass needs. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  // Stopword marker sets for the language-ID heuristic.
  val enWords = Seq("the", "a", "of", "and", "to", "in")
  val esWords = Seq("el", "la", "los", "de", "que", "y")
  val deWords = Seq("der", "die", "und", "das", "ein", "ist")
  val frWords = Seq("le", "les", "des", "et", "un", "est")

  /** Han-script character count (CJK detector for zh). */
  def hanCount(text: Column): Column =
    size(regexp_extract_all(text, lit("([\\x{4e00}-\\x{9fff}])"), lit(1))).cast("long")

  val all: Seq[Q] = Seq(
    // T1 — token counting (whitespace tokenizer) + length stats
    Q("t1_token_stats",
      Some("""SELECT doc_id,
             |  cast(len(regexp_split_to_array(trim(text), '\s+')) as bigint) AS n_tokens,
             |  cast(length(regexp_replace(text, '\s', '', 'g')) as bigint) AS n_nonspace,
             |  cast(length(regexp_replace(text, '\s', '', 'g')) as double)
             |    / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = T.documents(s, d)
        val nTok = size(tokens(col("text"))).cast("long")
        docs.select(col("doc_id"),
          nTok.as("n_tokens"),
          nonSpaceLen(col("text")).as("n_nonspace"),
          (nonSpaceLen(col("text")).cast("double") / nTok).as("avg_token_len"))
          .orderBy("doc_id")
      }),

    // T2 — quality scoring: length saturation × stopword density.
    // Closed-form so the oracle reproduces it exactly.
    Q("t2_quality_score",
      Some("""SELECT doc_id, n_tokens, stop_cnt,
             |  least(1.0, n_tokens / 50.0) * 0.5
             |    + least(1.0, 5.0 * stop_cnt / n_tokens) * 0.5 AS quality
             |FROM (
             |  SELECT doc_id,
             |    cast(len(regexp_split_to_array(trim(text), '\s+')) as bigint) AS n_tokens,
             |    cast(len(regexp_extract_all(text, '\b(the|a|of|and|to|in)\b')) as bigint) AS stop_cnt
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = T.documents(s, d)
        // quality comes from the SHARED expression (qualityExpr), so
        // this oracle row, Curate's stage 1, and the ingest gate are
        // the same formula by identity, not by parallel maintenance
        docs.select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_tokens"),
            wordHits(col("text"), enWords).as("stop_cnt"),
            qualityExpr(col("text")).as("quality"))
          .orderBy("doc_id")
      }),

    // T3 — language ID: stopword-count argmax + Han-script detector.
    // Deterministic precedence zh > en > es > de > fr > und on ties.
    Q("t3_lang_id",
      Some(s"""SELECT doc_id, c_en, c_es, c_de, c_fr, c_zh,
              |  CASE WHEN c_zh > 0 THEN 'zh'
              |       WHEN c_en > 0 AND c_en >= greatest(c_es, c_de, c_fr) THEN 'en'
              |       WHEN c_es > 0 AND c_es >= greatest(c_de, c_fr) THEN 'es'
              |       WHEN c_de > 0 AND c_de >= c_fr THEN 'de'
              |       WHEN c_fr > 0 THEN 'fr'
              |       ELSE 'und' END AS pred_lang
              |FROM (
              |  SELECT doc_id,
              |    cast(len(regexp_extract_all(text, '\\b(${enWords.mkString("|")})\\b')) as bigint) AS c_en,
              |    cast(len(regexp_extract_all(text, '\\b(${esWords.mkString("|")})\\b')) as bigint) AS c_es,
              |    cast(len(regexp_extract_all(text, '\\b(${deWords.mkString("|")})\\b')) as bigint) AS c_de,
              |    cast(len(regexp_extract_all(text, '\\b(${frWords.mkString("|")})\\b')) as bigint) AS c_fr,
              |    cast(len(regexp_extract_all(text, '([\\x{4e00}-\\x{9fff}])')) as bigint) AS c_zh
              |  FROM documents)
              |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = T.documents(s, d)
        val base = docs.select(col("doc_id"),
          wordHits(col("text"), enWords).as("c_en"),
          wordHits(col("text"), esWords).as("c_es"),
          wordHits(col("text"), deWords).as("c_de"),
          wordHits(col("text"), frWords).as("c_fr"),
          hanCount(col("text")).as("c_zh"))
        base.select(col("doc_id"), col("c_en"), col("c_es"), col("c_de"),
          col("c_fr"), col("c_zh"),
          when(col("c_zh") > 0, "zh")
            .when(col("c_en") > 0 && col("c_en") >= greatest(col("c_es"), col("c_de"), col("c_fr")), "en")
            .when(col("c_es") > 0 && col("c_es") >= greatest(col("c_de"), col("c_fr")), "es")
            .when(col("c_de") > 0 && col("c_de") >= col("c_fr"), "de")
            .when(col("c_fr") > 0, "fr")
            .otherwise("und").as("pred_lang"))
          .orderBy("doc_id")
      }),

    // T5 — TF-IDF over unigram terms: tf per (doc, term), df across
    // the corpus, idf = ln((N+1)/(df+1)). Two aggregations, both
    // hash-shuffled on slim keys; ln/round absorb cross-libm ulp drift.
    Q("t5_tfidf",
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
             |n AS (SELECT count(DISTINCT doc_id) AS n FROM tok)
             |SELECT tf.doc_id, tf.term,
             |       round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 9) AS tfidf
             |FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
             |ORDER BY tf.doc_id, tf.term""".stripMargin),
      (s, d) => {
        val tok = T.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tok.groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
        val n = tok.agg(count_distinct(col("doc_id")).as("n"))
        tf.join(df, "term").crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"),
            round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 9).as("tfidf"))
          .orderBy("doc_id", "term")
      }),

    // T6 — BPE-ish subword counting: a GPT-2-style pretokenizer regex
    // (contractions / letter runs / digit runs / punctuation runs, each
    // optionally space-prefixed — no lookarounds, so Java regex and
    // RE2 agree). The ratio to whitespace tokens is the
    // tokens-per-word statistic a data pipeline budgets by.
    Q("t6_bpe_token_count",
      Some("""SELECT doc_id,
             |  cast(len(regexp_extract_all(text,
             |    '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) as bigint) AS n_bpe,
             |  cast(len(regexp_split_to_array(trim(text), '\s+')) as bigint) AS n_ws,
             |  round(cast(len(regexp_extract_all(text,
             |    '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) as double)
             |    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS bpe_per_word
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val pat = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+"
        val nBpe = size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
        val nWs = size(tokens(col("text"))).cast("long")
        T.documents(s, d)
          .select(col("doc_id"), nBpe.as("n_bpe"), nWs.as("n_ws"),
            round(nBpe.cast("double") / nWs, 6).as("bpe_per_word"))
          .orderBy("doc_id")
      }),

    // T7 — PII redaction: counts per PII class on the original text +
    // fingerprint of the redacted text (slim output; the redacted
    // string itself is what a pipeline writes back — here hashed so the
    // oracle compare stays narrow).
    Q("t7_pii_redact",
      Some(s"""SELECT doc_id,
              |  cast(len(regexp_extract_all(text, '$emailRe')) as bigint) AS n_email,
              |  cast(len(regexp_extract_all(text, '$ipv4Re')) as bigint) AS n_ip,
              |  cast(len(regexp_extract_all(text, '$phoneRe')) as bigint) AS n_phone,
              |  md5(regexp_replace(regexp_replace(regexp_replace(text,
              |    '$emailRe', '<EMAIL>', 'g'),
              |    '$ipv4Re', '<IP>', 'g'),
              |    '$phoneRe', '<PHONE>', 'g')) AS red_fp
              |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => T.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_email"),
          size(regexp_extract_all(col("text"), lit(ipv4Re), lit(0))).cast("long").as("n_ip"),
          size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).cast("long").as("n_phone"),
          md5(redactPii(col("text"))).as("red_fp"))
        .orderBy("doc_id")),

    // T8 — within-document repetition ratio (duplicated-bigram
    // fraction): the Gopher/C4-family quality signal that catches
    // boilerplate and degenerate repetition. Per-row array math only.
    Q("t8_repetition",
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]) AS bgs
             |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
             |        FROM documents)
             |  WHERE len(ts) >= 2)
             |SELECT doc_id, cast(len(bgs) as bigint) AS n_bigrams,
             |  round(1.0 - cast(len(list_distinct(bgs)) as double) / len(bgs), 9) AS dup_ratio
             |FROM b ORDER BY doc_id""".stripMargin),
      (s, d) => {
        // tokens AND the bigram array materialized as columns — the
        // bigram array is referenced three times in the projection and
        // would otherwise be rebuilt (with its tokenization) for each
        T.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("ts0"))
          .filter(size(col("ts0")) >= 2)
          .select(col("doc_id"), Dedup.shingles(col("ts0"), 2).as("bgs"))
          .select(col("doc_id"), size(col("bgs")).cast("long").as("n_bigrams"),
            round(lit(1.0) - size(array_distinct(col("bgs"))).cast("double") /
              size(col("bgs")), 9).as("dup_ratio"))
          .orderBy("doc_id")
      }),

    // T9 — overlapping token-window chunking (the embedding/RAG prep
    // step): 64-token windows, stride 48 (16-token overlap), short
    // final/only windows kept — start positions run to n-(W-S) so the
    // LAST window always covers the tail (a start cap of n-W+1 would
    // silently drop up to S-1 trailing tokens per document). Per-row
    // explode of slim (start) ints; chunk text hashed so the output
    // stays narrow.
    Q("t9_chunks", {
      val (w, st) = (64, 48)
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
              |           FROM documents),
              |c AS (SELECT doc_id, ts,
              |        unnest(range(1, greatest(1, len(ts) - ${w - st}) + 1, $st)) AS st
              |      FROM t)
              |SELECT doc_id, cast((st - 1) // $st as bigint) AS chunk_idx,
              |  cast(len(ts[st : least(st + ${w - 1}, len(ts))]) as bigint) AS n_chunk_tokens,
              |  md5(array_to_string(ts[st : least(st + ${w - 1}, len(ts))], ' ')) AS chunk_fp
              |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)
      },
      (s, d) => {
        val (w, st) = (64, 48)
        val toks = tokens(col("text"))
        val starts = sequence(lit(1), greatest(lit(1), size(toks) - (w - st)), lit(st))
        T.documents(s, d)
          .select(col("doc_id"), toks.as("ts"), explode(starts).as("st"))
          .select(col("doc_id"),
            expr(s"CAST((st - 1) DIV $st AS BIGINT)").as("chunk_idx"),
            size(slice(col("ts"), col("st"), lit(w))).cast("long").as("n_chunk_tokens"),
            md5(concat_ws(" ", slice(col("ts"), col("st"), lit(w)))).as("chunk_fp"))
          .orderBy("doc_id", "chunk_idx")
      }),

    // T4 — document fingerprint (normalized MD5)
    Q("t4_fingerprint",
      Some("""SELECT doc_id,
             |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => T.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // T10 — corpus heavy hitters: the top-k most frequent tokens with
    // document frequency (vocabulary building / stopword discovery /
    // boilerplate detection). One explode + one shuffle on the token
    // string, top-k via TakeOrderedAndProject — no global sort. Ties
    // break on the token so the cut is deterministic. At 100 TB the
    // same plan holds because map-side partial aggregation collapses
    // each partition's counts before the slim (token, counts) rows
    // ever shuffle; a CountMinSketch variant for memory-bounded
    // approximation is spec-checked in ScaleTechniquesSpec.
    Q("t10_heavy_hitters",
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
             |  FROM documents)
             |SELECT t AS token, count(*) AS n,
             |  count(DISTINCT doc_id) AS doc_freq
             |FROM tok GROUP BY t
             |ORDER BY n DESC, token LIMIT 20""".stripMargin),
      (s, d) => T.documents(s, d)
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"), count_distinct(col("doc_id")).as("doc_freq"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20))
      ,

    // T11 — character-entropy quality signal: low entropy flags
    // repetitive/garbage text (keyboard mash, base64 blobs, repeated
    // boilerplate score differently from prose). Frequencies are exact
    // integer counts; p = n/total divides identical doubles in both
    // engines, and round(6) absorbs the summation-order ulp.
    Q("t11_char_entropy",
      Some("""WITH ch AS (
             |  SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS c
             |  FROM documents),
             |freq AS (SELECT doc_id, c, count(*)::DOUBLE AS n
             |         FROM ch GROUP BY 1, 2),
             |tot AS (SELECT doc_id, sum(n) AS t FROM freq GROUP BY 1)
             |SELECT f.doc_id,
             |  round(-sum((f.n / t.t) * ln(f.n / t.t)), 6) AS char_entropy
             |FROM freq f JOIN tot t USING (doc_id)
             |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin),
      (s, d) => {
        val freq = T.documents(s, d)
          .select(col("doc_id"),
            explode(regexp_extract_all(col("text"), lit("."), lit(0))).as("c"))
          .groupBy("doc_id", "c").agg(count(lit(1)).cast("double").as("n"))
        val tot = freq.groupBy("doc_id").agg(sum("n").as("t"))
        freq.join(tot, Seq("doc_id"))
          .groupBy("doc_id")
          .agg(round(-sum((col("n") / col("t")) * log(col("n") / col("t"))), 6)
            .as("char_entropy"))
          .orderBy("doc_id")
      }),

    // T12 — type-token ratio: distinct tokens / tokens, the classic
    // lexical-diversity quality signal (low TTR = repetitive/generated
    // boilerplate; complements t8's bigram repetition). Pure per-row
    // array arithmetic — map-side only, no shuffle beyond the sort.
    Q("t12_type_token",
      Some("""SELECT doc_id,
             |  cast(len(regexp_split_to_array(trim(text), '\s+')) as bigint) AS n_tokens,
             |  cast(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) as bigint) AS n_types,
             |  round(cast(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) as double)
             |    / len(regexp_split_to_array(trim(text), '\s+')), 6) AS ttr
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val toks = tokens(col("text"))
        val nTok = size(toks).cast("long")
        val nTyp = size(array_distinct(toks)).cast("long")
        T.documents(s, d).select(col("doc_id"),
          nTok.as("n_tokens"), nTyp.as("n_types"),
          round(nTyp.cast("double") / nTok, 6).as("ttr"))
          .orderBy("doc_id")
      }),

    // T13 — corpus character-bigram LM scoring: each document's mean
    // log-probability of its OVERLAPPING char bigrams under the
    // corpus-wide bigram distribution — the CCNet-style "score text by
    // a cheap LM trained on the corpus itself" quality filter (low
    // score = improbable character sequences: mojibake, binary spill,
    // wrong-language text). Scale shape: the bigram vocabulary is
    // bounded (charset²), so the model is one map-side-combined agg
    // broadcast back — the corpus is scanned twice, shuffled never
    // (beyond the bounded vocab agg). Exact integer counts; the same
    // double ln(n/t) on both engines; round(6) absorbs summation-order
    // ulp exactly as t11.
    Q("t13_bigram_lm",
      Some("""WITH bg AS (SELECT doc_id,
             |  unnest(list_transform(range(1, length(text)),
             |                        i -> substr(text, i, 2))) AS bg
             |  FROM documents WHERE length(text) >= 2),
             |c AS (SELECT bg, cast(count(*) AS BIGINT) AS n
             |      FROM bg GROUP BY 1),
             |t AS (SELECT cast(sum(n) AS DOUBLE) AS t FROM c)
             |SELECT b.doc_id, round(avg(ln(c.n / t.t)), 6) AS lm_score
             |FROM bg b JOIN c USING (bg), t
             |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),
      (s, d) => {
        val bg = T.documents(s, d)
          .filter(length(col("text")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, char_length(text) - 1), " +
              "i -> substring(text, i, 2))")).as("bg"))
        val counts = bg.groupBy("bg").agg(count(lit(1)).as("n"))
        val tot = counts.agg(sum("n").cast("double").as("t"))
        bg.join(broadcast(counts), "bg")
          .crossJoin(broadcast(tot))
          .groupBy("doc_id")
          .agg(round(avg(log(col("n") / col("t"))), 6).as("lm_score"))
          .orderBy("doc_id")
      }),

    // T14 — blocklist safety scoring: per-doc hit count against a term
    // list plus the keep/drop flag — the safety-filter stage every
    // training pipeline runs. The flag compares n_blocked·20 >
    // n_tokens (an EXACT integer rendering of rate > 5%) so the
    // decision is reproducible across engines with no float boundary;
    // pure per-row array arithmetic, map-side only. At scale a real
    // blocklist (thousands of terms) broadcasts and this same filter
    // becomes an array_intersect against the broadcast set.
    Q("t14_blocklist",
      Some("""SELECT doc_id,
             |  cast(len(ts) AS BIGINT) AS n_tokens,
             |  cast(len(list_filter(ts,
             |       t -> list_contains(['slow','big','merge'], t))) AS BIGINT)
             |    AS n_blocked,
             |  CASE WHEN len(list_filter(ts,
             |       t -> list_contains(['slow','big','merge'], t))) * 20 > len(ts)
             |       THEN 1 ELSE 0 END AS blocked
             |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => T.documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
        .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
          size(filter(col("ts"),
            t => t.isInCollection(Seq("slow", "big", "merge"))))
            .cast("long").as("n_blocked"))
        .withColumn("blocked",
          when(col("n_blocked") * 20 > col("n_tokens"), 1).otherwise(0))
        .orderBy("doc_id"))
      ,

    // T15 — Gopher-style document quality rules (Rae et al. 2021,
    // "Scaling Language Models", table A1): the rule-based pre-filter
    // every LLM corpus runs before model-based scoring. Each rule is
    // rendered as EXACT integer arithmetic (cross-multiplied ratios, no
    // float boundary an engine could land on differently):
    //   r_len      word count in [20, 80]
    //   r_wordlen  mean word length in [3, 10]  ≡  3·w ≤ chars ≤ 10·w
    //   r_alpha    ≥80% of words contain a letter  ≡  5·alpha ≥ 4·w
    //   r_symbol   symbol-to-word ratio ('#'/'...') ≤ 0.1  ≡  10·sym ≤ w
    //   r_stop     ≥2 DISTINCT stopwords present
    // keep = conjunction (integer product). Pure per-row column
    // arithmetic — map-side only, whole-stage codegen, linear at 100 TB.
    Q("t15_gopher_rules",
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    regexp_split_to_array(trim(text), '\s+') AS ts,
             |    cast(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_ns,
             |    cast(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT) AS n_sym,
             |    cast(len(list_distinct(regexp_extract_all(text,
             |        '\b(the|a|of|and|to|in)\b'))) AS BIGINT) AS n_stopkinds
             |  FROM documents)
             |SELECT doc_id,
             |  cast(len(ts) AS BIGINT) AS n_words,
             |  CASE WHEN len(ts) BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS r_len,
             |  CASE WHEN 3 * len(ts) <= n_ns AND n_ns <= 10 * len(ts)
             |       THEN 1 ELSE 0 END AS r_wordlen,
             |  CASE WHEN 5 * len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]')))
             |            >= 4 * len(ts) THEN 1 ELSE 0 END AS r_alpha,
             |  CASE WHEN 10 * n_sym <= len(ts) THEN 1 ELSE 0 END AS r_symbol,
             |  CASE WHEN n_stopkinds >= 2 THEN 1 ELSE 0 END AS r_stop,
             |  (CASE WHEN len(ts) BETWEEN 20 AND 80 THEN 1 ELSE 0 END)
             |    * (CASE WHEN 3 * len(ts) <= n_ns AND n_ns <= 10 * len(ts) THEN 1 ELSE 0 END)
             |    * (CASE WHEN 5 * len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]')))
             |            >= 4 * len(ts) THEN 1 ELSE 0 END)
             |    * (CASE WHEN 10 * n_sym <= len(ts) THEN 1 ELSE 0 END)
             |    * (CASE WHEN n_stopkinds >= 2 THEN 1 ELSE 0 END) AS keep
             |FROM b ORDER BY doc_id""".stripMargin),
      (s, d) => gopherRules(T.documents(s, d)).orderBy("doc_id")),

    // T16 — C4 line-level cleaning (Raffel et al. 2020, §2.2): the
    // other half of rule-based filtering — Gopher (t15) judges the
    // DOCUMENT, C4 edits its LINES. Per line: keep iff it ends in
    // terminal punctuation, holds ≥5 words, and doesn't mention
    // "javascript"; per doc: drop if it contains '{', "lorem ipsum",
    // or keeps <3 lines. Everything is per-row array arithmetic over
    // the split — map-side only, no explode, no shuffle; the cleaned
    // text is rebuilt in original line order by array_join. On the
    // synthetic corpus every doc is one terminal-punctuation-less line
    // (n_kept=0) — the planted multi-line cases live in
    // TextAnalysisSpec; the oracle still pins the counts and the
    // reassembly byte-for-byte.
    Q("t16_c4_line_filters",
      Some("""WITH b AS (
             |  SELECT doc_id, str_split(text, chr(10)) AS ls,
             |    CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS has_brace,
             |    CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem
             |  FROM documents),
             |k AS (
             |  SELECT doc_id, has_brace, has_lorem,
             |    cast(len(ls) AS BIGINT) AS n_lines,
             |    list_filter(ls, l ->
             |      regexp_matches(l, '[.!?"]$')
             |      AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
             |      AND NOT contains(lower(l), 'javascript')) AS kept
             |  FROM b)
             |SELECT doc_id, n_lines,
             |  cast(len(kept) AS BIGINT) AS n_kept,
             |  has_brace, has_lorem,
             |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
             |  CASE WHEN len(kept) >= 3 AND has_brace = 0 AND has_lorem = 0
             |       THEN 1 ELSE 0 END AS keep
             |FROM k ORDER BY doc_id""".stripMargin),
      (s, d) => c4LineClean(T.documents(s, d)).orderBy("doc_id")),

    // T17 — hashed linear quality classifier (the fastText/CCNet
    // model-based filter shape, Joulin et al. 2016): every token hashes
    // into one of 4096 buckets (first 8 hex digits of md5 — the same
    // cross-engine hash sp1/d3 use), the bucket indexes a weight table,
    // and the document's score is the SUM of its token weights — hash,
    // lookup, accumulate, exactly fastText inference. The weight here
    // is a pure INTEGER function of the bucket (a Fibonacci-mix into
    // [-1000,1000]) standing in for the trained table, so the score is
    // exact bigint arithmetic with no float accumulation order to
    // diverge on; `hashedLinearScore` takes any weight expression, so a
    // real trained table broadcasts into the same shape (array lookup).
    // Map-side only: aggregate() folds the token array in place — no
    // explode, no shuffle, one codegen'd projection per row.
    Q("t17_linear_classifier",
      Some("""SELECT doc_id,
             |  cast(len(ts) AS BIGINT) AS n_tokens,
             |  cast(list_sum(list_transform(ts, t ->
             |    ((('0x' || substr(md5(t), 1, 8))::BIGINT % 4096)
             |      * 2654435761) % 2001 - 1000)) AS BIGINT) AS score,
             |  CASE WHEN list_sum(list_transform(ts, t ->
             |    ((('0x' || substr(md5(t), 1, 8))::BIGINT % 4096)
             |      * 2654435761) % 2001 - 1000)) > 0
             |       THEN 1 ELSE 0 END AS keep
             |FROM (SELECT doc_id,
             |        regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val scored = hashedLinearScore(
          T.documents(s, d), col("text"),
          b => (b * lit(2654435761L)) % 2001 - 1000)
        scored.orderBy("doc_id")
      }),

    // T18 — BM25 top-k retrieval (Robertson & Walker 1994; the
    // Okapi/Lucene ranking function): the retrieval primitive a
    // training-data pipeline uses for decontamination lookups, quality
    // probes, and RAG corpus search. Corpus statistics (N, Σdl, per-term
    // df) are ONE aggregate broadcast back as a single row; each doc's
    // score is then a map-side projection (tf from the token array, no
    // explode), and the top-k is a TakeOrderedAndProject — at 100 TB:
    // two map-side scans, one single-row broadcast, no wide shuffle.
    // Cross-engine float contract (the t13 rules): idf's argument is a
    // ratio of exact bigints — ln((2N+2)/(2df+1)) is algebraically
    // (N+1)/(df+0.5) — the length norm starts from the exact Σdl/N
    // division, terms sum in FIXED query order (left fold, not a
    // grouped aggregate), and round(6) absorbs libm ulp differences.
    Q("t18_bm25_topk",
      Some(bm25OracleSql(bm25Query, 10)),
      (s, d) => bm25TopK(T.documents(s, d), bm25Query, 10)),

    // T19 — TRAINED hashed linear classifier: the training half of
    // t17's fastText-shaped filter, run entirely in the engine.
    // Full-batch logistic regression over hashed unigram counts
    // (4096 md5 buckets + bias), gradient descent with the weights
    // BROADCAST as one array literal per iteration and the gradient
    // coming back as ONE ≤4097-row aggregation (map-side combine) —
    // no parameter server, no driver-side data. Training runs on the
    // bounded pinned classifierTrainingSet (= the full corpus at this
    // scale, a fixed-size sample at 100 TB — iterations never rescan
    // the source). Per-doc residuals are
    // QUANTIZED to 1e-6 fixed point before the per-bucket sum, so the
    // gradient is exact long arithmetic — training is bit-reproducible
    // across partitionings and cluster sizes (asserted in
    // TextAnalysisSpec). The label here is a planted linear concept
    // (3·tf(vector) + 2·tf(stream) − tf(slow) > 1) the model must
    // recover; the spec asserts ≥95% train accuracy and layout
    // independence. Rows-only: a gradient-descent run is not
    // SQL-expressible in DuckDB (the e12/d16 precedent).
    Q("t19_trained_classifier", None,
      (s, d) => {
        val docs = T.documents(s, d)
        val w = trainHashedClassifier(docs, plantedConcept(col("text")),
          iters = 30, lr = 2.0)
        scoreWithWeights(docs, col("text"), w).orderBy("doc_id")
      }),

    // T22 — exact PHRASE counting, the scan form: per doc, how many
    // times the token sequence occurs (the operator behind phrase
    // search, n-gram contamination probes, and boilerplate detection).
    // One map-side pass: a position-window filter over the token
    // array, codegen'd, no explode, no shuffle beyond the final sort.
    // The stored positional index answers the same query from postings
    // alone (TextIndex.phraseQuery — b5_phrase_wh twin; spec asserts
    // index ≡ scan).
    Q("t22_phrase_count", Some(phraseOracleSql(phraseQueryTerms)),
      (s, d) => phraseCounts(T.documents(s, d), phraseQueryTerms)),

    // T23 — proximity counting (`a NEAR/w b`), the scan form; the
    // stored positional index answers it via position-list arithmetic
    // in b6_near_wh (same oracle), and the spec asserts index ≡ scan.
    Q("t23_near_count",
      Some(nearOracleSql(nearQueryTerms._1, nearQueryTerms._2,
        nearQueryTerms._3)),
      (s, d) => nearCounts(T.documents(s, d), nearQueryTerms._1,
        nearQueryTerms._2, nearQueryTerms._3)),

    // T24 — collocation mining: the corpus-wide top-k adjacent word
    // pairs (the statistic behind stop-phrase lists, boilerplate
    // detection, and tokenizer-merge candidates — t20's round-1 pair
    // table, surfaced as an operator). Map-side pair explode (a zip of
    // the token array against its own tail — no self-join), ONE
    // count shuffle, TakeOrderedAndProject for the top-k.
    Q("t24_bigram_topk",
      Some("""WITH t AS (
             |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             |  FROM documents WHERE text IS NOT NULL),
             |p AS (
             |  SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS b
             |  FROM t)
             |SELECT b[1] AS w1, b[2] AS w2,
             |  count(*) AS cnt
             |FROM p GROUP BY 1, 2
             |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin),
      (s, d) => {
        val ts = tokens(lower(col("text")))
        T.documents(s, d).filter(col("text").isNotNull)
          .select(explode(arrays_zip(
            slice(ts, lit(1), size(ts) - 1),
            slice(ts, lit(2), size(ts) - 1))).as("b"))
          .select(col("b.0").as("w1"), col("b.1").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w1"), col("w2"))
          .limit(20)
      })
  )

  /** The fixed literal phrase t22/b5 count — present ~30× at sf0.01. */
  lazy val phraseQueryTerms: Seq[String] = Seq("hash", "join")

  /** Per-doc exact phrase occurrence counts over (doc_id, text, …):
    * `filter` over the window start positions, each testing the next
    * |phrase| tokens — pure array arithmetic on the tokenized text.
    * Docs with zero occurrences are absent (phrase-match semantics,
    * and what keeps the result delta-sized on a big corpus). */
  def phraseCounts(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseCounts: empty phrase")
    val ts = tokens(lower(col("text")))
    val n = phrase.size
    val hits = filter(sequence(lit(1), size(ts) - (n - 1)),
      i => phrase.zipWithIndex.map { case (w, j) =>
        element_at(ts, i + j) === w
      }.reduce(_ && _))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        // sequence(1, k) DESCENDS when k < 1 — guard short docs to an
        // honest zero instead of phantom windows
        when(size(ts) >= n, size(hits)).otherwise(0)
          .cast("long").as("phrase_cnt"))
      .filter(col("phrase_cnt") > 0)
      .orderBy("doc_id")
  }

  /** The fixed NEAR probe t23/b6 count: "scan" within 5 tokens of
    * "filter" — frequent enough to hit at every sf. */
  lazy val nearQueryTerms: (String, String, Int) = ("scan", "filter", 5)

  /** Per-doc PROXIMITY counts — `a NEAR/w b`: how many occurrences of
    * `a` have an occurrence of `b` within `w` token positions (the
    * classic NEAR operator; `a == b` counts distinct-position
    * neighbors). Map-side: both position lists derive from one token
    * array, the count is a nested array filter — no explode, no
    * shuffle. Docs with zero hits are absent. */
  def nearCounts(docs: DataFrame, a: String, b: String,
      w: Int): DataFrame = {
    val ts = tokens(lower(col("text")))
    def positionsOf(t: String) =
      filter(sequence(lit(1), size(ts)), i => element_at(ts, i) === t)
    val pa = positionsOf(a); val pb = positionsOf(b)
    val cnt = size(filter(pa, i =>
      exists(pb, j => j =!= i && abs(j - i) <= w)))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        when(size(ts) >= 1, cnt).otherwise(0).cast("long").as("near_cnt"))
      .filter(col("near_cnt") > 0)
      .orderBy("doc_id")
  }

  /** DuckDB rendering of [[nearCounts]]. */
  def nearOracleSql(a: String, b: String, w: Int): String = {
    def esc(s: String) = s.replace("'", "''")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT doc_id, cast(len(list_filter(
       |      list_filter(range(1, len(ts) + 1), i -> ts[i] = '${esc(a)}'),
       |      i -> len(list_filter(
       |        list_filter(range(1, len(ts) + 1), j -> ts[j] = '${esc(b)}'),
       |        j -> j <> i AND abs(j - i) <= $w)) > 0)) AS BIGINT)
       |    AS near_cnt
       |  FROM t)
       |SELECT doc_id, near_cnt FROM c
       |WHERE near_cnt > 0 ORDER BY doc_id""".stripMargin
  }

  /** DuckDB rendering of [[phraseCounts]] — same window predicate over
    * the same tokenizer; `range(a,b)` is empty when b ≤ a, so short
    * docs need no guard there. */
  def phraseOracleSql(phrase: Seq[String]): String = {
    val conds = phrase.zipWithIndex.map { case (w, j) =>
      s"ts[i + $j] = '${w.replace("'", "''")}'"
    }.mkString(" AND ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT doc_id,
       |    cast(len(list_filter(range(1, len(ts) - ${phrase.size - 2}),
       |      i -> $conds)) AS BIGINT) AS phrase_cnt
       |  FROM t)
       |SELECT doc_id, phrase_cnt FROM c
       |WHERE phrase_cnt > 0 ORDER BY doc_id""".stripMargin
  }

  /** The linear concept t19 trains against: a fixed integer-weighted
    * combination of token counts, so separability is by construction. */
  def plantedConcept(text: Column): Column = {
    val ts = tokens(lower(text))
    val cnt = (t: String) => size(filter(ts, x => x === t)).cast("long")
    lit(3) * cnt("vector") + lit(2) * cnt("stream") - cnt("slow") > 1
  }

  private def tokenBuckets(text: Column, buckets: Int): Column =
    transform(split(trim(lower(text)), "\\s+"),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long") % buckets)

  /** The bounded, PINNED training set behind
    * [[trainHashedClassifier]]: a deterministic md5-ordered sample of
    * the corpus (the [[Similarity.trainingSample]] pattern), tokenized
    * once and `localCheckpoint`ed — so every gradient iteration scans
    * `min(sampleN, corpus)` materialized rows and ZERO source files.
    * Gradient descent touches its input `iters` times; over a pinned
    * bounded sample that's fine, over a 100 TB corpus it's `iters`
    * full scans (and a cache that spills) — the round-10 verdict's
    * training-stage scale-killer. `sampleN <= 0` keeps the exact
    * full-batch shape (every row, still checkpointed once). */
  def classifierTrainingSet(docs: DataFrame, label: Column,
      buckets: Int = 4096, sampleN: Int = 100000): DataFrame = {
    val src =
      if (sampleN > 0)
        docs.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
          .limit(sampleN)
      else docs
    src.select(label.cast("int").cast("double").as("y"),
        tokenBuckets(col("text"), buckets).as("bs"))
      .localCheckpoint()
  }

  /** Logistic-regression training over hashed unigram counts, on the
    * bounded [[classifierTrainingSet]] (full-batch at test scale —
    * the corpus is under the default cap — and a fixed-size sample at
    * 100 TB; pass `sampleN <= 0` to force full-batch). Returns
    * `buckets + 1` doubles (bias last). Each iteration is ONE scan of
    * the checkpointed sample plus a ≤(buckets+1)-row shuffle; the
    * collect is bounded by the model size, never the data. Residuals
    * quantize to 1e-6 fixed point so per-bucket gradient sums are
    * exact longs — bit-identical under any partitioning, and
    * independent of the sample's ORDER, so `sampleN` caps ≥ corpus
    * size leave the trained weights exactly unchanged. */
  def trainHashedClassifier(docs: DataFrame, label: Column,
      iters: Int = 30, lr: Double = 0.5,
      buckets: Int = 4096, sampleN: Int = 100000): Array[Double] = {
    val prep = classifierTrainingSet(docs, label, buckets, sampleN)
    val n = prep.count().toDouble
    val w = Array.fill(buckets + 1)(0.0)
    for (_ <- 0 until iters) {
      val wLit = typedlit(w.toSeq)
      val score = col("w_bias") +
        aggregate(col("bs"), lit(0.0),
          (acc, b) => acc + element_at(wLit, (b + 1).cast("int")))
      val p = lit(1.0) / (lit(1.0) + exp(-score))
      // rq = round((p − y)·1e6) as exact fixed point; bucket −1 = bias.
      val grads = prep
        .withColumn("w_bias", lit(w(buckets)))
        .select(round((p - col("y")) * 1e6, 0).cast("long").as("rq"),
          concat(col("bs"), array(lit(-1L))).as("bs"))
        .select(col("rq"), explode(col("bs")).as("b"))
        .groupBy("b").agg(sum("rq").as("g"))
        .collect()
      grads.foreach { r =>
        val b = r.getLong(0); val g = r.getLong(1) / 1e6
        val i = if (b < 0) buckets else b.toInt
        w(i) -= lr * g / n
      }
    }
    w
  }

  /** Score a frame with trained [[trainHashedClassifier]] weights —
    * t17's fold with the broadcast model array (bias last). */
  def scoreWithWeights(docs: DataFrame, text: Column,
      w: Array[Double]): DataFrame = {
    val buckets = w.length - 1
    val wLit = typedlit(w.toSeq)
    val score = lit(w(buckets)) +
      aggregate(tokenBuckets(text, buckets), lit(0.0),
        (acc, b) => acc + element_at(wLit, (b + 1).cast("int")))
    docs.select(col("doc_id"), round(score, 6).as("score"),
      when(score > 0, 1).otherwise(0).as("keep"))
  }

  /** The fixed literal query t18 scores — terms chosen from the
    * synthetic vocabulary with distinct document frequencies.
    * (`lazy`: referenced from `all`'s Q registrations, which run during
    * object init BEFORE this val would be assigned — a plain val is
    * still null there.) */
  lazy val bm25Query: Seq[String] = Seq("vector", "stream", "merge")

  /** BM25 top-k retrieval over any (doc_id, text, …) frame for a fixed
    * literal query. k1=1.2, b=0.75 (the Lucene defaults). Stats pass +
    * scoring pass, both map-side; the stats row broadcasts.
    *
    * The tokenized per-doc frame (`base`: doc_id, dl, tf0…tfN−1 — a
    * handful of longs per doc) is materialized ONCE via localCheckpoint
    * and feeds BOTH the stats aggregate and the scoring pass: the lazy
    * form re-tokenized the whole corpus twice because the stats row
    * must exist before scoring can broadcast it (r17 — the tokenize is
    * the dominant cost of the scan-time lane; at scale the
    * materialization is narrow per-doc longs, a fraction of the text
    * it replaces re-reading). Recomputed per call — nothing persists
    * across invocations. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val ts = tokens(lower(col("text")))
    val base = docs.select(
      col("doc_id") +: size(ts).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(ts, x => x === t)).cast("long").as(s"tf$i")
        }: _*).localCheckpoint()
    val stats = base.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    val scored = base.crossJoin(broadcast(stats))
    scored
      .select(col("doc_id"), col("dl"),
        round(bm25ScoreExpr(terms.size), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The BM25 score as ONE column expression over a frame shaped
    * (dl, tf0…tfN-1, n, sum_dl, df0…dfN-1), every input a LONG. Shared
    * by [[bm25TopK]] (tf from the token array) and the stored inverted
    * index ([[TextIndex]], tf from postings) so both produce
    * BIT-IDENTICAL doubles: same subexpression nesting, same fixed
    * left-fold term order — identical nesting to the oracle SQL. */
  def bm25ScoreExpr(nTerms: Int): Column = {
    val avgdl = col("sum_dl").cast("double") / col("n")
    val lenNorm =
      lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl))
    val termScore = (i: Int) =>
      log((lit(2) * col("n") + 2).cast("double") /
        (lit(2) * col(s"df$i") + 1)) *
        ((col(s"tf$i") * lit(2.2)) / (col(s"tf$i") + lenNorm))
    (0 until nTerms).map(termScore).reduce(_ + _)
  }

  /** DuckDB rendering of [[bm25TopK]] over `documents` — the same
    * expression shapes in the same order, so every double operation is
    * IEEE-identical and round(6) only has libm-ln ulps to absorb. */
  def bm25OracleSql(terms: Seq[String], k: Int,
      excludeIds: Seq[Long] = Nil): String = {
    // excludeIds: recompute over the corpus MINUS these docs — n,
    // sum_dl, and every df shrink with them, so this is the oracle
    // for an index that has remove()d them (the b17 lane)
    val from =
      if (excludeIds.isEmpty) "documents"
      else s"(SELECT * FROM documents WHERE doc_id NOT IN " +
        s"(${excludeIds.mkString(", ")}))"
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"cast(len(list_filter(ts, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"cast(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n    ")
    val termSql = terms.indices.map(i =>
      s"(ln(cast(2*n + 2 AS DOUBLE) / (2*df$i + 1)) * " +
        s"((tf$i * cast(2.2 AS DOUBLE)) / (tf$i + " +
        "(cast(1.2 AS DOUBLE) * (cast(0.25 AS DOUBLE) + " +
        "cast(0.75 AS DOUBLE) * (dl / (cast(sum_dl AS DOUBLE) / n)))))))")
      .reduce((a, b) => s"($a + $b)")
    s"""WITH base AS (
       |  SELECT doc_id, cast(len(ts) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id,
       |          regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
       |        FROM $from)),
       |stats AS (
       |  SELECT cast(count(*) AS BIGINT) AS n,
       |    cast(sum(dl) AS BIGINT) AS sum_dl,
       |    $dfCols
       |  FROM base)
       |SELECT doc_id, dl, round($termSql, 6) AS score
       |FROM base, stats
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** The BATCH form of [[bm25OracleSql]]: each query's top-k with a
    * query_id tag, UNION ALL'd — the oracle
    * [[graft.operators.TextIndex.queryBatch]] must reproduce (same
    * per-query arithmetic, outer order (query_id, score desc, doc)).
    * NOTE the positive-prefix caveat: the scan ranks zero-score docs
    * too, so every query here must have ≥ k positive matches (the
    * b2_bm25_wh condition, per query). */
  def bm25BatchOracleSql(queries: Seq[(Long, Seq[String])],
      k: Int): String =
    queries.map { case (qid, ts) =>
      s"SELECT $qid AS query_id, * FROM (\n${bm25OracleSql(ts, k)}\n)"
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY query_id, score DESC, doc_id")

  /** The five t15 rule flags (1/0) over a text column, in board order.
    * Repeated subtrees (the token split) are deduplicated by
    * whole-stage codegen's subexpression elimination — one projection,
    * map-side only. */
  private def gopherFlags(text: Column): Seq[(String, Column)] = {
    val ts = tokens(text)
    val w = size(ts).cast("long")
    val nNs = nonSpaceLen(text)
    val nSym =
      size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0))).cast("long")
    val nStop = size(array_distinct(regexp_extract_all(text,
      lit("\\b(the|a|of|and|to|in)\\b"), lit(1)))).cast("long")
    val nAlpha = size(filter(ts, t => t.rlike("[A-Za-z]"))).cast("long")
    Seq(
      "r_len" -> when(w.between(20, 80), 1).otherwise(0),
      "r_wordlen" ->
        when(lit(3) * w <= nNs && nNs <= lit(10) * w, 1).otherwise(0),
      "r_alpha" -> when(lit(5) * nAlpha >= lit(4) * w, 1).otherwise(0),
      "r_symbol" -> when(lit(10) * nSym <= w, 1).otherwise(0),
      "r_stop" -> when(nStop >= 2, 1).otherwise(0))
  }

  /** The t15 rule evaluation over any (doc_id, text, …) frame — kept
    * callable so specs (and pipelines) can score crafted documents. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val flags = gopherFlags(col("text"))
    docs.select(col("doc_id") +:
      size(tokens(col("text"))).cast("long").as("n_words") +:
      (flags.map { case (n, c) => c.as(n) } :+
        flags.map(_._2).reduce(_ * _).as("keep")): _*)
  }

  /** t16's per-line keep predicate (C4 §2.2): terminal punctuation,
    * ≥5 words, no "javascript". `l` is one line. */
  def c4LineKeep(l: Column): Column =
    l.rlike("[.!?\"]$") &&
      size(split(trim(l), "\\s+")) >= 5 &&
      !lower(l).contains("javascript")

  /** C4 line-level cleaning over any (doc_id, text, …) frame: line
    * gates applied inside the row (filter over the split array — no
    * explode), document gates ('{', "lorem ipsum", ≥3 kept lines), and
    * the cleaned text reassembled in original line order. One map-side
    * projection; at 100 TB this runs entirely inside the scan stage. */
  def c4LineClean(docs: DataFrame): DataFrame = {
    val ls = split(col("text"), "\n")
    val kept = filter(ls, c4LineKeep(_))
    val hasBrace = when(col("text").contains("{"), 1).otherwise(0)
    val hasLorem =
      when(lower(col("text")).contains("lorem ipsum"), 1).otherwise(0)
    docs.select(
      col("doc_id"),
      size(ls).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      hasBrace.as("has_brace"),
      hasLorem.as("has_lorem"),
      array_join(kept, "\n").as("clean_text"),
      when(size(kept) >= 3 && hasBrace === 0 && hasLorem === 0, 1)
        .otherwise(0).as("keep"))
  }

  /** t17's hash → weight-lookup → accumulate scoring over any
    * (doc_id, text, …) frame. `weightOf` maps a bucket id in
    * [0, 4096) to an integral weight — a pure expression here, an
    * `element_at` into a broadcast literal array for a trained model;
    * either way the fold stays inside one codegen'd projection
    * (aggregate() over the token array — no explode, no shuffle). */
  def hashedLinearScore(docs: DataFrame, text: Column,
      weightOf: Column => Column): DataFrame = {
    val ts = split(trim(lower(text)), "\\s+")
    val bucket = (t: Column) =>
      conv(substring(md5(t), 1, 8), 16, 10).cast("long") % 4096
    val score = aggregate(ts, lit(0L), (acc, t) => acc + weightOf(bucket(t)))
    docs.select(
      col("doc_id"),
      size(ts).cast("long").as("n_tokens"),
      score.as("score"),
      when(score > 0, 1).otherwise(0).as("keep"))
  }
}
