package graft.operators

import graft.{Q, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over the
  * `documents` table: exact, normalized-exact, MinHash signatures,
  * MinHash+LSH candidate pairs, SimHash, and blocked n-gram Jaccard.
  *
  * Design for 100 TB:
  *  - exact / normalized dedup is one hash-shuffle groupBy on a 16-byte
  *    digest (never on the full text);
  *  - MinHash signatures are computed per-row with NO shuffle (array
  *    expressions inside codegen), then LSH banding shuffles only
  *    (doc_id, band_hash) pairs — the classic shingle→minhash→band→
  *    bucket-join pipeline whose shuffle volume is O(docs × bands),
  *    independent of document length;
  *  - candidate verification joins back only the candidate pairs;
  *  - n-gram Jaccard is *blocked* (here by `source`) — never an
  *    unblocked O(n²) cross join.
  *
  * Every hash is MD5-derived so DuckDB reproduces results bit-for-bit
  * (hex strings are uniformly distributed, so lexicographic MIN over
  * md5(seed:token) is a valid minwise hash family).
  */
object Dedup {

  /** Distinct whitespace tokens of a text column. */
  def tokenSet(text: Column): Column = array_distinct(split(trim(text), "\\s+"))

  /** Word n-gram shingles (1-based element_at, matching the SQL oracle). */
  def shingles(toks: Column, n: Int): Column =
    transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))

  /** A doc's md5 word-n-gram digests, SORTED — the first half of the
    * row-local gram dedup ([[adjacentDistinct]] is the second). All of
    * one document's grams live in the single row they explode from, so
    * a corpus-wide `distinct()` dedups nothing a per-row pass cannot —
    * yet it costs the pipeline's largest Exchange (every digest row
    * shuffles). Sorting the digest array once per row (O(g log g)
    * comparisons) and dropping adjacent repeats removes that shuffle
    * outright; `array_distinct` is deliberately NOT used — its string
    * path is a quadratic per-row scan. The digest SET per doc is
    * identical to explode-then-distinct, so every downstream join and
    * count is unchanged. */
  def sortedGramDigests(toks: Column, n: Int): Column =
    array_sort(transform(shingles(toks, n), g => md5(g)))

  /** Adjacent-repeat filter over a SORTED array — `sorted` MUST be a
    * materialized attribute (select [[sortedGramDigests]] into its own
    * column first): a composite expression here would re-evaluate per
    * element inside the lambda, the same trap as inlining `split` into
    * the shingle lambda. */
  def adjacentDistinct(sorted: Column): Column =
    filter(sorted, (x, i) => i === 0 || x =!= element_at(sorted, i))

  /** LSH band hashes: md5 over `rows` consecutive signature columns. */
  def bandHashes(sigCols: Seq[Column], rows: Int): Column =
    array(sigCols.grouped(rows).map(g => md5(concat(g: _*))).toSeq: _*)

  // (The 32-bit SimHash hv — first 8 md5 hex chars as int, bit j set
  // iff the weighted ±1 vote sum is positive — lives in the fused
  // native [[graft.functions.SimHash32]] since r17.)

  // ---------------------------------------------------------------
  private val K_SIG = 8    // d3: 3-gram signature width
  private val K_LSH = 16   // d4: unigram minhash width
  private val BANDS = 2    // d4: 2 bands × 8 rows (selective — J^8 collision)
  private val JACC_MIN = 0.9

  /** Shared oracle CTE: distinct unigram tokens per doc. */
  private val tokCte =
    """tok AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tk
      |        FROM documents)""".stripMargin

  /** Connected components over an undirected pair graph — the cluster-
    * resolution step a production dedup runs AFTER pair discovery:
    * near-dup relations are not transitive, so keep-one-per-pair drops
    * too much or too little; the right unit is the component, keeping
    * its min-id element as canonical.
    *
    * Min-label propagation with pointer halving: every node starts
    * labeled with itself; each round (a) takes the min label across
    * edges, then (b) follows the label one extra hop (comp :=
    * label(comp)), so label distance halves per round and a chain of
    * depth D resolves in O(log D) rounds, not O(D) — an adversarial
    * 100-deep component costs ~8 joins, not 100. Each round is two
    * hash joins + one aggregation; the driver loop only ever sees a
    * changed-row COUNT — no data is collected. Live state is one
    * (id, comp) table — two longs per node — not the corpus.
    *
    * Durability: with a reliable checkpoint dir configured
    * (`sc.setCheckpointDir` — HDFS/object store on a cluster), each
    * round's state is written there as parquet and read back, cutting
    * lineage onto storage that survives executor loss — and the
    * SUPERSEDED round's files are deleted as soon as the next round
    * lands (Spark's own reliable checkpoints are only reclaimed with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, default
    * off, so an hours-long run would otherwise fill the store). Live
    * footprint: the current round + edges; the final round and edges
    * persist for the caller and are reclaimed with the checkpoint dir.
    * `localCheckpoint` (executor-pinned blocks, no recovery) is the
    * fallback for dev sessions that never set a dir. `maxIterations`
    * bounds adversarial inputs; with halving, 50 rounds covers
    * components ~2^50 deep. Returns (id, comp). */
  def connectedComponents(pairs: DataFrame,
      src: String = "d1", dst: String = "d2",
      maxIterations: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val ckptRoot = spark.sparkContext.getCheckpointDir.map(d =>
      new org.apache.hadoop.fs.Path(d,
        s"graft-cc-${java.util.UUID.randomUUID.toString.take(8)}"))
    def pin(df: DataFrame, tag: String): DataFrame = ckptRoot match {
      case Some(root) =>
        val p = new org.apache.hadoop.fs.Path(root, tag).toString
        df.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      case None => df.localCheckpoint()
    }
    def drop(tag: String): Unit = ckptRoot.foreach { root =>
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root, tag), true)
    }
    val edges = pin(pairs.select(col(src).as("esrc"), col(dst).as("edst"))
      .unionByName(pairs.select(col(dst).as("esrc"), col(src).as("edst"))), "edges")
    var labels = pin(edges.select(col("esrc").as("id")).distinct()
      .withColumn("comp", col("id")), "round-0")
    var changed = 1L
    var iter = 0
    while (changed > 0) {
      iter += 1
      if (iter > maxIterations)
        throw new IllegalStateException(
          s"connectedComponents: no fixpoint after $maxIterations rounds " +
            "(component deeper than 2^rounds, or a non-converging input)")
      val propagated = edges.join(labels, col("esrc") === col("id"))
        .select(col("edst").as("id"), col("comp"))
      val gathered = labels.unionByName(propagated)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer halving: comp := label(comp). The label of a node is
      // always an id inside the same component, so the invariant holds;
      // a left join + coalesce keeps rows whose label has no own row
      // yet this round.
      val hop = gathered.select(col("id").as("comp"), col("comp").as("hop"))
      val next = pin(gathered.join(hop, Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("hop"), col("comp"))).as("comp")),
        s"round-$iter")
      changed = next.join(labels.withColumnRenamed("comp", "prev"), Seq("id"))
        .filter(col("comp") =!= col("prev")).count()
      labels = next
      // previous round fully consumed (next materialized, delta counted)
      drop(s"round-${iter - 1}")
    }
    labels
  }

  val all: Seq[Q] = Seq(
    // D1 — exact dedup: hash-groupBy on md5(text)
    Q("d1_dedup_exact",
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin),
      (s, d) => T.documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("h")),

    // D2 — normalized dedup (whitespace/case-insensitive fingerprint)
    Q("d2_dedup_normalized",
      Some("""SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             |       min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),
      (s, d) => T.documents(s, d)
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("fp")),

    // D3 — MinHash signatures over 3-gram shingles (per-row, no shuffle)
    Q("d3_minhash_signature", {
      val sigs = (0 until K_SIG).map(i => s"min(md5('$i:'||s)) AS sig$i").mkString(",\n  ")
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
              |sh AS (SELECT doc_id,
              |         unnest(list_transform(range(1, len(ts) - 1),
              |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
              |       FROM t WHERE len(ts) >= 3)
              |SELECT doc_id, $sigs, count(DISTINCT s) AS n_shingles
              |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin)
      },
      (s, d) => {
        // ONE fused pass per row (MinHashSigs): all K mins computed
        // from the shingle array with no explode inflation and NO
        // shuffle at all — signatures are a per-row map-side value, the
        // way a 100 TB run stores them. The shingle array is
        // materialized as a named column first (the lambda-CSE lesson),
        // and `sigs`/`sh` are fanned out in a SEPARATE projection:
        // CollapseProject keeps multi-referenced non-cheap aliases
        // un-inlined, so each is computed once (plan-asserted in
        // PlanQualitySpec).
        val sigs = T.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
          .filter(size(col("ts")) >= 3)
          .select(col("doc_id"), shingles(col("ts"), 3).as("sh"))
          .select(col("doc_id"),
            graft.functions.VectorFunctions.minhashSigs(s, col("sh"), K_SIG).as("sigs"),
            size(array_distinct(col("sh"))).cast("long").as("n_shingles"))
        sigs.select(col("doc_id") +:
          (0 until K_SIG).map(i => element_at(col("sigs"), i + 1).as(s"sig$i")) :+
          col("n_shingles"): _*)
          .orderBy("doc_id")
      }),

    // D4 — MinHash + LSH near-dup pairs over unigram token sets:
    // band collision → candidate pairs → exact Jaccard verification.
    Q("d4_minhash_lsh_pairs", {
      val sigs = (0 until K_LSH).map(i => s"min(md5('$i:'||tk)) AS s$i").mkString(",\n  ")
      val rows = K_LSH / BANDS
      val bandList = (0 until BANDS)
        .map(b => "md5(" + (0 until rows).map(r => s"s${b * rows + r}").mkString("||") + ")")
        .mkString("[", ", ", "]")
      Some(s"""WITH $tokCte,
              |sig AS (SELECT doc_id, $sigs FROM tok GROUP BY doc_id),
              |band AS (SELECT doc_id, unnest($bandList) AS bh FROM sig),
              |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              |         FROM band a JOIN band b ON a.bh = b.bh AND a.doc_id < b.doc_id),
              |inter AS (SELECT c.d1, c.d2, count(*) AS i
              |          FROM cand c
              |          JOIN tok t1 ON t1.doc_id = c.d1
              |          JOIN tok t2 ON t2.doc_id = c.d2 AND t2.tk = t1.tk
              |          GROUP BY c.d1, c.d2),
              |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id)
              |SELECT i.d1, i.d2,
              |       cast(i.i as double) / (sa.n + sb.n - i.i) AS jacc
              |FROM inter i
              |JOIN sz sa ON sa.doc_id = i.d1
              |JOIN sz sb ON sb.doc_id = i.d2
              |WHERE cast(i.i as double) / (sa.n + sb.n - i.i) >= $JACC_MIN
              |ORDER BY d1, d2""".stripMargin)
      },
      (s, d) => minHashLshPairs(T.documents(s, d), "doc_id", "text",
        K_LSH, BANDS, JACC_MIN)),

    // D5 — 32-bit SimHash per document (weighted token multiset)
    Q("d5_simhash", {
      val bits = (0 until 32)
        .map(j => s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN w ELSE -w END) AS b$j")
        .mkString(",\n  ")
      val assemble = (0 until 32)
        .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      Some(s"""WITH t AS (SELECT doc_id, tk, count(*) AS w
              |          FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tk
              |                FROM documents) GROUP BY doc_id, tk),
              |h AS (SELECT doc_id, w, ('0x' || substr(md5(tk), 1, 8))::BIGINT AS hv FROM t),
              |bits AS (SELECT doc_id, $bits FROM h GROUP BY doc_id)
              |SELECT doc_id, cast($assemble as bigint) AS simhash
              |FROM bits ORDER BY doc_id""".stripMargin)
      },
      (s, d) => {
        // ROW-LOCAL simhash (r17): the old explode → groupBy(doc, tk)
        // → groupBy(doc) shape shuffled every token occurrence through
        // TWO Exchanges to compute votes that are occurrence-additive
        // anyway (Σ_token w·(±1) ≡ Σ_occurrence ±1 — long arithmetic,
        // bit-identical). The fused native [[graft.functions.SimHash32]]
        // (the MinHashSigs treatment) computes the whole signature in
        // one codegen'd pass per row — zero pre-sort shuffles. The
        // isNotNull filter reproduces the old explode semantics (a
        // null text exploded to no rows, dropping the doc).
        T.documents(s, d)
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            graft.functions.VectorFunctions.simhash32(s,
              split(trim(col("text")), "\\s+")).as("simhash"))
          .orderBy("doc_id")
      }),

    // D6 — blocked n-gram (bigram) Jaccard: pairwise only WITHIN a
    // blocking key (`source`) — the scale-safe rendering of pairwise
    // similarity (never an unblocked O(n²) cross join).
    Q("d6_ngram_jaccard",
      Some("""WITH bg AS (
             |  SELECT doc_id, source,
             |    list_distinct(list_transform(range(1, len(ts)),
             |                  i -> ts[i] || ' ' || ts[i+1])) AS bgs
             |  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ts
             |        FROM documents) WHERE len(ts) >= 2),
             |ex AS (SELECT doc_id, source, unnest(bgs) AS g FROM bg),
             |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.source AS source
             |         FROM bg a JOIN bg b ON a.source = b.source AND a.doc_id < b.doc_id),
             |inter AS (SELECT c.d1, c.d2, c.source, count(*) AS i
             |          FROM cand c
             |          JOIN ex e1 ON e1.doc_id = c.d1
             |          JOIN ex e2 ON e2.doc_id = c.d2 AND e2.g = e1.g
             |          GROUP BY 1, 2, 3),
             |sz AS (SELECT doc_id, len(bgs) AS n FROM bg)
             |SELECT i.source, i.d1, i.d2,
             |       cast(i.i as double) / (sa.n + sb.n - i.i) AS jacc
             |FROM inter i JOIN sz sa ON sa.doc_id = i.d1 JOIN sz sb ON sb.doc_id = i.d2
             |WHERE cast(i.i as double) / (sa.n + sb.n - i.i) >= 0.05
             |ORDER BY source, d1, d2""".stripMargin),
      (s, d) => {
        // sparse formulation: explode grams once, self-join on
        // (block, gram) so only pairs sharing ≥1 gram are ever
        // materialized, then intersection counts via groupBy — no
        // dense pairwise array shuffles (pairs with no shared gram
        // cannot reach any positive threshold)
        // token array materialized first (the d10 lesson — an inlined
        // split re-evaluates inside every element_at of the lambda)
        val bg = T.documents(s, d)
          .select(col("doc_id"), col("source"),
            split(trim(col("text")), "\\s+").as("ts"))
          .filter(size(col("ts")) >= 2)
          .select(col("doc_id"), col("source"),
            array_distinct(shingles(col("ts"), 2)).as("bgs"))
        val sz = bg.select(col("doc_id"), size(col("bgs")).cast("long").as("n"))
        val ex = bg.select(col("doc_id"), col("source"), explode(col("bgs")).as("g"))
        val inter = ex.select(col("source"), col("doc_id").as("d1"), col("g"))
          .join(ex.select(col("source"), col("doc_id").as("d2"), col("g")),
            Seq("source", "g"))
          .filter(col("d1") < col("d2"))
          .groupBy("source", "d1", "d2").agg(count(lit(1)).as("i"))
        inter
          .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
          .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
          .select(col("source"), col("d1"), col("d2"),
            (col("i").cast("double") / (col("n1") + col("n2") - col("i"))).as("jacc"))
          .filter(col("jacc") >= 0.05)
          .orderBy("source", "d1", "d2")
      }),

    // D8 — dedup cluster resolution: connected components over the
    // embedding near-dup pair graph (d7's pairs), each vector mapped to
    // its component's min id (the canonical survivor). The oracle walks
    // the same closure with a recursive CTE.
    Q("d8_dedup_components",
      Some(s"""WITH RECURSIVE ${Similarity.neardupPairsCtes},
              |pairs AS (SELECT d1, d2 FROM sums
              |          WHERE round(dot / (sqrt(na) * sqrt(nb)), 12) >= 0.2),
              |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
              |          UNION SELECT d2, d1 FROM pairs),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(id, m) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT e.dst, r.m FROM reach r JOIN edges e ON e.src = r.id)
              |SELECT id AS vec_id, cast(min(m) as bigint) AS canonical_id
              |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin),
      (s, d) => connectedComponents(
        Similarity.neardupPairs(s, d).select("d1", "d2"))
        .select(col("id").as("vec_id"), col("comp").cast("long").as("canonical_id"))
        .orderBy("vec_id")),

    // d9 — duplicate-cluster resolution policy: after components (d8),
    // pick WHICH member of each near-dup cluster survives. Policy here:
    // keep the highest id (deterministic; swap in quality score or
    // length in production) and report cluster size — the "drop k-1 of
    // every k duplicates" accounting a 100 TB dedup run reports. One
    // groupBy over the slim (id, comp) pairs; no text ever shuffles.
    Q("d9_cluster_canonical",
      Some(s"""WITH RECURSIVE ${Similarity.neardupPairsCtes},
              |pairs AS (SELECT d1, d2 FROM sums
              |          WHERE round(dot / (sqrt(na) * sqrt(nb)), 12) >= 0.2),
              |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
              |          UNION SELECT d2, d1 FROM pairs),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(id, m) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT e.dst, r.m FROM reach r JOIN edges e ON e.src = r.id),
              |comp AS (SELECT id, min(m) AS cluster FROM reach GROUP BY id)
              |SELECT cast(cluster as bigint) AS cluster_id,
              |  cast(max(id) as bigint) AS keep_id,
              |  count(*) AS members
              |FROM comp GROUP BY cluster ORDER BY cluster_id""".stripMargin),
      (s, d) => connectedComponents(
        Similarity.neardupPairs(s, d).select("d1", "d2"))
        .groupBy(col("comp").cast("long").as("cluster_id"))
        .agg(max(col("id")).cast("long").as("keep_id"),
          count(lit(1)).as("members"))
        .orderBy("cluster_id")),

    // d10 — benchmark decontamination sweep: for every training
    // document, count the distinct word 8-grams it shares with a held-
    // out benchmark set (here: source 'src0' stands in for the eval
    // suite) — the exact-substring contamination check every training
    // corpus runs before a model sees it. Grams are md5'd BEFORE the
    // join so the shuffle carries 16-byte digests, never 8-word
    // strings, and the benchmark side (eval suites are small by
    // construction) broadcasts — the corpus-side grams are filtered in
    // the scan stage without ever being exchanged.
    Q("d10_contamination",
      Some("""WITH g AS (
             |  SELECT doc_id, source,
             |    list_distinct(list_transform(range(1, len(ts) - 6),
             |                  i -> array_to_string(ts[i:i+7], ' '))) AS gs
             |  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ts
             |        FROM documents) WHERE len(ts) >= 8),
             |ex AS (SELECT doc_id, source, md5(unnest(gs)) AS h FROM g),
             |bench AS (SELECT DISTINCT h FROM ex WHERE source = 'src0'),
             |train AS (SELECT doc_id, h FROM ex WHERE source <> 'src0')
             |SELECT t.doc_id, count(*) AS shared_grams
             |FROM train t JOIN bench b ON t.h = b.h
             |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => {
        // materialize the token array ONCE per row before shingling:
        // inlining `split(...)` into the shingle lambda re-evaluates
        // the regex split inside every element_at — 8 splits per gram
        // position per row (measured 15.6 s → ~1 s at sf0.1). Per-doc
        // gram dedup is ROW-LOCAL ([[sortedGramDigests]]/
        // [[adjacentDistinct]]): a doc's grams never leave their row
        // before the explode, so the old corpus-wide distinct()
        // shuffled every digest to dedup what a per-row sorted pass
        // already settles — r17 drops that Exchange (guide §2.4).
        val ex = T.documents(s, d)
          .select(col("doc_id"), col("source"),
            split(trim(col("text")), "\\s+").as("ts"))
          .filter(size(col("ts")) >= 8)
          .select(col("doc_id"), col("source"),
            explode(graft.functions.VectorFunctions
              .gramDigests(col("ts"), 8)).as("h"))
        val bench = ex.filter(col("source") === "src0").select("h").distinct()
        val train = ex.filter(col("source") =!= "src0").select("doc_id", "h")
        train.join(broadcast(bench), Seq("h"))
          .groupBy("doc_id").agg(count(lit(1)).as("shared_grams"))
          .orderBy("doc_id")
      }),

    // D11 — sorted-neighborhood blocking: the classic entity-resolution
    // complement to LSH banding. Sort each block (here: source) by a
    // normalized key and score only ADJACENT rows — candidate volume is
    // O(n·w) by construction instead of bucket-collision-dependent.
    // The window partitions by block, so the sort is distributed (one
    // partition per block, never a global single-partition sort); at
    // 100 TB blocks come from range partitioning on the sort key.
    Q("d11_sorted_neighborhood",
      Some("""WITH t AS (
             |  SELECT doc_id, source, lower(trim(text)) AS norm,
             |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tks
             |  FROM documents),
             |n AS (
             |  SELECT doc_id AS d1, lead(doc_id) OVER w AS d2,
             |         tks AS t1, lead(tks) OVER w AS t2
             |  FROM t WINDOW w AS (PARTITION BY source ORDER BY norm, doc_id))
             |SELECT d1, d2,
             |  round(len(list_intersect(t1, t2))::DOUBLE /
             |        len(list_distinct(list_concat(t1, t2))), 6) AS jacc
             |FROM n WHERE d2 IS NOT NULL ORDER BY d1, d2""".stripMargin),
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("norm", "doc_id")
        T.documents(s, d)
          .select(col("doc_id"), col("source"),
            lower(trim(col("text"))).as("norm"),
            tokenSet(col("text")).as("tks"))
          .select(col("doc_id").as("d1"),
            lead(col("doc_id"), 1).over(w).as("d2"),
            col("tks").as("t1"), lead(col("tks"), 1).over(w).as("t2"))
          .filter(col("d2").isNotNull)
          .select(col("d1"), col("d2"),
            round(size(array_intersect(col("t1"), col("t2"))).cast("double") /
              size(array_union(col("t1"), col("t2"))), 6).as("jacc"))
          .orderBy("d1", "d2")
      }),

    // D12 — edit-distance scoring over sorted-neighborhood candidates:
    // the string-metric tier of entity resolution (token Jaccard in d11
    // misses transpositions and small in-word typos; Levenshtein sees
    // them). Distance is computed on a fixed 40-char normalized key
    // PREFIX, never the full document — edit distance is O(len²) per
    // pair, so production ER always bounds the operand (sort key,
    // title, canonical name). Candidate volume stays O(n) from the
    // neighborhood adjacency; both engines' `levenshtein` is the
    // character-level Wagner-Fischer distance, so the score itself is
    // oracle-checked, not just the pairing.
    Q("d12_edit_distance",
      Some("""WITH t AS (
             |  SELECT doc_id, source, lower(trim(text)) AS norm FROM documents),
             |n AS (
             |  SELECT doc_id AS d1, lead(doc_id) OVER w AS d2,
             |         substr(norm, 1, 40) AS k1,
             |         lead(substr(norm, 1, 40)) OVER w AS k2
             |  FROM t WINDOW w AS (PARTITION BY source ORDER BY norm, doc_id))
             |SELECT d1, d2, levenshtein(k1, k2) AS dist
             |FROM n WHERE d2 IS NOT NULL ORDER BY d1, d2""".stripMargin),
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("norm", "doc_id")
        T.documents(s, d)
          .select(col("doc_id"), col("source"),
            lower(trim(col("text"))).as("norm"))
          .select(col("doc_id").as("d1"),
            lead(col("doc_id"), 1).over(w).as("d2"),
            substring(col("norm"), 1, 40).as("k1"),
            lead(substring(col("norm"), 1, 40), 1).over(w).as("k2"))
          .filter(col("d2").isNotNull)
          .select(col("d1"), col("d2"),
            levenshtein(col("k1"), col("k2")).cast("long").as("dist"))
          .orderBy("d1", "d2")
      }),

    // D13 — duplicated-SPAN detection: the span-level complement to the
    // doc-level dedup family (the ExactSubstr idea of "Deduplicating
    // Training Data Makes Language Models Better" at shingle
    // granularity): a 20-token window appearing VERBATIM in ≥2 docs is
    // boilerplate/template text a doc-level dedup never sees. Per doc:
    // distinct windows and how many of them are cross-doc duplicated.
    // Only 16-byte digests shuffle (d10's discipline) — once for the
    // per-digest doc count, once for the per-doc rollup; text never
    // leaves the map side.
    Q("d13_dup_spans",
      Some("""WITH g AS (
             |  SELECT doc_id,
             |    list_transform(range(1, len(ts) - 18),
             |                   i -> array_to_string(ts[i:i+19], ' ')) AS gs
             |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
             |        FROM documents) WHERE len(ts) >= 20),
             |w AS (SELECT DISTINCT doc_id, md5(unnest(gs)) AS h FROM g),
             |dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2)
             |SELECT w.doc_id,
             |  cast(count(*) AS BIGINT) AS n_windows,
             |  cast(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dup_windows
             |FROM w LEFT JOIN dup d ON w.h = d.h
             |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => dupSpanCounts(T.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"))
  ,

    // D17 — contamination FRACTION + drop decision: d10 counts a
    // training doc's benchmark-shared 8-grams; the decision a corpus
    // release actually publishes (the FineWeb/Llama-style report) is
    // the per-doc RATIO shared/total with a threshold. Every train doc
    // appears (zero-overlap docs report 0 — the left join d10's inner
    // join drops), the fraction is one correctly-rounded division of
    // two exact bigints, and the drop flag is the exact-integer
    // rendering 20·shared > total ≡ ratio > 5% — no float boundary in
    // the decision (the t14/t15 discipline). Same scale shape as d10:
    // digests-only shuffle, bench side broadcast.
    Q("d17_contamination_frac",
      Some("""WITH g AS (
             |  SELECT doc_id, source,
             |    list_distinct(list_transform(range(1, len(ts) - 6),
             |                  i -> array_to_string(ts[i:i+7], ' '))) AS gs
             |  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ts
             |        FROM documents) WHERE len(ts) >= 8),
             |ex AS (SELECT doc_id, source, md5(unnest(gs)) AS h FROM g),
             |bench AS (SELECT DISTINCT h FROM ex WHERE source = 'src0'),
             |train AS (SELECT doc_id, h FROM ex WHERE source <> 'src0'),
             |st AS (SELECT t.doc_id,
             |         cast(count(*) AS BIGINT) AS n_grams,
             |         cast(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)
             |           AS BIGINT) AS shared_grams
             |       FROM train t LEFT JOIN bench b ON t.h = b.h
             |       GROUP BY t.doc_id)
             |SELECT doc_id, n_grams, shared_grams,
             |  round(cast(shared_grams AS DOUBLE) / n_grams, 6) AS frac,
             |  CASE WHEN shared_grams * 20 > n_grams THEN 1 ELSE 0 END
             |    AS drop_doc
             |FROM st ORDER BY doc_id""".stripMargin),
      (s, d) => {
        // row-local gram dedup — d10's rationale (the corpus-wide
        // distinct() Exchange dedups nothing a per-row sorted pass
        // cannot; r17, guide §2.4)
        val ex = T.documents(s, d)
          .select(col("doc_id"), col("source"),
            split(trim(col("text")), "\\s+").as("ts"))
          .filter(size(col("ts")) >= 8)
          .select(col("doc_id"), col("source"),
            explode(graft.functions.VectorFunctions
              .gramDigests(col("ts"), 8)).as("h"))
        val bench = ex.filter(col("source") === "src0").select("h").distinct()
        val train = ex.filter(col("source") =!= "src0").select("doc_id", "h")
        train.join(broadcast(bench.withColumn("__b", lit(1))), Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("__b").isNotNull, 1L).otherwise(0L))
              .as("shared_grams"))
          .select(col("doc_id"), col("n_grams"), col("shared_grams"),
            round(col("shared_grams").cast("double") / col("n_grams"), 6)
              .as("frac"),
            when(col("shared_grams") * 20 > col("n_grams"), 1).otherwise(0)
              .as("drop_doc"))
          .orderBy("doc_id")
      }),

    // D18 — FUZZY benchmark decontamination (see [[fuzzyContamination]]):
    // d10 catches verbatim 8-gram leakage; this catches the paraphrase
    // tier — training docs whose token SET is Jaccard-near an eval doc
    // after edits that break every verbatim gram. LSH bands (4×4 over a
    // 16-wide md5 minwise family — permissive where d4's 2×8 is
    // selective, a contamination screen wants recall) discover
    // candidates with the bench side BROADCAST, exact Jaccard verifies
    // only candidates. Both engines restrict to the identical candidate
    // set, so the LSH recall bound can't split the hash.
    Q("d18_fuzzy_contamination", {
      val k = 16; val bands = 4; val rows = k / bands
      val sigs = (0 until k).map(i => s"min(md5('$i:'||tk)) AS s$i")
        .mkString(",\n  ")
      val bandList = (0 until bands)
        .map(b => "md5(" +
          (0 until rows).map(r => s"s${b * rows + r}").mkString("||") + ")")
        .mkString("[", ", ", "]")
      Some(s"""WITH tok18 AS (SELECT doc_id, source,
              |    unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tk
              |  FROM documents),
              |sig AS (SELECT doc_id, source, $sigs FROM tok18 GROUP BY doc_id, source),
              |band AS (SELECT doc_id, source, unnest(list_distinct($bandList)) AS bh FROM sig),
              |cand AS (SELECT DISTINCT t.doc_id AS tid, b.doc_id AS bid
              |         FROM band t JOIN band b ON t.bh = b.bh
              |         WHERE t.source <> 'src0' AND b.source = 'src0'),
              |sz AS (SELECT doc_id, count(*) AS n FROM tok18 GROUP BY doc_id),
              |inter AS (SELECT c.tid, c.bid, count(*) AS i
              |          FROM cand c
              |          JOIN tok18 t1 ON t1.doc_id = c.tid
              |          JOIN tok18 t2 ON t2.doc_id = c.bid AND t2.tk = t1.tk
              |          GROUP BY c.tid, c.bid),
              |j AS (SELECT i.tid, cast(i.i as double) / (sa.n + sb.n - i.i) AS jacc
              |      FROM inter i JOIN sz sa ON sa.doc_id = i.tid
              |                   JOIN sz sb ON sb.doc_id = i.bid
              |      WHERE cast(i.i as double) / (sa.n + sb.n - i.i) >= 0.5)
              |SELECT tid AS doc_id, max(jacc) AS max_jacc,
              |       count(*) AS n_bench_dups
              |FROM j GROUP BY tid ORDER BY doc_id""".stripMargin)
      },
      (s, d) => fuzzyContamination(T.documents(s, d)))
  )

  /** Map-side (id, band_hash) rows — the shared front half of every
    * LSH lane: per-row fused MinHash signature over the distinct
    * unigram token set, grouped into `bands` md5 band hashes,
    * deduplicated per row (array_distinct BEFORE the explode, so a
    * doc whose band hashes collide with themselves never becomes its
    * own prior) and exploded. No shuffle; shuffle width downstream is
    * 2 slim columns regardless of document length. */
  private[graft] def bandedIds(docs: DataFrame, idCol: String,
      textCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "signature width must divide evenly into bands")
    val rows = k / bands
    docs.select(col(idCol).as("id"), tokenSet(col(textCol)).as("tks"))
      .select(col("id"), graft.functions.VectorFunctions.minhashSigs(
        docs.sparkSession, col("tks"), k).as("sigs"))
      .select(col("id"), explode(array_distinct(bandHashes(
        (1 to k).map(i => element_at(col("sigs"), i)), rows))).as("bh"))
  }

  /** LSH keep-first dedup ASSIGNMENT — the batch form of the
    * streaming near-dedup ([[graft.streaming.DocStream]]): every doc
    * gets `dup_of` = the smallest doc id sharing ≥1 LSH band bucket
    * with it (null → first of its neighborhood, keep=1). Unlike
    * [[minHashLshPairs]] this never enumerates pairs: per bucket the
    * "smallest earlier id" is a running-min WINDOW over the bucket's
    * ids — O(bucket·log bucket) sort work instead of O(bucket²)
    * candidates, so a boilerplate-heavy hot bucket needs no skew cap.
    * One hash shuffle on the band key + one on the doc id; only
    * (id, 16-byte band hash) rows ever move. Dropped docs stay
    * visible as priors (dup_of chains through removed docs — the
    * transitive-neighborhood policy a keep-first dedup wants, and the
    * one a per-bucket min can answer without sequential recursion). */
  def lshDedupAssign(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, bands: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("bh").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, -1)
    bandedIds(docs, idCol, textCol, k, bands)
      .select(col("id"), min("id").over(w).as("prior"))
      .groupBy("id").agg(min("prior").as("dup_of"))
      .select(col("id").as(idCol), col("dup_of"),
        when(col("dup_of").isNull, 1).otherwise(0).as("keep"))
      .orderBy(idCol)
  }

  /** DuckDB rendering of [[lshDedupAssign]] — shared by st7's
    * streaming oracle row and b9's stored-index twins. `where`
    * restricts which docs get a VERDICT row (the `a` side); the prior
    * side stays unrestricted — a filtered batch is still judged
    * against the whole corpus, exactly like a stored-index read. */
  def lshAssignOracleSql(k: Int = 16, bands: Int = 4,
      where: String = ""): String = {
    require(k % bands == 0, "signature width must divide evenly into bands")
    val rows = k / bands
    val sigs = (0 until k).map(i => s"min(md5('$i:'||tk)) AS s$i")
      .mkString(",\n  ")
    val bandList = (0 until bands)
      .map(b => "md5(" +
        (0 until rows).map(r => s"s${b * rows + r}").mkString("||") + ")")
      .mkString("[", ", ", "]")
    val filt = if (where.isEmpty) "" else s"\n       WHERE $where"
    s"""WITH tok7 AS (SELECT doc_id,
       |    unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tk
       |  FROM documents),
       |sig AS (SELECT doc_id, $sigs FROM tok7 GROUP BY doc_id),
       |band AS (SELECT doc_id, unnest(list_distinct($bandList)) AS bh FROM sig),
       |pr AS (SELECT a.doc_id, min(b.doc_id) AS dup_of
       |       FROM band a LEFT JOIN band b
       |         ON a.bh = b.bh AND b.doc_id < a.doc_id$filt
       |       GROUP BY a.doc_id)
       |SELECT doc_id, dup_of,
       |       CASE WHEN dup_of IS NULL THEN 1 ELSE 0 END AS keep
       |FROM pr ORDER BY doc_id""".stripMargin
  }

  /** Fuzzy benchmark decontamination — the MinHash complement to
    * d10's exact shared-8-gram lookup: a training doc is contaminated
    * when its token SET is near-identical (Jaccard ≥ threshold) to
    * some eval doc, even where paraphrase-level edits break every
    * verbatim 8-gram. Candidates come from an LSH band join with the
    * BENCH side broadcast (an eval suite is thousands of docs; the
    * training corpus is the 100 TB side and stays map-side through
    * candidate discovery), then exact Jaccard verifies only the
    * candidate pairs — bench token sets broadcast again, train sets
    * join the (small) candidate list. Returns one row per
    * contaminated training doc: (doc_id, max_jacc, n_bench_dups).
    * Recall is the LSH bound (a pair below the band-collision curve
    * can be missed) — identical on both engines since candidates are
    * restricted identically. */
  def fuzzyContamination(docs: DataFrame, benchSource: String = "src0",
      k: Int = 16, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "signature width must divide evenly into bands")
    val rows = k / bands
    val toks = docs.select(col("doc_id"), col("source"),
      tokenSet(col("text")).as("tks"))
    // source rides the map-side banding projection — no join back
    val banded = toks
      .select(col("doc_id"), col("source"),
        graft.functions.VectorFunctions.minhashSigs(
          docs.sparkSession, col("tks"), k).as("sigs"))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(bandHashes(
          (1 to k).map(i => element_at(col("sigs"), i)), rows))).as("bh"))
    val bench = banded.filter(col("source") === benchSource)
      .select(col("doc_id").as("bid"), col("bh"))
    val train = banded.filter(col("source") =!= benchSource)
      .select(col("doc_id").as("tid"), col("bh"))
    val cand = train.join(broadcast(bench), Seq("bh"))
      .select("tid", "bid").distinct()
    val btoks = toks.filter(col("source") === benchSource)
      .select(col("doc_id").as("bid"), col("tks").as("btks"))
    val ttoks = toks.filter(col("source") =!= benchSource)
      .select(col("doc_id").as("tid"), col("tks").as("ttks"))
    cand.join(ttoks, Seq("tid")).join(broadcast(btoks), Seq("bid"))
      .select(col("tid"), col("bid"),
        (size(array_intersect(col("ttks"), col("btks"))).cast("double") /
          size(array_union(col("ttks"), col("btks")))).as("jacc"))
      .filter(col("jacc") >= threshold)
      .groupBy("tid")
      .agg(max("jacc").as("max_jacc"),
        count(lit(1)).cast("long").as("n_bench_dups"))
      .select(col("tid").as("doc_id"), col("max_jacc"), col("n_bench_dups"))
      .orderBy("doc_id")
  }

  /** Library API behind d13: per-document verbatim-span statistics.
    * A document's text is windowed into `window`-token shingles; a
    * window whose md5 digest appears in ≥ 2 documents is a duplicated
    * span (boilerplate, licenses, templated text). Returns (doc_id,
    * n_windows, n_dup_windows) for documents with at least `window`
    * tokens — shorter docs have no windows and no row. Only 16-byte
    * digests cross the shuffles; text stays map-side. */
  def dupSpanCounts(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 20): DataFrame = {
    val w = docs
      .select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("ts"))
      .filter(size(col("ts")) >= window)
      .select(col("doc_id"), explode(shingles(col("ts"), window)).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("h"))
      .distinct()
    val dup = w.groupBy("h").agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= 2)
      .select(col("h"), lit(1).as("__dup"))
    w.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_windows"),
        sum(coalesce(col("__dup"), lit(0))).cast("long")
          .as("n_dup_windows"))
  }

  /** Library API — MinHash+LSH near-duplicate pairs with exact-Jaccard
    * verification. Shuffles only (id, band_hash) in the banding stage
    * and candidate ids in the verify stage. A hot band bucket (a
    * boilerplate-heavy corpus collapses many docs into one band hash)
    * is split by [[Skew.boundedSelfPairs]] so no single task ever
    * enumerates more than `maxBucket`² candidates — the pair set is
    * unchanged, only its task layout. */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, threshold: Double,
      maxBucket: Int = 1024): DataFrame = {
    require(k % bands == 0, "signature width must divide evenly into bands")
    val rows = k / bands
    val toks = docs.select(col(idCol).as("id"), tokenSet(col(textCol)).as("tks"))
    // ONE fused per-row pass (MinHashSigs) computes all k mins — the
    // explode + grouped-min form shuffled every (doc, token) row just to
    // rebuild per-doc state the row already had. `sigs` is an alias
    // referenced k times by the band hashes below; CollapseProject keeps
    // multi-referenced non-cheap aliases un-inlined, so the signature
    // pass runs once per row (plan-asserted in PlanQualitySpec).
    val sig = toks.select(col("id"),
      graft.functions.VectorFunctions.minhashSigs(
        docs.sparkSession, col("tks"), k).as("sigs"))
    // band join carries ONLY (band_hash, id) — never the token arrays.
    // Shuffle width is 2 slim columns regardless of document size.
    // The explicit repartition on bh is the single materialization
    // point: boundedSelfPairs consumes `banded` through several DAG
    // branches (bucket sizing + both pair sides), and without a common
    // Exchange each branch would re-run the whole signature pass over
    // the corpus — ReuseExchange collapses them onto one computation,
    // and every downstream consumer needs hash(bh) partitioning anyway.
    val banded = sig.select(col("id"),
      explode(bandHashes((1 to k).map(i => element_at(col("sigs"), i)), rows)).as("bh"))
      .repartition(col("bh"))
    val cand = Skew.boundedSelfPairs(banded, "bh", "id", maxBucket)
      .select("d1", "d2").distinct()
    // exact-Jaccard verification: attach token sets to the (much
    // smaller) candidate set only
    cand
      .join(toks.select(col("id").as("d1"), col("tks").as("tk1")), Seq("d1"))
      .join(toks.select(col("id").as("d2"), col("tks").as("tk2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("tk1"), col("tk2"))).cast("double") /
          size(array_union(col("tk1"), col("tk2")))).as("jacc"))
      .filter(col("jacc") >= threshold)
      .orderBy("d1", "d2")
  }
}
