package graft

/** Benchmark main — runs the headline queries on
  * sys.env("SPARK_GRAFT_SF_DIR") and prints ONE JSON line.
  *
  * local[cpus] with cpus shuffle partitions, cpus from
  * SPARK_GRAFT_CPUS (default 32; at cluster scale the same plans run
  * with spark.sql.shuffle.partitions sized to executor count × cores).
  */
object Bench {

  /** Session width of the bench lanes, shared by the diagnostic tools
    * so their plans and timings are the ones the bench runs. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Headline subset: the scan → join → aggregate → top-k spine plus
    * one representative of each extension family (exact dedup, simhash,
    * token stats, LSH buckets, native cosine top-k, windowed agg,
    * sessionization, frame sampling). The quadratic pair-discovery
    * queries (d4/d6) are correctness-gated but excluded here — their
    * cost is dominated by this corpus's degenerate near-dup structure,
    * not by plan quality. */
  def headline: Seq[String] = Seq(
    "q1_agg", "j1_join_agg", "j10_star", "j9_multiway", "o1_topk",
    "j6_expr_datekey", "w2_running_sum", "i2_incremental_antijoin",
    "p6_not_in_anti", "u1_union_distinct",
    "d1_dedup_exact", "d5_simhash", "t1_token_stats", "e2_lsh_buckets",
    "e4_cosine_topk_native", "st1_window_agg", "st2_sessionize",
    "mm2_frame_sample",
    // table-format read-path twins: identical probe, raw parquet vs
    // the Warehouse manifest/pruning lane (setup memoized; the wh
    // median must stay within ~1.5× of the raw one)
    "b1_probe_raw", "b1_probe_wh",
    // round-10 lanes: hybrid retrieval (BM25 + dense + fusion),
    // sequence packing, per-doc contamination fraction
    "e14_rrf_fusion", "sp10_pack", "d17_contamination_frac",
    // retrieval SERVING twins: scan-time BM25 vs the stored inverted
    // index, and the stored IVF-PQ probe (index builds memoized —
    // median-of-3 discards the build run)
    "b2_bm25_raw", "b2_bm25_wh", "b2_bm25_batch_wh",
    "b3_ann_wh", "b3_ann_batch_wh", "b15_hybrid_wh",
    "b15_hybrid_batch_wh",
    // round-15 literal serving lanes: query-by-text BM25 and
    // query-by-vector ANN (full probe — the hash-checked path)
    "b2_bm25_text_wh", "b3_ann_vec_full_wh",
    // round-15 maintenance lane: BM25 through an index that lived a
    // full lifecycle (incremental build-out, remove, OPTIMIZE — df
    // fold + debris pack + tombstone fold); read against b2_bm25_wh —
    // a maintained index must not serve slower than a fresh build
    "b17_optimized_bm25_wh",
    // round-16 maintenance lane: b17's vector twin — a FULL probe
    // through an ANN index that lived the same lifecycle (incremental
    // build-out, remove, OPTIMIZE codes pack + tombstone fold),
    // hash-checked against brute-force cosine over the surviving
    // corpus; read against b3_ann_vec_full_wh's fresh-index full probe
    "b18_optimized_ann_wh",
    // round-17 lanes: EXACT adaptive serving (cell-bound terminated —
    // brute-force-equal ranking without a full probe) and the
    // geometry-evolution lifecycle (retrainAs 4 → 16 cells, full
    // probe through the re-shaped index)
    "b19_exact_ann_wh", "b20_reshaped_ann_wh", "b21_vec_exact_ann_wh",
    // metadata-only aggregate (manifest fold — near-zero read cost),
    // its plain-SQL Catalyst-rule twin, and phrase search from the
    // stored positional index
    "b4_minmax_wh", "b8_sql_minmax_wh", "b5_phrase_wh",
    // dedup-gate serving twins: full LSH recompute vs the stored
    // near-dup index (bucket-min segment read, batch bands broadcast)
    "b9_neardup_raw", "b9_neardup_wh",
    // token-ledger twins: per-source sum/count by grouped scan vs
    // folded from the manifest's exact per-file sums (SQL rewrite)
    "b10_ledger_raw", "b10_ledger_wh",
    // mean-ledger twins: per-source avg by grouped scan vs the
    // metadata fold's sum/nn division (SQL rewrite, zero files opened)
    "b12_avg_raw", "b12_avg_wh",
    // decimal-ledger twins: per-source fixed-point sum/mean by grouped
    // scan vs the manifest's exact per-file DECIMAL sums (API fold)
    "b14_ledger_dec_raw", "b14_ledger_dec_wh",
    // decontamination-firewall twins: per-question suite re-shingle vs
    // the stored gram digests (batch grams broadcast, digests stream)
    "b11_contam_raw", "b11_contam_wh"
  ).filter(SparkEntry.queries.contains)

  /** The ATTRIBUTION lane: the same headline queries in a VANILLA
    * session (no GraftExtensions — no injected analyzer/optimizer
    * rules, no custom parser). Its numbers separate the two causes a
    * round-over-round swing can have: if the graft lane moves and this
    * lane moves WITH it, the cause is environmental (host noise, JVM,
    * IO); if the graft lane moves alone, a graft rule changed cost.
    * One warm-up run (uncounted — it also pays the memoized
    * warehouse/index setup some b-queries amortize), one timed run:
    * this is a differential indicator, not a benchmark, and it must
    * stay cheap. Queries whose ANSWER needs an injected rule (b8's
    * SQL metadata fold) still RUN here — through the plain scan, which
    * is itself the informative comparison. Disable with
    * SPARK_GRAFT_BENCH_VANILLA=0. */
  private def vanillaLane(sfDir: String)
      : (Seq[(String, Double)], Seq[String]) = {
    val spark = Sessions.local(cpus, extensions = false)
    spark.sparkContext.setLogLevel("WARN")
    Tables.lineitem(spark, sfDir).count()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = headline.flatMap { name =>
      val fn = SparkEntry.queries(name)
      // a failed query is EXCLUDED from the timing map and reported in
      // its own errors list — a 0.0 entry would silently shrink the
      // attribution lane and read as a speedup
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((name, (System.nanoTime() - t0) / 1e9))
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] vanilla $name failed: ${e.getMessage}")
        None
      }
    }
    spark.stop()
    (out, failed.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the vanilla lane runs FIRST, in its own session and context, so
    // the graft lane's numbers stay directly comparable to prior
    // rounds' (same warm-up position, same JVM phase)
    val (vanilla, vanillaFailed) =
      if (sys.env.get("SPARK_GRAFT_BENCH_VANILLA").contains("0"))
        (Nil, Nil)
      else vanillaLane(sfDir)
    val spark = Sessions.local(cpus, extensions = true)
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM + parquet footer caches once so per-query numbers
    // measure the plan, not first-touch classloading.
    Tables.lineitem(spark, sfDir).count()

    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // median of 3 runs inside one JVM: single-run numbers on the
    // 0.3 s-floor queries swing ±30% with GC/scheduler noise, which
    // masquerades as plan regressions round-over-round; the median is
    // stable while still charging any real per-run work
    val runsPer = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(runsPer >= 1,
      s"SPARK_GRAFT_BENCH_RUNS=$runsPer would time nothing and report 0.0s")
    val results = headline.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to runsPer).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          // noop write: forces full evaluation of every column (count()
          // alone would let Catalyst prune the plan to nothing)
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          if (!failed.contains(name)) {
            failed += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          None
        }
      }
      val median =
        if (times.isEmpty) 0.0
        else times.sorted.apply((times.size - 1) / 2)
      (name, median, if (times.isEmpty) 0.0 else times.min)
    }
    def render(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    val qs = render(results.map(r => (r._1, r._2)))
    // second reading, same line: the per-query MINIMUM of the same
    // runs — the noise-floor estimator. A host-variance round shows
    // median ≫ min with uniform ratios; a real regression moves BOTH.
    val qsMin = render(results.map(r => (r._1, r._3)))
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val totalMin = results.map(_._3).sum
    // third reading: the no-extensions attribution lane (see
    // vanillaLane) — swings that track it are environmental, swings
    // that don't are graft-rule cost
    val qsVan = render(vanilla)
    val errsVan = vanillaFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a failed query makes the line loudly non-comparable instead of
    // silently shrinking the total — in BOTH lanes
    val line = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"value_min":${f"$totalMin%.3f"},"queries_min":$qsMin,"queries_vanilla":$qsVan,"errors":$errs,"errors_vanilla":$errsVan,"runs_per_query":$runsPer,"sf":"$sfDir"}"""
    // the same line as a stable file artifact: stdout capture can
    // truncate a long tail mid-lane, which silently drops the
    // extensions block from the record — the file always carries every
    // lane parseable. Best-effort: the stdout line is the contract.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_full.json write failed: " +
        e.getMessage)
    }
    // the JSON line is the VERY LAST stdout of the process: Spark's
    // shutdown already ran, so no late log line can land after it and
    // push it out of a bounded tail capture — the per-round artifact
    // parses from the tail's final line without reconstruction
    spark.stop()
    println(line)
  }
}
