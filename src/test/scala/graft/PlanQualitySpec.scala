package graft

import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, JoinStrategyHint, ResolvedHint, SHUFFLE_HASH}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the properties that keep these plans
  * viable at 100 TB (SURVEY §4): filters and projections reach the
  * parquet scan, dimension joins broadcast, top-k avoids a global sort,
  * nothing falls back to cartesian products.
  */
class PlanQualitySpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("q1_agg: shipdate filter pushed to the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("p1_project: scan reads only the projected columns") {
    val p = plan("p1_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse(
      p.split("ReadSchema").lift(1).getOrElse(""))
    assert(p.contains("l_orderkey") && !p.contains("l_tax"),
      s"column pruning failed:\n$p")
  }

  test("j3_broadcast_dim: dimension side broadcasts") {
    assert(plan("j3_broadcast_dim").contains("BroadcastHashJoin"))
  }

  test("j10_star: no shuffle-side cartesian, joins are hash joins") {
    val p = plan("j10_star")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Join"), p)
  }

  private def hintStrategies(df: org.apache.spark.sql.DataFrame): Seq[JoinStrategyHint] =
    operators.Relational.dimJoinHint(df).queryExecution.analyzed.collect {
      case h: ResolvedHint => h.hints.strategy
    }.flatten

  test("dimJoinHint: a dim chain past the 256 MB leaf-byte gate gets SHUFFLE_HASH, not BROADCAST") {
    // Range's leaf sizeInBytes is 8 B/row: 2^26 rows = 512 MB
    val hints = hintStrategies(spark.range(1L << 26).toDF())
    assert(hints.contains(SHUFFLE_HASH), hints)
    assert(!hints.contains(BROADCAST), hints)
  }

  test("dimJoinHint: a dim chain under the gate broadcasts") {
    val hints = hintStrategies(spark.range(1000).toDF())
    assert(hints.contains(BROADCAST), hints)
    assert(!hints.contains(SHUFFLE_HASH), hints)
  }

  test("o1_topk: top-k plans TakeOrderedAndProject (no global sort)") {
    assert(plan("o1_topk").contains("TakeOrderedAndProject"))
  }

  test("i2_incremental_antijoin: existing-keys side broadcasts into the anti-join") {
    val p = plan("i2_incremental_antijoin")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("e1_cosine_topk: no shuffle of embedding vectors (broadcast query vector only)") {
    val p = plan("e1_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("e7_ivf_ann_topk: argmax is a partial aggregation, not a per-row window sort") {
    val p = plan("e7_ivf_ann_topk")
    assert(!p.contains("Window"), s"window argmax crept back:\n$p")
    assert(p.contains("BroadcastExchange"), s"centroids not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("runtime bloom filter: selective dim filter reaches the fact scan of a shuffle join") {
    // the unpartitioned-fact sibling of dynamic partition pruning: when
    // the dim side is too big to broadcast, Spark builds a bloom filter
    // from the filtered dim and semi-filters the fact BEFORE its
    // shuffle. Thresholds are production-sized, so shrink them to the
    // test corpus; broadcast is disabled to force the shuffle-join shape
    // this filter exists for.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(spark, sf)
      val sup = Tables.supplier(spark, sf).filter(col("s_acctbal") > 9000)
      val q = li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey").agg(count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), s"no runtime bloom filter:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("e2_lsh_buckets: bucket assignment stays inside whole-stage codegen") {
    val p = plan("e2_lsh_buckets")
    // the LshBucket projection must sit in a codegen'd stage over the
    // scan — no Exchange before the bucket is computed
    val beforeSort = p.split("Sort").head
    assert(!beforeSort.contains("Exchange"), s"shuffle before bucketing:\n$p")
  }

  test("sp5_shuffle: deterministic global order plans TakeOrderedAndProject") {
    // per-partition top-k + driver merge — the only ORDER BY .. LIMIT
    // shape that survives a 100 TB corpus
    assert(plan("sp5_shuffle").contains("TakeOrderedAndProject"))
  }

  test("a16_grouping_sets: one Expand pass, not a union of re-aggregations") {
    val p = plan("a16_grouping_sets")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Union"), s"grouping sets fell back to a union:\n$p")
  }

  test("j16_skew_salted: the 8x-replicated dim still broadcasts") {
    assert(plan("j16_skew_salted").contains("BroadcastHashJoin"))
  }

  test("d10_contamination: benchmark gram digests broadcast into the probe") {
    // the corpus-side grams are filtered against the broadcast digest
    // set in place — they are never exchanged
    assert(plan("d10_contamination").contains("BroadcastHashJoin"))
  }

  test("d3_minhash_signature: ONE fused signature pass, no shuffle before the sort") {
    val p = plan("d3_minhash_signature")
    val occurrences = "minhash_sigs".r.findAllIn(p).length
    assert(occurrences == 1,
      s"minhash_sigs inlined $occurrences times (CollapseProject fan-out):\n$p")
    // signatures are per-row now — no explode+groupBy aggregation left
    assert(!p.contains("HashAggregate"), s"aggregate crept back into d3:\n$p")
  }

  test("d4_minhash_lsh_pairs: one executed signature pass (branches reuse the bh exchange)") {
    // boundedSelfPairs consumes `banded` through several DAG branches;
    // the repartition(bh) is the shared materialization point and AQE
    // stage reuse collapses the branches at runtime — so judge the
    // FINAL adaptive plan, not the pre-execution sketch
    val df = SparkEntry.queries("d4_minhash_lsh_pairs")(spark, sf)
    df.collect()
    // judge only the executed section (the trailing "== Initial Plan =="
    // dump is the pre-reuse sketch)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val computed = "minhash_sigs".r.findAllIn(p).length
    assert(computed == 1,
      s"signature pass executed $computed times (exchange not reused):\n$p")
  }

  test("e11_sq8_stored_topk: rank path never shuffles the corpus by vec_id") {
    val p = plan("e11_sq8_stored_topk")
    // e9's rank was a grouped aggregation over the 64× positional form;
    // the stored-code path scores per row — the only exchanges are the
    // 64-row bounds aggregation and broadcasts
    assert(!p.contains("hashpartitioning(vec_id"),
      s"vec_id shuffle crept into the stored-code rank:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("e9_sq8_topk: bounds and query broadcast; rank is an aggregation, not a window") {
    val p = plan("e9_sq8_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), s"window crept into the sq8 rank:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("j18_null_safe_join: <=> keys still hash-join (no nested loop)") {
    val p = plan("j18_null_safe_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"null-safe join fell off the hash path:\n$p")
  }

  test("a21_multi_distinct: one Expand pass, no self-joins") {
    val p = plan("a21_multi_distinct")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join"), s"multi-distinct planned a join:\n$p")
  }

  test("f11_gap_fill: daily counts broadcast to the exploded spine") {
    val p = plan("f11_gap_fill")
    assert(p.contains("BroadcastHashJoin"), s"spine join shuffled:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x1_explode_words: top-k via TakeOrderedAndProject after the agg") {
    val p = plan("x1_explode_words")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Generate"), s"no explode Generate node:\n$p")
  }

  test("path-mode small table auto-broadcasts without an explicit hint") {
    // Catalyst's broadcast decision for a path-mode table rides the
    // file-index size estimate of the manifest's exact file list — no
    // catalog stats, no AQE runtime re-plan, no broadcast() hint needed
    import org.apache.spark.sql.functions._
    val wh = new graft.olist.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("wh_cbo").toString)
    wh.save("dim_small", spark.range(100).toDF("k")
      .withColumn("label", concat(lit("g"), col("k") % 7)))
    wh.save("fact_big", spark.range(200000)
      .select((col("id") % 100).as("k"), (col("id") * 2).as("v")))
    val joined = wh.table("fact_big").join(wh.table("dim_small"), "k")
      .groupBy("label").agg(sum("v").as("sv"))
    // assert on the INITIAL physical plan (pre-AQE), so the broadcast
    // came from the size estimate, not an AQE runtime conversion
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"small path-mode dim did not auto-broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("j19_pit_lookup: SCD2 validity range is a hash-join residual, not a nested loop") {
    // key equality carries the join; the [valid_from, valid_to) check
    // must ride as a residual condition on the hash join — a
    // BroadcastNestedLoopJoin here would be O(facts × versions)
    val p = plan("j19_pit_lookup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("NestedLoop"), s"range residual fell off the hash join:\n$p")
  }

  test("p10_correlated_subquery: de-correlates to one aggregate + join (no per-row subquery)") {
    val p = plan("p10_correlated_subquery")
    // RewriteCorrelatedScalarSubquery leaves an ordinary agg + join —
    // no Subquery/DomainJoin artifacts survive to the physical plan
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Join"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p11_exists_subquery: EXISTS rewrites to a semi join, never per-row") {
    val p = plan("p11_exists_subquery")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("path-mode reads surface manifest row counts to the cost-based optimizer") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("wh_cbo").toString
    val wh = new graft.olist.Warehouse(spark, dir)
    wh.save("t", spark.range(12345).toDF("k"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      // the manifest's per-commit row count — no ANALYZE, no scan —
      // reaches plan statistics exactly
      val stats = wh.table("t").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(12345)),
        s"manifest rowCount missing from CBO stats: ${stats.rowCount}")
      // EXPLAIN COST renders it (scientific notation — exactness is
      // asserted on the stats object above)
      val cost = wh.table("t").queryExecution.stringWithStats
      assert(cost.contains("rowCount=1.23E+4"), cost.take(500))
      // and it tracks commits: stats always describe the CURRENT snapshot
      wh.delete("t", col("k") >= 12000L)
      val after = wh.table("t").queryExecution.optimizedPlan.stats
      assert(after.rowCount.contains(BigInt(12000)),
        s"post-delete rowCount stale: ${after.rowCount}")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("pruned, probed, and time-travel reads carry per-group manifest stats") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = java.nio.file.Files.createTempDirectory("wh_substats").toString
    val wh = new graft.olist.Warehouse(spark, dir)
    // 4 single-file partitions with EXACT disjoint 1000-row k ranges
    // (b = k / 1000 — deterministic, unlike range-partitioner sampling)
    wh.save("t", spark.range(4000).select(col("id").as("k"),
      (col("id") % 100).as("v"), floor(col("id") / 1000).as("b"))
      .repartition(col("b")),
      partitionBy = Seq("b"), clusterBy = Seq("k"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      def relStats(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case l: LogicalRelation => l.stats }
      // a stats-pruned subset read: the relation's rowCount is the
      // SUBSET's per-file sum, not the table total
      val sub = wh.scan("t",
        graft.olist.Warehouse.ColRange("k", Some(0L), Some(999L)))
      val rc = relStats(sub).flatMap(_.rowCount)
      assert(rc == Seq(BigInt(1000)), s"subset rowCount: $rc")
      // a DV point delete updates the CURRENT count but time travel
      // still plans with ITS version's count (pinned empty DV state)
      wh.delete("t", col("k") === 42L)
      val cur = relStats(wh.table("t")).flatMap(_.rowCount)
      assert(cur == Seq(BigInt(3999)), s"post-DV rowCount: $cur")
      val hist = relStats(wh.tableAt("t", 1)).flatMap(_.rowCount)
      assert(hist == Seq(BigInt(4000)), s"v1 rowCount: $hist")
      // subset NDV comes from the subset's own sketches
      val st = sub.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.stats }.head
      val ndv = st.attributeStats.find(_._1.name == "k")
        .flatMap(_._2.distinctCount)
      assert(ndv.exists(n => n >= 950 && n <= 1050),
        s"subset k NDV ~1000 expected, got $ndv")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("manifest HLL sketches give the CBO column NDVs; join reorder uses them") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = java.nio.file.Files.createTempDirectory("wh_ndv").toString
    val wh = new graft.olist.Warehouse(spark, dir)
    // big: 100k rows, fk_mid has ~1000 distinct, fk_small ~10 distinct;
    // the indexed (cluster) columns get per-file HLL sketches at commit
    wh.save("big", spark.range(100000).select(col("id").as("k"),
      (col("id") % 1000).as("fk_mid"), (col("id") % 10).as("fk_small"))
      .repartition(4), clusterBy = Seq("fk_mid", "fk_small"))
    wh.save("mid", spark.range(1000).select(col("id").as("mk"),
      (col("id") * 2).as("mv")).coalesce(1), clusterBy = Seq("mk"))
    // small holds only 3 of big's 10 fk_small values → joining it FIRST
    // cuts big to ~30%; the mid join is key-preserving (100%)
    wh.save("small", spark.range(3).select(col("id").as("sk"),
      (col("id") * 5).as("sv")).coalesce(1), clusterBy = Seq("sk"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      // the NDV union of per-file sketches reaches plan statistics
      val st = wh.table("big").queryExecution.optimizedPlan.stats
      val ndvMid = st.attributeStats.find(_._1.name == "fk_mid")
        .flatMap(_._2.distinctCount)
      assert(ndvMid.exists(n => n >= 900 && n <= 1100),
        s"fk_mid NDV ~1000 expected, got $ndvMid")
      val ndvSmall = st.attributeStats.find(_._1.name == "fk_small")
        .flatMap(_._2.distinctCount)
      assert(ndvSmall.exists(n => n >= 9 && n <= 11),
        s"fk_small NDV ~10 expected, got $ndvSmall")
      // written in the WORSE order (mid first); NDV-derived join
      // cardinalities should flip the bottom join to (big ⋈ small)
      def q = wh.table("big")
        .join(wh.table("mid"), col("fk_mid") === col("mk"))
        .join(wh.table("small"), col("fk_small") === col("sk"))
      def rels(p: LogicalPlan): Set[String] = p.collect {
        case l: LogicalRelation =>
          l.catalogTable.map(_.identifier.table).getOrElse("?") }.toSet
      val bottoms = q.queryExecution.optimizedPlan.collect {
        case j: Join if rels(j).size == 2 => rels(j) }
      assert(bottoms.contains(Set("big", "small")),
        s"expected reorder to join small first, bottom joins: $bottoms")
      assert(q.count() == 30000)
      // sanity: with reordering off, the written order stands — the
      // flip above really was the stats-driven optimizer at work
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      val plain = q.queryExecution.optimizedPlan.collect {
        case j: Join if rels(j).size == 2 => rels(j) }
      assert(plain.contains(Set("big", "mid")),
        s"without reorder the declared order stands: $plain")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
    }
  }

  test("statsBy: declared join keys get NDV sketches; CBO reorders on them") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = java.nio.file.Files.createTempDirectory("wh_statsby").toString
    val wh = new graft.olist.Warehouse(spark, dir)
    // the fk columns are NEITHER cluster nor bloom columns: without a
    // declaration the table plans stats-blind on them
    wh.save("bigs", spark.range(100000).select(col("id").as("k"),
      (col("id") % 1000).as("fk_mid"), (col("id") % 10).as("fk_small"))
      .repartition(4), clusterBy = Seq("k"))
    wh.save("mids", spark.range(1000).select(col("id").as("mk"),
      (col("id") * 2).as("mv")).coalesce(1), clusterBy = Seq("mk"))
    wh.save("smalls", spark.range(3).select(col("id").as("sk"),
      (col("id") * 5).as("sv")).coalesce(1), clusterBy = Seq("sk"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      // before the declaration: no distinct counts for the fk columns
      val pre = wh.table("bigs").queryExecution.optimizedPlan.stats
      assert(!pre.attributeStats.exists(s =>
        s._1.name == "fk_small" && s._2.distinctCount.isDefined),
        "fk_small should have no NDV before statsBy")
      // declare the join keys: one re-analyze pass, no file rewritten
      val filesBefore = wh.describeDetail("bigs").toMap.apply("numFiles")
      wh.statsBy("bigs", Seq("fk_mid", "fk_small"))
      val detail = wh.describeDetail("bigs").toMap
      assert(detail("statsColumns") == "fk_mid,fk_small")
      assert(detail("numFiles") == filesBefore)
      assert(wh.history("bigs").last.op == "statsby")
      val st = wh.table("bigs").queryExecution.optimizedPlan.stats
      val ndvMid = st.attributeStats.find(_._1.name == "fk_mid")
        .flatMap(_._2.distinctCount)
      assert(ndvMid.exists(n => n >= 900 && n <= 1100),
        s"fk_mid NDV ~1000 expected after statsBy, got $ndvMid")
      val ndvSmall = st.attributeStats.find(_._1.name == "fk_small")
        .flatMap(_._2.distinctCount)
      assert(ndvSmall.exists(n => n >= 9 && n <= 11),
        s"fk_small NDV ~10 expected after statsBy, got $ndvSmall")
      // worse-order join flips to (bigs ⋈ smalls) under the new stats
      def q = wh.table("bigs")
        .join(wh.table("mids"), col("fk_mid") === col("mk"))
        .join(wh.table("smalls"), col("fk_small") === col("sk"))
      def rels(p: LogicalPlan): Set[String] = p.collect {
        case l: LogicalRelation =>
          l.catalogTable.map(_.identifier.table).getOrElse("?") }.toSet
      val bottoms = q.queryExecution.optimizedPlan.collect {
        case j: Join if rels(j).size == 2 => rels(j) }
      assert(bottoms.contains(Set("bigs", "smalls")),
        s"expected reorder to join smalls first, bottom joins: $bottoms")
      assert(q.count() == 30000)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      val plain = q.queryExecution.optimizedPlan.collect {
        case j: Join if rels(j).size == 2 => rels(j) }
      assert(plain.contains(Set("bigs", "mids")),
        s"without reorder the declared order stands: $plain")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      // a LATER append keeps sketching the declared columns: double the
      // table through the normal write path, NDV stays ~the same (same
      // value domain), so the declaration outlives the analyze call
      wh.append("bigs", spark.range(100000).select(col("id").as("k"),
        (col("id") % 1000).as("fk_mid"), (col("id") % 10).as("fk_small"))
        .repartition(2))
      val st2 = wh.table("bigs").queryExecution.optimizedPlan.stats
      val ndv2 = st2.attributeStats.find(_._1.name == "fk_mid")
        .flatMap(_._2.distinctCount)
      assert(ndv2.exists(n => n >= 900 && n <= 1100),
        s"appended files should carry fk_mid sketches too, got $ndv2")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
    }
  }

  test("d13_dup_spans: document text never reaches an exchange") {
    // windows hash to 16-byte digests map-side; both shuffles (the
    // per-digest doc count and the per-doc rollup) carry digests and
    // ids only — at 100 TB the text column must stay in the scan stage
    val p = plan("d13_dup_spans")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("text")),
      s"text column crossed an exchange:\n${exchanges.mkString("\n")}")
  }

  test("e14_rrf_fusion: document text never shuffles; both lanes and the fused top-k are TakeOrderedAndProject-or-bounded") {
    // candidate generation is the distributed part: BM25 = map-side
    // scoring + single-row stats broadcast, dense = TakeOrderedAndProject;
    // fusion ranks/joins pool-bounded rows. The corpus text column must
    // never leave the scan stage.
    val p = plan("e14_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("text")),
      s"text crossed an exchange:\n${exchanges.mkString("\n")}")
  }

  test("sp10_pack: one hash shuffle on the stratum key; text never shuffles; no single-partition window") {
    val p = plan("sp10_pack")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.exists(_.contains("lang")),
      s"expected the per-language window shuffle:\n$p")
    assert(!exchanges.exists(_.contains("text")),
      s"text crossed an exchange:\n${exchanges.mkString("\n")}")
    assert(!exchanges.exists(_.contains("SinglePartition")),
      s"global window crept in:\n${exchanges.mkString("\n")}")
  }

  test("d17_contamination_frac: bench digests broadcast; text stays in the scan stage") {
    val p = plan("d17_contamination_frac")
    assert(p.contains("BroadcastExchange"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("text")),
      s"text crossed an exchange:\n${exchanges.mkString("\n")}")
  }

  test("mm6_audio_frames: payload bytes never cross an exchange (features only)") {
    val p = plan("mm6_audio_frames")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, p) // the final deterministic ordering
    assert(!exchanges.exists(_.contains("payload")),
      s"payload crossed an exchange:\n${exchanges.mkString("\n")}")
  }

  test("statsBy refuses a previously-renamed column (stats key by physical name)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wh_statsby_rn").toString
    val wh = new graft.olist.Warehouse(spark, dir)
    wh.save("t", Seq((1L, 2L)).toDF("a", "b"))
    wh.renameColumn("t", "a", "fk")
    // declaring the renamed column would silently collect nothing: the
    // immediate re-analyze reads files storing the frozen physical
    // name, and append-time collectStats filters on the physical
    // schema — refuse loudly instead
    val ex = intercept[IllegalArgumentException](wh.statsBy("t", Seq("fk")))
    assert(ex.getMessage.contains("renamed"), ex.getMessage)
    // the un-renamed column still declares fine
    wh.statsBy("t", Seq("b"))
  }

  test("b2_bm25_wh: stored-index query shuffles only (doc_id, dl, tf*) partials; top-k is TakeOrderedAndProject") {
    val p = plan("b2_bm25_wh")
    assert(p.contains("TakeOrderedAndProject"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, p)
    // the pivot's partial aggregation folds terms away map-side — no
    // term strings (and certainly no document text) cross a shuffle
    assert(!exchanges.exists(e => e.contains("term") || e.contains("text")),
      s"strings crossed an exchange:\n${exchanges.mkString("\n")}")
  }

  test("b3_ann_batch_wh: one pruned codes scan serves all 16 queries; no float vector crosses an exchange") {
    val qe = SparkEntry.queries("b3_ann_batch_wh")(spark, sf).queryExecution
    // sparkPlan, not executedPlan — AQE wraps the latter and hides the
    // scan nodes from collect until execution
    val p = qe.sparkPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // exactly TWO parquet scans serve the whole batch: the codes table
    // once (pruned to the union of every query's probed cells — not
    // once per query) and the source embeddings once for the bounded
    // re-rank set
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, s"expected 2 scans, got ${scans.size}:\n$p")
    assert(scans.exists(_.partitionFilters.exists(_.toString.contains("cell"))),
      s"the codes scan must carry the probed-cell partition pruning:\n$p")
    // the per-(query, candidate) cut shuffles only skinny
    // (query_id, vec_id, adc) rows; the ADC tables ride a broadcast
    // and the float vectors never enter an exchange (the re-rank join
    // broadcasts the bounded candidate ids INTO the embedding scan)
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).toSeq
    assert(!exchanges.exists(e => e.contains("embedding") || e.contains("qe#")),
      s"a float vector crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("b10_ledger_wh: the token ledger plans as a LocalRelation — zero file scans") {
    val p = SparkEntry.queries("b10_ledger_wh")(spark, sf).queryExecution
    val scans = p.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.isEmpty,
      s"the metadata sum fold must not open a file:\n${p.sparkPlan}")
    assert(p.sparkPlan.toString.contains("LocalTableScan"), p.sparkPlan)
  }

  test("b12_avg_wh: the mean ledger plans as a LocalRelation — zero file scans") {
    val p = SparkEntry.queries("b12_avg_wh")(spark, sf).queryExecution
    val scans = p.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.isEmpty,
      s"the metadata avg fold must not open a file:\n${p.sparkPlan}")
    assert(p.sparkPlan.toString.contains("LocalTableScan"), p.sparkPlan)
  }

  test("sp11_diversity_sample: one shuffle on the bucket key, no global window") {
    val p = plan("sp11_diversity_sample")
    // the per-bucket rank partitions by bucket — a missing partition
    // spec would collapse the corpus onto one task
    assert(!p.contains("SinglePartition"),
      s"diversity rank must not single-partition:\n$p")
    assert(p.contains("Window"), p)
  }

  test("b11_contam_wh: the stored gram table never broadcasts (batch digests build, suite streams)") {
    // the public verdicts() returns its bounded frame PINNED (the pin-
    // hygiene contract), which hides the join plan — assert on the
    // internal core the pin wraps, exactly as the ingest path runs it
    import graft.operators.ContamGate
    import graft.olist.Warehouse
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("pq_cg").toString)
    val docs = Tables.documents(spark, sf)
    ContamGate.build(wh, "cg_pq",
      docs.filter(org.apache.spark.sql.functions.col("source") === "src0"))
    val batch = docs.limit(100)
    val bg = ContamGate.grams(batch.select("doc_id", "text"))
      .localCheckpoint()
    try {
      val exec = ContamGate.verdictsOn(wh, "cg_pq", batch, bg, bg.count())
        .queryExecution.sparkPlan
      val broadcastScans = exec.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.collectLeaves().collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }
      }.flatten
      // the gram-table scan (16-byte digest rows, file name carries the
      // table dir) must stream, never build a broadcast side
      assert(broadcastScans.forall(s =>
          !s.toString.contains("cg_pq_grams")),
        s"suite-sized side must never broadcast:\n$exec")
    } finally { bg.unpersist(); () }
  }
}
