package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("native codegen cosine agrees with exact-decimal cosine to 1e-9") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val joined = e.crossJoin(broadcast(q))
    val both = joined.select(
      VectorFunctions.cosineSim(spark, col("embedding"), col("qe")).as("fast"),
      (VectorFunctions.dotExact(col("embedding"), col("qe")) /
        (VectorFunctions.normExact(col("embedding")) *
          VectorFunctions.normExact(col("qe")))).as("exact"))
    val maxDiff = both.agg(max(abs(col("fast") - col("exact")))).head.getDouble(0)
    assert(maxDiff < 1e-9, s"fast vs exact cosine drifted: $maxDiff")
  }

  test("cosine expression runs inside whole-stage codegen") {
    val e = Tables.embeddings(spark, sf)
    // scan + project only (no exchange, so no AQE wrapper hiding the spans)
    val df = e.select(
      VectorFunctions.cosineSim(spark, col("embedding"), col("embedding")).as("c"))
    // whole-stage-codegen stages print as "*(n) Op" in the compact form
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen in plan:\n$plan")
    assert(df.agg(min("c")).head.getDouble(0) > 0.999) // self-cosine ≈ 1
  }

  test("e4 native top-k picks the same ids as e1 exact top-k") {
    val ids1 = SparkEntry.queries("e1_cosine_topk")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val ids4 = SparkEntry.queries("e4_cosine_topk_native")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids1 == ids4)
  }

  test("native vector_avg centroids match the exact long-format centroids to 1e-9") {
    // compare the UNROUNDED native aggregate against e5's exact-decimal
    // values — the e6 query itself rounds to 6 for oracle parity
    val native = Tables.embeddings(spark, sf)
      .groupBy("label")
      .agg(VectorFunctions.vectorAvg(spark, col("embedding")).as("cvec"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val exact = SparkEntry.queries("e5_label_centroids")(spark, sf)
      .collect().groupBy(_.getInt(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq
      }
    assert(native.keySet == exact.keySet)
    val maxDiff = (for {
      (l, ex) <- exact; (a, b) <- ex.zip(native(l))
    } yield math.abs(a - b)).max
    assert(maxDiff < 1e-9, s"centroid drift: $maxDiff")
  }

  test("e6 long-format output matches e5 on the round-6 grid") {
    val e6 = SparkEntry.queries("e6_centroids_native")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val e5 = SparkEntry.queries("e5_label_centroids")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(e6.keySet == e5.keySet)
    val maxDiff = e5.map { case (k, v) => math.abs(v - e6(k)) }.max
    assert(maxDiff < 1e-6 + 1e-9, s"round-6 grid drift: $maxDiff")
  }

  test("vector functions resolve in SQL text after registration") {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float))) AS c").head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("approx_count_distinct within 5% of exact; hashed flag set everywhere") {
    // the oracle-hashed query carries the exact count + tolerance flag
    val rows = SparkEntry.queries("a13_approx_count_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Int]("approx_ok") == 1, s"flag not set: $r"))
    // raw HLL tolerance on the underlying estimate
    val raw = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey").as("approx"),
        count_distinct(col("l_partkey")).as("exact")).collect()
    raw.foreach { r =>
      val approx = r.getAs[Long]("approx").toDouble
      val exact = r.getAs[Long]("exact").toDouble
      assert(math.abs(approx - exact) / exact < 0.05, s"approx too far: $r")
    }
  }

  test("native lsh bucket agrees with the exact-decimal bucket for every vector") {
    val e = Tables.embeddings(spark, sf)
    val disagree = e.select(
      operators.Similarity.bucketOf(spark, col("embedding")).as("nb"),
      operators.Similarity.bucketOfExact(col("embedding")).as("eb"))
      .filter(col("nb") =!= col("eb")).count()
    assert(disagree == 0)
  }

  test("lsh_bucket resolves from SQL text with an array literal (pre-folding builder)") {
    graft.functions.VectorFunctions.register(spark)
    val b = spark.sql(
      "SELECT lsh_bucket(array(cast(1.0 as float), cast(-1.0 as float)), " +
        "array(array(1.0d, 0.0d), array(0.0d, 1.0d))) AS b").head.getLong(0)
    // plane 0 dot = 1 (>0 → bit 0), plane 1 dot = -1 (bit clear)
    assert(b == 1L)
  }

  test("native lsh bucket runs inside whole-stage codegen") {
    val df = Tables.embeddings(spark, sf).select(
      operators.Similarity.bucketOf(spark, col("embedding")).as("b"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen in plan:\n$plan")
    assert(df.distinct().count() > 1) // planes actually split the corpus
  }

  test("ivf probe: query's own vector tops its cell; results ranked like brute force") {
    val ivf = SparkEntry.queries("e7_ivf_ann_topk")(spark, sf).collect()
    assert(ivf.nonEmpty)
    assert(ivf.head.getAs[Long]("vec_id") == 0L) // self-cosine 1.0 first
    // every IVF result appears in the brute-force ranking in the same order
    val brute = SparkEntry.queries("e4_cosine_topk_native")(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val inBrute = ivf.map(_.getAs[Long]("vec_id")).filter(brute.contains).toSeq
    assert(inBrute == brute.filter(inBrute.contains))
  }

  test("multi-table multi-probe ANN: ≥0.9 recall on planted near-duplicates at 2^16 buckets") {
    // The driver corpus is near-uniform (max pairwise cosine ≈ 0.48 at
    // this sf) — no sublinear LSH can hit 0.9 recall on weakly-similar
    // neighbors without probing most of the space. So the recall claim
    // is validated the way a deployment would: on vectors that DO have
    // near neighbors. Plant 10 near-duplicates (cosine ≈ 0.95) of a
    // query vector and require the 16-plane (2^16-bucket) probe to find
    // ≥ 9 of them. Fully deterministic: fixed seed, derived planes.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat).toSeq
    }
    val base = (0 until 50).map(i =>
      (i.toLong, unit(Array.fill(64)(rnd.nextGaussian())), i % 10))
    val q = base.head._2.map(_.toDouble).toArray
    val planted = (0 until 10).map { j =>
      val noisy = q.zip(Array.fill(64)(rnd.nextGaussian() * 0.04))
        .map { case (x, e) => x + e }
      ((1000 + j).toLong, unit(noisy), 99)
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = operators.Similarity.annMultiProbe(spark, emb, queryId = 0L,
      k = 11, nPlanes = 16, radius = 2, tables = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val found = planted.map(_._1).count(got.contains)
    assert(found >= 9, s"recall ${found / 10.0} < 0.9 at 2^16 buckets; got $got")
  }

  test("multi-probe widens candidate coverage monotonically on the real corpus") {
    // mechanics on driver data: more probes / more tables can only add
    // candidates, and the self-match is always found
    def ids(radius: Int, tables: Int): Set[Long] =
      operators.Similarity.annMultiProbe(spark, sf, 0L, 500, 16, radius, tables)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val r0 = ids(0, 1); val r2 = ids(2, 1); val r2t3 = ids(2, 3)
    assert(r0.contains(0L), "self-match missing")
    assert(r0.subsetOf(r2), "radius must only add candidates")
    assert(r2.subsetOf(r2t3), "tables must only add candidates")
    assert(r2t3.size > r0.size, "probing added nothing at 2^16 buckets")
  }

  test("lsh bucket probe returns a subset of brute-force candidates ranked identically") {
    val e3 = SparkEntry.queries("e3_ann_bucket_topk")(spark, sf)
    assert(e3.count() > 0)
    // the query vector itself (cosine 1.0) must be in its own bucket
    assert(e3.filter(col("vec_id") === 0).count() == 1)
  }

  test("sq8 quantized ranking recovers the exact top-k (high recall, query first)") {
    val exact = SparkEntry.queries("e1_cosine_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val sq8rows = SparkEntry.queries("e9_sq8_topk")(spark, sf).collect()
    val sq8 = sq8rows.map(_.getAs[Long]("vec_id")).toSet
    assert((exact intersect sq8).size >= 8,
      s"SQ8 recall@10 too low: exact=$exact sq8=$sq8")
    // the query vector quantizes onto (nearly) itself: rank 1, cosine ≈ 1
    assert(sq8rows.head.getAs[Long]("vec_id") == 0L)
    assert(math.abs(sq8rows.head.getAs[Double]("qcosine") - 1.0) < 1e-3)
  }

  test("sq8 stored codes: warehouse round-trip ranks identically; codes are bytes") {
    import graft.olist.Warehouse
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val bounds = Similarity.sq8Bounds(emb)
    val codes = Similarity.sq8Codes(emb, bounds)
    // codes really are the compact stored form: array<tinyint>, dim-wide
    assert(codes.schema("codes").dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.ByteType)
    val direct = Similarity.sq8RankFromCodes(codes, bounds, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // quantize ONCE into the warehouse; the query path reads ONLY the
    // stored codes + bounds tables (the e9 scale story made real)
    val dir = java.nio.file.Files.createTempDirectory("wh_sq8").toString
    val wh = new Warehouse(spark, dir)
    wh.save("emb_sq8_codes", codes)
    wh.save("emb_sq8_bounds", bounds)
    val stored = Similarity.sq8RankFromCodes(
      wh.table("emb_sq8_codes"), wh.table("emb_sq8_bounds"), 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == direct, s"stored-code rank drifted:\n$stored\nvs\n$direct")
    // and the stored path preserves e9-grade recall vs the exact rank
    val exact = SparkEntry.queries("e1_cosine_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((exact intersect stored.map(_._1).toSet).size >= 8)
    assert(stored.head._1 == 0L && math.abs(stored.head._2 - 1.0) < 1e-3)
  }

  test("pq: codes well-formed, copies collide, query's own ADC is the floor") {
    import graft.operators.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat())
    val base = (0L until 100L).map(i => (i, vec()))
    val emb = (base :+ ((999L, base(5)._2.clone()))) // 999 = byte-copy of 5
      .toDF("vec_id", "embedding")
    val cents = Similarity.pqTrain(emb)
    assert(cents.length == 8 * 16)
    val codes = Similarity.pqCodes(emb, cents).localCheckpoint()
    // every vector: 8 codes, each in [0, 16)
    assert(codes.count() == 101)
    assert(codes.filter(size(col("codes")) =!= 8).count() == 0)
    assert(codes.filter(exists(col("codes"),
      c => c < 0 || c >= 16)).count() == 0)
    // identical vectors encode identically
    val c5 = codes.filter(col("vec_id") === 5L)
      .select("codes").as[Seq[Byte]].collect()(0)
    val c999 = codes.filter(col("vec_id") === 999L)
      .select("codes").as[Seq[Byte]].collect()(0)
    assert(c5 == c999)
    // ADC of the query's own codes is the per-subspace minimum, so the
    // query and its byte-copy occupy the top of the ranking
    val q = base(5)._2.map(_.toDouble).toSeq
    val top = Similarity.pqRank(codes, cents, q, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.take(2).map(_._1).toSet == Set(5L, 999L), top.toSeq.toString)
    assert(top(0)._2 == top(1)._2) // identical codes, identical distance
    assert(top.map(_._2).sorted.toSeq == top.map(_._2).toSeq) // ascending
    // e12 on the real table: the query ranks first (the ADC floor)
    val e12 = SparkEntry.queries("e12_pq_topk")(spark, sf).collect()
    assert(e12.length == 10)
    assert(e12.head.getLong(0) == 0L, e12.map(_.getLong(0)).toSeq.toString)
  }

  test("pq: e12 ADC ranking preserves recall@10 against the exact e1 rank") {
    // the independent correctness check the DuckDB oracle cannot give
    // e12 (a Lloyd codebook is not SQL-expressible): the PQ-ranked
    // top-10 on the real embeddings table must recover most of the
    // EXACT cosine top-10 (the e9 precedent)
    val exact = SparkEntry.queries("e1_cosine_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val pq = SparkEntry.queries("e12_pq_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect pq).size
    info(s"PQ recall@10 = $recall/10")
    // measures 9/10; the floor matches e13's so a one-notch
    // regression in either stage trips a spec, not just a bench drift
    assert(recall >= 8, s"PQ recall@10 too low: exact=$exact pq=$pq")
  }

  test("pq: codebook trains on a bounded deterministic sample; encode is one shuffle-free pass") {
    import graft.operators.Similarity
    val unit = Similarity.l2Normalized(Tables.embeddings(spark, sf))
    val corpusN = unit.count()
    // the sample is exactly n rows, and its membership is a pure
    // function of the ids — identical under any partitioning/layout
    val n = 100
    val sample = Similarity.trainingSample(unit, n)
    assert(sample.count() == n && n < corpusN)
    val ids1 = sample.select("vec_id").collect().map(_.getLong(0)).toSet
    val ids2 = Similarity.trainingSample(unit.repartition(7), n)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "training sample must be layout-independent")
    // training reads ONLY the pinned sample: exactly one query
    // execution (the sample's collect), its lineage severed from the
    // corpus files — zero parquet scans in it
    val (cents, during) = org.apache.spark.sql.graft.ListenerBusDrain
      .executions(spark)(Similarity.pqTrain(sample, iters = 2))
    assert(during.size == 1, s"training ran ${during.size} query " +
      s"executions:\n${during.map(_.executedPlan).mkString("\n")}")
    val trainPlan = during.head.executedPlan.toString
    assert(!trainPlan.contains("FileScan"),
      s"training must not rescan the corpus:\n$trainPlan")
    assert(cents.length == 8 * 16)
    // the encode is ONE corpus scan and a pure projection — no
    // Exchange (the naive explode->join->groupBy encode shuffles the
    // whole corpus; the literal-centroid argmin must not)
    val codes = Similarity.pqCodes(unit, cents)
    val encPlan = codes.queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"),
      s"encode must be shuffle-free:\n$encPlan")
    assert("FileScan".r.findAllMatchIn(encPlan).size == 1,
      s"encode must scan the corpus exactly once:\n$encPlan")
    assert(codes.count() == corpusN)
  }

  test("ivf-pq: e13 cell-bounded ADC ranking preserves recall@10 against exact e1") {
    // the composition loses only what the coarse partition cuts away:
    // same independent check as e12, with the query's own vector
    // guaranteed recoverable (it is in its own cell by construction)
    val exact = SparkEntry.queries("e1_cosine_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val got = SparkEntry.queries("e13_ivf_pq_topk")(spark, sf).collect()
    assert(got.head.getLong(0) == 0L, got.map(_.getLong(0)).toSeq.toString)
    val recall = (exact intersect got.map(_.getLong(0)).toSet).size
    info(s"IVF-PQ recall@10 = $recall/10")
    // nProbe=3 of 8 cells measures 9/10 here; the floor matches e12's
    // grade (an IVF restriction should cost ≤ the PQ ranking itself)
    assert(recall >= 8, s"IVF-PQ recall@10 too low: exact=$exact " +
      s"got=${got.map(_.getLong(0)).toSet}")
  }

  test("diversity sample: per-bucket cap honored, sparse buckets keep everything, membership deterministic") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.diversitySample(emb, cap = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(got.length == emb.count(), "one verdict per vector")
    val byBucket = got.groupBy(_._2)
    // never more than cap kept per bucket; a bucket at-or-under cap
    // keeps ALL its members (sparse regions are never thinned)
    byBucket.foreach { case (b, rows) =>
      val kept = rows.count(_._4 == 1)
      assert(kept <= 2, s"bucket $b kept $kept > cap")
      if (rows.length <= 2) assert(kept == rows.length,
        s"sparse bucket $b must keep everything")
      else assert(kept == 2, s"dense bucket $b must keep exactly cap")
    }
    // membership is a pure function of the corpus: a re-run agrees
    val again = Similarity.diversitySample(emb, cap = 2).collect()
      .map(r => (r.getLong(0), r.getInt(3))).toMap
    assert(got.forall(r => again(r._1) == r._4))
    // …and survives a different input layout (the window key includes
    // the id tie-break, so partitioning cannot reorder equal hashes)
    val shuffled = Similarity.diversitySample(emb.repartition(7), cap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    assert(got.forall(r => shuffled(r._1) == r._4))
  }

  test("semdedup: banded within-cluster path equals the naive crossJoin reference") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val tau = 0.3
    val got = Similarity.semanticDedup(emb, tau = tau).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // independent reference: same deterministic clustering, but pairs
    // from a PLAIN self-join on cluster and the loser rule re-derived
    // in driver-side Scala over collected rows
    val assigned = Similarity.semanticAssign(emb).collect().map { r =>
      (r.getLong(0), r.getInt(2), r.getDouble(3),
        r.getSeq[Double](1).toArray)
    }
    val byCluster = assigned.groupBy(_._2)
    val losers = scala.collection.mutable.Set[Long]()
    for ((_, members) <- byCluster; Array(a, b) <- members.combinations(2)) {
      // mirror dotExact + round(_, 12): per-product DECIMAL(38,20)
      // rounding, exact decimal sum, cast to double, round to 12
      val dec = a._4.zip(b._4).map { case (x, y) =>
        BigDecimal(x * y).setScale(20, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      val cos = BigDecimal(dec.toDouble)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (cos >= tau) {
        // loser = closer to centroid (smaller d2c), ties to larger id
        val loser =
          if (a._3 < b._3 || (a._3 == b._3 && a._1 > b._1)) a._1 else b._1
        losers += loser
      }
    }
    val want = assigned.map { case (id, cl, _, _) =>
      (id, cl, if (losers(id)) 0 else 1)
    }.toSet
    assert(got == want)
    assert(got.exists(_._3 == 0), "tau=0.3 should drop at least one vector")
    assert(got.exists(_._3 == 1))
  }

  test("semdedup: planted duplicate groups keep exactly one survivor") {
    import graft.operators.Similarity
    import spark.implicits._
    // four well-separated directions in R^4, several members each with
    // tiny distinct perturbations (still cosine ≈ 1 within a group),
    // plus an exact-duplicate triple on the first axis
    def v(axis: Int, eps: Float): Seq[Float] =
      Seq.tabulate(4)(i => (if (i == axis) 1f else 0f) +
        (if (i == (axis + 1) % 4) eps else 0f))
    val rows =
      Seq(0L -> v(0, 0f), 1L -> v(0, 0f), 2L -> v(0, 0f)) ++ // exact triple
        Seq(10L -> v(1, 0f), 11L -> v(1, 0.01f)) ++           // near pair
        Seq(20L -> v(2, 0f), 30L -> v(3, 0f))                 // singletons
    val emb = rows.toDF("vec_id", "embedding")
    val res = Similarity.semanticDedup(emb, nClusters = 4, tau = 0.99)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // each duplicate group keeps exactly one; singletons always keep
    assert(res.count { case (id, k) => id <= 2 && k == 1 } == 1,
      s"exact triple must keep exactly one: $res")
    assert(Seq(10L, 11L).count(res(_) == 1) == 1,
      s"near pair must keep exactly one: $res")
    assert(res(20L) == 1 && res(30L) == 1, s"singletons must keep: $res")
  }

  test("semdedup: result is layout-independent and training never rescans the corpus") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.semanticDedup(emb, tau = 0.3).collect().toSeq
    val b = Similarity.semanticDedup(emb.repartition(7), tau = 0.3)
      .collect().toSeq
    assert(a == b, "semanticDedup must be partitioning-independent")
  }

  test("rrf fusion: closed-form scores, both-list docs beat single-list tops, missing ranks contribute zero") {
    import spark.implicits._
    // list A ranks 1..4 = docs 10,11,12,13; list B ranks 1..4 = 20,12,11,21
    val a = Seq((10L, 1), (11L, 2), (12L, 3), (13L, 4)).toDF("id", "r")
    val b = Seq((20L, 1), (12L, 2), (11L, 3), (21L, 4)).toDF("id", "r")
    val got = operators.Similarity.rrfFuse(Seq(a, b), k = 10)
      .collect()
      .map(r => (r.getLong(0),
        (if (r.isNullAt(1)) -1 else r.getInt(1),
          if (r.isNullAt(2)) -1 else r.getInt(2), r.getDouble(3))))
      .toMap
    def s(r: Int) = 1.0 / (60 + r)
    assert(got(11L) == ((2, 3, s(2) + s(3))))
    assert(got(12L) == ((3, 2, s(3) + s(2))))
    assert(got(10L) == ((1, -1, s(1) + 0.0))) // A-only: B term is zero
    assert(got(20L) == ((-1, 1, 0.0 + s(1)))) // B-only
    assert(got.size == 6)
    // docs in BOTH lists outrank every single-list doc, even rank-1s
    val order = operators.Similarity.rrfFuse(Seq(a, b), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(order.take(2).toSet == Set(11L, 12L), order.toString)
    // 11 and 12 tie exactly (symmetric ranks) → id tie-break
    assert(order.take(2) == Seq(11L, 12L))
    // k truncates after the fused sort
    assert(operators.Similarity.rrfFuse(Seq(a, b), k = 3).count() == 3)
  }

  test("rrf fusion generalizes past two lists (the union-aggregate form)") {
    import spark.implicits._
    val a = Seq((10L, 1), (11L, 2)).toDF("id", "r")
    val b = Seq((11L, 1), (12L, 2)).toDF("id", "r")
    val c = Seq((12L, 1), (10L, 2), (13L, 3)).toDF("id", "r")
    val got = operators.Similarity.rrfFuse(Seq(a, b, c), k = 10)
      .collect()
      .map(r => (r.getLong(0),
        ((0 to 2).map(i => if (r.isNullAt(i + 1)) -1 else r.getInt(i + 1)),
          r.getDouble(4))))
      .toMap
    def s(r: Int) = 1.0 / (60 + r)
    assert(got(10L) == ((Seq(1, -1, 2), s(1) + 0.0 + s(2))))
    assert(got(11L) == ((Seq(2, 1, -1), s(2) + s(1) + 0.0)))
    assert(got(12L) == ((Seq(-1, 2, 1), 0.0 + s(2) + s(1))))
    assert(got(13L) == ((Seq(-1, -1, 3), 0.0 + 0.0 + s(3))))
    assert(got.size == 4)
  }
}
