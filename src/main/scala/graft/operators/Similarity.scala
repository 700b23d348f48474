package graft.operators

import graft.{Q, Tables => T}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table
  * (embedding: Array[Float], 64-dim, unit-norm).
  *
  * Scale design:
  *  - e1 brute-force top-k: one broadcast of the query vector, one
  *    map-side cosine per row, TakeOrderedAndProject for the top-k — no
  *    shuffle of vectors, O(N·d) work evenly partitioned.
  *  - e2/e3 LSH-bucketed ANN (the 100 TB path): random-hyperplane
  *    signatures assign each vector to one of 2^P buckets per-row
  *    (shuffle-free); a query then probes ONLY its bucket —
  *    candidate set shrinks ~2^P× at the cost of recall. Buckets are a
  *    partitioning key at scale (bucketBy/repartition on `bucket`).
  *  - e5 per-label centroids: partial aggregation per (label, dim) —
  *    the classic IVF coarse-quantizer build, all map-side combine.
  *
  * Hyperplanes are derived from MD5 (deterministic, seedless) and
  * rounded to 6 decimals so the identical literals appear in both the
  * DataFrame plan and the generated oracle SQL. Dot products in
  * oracle-checked queries use exact DECIMAL accumulation
  * (VectorFunctions.dotExact) — order-independent, so Spark and DuckDB
  * agree bit-for-bit; e4 is the codegen'd double-accumulation hot path.
  */
object Similarity {

  val DIM = 64
  val N_PLANES = 8

  /** Deterministic pseudo-random hyperplanes in [-1,1), rounded to 6
    * decimals (decimal literals parse to identical doubles in Scala,
    * Spark SQL, and DuckDB). Plane count is a tuning knob: 8 planes →
    * 256 buckets fits this corpus; at 100 TB raise to 16–24 planes
    * (2^16–2^24 buckets) so per-bucket candidate sets stay bounded —
    * SimilaritySpec exercises a 16-plane config. */
  def planesFor(nPlanes: Int): IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { p =>
      (0 until DIM).map { j =>
        val hex = md.digest(s"$p:$j".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        val v = java.lang.Long.parseLong(hex, 16).toDouble / 0xFFFFFFFFL.toDouble * 2.0 - 1.0
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
  }
  lazy val planes: IndexedSeq[IndexedSeq[Double]] = planesFor(N_PLANES)

  /** SQL VALUES list (p, j, v) for the planes — j is 1-based to match
    * DuckDB's 1-based list positions. */
  private def planesValues: String =
    (for (p <- 0 until N_PLANES; j <- 0 until DIM)
      yield s"($p,${j + 1},${planes(p)(j)})").mkString(", ")

  /** Exact-decimal dot of the embedding against plane p (parity path). */
  private def planeDot(emb: Column, p: Int): Column =
    VectorFunctions.dotExact(emb, typedlit(planes(p)))

  /** LSH bucket id (0 .. 2^nPlanes-1) from hyperplane sign bits — the
    * production path: ONE fused codegen'd pass over the float array
    * (VectorFunctions.LshBucket), no decimal arithmetic per row.
    * SimilaritySpec asserts bucket-for-bucket agreement with
    * [[bucketOfExact]] (sign flips need |dot| within ~1e-14 of zero). */
  def bucketOf(s: SparkSession, emb: Column, nPlanes: Int = N_PLANES): Column =
    VectorFunctions.lshBucket(s, emb,
      (if (nPlanes == N_PLANES) planes else planesFor(nPlanes)).map(_.toSeq))

  /** Exact-DECIMAL(38,20) bucket assignment — the oracle-parity tier,
    * kept out of the hot path (≈50× the native cost per row). */
  def bucketOfExact(emb: Column): Column =
    (0 until N_PLANES)
      .map(p => when(planeDot(emb, p) > 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _).cast("long")

  /** SQL VALUES list (t, p, j, v) for a multi-table family: table t
    * uses planes [t*nPlanes, (t+1)*nPlanes) of planesFor(tables*nPlanes),
    * p is the sign-bit position WITHIN the table, j is 1-based. */
  private def multiTablePlanesValues(nPlanes: Int, tables: Int): String = {
    val family = planesFor(tables * nPlanes)
    (for (t <- 0 until tables; p <- 0 until nPlanes; j <- 0 until DIM)
      yield s"($t,$p,${j + 1},${family(t * nPlanes + p)(j)})").mkString(", ")
  }

  /** Oracle CTEs for the multi-probe query (e10): per-table buckets on
    * the exact-DECIMAL tier, mirroring bucketCtes with a table column. */
  private def multiBucketCtes(nPlanes: Int, tables: Int): String =
    s"""pl2(t, p, j, v) AS (VALUES ${multiTablePlanesValues(nPlanes, tables)}),
       |ex2 AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
       |               unnest(range(1, len(embedding) + 1)) AS j
       |        FROM embeddings),
       |dots2 AS (SELECT e.vec_id, pl.t, pl.p,
       |                 cast(sum(cast(e.x * pl.v as decimal(38,20))) as double) AS dp
       |          FROM ex2 e JOIN pl2 pl ON pl.j = e.j GROUP BY e.vec_id, pl.t, pl.p),
       |bkt2 AS (SELECT vec_id, t,
       |                cast(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) as bigint) AS bucket
       |         FROM dots2 GROUP BY vec_id, t)""".stripMargin

  /** Oracle CTEs shared by e2/e3: positional unnest + plane join. */
  private def bucketCtes: String =
    s"""pl(p, j, v) AS (VALUES $planesValues),
       |ex AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
       |              unnest(range(1, len(embedding) + 1)) AS j
       |       FROM embeddings),
       |dots AS (SELECT e.vec_id, pl.p,
       |                cast(sum(cast(e.x * pl.v as decimal(38,20))) as double) AS dp
       |         FROM ex e JOIN pl ON pl.j = e.j GROUP BY e.vec_id, pl.p),
       |bkt AS (SELECT vec_id,
       |               cast(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) as bigint) AS bucket
       |        FROM dots GROUP BY vec_id)""".stripMargin

  /** Exact cosine between every vector and the query vector (vec_id=q)
    * as an oracle CTE producing (vec_id, cosine). Embeddings are
    * unit-norm but we still normalize — exactly, on both engines. */
  private def cosineCte(q: Long, excludeIds: Seq[Long] = Nil,
      whereSql: Option[String] = None): String = {
    // excludeIds: rank over the corpus MINUS these vectors — the
    // oracle for an index that has remove()d them (the b18 lane);
    // cosine carries no corpus-global statistics, so exclusion is
    // pure candidate filtering. whereSql: an additional admissibility
    // predicate over e.* — the FILTERED-search oracle (b19's exact
    // lane): restrict BEFORE ranking, like the engine's probes do.
    val conds =
      (if (excludeIds.isEmpty) Nil
       else Seq(s"e.vec_id NOT IN (${excludeIds.mkString(", ")})")) ++
        whereSql.toSeq
    val ex =
      if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    s"""qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $q),
       |zp AS (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
       |              unnest(q.qe)::DOUBLE AS y
       |       FROM embeddings e CROSS JOIN qv q$ex),
       |cs AS (SELECT vec_id,
       |         round(cast(sum(cast(x * y as decimal(38,20))) as double) /
       |         (sqrt(cast(sum(cast(x * x as decimal(38,20))) as double)) *
       |          sqrt(cast(sum(cast(y * y as decimal(38,20))) as double))), 12) AS cosine
       |       FROM zp GROUP BY vec_id)""".stripMargin
  }

  private val QUERY_ID = 0L
  private val TOP_K = 10

  /** The exact brute-force cosine top-k in DuckDB (e1's oracle) —
    * shared with WarehouseBench's b3_ann_full_wh (and, with
    * `excludeIds`, b18's maintained-index lane), where a FULL IVF-PQ
    * probe + all-admitting overquery must reproduce it bit-for-bit. */
  private[operators] def exactCosineTopKSql(queryId: Long = QUERY_ID,
      topK: Int = TOP_K, excludeIds: Seq[Long] = Nil,
      whereSql: Option[String] = None): String =
    s"""WITH ${cosineCte(queryId, excludeIds, whereSql)}
       |SELECT vec_id, cosine FROM cs
       |ORDER BY cosine DESC, vec_id LIMIT $topK""".stripMargin

  /** The BATCH form of [[exactCosineTopKSql]]: per-query exact cosine
    * top-k for every id in `queryIds`, one (query_id, vec_id, cosine)
    * row set — the oracle [[graft.operators.AnnIndex.queryBatch]] must
    * reproduce bit-for-bit under a full probe (b3_ann_batch_full_wh).
    * Same decimal-exact dot/norm arithmetic and round-12 as the
    * single-query form; ranks break ties on vec_id like the Spark
    * side's (cosine desc, vec_id) window. */
  private[operators] def exactCosineTopKBatchSql(queryIds: Seq[Long],
      topK: Int = TOP_K): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
       |           FROM embeddings
       |           WHERE vec_id IN (${queryIds.mkString(", ")})),
       |zp AS (SELECT q.query_id, e.vec_id,
       |              unnest(e.embedding)::DOUBLE AS x,
       |              unnest(q.qe)::DOUBLE AS y
       |       FROM embeddings e CROSS JOIN q),
       |cs AS (SELECT query_id, vec_id,
       |         round(cast(sum(cast(x * y as decimal(38,20))) as double) /
       |         (sqrt(cast(sum(cast(x * x as decimal(38,20))) as double)) *
       |          sqrt(cast(sum(cast(y * y as decimal(38,20))) as double))), 12) AS cosine
       |       FROM zp GROUP BY query_id, vec_id),
       |rk AS (SELECT query_id, vec_id, cosine,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, vec_id) AS rn
       |       FROM cs)
       |SELECT query_id, vec_id, cosine FROM rk WHERE rn <= $topK
       |ORDER BY query_id, cosine DESC, vec_id""".stripMargin

  /** Broadcast the query vector as a 1-row frame (never .collect()). */
  private def withQueryVec(s: SparkSession, d: String): DataFrame = {
    val e = T.embeddings(s, d)
    e.crossJoin(broadcast(
      e.filter(col("vec_id") === QUERY_ID).select(col("embedding").as("qe"))))
  }

  /** Multi-table multi-probe ANN — the production LSH shape for a
    * high-plane-count deployment (2^16–2^24 buckets at 100 TB):
    *
    *  - `tables` independent hyperplane families (slices of one
    *    deterministic family), each assigning every vector one bucket —
    *    ALL computed in a single scan (one fused LshBucket per table),
    *    the way a real deployment precomputes and STORES them;
    *  - per table, probe the query's bucket plus every bucket within
    *    `radius` sign-bit flips (radius 1 → nPlanes+1 probes; radius 2
    *    adds the C(nPlanes,2) two-flip buckets) — recovers recall lost
    *    to near-boundary hyperplane signs;
    *  - a candidate survives if ANY table probes it (union + distinct),
    *    so miss probability decays geometrically in `tables`;
    *  - exact ranking runs only on the candidate set.
    *
    * The probe lists are broadcast — the corpus is never re-shuffled; at
    * scale each (table, bucket) is a partition-pruned lookup. */
  def annMultiProbe(s: SparkSession, d: String, queryId: Long,
      k: Int, nPlanes: Int, radius: Int, tables: Int): DataFrame =
    annMultiProbe(s, T.embeddings(s, d), queryId, k, nPlanes, radius, tables)

  /** The candidate set of [[annMultiProbe]] — distinct vec_ids any of
    * the `tables` probe lists hits. Exposed so the oracle-parity query
    * (e10) can rank the SAME candidates with exact-decimal cosine while
    * the production path ranks natively. */
  def multiProbeCandidates(s: SparkSession, emb: DataFrame, queryId: Long,
      nPlanes: Int, radius: Int, tables: Int): DataFrame = {
    require(radius >= 0 && radius <= 2, s"unsupported probe radius $radius")
    require(tables >= 1 && nPlanes >= 1 && nPlanes <= 63,
      "each table's bucket id must fit a long")
    val family = planesFor(tables * nPlanes)
    def planesOf(t: Int): Seq[Seq[Double]] =
      family.slice(t * nPlanes, (t + 1) * nPlanes).map(_.toSeq)
    // every table's bucket in ONE pass over the corpus (these would be
    // stored columns / partition keys in a deployed index)
    val withBkts = emb.select(
      col("vec_id") +: col("embedding") +: (0 until tables).map(t =>
        VectorFunctions.lshBucket(s, col("embedding"), planesOf(t)).as(s"b$t")): _*)
    val longSide = withBkts.select(col("vec_id"),
      expr(s"stack($tables, ${(0 until tables)
        .map(t => s"$t, b$t").mkString(", ")}) AS (t, bucket)"))
    val flips: Seq[Column] = lit(0L) +:
      ((if (radius >= 1) (0 until nPlanes).map(p => lit(1L << p)) else Nil) ++
        (if (radius >= 2)
          for { p <- 0 until nPlanes; r <- p + 1 until nPlanes }
            yield lit((1L << p) | (1L << r))
        else Nil))
    val qRow = emb.filter(col("vec_id") === queryId)
    val probes = (0 until tables).map { t =>
      qRow.select(lit(t).as("t"),
        VectorFunctions.lshBucket(s, col("embedding"), planesOf(t)).as("qb"))
        .select(col("t"), explode(array(flips: _*)).as("flip"), col("qb"))
        .select(col("t"), col("qb").bitwiseXOR(col("flip")).as("bucket"))
    }.reduce(_ unionAll _)
    longSide.join(broadcast(probes), Seq("t", "bucket"))
      .select("vec_id").distinct()
  }

  def annMultiProbe(s: SparkSession, emb: DataFrame, queryId: Long,
      k: Int, nPlanes: Int, radius: Int, tables: Int): DataFrame = {
    val qRow = emb.filter(col("vec_id") === queryId)
    multiProbeCandidates(s, emb, queryId, nPlanes, radius, tables)
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .crossJoin(broadcast(qRow.select(col("embedding").as("qe"))))
      .select(col("vec_id"),
        VectorFunctions.cosineSim(s, col("embedding"), col("qe")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  // ---------------------------------------------------------------
  // SQ8 stored-code index (the production shape of e9): quantize ONCE
  // into a byte-array column + a one-row bounds table, rank from codes.

  /** Per-dim quantization bounds packed into ONE broadcastable row
    * (mns: array<double>, mxs: array<double>) — the "64-row bounds
    * table" of an SQ8 index, built in a single pass. */
  def sq8Bounds(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("p0", "xf")))
      .select(col("p0"), col("xf").cast("double").as("x"))
      .groupBy("p0").agg(min("x").as("mn"), max("x").as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("p0"), col("mn"), col("mx")))).as("pk"))
      .select(transform(col("pk"), _.getField("mn")).as("mns"),
        transform(col("pk"), _.getField("mx")).as("mxs"))

  /** The stored codes: every dimension compressed to one byte against
    * its global [mn,mx] — `floor((x-mn)/(mx-mn)*255 + 0.5)` (half-up,
    * the deterministic e9 quantizer), shifted by -128 into a signed
    * byte. 4× memory cut per float32; this is the column a 100 TB
    * deployment persists (see SimilaritySpec's warehouse round-trip). */
  def sq8Codes(emb: DataFrame, bounds: DataFrame): DataFrame =
    emb.crossJoin(broadcast(bounds))
      .select(col("vec_id"),
        transform(col("embedding"), (xf, i) => {
          val x = xf.cast("double")
          val mn = element_at(col("mns"), i + 1)
          val mx = element_at(col("mxs"), i + 1)
          (when(mx > mn, floor((x - mn) / (mx - mn) * 255 + 0.5))
            .otherwise(lit(0.0)).cast("int") - 128).cast("byte")
        }).as("codes"))

  /** Ranking FROM the stored codes — the query path that never touches
    * the float corpus: dequantize each code row against the broadcast
    * bounds (per-row, inside codegen; `mn + code·(mx-mn)/255` — the
    * identical double expression the oracle renders) and rank by
    * exact-decimal cosine. No positional explode of the corpus, no
    * vec_id aggregation, no shuffle of vectors: scan → per-row score →
    * TakeOrderedAndProject (plan-asserted). */
  def sq8RankFromCodes(codes: DataFrame, bounds: DataFrame,
      queryId: Long, k: Int): DataFrame = {
    // dq materialized as a named column: dot and norm both reference it,
    // and CollapseProject keeps multi-referenced non-cheap aliases
    // un-inlined (the lambda-CSE lesson)
    val deq = codes.crossJoin(broadcast(bounds))
      .select(col("vec_id"),
        transform(col("codes"), (c, i) => {
          val mn = element_at(col("mns"), i + 1)
          val mx = element_at(col("mxs"), i + 1)
          mn + (c.cast("int") + 128).cast("double") * (mx - mn) / 255
        }).as("dq"))
    val q = deq.filter(col("vec_id") === queryId).select(col("dq").as("qdq"))
    deq.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(VectorFunctions.cosineExact(col("dq"), col("qdq")), 12).as("qcosine"))
      .orderBy(col("qcosine").desc, col("vec_id").asc)
      .limit(k)
  }

  // ----- product quantization (the 100 TB vector-compression tier) ---

  /** Squared L2 between two double arrays, codegen'd builtins only. */
  private[operators] def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** vec_id + L2-normalized embedding (unit length, doubles). On unit
    * vectors ‖a−b‖² = 2 − 2·cos(a,b), so PQ's L2-trained codebooks and
    * ADC distances rank by cosine — without this, varying vector norms
    * make L2-nearest ≠ cosine-nearest and ANN recall collapses. */
  def l2Normalized(emb: DataFrame): DataFrame =
    // the norm is hoisted into its own materialized column (r18): a
    // norm written INSIDE the transform lambda re-evaluates the whole
    // fold per ELEMENT (dim × per row — the lambda-CSE trap the
    // sq8RankFromCodes comment documents); the division values are
    // identical, the fold runs once per row
    emb.select(col("vec_id"), col("embedding"),
        VectorFunctions.normExact(col("embedding")).as("__nrm"))
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          x.cast("double") / col("__nrm")).as("embedding"))

  /** Codebook-training sample size: the classic ≈100 training points
    * per centroid across the `m` codebooks, floored at 10k — bounded
    * regardless of corpus size. */
  def defaultSampleN(m: Int, k: Int): Int = math.max(100 * k * m, 10000)

  /** Bounded deterministic training sample: the `n` vectors whose
    * `md5(vec_id)` sorts first. The ordering is a pure function of the
    * ids — layout- and partitioning-independent, reproducible across
    * runs — and `orderBy.limit` plans as TakeOrderedAndProject (each
    * partition keeps its local top-n, one bounded merge), so drawing
    * the sample is ONE pass over the corpus with no full sort. The
    * sample (and only the sample — never the corpus) is pinned with
    * localCheckpoint, so training's one collect reads ≤ n pinned rows
    * and never rescans the corpus files. This is what makes PQ/IVF
    * training viable at 100 TB: the codebook needs ~100 points per
    * centroid, not a scan of the corpus. */
  def trainingSample(unit: DataFrame, n: Int): DataFrame =
    unit.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(n)
      .localCheckpoint()

  /** Driver-side centroids, one (sub, cid, c) per centroid. */
  type Cents = Array[(Int, Int, Seq[Double])]

  /** PQ codebook training — `m` subspaces × `k` centroids via Lloyd
    * iterations in the JVM over a sample read in ONE collect. Init is
    * the `k` smallest vec_ids present (fewer rows give fewer
    * centroids); assignment is the argmin over (l2sq, cid) — the
    * distance a left fold from 0.0, NaN last as in Spark's struct
    * order, ties to the smaller cid ([[codesCol]]'s tie-break);
    * re-estimation is the per-position mean, members summed in
    * ascending vec_id order; a cell that empties keeps its centroid.
    * A repeated vec_id refuses (assignment is per id). Callers hand
    * this a [[trainingSample]], never the corpus: the driver holds
    * sampleN × dim doubles — 6.6 MB at the default max(100·k·m,
    * 10 000) rows of 64-d vectors, 7.7 MB at 150 cells. The codebook
    * (m·k rows) stays broadcast-sized forever. */
  def pqTrain(emb: DataFrame, m: Int = 8, k: Int = 16,
      iters: Int = 3): Cents =
    lloyd(collectSample(emb), m, k, iters)

  /** The IVF-PQ quantizers of [[AnnIndex]] and [[annIvfPq]] from ONE
    * collect of ONE bounded sample (sized for the finer of the two):
    * the coarse cells are k-means — [[pqTrain]] with m = 1, 3
    * iterations — and the PQ codebook trains 6 iterations. Returns
    * (coarse, codebook, dim). */
  private[operators] def trainIvfPq(unit: DataFrame, nCells: Int, m: Int,
      k: Int): (Cents, Cents, Int) = {
    val rows = collectSample(trainingSample(unit,
      math.max(defaultSampleN(1, nCells), defaultSampleN(m, k))))
    (lloyd(rows, 1, nCells, 3), lloyd(rows, m, k, 6), rows.head._2.length)
  }

  /** A local (sub, cid, c) frame of `cents` — only for saving a table
    * or for a join against stored codes. */
  private[operators] def centsFrame(spark: SparkSession,
      cents: Cents): DataFrame =
    spark.createDataFrame(cents.toSeq).toDF("sub", "cid", "c")

  /** A training sample's (vec_id, embedding as doubles), ascending
    * vec_id, in one collect; a null element throws on unboxing. */
  private def collectSample(emb: DataFrame): Array[(Long, Array[Double])] = {
    val rows = emb.select(col("vec_id"),
        transform(col("embedding"), _.cast("double"))).collect()
      .map(r => (r.getLong(0),
        r.getSeq[java.lang.Double](1).map(_.doubleValue).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, "pqTrain: empty training sample")
    rows.indices.drop(1).find(i => rows(i)._1 == rows(i - 1)._1)
      .foreach(i => throw new IllegalArgumentException(
        s"pqTrain: vec_id ${rows(i)._1} repeats in the training sample"))
    require(rows.forall(_._2.length == rows.head._2.length),
      "pqTrain: training vectors differ in dimension")
    rows
  }

  /** Squared L2 between `v[off, off + c.length)` and `c`: the left fold
    * from 0.0 that [[l2sq]] evaluates, so every double is identical. */
  private[operators] def l2sqAt(v: Array[Double], off: Int,
      c: Array[Double]): Double = {
    var d = 0.0
    for (p <- c.indices) { val t = v(off + p) - c(p); d = d + t * t }
    d
  }

  /** [[pqTrain]]'s Lloyd over rows sorted by vec_id. */
  private def lloyd(rows: Array[(Long, Array[Double])], m: Int, k: Int,
      iters: Int): Cents = {
    val dim = rows.head._2.length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val init = rows.take(k)
    (0 until m).flatMap { s0 =>
      val off = s0 * dsub
      val cents = init.map { case (_, v) => v.slice(off, off + dsub) }
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length, dsub)(0.0)
        val counts = new Array[Long](cents.length)
        rows.foreach { case (_, v) =>
          var best = 0
          var bestD = l2sqAt(v, off, cents(0))
          for (c <- 1 until cents.length) {
            // Spark's struct order: NaN above every number
            val d = l2sqAt(v, off, cents(c))
            if (d < bestD || (bestD.isNaN && !d.isNaN)) { best = c; bestD = d }
          }
          counts(best) += 1
          for (p <- 0 until dsub) sums(best)(p) += v(off + p)
        }
        for (c <- cents.indices if counts(c) > 0)
          cents(c) = sums(c).map(_ / counts(c).toDouble)
      }
      cents.zipWithIndex.map { case (c, cid) => (s0, cid, c.toSeq) }
    }.toArray
  }

  /** The per-subspace nearest-centroid argmin as a pure projection
    * Column: the codebook (m·k rows — the same bounded collect pqRank's
    * distance table does) becomes literals, and each subspace's code is
    * `array_min` over k (distance, cid) structs — the same
    * lexicographic tie-break as [[pqTrain]]'s argmin.
    * Whole-stage-codegen arithmetic, NO join, NO shuffle. */
  private[operators] def codesCol(cents: Cents, m: Int, dim: Int): Column = {
    val dsub = dim / m
    array((0 until m).map { s0 =>
      val sv = transform(slice(col("embedding"), s0 * dsub + 1, dsub),
        _.cast("double"))
      val entries = cents.filter(_._1 == s0).sortBy(_._2).map {
        case (_, cid, c) =>
          struct(l2sq(sv, array(c.map(lit): _*)).as("d2"),
            lit(cid).as("cid"))
      }
      array_min(array(entries.toSeq: _*)).getField("cid").cast("byte")
    }: _*)
  }

  /** The IVF CELL assignment as a pure projection Column — an INT, not
    * a byte: the cell id is a partition key, not a stored code, so it
    * must not inherit [[codesCol]]'s one-byte cap (127 cells over a
    * 1 B-vector corpus is 8 M rows per cell — probe cost drifts toward
    * O(corpus); the √N rule wants thousands of cells at 100 TB). Two
    * representations of the same argmin, switched on cell count:
    *  - ≤ 127 cells: [[codesCol]]'s literal-struct `array_min` shape
    *    (one expression node per centroid — the proven whole-stage-
    *    codegen form, and bit-identical to every index built before
    *    the cap was lifted, since the byte cast was lossless there);
    *  - beyond 127: the centroid table becomes ONE literal VALUE (a
    *    `typedLit` array of (cid, centroid) structs — thousands of
    *    cells stay a single Literal node instead of an expression tree
    *    codegen cannot compile), folded with `least` over (d2, cid)
    *    structs — the SAME lexicographic tie-break as `array_min`.
    * Both paths: shuffle-free, join-free, NO UDF. */
  private[operators] def cellCol(cents: Cents, dim: Int): Column = {
    val sorted = cents.filter(_._1 == 0).sortBy(_._2)
    if (sorted.length <= 127)
      element_at(codesCol(cents, 1, dim), 1).cast("int")
    else {
      val sv = transform(slice(col("embedding"), 1, dim), _.cast("double"))
      val table = typedLit(sorted.map { case (_, cid, c) =>
        (cid, c) }.toSeq)
      aggregate(table,
        struct(lit(Double.MaxValue).as("d2"), lit(-1).as("cid")),
        (acc, e) => least(acc,
          struct(l2sq(sv, e.getField("_2")).as("d2"),
            e.getField("_1").as("cid"))))
        .getField("cid")
    }
  }

  /** The centroids of a STORED codebook or coarse table (m·k or
    * nCells rows), as [[pqTrain]] returns them. */
  def collectCents(cents: DataFrame): Cents =
    cents.collect().map(r => (r.getAs[Int]("sub"), r.getAs[Int]("cid"),
      r.getAs[scala.collection.Seq[Double]]("c").toVector: Seq[Double]))

  /** Encode: every vector → `m` one-byte codes (nearest centroid per
    * subspace, same deterministic argmin as training). 32× smaller
    * than float32 at m=8 over 64 dims — the column a 100 TB corpus
    * stores and scans. The encode is ONE shuffle-free projection pass
    * over the corpus ([[codesCol]]) — the full-corpus
    * explode→join→groupBy a naive encode would shuffle is gone. */
  def pqCodes(emb: DataFrame, cents: Cents, m: Int = 8): DataFrame =
    emb.select(col("vec_id"),
      codesCol(cents, m, m * cents.head._3.length).as("codes"))

  /** ADC ranking from stored codes: the query's m×k distance table is
    * computed on the driver from the codebook (m·k entries, the same
    * left fold as [[l2sq]]) and travels as one literal; each corpus
    * row's approximate distance is m table lookups summed — no float
    * vectors touched, no shuffle, scan → score →
    * TakeOrderedAndProject. */
  def pqRank(codes: DataFrame, cents: Cents, queryVec: Seq[Double],
      m: Int = 8, k: Int = 16, topK: Int = 10): DataFrame = {
    val dsub = queryVec.size / m
    val q = queryVec.toArray
    val flat = Array.fill(m * k)(Double.MaxValue)
    cents.foreach { case (s0, c0, c) =>
      flat(s0 * k + c0) = l2sqAt(q, s0 * dsub, c.toArray) }
    pqRankWith(codes, flat, m, k, topK)
  }

  /** [[pqRank]] over a PRECOMPUTED flat ADC table (m·k doubles, slot
    * s0·k + cid) — the seam for callers that ship the table inside an
    * already-paid bounded collect ([[AnnIndex.query]]'s merged probe
    * job, r17) instead of paying pqRank's own. The scoring fold is
    * pqRank's verbatim, so the adc doubles are bit-identical. */
  private[operators] def pqRankWith(codes: DataFrame, flat: Array[Double],
      m: Int, k: Int, topK: Int): DataFrame = {
    // fused native ADC lookup sum (r18): bit-parity with the
    // zip_with/element_at fold (DecimalFoldParitySpec), one expression
    // node instead of the m·k-literal tree (planning time), zero
    // interpreted HOF dispatch in the codes-scan inner loop. The table
    // is ONE typed literal.
    val tlit = typedlit(flat.toSeq)
    codes
      .select(col("vec_id"),
        round(VectorFunctions.adcScore(col("codes"), tlit, m, k), 6)
          .as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(topK)
  }

  /** IVF-PQ — the production ANN composition (e7's coarse cells ×
    * e12's product-quantized ranking): a coarse quantizer restricts
    * the search to the query's cell, ADC table lookups over STORED
    * 8-byte codes rank inside it, and an exact re-rank of the
    * overqueried candidates settles the final order. At 100 TB the
    * cell id is a partition key and a query scans ONE partition's code
    * column — 1/k of the corpus × 32× smaller rows than float32; no
    * float vector outside the ≤ overquery·topK re-rank set is ever
    * read. Cells are the nearest label centroid by cosine (the e7
    * coarse partition) over the L2-normalized corpus, so PQ's L2 ADC
    * ranks by cosine inside each cell. */
  def annIvfPq(s: SparkSession, d: String, topK: Int = 10,
      overquery: Int = 5, nCells: Int = 8, nProbe: Int = 3): DataFrame = {
    val unit = l2Normalized(T.embeddings(s, d))
    // BOTH quantizers train on one bounded deterministic sample (sized
    // for the finer of the two) — never the corpus. pqTrain with m=1 IS
    // k-means (one subspace covering the whole dimension), so the cells
    // are geometric neighborhoods, not class labels; on unit vectors
    // L2-nearest ≡ cosine-nearest.
    val (coarse, codebook, dim) = trainIvfPq(unit, nCells, 8, 16)
    // encode cell + codes in ONE shuffle-free projection pass over the
    // corpus: the coarse cell is a 1-subspace code (one byte naming the
    // nearest coarse centroid), the PQ codes are the m-subspace argmin —
    // both pure [[codesCol]] expressions over the same scan
    val codes = unit.select(col("vec_id"),
      element_at(codesCol(coarse, 1, dim), 1).cast("int").as("cell"),
      codesCol(codebook, 8, dim).as("codes"))
    val q = unit.filter(col("vec_id") === QUERY_ID)
      .select("embedding").first().getSeq[Double](0)
    // multi-probe: the query's nProbe nearest cells by (d2, cid) (the
    // IVF recall lever — a boundary query's neighbors straddle cells)
    val qa = q.toArray
    val probed = coarse.map { case (_, cid, c) =>
        (l2sqAt(qa, 0, c.toArray), cid) }
      .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      .take(nProbe).map(_._2).toSeq
    // ADC-rank ONLY the probed cells' stored codes, overquery,
    // exact-cosine re-rank
    val cands = pqRank(
      codes.filter(col("cell").isin(probed: _*)).select("vec_id", "codes"),
      codebook, q, topK = overquery * topK)
    withQueryVec(s, d).join(cands.select("vec_id"), "vec_id")
      .select(col("vec_id"),
        round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(topK)
  }

  /** The e12 lanes' body: train the m=8 × k=16 codebook on a bounded
    * deterministic sample (the corpus is touched exactly once, by the
    * encode projection), ADC-rank the `pool(codes)` best candidates,
    * then exact-cosine re-rank them to the top TOP_K. */
  private def pqTopK(s: SparkSession, d: String,
      pool: DataFrame => Int): DataFrame = {
    val unit = l2Normalized(T.embeddings(s, d))
    val cents = pqTrain(trainingSample(unit, defaultSampleN(8, 16)),
      iters = 6)
    val codes = pqCodes(unit, cents)
    val q = unit.filter(col("vec_id") === QUERY_ID)
      .select("embedding").first().getSeq[Double](0)
    val cands = pqRank(codes, cents, q, topK = pool(codes))
    withQueryVec(s, d).join(cands.select("vec_id"), "vec_id")
      .select(col("vec_id"),
        round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(TOP_K)
  }

  /** Cluster-balanced DIVERSITY sampling (sp11): keep at most `cap`
    * vectors per hyperplane-LSH bucket — the coreset move behind
    * cluster-then-uniform data selection (dense regions of embedding
    * space contribute a bounded number of examples; sparse regions
    * keep everything), as one shuffle on the bucket key. Bucket
    * assignment is [[bucketOf]]'s per-row fused pass (no training, no
    * iteration — unlike k-means coresets the whole selection is
    * deterministic and cross-engine checkable); within a bucket the
    * kept `cap` are the smallest md5-hash ids, so membership is a pure
    * function of (vec_id, cap) — re-runs and backfills agree. Returns
    * (vec_id, bucket, rk, kept); filter `kept = 1` to apply. */
  def diversitySample(emb: DataFrame, cap: Int): DataFrame = {
    val s = emb.sparkSession
    val key = conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val rk = row_number()
      .over(Window.partitionBy("bucket").orderBy(key.asc, col("vec_id").asc))
    emb.select(col("vec_id"),
        bucketOf(s, col("embedding")).as("bucket"))
      .withColumn("rk", rk)
      .withColumn("kept", when(col("rk") <= cap, 1).otherwise(0))
  }

  /** Embedding near-duplicate pairs (d1 < d2, cosine ≥ 0.2): candidates
    * only from shared LSH buckets, exact-decimal cosine verification.
    * Shared by d7 (pair listing) and d8 (component resolution).
    *
    * Hot-bucket guard: candidate ids come from [[Skew.boundedSelfPairs]]
    * (per-task fan-out capped at maxBucket² even when a near-constant
    * corpus collapses into one bucket — same pair set, skew-safe task
    * layout); embeddings join back onto the candidate pairs only, so
    * vectors are never replicated through the pair enumeration. */
  def neardupPairs(s: SparkSession, d: String,
      maxBucket: Int = 1024): DataFrame = {
    val withBucket = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        bucketOf(s, col("embedding")).as("bucket"))
    val cand = Skew.boundedSelfPairs(
      withBucket.select("bucket", "vec_id"), "bucket", "vec_id", maxBucket)
    cand
      .join(withBucket.select(col("vec_id").as("d1"), col("embedding").as("v1")),
        Seq("d1"))
      .join(withBucket.select(col("vec_id").as("d2"), col("embedding").as("v2")),
        Seq("d2"))
      .select(col("d1"), col("d2"),
        round(VectorFunctions.cosineExact(col("v1"), col("v2")), 12).as("cosine"))
      .filter(col("cosine") >= 0.2)
  }

  /** The d7 pair CTEs in oracle SQL form (ends with `sums`; select the
    * thresholded pairs from it). */
  def neardupPairsCtes: String =
    s"""$bucketCtes,
       |cand AS (SELECT a.vec_id AS d1, b.vec_id AS d2
       |         FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |px AS (SELECT c.d1, c.d2, e1.x AS x1, e2.x AS x2
       |       FROM cand c
       |       JOIN ex e1 ON e1.vec_id = c.d1
       |       JOIN ex e2 ON e2.vec_id = c.d2 AND e2.j = e1.j),
       |sums AS (SELECT d1, d2,
       |           cast(sum(cast(x1 * x2 as decimal(38,20))) as double) AS dot,
       |           cast(sum(cast(x1 * x1 as decimal(38,20))) as double) AS na,
       |           cast(sum(cast(x2 * x2 as decimal(38,20))) as double) AS nb
       |         FROM px GROUP BY d1, d2)""".stripMargin

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication: k-means-cluster the embedding space, then inside
    * each cluster drop every vector that has a near-semantic twin
    * (cosine ≥ tau) ranked ahead of it. Survivor rank follows the
    * paper's diversity rule — within a similar pair the vector FARTHER
    * from its cluster centroid survives (low centroid-similarity = the
    * more informative example), exact-distance ties broken by vec_id.
    * The drop decision is pairwise and parallel (v drops iff ANY
    * better-ranked similar u exists, whether or not u itself drops),
    * so the result is a pure function of the clustering — independent
    * of evaluation order and partitioning.
    *
    * Scale shape: centroids train on a bounded deterministic sample
    * ([[trainingSample]] — never the corpus), assignment + centroid
    * distance come from ONE shuffle-free argmin projection (the
    * codebook is literals), and the quadratic step enumerates pairs
    * only WITHIN clusters through [[Skew.boundedSelfPairs]] — at
    * 100 TB nClusters grows with the corpus so per-cluster volume
    * stays bounded and nothing all-pairs the corpus. No SQL oracle
    * (a Lloyd codebook is not SQL-expressible); SimilaritySpec pins
    * the banded path EXACTLY equal to a naive within-cluster
    * crossJoin reference and asserts planted-duplicate recall.
    * Returns (vec_id, cluster, kept). */
  def semanticAssign(emb: DataFrame, nClusters: Int = 8): DataFrame = {
    val unit = l2Normalized(emb)
    val cents = pqTrain(trainingSample(unit, defaultSampleN(1, nClusters)),
      m = 1, k = nClusters)
    // nearest centroid as ONE projection: array_min over (d2, cid)
    // structs — training's exact argmin and tie-break — keeping both
    // the cell AND the centroid distance (the survivor rank) from a
    // single shuffle-free pass. Returns (vec_id, embedding[unit],
    // cluster, d2c).
    val near = array_min(array(cents.sortBy(_._2).map { case (_, cid, c) =>
      struct(l2sq(col("embedding"), array(c.map(lit): _*)).as("d2"),
        lit(cid).as("cid"))
    }.toSeq: _*))
    unit.select(col("vec_id"), col("embedding"),
      near.getField("cid").cast("int").as("cluster"),
      near.getField("d2").as("d2c"))
  }

  def semanticDedup(emb: DataFrame, nClusters: Int = 8,
      tau: Double = 0.95, maxCluster: Int = 4096): DataFrame = {
    // the corpus-wide argmin projection runs ONCE: its SLIM output
    // (vec_id, cluster, d2c — ~24 B/row, never the vectors) is pinned
    // and reused by the pair enumeration, both pair sides, and the
    // final keep-set; referencing the unpinned frame four times would
    // re-run the k·dim argmin scan in every branch of the plan. The
    // candidate sides re-read embeddings through the plain
    // normalization projection over the scan — a cheap pass, and the
    // vectors themselves are never pinned.
    val assigned = semanticAssign(emb, nClusters)
      .select("vec_id", "cluster", "d2c").localCheckpoint()
    // unit vectors: dot IS cosine
    survivorsWithin(assigned, l2Normalized(emb),
      (v1, v2) => round(VectorFunctions.dotExact(v1, v2), 12),
      tau, maxCluster)
  }

  /** SemDeDup's pair-discovery + diversity-rule core, shared by the
    * trained ([[semanticDedup]]) and pinned-centroid
    * ([[semanticDedupFixed]]) lanes: within-cluster candidate pairs
    * through [[Skew.boundedSelfPairs]] (EXACT all-pairs, hot-cluster
    * task layout bounded), vectors joined back onto the slim pair set
    * only, similar pairs (`cosineOf` ≥ tau) resolved by the paper's
    * diversity rule — the pair's loser is the vector CLOSER to its
    * centroid (smaller d2c), ties to the larger vec_id. Returns
    * (vec_id, cluster, kept) ordered by vec_id. */
  private def survivorsWithin(assigned: DataFrame, vecs: DataFrame,
      cosineOf: (Column, Column) => Column, tau: Double,
      maxCluster: Int): DataFrame = {
    val cand = Skew.boundedSelfPairs(
      assigned.select("cluster", "vec_id"), "cluster", "vec_id", maxCluster)
    // vectors join back onto candidate pairs only — embeddings are
    // never replicated through the pair enumeration (d7's shape)
    val sim = cand
      .join(vecs.select(col("vec_id").as("d1"), col("embedding").as("v1")),
        Seq("d1"))
      .join(vecs.select(col("vec_id").as("d2"), col("embedding").as("v2")),
        Seq("d2"))
      .join(assigned.select(col("vec_id").as("d1"), col("d2c").as("c1")),
        Seq("d1"))
      .join(assigned.select(col("vec_id").as("d2"), col("d2c").as("c2")),
        Seq("d2"))
      .withColumn("cosine", cosineOf(col("v1"), col("v2")))
      .filter(col("cosine") >= tau)
    val losers = sim.select(
      when(col("c1") < col("c2") ||
        (col("c1") === col("c2") && col("d1") > col("d2")), col("d1"))
        .otherwise(col("d2")).as("vec_id")).distinct()
    assigned.select("vec_id", "cluster")
      .join(losers.withColumn("dropFlag", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dropFlag").isNotNull, 0).otherwise(1).as("kept"))
      .orderBy("vec_id")
  }

  /** Deterministic PINNED centroids for the hash-checked SemDeDup lane:
    * exact binary fractions (k/16, k ∈ [-8, 8]) from a fixed integer
    * recurrence — representable exactly as doubles, as short decimal
    * literals, and as DuckDB VALUES, so both engines hold bit-identical
    * centroid coordinates. */
  private[operators] def fixedCentroids(nClusters: Int = 4,
      dim: Int = DIM): Seq[Seq[Double]] =
    (0 until nClusters).map(cid => (0 until dim).map(j =>
      (((cid * 29 + j * 13) % 17) - 8) / 16.0))

  /** [[semanticAssign]] with the centroids PINNED as literals — the
    * exactness tier that makes d16 cross-engine checkable (the
    * [[bucketOfExact]] / e12 full-probe precedent): with the Lloyd
    * training replaced by fixed centroids, assignment is a pure
    * function of the corpus, and every distance is assembled from
    * order-independent exact-decimal dots (d2 = (x·x + c·c) − 2·x·c,
    * each dot a DECIMAL(38,20) sum cast to double) so DuckDB replays
    * it bit-for-bit. Raw embeddings — cosine in the pair stage
    * normalizes exactly, like d7. Returns (vec_id, cluster, d2c). */
  def semanticAssignFixed(emb: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    val xx = VectorFunctions.dotExact(col("embedding"), col("embedding"))
    val near = array_min(array(cents.zipWithIndex.map { case (c, cid) =>
      // c·c is a sum of 64 multiples of 1/256 bounded by 16 — exact in
      // double arithmetic, so this Scala-side constant equals the SQL
      // rendering of the same literal
      val cc = c.map(x => x * x).sum
      val xc = VectorFunctions.dotExact(col("embedding"),
        array(c.map(lit): _*))
      struct(((xx + lit(cc)) - lit(2.0) * xc).as("d2"),
        lit(cid).as("cid"))
    }: _*))
    emb.select(col("vec_id"),
      near.getField("cid").cast("int").as("cluster"),
      near.getField("d2").as("d2c"))
  }

  /** d16's SemDeDup through PINNED centroids, end-to-end
    * hash-checkable: the same assign → boundedSelfPairs →
    * diversity-rule path as [[semanticDedup]], with the one
    * non-SQL-expressible stage (Lloyd) replaced by [[fixedCentroids]]
    * literals. Cosine on the raw vectors via the exact d7 formula. */
  def semanticDedupFixed(emb: DataFrame, tau: Double = 0.3,
      maxCluster: Int = 4096): DataFrame = {
    val assigned = semanticAssignFixed(emb, fixedCentroids())
      .localCheckpoint()
    survivorsWithin(assigned, emb.select("vec_id", "embedding"),
      (v1, v2) => round(VectorFunctions.cosineExact(v1, v2), 12),
      tau, maxCluster)
  }

  /** DuckDB rendering of [[semanticDedupFixed]]. */
  private def semanticDedupFixedSql(tau: Double): String = {
    val cents = fixedCentroids()
    val centValues = (for {
      (c, cid) <- cents.zipWithIndex
      (v, j) <- c.zipWithIndex
    } yield s"($cid,${j + 1},$v)").mkString(", ")
    val ccValues = cents.zipWithIndex.map { case (c, cid) =>
      s"($cid,${c.map(x => x * x).sum})"
    }.mkString(", ")
    s"""WITH cents(cid, j, v) AS (VALUES $centValues),
       |ccs(cid, cc) AS (VALUES $ccValues),
       |ex AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
       |              unnest(range(1, len(embedding) + 1)) AS j
       |       FROM embeddings),
       |xx AS (SELECT vec_id,
       |         cast(sum(cast(x * x as decimal(38,20))) as double) AS xx
       |       FROM ex GROUP BY vec_id),
       |xc AS (SELECT e.vec_id, c.cid,
       |         cast(sum(cast(e.x * c.v as decimal(38,20))) as double) AS xc
       |       FROM ex e JOIN cents c ON c.j = e.j GROUP BY e.vec_id, c.cid),
       |d2 AS (SELECT x.vec_id, c.cid, (x.xx + s.cc) - 2.0 * c.xc AS d2
       |       FROM xc c JOIN xx x ON x.vec_id = c.vec_id
       |       JOIN ccs s ON s.cid = c.cid),
       |asg AS (SELECT vec_id, cid AS cluster, d2 AS d2c
       |        FROM (SELECT vec_id, cid, d2, row_number()
       |                OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
       |              FROM d2) WHERE rk = 1),
       |cand AS (SELECT a.vec_id AS d1, b.vec_id AS d2x,
       |                a.d2c AS c1, b.d2c AS c2
       |         FROM asg a JOIN asg b
       |           ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
       |px AS (SELECT c.d1, c.d2x, e1.x AS x1, e2.x AS x2
       |       FROM cand c JOIN ex e1 ON e1.vec_id = c.d1
       |       JOIN ex e2 ON e2.vec_id = c.d2x AND e2.j = e1.j),
       |sums AS (SELECT d1, d2x,
       |           cast(sum(cast(x1 * x2 as decimal(38,20))) as double) AS dot,
       |           cast(sum(cast(x1 * x1 as decimal(38,20))) as double) AS na,
       |           cast(sum(cast(x2 * x2 as decimal(38,20))) as double) AS nb
       |         FROM px GROUP BY d1, d2x),
       |sim AS (SELECT s.d1, s.d2x, c.c1, c.c2 FROM sums s
       |        JOIN cand c ON c.d1 = s.d1 AND c.d2x = s.d2x
       |        WHERE round(dot / (sqrt(na) * sqrt(nb)), 12) >= $tau),
       |losers AS (SELECT DISTINCT CASE WHEN c1 < c2 OR (c1 = c2 AND d1 > d2x)
       |                  THEN d1 ELSE d2x END AS vec_id FROM sim)
       |SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
       |  CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS kept
       |FROM asg a LEFT JOIN losers l ON l.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    // E1 — brute-force cosine top-k (the exactness baseline)
    Q("e1_cosine_topk", Some(exactCosineTopKSql()),
      (s, d) => withQueryVec(s, d)
        .select(col("vec_id"),
          round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(TOP_K)),

    // E2 — hyperplane-LSH bucket assignment (per-row, shuffle-free)
    Q("e2_lsh_buckets",
      Some(s"""WITH $bucketCtes
              |SELECT vec_id, bucket FROM bkt ORDER BY vec_id""".stripMargin),
      (s, d) => T.embeddings(s, d)
        .select(col("vec_id"), bucketOf(s, col("embedding")).as("bucket"))
        .orderBy("vec_id")),

    // SP11 — cluster-balanced diversity sampling: e2's deterministic
    // buckets stand in for the clustering, sp9's smallest-hash cap
    // bounds each bucket's contribution — the whole coreset selection
    // is a pure function of the corpus, so unlike k-means-based
    // selection it is DuckDB-hash-checked end to end (bucket
    // assignment on the exact-decimal tier + the same md5 rank key).
    Q("sp11_diversity_sample",
      Some(s"""WITH $bucketCtes
              |SELECT vec_id, bucket, rk,
              |  CASE WHEN rk <= 2 THEN 1 ELSE 0 END AS kept
              |FROM (SELECT vec_id, bucket,
              |        row_number() OVER (PARTITION BY bucket
              |          ORDER BY ('0x' || substr(md5(cast(vec_id AS varchar)), 1, 8))::BIGINT,
              |            vec_id) AS rk
              |      FROM bkt)
              |ORDER BY vec_id""".stripMargin),
      (s, d) => diversitySample(T.embeddings(s, d), cap = 2)
        .orderBy("vec_id")),

    // E3 — ANN: probe ONLY the query vector's bucket, exact cosine on
    // the shrunken candidate set (the IVF/LSH scale path)
    Q("e3_ann_bucket_topk",
      Some(s"""WITH $bucketCtes,
              |${cosineCte(QUERY_ID)}
              |SELECT c.vec_id, c.cosine, b.bucket FROM cs c
              |JOIN bkt b ON b.vec_id = c.vec_id
              |WHERE b.bucket = (SELECT bucket FROM bkt WHERE vec_id = $QUERY_ID)
              |ORDER BY c.cosine DESC, c.vec_id LIMIT 5""".stripMargin),
      (s, d) => {
        val withBkt = withQueryVec(s, d)
          .select(col("vec_id"), col("embedding"), col("qe"),
            bucketOf(s, col("embedding")).as("bucket"))
        withBkt
          .filter(col("bucket") === bucketOf(s, col("qe")))
          .select(col("vec_id"),
            round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"),
            col("bucket"))
          .orderBy(col("cosine").desc, col("vec_id").asc)
          .limit(5)
      }),

    // E4 — brute-force top-k through the NATIVE codegen'd expression
    // (hot path). Oracle-checked at round-6 precision: the native double
    // accumulation drifts < 1e-9 from the exact-decimal value
    // (SimilaritySpec), so both engines agree on the 1e-6 grid; ranking
    // happens on the UNROUNDED similarity before the limit.
    Q("e4_cosine_topk_native",
      Some(s"""WITH ${cosineCte(QUERY_ID)}
              |SELECT vec_id, round(cosine, 6) AS cosine FROM cs
              |ORDER BY cs.cosine DESC, vec_id LIMIT $TOP_K""".stripMargin),
      (s, d) => withQueryVec(s, d)
        .select(col("vec_id"),
          VectorFunctions.cosineSim(s, col("embedding"), col("qe")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(TOP_K)
        .select(col("vec_id"), round(col("sim"), 6).as("cosine"))),

    // E5 — per-label centroids in long format (label, pos, centroid):
    // the IVF coarse-quantizer build; partial-aggregates map-side.
    Q("e5_label_centroids",
      Some("""WITH ex AS (SELECT label, unnest(embedding)::DOUBLE AS x,
             |                   unnest(range(1, len(embedding) + 1)) AS pos
             |            FROM embeddings)
             |SELECT label, pos,
             |       round(cast(sum(cast(x as decimal(38,20))) as double) / count(*), 12) AS centroid
             |FROM ex GROUP BY label, pos ORDER BY label, pos""".stripMargin),
      (s, d) => T.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "x")))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          col("x").cast("double").as("x"))
        .groupBy("label", "pos")
        .agg(round(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 20)))
          .cast("double") / count(lit(1)), 12).as("centroid"))
        .orderBy("label", "pos")),

    // D7 — embedding-cosine near-duplicate pairs (the dedup-by-vector
    // variant): candidates ONLY from shared LSH buckets (never an
    // unblocked O(n²) cross join), verified with exact-decimal cosine.
    Q("d7_embedding_neardup",
      Some(s"""WITH $neardupPairsCtes
              |SELECT d1, d2, round(dot / (sqrt(na) * sqrt(nb)), 12) AS cosine
              |FROM sums
              |WHERE round(dot / (sqrt(na) * sqrt(nb)), 12) >= 0.2
              |ORDER BY d1, d2""".stripMargin),
      (s, d) => neardupPairs(s, d).orderBy("d1", "d2")),

    // E7 — IVF-style ANN: coarse-quantize with per-label centroids (the
    // trained partition), assign every vector to its nearest centroid,
    // then probe ONLY the query's cell and rank by exact cosine. At
    // scale the cell id is a partitioning key; the probe scans 1/k of
    // the data. The assignment is ONE map-side partial aggregation
    // (max_by over the ×k candidate rows), not a per-row window sort;
    // centroids and similarity use the exact-DECIMAL tier so DuckDB
    // reproduces the assignment bit-for-bit (the native-double variant
    // of the same pipeline is e6/e4's hot path).
    Q("e7_ivf_ann_topk",
      Some(s"""WITH ex7 AS (SELECT vec_id, label, unnest(embedding)::DOUBLE AS x,
              |                    unnest(range(1, len(embedding) + 1)) AS j
              |             FROM embeddings),
              |cent AS (SELECT label AS cell, j AS pos,
              |                round(cast(sum(cast(x as decimal(38,20))) as double) / count(*), 12) AS c
              |         FROM ex7 GROUP BY label, j),
              |vc AS (SELECT e.vec_id, c.cell,
              |              cast(sum(cast(e.x * c.c as decimal(38,20))) as double) AS dot,
              |              cast(sum(cast(e.x * e.x as decimal(38,20))) as double) AS na,
              |              cast(sum(cast(c.c * c.c as decimal(38,20))) as double) AS nc
              |       FROM ex7 e JOIN cent c ON c.pos = e.j GROUP BY e.vec_id, c.cell),
              |asg AS (SELECT vec_id, cell FROM (
              |          SELECT vec_id, cell, row_number() OVER (
              |            PARTITION BY vec_id
              |            ORDER BY round(dot / (sqrt(na) * sqrt(nc)), 12) DESC, cell) AS rk
              |          FROM vc) WHERE rk = 1),
              |${cosineCte(QUERY_ID)}
              |SELECT a.vec_id, a.cell, c.cosine
              |FROM asg a JOIN cs c ON c.vec_id = a.vec_id
              |WHERE a.cell = (SELECT cell FROM asg WHERE vec_id = $QUERY_ID)
              |ORDER BY c.cosine DESC, a.vec_id LIMIT $TOP_K""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val emb = T.embeddings(s, d)
        // exact-decimal centroids (e5's oracle-green arithmetic), packed
        // back into an array<double> per cell for the vectorized dot
        val cents = emb
          .select(col("label").as("cell"), posexplode(col("embedding")).as(Seq("pos0", "x")))
          .groupBy("cell", "pos0")
          .agg(round(sum(col("x").cast("double").cast(DecimalType(38, 20)))
            .cast("double") / count(lit(1)), 12).as("c"))
          .groupBy("cell")
          .agg(array_sort(collect_list(struct(col("pos0"), col("c")))).as("pc"))
          .select(col("cell"), transform(col("pc"), _.getField("c")).as("cvec"))
          // each centroid's exact norm ONCE (k rows), not once per
          // (vector, cell) candidate
          .select(col("cell"), col("cvec"),
            VectorFunctions.normExact(col("cvec")).as("cnorm"))
        // each vector's exact norm ONCE, hoisted out of the ×k cross join
        val vecs = emb.select(col("vec_id"), col("embedding"),
          VectorFunctions.normExact(col("embedding")).as("vnorm"))
        // nearest-centroid assignment via max_by: map-side partial
        // aggregation collapses the ×k candidate rows per vector — no
        // window shuffle-and-sort on vec_id
        val assigned = vecs.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("embedding"), col("vnorm"), col("cell"),
            round(VectorFunctions.dotExact(col("embedding"), col("cvec")) /
              (col("vnorm") * col("cnorm")), 12).as("sim"))
          .groupBy("vec_id")
          .agg(max_by(struct(col("cell"), col("embedding"), col("vnorm")),
            struct(col("sim"), -col("cell"))).as("m"))
          .select(col("vec_id"), col("m.cell").as("cell"),
            col("m.embedding").as("embedding"), col("m.vnorm").as("vnorm"))
        val qCell = assigned.filter(col("vec_id") === QUERY_ID)
          .select(col("cell").as("qcell"), col("embedding").as("qe"),
            col("vnorm").as("qnorm"))
        assigned.join(broadcast(qCell), col("cell") === col("qcell"))
          .select(col("vec_id"), col("cell"),
            round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
              (col("vnorm") * col("qnorm")), 12).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id").asc)
          .limit(TOP_K)
      }),

    // E6 — the same centroids through the NATIVE VectorAvg
    // TypedImperativeAggregate: no 64× posexplode inflation during the
    // aggregation, one in-place buffer per group, map-side combine (the
    // 100 TB path). The OUTPUT unrolls the 640 centroid rows to scalar
    // (label, pos, centroid) — array columns break the driver's
    // row-sorting compare — and rounds to 6 decimals, absorbing the
    // < 1e-9 double-vs-decimal accumulation drift so the exact-decimal
    // oracle hash-matches.
    Q("e6_centroids_native",
      Some("""WITH ex AS (SELECT label, unnest(embedding)::DOUBLE AS x,
             |                   unnest(range(1, len(embedding) + 1)) AS pos
             |            FROM embeddings)
             |SELECT label, pos,
             |       round(cast(sum(cast(x as decimal(38,20))) as double) / count(*), 6) AS centroid
             |FROM ex GROUP BY label, pos ORDER BY label, pos""".stripMargin),
      (s, d) => T.embeddings(s, d)
        .groupBy("label")
        .agg(VectorFunctions.vectorAvg(s, col("embedding")).as("cvec"))
        .select(col("label"), posexplode(col("cvec")).as(Seq("pos0", "c")))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          round(col("c"), 6).as("centroid"))
        .orderBy("label", "pos")),

    // E8 — batched k-NN JOIN: top-3 neighbors for EVERY query in a
    // query SET (the retrieval/labeling shape — "nearest training
    // examples for each eval prompt"), not one query at a time.
    // Candidates come from LSH bucket equality: the query table (small
    // by construction) broadcasts with its buckets, the corpus is
    // scanned once and never re-shuffled, and the per-query top-k
    // window runs on the slim candidate set, not the corpus.
    Q("e8_knn_join",
      Some(s"""WITH $bucketCtes,
              |q AS (SELECT b.vec_id AS qid, e.embedding AS qe, b.bucket
              |      FROM bkt b JOIN embeddings e ON e.vec_id = b.vec_id
              |      WHERE b.vec_id < 5),
              |cand AS (SELECT q.qid, b.vec_id, q.qe, e.embedding
              |         FROM q JOIN bkt b ON b.bucket = q.bucket
              |         JOIN embeddings e ON e.vec_id = b.vec_id),
              |zp AS (SELECT qid, vec_id, unnest(embedding)::DOUBLE AS x,
              |              unnest(qe)::DOUBLE AS y
              |       FROM cand),
              |cs8 AS (SELECT qid, vec_id,
              |          round(cast(sum(cast(x * y as decimal(38,20))) as double) /
              |          (sqrt(cast(sum(cast(x * x as decimal(38,20))) as double)) *
              |           sqrt(cast(sum(cast(y * y as decimal(38,20))) as double))), 12) AS cosine
              |        FROM zp GROUP BY qid, vec_id)
              |SELECT qid, vec_id, cosine FROM (
              |  SELECT qid, vec_id, cosine, row_number() OVER (
              |    PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn FROM cs8)
              |WHERE rn <= 3 ORDER BY qid, vec_id""".stripMargin),
      (s, d) => {
        // native fused bucket (bucket-for-bucket ≡ the exact-decimal
        // tier the SQL oracle renders — the e3 precedent)
        val bkt = T.embeddings(s, d).select(col("vec_id"), col("embedding"),
          bucketOf(s, col("embedding")).as("bucket"))
        val q = bkt.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
        val w = Window.partitionBy("qid")
          .orderBy(col("cosine").desc, col("vec_id").asc)
        bkt.join(broadcast(q), Seq("bucket"))
          .select(col("qid"), col("vec_id"),
            round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("qid", "vec_id", "cosine")
          .orderBy("qid", "vec_id")
      }),

    // E9 — scalar-quantized (SQ8) ANN: every dimension compressed to
    // one byte against its global [min,max] (the FAISS SQ8 idea — 4×
    // memory cut per float32), ranking on the DEQUANTIZED values. The
    // quantizer is deterministic (floor(x·255 + .5) — explicitly the
    // same half-up rounding on both engines), so the whole approximate
    // pipeline is oracle-checkable, unlike trained-codebook PQ.
    // Shape: per-dim bounds are a 64-row broadcast; the rank runs as
    // one grouped exact-decimal aggregation over the positional form.
    // At 100 TB the int8 codes are materialized once as a byte-array
    // column and this query only scans codes + bounds.
    Q("e9_sq8_topk",
      Some(s"""WITH ex9 AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
              |                    unnest(range(1, len(embedding) + 1)) AS j
              |             FROM embeddings),
              |bounds AS (SELECT j, min(x) AS mn, max(x) AS mx FROM ex9 GROUP BY j),
              |dq AS (SELECT e.vec_id, e.j,
              |         CASE WHEN b.mx > b.mn
              |              THEN b.mn + floor((e.x - b.mn) / (b.mx - b.mn) * 255 + 0.5)
              |                   * (b.mx - b.mn) / 255
              |              ELSE b.mn END AS v
              |       FROM ex9 e JOIN bounds b ON b.j = e.j),
              |qd AS (SELECT j, v AS qv FROM dq WHERE vec_id = $QUERY_ID),
              |sc AS (SELECT d.vec_id,
              |         cast(sum(cast(d.v * q.qv as decimal(38,20))) as double) AS dot,
              |         cast(sum(cast(d.v * d.v as decimal(38,20))) as double) AS na,
              |         cast(sum(cast(q.qv * q.qv as decimal(38,20))) as double) AS nb
              |       FROM dq d JOIN qd q ON q.j = d.j GROUP BY d.vec_id)
              |SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 12) AS qcosine
              |FROM sc ORDER BY qcosine DESC, vec_id LIMIT $TOP_K""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val ex = T.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p0", "x")))
          .select(col("vec_id"), (col("p0") + 1).as("j"), col("x").cast("double").as("x"))
        val bounds = ex.groupBy("j").agg(min("x").as("mn"), max("x").as("mx"))
        val dq = ex.join(broadcast(bounds), Seq("j"))
          .select(col("vec_id"), col("j"),
            when(col("mx") > col("mn"),
              col("mn") + floor((col("x") - col("mn")) / (col("mx") - col("mn"))
                * 255 + 0.5) * (col("mx") - col("mn")) / 255)
              .otherwise(col("mn")).as("v"))
        val qd = dq.filter(col("vec_id") === QUERY_ID)
          .select(col("j"), col("v").as("qv"))
        def dsum(c: Column) = sum(c.cast(DecimalType(38, 20))).cast("double")
        dq.join(broadcast(qd), Seq("j"))
          .groupBy("vec_id")
          .agg(dsum(col("v") * col("qv")).as("dot"),
            dsum(col("v") * col("v")).as("na"),
            dsum(col("qv") * col("qv")).as("nb"))
          .select(col("vec_id"),
            round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 12).as("qcosine"))
          .orderBy(col("qcosine").desc, col("vec_id").asc)
          .limit(TOP_K)
      }),

    // E11 — SQ8 ranking over STORED codes (e9's own documented scale
    // story made real): quantize once into byte codes + a one-row
    // bounds table, then the query path touches ONLY codes and bounds —
    // per-row dequantize inside codegen, no positional corpus explode,
    // no vec_id aggregation, no shuffle of vectors. Scores are
    // bit-identical to e9 (same floor/half-up quantizer, same double
    // dequant expression, exact-decimal accumulation), so the oracle's
    // integer-code CTE reproduces the ranking exactly.
    Q("e11_sq8_stored_topk",
      Some(s"""WITH ex11 AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
              |                     unnest(range(1, len(embedding) + 1)) AS j
              |              FROM embeddings),
              |bounds AS (SELECT j, min(x) AS mn, max(x) AS mx FROM ex11 GROUP BY j),
              |codes AS (SELECT e.vec_id, e.j,
              |            CASE WHEN b.mx > b.mn
              |                 THEN cast(floor((e.x - b.mn) / (b.mx - b.mn) * 255 + 0.5) as int)
              |                 ELSE 0 END AS code
              |          FROM ex11 e JOIN bounds b ON b.j = e.j),
              |dq AS (SELECT c.vec_id, c.j,
              |              b.mn + c.code * (b.mx - b.mn) / 255 AS v
              |       FROM codes c JOIN bounds b ON b.j = c.j),
              |qd AS (SELECT j, v AS qv FROM dq WHERE vec_id = $QUERY_ID),
              |sc AS (SELECT d.vec_id,
              |         cast(sum(cast(d.v * q.qv as decimal(38,20))) as double) AS dot,
              |         cast(sum(cast(d.v * d.v as decimal(38,20))) as double) AS na,
              |         cast(sum(cast(q.qv * q.qv as decimal(38,20))) as double) AS nb
              |       FROM dq d JOIN qd q ON q.j = d.j GROUP BY d.vec_id)
              |SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 12) AS qcosine
              |FROM sc ORDER BY qcosine DESC, vec_id LIMIT $TOP_K""".stripMargin),
      (s, d) => {
        val emb = T.embeddings(s, d)
        val bounds = sq8Bounds(emb)
        sq8RankFromCodes(sq8Codes(emb, bounds), bounds, QUERY_ID, TOP_K)
      }),

    // E10 — multi-probe multi-table ANN (the high-plane-count production
    // LSH shape): 2 independent 8-plane tables, probe radius 1 (query
    // bucket + every 1-bit flip, 9 probes per table), candidates =
    // union-distinct across tables, exact-decimal rank on the candidate
    // set only. Buckets come from the fused native LshBucket expression;
    // its bucket-for-bucket agreement with the exact-DECIMAL oracle tier
    // is the asserted e2/e3 invariant (SimilaritySpec).
    Q("e10_multiprobe_ann",
      Some(s"""WITH ${multiBucketCtes(N_PLANES, 2)},
              |flips(f) AS (VALUES ${(0L +: (0 until N_PLANES).map(1L << _))
                .map(f => s"($f)").mkString(", ")}),
              |probes AS (SELECT b.t, xor(b.bucket, f.f) AS bucket
              |           FROM bkt2 b CROSS JOIN flips f WHERE b.vec_id = $QUERY_ID),
              |cand10 AS (SELECT DISTINCT b.vec_id
              |           FROM bkt2 b JOIN probes p ON p.t = b.t AND p.bucket = b.bucket),
              |${cosineCte(QUERY_ID)}
              |SELECT c.vec_id, s.cosine FROM cand10 c JOIN cs s ON s.vec_id = c.vec_id
              |ORDER BY s.cosine DESC, c.vec_id LIMIT $TOP_K""".stripMargin),
      (s, d) => {
        val emb = T.embeddings(s, d)
        multiProbeCandidates(s, emb, QUERY_ID, N_PLANES, radius = 1, tables = 2)
          .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
          .crossJoin(broadcast(emb.filter(col("vec_id") === QUERY_ID)
            .select(col("embedding").as("qe"))))
          .select(col("vec_id"),
            round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id").asc)
          .limit(TOP_K)
      }),

    // E12 — product-quantization ANN (rows-only: the Lloyd codebook is
    // not SQL-expressible cross-engine): L2-normalize so PQ's L2
    // geometry IS cosine ranking (‖a−b‖² = 2−2·cos on unit vectors),
    // train m=8×k=16 codebooks, encode the corpus to 8 bytes per
    // vector (32× under float32), ADC-rank by m broadcast-table
    // lookups per row, then exact-cosine re-rank ONLY the top
    // 5×TOP_K PQ candidates — the production two-stage ANN shape:
    // the byte-code scan prunes, the float read touches 50 rows.
    // Correctness story (no DuckDB oracle can train Lloyd):
    // SimilaritySpec asserts recall@10 vs the exact e1 ranking on the
    // real embeddings table, plus the ADC floor/code-shape invariants.
    Q("e12_pq_topk", None, (s, d) => pqTopK(s, d, _ => 5 * TOP_K)),

    // E12-full — the b3_ann_full_wh trick applied to the PURE-PQ lane:
    // a candidate pool covering the whole corpus makes the exact
    // re-rank independent of what the ADC stage ranked, so the result
    // IS the exact cosine top-k and e1's DuckDB oracle hash-checks the
    // entire pqTrain → pqCodes → pqRank → re-rank machinery end to end
    // (codebook quality can't save a broken encode/ADC/rank pipe —
    // any wrong code, lookup, or join key drops a true-top-k id from
    // the pool and the hash diverges). e12_pq_topk stays the honest
    // 5×TOP_K production shape with its recall-floor spec. The ADC
    // pool is every encoded row: the rank stage must still score ALL
    // codes (a silently-dropped row would shrink the pool and show up
    // as a missing candidate here).
    Q("e12_pq_full_rerank", Some(exactCosineTopKSql()),
      (s, d) => pqTopK(s, d, _.count().toInt)),

    // E13 — IVF-PQ, the full production composition (see [[annIvfPq]]):
    // e7's coarse cells bound the scan to 1/k of the corpus, e12's
    // stored codes rank it 32× smaller than float32, exact re-rank
    // settles the top-k. Correctness story (no SQL oracle can train
    // the codebook): SimilaritySpec asserts recall@10 vs the exact e1
    // ranking, like e9/e12.
    Q("e13_ivf_pq_topk", None, (s, d) => annIvfPq(s, d, topK = TOP_K)),

    // E13-full — the full-probe exactness trick (b3_ann_full_wh /
    // e12_pq_full_rerank) applied to the COMPOSED IVF-PQ lane: probing
    // every coarse cell (nProbe = nCells) with an ADC pool ≥ corpus
    // size makes the exact re-rank independent of both quantizers, so
    // the result IS the exact cosine top-k and e1's DuckDB oracle
    // hash-checks the whole composition — coarse k-means assignment,
    // the one-pass cell+code projection, cell-IN pruning, ADC ranking,
    // bounded re-rank. A wrong cell code silently dropping rows, a
    // broken IN-filter, or a mis-keyed codes join each shrinks the
    // pool and diverges the hash. e13_ivf_pq_topk stays the honest
    // probed production shape with its recall-floor spec.
    Q("e13_ivf_pq_full", Some(exactCosineTopKSql()),
      (s, d) => {
        val n = T.embeddings(s, d).count().toInt
        annIvfPq(s, d, topK = TOP_K,
          overquery = (n + TOP_K - 1) / TOP_K, nProbe = 8)
      }),

    // D16 — SemDeDup semantic deduplication (rows-only: the Lloyd
    // codebook is not SQL-expressible; SimilaritySpec pins the banded
    // path ≡ a naive within-cluster crossJoin reference and planted-
    // duplicate recall). tau=0.3 suits the synthetic corpus's cosine
    // spread (max intra-corpus cosine ≈ 0.51); real text embeddings
    // use the default 0.95.
    Q("d16_semantic_dedup", None,
      (s, d) => semanticDedup(T.embeddings(s, d), tau = 0.3)),

    // D16f — SemDeDup HASH-CHECKED: the trained lane above stays
    // rows-only (a Lloyd codebook is not SQL-expressible), but with
    // the centroids pinned as literals the ENTIRE pipeline — argmin
    // assignment, within-cluster pair discovery, the
    // farther-from-centroid survivor rule — is a pure function DuckDB
    // replays bit-for-bit (the t21 fixedMerges / e12 full-probe
    // pattern). Same code path as d16: semanticAssignFixed feeds the
    // shared survivorsWithin core.
    Q("d16_semdedup_fixed", Some(semanticDedupFixedSql(0.3)),
      (s, d) => semanticDedupFixed(T.embeddings(s, d), tau = 0.3)),

    // E14 — hybrid retrieval: BM25 (t18's sparse lane) ∪ dense cosine
    // (e1's lane), fused by reciprocal-rank fusion (Cormack et al.'s
    // rrf, the standard hybrid-search combiner: score = Σ 1/(60+rank)).
    // The scale split is deliberate: candidate GENERATION is the
    // distributed part (BM25 = two map-side scans + a single-row stats
    // broadcast; dense = one scan into TakeOrderedAndProject) and each
    // lane hands over only its top-50 (id, rank) rows, so the fusion —
    // rank windows + a full-outer join + re-sort — touches ≤100 rows
    // regardless of corpus size. RRF is also why the float contract is
    // easy: scores are 1/(60+r) over EXACT integer ranks (both engines
    // rank by the same round(6)/round(12) keys with id tie-breaks), two
    // correctly-rounded divisions and one sum in fixed order — no libm,
    // bit-identical, no rounding needed on the fused score.
    Q("e14_rrf_fusion",
      Some(s"""WITH ${cosineCte(QUERY_ID)},
              |sr AS (SELECT doc_id,
              |         cast(row_number() OVER (ORDER BY score DESC, doc_id)
              |           AS INT) AS r
              |       FROM (${TextAnalysis.bm25OracleSql(
                        TextAnalysis.bm25Query, RRF_POOL)})),
              |dr AS (SELECT vec_id,
              |         cast(row_number() OVER (ORDER BY cosine DESC, vec_id)
              |           AS INT) AS r
              |       FROM (SELECT vec_id, cosine FROM cs
              |             ORDER BY cosine DESC, vec_id LIMIT $RRF_POOL))
              |SELECT coalesce(s.doc_id, d.vec_id) AS doc_id,
              |  s.r AS bm25_rank, d.r AS cos_rank,
              |  (coalesce(cast(1.0 AS DOUBLE)/(60 + s.r), cast(0.0 AS DOUBLE)) +
              |   coalesce(cast(1.0 AS DOUBLE)/(60 + d.r), cast(0.0 AS DOUBLE)))
              |    AS rrf
              |FROM sr s FULL JOIN dr d ON s.doc_id = d.vec_id
              |ORDER BY rrf DESC, doc_id LIMIT $TOP_K""".stripMargin),
      (s, d) => {
        val sparse = TextAnalysis
          .bm25TopK(T.documents(s, d), TextAnalysis.bm25Query, RRF_POOL)
          .withColumn("r", row_number()
            .over(Window.orderBy(col("score").desc, col("doc_id"))))
          .select("doc_id", "r")
        val dense = withQueryVec(s, d)
          .select(col("vec_id"),
            round(VectorFunctions.cosineExact(col("embedding"), col("qe")), 12).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id").asc).limit(RRF_POOL)
          .withColumn("r", row_number()
            .over(Window.orderBy(col("cosine").desc, col("vec_id"))))
          .select("vec_id", "r")
        rrfFuse(Seq(sparse, dense), k = TOP_K)
          .select(col("id").as("doc_id"), col("r0").as("bm25_rank"),
            col("r1").as("cos_rank"), col("rrf"))
      })
  )

  /** Candidate-pool depth each retrieval lane feeds into the fusion.
    * (`lazy`: referenced from `all`'s eager Q registrations above —
    * a plain val declared after `all` would still be 0 there.) */
  private lazy val RRF_POOL = 50

  /** The BATCH hybrid-retrieval oracle — e14's fusion SQL lifted to N
    * (queryId, terms) pairs and aimed at the STORED-index lanes:
    * the sparse rank list is the POSITIVE-score BM25 prefix (the
    * inverted index only holds matching docs — `WHERE score > 0`
    * renders that restriction; identical whenever ≥pool docs match),
    * the dense list is the exact cosine top-pool (what the stored
    * IVF-PQ lane returns under a full probe with all-admitting
    * overquery — the b3_ann_full_wh argument), and the fusion is the
    * same coalesce fold in the same lane order. The oracle
    * [[graft.operators.AnnIndex.hybridQueryBatch]] must reproduce
    * per-query top-k bit-for-bit (b15_hybrid_batch_full_wh). */
  private[operators] def hybridBatchOracleSql(
      queries: Seq[(Long, Seq[String])], topK: Int,
      pool: Int = RRF_POOL): String =
    queries.map { case (qid, ts) =>
      s"""SELECT $qid AS query_id, * FROM (
         |WITH ${cosineCte(qid)},
         |sr AS (SELECT doc_id,
         |         cast(row_number() OVER (ORDER BY score DESC, doc_id)
         |           AS INT) AS r
         |       FROM (SELECT * FROM (${TextAnalysis.bm25OracleSql(ts, pool)})
         |             WHERE score > 0)),
         |dr AS (SELECT vec_id,
         |         cast(row_number() OVER (ORDER BY cosine DESC, vec_id)
         |           AS INT) AS r
         |       FROM (SELECT vec_id, cosine FROM cs
         |             ORDER BY cosine DESC, vec_id LIMIT $pool))
         |SELECT coalesce(s.doc_id, d.vec_id) AS doc_id,
         |  s.r AS bm25_rank, d.r AS cos_rank,
         |  (coalesce(cast(1.0 AS DOUBLE)/(60 + s.r), cast(0.0 AS DOUBLE)) +
         |   coalesce(cast(1.0 AS DOUBLE)/(60 + d.r), cast(0.0 AS DOUBLE)))
         |    AS rrf
         |FROM sr s FULL JOIN dr d ON s.doc_id = d.vec_id
         |ORDER BY rrf DESC, doc_id LIMIT $topK
         |)""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY query_id, rrf DESC, doc_id")

  /** Reciprocal-rank fusion over N ranked candidate lists. Each input
    * is a 2-column frame (id, 1-based rank) ALREADY truncated to its
    * pool — so every join here is over pool-bounded row counts (the
    * lists' top-k), never the corpus; the heavy lifting happened in
    * whatever produced the ranks. Ids missing from a list contribute 0
    * for that list (full-outer fold). Output: (id, r0…rN-1, rrf),
    * top-`k` by (rrf desc, id). */
  def rrfFuse(ranked: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(ranked.nonEmpty, "rrfFuse: need at least one ranked list")
    // UNION + one per-id aggregate instead of a chain of full-outer
    // joins (r18): each id appears at most once per lane (the inputs
    // are ranked lists), so min-over-the-lane's-tagged-rows IS the
    // join's r_i — same values, same nulls where a lane misses an id —
    // for ONE Exchange over ≤ N·pool rows instead of N-1 join
    // exchanges plus their merge sorts (guide §2.1).
    val tagged = ranked.zipWithIndex.map { case (df, i) =>
      df.select(col(df.columns(0)).as("id"), lit(i).as("lane"),
        col(df.columns(1)).as("rank"))
    }
    val laneCols = ranked.indices.map(i =>
      min(when(col("lane") === i, col("rank"))).as(s"r$i"))
    val folded = tagged.reduce(_ unionByName _)
      .groupBy("id").agg(laneCols.head, laneCols.tail: _*)
    val rrf = ranked.indices
      .map(i => coalesce(lit(1.0) / (lit(c) + col(s"r$i")), lit(0.0)))
      .reduce(_ + _)
    folded
      .select(col("id") +: ranked.indices.map(i => col(s"r$i")) :+
        rrf.as("rrf"): _*)
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(k)
  }
}
