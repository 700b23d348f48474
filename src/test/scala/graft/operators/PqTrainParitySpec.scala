package graft.operators

import graft.{PqTrainSpark, SparkTestSession, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Similarity.pqTrain` — Lloyd on the driver over the collected
  * sample — against the DataFrame Lloyd it replaced
  * ([[PqTrainSpark]]): bit-identical centroids and identical codes on
  * real, clustered and random corpora at the geometries the index
  * trains (coarse cells m = 1 over 3 iterations, codebooks over 6), and
  * on the edge cases of the rules (fewer rows than k, a cell that
  * empties, exact distance ties). A repeated vec_id refuses. */
class PqTrainParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def bits(c: Similarity.Cents): Seq[(Int, Int, Seq[Long])] =
    c.toSeq.sortBy(t => (t._1, t._2)).map { case (s0, cid, v) =>
      (s0, cid, v.map(java.lang.Double.doubleToRawLongBits)) }

  /** Every vector's code as the index stores it: the cell (an int)
    * for m = 1, the one-byte PQ codes otherwise. */
  private def codes(unit: DataFrame, cents: Similarity.Cents,
      m: Int): Map[Long, Any] = {
    val dim = m * cents.head._3.length
    unit.select(col("vec_id"),
        if (m == 1) Similarity.cellCol(cents, dim)
        else Similarity.codesCol(cents, m, dim))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
  }

  /** Trains `sample` both ways; asserts bit-identical centroids, and
    * identical codes for every vector of `unit`. */
  private def parity(name: String, unit: DataFrame, sample: DataFrame,
      m: Int, k: Int, iters: Int): Similarity.Cents = {
    val t0 = System.nanoTime
    val jvm = Similarity.pqTrain(sample, m, k, iters)
    val t1 = System.nanoTime
    val df = Similarity.collectCents(PqTrainSpark.pqTrain(sample, m, k, iters))
    val t2 = System.nanoTime
    info(f"$name (m=$m, k=$k, iters=$iters): driver Lloyd " +
      f"${(t1 - t0) / 1e9}%.2f s, DataFrame Lloyd ${(t2 - t1) / 1e9}%.2f s")
    assert(bits(jvm) == bits(df), s"$name: centroids differ")
    assert(codes(unit, jvm, m) == codes(unit, df, m), s"$name: codes differ")
    jvm
  }

  /** The production shape: the bounded md5 sample of the unit corpus,
    * sized as the index sizes it, and the index's iteration counts. */
  private def indexParity(name: String, unit: DataFrame, m: Int,
      k: Int): Unit = {
    val sample = Similarity.trainingSample(unit,
      Similarity.defaultSampleN(m, k))
    parity(name, unit, sample, m, k, if (m == 1) 3 else 6)
  }

  /** `nClusters` gaussian centers in `dim` dims, `n` jittered vectors
    * dealt round-robin over them. */
  private def clustered(n: Int, nClusters: Int, dim: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    (0 until n).map { i =>
      (i.toLong, centers(i % nClusters).map(x =>
        (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("the SimilaritySpec 101-vector fixture: bit-identical centroids, identical codes") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat())
    val base = (0L until 100L).map(i => (i, vec()))
    val emb = (base :+ ((999L, base(5)._2.clone())))
      .toDF("vec_id", "embedding")
    parity("fixture", emb, emb, 8, 16, 3)
  }

  test("the sf0.01 embeddings at the codebook and at 8 and 150 cells") {
    val unit = Similarity.l2Normalized(
      Tables.embeddings(spark, "/root/testdata/sf0.01")).localCheckpoint()
    indexParity("sf0.01", unit, 8, 16)
    indexParity("sf0.01", unit, 1, 8)
    indexParity("sf0.01", unit, 1, 150)
  }

  test("2,000 clustered 64-d unit vectors at the codebook and at 8 cells") {
    val unit = Similarity.l2Normalized(clustered(2000, 16, 64, 5))
      .localCheckpoint()
    indexParity("clustered 2k", unit, 8, 16)
    indexParity("clustered 2k", unit, 1, 8)
  }

  test("a 40,000-vector corpus: bounded samples at (m=4, k=8) and at 150 cells") {
    val unit = Similarity.l2Normalized(clustered(40000, 200, 64, 9))
      .localCheckpoint()
    indexParity("corpus 40k", unit, 4, 8)
    indexParity("corpus 40k", unit, 1, 150)
  }

  test("edge cases: fewer rows than k, a cell that empties, exact distance ties") {
    import spark.implicits._
    def frame(rows: (Long, Seq[Double])*): DataFrame =
      rows.toDF("vec_id", "embedding")
    // 5 rows, k = 16: five centroids per subspace, cids 0..4
    val few = frame((10L, Seq(1.0, 2.0, 3.0, 4.0)),
      (11L, Seq(0.5, 0.5, 0.5, 0.5)), (12L, Seq(4.0, 3.0, 2.0, 1.0)),
      (13L, Seq(1.0, 1.0, 1.0, 1.0)), (14L, Seq(0.0, 2.0, 0.0, 2.0)))
    val f = parity("few rows", few, few, 2, 16, 3)
    assert(f.map(t => (t._1, t._2)).toSet ==
      (for (s0 <- 0 until 2; c <- 0 until 5) yield (s0, c)).toSet)
    // ids 0 and 1 share a vector, so cids 0 and 1 start equal: every
    // tie goes to cid 0 and cid 1 empties after one iteration, keeping
    // its start; (1, 0) is equidistant (exactly 1.0) from (0, 0) and
    // (2, 0), and (0, 1) from the two equal centroids
    val ties = frame((0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 0.0)),
      (2L, Seq(2.0, 0.0)), (3L, Seq(1.0, 0.0)), (4L, Seq(0.0, 1.0)),
      (5L, Seq(2.0, 2.0)))
    val one = parity("ties, 1 iteration", ties, ties, 1, 3, 1)
    val byCid = one.map(t => t._2 -> t._3).toMap
    assert(byCid(1) == Seq(0.0, 0.0), "the emptied cell moved")
    // cid 0 took ids 0, 1, 3 (tie), 4 (tie); cid 2 took ids 2 and 5
    assert(byCid(0) == Seq(0.25, 0.25) && byCid(2) == Seq(2.0, 1.0),
      one.toSeq.toString)
    parity("ties, 3 iterations", ties, ties, 1, 3, 3)
    parity("ties, 2 subspaces", ties, ties, 2, 3, 3)
  }

  test("a repeated vec_id in the sample refuses loudly") {
    import spark.implicits._
    val dup = Seq((1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 0.0)),
      (1L, Seq(1.0, 1.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.pqTrain(dup, m = 1, k = 2))
    assert(e.getMessage.contains("vec_id 1 repeats"), e.getMessage)
  }
}
