package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The original Lloyd trainer written as one DataFrame plan — the parity
  * oracle ONLY: PqTrainParitySpec asserts `Similarity.pqTrain` (the
  * driver-side Lloyd over the collected sample) yields bit-identical
  * centroids. Subvectors explode once, assignment is a
  * broadcast-centroid argmin (min over a (distance, cid) struct), and
  * the re-estimation is a positional mean; the fold re-embeds every
  * earlier iteration, so the plan doubles per iteration. Returns
  * (sub, cid, c: array<double>). */
object PqTrainSpark {
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  def pqTrain(emb: DataFrame, m: Int = 8, k: Int = 16,
      iters: Int = 3): DataFrame = {
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val subs = emb.select(col("vec_id"),
      explode(array((0 until m).map(s0 => struct(lit(s0).as("sub"),
        transform(slice(col("embedding"), s0 * dsub + 1, dsub),
          _.cast("double")).as("v"))): _*)).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.v").as("v"))
      .localCheckpoint() // reused iters+2 times: pin, don't re-explode
    // init = the k smallest vec_ids PRESENT (collected — k rows, the
    // codebook bound): the input may be a trainingSample whose ids are
    // arbitrary, so "vec_id < k" would under-fill the codebook
    val initIds = emb.select(col("vec_id")).orderBy(col("vec_id")).limit(k)
      .collect().map(_.getLong(0))
    val cidOf = map(initIds.zipWithIndex.flatMap { case (id, i) =>
      Seq(lit(id), lit(i)) }.toSeq: _*)
    val init = subs.filter(col("vec_id").isin(initIds.toSeq: _*))
      .select(col("sub"), element_at(cidOf, col("vec_id")).as("cid"),
        col("v").as("c"))
    (1 to iters).foldLeft(init) { (cents, _) =>
      val assigned = subs.join(broadcast(cents), Seq("sub"))
        .groupBy("sub", "vec_id")
        .agg(min(struct(l2sq(col("v"), col("c")).as("d2"),
          col("cid"))).getField("cid").as("cid"))
      val members = subs.join(assigned, Seq("sub", "vec_id"))
        .select(col("sub"), col("cid"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy("sub", "cid", "p").agg(avg("x").as("mx"))
        .groupBy("sub", "cid")
        .agg(transform(array_sort(collect_list(struct(col("p"), col("mx")))),
          _.getField("mx")).as("cNew"))
      cents.join(members, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("cNew"), col("c")).as("c"))
    }
  }
}
