package graft

import graft.operators.Bpe.{applyMerge, symbols, wordFreqs, wrapWord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The original one-Spark-round-per-merge BPE trainer — the parity
  * oracle ONLY: BpeSpec asserts `Bpe.train` (the in-memory merge loop)
  * produces the identical merge sequence. */
object BpeDistributed {
  /** Adjacent symbol pairs of each word, weighted by the word's
    * frequency — the per-round statistic of the distributed lane. */
  private def pairCounts(words: DataFrame): DataFrame = {
    val sym = symbols(col("w"))
    words
      .select(col("n"), explode(arrays_zip(
        slice(sym, lit(1), size(sym) - 1),
        slice(sym, lit(2), size(sym) - 1))).as("p"))
      .select(col("p.0").as("a"), col("p.1").as("b"), col("n"))
      .groupBy("a", "b").agg(sum("n").as("c"))
  }

  /** Per round, count adjacent pairs over the re-checkpointed bounded
    * word table, pick the most frequent (c DESC, a ASC, b ASC), fold
    * it into every word, repeat. Not a production path — a 32k-merge
    * vocabulary would be ~64k Spark jobs for driver-memory-sized work. */
  def trainDistributed(docs: DataFrame, nMerges: Int,
      maxWords: Int = 100000): Seq[(String, String)] = {
    var words = wordFreqs(docs, maxWords)
      .select(wrapWord(col("word")).as("w"), col("n"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      val best = pairCounts(words)
        .orderBy(col("c").desc, col("a"), col("b")).limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        val prev = words
        words = words.select(applyMerge(col("w"), a, b).as("w"), col("n"))
          .localCheckpoint()
        prev.unpersist()
      }
      i += 1
    }
    merges.result()
  }
}
