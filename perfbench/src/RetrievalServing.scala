package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.olist.Warehouse

/** `retrieval_serving`: one op is a serving round of two BM25 SQL
  * statements for one query of the seed's pool, the plain search and the
  * same search filtered to one language, each parsed and collected. The
  * corpus and the query pool (`src/documents`, `queries.txt`) come from
  * `inputs.py`; saving the corpus as a warehouse table is part of set-up,
  * and the build is `CREATE SEARCH INDEX`. */
object RetrievalServing {

  val warmups = 1
  val lanes = Seq("bm25", "bm25_filtered")

  def statements(text: String): Seq[String] = Seq(
    s"SEARCH INDEX ti FOR '$text' TOP 10",
    s"SEARCH INDEX ti ON docs FOR '$text' TOP 10 WHERE lang = 'en'")

  def run(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]): Map[String, Any] = {
    val queries = Files.readAllLines(a.input.resolve("queries.txt")).asScala.toSeq
    val wh = new Warehouse(spark, a.work.resolve("wh").toString).enableSql()
    wh.save("docs", spark.read.parquet(a.input.resolve("src/documents").toString))
    val readyS = Main.sinceJvmStart()
    val (_, buildMs) = Main.timedMs(spark.sql("CREATE SEARCH INDEX ti ON docs").collect())
    Main.log("build done")

    val parseMs = Seq.newBuilder[Double]
    val collectMs = Seq.newBuilder[Double]
    val laneMs = lanes.map(_ -> Seq.newBuilder[Double]).toMap
    val answers = Seq.newBuilder[(Int, Seq[Seq[Seq[Any]]])]
    val st = Main.closedLoop(a.seconds, warmups) { i =>
      val got = lanes.zip(statements(queries(i % queries.size))).map { case (lane, sql) =>
        val t0 = System.nanoTime()
        val df = spark.sql(sql)
        val t1 = System.nanoTime()
        val rows = df.collect().toSeq.map(_.toSeq)
        val t2 = System.nanoTime()
        if (i >= warmups) {
          parseMs += (t1 - t0) / 1e6
          collectMs += (t2 - t1) / 1e6
          laneMs(lane) += (t2 - t0) / 1e6
        }
        rows
      }
      if (i >= warmups) answers += (i -> got)
    }
    val heap = Main.heapLiveMb()
    val bytesPerRow = Main.storedBytesPerRow(wh, Seq("ti_postings", "ti_df", "ti_stats"))

    val n = st.ops.toDouble
    val layers = Main.commonLayers(st, tracer) ++
      laneMs.map { case (k, b) => s"serve.${k}_ms" -> Main.median(b.result()) } ++ Map(
        "serve.parse_ms" -> parseMs.result().sum / n,
        "serve.collect_ms" -> collectMs.result().sum / n,
        "index.build_text_ms" -> buildMs)
    Main.result(st, warmups,
      Main.endToEnd(readyS, buildMs / 1e3, st, heap, bytesPerRow), layers,
      Map("lanes" -> lanes, "rounds" -> answers.result()))
  }
}
