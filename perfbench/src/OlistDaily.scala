package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.olist.{IncrementalLoad, Reports, Warehouse}

/** `olist_daily`: one op is a daily cycle against a warehouse built once
  * (timed) from the source files: the day's delta load, then a report
  * round.
  *
  * Before op i the benchmark lands day d = i + 1's orders and on-time
  * items, and day d-1's late items, in the source files. The op loads day
  * d with `IncrementalLoad.run`, re-delivers day d-1 with
  * `IncrementalLoad.runUpsert`, then answers the paper's three questions
  * about 2018 from the OLTP source tables and from the star, plus the
  * stats-pruned star unit report: 7 `Reports.*` calls, each collected.
  * The OLTP side reads the source files as the build saw them, so every
  * op's report round reads the same files; the 2018 answers do not depend
  * on the landed days. Day 0 is loaded before the loop, so every op does
  * the same steps. */
object OlistDaily {

  val year = 2018
  val warmups = 1

  val starTables = Seq("time_period", "product", "location", "origin",
    "lead_type", "business_type", "orders_fact", "conversions_fact")

  /** The seven reports of a round, in order: (name, build the frame). */
  private def round(wh: Warehouse, src: Map[String, DataFrame]): Seq[(String, () => DataFrame)] = Seq(
    "units_oltp" -> (() => Reports.topSellersByUnitsOltp(src("orders"),
      src("order_items"), src("products"), src("category"), src("sellers"), year)),
    "units_dw" -> (() => Reports.topSellersByUnitsDw(wh.table("orders_fact"),
      wh.table("time_period"), src("sellers"), year)),
    "units_dw_pruned" -> (() => Reports.topSellersByUnitsDwPruned(wh, src("sellers"), year)),
    "revenue_oltp" -> (() => Reports.topSellersByRevenueOltp(src("orders"),
      src("order_items"), src("sellers"), year)),
    "revenue_dw" -> (() => Reports.topSellersByRevenueDw(wh.table("orders_fact"),
      wh.table("time_period"), src("sellers"), year)),
    "conv_oltp" -> (() => Reports.fastestConversionsOltp(src("leads"),
      src("closed_deals"), src("sellers"), src("order_items"))),
    "conv_dw" -> (() => Reports.fastestConversionsDw(wh.table("conversions_fact"),
      wh.table("origin"), wh.table("time_period"))))

  /** The Warehouse.table and scan calls one round makes, in order. */
  private def snapshotCalls(wh: Warehouse): Seq[() => DataFrame] = Seq(
    () => wh.table("orders_fact"), () => wh.table("time_period"),
    () => wh.scan("orders_fact", Reports.yearRange(year)), () => wh.table("time_period"),
    () => wh.table("orders_fact"), () => wh.table("time_period"),
    () => wh.table("conversions_fact"), () => wh.table("origin"),
    () => wh.table("time_period"))

  def run(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]): Map[String, Any] = {
    val srcDir = a.input.resolve("src")
    val built = OlistData.read(spark, srcDir)
    val readyS = Main.sinceJvmStart()
    val whDir = a.work.resolve("wh").toString
    val wh = new Warehouse(spark, whDir)
    val (_, buildMs) = Main.timedMs(wh.build(built))
    val buildLayers = tracer match {
      case None => Map.empty[String, Any]
      case Some(t) =>
        // per table, its write commands; the rest of the build's wall time
        val byTable = t.writeMsByTable(whDir)
        starTables.map(n => s"build.${n}_ms" -> byTable.getOrElse(n, 0.0)).toMap +
          ("build.driver_ms" -> (buildMs - starTables.flatMap(byTable.get).sum))
    }
    Main.log("build done")

    /** Day `d` after the cutoff (day 0 is 2019-01-01). */
    def day(d: Int): String = java.time.LocalDate.parse("2019-01-01").plusDays(d.toLong).toString
    var src = built
    def land(d: Int): Unit = {
      OlistData.land(a.input, d)
      src = OlistData.read(spark, srcDir)
    }
    land(0)
    IncrementalLoad.run(wh, src, day(0), day(1)).count()
    val before = untouchedFiles(wh)

    val names = round(wh, built).map(_._1)
    val answers = Seq.newBuilder[(Int, Seq[Seq[Seq[Any]]])]
    val reportMs = names.map(_ -> Seq.newBuilder[Double]).toMap
    val constructMs = Seq.newBuilder[Double]
    val appendMs = Seq.newBuilder[Double]
    val upsertMs = Seq.newBuilder[Double]
    val snapshotMs = Seq.newBuilder[Double]
    var rows = 0L
    var lastDay = 0
    val st = Main.closedLoop(a.seconds, warmups, between = i => land(i + 1)) { i =>
      val d = i + 1
      val (appended, appendT) = Main.timedMs(
        IncrementalLoad.run(wh, src, day(d), day(d + 1)).count())
      val (upserted, upsertT) = Main.timedMs(
        IncrementalLoad.runUpsert(wh, src, day(d - 1), day(d)).count())
      lastDay = d
      // the round's table resolutions: the first after the commits
      // misses the snapshot cache, the rest hit
      val (_, snap) = Main.timedMs(snapshotCalls(wh).foreach(_()))
      val got = round(wh, built).map { case (name, build) =>
        val t0 = System.nanoTime()
        val df = build()
        val t1 = System.nanoTime()
        val out = df.collect().toSeq.map(_.toSeq)
        val t2 = System.nanoTime()
        if (i >= warmups) {
          constructMs += (t1 - t0) / 1e6
          reportMs(name) += (t2 - t0) / 1e6
        }
        out
      }
      if (i >= warmups) {
        appendMs += appendT
        upsertMs += upsertT
        snapshotMs += snap
        rows += appended + upserted
        answers += (i -> got)
      }
    }
    val heap = Main.heapLiveMb()
    val bytesPerRow = Main.storedBytesPerRow(wh, starTables)
    val factFiles = wh.scanFileCounts("orders_fact", Nil)._2
    val factVersions = wh.tableVersions("orders_fact").size
    val (filesRead, filesTotal) =
      wh.scanFileCounts("orders_fact", Seq(Reports.yearRange(year)))

    // the checks' inputs, taken after the loop
    val rerunRows = IncrementalLoad.run(wh, src, day(lastDay), day(lastDay + 1)).count()
    val after = untouchedFiles(wh)
    val factDir = a.work.resolve("check_fact")
    loadedFact(wh).coalesce(1).write.parquet(factDir.toString)

    val med = reportMs.map { case (k, b) => k -> Main.median(b.result()) }
    def shape(s: String) = Seq("units", "revenue", "conv").map(q => med(s"${q}_$s")).sum
    val layers = Main.commonLayers(st, tracer) ++ buildLayers ++
      med.map { case (k, v) => s"reports.${k}_ms" -> v } ++ Map(
        "reports.construct_ms" -> constructMs.result().sum / st.ops,
        "reports.star_speedup" -> shape("oltp") / shape("dw"),
        "warehouse.files_read_share" -> filesRead.toDouble / filesTotal,
        "warehouse.snapshot_ms_per_op" -> Main.median(snapshotMs.result()),
        "warehouse.fact_files_end" -> factFiles,
        "warehouse.fact_versions_end" -> factVersions,
        "incremental.append_ms" -> Main.median(appendMs.result()),
        "incremental.upsert_ms" -> Main.median(upsertMs.result()),
        "incremental.rows_per_op" -> rows.toDouble / st.ops)
    Main.result(st, warmups,
      Main.endToEnd(readyS, buildMs / 1e3, st, heap, bytesPerRow), layers,
      Map("year" -> year, "reports" -> names, "rounds" -> answers.result(),
        "fact_dir" -> factDir.toString,
        "first_day" -> day(0), "last_day" -> lastDay, "rerun_rows" -> rerunRows,
        "untouched_before" -> before, "untouched_after" -> after))
  }

  /** SHA-256 of every file of the fact's current snapshot outside the
    * 2019 partition, the one partition the upserts rewrite. */
  private def untouchedFiles(wh: Warehouse): Map[String, String] =
    wh.table("orders_fact").inputFiles.toSeq
      .map(f => Paths.get(new java.net.URI(f)))
      .filterNot(_.toString.contains("/year=2019/"))
      .map(p => p.toString -> Main.sha256(p)).toMap

  /** The fact's loaded days with natural keys in place of surrogate keys. */
  private def loadedFact(wh: Warehouse): DataFrame =
    wh.table("orders_fact").filter(col("year") === 2019)
      .join(wh.table("product"), "product_key")
      .join(wh.table("location"), "location_key")
      .select("date_key", "seller_id", "product", "zip", "city", "state",
        "sales_total", "units_sold")
}
