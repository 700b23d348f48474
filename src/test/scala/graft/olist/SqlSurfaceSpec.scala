package graft.olist

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL maintenance surface (GraftSqlParser via GraftExtensions):
  * DELETE/UPDATE/VACUUM/OPTIMIZE/DESCRIBE HISTORY/CLONE statements
  * execute through the bound warehouse; everything else still parses
  * with Spark's own grammar.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("DELETE / UPDATE / DESCRIBE HISTORY / CLONE / OPTIMIZE / VACUUM as SQL") {
    import spark.implicits._
    val dir = tmp("wh_sql")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("t", spark.range(100).select(col("id").as("k"),
      (col("id") % 10).as("v")).coalesce(2))

    // DELETE: file surgery, result row reports the counts
    val del = spark.sql("DELETE FROM t WHERE k >= 90").collect()(0)
    assert(del.getAs[Long]("rows_deleted") == 10)
    assert(wh.table("t").count() == 90)

    // UPDATE with a multi-assignment SET (comma inside a function call
    // must not split) and SQL pre-image semantics
    val upd = spark.sql(
      "UPDATE t SET v = v + 100, k = greatest(k, v) WHERE k < 3").collect()(0)
    assert(upd.getAs[Long]("rows_updated") == 3)
    assert(wh.table("t").filter(col("v") >= 100L).count() == 3)

    // DESCRIBE HISTORY reads the audit trail, row counts included
    val hist = spark.sql("DESCRIBE HISTORY t")
      .select("operation").as[String].collect().toSeq
    assert(hist == Seq("save", "delete", "update"), hist.toString)
    val histRows = spark.sql("DESCRIBE HISTORY t")
      .select("rows").as[Long].collect().toSeq
    assert(histRows == Seq(100L, 90L, 90L), histRows.toString)

    // CLONE .. AS .. VERSION: zero-copy historical fork
    spark.sql("CLONE t AS t_v1 VERSION 1")
    assert(wh.table("t_v1").count() == 100)

    // OPTIMIZE compacts; VACUUM RETAIN sweeps old versions
    spark.sql("OPTIMIZE t")
    assert(wh.history("t").last.op == "compact")
    spark.sql("VACUUM t RETAIN 1 VERSIONS")
    assert(wh.tableVersions("t").size == 1)
    // the clone still reads its pinned snapshot after the source vacuum
    assert(wh.table("t_v1").count() == 100)

    // EXPLAIN must not execute the side effect
    val before = wh.table("t").count()
    spark.sql("EXPLAIN DELETE FROM t WHERE k < 50").collect()
    // (Spark EXPLAIN of a v1 command prints the plan without running it)
    assert(wh.table("t").count() == before)
  }

  test("SELECT ... VERSION AS OF reads a historical snapshot via SQL") {
    val dir = tmp("wh_sqltt")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("tt", spark.range(100).toDF("k").coalesce(2)) // v1
    wh.delete("tt", col("k") >= 90)                       // v2
    assert(spark.sql("SELECT count(*) AS c FROM tt VERSION AS OF 1")
      .collect()(0).getLong(0) == 100)
    assert(spark.sql("SELECT count(*) AS c FROM tt VERSION AS OF 2")
      .collect()(0).getLong(0) == 90)
    assert(wh.table("tt").count() == 90)
    // two versions of the same table in ONE statement (snapshot diff)
    val gone = spark.sql(
      """SELECT a.k FROM tt VERSION AS OF 1 a
        |LEFT ANTI JOIN tt VERSION AS OF 2 b ON a.k = b.k""".stripMargin)
    assert(gone.count() == 10)
    // EXPLAIN of a time-travel read is side-effect-free
    val before = wh.tableVersions("tt")
    spark.sql("EXPLAIN SELECT * FROM tt VERSION AS OF 1").collect()
    assert(wh.tableVersions("tt") == before)
    // unknown version fails loudly
    val e = intercept[IllegalArgumentException](
      spark.sql("SELECT * FROM tt VERSION AS OF 99"))
    assert(e.getMessage.contains("no committed version"))
    // TIMESTAMP AS OF: v1's commit instant resolves to v1; now → head
    val t1 = java.time.Instant.parse(
      wh.history("tt").head.committedAt)
    assert(spark.sql(
      s"SELECT count(*) AS c FROM tt TIMESTAMP AS OF '$t1'")
      .collect()(0).getLong(0) == 100)
    assert(spark.sql(
      s"SELECT count(*) AS c FROM tt TIMESTAMP AS OF '${java.time.Instant.now}'")
      .collect()(0).getLong(0) == 90)
    // a timestamp before the first commit refuses
    val e2 = intercept[IllegalArgumentException](
      spark.sql("SELECT * FROM tt TIMESTAMP AS OF '2000-01-01'"))
    assert(e2.getMessage.contains("at or before"))
  }

  test("INSERT INTO ... VALUES / SELECT appends through the warehouse") {
    import spark.implicits._
    val dir = tmp("wh_sqlins")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("ti", Seq((1L, "a")).toDF("k", "v"))
    // VALUES: positional, cast to the declared column types
    val r = spark.sql("INSERT INTO ti VALUES (2, 'b'), (3, 'c')").collect()(0)
    assert(r.getAs[Long]("rows_inserted") == 2L)
    // INSERT ... SELECT from another bound table's view
    wh.save("src2", Seq((10L, "x")).toDF("a", "b"))
    spark.sql("INSERT INTO ti SELECT a, b FROM dw_src2")
    assert(wh.table("ti").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (10L, "x")))
    // column-count mismatch refuses loudly
    val e = intercept[Exception](
      spark.sql("INSERT INTO ti VALUES (9)").collect())
    assert(e.getMessage.contains("column"), e.getMessage)
    // EXPLAIN of an INSERT inserts nothing
    val before = wh.table("ti").count()
    spark.sql("EXPLAIN INSERT INTO ti VALUES (99, 'z')").collect()
    assert(wh.table("ti").count() == before)
    // unbound tables keep Spark's own INSERT path (catalog table)
    spark.sql("CREATE TABLE IF NOT EXISTS plain_ins(k INT) USING parquet")
    spark.sql("INSERT INTO plain_ins VALUES (5)")
    assert(spark.table("plain_ins").count() >= 1)
    spark.sql("DROP TABLE plain_ins")
  }

  test("CREATE TABLE AS SELECT runs the reference's batch shape in pure SQL") {
    import spark.implicits._
    val dir = tmp("wh_ctas")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("raw", Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "grp", "amt"))
    // CTAS — the T-SQL `SELECT … INTO` / CREATE TABLE batch step
    val r = spark.sql(
      "CREATE TABLE staged AS SELECT id, grp, amt FROM dw_raw WHERE amt > 10")
      .collect()(0)
    assert(r.getAs[String]("status") == "OK")
    assert(r.getAs[Long]("rows_written") == 2L)
    assert(wh.hasTable("staged"))
    // the new table is immediately queryable and maintainable via SQL
    spark.sql("INSERT INTO staged VALUES (4, 'c', 40.0)")
    spark.sql("UPDATE staged SET amt = amt + 1 WHERE grp = 'c'")
    spark.sql("DELETE FROM staged WHERE id = 2")
    assert(spark.sql("SELECT id, amt FROM dw_staged ORDER BY id")
      .as[(Long, Double)].collect().toSeq == Seq((3L, 30.0), (4L, 41.0)))
    // plain CREATE refuses on an existing table; OR REPLACE overwrites
    val e = intercept[Exception](
      spark.sql("CREATE TABLE staged AS SELECT 1 AS one").collect())
    assert(e.getMessage.contains("exists"), e.getMessage)
    spark.sql(
      "CREATE OR REPLACE TABLE staged AS SELECT id FROM dw_raw")
    assert(wh.table("staged").columns.toSeq == Seq("id"))
    // EXPLAIN of a CTAS creates nothing
    spark.sql("EXPLAIN CREATE TABLE ctas_phantom AS SELECT 1 AS one").collect()
    assert(!wh.hasTable("ctas_phantom"))
    // PARTITIONED BY / CLUSTER BY ride the CTAS into the layout
    spark.sql("CREATE TABLE bygrp PARTITIONED BY (grp) CLUSTER BY (amt) " +
      "AS SELECT grp, amt FROM dw_raw")
    assert(new java.io.File(s"$dir/bygrp").listFiles()
      .exists(f => f.getName.startsWith("grp=")))
    // `USING <format>` CTAS keeps Spark's own catalog path
    spark.sql("CREATE TABLE plain_ctas USING parquet AS SELECT 5 AS k")
    assert(!wh.hasTable("plain_ctas") &&
      spark.table("plain_ctas").count() == 1)
    spark.sql("DROP TABLE plain_ctas")
    // IF NOT EXISTS: no-op on an existing table, creates otherwise
    val skip = spark.sql(
      "CREATE TABLE IF NOT EXISTS staged AS SELECT 1 AS one").collect()(0)
    assert(skip.getAs[String]("status") == "SKIPPED")
    assert(wh.table("staged").columns.toSeq == Seq("id"))
    spark.sql("CREATE TABLE IF NOT EXISTS fresh AS SELECT 1 AS one")
    assert(wh.hasTable("fresh"))
    // DROP TABLE IF EXISTS: drops a bound table, silent when unbound
    spark.sql("DROP TABLE IF EXISTS fresh")
    assert(!wh.hasTable("fresh"))
    spark.sql("DROP TABLE IF EXISTS never_was")
  }

  test("OPTIMIZE ... ZORDER/CLUSTER BY reclusters via SQL") {
    val dir = tmp("wh_ozb")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("t", spark.range(100).select(col("id").as("a"),
      (col("id") * 7 % 13).as("b")))
    spark.sql("OPTIMIZE t ZORDER BY (a, b)")
    val detail = wh.describeDetail("t").toMap
    assert(detail("clusterKind") == "zorder", detail.toString)
    assert(detail("clusterColumns") == "a,b", detail.toString)
    assert(wh.table("t").count() == 100)
    spark.sql("OPTIMIZE t CLUSTER BY (a)")
    assert(wh.describeDetail("t").toMap.apply("clusterKind") == "linear")
    // one-column ZORDER refuses (linear clustering covers it)
    val e = intercept[Exception](
      spark.sql("OPTIMIZE t ZORDER BY (a)").collect())
    assert(e.getMessage.contains("zorder"), e.getMessage)
  }

  test("REFRESH TABLE picks up another instance's commits") {
    import spark.implicits._
    val dir = tmp("wh_refresh")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("t", Seq((1L, "a")).toDF("k", "v"))
    // a SECOND warehouse instance over the same path commits an append;
    // this instance's dw_t view predates that commit
    val other = new Warehouse(spark, dir)
    other.append("t", Seq((2L, "b")).toDF("k", "v"))
    // other's commitManifest refreshed the (shared-session) view, so
    // re-pin it to the FIRST instance's snapshot to model two sessions
    wh.table("t").limit(1).createOrReplaceTempView("dw_t")
    val refreshed = spark.sql("REFRESH TABLE t").collect()(0)
    assert(refreshed.getAs[String]("status") == "OK")
    assert(spark.sql("SELECT k FROM dw_t ORDER BY k").as[Long]
      .collect().toSeq == Seq(1L, 2L))
  }

  test("vacuumPreview lists exactly what vacuum then deletes") {
    val dir = tmp("wh_vprev")
    val wh = new Warehouse(spark, dir)
    wh.save("t", spark.range(100).toDF("k").coalesce(2))  // v1: 2 files
    wh.save("t", spark.range(50).toDF("k").coalesce(1))   // v2: replace
    val preview = wh.vacuumPreview("t", graceMs = 0L, keepVersions = 1)
    // v1's two data files + v1's log record are doomed
    assert(preview.count(_.endsWith(".parquet")) == 2, preview.toString)
    assert(preview.exists(_.contains("v1.manifest")), preview.toString)
    // preview is read-only: everything still present, v1 still readable
    assert(wh.tableAt("t", 1).count() == 100)
    // the real vacuum deletes exactly the previewed data files
    wh.vacuum("t", 0L, 1)
    val root = new java.io.File(s"$dir/t")
    val left = Option(root.listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).toSet
    preview.filter(_.endsWith(".parquet")).foreach(p =>
      assert(!left.contains(p), s"$p survived vacuum"))
    assert(wh.table("t").count() == 50)
  }

  test("MERGE INTO ... UPDATE SET * / INSERT * upserts through the warehouse") {
    import spark.implicits._
    val dir = tmp("wh_sqlmerge")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("m", Seq((1L, "a", 2020), (2L, "b", 2020)).toDF("k", "v", "year")
      .coalesce(1), partitionBy = Seq("year"))
    Seq((2L, "B2", 2021), (9L, "new", 2021)).toDF("k", "v", "year")
      .createOrReplaceTempView("delta_src")
    spark.sql("""MERGE INTO m USING delta_src ON m.k = delta_src.k
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""").collect()
    val rows = wh.table("m").select("k", "v", "year")
      .as[(Long, String, Int)].collect().toSet
    assert(rows == Set((1L, "a", 2020), (2L, "B2", 2021), (9L, "new", 2021)))
    assert(wh.history("m").last.op == "merge")
    // a non-canonical ON clause is refused loudly, not mis-applied
    intercept[Exception] {
      spark.sql("""MERGE INTO m USING delta_src ON m.k = delta_src.year
                   WHEN MATCHED THEN UPDATE SET *
                   WHEN NOT MATCHED THEN INSERT *""").collect()
    }
  }

  test("DESCRIBE DETAIL and RESTORE TABLE round out the surface") {
    import spark.implicits._
    val dir = tmp("wh_sqldetail")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1),
      clusterBy = Seq("k"))                                            // v1
    wh.addCheck("t", "k_pos", "k > 0", onViolation = "drop")           // v2
    wh.append("t", Seq((3L, "c")).toDF("k", "v").coalesce(1))          // v3
    val detail = spark.sql("DESCRIBE DETAIL t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(detail("version") == "3")
    assert(detail("numRows") == "3") // from the manifest, no scan
    assert(detail("clusterColumns") == "k")
    assert(detail("checks").contains("k_pos:drop"))
    assert(detail("lastOperation") == "append")
    spark.sql("RESTORE TABLE t TO VERSION 1").collect()
    assert(wh.table("t").count() == 2)
    assert(wh.history("t").last.op == "restore")
  }

  test("ANALYZE TABLE FOR COLUMNS declares stats columns; unbound tables delegate") {
    import spark.implicits._
    val dir = tmp("wh_sqlanalyze")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("fct", (1L to 200L).map(i => (i, i % 7, s"v$i"))
      .toDF("k", "fk", "v").coalesce(2), clusterBy = Seq("k"))
    // fk is neither cluster nor bloom: stats-blind until declared
    assert(wh.describeDetail("fct").toMap.apply("statsColumns") == "")
    val st = spark.sql(
      "ANALYZE TABLE fct COMPUTE STATISTICS FOR COLUMNS fk, v").collect()
    assert(st.map(_.getString(0)).toSeq == Seq("OK"))
    val detail = wh.describeDetail("fct").toMap
    assert(detail("statsColumns") == "fk,v")
    assert(wh.history("fct").last.op == "statsby")
    // an UNBOUND table keeps Spark's own ANALYZE path (here: its
    // unresolved-table error, not our statsBy require)
    val ex = intercept[Exception] {
      spark.sql(
        "ANALYZE TABLE no_such_tbl COMPUTE STATISTICS FOR COLUMNS x")
        .collect()
    }
    assert(!ex.getMessage.contains("statsBy"), ex.getMessage)
  }

  test("unbound tables and ordinary SQL delegate to Spark untouched") {
    import spark.implicits._
    val dir = tmp("wh_sql2")
    new Warehouse(spark, dir).enableSql()
    // plain queries still parse and run through Spark's grammar
    assert(spark.sql("SELECT 1 + 1 AS two").as[Int].collect()(0) == 2)
    // DELETE on a table the warehouse does not hold falls through to
    // Spark, which rejects it for non-v2 relations — proving we
    // delegated instead of hijacking
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("plain_view")
    intercept[Exception] {
      spark.sql("DELETE FROM plain_view WHERE k = 1").collect()
    }
  }

  test("time-travel syntax inside string literals and comments is data, not syntax") {
    import spark.implicits._
    val dir = tmp("wh_sqlttlit")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("ttl", spark.range(10).toDF("k").coalesce(1)) // v1
    wh.delete("ttl", col("k") >= 5)                       // v2
    // the literal must survive byte-identical — a naive regex rewrite
    // would corrupt it into a temp-view name
    val lit = spark.sql("SELECT 'ttl VERSION AS OF 1' AS s")
      .as[String].collect()(0)
    assert(lit == "ttl VERSION AS OF 1", lit)
    // and a commented-out AS OF clause is inert while the live one fires
    val mixed = spark.sql(
      """SELECT count(*) AS c -- was: FROM ttl VERSION AS OF 1
        |FROM ttl VERSION AS OF 2""".stripMargin).as[Long].collect()(0)
    assert(mixed == 5, s"comment span leaked into the rewrite: $mixed")
    val block = spark.sql(
      "SELECT count(*) AS c FROM ttl VERSION AS OF 1 /* ttl VERSION AS OF 2 */")
      .as[Long].collect()(0)
    assert(block == 10, s"block-comment span leaked: $block")
  }

  test("INSERT INTO executes a non-deterministic body exactly once") {
    import spark.implicits._
    val dir = tmp("wh_sqlins1x")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("t1x", Seq.empty[(Long, Long)].toDF("k", "v"))
    // rand() makes every execution of the body a different row set: the
    // reported count only equals the landed count if the frame was
    // materialized ONCE for both (10k trials — independent draws
    // collide with probability < 1%)
    val reported = spark.sql(
      "INSERT INTO t1x SELECT id, id FROM range(10000) WHERE rand() < 0.5")
      .collect()(0).getAs[Long]("rows_inserted")
    val landed = wh.table("t1x").count()
    assert(reported == landed,
      s"body ran twice: counted $reported, landed $landed")
    assert(landed > 0)
  }

  test("BEGIN TRANSACTION ... COMMIT / ROLLBACK: cross-table atomicity from SQL") {
    val dir = tmp("wh_sqltxn")
    val wh = new Warehouse(spark, dir).enableSql()
    wh.save("fact", spark.range(2).select(col("id").as("k"),
      (col("id") * 10).as("v")).coalesce(1))
    wh.save("dim", spark.range(2).select(col("id").as("k"),
      concat(lit("n"), col("id")).as("name")).coalesce(1))
    // open, write both sides, check invisibility mid-flight
    assert(spark.sql("BEGIN TRANSACTION ON fact, dim")
      .collect()(0).getString(0) == "OPEN")
    spark.sql("INSERT INTO fact VALUES (2, 20), (3, 30)")
    spark.sql("INSERT INTO dim SELECT 2 AS k, 'n2' AS name")
    // session views refresh only at the outcome: SQL readers still see
    // the pre-transaction snapshot of BOTH tables
    assert(spark.sql("SELECT count(*) FROM dw_fact").head.getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM dw_dim").head.getLong(0) == 2)
    // ...and a separate warehouse instance (fresh caches) sees neither
    val reader = new Warehouse(spark, dir)
    assert(reader.table("fact").count() == 2)
    assert(reader.table("dim").count() == 2)
    assert(spark.sql("COMMIT").collect()(0).getString(0) == "COMMITTED")
    assert(spark.sql("SELECT count(*) FROM dw_fact").head.getLong(0) == 4)
    assert(spark.sql("SELECT count(*) FROM dw_dim").head.getLong(0) == 3)
    assert(reader.table("fact").count() == 4)
    // ROLLBACK: both writes vanish, versions restored
    spark.sql("BEGIN TRAN ON fact, dim")
    spark.sql("DELETE FROM fact WHERE k = 0")
    spark.sql("INSERT INTO dim VALUES (9, 'n9')")
    assert(spark.sql("ROLLBACK").collect()(0).getString(0) == "ROLLED_BACK")
    assert(wh.table("fact").count() == 4)
    assert(wh.table("dim").count() == 3)
    assert(spark.sql("SELECT count(*) FROM dw_dim").head.getLong(0) == 3)
    // COMMIT with no open transaction refuses loudly (and BEGIN's
    // side effect runs at execution: building the plan opened nothing)
    val ex = intercept[Exception] { spark.sql("COMMIT").collect() }
    assert(ex.getMessage.contains("no open transaction"), ex.getMessage)
    // VACUUM TRANSACTIONS reclaims only unreferenced markers (the
    // committed txn's records are current history — marker stays)
    spark.sql("VACUUM TRANSACTIONS").collect()
    assert(new java.io.File(s"$dir/_graft_meta/_txn").list()
      .exists(_.endsWith(".committed")),
      "live marker must survive VACUUM TRANSACTIONS")
  }

  test("OPTIMIZE t SMALL TARGET n MIN m runs the size-tiered compaction") {
    import spark.implicits._
    val dir = tmp("sql_opt_small")
    val wh = new Warehouse(spark, dir)
    wh.enableSql()
    wh.save("t", (0L until 100L).map(i => (i, "x")).toDF("k", "v")
      .coalesce(1))
    (1L to 3L).foreach(i => wh.append("t",
      Seq((1000 + i, s"d$i")).toDF("k", "v")))
    def files(): Set[String] = wh.table("t").select(input_file_name())
      .distinct().collect().map(_.getString(0)).toSet
    val big = files().filter(f => wh.table("t")
      .filter(input_file_name() === f).count() == 100)
    val r = spark.sql("OPTIMIZE t SMALL TARGET 100 MIN 50").collect()
    assert(r.head.getString(0) == "OK" && r.head.getLong(1) == 3L,
      r.mkString(","))
    // debris folded into one file; the big file kept its path
    assert(files().size == 2 && big.subsetOf(files()))
    assert(wh.table("t").count() == 103)
  }

  test("CREATE/REFRESH SEARCH and VECTOR INDEX build and maintain the stored retrieval indexes") {
    import spark.implicits._
    val dir = tmp("sql_idx")
    val wh = new Warehouse(spark, dir)
    wh.enableSql()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    wh.save("docs", docs.filter(col("doc_id") < 300))
    val r = spark.sql("CREATE SEARCH INDEX ti ON docs").collect()
    assert(r.head.getString(0) == "OK" && r.head.getLong(1) == 300L)
    // stored query answers; then REFRESH picks up appended docs only
    val terms = graft.operators.TextAnalysis.bm25Query
    assert(graft.operators.TextIndex.query(wh, "ti", terms, 10).count() == 10)
    wh.append("docs", docs.filter(col("doc_id") >= 300))
    val r2 = spark.sql("REFRESH SEARCH INDEX ti FROM docs").collect()
    assert(r2.head.getLong(1) == docs.count() - 300)
    // exactness against the scan-time form over the full corpus
    val scan = graft.operators.TextAnalysis.bm25TopK(docs, terms, 10)
      .collect().map(r0 => (r0.getLong(0), r0.getDouble(2))).toSeq
    val stored = graft.operators.TextIndex.query(wh, "ti", terms, 10)
      .collect().map(r0 => (r0.getLong(0), r0.getDouble(2))).toSeq
    assert(stored == scan)
    // vector lane: same DDL shape over the embeddings table
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    wh.save("vectors", emb.filter(col("vec_id") < 400))
    val v = spark.sql("CREATE VECTOR INDEX ann ON vectors").collect()
    assert(v.head.getLong(1) == 400L)
    wh.append("vectors", emb.filter(col("vec_id") >= 400))
    val v2 = spark.sql("REFRESH VECTOR INDEX ann FROM vectors").collect()
    assert(v2.head.getLong(1) == 100L)
    assert(graft.operators.AnnIndex
      .query(wh, "ann", emb, queryId = 0L).count() == 10)
    // dedup-gate lane: CREATE builds the band/bucket tables, REFRESH
    // admits (= judges + records) only the not-yet-seen docs
    val g = spark.sql("CREATE DEDUP INDEX di ON docs").collect()
    assert(g.head.getString(0) == "OK" &&
      g.head.getLong(1) == docs.count())
    val g2 = spark.sql("REFRESH DEDUP INDEX di FROM docs").collect()
    assert(g2.head.getLong(1) == 0L, "replayed source must judge 0 fresh docs")
    assert(graft.operators.DedupIndex.verdicts(wh, "di", docs).count()
      == docs.count())
    // decontamination-firewall lane: CREATE digests the suite's grams,
    // REFRESH appends only a NEW benchmark version's unseen digests
    wh.save("bench", docs.filter(col("doc_id") < 10))
    val c = spark.sql("CREATE CONTAM INDEX cg ON bench").collect()
    assert(c.head.getString(0) == "OK" && c.head.getLong(1) > 0L)
    val c2 = spark.sql("REFRESH CONTAM INDEX cg FROM bench").collect()
    assert(c2.head.getLong(1) == 0L, "replayed suite must add 0 grams")
    // the suite's own docs convict against the stored digests
    assert(graft.operators.ContamGate
      .verdicts(wh, "cg", docs.filter(col("doc_id") < 10))
      .filter(col("keep") === 1).count() == 0L)
    // suite-tagged admission + retirement: a second suite arms under
    // its own tag; retiring it disarms ONLY its exclusive digests
    import spark.implicits._
    val v2doc = Seq((9100L,
      "quornic blatherskite vexilla mordune zephyrantha cromlech " +
        "ulotrichous nabirye ostraka gwennol")).toDF("doc_id", "text")
    wh.save("bench2", v2doc)
    val c3 = spark
      .sql("REFRESH CONTAM INDEX cg FROM bench2 SUITE 'v2'").collect()
    assert(c3.head.getLong(1) > 0L)
    assert(graft.operators.ContamGate.verdicts(wh, "cg", v2doc)
      .filter(col("keep") === 1).count() == 0L, "v2 must be armed")
    val c4 = spark
      .sql("ALTER CONTAM INDEX cg RETIRE SUITE 'v2'").collect()
    assert(c4.head.getString(0) == "OK" && c4.head.getLong(1) > 0L)
    assert(graft.operators.ContamGate.verdicts(wh, "cg", v2doc)
      .filter(col("keep") === 0).count() == 0L,
      "a retired suite must stop convicting")
    // the original (default-suite) digests still convict
    assert(graft.operators.ContamGate
      .verdicts(wh, "cg", docs.filter(col("doc_id") < 10))
      .filter(col("keep") === 1).count() == 0L)
    // SUITE on a non-CONTAM kind refuses loudly
    intercept[Exception] {
      spark.sql("CREATE SEARCH INDEX ti2 ON bench SUITE 'x'").collect()
    }
  }

  test("DESCRIBE SEARCH/VECTOR/DEDUP/CONTAM INDEX: manifest-backed inventory, DV-aware after removals") {
    val dir = tmp("sql_descidx")
    val wh = new Warehouse(spark, dir)
    wh.enableSql()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    wh.save("docs", docs)
    wh.save("vectors", emb)
    spark.sql("CREATE SEARCH INDEX ti ON docs").collect()
    spark.sql("CREATE VECTOR INDEX ann ON vectors").collect()
    spark.sql("CREATE DEDUP INDEX di ON docs").collect()
    spark.sql("CREATE CONTAM INDEX cg ON docs").collect()
    def kv(sql: String): Map[String, String] =
      spark.sql(sql).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val ti = kv("DESCRIBE SEARCH INDEX ti")
    assert(ti("docs") == docs.count().toString &&
      ti("tombstones") == "0" && ti("postings_rows").toLong > 0)
    val ann = kv("DESCRIBE VECTOR INDEX ann")
    assert(ann("vectors") == emb.count().toString &&
      ann("n_cells") == "8" && ann("m") == "8" && ann("k") == "16")
    val di = kv("DESCRIBE DEDUP INDEX di")
    assert(di("band_rows").toLong > 0 && di("minhash_k") == "16")
    val cg = kv("DESCRIBE CONTAM INDEX cg")
    assert(cg("gram_rows").toLong > 0 && cg("suites") == "1")
    // removals show up: tombstones count, cardinalities subtract
    // through the deletion vectors — no file rewritten, none opened
    graft.operators.AnnIndex.remove(wh, "ann", Seq(5L, 6L, 7L))
    val ann2 = kv("DESCRIBE VECTOR INDEX ann")
    assert(ann2("tombstones") == "3" &&
      ann2("vectors") == (emb.count() - 3).toString)
  }

  test("CREATE <kind> INDEX WITH (...): build params from SQL, frozen into the index; unknown keys refuse") {
    val dir = tmp("sql_withopts")
    val wh = new Warehouse(spark, dir)
    wh.enableSql()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    wh.save("docs", docs)
    wh.save("vectors", emb)
    def kv(sql: String): Map[String, String] =
      spark.sql(sql).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    spark.sql(
      "CREATE VECTOR INDEX ann4 ON vectors WITH (n_cells = 4, m = 4, k = 8)")
      .collect()
    val ann = kv("DESCRIBE VECTOR INDEX ann4")
    assert(ann("n_cells") == "4" && ann("m") == "4" && ann("k") == "8",
      s"geometry not taken from WITH: $ann")
    spark.sql("CREATE DEDUP INDEX di8 ON docs WITH (k = 8, bands = 2)")
      .collect()
    val di = kv("DESCRIBE DEDUP INDEX di8")
    assert(di("minhash_k") == "8" && di("bands") == "2", s"$di")
    // a typo'd key must refuse loudly, never freeze defaults silently
    intercept[Exception] {
      spark.sql("CREATE VECTOR INDEX bad ON vectors WITH (cells = 4)")
        .collect()
    }
    intercept[Exception] {
      spark.sql("CREATE SEARCH INDEX badt ON docs WITH (n_files = 0)")
        .collect()
    }
    // the frozen-geometry contract holds for SQL-built indexes too:
    // maintenance reads the shape from _meta, never defaults
    assert(graft.operators.AnnIndex.geometry(wh, "ann4") == ((4, 4, 8)))
  }

  test("serving TIMESTAMP AS OF: a past answer replays exactly through SQL; an instant inside a refresh window refuses") {
    val dir = tmp("sql_asof")
    val wh = new Warehouse(spark, dir)
    wh.enableSql()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    wh.save("docs", docs.filter(col("doc_id") < 300))
    wh.save("vectors", emb.filter(col("vec_id") < 300))
    spark.sql("CREATE SEARCH INDEX ti ON docs").collect()
    spark.sql("CREATE VECTOR INDEX ann ON vectors").collect()
    val qS = "SEARCH INDEX ti FOR 'vector stream merge' TOP 10"
    val v = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).first()
      .getSeq[Double](0).mkString(", ")
    val qV = s"VECTOR SEARCH ann ON vectors NEAREST ($v) TOP 5"
    val qH = s"HYBRID SEARCH ann, ti ON vectors FOR 'vector stream' " +
      s"NEAREST ($v) TOP 5"
    val qVF = s"VECTOR SEARCH ann ON vectors NEAREST ($v) TOP 5 " +
      "WHERE label = 3"
    val qI = "VECTOR SEARCH ann ON vectors NEAREST ID 0 TOP 5"
    val pastS = spark.sql(qS).collect().toSeq
    val pastV = spark.sql(qV).collect().toSeq
    val pastH = spark.sql(qH).collect().toSeq
    val pastVF = spark.sql(qVF).collect().toSeq
    val pastI = spark.sql(qI).collect().toSeq
    Thread.sleep(20)
    val t1 = java.time.Instant.now()
    Thread.sleep(20)
    // the corpus grows (new docs AND new vectors), both indexes move
    wh.append("docs", docs.filter(col("doc_id") >= 300))
    wh.append("vectors", emb.filter(col("vec_id") >= 300))
    spark.sql("REFRESH SEARCH INDEX ti FROM docs").collect()
    spark.sql("REFRESH VECTOR INDEX ann FROM vectors").collect()
    assert(spark.sql(qS).collect().toSeq != pastS,
      "fixture: the refresh must change the live search answer")
    // AS OF t1 replays every past answer bit-for-bit
    def asOf(q: String) = spark.sql(s"$q TIMESTAMP AS OF '$t1'")
      .collect().toSeq
    assert(asOf(qS) == pastS, "SEARCH AS OF diverged from the past")
    assert(asOf(qV) == pastV, "VECTOR AS OF diverged from the past")
    assert(asOf(qH) == pastH, "HYBRID AS OF diverged from the past")
    // the FILTERED form replays with the filter's world frozen too,
    // and the stored-row form fetches its query vector from the
    // historical source
    assert(asOf(qVF) == pastVF, "filtered AS OF diverged")
    assert(asOf(qI) == pastI, "NEAREST ID AS OF diverged")
    // an instant inside the index refresh's commit window refuses
    // loudly (whole-transaction verification): pick the FIRST of the
    // SERVING tables' post-refresh commit stamps — the later ones
    // land after it, so a cut there would tear the transaction
    val stamps = Seq("ti_postings", "ti_df", "ti_stats")
      .map(t => java.time.Instant.parse(wh.history(t).last.committedAt))
    if (stamps.distinct.size > 1) {
      val torn = intercept[Exception] {
        spark.sql(s"$qS TIMESTAMP AS OF '${stamps.min}'").collect()
      }
      assert(torn.getMessage.contains("commit window"), torn.getMessage)
    }
  }

  test("OPTIMIZE <kind> INDEX: SQL maintenance — segments fold, debris packs, answers unchanged; CONTAM refuses ON") {
    val dir = tmp("sql_optidx")
    val wh = new Warehouse(spark, dir)
    wh.enableSql()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    wh.save("docs", docs.filter(col("doc_id") < 300))
    wh.save("vectors", emb)
    spark.sql("CREATE SEARCH INDEX ti ON docs").collect()
    spark.sql("CREATE VECTOR INDEX ann ON vectors").collect()
    spark.sql("CREATE DEDUP INDEX di ON docs").collect()
    spark.sql("CREATE CONTAM INDEX cg ON docs").collect()
    // grow every index incrementally so there is debris to fold
    wh.append("docs", docs.filter(col("doc_id") >= 300))
    spark.sql("REFRESH SEARCH INDEX ti FROM docs").collect()
    spark.sql("REFRESH DEDUP INDEX di FROM docs").collect()
    spark.sql("REFRESH CONTAM INDEX cg FROM docs SUITE 'v2'").collect()
    graft.operators.TextIndex.remove(wh, "ti", Seq(3L))
    val q = "SEARCH INDEX ti FOR 'vector stream merge' TOP 10"
    val before = spark.sql(q).collect().toSeq
    assert(before.nonEmpty, "fixture query must match documents")
    def opt(sql: String): Map[String, Long] =
      spark.sql(sql).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ti = opt("OPTIMIZE SEARCH INDEX ti ON docs")
    assert(ti("df_segments_folded") > 0L &&
      ti("postings_files_compacted") > 0L)
    assert(ti("tombstones_dropped") == 0L,
      "docs still carries doc 3 — its guard must survive")
    assert(spark.sql(q).collect().toSeq == before,
      "SQL OPTIMIZE changed search answers")
    val ann = opt("OPTIMIZE VECTOR INDEX ann")
    assert(ann.contains("codes_files_compacted"))
    val di = opt("OPTIMIZE DEDUP INDEX di ON docs")
    assert(di.contains("bucket_segments_folded"))
    val cg = opt("OPTIMIZE CONTAM INDEX cg")
    assert(cg("gram_files_compacted") > 0L,
      "the v2 suite refresh left gram debris to pack")
    intercept[Exception] {
      spark.sql("OPTIMIZE CONTAM INDEX cg ON docs").collect()
    }
    // a STREAM-FED base table refuses as an ON target: once docs has
    // an ingest ledger, its future deliveries — not the table — are
    // the index's refresh source, and a fold against the table would
    // let a replayed delivery resurrect forgotten docs (the
    // Ingest.optimize hazard, one typo away in SQL)
    import spark.implicits._
    wh.save("docs_ingest_log",
      Seq((1L, "ingest", 1L, 0L, 0L, 0L, 1L))
        .toDF("batch_id", "stream_id", "n_in", "quality_drops",
          "contam_drops", "dup_drops", "landed"))
    val fed = intercept[Exception] {
      spark.sql("OPTIMIZE SEARCH INDEX ti ON docs").collect()
    }
    assert(fed.getMessage.contains("stream-fed"), fed.getMessage)
  }

  test("SEARCH / VECTOR SEARCH / HYBRID SEARCH: the literal serving front door from SQL ≡ the API paths") {
    val dir = tmp("sql_serve")
    val wh = new Warehouse(spark, dir)
    wh.enableSql()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    wh.save("docs", docs)
    wh.save("vectors", emb)
    spark.sql("CREATE SEARCH INDEX ti ON docs").collect()
    spark.sql("CREATE VECTOR INDEX ann ON vectors").collect()
    val text = graft.operators.TextAnalysis.bm25Query.mkString(" ")
    // SEARCH INDEX … FOR '<raw text>': tokenizes through the index's
    // analyzer, answers from the stored decomposition — ≡ both API
    // forms: the single-query TextIndex.query over the same terms and
    // the N-query queryTextBatch over the raw text
    def rows3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    def parity(text: String, terms: Seq[String], k: Int) = {
      val got = rows3(spark.sql(s"SEARCH INDEX ti FOR '$text' TOP $k"))
      val single =
        rows3(graft.operators.TextIndex.query(wh, "ti", terms, k))
      val batch = rows3(graft.operators.TextIndex
        .queryTextBatch(wh, "ti", Seq((0L, text)), k).drop("query_id"))
      assert(got == single, s"SQL ≠ query for '$text':\n$got\n$single")
      assert(got == batch,
        s"SQL ≠ queryTextBatch for '$text':\n$got\n$batch")
      got
    }
    assert(parity(text, graft.operators.TextAnalysis.bm25Query, 10)
      .size == 10)
    // a repeated query term counts once per occurrence in every form
    val rep = parity("vector vector stream",
      Seq("vector", "vector", "stream"), 10)
    assert(rep.size == 10 &&
      rep != parity("vector stream", Seq("vector", "stream"), 10))
    // a score tie straddling rank k: every form cuts it by doc_id
    val tie = rows3(
      graft.operators.TextIndex.query(wh, "ti", Seq("window"), 11))
    assert(tie(9)._3 == tie(10)._3 && tie(9)._1 < tie(10)._1,
      s"fixture: 'window' must tie at ranks 10 and 11: $tie")
    assert(parity("window", Seq("window"), 10) == tie.take(10))
    // VECTOR SEARCH … NEAREST (literal): double literals round-trip
    // exactly through toString, so SQL ≡ queryVecBatch bit-for-bit
    val raw = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    val vecLit = raw.mkString(", ")
    val gotV = spark
      .sql(s"VECTOR SEARCH ann ON vectors NEAREST ($vecLit) TOP 10")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val apiV = graft.operators.AnnIndex
      .queryVecBatch(wh, "ann", emb, Seq((0L, raw))).drop("query_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotV == apiV, s"SQL vector search ≠ API:\n$gotV\n$apiV")
    // the stored-row form: NEAREST ID ≡ AnnIndex.query
    val gotI = spark
      .sql("VECTOR SEARCH ann ON vectors NEAREST ID 0 TOP 10")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val apiI = graft.operators.AnnIndex
      .query(wh, "ann", wh.table("vectors"), queryId = 0L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotI == apiI)
    // HYBRID SEARCH: text through the analyzer + vector through the
    // normalizer, one snapshot cut, RRF fusion ≡ hybridQueryVecBatch
    val gotH = spark.sql(s"HYBRID SEARCH ann, ti ON vectors " +
        s"FOR '$text' NEAREST ($vecLit) TOP 10")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val apiH = graft.operators.AnnIndex
      .hybridQueryVecBatch(wh, "ann", "ti", emb,
        Seq((0L, text, raw)), topK = 10).drop("query_id")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(gotH == apiH, s"SQL hybrid ≠ API:\n$gotH\n$apiH")
    // FILTERED forms: the WHERE predicate restricts candidates INSIDE
    // the probe (k fills with qualifying results, predicate honored)
    val evenDocs = docs.filter(col("doc_id") % 2 === 0)
    val gotSF = spark.sql(s"SEARCH INDEX ti ON docs FOR '$text' " +
        "TOP 10 WHERE doc_id % 2 = 0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val apiSF = graft.operators.TextIndex
      .queryTextBatch(wh, "ti", Seq((0L, text)), 10,
        docFilter = Some(evenDocs)).drop("query_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(gotSF == apiSF && gotSF.size == 10 &&
      gotSF.forall(_._1 % 2 == 0))
    assert(gotSF == rows3(graft.operators.TextIndex.query(wh, "ti",
      graft.operators.TextAnalysis.bm25Query, 10,
      docFilter = Some(evenDocs))))
    val gotVF = spark.sql(s"VECTOR SEARCH ann ON vectors " +
        s"NEAREST ($vecLit) TOP 10 WHERE label = 3")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val apiVF = graft.operators.AnnIndex
      .queryVecBatch(wh, "ann", emb, Seq((0L, raw)),
        filter = Some(col("label") === 3)).drop("query_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotVF == apiVF && gotVF.size == 10)
    val labeled = emb.filter(col("label") === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotVF.forall(r => labeled.contains(r._1)),
      "a filtered vector result escaped the predicate")
    val gotHF = spark.sql(s"HYBRID SEARCH ann, ti ON vectors " +
        s"FOR '$text' NEAREST ($vecLit) TOP 10 WHERE label = 3")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val apiHF = graft.operators.AnnIndex
      .hybridQueryVecBatch(wh, "ann", "ti", emb,
        Seq((0L, text, raw)), topK = 10,
        filter = Some(col("label") === 3)).drop("query_id")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(gotHF == apiHF && gotHF.forall(r => labeled.contains(r._1)))
  }

  /** A bound warehouse with a 40-doc synthetic `docs` table and its
    * search index `ti` — the plan-shape tests' fixture (a plan's shape
    * does not depend on the data). */
  private def searchFixture(prefix: String): Warehouse = {
    val wh = new Warehouse(spark, tmp(prefix))
    wh.enableSql()
    import spark.implicits._
    wh.save("docs", (0L until 40L).map { i =>
      (i, "vector " * (1 + (i % 3).toInt) + "stream merge" +
        " pad" * (i % 7).toInt)
    }.toDF("doc_id", "text"))
    spark.sql("CREATE SEARCH INDEX ti ON docs").collect()
    wh
  }

  private val searchStatements = Seq(
    "SEARCH INDEX ti FOR 'vector stream merge' TOP 10",
    "SEARCH INDEX ti ON docs FOR 'vector stream merge' TOP 10 " +
      "WHERE doc_id % 2 = 0")

  test("SEARCH INDEX plans one query: no window, collect_list fold or range sort in the plain or filtered plan") {
    searchFixture("sql_search_plan")
    for (q <- searchStatements) {
      val df = spark.sql(q)
      assert(df.collect().length == 10, q)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"), p)
      assert(!p.contains("Window"), p)
      assert(!p.contains("collect_list"), p)
      assert(!p.toLowerCase.contains("rangepartitioning"), p)
    }
  }

  test("SEARCH INDEX parses with ONE query execution, the df/stats read, and its plan has no Exchange and no Join (plain and filtered)") {
    import org.apache.spark.sql.graft.ListenerBusDrain
    searchFixture("sql_search_parse")
    object Plans extends
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    for (q <- searchStatements) {
      val (df, during) = ListenerBusDrain.executions(spark)(spark.sql(q))
      assert(during.size == 1, s"$q ran ${during.size} query " +
        s"executions while parsing:\n${during.map(_.executedPlan)
          .mkString("\n")}")
      val plan = during.head.executedPlan
      val shuffled = Plans.collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(shuffled.isEmpty, s"$q: the parse-time read\n$plan")
      assert(df.collect().length == 10, q)
    }
  }

  test("SEARCH INDEX over a stats table without exactly one row fails loudly, naming the index and its stats table") {
    val wh = searchFixture("sql_search_badstats")
    import spark.implicits._
    for (bad <- Seq(Seq.empty[(Long, Long)], Seq((40L, 400L), (41L, 410L)))) {
      wh.save("ti_stats", bad.toDF("n", "sum_dl"))
      for (q <- searchStatements) {
        val e = intercept[IllegalStateException](spark.sql(q))
        assert(e.getMessage.contains("search index ti:") &&
          e.getMessage.contains(s"ti_stats holds ${bad.size} rows"),
          e.getMessage)
      }
    }
  }

  test("DESCRIBE PRUNING reports manifest-level file admission for range and IN predicates") {
    import spark.implicits._
    val dir = tmp("sql_prune_desc")
    val wh = new Warehouse(spark, dir)
    wh.enableSql()
    wh.save("t", spark.range(80000).select(col("id").as("k"),
      (col("id") * 3).as("v")).repartitionByRange(8, col("k")),
      clusterBy = Seq("k"))
    def counts(sql: String): (Long, Long) = {
      val r = spark.sql(sql).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val (all, total) = counts("DESCRIBE PRUNING t WHERE v >= 0")
    assert(total == 8 && all == 8) // underivable conjunct: full scan truth
    val (few, _) =
      counts("DESCRIBE PRUNING t WHERE k >= 10000 AND k <= 14999")
    assert(few <= 2, s"range admitted $few of 8")
    val (pt, _) = counts("DESCRIBE PRUNING t WHERE k IN (5, 70001)")
    assert(pt <= 2, s"IN-list admitted $pt of 8")
  }

  test("REFRESH JOIN VIEW bootstraps and refreshes the join MV from SQL") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh_sql_jmv")).enableSql()
    wh.save("factj", Seq((1L, 0L, 10L), (2L, 1L, 20L))
      .toDF("id", "k", "v").coalesce(1))
    wh.save("dimj", Seq((0L, "a"), (1L, "b")).toDF("k", "name").coalesce(1))
    val boot = spark.sql(
      "REFRESH JOIN VIEW mvj FROM factj JOIN dimj USING (k) ID id")
      .collect()(0)
    assert(boot.getString(0) == "BOOTSTRAPPED")
    assert(wh.table("mvj").count() == 2)
    wh.append("factj", Seq((3L, 1L, 30L)).toDF("id", "k", "v"))
    val r = spark.sql(
      "REFRESH JOIN VIEW mvj FROM factj JOIN dimj USING (k) ID id")
      .collect()(0)
    assert(r.getString(0) == "OK" && r.getLong(1) == 1L)
    assert(wh.table("mvj").count() == 3)
  }

  test("DESCRIBE INGEST LOG surfaces the admission ledger from SQL") {
    import spark.implicits._
    val dir = tmp("wh_sql_ingestlog")
    val wh = new Warehouse(spark, dir).enableSql()
    def doc(i: Long) = (i, s"a perfectly ordinary document number $i " +
      "with the usual words of the corpus and a few more of them")
    wh.save("dl", Seq(doc(0L)).toDF("doc_id", "text"))
    // before the first landed batch: empty, correct schema (the
    // monitor can attach before the pipeline's first trigger)
    val empty = spark.sql("DESCRIBE INGEST LOG dl")
    assert(empty.columns.toSeq == Seq("batch_id", "stream_id", "n_in",
      "quality_drops", "contam_drops", "dup_drops", "landed"))
    assert(empty.count() == 0)
    assert(graft.operators.Ingest.ingestBatch(wh, "dl",
      Seq(doc(1L)).toDF("doc_id", "text"), 1L, minQuality = Some(0.1)))
    assert(graft.operators.Ingest.ingestBatch(wh, "dl",
      Seq(doc(2L), (3L, "zz")).toDF("doc_id", "text"), 2L,
      minQuality = Some(0.1)))
    val rows = spark.sql("DESCRIBE INGEST LOG dl").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(6)))
      .toSeq
    assert(rows == Seq((1L, 1L, 0L, 1L), (2L, 2L, 1L, 1L)),
      s"SQL ledger rows: $rows")
  }

  test("DESCRIBE VECTOR INDEX … RECALL / ALTER VECTOR INDEX … RETRAIN: the drift ops from SQL ≡ their API twins") {
    import graft.operators.AnnIndex
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // twin warehouses, identically built (build/refresh/retrain are
    // deterministic) — retrain MUTATES, so the SQL path and the API
    // path each judge their own copy and the outputs must agree
    def mk(p: String): Warehouse = {
      val wh = new Warehouse(spark, tmp(p))
      wh.save("vectors", emb.filter(col("vec_id") < 400))
      AnnIndex.build(wh, "ann", wh.table("vectors"),
        nCells = 4, m = 4, k = 8)
      wh.append("vectors", emb.filter(col("vec_id") >= 400))
      AnnIndex.refresh(wh, "ann", wh.table("vectors"))
      wh
    }
    val whSql = mk("sql_drift_a")
    val whApi = mk("sql_drift_b")
    whSql.enableSql()
    // DESCRIBE … RECALL ≡ recallProbe over the deterministic
    // 20-query sample, SLO inputs included
    val kv = spark.sql("DESCRIBE VECTOR INDEX ann RECALL ON vectors")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val qids = AnnIndex.probeQueryIds(whApi, "ann",
      whApi.table("vectors"), 20)
    val apiRecall = AnnIndex.recallProbe(whApi, "ann",
      whApi.table("vectors"), qids)
    assert(kv("recall") == f"$apiRecall%.4f",
      s"SQL recall ${kv("recall")} ≠ API $apiRecall")
    assert(kv("sample_queries") == "20" && kv("top_k") == "10" &&
      kv("overquery") == "5" && kv("n_probe") == "3", kv.toString)
    // THRESHOLD form ≡ maintain(): probe, retrain only below the SLO,
    // re-probe the same sample — same decision, same numbers, on twins
    val (before, after) = AnnIndex.maintain(whApi, "ann",
      whApi.table("vectors"), slo = 1.0)
    val ret = spark.sql(
        "ALTER VECTOR INDEX ann RETRAIN ON vectors THRESHOLD 1.0")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ret("recall_before") == f"$before%.4f", ret.toString)
    assert(ret("retrained") == after.nonEmpty.toString, ret.toString)
    after.foreach(a =>
      assert(ret("recall_after") == f"$a%.4f", ret.toString))
    // unconditional form ≡ retrain(): frozen geometry, full re-encode
    val un = spark.sql("ALTER VECTOR INDEX ann RETRAIN ON vectors")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(un("retrained") == "true" && un("vectors") == "500",
      un.toString)
    val g = AnnIndex.geometry(whSql, "ann")
    assert(g == ((4, 4, 8)), s"SQL retrain re-shaped the index: $g")
    // a nonsense threshold refuses loudly
    intercept[Exception] {
      spark.sql("ALTER VECTOR INDEX ann RETRAIN ON vectors THRESHOLD 1.5")
        .collect()
    }
  }

  test("ALTER VECTOR INDEX … RETRAIN WITH: geometry evolution from SQL; VECTOR SEARCH … EXACT ≡ brute-force ranking") {
    import graft.operators.AnnIndex
    import graft.functions.VectorFunctions
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val wh = new Warehouse(spark, tmp("sql_reshape"))
    wh.enableSql()
    wh.save("vectors", emb)
    AnnIndex.build(wh, "ann", wh.table("vectors"),
      nCells = 4, m = 4, k = 8)
    // the deliberate re-shape lane: unlisted keys keep recorded values
    val out = spark.sql(
        "ALTER VECTOR INDEX ann RETRAIN ON vectors WITH (n_cells = 16)")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("retrained") == "true" && out("n_cells") == "16" &&
      out("m") == "4" && out("k") == "8", out.toString)
    assert(AnnIndex.geometry(wh, "ann") == ((16, 4, 8)))
    // THRESHOLD + WITH cannot combine (scheduled lane never re-shapes)
    val mixed = intercept[Exception] {
      spark.sql("ALTER VECTOR INDEX ann RETRAIN ON vectors " +
        "THRESHOLD 0.9 WITH (n_cells = 8)").collect()
    }
    assert(mixed.getMessage.contains("cannot combine"), mixed.getMessage)
    // unknown geometry keys refuse
    val bad = intercept[Exception] {
      spark.sql("ALTER VECTOR INDEX ann RETRAIN ON vectors " +
        "WITH (cells = 8)").collect()
    }
    assert(bad.getMessage.contains("unknown"), bad.getMessage)
    // EXACT serving ≡ brute force, plain and filtered
    val q = emb.filter(col("vec_id") === 3L)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0)
    val lit0 = q.mkString(", ")
    def brute(pred: Option[String]): Seq[(Long, Double)] = {
      val base = pred.map(p => wh.table("vectors").filter(expr(p)))
        .getOrElse(wh.table("vectors"))
      base.withColumn("qe", array(q.map(lit): _*))
        .select(col("vec_id"),
          round(VectorFunctions.dotExact(col("embedding"), col("qe")) /
            (VectorFunctions.normExact(col("embedding")) *
              VectorFunctions.normExact(col("qe"))), 12).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc).limit(5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val exactRows = spark.sql(
        s"VECTOR SEARCH ann ON vectors NEAREST ($lit0) TOP 5 EXACT")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(exactRows == brute(None),
      s"SQL EXACT diverged:\n$exactRows\n${brute(None)}")
    val exactFiltered = spark.sql(
        s"VECTOR SEARCH ann ON vectors NEAREST ($lit0) TOP 5 " +
          "WHERE vec_id % 2 = 0 EXACT")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(exactFiltered == brute(Some("vec_id % 2 = 0")),
      s"SQL filtered EXACT diverged")
    // without EXACT the statement still parses to the approximate probe
    assert(spark.sql(
      s"VECTOR SEARCH ann ON vectors NEAREST ($lit0) TOP 5")
      .collect().length == 5)
  }

  test("ALTER VECTOR INDEX … AUTORESIZE: the shape-health rule from SQL — healthy no-op, oversized cell re-shapes; DESCRIBE VECTOR INDEX reports cell stats") {
    import graft.operators.AnnIndex
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val wh = new Warehouse(spark, tmp("sql_autoresize"))
    wh.enableSql()
    wh.save("vectors", emb)
    AnnIndex.build(wh, "ann", wh.table("vectors"),
      nCells = 4, m = 4, k = 8)
    // healthy shape: no-op, reported as such
    val noop = spark.sql(
        "ALTER VECTOR INDEX ann AUTORESIZE ON vectors MAX_CELL_ROWS 1000")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(noop == Map("resized" -> "false"), noop.toString)
    assert(AnnIndex.geometry(wh, "ann")._1 == 4)
    // shape health is visible BEFORE the rule fires: 500 vectors over
    // 4 cells — some cell must exceed the mean, and the max exceeds
    // the 60-row bound the resize below uses
    val desc = spark.sql("DESCRIBE VECTOR INDEX ann")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("max_cell_rows").toLong > 60L, desc.toString)
    assert(desc("mean_cell_rows").toDouble == 125.0, desc.toString)
    // an oversized cell triggers the re-shape (same rule as
    // AnnIndex.autoResize: mean cell lands at half the bound)
    val grown = spark.sql(
        "ALTER VECTOR INDEX ann AUTORESIZE ON vectors MAX_CELL_ROWS 60")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(grown("resized") == "true", grown.toString)
    assert(grown("n_cells").toInt > 4, grown.toString)
    assert(grown("vectors") == "500", grown.toString)
    assert(AnnIndex.geometry(wh, "ann")._1 == grown("n_cells").toInt)
    // the re-shaped index still serves
    assert(AnnIndex.query(wh, "ann", wh.table("vectors"), queryId = 0L)
      .count() == 10)
  }

  test("PIN TABLE / UNPIN TABLE / DESCRIBE PINS: the vacuum shield from SQL") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("sql_pins"))
    wh.enableSql()
    wh.save("t", spark.range(50).select(col("id").as("k")).coalesce(1))
    val heldSum = wh.table("t").agg(sum("k")).first().getLong(0)
    assert(spark.sql("PIN TABLE t VERSION 1 AS 'svc'").collect()
      .head.getString(0) == "OK")
    // churn + sweep: without the pin, v1's files and record are gone
    (1 to 2).foreach(i => wh.save("t",
      spark.range(50 + i).select(col("id").as("k")).coalesce(1)))
    wh.vacuum("t", 0L, 1)
    val pins = spark.sql("DESCRIBE PINS t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pins == Seq(("svc", 1L)), pins.toString)
    assert(wh.tableAt("t", 1L).agg(sum("k")).first().getLong(0)
      == heldSum, "pinned version must stay readable across vacuum")
    assert(spark.sql("UNPIN TABLE t AS 'svc'").collect()
      .head.getString(0) == "OK")
    assert(spark.sql("DESCRIBE PINS t").collect().isEmpty)
    wh.vacuum("t", 0L, 1)
    intercept[IllegalArgumentException](wh.tableAt("t", 1L))
  }

  test("PIN TABLE … LEASE from SQL; DESCRIBE PINS shows age + lease + expiry") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("sql_pins_lease"))
    wh.enableSql()
    wh.save("tl", spark.range(10).select(col("id").as("k")).coalesce(1))
    assert(spark.sql("PIN TABLE tl VERSION 1 AS 'svc' LEASE 60000")
      .collect().head.getString(0) == "OK")
    val row = spark.sql("DESCRIBE PINS tl").collect().head
    assert(row.getString(0) == "svc" && row.getLong(1) == 1L)
    assert(row.getString(2) != "unknown", "pinned_at must be stamped")
    assert(row.getLong(3) >= 0L, "age_ms must be derivable")
    assert(row.getLong(4) == 60000L, row.toString)
    assert(row.getString(5) == "false", "a fresh lease is not expired")
    spark.sql("UNPIN TABLE tl AS 'svc'").collect()
  }

  test("zoneless TIMESTAMP AS OF resolves in the SESSION timezone, not the JVM default") {
    val wh = new Warehouse(spark, tmp("sql_asof_tz"))
    wh.enableSql()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    wh.save("docs", docs.filter(col("doc_id") < 100))
    spark.sql("CREATE SEARCH INDEX ti ON docs").collect()
    val q = "SEARCH INDEX ti FOR 'vector stream merge' TOP 5"
    val live = spark.sql(q).collect().toSeq
    assert(live.nonEmpty)
    // render NOW as a zoneless local string in a zone 12h BEHIND the
    // session's UTC: interpreted in the session zone it names "now"
    // (a valid cut, at/after every commit); interpreted in the JVM
    // default (UTC — the old java.sql.Timestamp.valueOf behavior) it
    // names 12 hours AGO, before any version exists, and the read
    // refuses. The statement succeeding IS the timezone assertion.
    val zone = "Etc/GMT+12" // = UTC-12 (POSIX sign convention)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", zone)
      val local = java.time.LocalDateTime
        .ofInstant(java.time.Instant.now().plusSeconds(2),
          java.time.ZoneId.of(zone))
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss"))
      val got = spark.sql(s"$q TIMESTAMP AS OF '$local'").collect().toSeq
      assert(got == live,
        "session-zone AS OF must resolve to the live cut")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}
