package graft.operators

import graft.{Q, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational operator inventory — one query per operator class of
  * SURVEY.md §2, expressed over the TPC-H-ish test tables with a DuckDB
  * oracle for each.
  *
  * Numeric determinism: double summation is order-dependent, and Spark's
  * partial/final aggregation order differs from DuckDB's sequential scan.
  * Every SUM/AVG over doubles therefore casts the per-row value to an
  * exact DECIMAL first (per-row double arithmetic is IEEE-deterministic,
  * so both engines round the same per-row value), sums exactly, and casts
  * the final value back to double. This also holds at cluster scale where
  * partial aggregation order is nondeterministic across executors.
  *
  * Scale notes are inline: every plan here is shuffle-minimal — filters
  * and projections reach the parquet scan, small dimensions broadcast,
  * top-k uses TakeOrderedAndProject (no global sort), and nothing
  * collects to the driver.
  */
object Relational {

  import graft.Num.{dsum, davg, sqlDsum, sqlDavg}

  /** Build-side hint for a star join's dim chain whose row count is
    * SMALLER than the fact by construction but NOT bounded (it grows
    * with scale factor — r17's unconditional `broadcast()` was a scale
    * cliff: Spark honors the hint regardless of size, so past driver
    * memory / the 8 GB-512M-row broadcast cap the query would fail
    * outright instead of falling back). The gate is a COMPUTED size
    * bound, not an estimate-after-joins (those are the very
    * misestimates that made the planner broadcast the fact): the sum
    * of the chain's LEAF scan statistics — actual file bytes, known
    * before any join math — must stay under 256 MB of input, which
    * keeps the built hash relation comfortably inside a single
    * executor/driver budget at any realistic row width. Past the
    * bound the SAME side carries a SHUFFLE_HASH hint instead: the
    * per-partition hash build of the provably smaller side — no
    * broadcast cliff, and still never a fact-side build. */
  private[graft] def dimJoinHint(dims: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // analyzed (not optimized) plan: leaf scan stats are the file
    // sizes either way, and reading them off the analyzed tree skips
    // a whole optimizer pass over the dim subplan on every call
    val leafBytes = dims.queryExecution.analyzed.collectLeaves()
      .map(l => BigInt(l.stats.sizeInBytes.toString)).sum
    if (leafBytes <= BigInt(256L * 1024 * 1024)) broadcast(dims)
    else dims.hint("shuffle_hash")
  }

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    // S2 — table scan with projection (column pruning reaches parquet)
    Q("s2_scan",
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
      (s, d) => T.region(s, d)
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")),

    // S6 — row-literal source (reference: INSERT..VALUES fake rows,
    // Olist DW.sql:294-312)
    Q("s6_literals",
      Some("SELECT * FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma')) AS t(id, name) ORDER BY id"),
      (s, d) => {
        import s.implicits._
        Seq((1, "alpha"), (2, "beta"), (3, "gamma"))
          .toDF("id", "name").orderBy("id")
      }),

    // P1 — projection + aliasing + per-row arithmetic
    // (reference: SELECT x AS 'y', Olist DW.sql:144-145)
    Q("p1_project",
      Some("""SELECT l_orderkey AS okey, l_linenumber AS lnum,
             |       l_extendedprice * (1 - l_discount) AS net
             |FROM lineitem ORDER BY okey, lnum""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))),

    // P2 — inequality filter on string (reference: != 'canceled',
    // Olist DW.sql:155)
    Q("p2_filter_neq",
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE o_orderstatus <> 'F' ORDER BY o_orderkey""".stripMargin),
      (s, d) => T.orders(s, d)
        .filter(col("o_orderstatus") =!= "F")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")),

    // P3/P4 — IS NOT NULL + conjunctive predicates
    // (reference: Olist DW.sql:75,155,179)
    Q("p4_conjunction",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_returnflag = 'R' AND l_quantity > 30
             |  AND l_discount < 0.05 AND l_partkey IS NOT NULL
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 30 &&
          col("l_discount") < 0.05 && col("l_partkey").isNotNull)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // P5 — timestamp range predicate (reference:
    // order_purchase_timestamp < '20190101', Olist DW.sql:155)
    Q("p5_date_range",
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")),

    // P6/J13 — NOT IN (subquery) as left-anti join (reference:
    // Olist DW.sql:75; inputs non-null so anti-join ≡ NOT IN)
    Q("p6_not_in_anti",
      Some("""SELECT p_partkey FROM part
             |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
             |ORDER BY p_partkey""".stripMargin),
      (s, d) => T.part(s, d)
        .join(T.lineitem(s, d).filter(col("l_quantity") > 49),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey")
        .orderBy("p_partkey")),

    // P7 — filter on aggregate output / HAVING (reference: DELETE WHERE
    // avg_hrs_convert < 1, Olist DW.sql:183-184)
    Q("p7_having",
      Some("""SELECT l_suppkey, count(*) AS cnt FROM lineitem
             |GROUP BY l_suppkey HAVING count(*) > 100
             |ORDER BY l_suppkey""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 100)
        .orderBy("l_suppkey")),

    // ----------------------------------------------------------------
    // A1/A2/A3/A6 — grouped aggregation spine (TPC-H Q1 shape; reference
    // fact build Olist DW.sql:144-156). Flagship query.
    Q("q1_agg",
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${sqlDsum("l_quantity")} AS sum_qty,
              |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
              |  ${sqlDsum("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
              |  ${sqlDavg("l_quantity")} AS avg_qty,
              |  count(*) AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // A2 — COUNT(col) null-skipping semantics (reference: COUNT(product_id)
    // Olist DW.sql:145); nulls synthesized via nullif since testdata has none
    Q("a2_count_nulls",
      Some("""SELECT o_orderpriority,
             |  count(*) AS n_all,
             |  count(nullif(o_orderstatus, 'F')) AS n_not_f
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => T.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_all"),
          count(nullif(col("o_orderstatus"), lit("F"))).as("n_not_f"))
        .orderBy("o_orderpriority")),

    // A4/A5 — MIN/MAX + ROUND(SUM,2) (reference: Olist DW.sql:241,254,275)
    Q("a4_min_max_round",
      Some("""SELECT l_linestatus,
             |  min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship,
             |  cast(round(sum(cast(l_extendedprice as decimal(18,2))), 2) as double) AS total_price
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .groupBy("l_linestatus")
        .agg(min("l_shipdate").as("first_ship"), max("l_shipdate").as("last_ship"),
          round(sum(col("l_extendedprice").cast(DecimalType(18, 2))), 2)
            .cast("double").as("total_price"))
        .orderBy("l_linestatus")),

    // A7 — SELECT DISTINCT single column (reference: Olist DW.sql:73-75)
    Q("a7_distinct",
      Some("SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"),
      (s, d) => T.orders(s, d)
        .select("o_orderpriority").distinct().orderBy("o_orderpriority")),

    // A8 — SELECT DISTINCT multi-column (reference: Olist DW.sql:79-80)
    Q("a8_distinct_multi",
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // A10 — surrogate-key assignment via row_number + offset (reference:
    // CREATE SEQUENCE START WITH 1000, Olist DW.sql:55-57). Global window
    // is fine ONLY on broadcast-sized dims; facts never get sequence keys.
    Q("a10_surrogate_key",
      Some("""SELECT n_name, 1000 + row_number() OVER (ORDER BY n_name) AS nation_key
             |FROM nation ORDER BY n_name""".stripMargin),
      (s, d) => T.nation(s, d)
        .select(col("n_name"),
          (lit(1000) + row_number().over(Window.orderBy("n_name"))).cast("long")
            .as("nation_key"))
        .orderBy("n_name")),

    // ----------------------------------------------------------------
    // J1 — big-big equi join + aggregate (reference: orders ⋈ order_items,
    // Olist DW.sql:148). Shuffles both sides on the join key once; the
    // aggregation reuses the join output without an extra exchange when
    // grouped on the probe side's key space.
    Q("j1_join_agg",
      Some(s"""SELECT o_orderpriority,
              |  ${sqlDsum("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
              |  count(*) AS n_items
              |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => T.orders(s, d)
        .join(T.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")),

    // J3 — broadcast join to tiny dim (reference: 71-row category dim,
    // Olist DW.sql:150)
    Q("j3_broadcast_dim",
      Some("""SELECT r_name, count(*) AS n_nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin),
      (s, d) => T.nation(s, d)
        .join(broadcast(T.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n_nations"))
        .orderBy("r_name")),

    // J6/F2 — expression join on derived yyyymmdd int key (reference:
    // CONVERT(DATE,CONVERT(VARCHAR(8),date_key,112)) join,
    // Olist DW.sql:153). We pre-compute the int key on both sides so
    // Catalyst plans a plain equi-join on ints — the scale-safe rendering.
    Q("j6_expr_datekey",
      Some("""WITH dk AS (SELECT DISTINCT cast(strftime(o_orderdate, '%Y%m%d') as int) AS date_key
             |           FROM orders)
             |SELECT date_key, count(*) AS n_items
             |FROM dk JOIN lineitem
             |  ON cast(strftime(l_shipdate, '%Y%m%d') as int) = date_key
             |GROUP BY date_key ORDER BY date_key""".stripMargin),
      (s, d) => {
        val dk = T.orders(s, d)
          .select(date_format(col("o_orderdate"), "yyyyMMdd").cast("int").as("date_key"))
          .distinct()
        T.lineitem(s, d)
          .select(date_format(col("l_shipdate"), "yyyyMMdd").cast("int").as("date_key"))
          .join(broadcast(dk), "date_key")
          .groupBy("date_key").agg(count(lit(1)).as("n_items"))
          .orderBy("date_key")
      }),

    // J7 — composite-key equi join (reference: zip AND city,
    // Olist DW.sql:154)
    Q("j7_composite_key",
      Some(s"""WITH a AS (SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS cnt
              |           FROM lineitem GROUP BY 1, 2),
              |     b AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
              |                  ${sqlDsum("l_quantity")} AS qty
              |           FROM lineitem GROUP BY 1, 2)
              |SELECT a.rf, a.ls, a.cnt, b.qty FROM a
              |JOIN b ON a.rf = b.rf AND a.ls = b.ls
              |ORDER BY a.rf, a.ls""".stripMargin),
      (s, d) => {
        val li = T.lineitem(s, d)
        val a = li.groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
          .agg(count(lit(1)).as("cnt"))
        val b = li.groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
          .agg(dsum(col("l_quantity")).as("qty"))
        a.join(b, Seq("rf", "ls")).select("rf", "ls", "cnt", "qty")
          .orderBy("rf", "ls")
      }),

    // J12 — left-semi join / EXISTS (reference: SSIS Lookup match path,
    // Package.dtsx:123-280)
    Q("j12_semi",
      Some("""SELECT o_orderkey FROM orders
             |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
             |ORDER BY o_orderkey""".stripMargin),
      (s, d) => T.orders(s, d)
        .join(T.lineitem(s, d).filter(col("l_quantity") > 45),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey").orderBy("o_orderkey")),

    // Generalized joins beyond the reference (SURVEY §2.3 note): full outer
    Q("j_full_outer",
      Some("""SELECT coalesce(p.p_partkey, l.k) AS partkey, p.p_brand AS brand,
             |       coalesce(l.n, 0) AS n_heavy_items
             |FROM part p FULL JOIN (
             |  SELECT l_partkey AS k, count(*) AS n FROM lineitem
             |  WHERE l_quantity > 49 GROUP BY 1) l ON l.k = p.p_partkey
             |ORDER BY partkey""".stripMargin),
      (s, d) => {
        val heavy = T.lineitem(s, d).filter(col("l_quantity") > 49)
          .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("n"))
        T.part(s, d).join(heavy, col("k") === col("p_partkey"), "full_outer")
          .select(coalesce(col("p_partkey"), col("k")).as("partkey"),
            col("p_brand").as("brand"),
            coalesce(col("n"), lit(0L)).as("n_heavy_items"))
          .orderBy("partkey")
      }),

    // F7 — implicit cross-type compare rendered as an explicit cast
    // (reference: date_key > '20181231', int vs string, Olist DW.sql:353)
    Q("f7_cross_type_cast",
      Some("""SELECT o_orderpriority, count(*) AS n FROM orders
             |WHERE o_orderkey > cast('1000' as bigint)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => T.orders(s, d)
        .filter(col("o_orderkey") > lit("1000").cast("long"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // A11/A12 — ROLLUP / CUBE (beyond the reference; Spark natives)
    Q("a11_rollup",
      Some("""SELECT coalesce(r_name, '(ALL)') AS region,
             |       coalesce(n_name, '(ALL)') AS nation, count(*) AS n
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP(r_name, n_name) ORDER BY region, nation""".stripMargin),
      (s, d) => {
        // via the SQL surface: DetectAmbiguousSelfJoin misattributes
        // Dataset-tagged grouping columns after ROLLUP's Expand when the
        // input is a join built with the Column API
        T.nation(s, d).createOrReplaceTempView("v_nation")
        T.region(s, d).createOrReplaceTempView("v_region")
        s.sql("""SELECT coalesce(r_name, '(ALL)') AS region,
                |       coalesce(n_name, '(ALL)') AS nation, count(*) AS n
                |FROM v_nation JOIN v_region ON n_regionkey = r_regionkey
                |GROUP BY ROLLUP(r_name, n_name)
                |ORDER BY region, nation""".stripMargin)
      }),

    Q("a12_cube",
      Some("""SELECT coalesce(l_returnflag, '(ALL)') AS rf,
             |       coalesce(l_linestatus, '(ALL)') AS ls,
             |       count(*) AS n
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("(ALL)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(ALL)")).as("ls"), col("n"))
        .orderBy("rf", "ls")),

    // W3 — per-group top-k via ranked window + filter: the scale-safe
    // top-k (each group ranks locally after one hash partition — never
    // a global sort)
    Q("w3_topk_per_group",
      Some("""SELECT * FROM (
             |  SELECT n_nationkey AS nation, c_custkey, c_acctbal,
             |         cast(row_number() OVER (PARTITION BY n_nationkey
             |              ORDER BY c_acctbal DESC, c_custkey) as bigint) AS rk
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
             |WHERE rk <= 3 ORDER BY nation, rk""".stripMargin),
      (s, d) => T.customer(s, d)
        .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_nationkey").as("nation"), col("c_custkey"), col("c_acctbal"),
          row_number().over(Window.partitionBy("n_nationkey")
            .orderBy(col("c_acctbal").desc, col("c_custkey").asc))
            .cast("long").as("rk"))
        .filter(col("rk") <= 3)
        .orderBy("nation", "rk")),

    // W4 — lag/lead offsets
    Q("w4_lag_lead",
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |  coalesce(lag(l_quantity) OVER w, -1.0) AS prev_qty,
             |  coalesce(lead(l_quantity) OVER w, -1.0) AS next_qty
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)
             |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
      (s, d) => {
        // (orderkey, linenumber) is NOT unique in the generated data —
        // the lagged value itself is the final tiebreak, so tied rows
        // with equal quantities are order-insensitive by construction
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        T.lineitem(s, d)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            coalesce(lag("l_quantity", 1).over(w), lit(-1.0)).as("prev_qty"),
            coalesce(lead("l_quantity", 1).over(w), lit(-1.0)).as("next_qty"))
      }),

    // W5 — explicit ROWS frame (moving window)
    Q("w5_moving_sum",
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |  cast(sum(cast(l_quantity as decimal(18,2)))
             |       OVER (PARTITION BY l_suppkey
             |             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
             |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as double) AS mov_qty
             |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
          .rowsBetween(-2, Window.currentRow)
        T.lineitem(s, d)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).over(w)
              .cast("double").as("mov_qty"))
      }),

    // A13 — approx_count_distinct (HLL). The hashed output carries the
    // EXACT distinct count plus a deterministic within-tolerance flag
    // for the HLL estimate — the estimate itself is algorithm-specific,
    // so no cross-engine hash can exist for it. The raw ±5% tolerance
    // on the estimate is asserted in SimilaritySpec.
    Q("a13_approx_count_distinct",
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
             |       1 AS approx_ok
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct("l_partkey").as("approx_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          when(abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.05, lit(1)).otherwise(lit(0)).as("approx_ok"))
        .orderBy("l_returnflag")),

    // P8 — scalar subquery in a predicate: orders above the global
    // average price. Catalyst plans the subquery once as a broadcast
    // scalar (ReusedSubquery at scale), not per-row. The comparison
    // runs against the exact-decimal average (order-independent) so
    // both engines pick the identical row set.
    Q("p8_scalar_subquery",
      Some(s"""SELECT o_orderkey, o_totalprice FROM orders
              |WHERE o_totalprice > (
              |  SELECT cast(sum(cast(o_totalprice as decimal(18,2))) as double)
              |         / count(*) FROM orders)
              |ORDER BY o_orderkey""".stripMargin),
      (s, d) => {
        T.orders(s, d).createOrReplaceTempView("p8_orders")
        s.sql("""SELECT o_orderkey, o_totalprice FROM p8_orders
                |WHERE o_totalprice > (
                |  SELECT cast(sum(cast(o_totalprice as decimal(18,2))) as double)
                |         / count(*) FROM p8_orders)
                |ORDER BY o_orderkey""".stripMargin)
      }),

    // A14 — exact percentiles (p50/p95) per group. Both engines use the
    // type-7 (linear-interpolation) quantile definition; selection +
    // one interpolation is not a summation, so no decimal detour is
    // needed — round(…,6) absorbs last-ulp interpolation differences.
    Q("a14_percentiles",
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
             |  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95"))
        .orderBy("l_returnflag")),

    // A15 — pivot: order counts per market segment × order priority
    // (T-SQL PIVOT's moral equivalent). The Spark side uses the native
    // relational pivot with an EXPLICIT value list (no extra pass to
    // discover the domain — required for a stable schema at scale);
    // the oracle states the same thing as conditional aggregation.
    Q("a15_pivot",
      // cast(... AS BIGINT): DuckDB's sum() over INT returns HUGEINT, which
      // the comparison bridge renders as float64 and hash-mismatches Spark's
      // int64 counts — same trap and fix as the f9_json_extract oracle.
      Some("""SELECT c_mktsegment,
             |  cast(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "1-URGENT",
             |  cast(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS "2-HIGH",
             |  cast(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "3-MEDIUM",
             |  cast(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "4-NOT SPECIFIED",
             |  cast(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS "5-LOW"
             |FROM customer JOIN orders ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      (s, d) => T.customer(s, d)
        .join(T.orders(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("c_mktsegment")),

    Q("j_left_outer",
      Some("""SELECT n_name, count(c_custkey) AS n_cust
             |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin),
      (s, d) => T.nation(s, d)
        .join(T.customer(s, d), col("c_nationkey") === col("n_nationkey"), "left_outer")
        .groupBy("n_name").agg(count(col("c_custkey")).as("n_cust"))
        .orderBy("n_name")),

    // Cross join (generalized; both sides tiny)
    Q("j_cross",
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
             |ORDER BY r_name, n_name""".stripMargin),
      (s, d) => T.region(s, d).crossJoin(T.nation(s, d))
        .select("r_name", "n_name").orderBy("r_name", "n_name")),

    // J10 — star probe: fact ⋈ dims (reference: Olist DW.sql:232-234).
    // customer/orders broadcast at dim scale; lineitem is the fact.
    // The dim chain carries an explicit build-side hint (r17/r18): the
    // planner's post-join size estimate inflates customer⋈orders past
    // the fact's pruned 3-column projection and it broadcast the FACT
    // (a 600k-row driver-built hash relation per run, and the side
    // that grows without bound) — guide §3.1's "estimates are often
    // badly wrong after joins; hint the side you know is small". The
    // hinted side is SMALLER by construction (one row per ORDER, two
    // narrow columns, vs one per line item) but NOT bounded — it grows
    // with scale factor — so the broadcast is GATED on the dim chain's
    // measured scan bytes ([[dimJoinHint]], r18): past the bound the
    // same side carries a SHUFFLE_HASH hint instead (per-partition
    // build of the provably-smaller side — no 8 GB/driver-memory
    // cliff, and still never a fact broadcast).
    Q("j10_star",
      Some(s"""SELECT c_mktsegment,
              |  ${sqlDsum("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
              |  count(*) AS n_items
              |FROM customer
              |JOIN orders ON o_custkey = c_custkey
              |JOIN lineitem ON l_orderkey = o_orderkey
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      (s, d) => dimJoinHint(T.customer(s, d)
          .join(T.orders(s, d), col("o_custkey") === col("c_custkey")))
        .join(T.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_mktsegment")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("c_mktsegment")),

    // J9 — deep multi-way join (reference: leads⋈deals⋈sellers⋈items,
    // Olist DW.sql:171-173): region⋈nation⋈supplier⋈lineitem
    Q("j9_multiway",
      Some(s"""SELECT r_name, n_name,
              |  ${sqlDsum("l_extendedprice", 2)} AS total_price,
              |  count(*) AS n_items
              |FROM region
              |JOIN nation ON n_regionkey = r_regionkey
              |JOIN supplier ON s_nationkey = n_nationkey
              |JOIN lineitem ON l_suppkey = s_suppkey
              |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
      // the dim chain (region⋈nation⋈supplier — 1/60 of the fact's
      // rows by construction) carries an explicit build-side hint: the
      // planner's twice-joined estimate inflated it past lineitem's
      // pruned projection and broadcast the FACT (r17; guide §3.1 —
      // same misestimate and fix as j10_star). supplier grows with
      // scale, so the broadcast is gated like j10's ([[dimJoinHint]]).
      (s, d) => dimJoinHint(T.region(s, d)
          .join(T.nation(s, d), col("n_regionkey") === col("r_regionkey"))
          .join(T.supplier(s, d), col("s_nationkey") === col("n_nationkey")))
        .join(T.lineitem(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum(col("l_extendedprice")).as("total_price"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")),

    // ----------------------------------------------------------------
    // O1 — global top-k by aggregate DESC (reference: TOP 5 ... ORDER BY
    // SUM DESC, Olist DW.sql:217-226). Plans TakeOrderedAndProject — no
    // full sort, safe at any scale.
    Q("o1_topk",
      Some(s"""SELECT s_name, ${sqlDsum("l_extendedprice * (1 - l_discount)", 6)} AS revenue
              |FROM supplier JOIN lineitem ON l_suppkey = s_suppkey
              |GROUP BY s_name ORDER BY revenue DESC, s_name LIMIT 5""".stripMargin),
      (s, d) => T.supplier(s, d)
        .join(T.lineitem(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
        .orderBy(col("revenue").desc, col("s_name").asc)
        .limit(5)),

    // O2 — bottom-k ASC (reference: TOP 5 ... ORDER BY avg ASC,
    // Olist DW.sql:266-271)
    Q("o2_bottomk",
      Some(s"""SELECT c_name, ${sqlDsum("o_totalprice")} AS total_spend
              |FROM customer JOIN orders ON o_custkey = c_custkey
              |GROUP BY c_name ORDER BY total_spend ASC, c_name LIMIT 5""".stripMargin),
      (s, d) => T.customer(s, d)
        .join(T.orders(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_name").agg(dsum(col("o_totalprice")).as("total_spend"))
        .orderBy(col("total_spend").asc, col("c_name").asc)
        .limit(5)),

    // O3 — plain LIMIT (reference: TOP 10 *, Olist DW.sql:316-317;
    // made deterministic by sorting first, as the tests do)
    Q("o3_limit",
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |ORDER BY l_orderkey, l_linenumber LIMIT 10""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber").limit(10)),

    // ----------------------------------------------------------------
    // Set operations (SURVEY §2.7 — exposed beyond the reference)
    Q("u1_union_distinct",
      Some("""SELECT c_nationkey AS k FROM customer
             |UNION SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin),
      (s, d) => T.customer(s, d).select(col("c_nationkey").as("k"))
        .union(T.supplier(s, d).select(col("s_nationkey").as("k")))
        .distinct().orderBy("k")),

    Q("u2_intersect",
      Some("""SELECT c_nationkey AS k FROM customer
             |INTERSECT SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin),
      (s, d) => T.customer(s, d).select(col("c_nationkey").as("k"))
        .intersect(T.supplier(s, d).select(col("s_nationkey").as("k")))
        .orderBy("k")),

    Q("u3_except",
      Some("""SELECT p_partkey AS k FROM part
             |EXCEPT SELECT l_partkey FROM lineitem WHERE l_quantity > 45 ORDER BY k""".stripMargin),
      (s, d) => T.part(s, d).select(col("p_partkey").as("k"))
        .except(T.lineitem(s, d).filter(col("l_quantity") > 45)
          .select(col("l_partkey").as("k")))
        .orderBy("k")),

    // ----------------------------------------------------------------
    // F1/F8 — date truncation + year extraction (reference:
    // CONVERT(DATE, ts) Olist DW.sql:153; t.Year = 2018 :224)
    Q("f1_date_parts",
      Some("""SELECT cast(year(o_orderdate) as int) AS yr,
             |       cast(month(o_orderdate) as int) AS mo,
             |       count(*) AS n_orders
             |FROM orders WHERE year(o_orderdate) = 1997
             |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin),
      (s, d) => T.orders(s, d)
        .filter(year(col("o_orderdate")) === 1997)
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("yr", "mo")),

    // F3 — T-SQL DATEDIFF(HOUR) boundary-crossing semantics (reference:
    // Olist DW.sql:168,266): truncate both ends to the hour, then diff.
    Q("f3_datediff_hour",
      Some("""SELECT event_id,
             |  date_diff('hour', date_trunc('hour', ts),
             |            TIMESTAMP '2024-01-15 00:00:00') AS hrs_to_mid
             |FROM events ORDER BY event_id""".stripMargin),
      (s, d) => T.events(s, d)
        .select(col("event_id"),
          ((unix_timestamp(lit("2024-01-15 00:00:00").cast("timestamp")) -
            unix_timestamp(date_trunc("hour", col("ts")))) / 3600)
            .cast("long").as("hrs_to_mid"))),

    // F6 — case/whitespace normalization at compare boundaries
    // (reference: SQL Server CI collation, SURVEY §7.4)
    Q("f6_normalize",
      Some("""SELECT DISTINCT lower(trim(o_orderpriority)) AS pri
             |FROM orders ORDER BY pri""".stripMargin),
      (s, d) => T.orders(s, d)
        .select(lower(trim(col("o_orderpriority"))).as("pri"))
        .distinct().orderBy("pri")),

    // ----------------------------------------------------------------
    // W — window functions (SURVEY §2.5; free in Spark, exposed)
    Q("w1_row_number",
      Some("""SELECT l_orderkey, l_linenumber,
             |  cast(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) as bigint) AS rn
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          row_number().over(
            Window.partitionBy("l_orderkey").orderBy("l_linenumber"))
            .cast("long").as("rn"))),

    // No final global ORDER BY on w1/w2/w4/w5 (nor p1/f3): the
    // window's per-partition sort fully determines the VALUES, and the
    // correctness compare row-sorts before hashing — a global sort of
    // the entire output exists only to please human eyes and costs a
    // full extra exchange+sort (4.8 s → 2.2 s at sf1 on w2 alone). At
    // 100 TB an output-wide total order is exactly the operator you
    // never want.
    Q("w2_running_sum",
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |  cast(sum(cast(l_quantity as decimal(18,2)))
             |       OVER (PARTITION BY l_suppkey
             |             ORDER BY l_shipdate, l_orderkey, l_linenumber) as double) AS running_qty
             |FROM lineitem""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .over(Window.partitionBy("l_suppkey")
              .orderBy("l_shipdate", "l_orderkey", "l_linenumber"))
            .cast("double").as("running_qty"))),

    // ----------------------------------------------------------------
    // I1/I2 — incremental micro-batch: delta aggregation anti-joined
    // against already-loaded date_keys, then appended (reference:
    // Olist DW.sql:319-336 + SSIS Lookup/Conditional-Split,
    // Package.dtsx:58-97). Late rows for an already-loaded date are
    // dropped — faithful to the reference's dead UPDATE path.
    Q("i2_incremental_antijoin",
      Some("""WITH existing AS (
             |  SELECT DISTINCT cast(strftime(l_shipdate, '%Y%m%d') as int) AS date_key
             |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-06-15 12:00:00'),
             |delta AS (
             |  SELECT cast(strftime(l_shipdate, '%Y%m%d') as int) AS date_key,
             |         count(*) AS n_rows
             |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-15 12:00:00'
             |  GROUP BY 1)
             |SELECT d.date_key, d.n_rows FROM delta d
             |WHERE d.date_key NOT IN (SELECT date_key FROM existing)
             |ORDER BY d.date_key""".stripMargin),
      (s, d) => {
        val li = T.lineitem(s, d)
        val cutoff = lit("1998-06-15 12:00:00").cast("timestamp")
        val dateKey = date_format(col("l_shipdate"), "yyyyMMdd").cast("int")
        val existing = li.filter(col("l_shipdate") < cutoff)
          .select(dateKey.as("date_key")).distinct()
        val delta = li.filter(col("l_shipdate") >= cutoff)
          .groupBy(dateKey.as("date_key")).agg(count(lit(1)).as("n_rows"))
        delta.join(broadcast(existing), Seq("date_key"), "left_anti")
          .orderBy("date_key")
      }),

    // ----------------------------------------------------------------
    // A16 — GROUPING SETS with grouping_id disambiguation (the general
    // form behind a11 ROLLUP / a12 CUBE). One pass over the fact, both
    // groupings from a single shuffle (Spark Expand), no union of
    // separate aggregations. DuckDB's GROUPING(a,b) bit vector matches
    // Spark's grouping_id() encoding (1 = column aggregated away).
    Q("a16_grouping_sets",
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  cast(grouping(l_returnflag, l_linestatus) as bigint) AS gid,
              |  count(*) AS n, ${sqlDsum("l_quantity")} AS qty
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
              |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy("gid", "l_returnflag", "l_linestatus")),

    // A17 — histogram binning: arithmetic bucketing folded into the
    // grouped aggregation (the profiling query behind every "price
    // distribution" dashboard). floor(x/width) on the identical IEEE
    // double is deterministic on both engines; one shuffle on the
    // slim bin key.
    Q("a17_histogram",
      Some(s"""SELECT cast(floor(l_extendedprice / 5000) as bigint) AS bin,
              |  count(*) AS n, ${sqlDsum("l_extendedprice")} AS mass
              |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("mass"))
        .orderBy("bin")),

    // W6 — ntile / percent_rank / cume_dist: the quantile-bucketing
    // window trio (training-data difficulty binning, decile reports).
    // Ordering key (orderkey, linenumber) is unique per partition, so
    // every rank function is deterministic; rank arithmetic is integer
    // → one double division, identical on both engines.
    Q("w6_ntile",
      Some("""SELECT l_orderkey, l_linenumber,
             |  cast(ntile(8) OVER w as int) AS tile,
             |  percent_rank() OVER w AS pr,
             |  cume_dist() OVER w AS cd
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_returnflag
             |             ORDER BY l_orderkey, l_linenumber)""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy("l_orderkey", "l_linenumber")
        T.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            ntile(8).over(w).cast("int").as("tile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
      }),

    // F10 — regexp extract + replace (log/text field parsing). Both
    // engines return '' for a non-matching extract; DuckDB needs the
    // explicit 'g' flag to match Spark's replace-all default. Patterns
    // stay in the Java∩RE2 common dialect (no backrefs, no lookahead).
    Q("f10_regexp",
      Some("""SELECT doc_id,
             |  regexp_extract(text, '([a-z]{6,})', 1) AS first_long_word,
             |  regexp_replace(text, '[aeiou]', '', 'g') AS devoweled
             |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => T.documents(s, d)
        .select(col("doc_id"),
          regexp_extract(col("text"), "([a-z]{6,})", 1).as("first_long_word"),
          regexp_replace(col("text"), "[aeiou]", "").as("devoweled"))
        .orderBy("doc_id")),

    // J16 — salted skew join: the hot-key mitigation (Skew.saltedJoin
    // scatters each probe row over 8 sub-keys, replicates the dim 8×)
    // must return EXACTLY the plain join's aggregate — the oracle is
    // the unsalted SQL. This is the shape that keeps one 30%-hot
    // supplier key from pinning a single task at 100 TB.
    Q("j16_skew_salted",
      Some(s"""SELECT s_name, count(*) AS n,
              |  ${sqlDsum("l_extendedprice")} AS revenue
              |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              |GROUP BY s_name ORDER BY s_name""".stripMargin),
      (s, d) => {
        val probe = T.lineitem(s, d)
          .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
        val build = T.supplier(s, d)
          .select(col("s_suppkey").as("suppkey"), col("s_name"))
        Skew.saltedJoin(probe, build, "suppkey", salts = 8)
          .groupBy("s_name")
          .agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("s_name")
      }),

    // F11 — time-spine gap fill: the missing-day densification every
    // time-series report needs (daily order counts with 0 for silent
    // days). The spine is sequence()+explode over the data's own
    // min/max — two rows cross the driver-free 2-row bounds agg, the
    // spine explodes distributed, and the daily counts join back on
    // date. At 100 TB the spine side is tiny (one row per day) and
    // broadcasts.
    Q("f11_gap_fill",
      Some("""WITH d AS (
             |  SELECT cast(o_orderdate as date) AS day, count(*) AS n
             |  FROM orders GROUP BY 1),
             |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
             |spine AS (
             |  SELECT cast(UNNEST(generate_series(cast(lo as timestamp),
             |                                     cast(hi as timestamp),
             |                                     INTERVAL 1 DAY)) as date) AS day
             |  FROM b)
             |SELECT s.day AS day, coalesce(d.n, 0) AS n_orders
             |FROM spine s LEFT JOIN d ON s.day = d.day
             |ORDER BY day""".stripMargin),
      (s, d) => {
        val daily = T.orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n"))
        val spine = daily.agg(min("day").as("lo"), max("day").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr("interval 1 day"))).as("day"))
        spine.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).as("n_orders"))
          .orderBy("day")
      }),

    // A18 — ordered string aggregation (LISTAGG/STRING_AGG): the
    // collect side is per-group and order-normalized via array_sort,
    // so the result is deterministic under any shuffle order — the
    // only safe way to string_agg on a cluster.
    Q("a18_string_agg",
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin),
      (s, d) => T.nation(s, d)
        .join(T.region(s, d),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"))
        .orderBy("r_name")),

    // A19 — conditional aggregation (SQL FILTER clause): one scan
    // computing several differently-filtered aggregates — the
    // single-pass alternative to N filtered subqueries.
    Q("a19_filtered_agg",
      Some(s"""SELECT o_orderpriority,
              |  count(*) AS n_orders,
              |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
              |  cast(sum(cast(o_totalprice as decimal(18,2)))
              |       FILTER (WHERE o_orderstatus = 'O') as double) AS open_value
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => T.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          count(when(col("o_orderstatus") === "F", lit(1))).as("n_finished"),
          sum(when(col("o_orderstatus") === "O",
            col("o_totalprice")).cast(DecimalType(18, 2)))
            .cast("double").as("open_value"))
        .orderBy("o_orderpriority")),

    // X1 — lateral explode / UNNEST: split part names into words and
    // count them — the table-generating-function shape (flatMap in
    // relational clothing). Top-k via TakeOrderedAndProject, ties
    // broken by word for determinism.
    Q("x1_explode_words",
      Some("""SELECT word, count(*) AS n
             |FROM (SELECT UNNEST(string_split(p_name, ' ')) AS word FROM part)
             |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin),
      (s, d) => T.part(s, d)
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(20)),

    // X2 — POSITIONAL explode (UNNEST WITH ORDINALITY): token + its
    // 1-based position — the ordinality-preserving UDTF shape every
    // sequence pipeline needs (n-gram positions, chunk offsets).
    // Spark's posexplode is 0-based; +1 aligns with SQL ordinality.
    Q("x2_posexplode",
      Some("""SELECT p_partkey,
             |  generate_subscripts(string_split(p_name, ' '), 1) AS pos,
             |  unnest(string_split(p_name, ' ')) AS word
             |FROM part WHERE p_partkey <= 50
             |ORDER BY p_partkey, pos""".stripMargin),
      (s, d) => T.part(s, d)
        .filter(col("p_partkey") <= 50)
        .select(col("p_partkey"),
          posexplode(split(col("p_name"), " ")).as(Seq("pos0", "word")))
        .select(col("p_partkey"), (col("pos0") + 1).cast("long").as("pos"),
          col("word"))
        .orderBy("p_partkey", "pos")),

    // X4 — UNPIVOT/melt: wide → long reshaping (the feature-table →
    // (entity, metric, value) flattening every ML feature store and
    // reporting layer does). Spark's native unpivot (Dataset.unpivot,
    // an Expand under the hood — one pass, no join/union-of-selects);
    // measure columns pre-cast to one type as both engines require.
    Q("x4_unpivot",
      Some("""SELECT p_partkey, metric, value FROM (
             |  UNPIVOT (SELECT p_partkey,
             |             cast(p_retailprice AS DOUBLE) AS retailprice,
             |             cast(p_size AS DOUBLE) AS size
             |           FROM part WHERE p_partkey <= 50)
             |  ON retailprice, size INTO NAME metric VALUE value)
             |ORDER BY p_partkey, metric""".stripMargin),
      (s, d) => T.part(s, d)
        .filter(col("p_partkey") <= 50)
        .select(col("p_partkey"),
          col("p_retailprice").cast("double").as("retailprice"),
          col("p_size").cast("double").as("size"))
        .unpivot(Array(col("p_partkey")),
          Array(col("retailprice"), col("size")), "metric", "value")
        .orderBy("p_partkey", "metric")),

    // W7 — RANGE-interval window frame: per-customer trailing-30-day
    // spend, framed by VALUE (microseconds of order date), not row
    // count — same-instant peers aggregate identically in any engine.
    // Decimal-exact sum, cast back to double.
    Q("w7_range_frame",
      Some("""SELECT o_custkey, o_orderkey,
             |  cast(sum(cast(o_totalprice as decimal(18,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
             |    RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) as double)
             |    AS trailing_30d
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
      (s, d) => {
        // parquet stores the date as TIMESTAMP_NTZ; the session TZ is
        // pinned UTC everywhere, so the cast is the identity mapping
        val w = Window.partitionBy("o_custkey")
          .orderBy(expr("unix_micros(cast(o_orderdate as timestamp))"))
          .rangeBetween(-2592000000000L, Window.currentRow)
        T.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
              .cast("double").as("trailing_30d"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // A20 — Pearson correlation from EXACT decimal moments: corr() in
    // any engine accumulates doubles in partial-aggregation order, so
    // two engines (or two runs of one cluster) disagree in the low
    // bits. Computing the five moments as exact decimal sums and then
    // doing ONE identical double evaluation of the closed form makes
    // the statistic reproducible; round(6) absorbs the final-operation
    // ulp (C++ may fuse a multiply-add the JVM keeps strict).
    Q("a20_corr_exact",
      Some("""WITH m AS (
             |  SELECT l_returnflag,
             |    count(*) AS n,
             |    cast(sum(cast(l_quantity as decimal(28,6))) as double) AS sx,
             |    cast(sum(cast(l_extendedprice as decimal(28,6))) as double) AS sy,
             |    cast(sum(cast(l_quantity * l_extendedprice as decimal(28,6))) as double) AS sxy,
             |    cast(sum(cast(l_quantity * l_quantity as decimal(28,6))) as double) AS sxx,
             |    cast(sum(cast(l_extendedprice * l_extendedprice as decimal(28,6))) as double) AS syy
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag,
             |  round((cast(n as double) * sxy - sx * sy) /
             |        (sqrt(cast(n as double) * sxx - sx * sx) *
             |         sqrt(cast(n as double) * syy - sy * sy)), 6) AS corr_qty_price
             |FROM m ORDER BY l_returnflag""".stripMargin),
      (s, d) => {
        val dec = DecimalType(28, 6)
        val m = T.lineitem(s, d).groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sx"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(dec))
            .cast("double").as("sxy"),
          sum((col("l_quantity") * col("l_quantity")).cast(dec))
            .cast("double").as("sxx"),
          sum((col("l_extendedprice") * col("l_extendedprice")).cast(dec))
            .cast("double").as("syy"))
        val nd = col("n").cast("double")
        m.select(col("l_returnflag"),
          round((nd * col("sxy") - col("sx") * col("sy")) /
            (sqrt(nd * col("sxx") - col("sx") * col("sx")) *
              sqrt(nd * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_qty_price"))
          .orderBy("l_returnflag")
      }),

    // A22 — skewness from exact decimal moments: same reproducibility
    // argument as a20 — native skewness() accumulates doubles in
    // partial-agg order AND engines disagree on the sample adjustment,
    // so both sides compute the population g1 from exact Σx, Σx², Σx³
    // with one identical double evaluation, round(6) for the final ulp.
    Q("a22_skewness_exact",
      Some("""WITH m AS (
             |  SELECT l_returnflag,
             |    count(*) AS n,
             |    cast(sum(cast(l_quantity as decimal(28,6))) as double) AS s1,
             |    cast(sum(cast(l_quantity * l_quantity as decimal(28,6))) as double) AS s2,
             |    cast(sum(cast(l_quantity * l_quantity * l_quantity as decimal(28,6))) as double) AS s3
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag,
             |  round(((s3 - 3 * (s1 / cast(n as double)) * s2) / cast(n as double)
             |          + 2 * (s1 / cast(n as double)) * (s1 / cast(n as double)) * (s1 / cast(n as double)))
             |        / pow(s2 / cast(n as double)
             |              - (s1 / cast(n as double)) * (s1 / cast(n as double)), 1.5), 6)
             |    AS skew_qty
             |FROM m ORDER BY l_returnflag""".stripMargin),
      (s, d) => {
        val dec = DecimalType(28, 6)
        val q = col("l_quantity")
        val m = T.lineitem(s, d).groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(q.cast(dec)).cast("double").as("s1"),
          sum((q * q).cast(dec)).cast("double").as("s2"),
          sum((q * q * q).cast(dec)).cast("double").as("s3"))
        val nd = col("n").cast("double")
        val mean = col("s1") / nd
        m.select(col("l_returnflag"),
          round(((col("s3") - lit(3) * mean * col("s2")) / nd
            + lit(2) * mean * mean * mean) /
            pow(col("s2") / nd - mean * mean, 1.5), 6).as("skew_qty"))
          .orderBy("l_returnflag")
      }),

    // A21 — several COUNT(DISTINCT …) in one aggregation: Spark plans
    // ONE Expand (each row replicated per distinct clause) feeding a
    // two-level aggregate — the single-pass multi-distinct shape, not
    // N self-joined subqueries.
    Q("a21_multi_distinct",
      Some("""SELECT o_orderpriority,
             |  count(DISTINCT o_custkey) AS n_cust,
             |  count(DISTINCT cast(o_orderdate as date)) AS n_days,
             |  count(*) AS n_orders
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => T.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct(to_date(col("o_orderdate"))).as("n_days"),
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderpriority"), col("n_cust"), col("n_days"),
          col("n_orders"))
        .orderBy("o_orderpriority")),

    // A23 — exact grouped MODE (most frequent value per group) with a
    // deterministic tie-break: highest count wins, ties go to the
    // LARGEST value (max over a (count, value) struct — one partial+
    // final agg over the (group, value) counts, no window, no
    // self-join; both engines' native mode() leaves ties unspecified,
    // so the deterministic rendering is stated explicitly on both
    // sides).
    Q("a23_mode",
      Some("""WITH c AS (SELECT l_returnflag,
             |                  cast(month(cast(l_shipdate AS date)) AS BIGINT) AS ship_month,
             |                  cast(count(*) AS BIGINT) AS n
             |           FROM lineitem GROUP BY 1, 2),
             |r AS (SELECT l_returnflag, ship_month, n,
             |        row_number() OVER (PARTITION BY l_returnflag
             |          ORDER BY n DESC, ship_month DESC) AS rk
             |      FROM c)
             |SELECT l_returnflag, ship_month AS mode_month, n AS n_rows
             |FROM r WHERE rk = 1 ORDER BY l_returnflag""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .groupBy(col("l_returnflag"),
          month(to_date(col("l_shipdate"))).cast("long").as("ship_month"))
        .agg(count(lit(1)).as("n"))
        .groupBy("l_returnflag")
        .agg(max(struct(col("n"), col("ship_month"))).as("top"))
        .select(col("l_returnflag"),
          col("top.ship_month").as("mode_month"),
          col("top.n").as("n_rows"))
        .orderBy("l_returnflag")),

    // J18 — null-safe equality join (IS NOT DISTINCT FROM / <=>): NULL
    // keys MATCH each other instead of silently dropping out; the hash
    // join hashes the null bucket like any other value (no special
    // null-filter pass).
    Q("j18_null_safe_join",
      Some("""WITH a AS (SELECT NULLIF(o_orderstatus, 'O') AS s FROM orders),
             |     b AS (SELECT DISTINCT NULLIF(o_orderstatus, 'O') AS s FROM orders)
             |SELECT b.s AS s, count(*) AS n
             |FROM a JOIN b ON a.s IS NOT DISTINCT FROM b.s
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        val a = T.orders(s, d)
          .select(expr("nullif(o_orderstatus, 'O')").as("s"))
        val b = a.distinct().withColumnRenamed("s", "bs")
        a.join(b, col("s") <=> col("bs"))
          .groupBy("bs").agg(count(lit(1)).as("n"))
          .select(col("bs").as("s"), col("n"))
          .orderBy("s")
      }),

    // O4 — LIMIT/OFFSET pagination over a total order: the page-N
    // fetch. Spark plans a single ordered limit of offset+limit rows
    // and drops the prefix — no global materialization.
    Q("o4_offset",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_orderkey LIMIT 10 OFFSET 100""".stripMargin),
      (s, d) => T.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(100).limit(10)),

    // P9 — LIKE / ILIKE pattern predicates (case-sensitive and -folded
    // wildcard match), pushed as string predicates into the scan.
    Q("p9_like_patterns",
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE p_name ILIKE '%GREEN%' OR p_name LIKE '%blue%'
             |ORDER BY p_partkey""".stripMargin),
      (s, d) => T.part(s, d)
        .filter(expr("p_name ILIKE '%GREEN%' OR p_name LIKE '%blue%'"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")),

    // W8 — forward fill (LOCF): last non-null observation carried
    // forward per key — last_value(IGNORE NULLS) over a growing frame,
    // the imputation companion to the f11 gap-fill spine. NULLIF
    // manufactures the gaps deterministically from real data.
    Q("w8_forward_fill",
      Some("""WITH g AS (
             |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
             |         CASE WHEN l_linenumber % 3 = 0 THEN NULL
             |              ELSE l_quantity END AS gappy
             |  FROM lineitem)
             |SELECT l_suppkey, l_orderkey, l_linenumber,
             |  last_value(gappy IGNORE NULLS) OVER (
             |    PARTITION BY l_suppkey
             |    ORDER BY l_orderkey, l_linenumber, l_quantity
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
             |FROM g ORDER BY l_suppkey, l_orderkey, l_linenumber, filled""".stripMargin),
      (s, d) => {
        // quantity joins the window order: the synthetic lineitem holds
        // duplicate (orderkey, linenumber) rows, and a tied ROWS frame
        // endpoint is engine-nondeterministic otherwise
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T.lineitem(s, d)
          .withColumn("gappy",
            when(col("l_linenumber") % 3 === 0, lit(null))
              .otherwise(col("l_quantity")))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            last(col("gappy"), ignoreNulls = true).over(w).as("filled"))
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "filled")
      }),

    // F13 — calendar month arithmetic: add_months clamps to month end
    // (Jan 31 + 1 → Feb 29) identically in both engines, last_day for
    // the period close — the fiscal-date toolkit.
    Q("f13_month_arith",
      Some("""SELECT o_orderkey,
             |  cast(cast(o_orderdate as date) + INTERVAL 3 MONTH as date) AS due_date,
             |  last_day(cast(o_orderdate as date)) AS month_end
             |FROM orders ORDER BY o_orderkey""".stripMargin),
      (s, d) => T.orders(s, d)
        .select(col("o_orderkey"),
          add_months(to_date(col("o_orderdate")), 3).as("due_date"),
          last_day(to_date(col("o_orderdate"))).as("month_end"))
        .orderBy("o_orderkey")),

    // P10 — CORRELATED scalar subquery: customers above their own
    // nation's average balance (p8 is the uncorrelated form). Catalyst
    // de-correlates this (RewriteCorrelatedScalarSubquery) into one
    // per-nation aggregate + an equi-join — it never executes per-row,
    // so the plan scales exactly like a groupBy + join. The average is
    // the exact-decimal sum cast to double, then one identical double
    // division in both engines (the p8 determinism pattern).
    Q("p10_correlated_subquery",
      Some("""SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
             |WHERE c_acctbal > (
             |  SELECT cast(sum(cast(c2.c_acctbal AS decimal(18,2))) AS double)
             |         / count(*)
             |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
             |ORDER BY c_custkey""".stripMargin),
      (s, d) => {
        T.customer(s, d).createOrReplaceTempView("p10_customer")
        s.sql("""SELECT c_custkey, c_nationkey, c_acctbal FROM p10_customer c
                |WHERE c_acctbal > (
                |  SELECT cast(sum(cast(c2.c_acctbal AS decimal(18,2))) AS double)
                |         / count(*)
                |  FROM p10_customer c2 WHERE c2.c_nationkey = c.c_nationkey)
                |ORDER BY c_custkey""".stripMargin)
      }),

    // U4/U5 — multiset (ALL) set operations: bag semantics keep
    // duplicate counts — EXCEPT ALL subtracts multiplicities, INTERSECT
    // ALL keeps the minimum. Spark plans both as per-side count
    // aggregates + a generate (one shuffle on the value, no join
    // explosion) — the same multiset-arithmetic shape DuckDB uses, so
    // the row bags match exactly.
    Q("u4_except_all",
      Some("""SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 44
             |EXCEPT ALL SELECT p_partkey FROM part ORDER BY k""".stripMargin),
      (s, d) => T.lineitem(s, d).filter(col("l_quantity") > 44)
        .select(col("l_partkey").as("k"))
        .exceptAll(T.part(s, d).select(col("p_partkey").as("k")))
        .orderBy("k")),

    Q("u5_intersect_all",
      Some("""SELECT c_nationkey AS k FROM customer
             |INTERSECT ALL SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin),
      (s, d) => T.customer(s, d).select(col("c_nationkey").as("k"))
        .intersectAll(T.supplier(s, d).select(col("s_nationkey").as("k")))
        .orderBy("k")),

    // P11 — correlated EXISTS: the semi-join predicate form (p6 is the
    // NOT-IN anti-join, p10 the correlated scalar). Catalyst rewrites
    // EXISTS to a LEFT SEMI hash join on the correlation key — the
    // subquery never executes per-row, so the plan scales exactly like
    // a filtered join (plan-asserted in PlanQualitySpec).
    Q("p11_exists_subquery",
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin),
      (s, d) => {
        T.customer(s, d).createOrReplaceTempView("p11_customer")
        T.orders(s, d).createOrReplaceTempView("p11_orders")
        s.sql("""SELECT c_custkey, c_name FROM p11_customer c
                |WHERE EXISTS (SELECT 1 FROM p11_orders o
                |              WHERE o.o_custkey = c.c_custkey
                |                AND o.o_totalprice > 300000)
                |ORDER BY c_custkey""".stripMargin)
      }),

    // A24 — approx_percentile: the mergeable-sketch quantile tier (the
    // a13 pattern: the oracle checks the exact value plus a literal
    // bound flag, since the sketch itself is engine-specific). At
    // 100 TB exact percentiles shuffle every value to sort; the
    // KLL-style sketch is one map-side pass + tiny merges, so it is
    // the only per-group quantile that scales — this entry pins its
    // error against the exact answer.
    Q("a24_approx_percentile",
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
             |  1 AS approx_ok
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, d) => T.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6).as("exact_p50"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_p50"))
        .select(col("l_returnflag"), col("exact_p50"),
          when(abs(col("approx_p50") - col("exact_p50")) <=
            abs(col("exact_p50")) * 0.05, lit(1)).otherwise(lit(0))
            .as("approx_ok"))
        .orderBy("l_returnflag")),

    // X3 — one-pass column profiling: the pre-training data audit
    // (null rates, distinct counts, numeric ranges) as ONE aggregate
    // over the table, unpivoted to a row per column. Everything is a
    // map-side-partial aggregate — profiling 100 TB costs one scan, no
    // matter how many columns ride in the same pass.
    Q("x3_column_profile",
      Some("""SELECT col_name, n_null, n_distinct, round(mn, 6) AS vmin,
             |       round(mx, 6) AS vmax
             |FROM (
             |  SELECT 'o_totalprice' AS col_name,
             |         cast(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |         cast(count(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
             |         min(o_totalprice) AS mn, max(o_totalprice) AS mx
             |  FROM orders
             |  UNION ALL
             |  SELECT 'o_custkey',
             |         cast(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |         cast(count(DISTINCT o_custkey) AS BIGINT),
             |         cast(min(o_custkey) AS double),
             |         cast(max(o_custkey) AS double)
             |  FROM orders)
             |ORDER BY col_name""".stripMargin),
      (s, d) => {
        val o = T.orders(s, d)
        // ONE wide aggregate row, then stack() unpivots it — a single
        // scan regardless of how many columns are profiled
        val wide = o.agg(
          sum(when(col("o_totalprice").isNull, 1).otherwise(0))
            .cast("long").as("tp_null"),
          count_distinct(col("o_totalprice")).as("tp_distinct"),
          min(col("o_totalprice")).as("tp_min"),
          max(col("o_totalprice")).as("tp_max"),
          sum(when(col("o_custkey").isNull, 1).otherwise(0))
            .cast("long").as("ck_null"),
          count_distinct(col("o_custkey")).as("ck_distinct"),
          min(col("o_custkey")).cast("double").as("ck_min"),
          max(col("o_custkey")).cast("double").as("ck_max"))
        wide.select(expr(
          """stack(2,
            |  'o_totalprice', tp_null, tp_distinct, tp_min, tp_max,
            |  'o_custkey', ck_null, ck_distinct, ck_min, ck_max)
            |  AS (col_name, n_null, n_distinct, mn, mx)""".stripMargin))
          .select(col("col_name"), col("n_null"), col("n_distinct"),
            round(col("mn"), 6).as("vmin"), round(col("mx"), 6).as("vmax"))
          .orderBy("col_name")
      }),

    // P12 — IN subquery: the membership form completing the subquery
    // triple (p8/p10 scalar, p11 EXISTS, p6 the NOT-IN anti). Catalyst
    // rewrites it to the same LEFT SEMI join as EXISTS — the subquery
    // materializes once, never per-row.
    Q("p12_in_subquery",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_custkey IN (SELECT c_custkey FROM customer
             |                    WHERE c_mktsegment = 'BUILDING')
             |ORDER BY o_orderkey""".stripMargin),
      (s, d) => {
        T.orders(s, d).createOrReplaceTempView("p12_orders")
        T.customer(s, d).createOrReplaceTempView("p12_customer")
        s.sql("""SELECT o_orderkey, o_totalprice FROM p12_orders
                |WHERE o_custkey IN (SELECT c_custkey FROM p12_customer
                |                    WHERE c_mktsegment = 'BUILDING')
                |ORDER BY o_orderkey""".stripMargin)
      }),

    // W9 — FIRST_VALUE/LAST_VALUE over an explicit full-partition
    // frame. The SQL default frame ends at CURRENT ROW, which makes
    // last_value degenerate to the current row — both engines require
    // UNBOUNDED FOLLOWING spelled out for the real per-group bookends.
    // (l_orderkey, l_linenumber) is NOT unique in this data, so the
    // projected column itself joins the sort key: the bookend VALUE is
    // then deterministic in both engines no matter how deeper ties
    // break.
    Q("w9_first_last",
      Some("""SELECT l_orderkey, l_linenumber,
             |  first_value(l_extendedprice) OVER w AS first_price,
             |  last_value(l_extendedprice) OVER w AS last_price
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_orderkey
             |  ORDER BY l_linenumber, l_extendedprice
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY l_orderkey, l_linenumber, first_price""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("l_orderkey")
          .orderBy("l_linenumber", "l_extendedprice")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        T.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          first(col("l_extendedprice")).over(w).as("first_price"),
          last(col("l_extendedprice")).over(w).as("last_price"))
          .orderBy("l_orderkey", "l_linenumber", "first_price")
      })
  )
}
