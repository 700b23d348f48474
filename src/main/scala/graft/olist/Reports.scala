package graft.olist

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Normalize.norm

/** The six benchmark/report queries (reference: Olist DW.sql:216-279) —
  * each question answered twice: from the OLTP base tables (6-way join)
  * and from the star (fact + broadcast dim probes). The structural
  * claim to verify: both return identical answers, the DW shape with a
  * strictly cheaper plan (3 broadcast probes vs 6 joins).
  *
  * Top-k plans compile to TakeOrderedAndProject (no global sort).
  */
object Reports {

  /** OLTP top-5 sellers by units sold in `yr` (Olist DW.sql:217-226). */
  def topSellersByUnitsOltp(orders: DataFrame, orderItems: DataFrame,
      products: DataFrame, category: DataFrame, sellers: DataFrame,
      yr: Int): DataFrame =
    orderItems
      .join(orders.select("order_id", "order_purchase_timestamp", "order_status"),
        Seq("order_id"))
      .filter(norm(col("order_status")) =!= "canceled")
      .filter(year(col("order_purchase_timestamp")) === yr)
      .join(broadcast(products.select("product_id", "product_category_name")),
        Seq("product_id"))
      .join(broadcast(category),
        norm(products("product_category_name")) === norm(category("product_category_name")))
      .join(broadcast(sellers.select("seller_id", "seller_state")), Seq("seller_id"))
      .groupBy(col("seller_id"), col("seller_state"))
      .agg(count(col("product_category_name_english")).as("total_units"))
      .orderBy(col("total_units").desc, col("seller_id").asc)
      .limit(5)

  /** DW twin (Olist DW.sql:230-237): fact + time probe. */
  def topSellersByUnitsDw(ordersFact: DataFrame, timeDim: DataFrame,
      sellers: DataFrame, yr: Int): DataFrame =
    ordersFact
      .join(broadcast(timeDim.filter(col("year") === yr).select("date_key")),
        Seq("date_key"))
      .join(broadcast(sellers.select("seller_id", "seller_state")), Seq("seller_id"))
      .groupBy(col("seller_id"), col("seller_state"))
      .agg(sum("units_sold").cast("long").as("total_units"))
      .orderBy(col("total_units").desc, col("seller_id").asc)
      .limit(5)

  /** [[topSellersByUnitsDw]] over a stats-pruned warehouse scan: the
    * fact is clustered by date_key, so the manifest's per-file min/max
    * lets [[Warehouse.scan]] drop every fact file outside the year
    * BEFORE reading — at 100 TB partition pruning picks the `year=`
    * directories and this layer picks the files inside them. Identical
    * rows to the unpruned report (residual filter keeps scans exact);
    * pair with [[Warehouse.scanFileCounts]] for the files-read/total
    * observability (the benchmark's `warehouse.files_read_share`). */
  def yearRange(yr: Int): Warehouse.ColRange =
    Warehouse.ColRange("date_key", Some(yr * 10000 + 101), Some(yr * 10000 + 1231))

  def topSellersByUnitsDwPruned(wh: Warehouse, sellers: DataFrame,
      yr: Int): DataFrame =
    topSellersByUnitsDw(wh.scan("orders_fact", yearRange(yr)),
      wh.table("time_period"), sellers, yr)

  /** OLTP top-5 sellers by revenue (Olist DW.sql:241-250). */
  def topSellersByRevenueOltp(orders: DataFrame, orderItems: DataFrame,
      sellers: DataFrame, yr: Int): DataFrame =
    orderItems
      .join(orders.select("order_id", "order_purchase_timestamp", "order_status"),
        Seq("order_id"))
      .filter(norm(col("order_status")) =!= "canceled")
      .filter(year(col("order_purchase_timestamp")) === yr)
      .join(broadcast(sellers.select("seller_id", "seller_state")), Seq("seller_id"))
      .groupBy(col("seller_id"), col("seller_state"))
      .agg(round(graft.Num.dsum(col("price")), 2).as("total_revenue"))
      .orderBy(col("total_revenue").desc, col("seller_id").asc)
      .limit(5)

  /** DW twin (Olist DW.sql:254-261). */
  def topSellersByRevenueDw(ordersFact: DataFrame, timeDim: DataFrame,
      sellers: DataFrame, yr: Int): DataFrame =
    ordersFact
      .join(broadcast(timeDim.filter(col("year") === yr).select("date_key")),
        Seq("date_key"))
      .join(broadcast(sellers.select("seller_id", "seller_state")), Seq("seller_id"))
      .groupBy(col("seller_id"), col("seller_state"))
      .agg(round(graft.Num.dsum(col("sales_total")), 2).as("total_revenue"))
      .orderBy(col("total_revenue").desc, col("seller_id").asc)
      .limit(5)

  /** OLTP top-5 fastest marketing conversions (Olist DW.sql:266-271):
    * bottom-k of truncated avg conversion hours by origin × year. */
  def fastestConversionsOltp(leads: DataFrame, closedDeals: DataFrame,
      sellers: DataFrame, orderItems: DataFrame): DataFrame =
    leads.filter(col("origin").isNotNull)
      .join(closedDeals, Seq("mql_id"))
      .join(sellers.select("seller_id"), Seq("seller_id"))
      .join(orderItems.select("seller_id"), Seq("seller_id"))
      .withColumn("hrs", Facts.datediffHours(col("first_contact_date"), col("won_date")))
      .groupBy(col("origin"), year(col("won_date")).as("year"))
      .agg((sum(col("hrs").cast("long")) / count(col("hrs"))).cast("long")
        .as("avg_hrs_convert"))
      .filter(col("avg_hrs_convert") >= 1)  // mirrors the fact-side delete
      .orderBy(col("avg_hrs_convert").asc, col("origin").asc, col("year").asc)
      .limit(5)

  /** DW twin (Olist DW.sql:275-279): bottom-k over the conversions fact.
    * The reference orders by a column outside the select/GROUP BY — T-SQL
    * resolves it as MIN over the group (SURVEY O2); we make that
    * explicit. */
  def fastestConversionsDw(conversionsFact: DataFrame, originDim: DataFrame,
      timeDim: DataFrame): DataFrame =
    conversionsFact
      .join(broadcast(originDim), Seq("origin_key"))
      .join(broadcast(timeDim.select("date_key", "year")), Seq("date_key"))
      .groupBy(col("origin"), col("year"))
      .agg(min("avg_hrs_convert").as("avg_hrs_convert"))
      .orderBy(col("avg_hrs_convert").asc, col("origin").asc, col("year").asc)
      .limit(5)
}
