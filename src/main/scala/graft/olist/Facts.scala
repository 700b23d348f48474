package graft.olist

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Normalize.norm

/** Fact builds (reference: Olist DW.sql:143-180).
  *
  * Scale shape: the 7-way orders-fact join keeps the two large inputs
  * (orders, order_items) as the shuffle spine — one exchange on
  * order_id — while every dimension side (products→category→product
  * dim, sellers→location, time) is broadcast. The aggregate's partial
  * phase runs map-side. At 100 TB nothing here materializes on the
  * driver and no dimension exceeds broadcast size.
  */
object Facts {

  /** T-SQL DATEDIFF(HOUR, a, b) counts hour-BOUNDARY crossings, not
    * elapsed hours (SURVEY F3): truncate both ends to the hour, then
    * diff. Exact integer semantics. */
  def datediffHours(a: Column, b: Column): Column =
    ((unix_timestamp(date_trunc("hour", b)) -
      unix_timestamp(date_trunc("hour", a))) / 3600L).cast("int")

  /** orders fact — grain: date × seller-location × product-category ×
    * seller (Olist DW.sql:143-156). */
  def ordersFact(orders: DataFrame, orderItems: DataFrame,
      products: DataFrame, category: DataFrame, sellers: DataFrame,
      productDim: DataFrame, locationDim: DataFrame, timeDim: DataFrame,
      cutoff: String, since: Option[String] = None): DataFrame = {

    var o = orders
      .filter(norm(col("order_status")) =!= "canceled")          // P2
      .filter(col("order_purchase_timestamp") < lit(cutoff).cast("timestamp")) // P5
    since.foreach(s0 =>
      o = o.filter(col("order_purchase_timestamp") >= lit(s0).cast("timestamp")))

    val joined = orderItems
      .join(o.select("order_id", "order_purchase_timestamp"), Seq("order_id")) // J1
      .join(broadcast(products.select("product_id", "product_category_name")),
        Seq("product_id"))                                       // J2
      .join(broadcast(category), norm(products("product_category_name")) ===
        norm(category("product_category_name")))                 // J3 (CI collation)
      .join(broadcast(productDim),
        norm(category("product_category_name_english")) === norm(productDim("product"))) // J4
      .join(broadcast(sellers.select("seller_id", "seller_zip_code_prefix", "seller_city")),
        Seq("seller_id"))                                        // J5
      .join(broadcast(locationDim),
        sellers("seller_zip_code_prefix") === locationDim("zip") &&
          norm(sellers("seller_city")) === locationDim("city"))  // J7 composite key
      .join(broadcast(timeDim.select(col("date_key"), col("date"), col("year"))),
        to_date(col("order_purchase_timestamp")) === col("date")) // J6 as date equi-join

    joined.groupBy(col("date_key"), col("year"), col("location_key"),
        col("product_key"), col("seller_id"))                    // A6
      .agg(
        // exact decimal sum → double: report-pair equality must not
        // depend on double-add associativity across plan shapes
        graft.Num.dsum(col("price")).as("sales_total"),          // A1
        count("product_id").as("units_sold"))                    // A2
  }

  /** conversions fact — grain: date × business-segment × origin ×
    * lead-type × business-type (Olist DW.sql:165-180). The join through
    * order_items (J9) fans out to one row per item sold, weighting the
    * average by sales volume — faithful to the reference's shape.
    * AVG truncates like T-SQL integer AVG (SURVEY A3). */
  def conversionsFact(leads: DataFrame, closedDeals: DataFrame,
      sellers: DataFrame, orderItems: DataFrame, originDim: DataFrame,
      leadTypeDim: DataFrame, businessTypeDim: DataFrame,
      productDim: DataFrame, timeDim: DataFrame): DataFrame = {

    val joined = leads
      .filter(col("origin").isNotNull)                           // P3
      .join(closedDeals, Seq("mql_id"))                          // J8
      .join(sellers.select(col("seller_id")), Seq("seller_id"))  // J9: converting sellers
      .join(orderItems.select(col("seller_id")), Seq("seller_id")) // ... that actually sold
      .join(broadcast(originDim), Seq("origin"))                 // J11
      .join(broadcast(leadTypeDim), Seq("lead_type"))
      .join(broadcast(businessTypeDim), Seq("business_type"))
      .join(broadcast(productDim),
        norm(col("business_segment")) === norm(productDim("product")))
      .join(broadcast(timeDim.select(col("date_key"), col("date"))),
        to_date(col("won_date")) === col("date"))                // J6

    joined
      .withColumn("hrs", datediffHours(col("first_contact_date"), col("won_date")))
      .groupBy(col("date_key"), col("product_key").as("business_segment_key"),
        col("origin_key"), col("lead_type_key"), col("business_type_key"))
      .agg((sum(col("hrs").cast("long")) / count(col("hrs")))
        .cast("long").as("avg_hrs_convert")) // T-SQL int AVG truncates toward zero
  }
}
