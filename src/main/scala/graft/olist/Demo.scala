package graft.olist

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end library drive: CSV sources with declared schemas (S1) →
  * warehouse build → report pairs → incremental load run twice →
  * streaming windowed agg. Prints a compact summary; used as the
  * round's runnable verification of the Olist engine surface.
  *
  * Usage: runMain graft.olist.Demo <csvDir> [eventsSfDir]
  * (csvDir is created+populated with tiny sample CSVs if empty)
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val csvDir = if (args.nonEmpty) args(0) else "/tmp/olist_csv"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Sessions.local("4", extensions = false)
    spark.sparkContext.setLogLevel("ERROR")

    writeSampleCsvs(csvDir)

    // S1 — CSV bulk import with declared schemas, never inferred
    def csv(name: String, schema: org.apache.spark.sql.types.StructType) =
      graft.Sources.csv(spark, s"$csvDir/$name.csv", schema)
    val src = Map(
      "orders" -> csv("orders", Schemas.orders),
      "order_items" -> csv("order_items", Schemas.orderItems),
      "products" -> csv("products", Schemas.products),
      "category" -> csv("category", Schemas.category),
      "sellers" -> csv("sellers", Schemas.sellers),
      "geolocation" -> csv("geolocation", Schemas.geolocation),
      "leads" -> csv("leads", Schemas.leads),
      "closed_deals" -> csv("closed_deals", Schemas.closedDeals))

    val whDir = java.nio.file.Files.createTempDirectory("olist_demo_wh").toString
    val wh = new Warehouse(spark, whDir)
    wh.build(src)
    println(s"[demo] dims: product=${wh.table("product").count()} " +
      s"location=${wh.table("location").count()} origin=${wh.table("origin").count()}")
    println(s"[demo] facts: orders_fact=${wh.table("orders_fact").count()} " +
      s"conversions_fact=${wh.table("conversions_fact").count()}")

    val unitsOltp = Reports.topSellersByUnitsOltp(src("orders"), src("order_items"),
      src("products"), src("category"), src("sellers"), 2018).collect().toSeq
    val unitsDw = Reports.topSellersByUnitsDw(wh.table("orders_fact"),
      wh.table("time_period"), src("sellers"), 2018).collect().toSeq
    println(s"[demo] units report OLTP==DW: ${unitsOltp == unitsDw}  $unitsDw")

    val first = IncrementalLoad.run(wh, src, "2019-01-01", "2019-02-01").count()
    val second = IncrementalLoad.run(wh, src, "2019-01-01", "2019-02-01").count()
    println(s"[demo] incremental: first=$first second(no-op)=$second")

    val q = graft.streaming.EventStream.runAvailableNow(spark, sfDir, "demo_stream")
    q.awaitTermination(60000)
    println(s"[demo] streaming windowed agg rows=${spark.table("demo_stream").count()}")
    spark.stop()
  }

  /** Tiny sample CSVs (a trimmed copy of the FIXTURES.md scenario —
    * header-row leak, canceled order, fake 2019 rows included). */
  private def writeSampleCsvs(dir: String): Unit = {
    val d = new java.io.File(dir); d.mkdirs()
    // never clobber existing user data — populate only an empty dir
    if (d.listFiles != null && d.listFiles.nonEmpty) return
    def w(name: String, content: String): Unit = {
      val f = new java.io.PrintWriter(s"$dir/$name.csv"); f.write(content.trim + "\n"); f.close()
    }
    w("category",
      """product_category_name,product_category_name_english
        |cama_mesa_banho,bed_bath_table
        |beleza_saude,health_beauty
        |Product_category_name_english,Product_category_name_english""".stripMargin)
    w("products",
      """product_id,product_category_name,product_name_lenght,product_description_lenght,product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm
        |p1,cama_mesa_banho,40,200,2,500,30,10,20
        |p2,beleza_saude,35,150,1,200,15,5,10""".stripMargin)
    w("sellers",
      """seller_id,seller_zip_code_prefix,seller_city,seller_state
        |s1,1001,Sao Paulo,SP
        |s2,2002,rio de janeiro,RJ""".stripMargin)
    w("geolocation",
      """geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state
        |1001,-23.55,-46.63,sao paulo,sp
        |1001,-23.56,-46.64,sao paulo,sp
        |2002,-22.90,-43.20,rio de janeiro,rj""".stripMargin)
    w("orders",
      """order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at,order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date
        |o1,c1,delivered,2018-03-01 10:00:00,2018-03-01 11:00:00,2018-03-02 10:00:00,2018-03-05 10:00:00,2018-03-10 10:00:00
        |o2,c2,canceled,2018-04-01 12:00:00,2018-04-01 12:30:00,2018-04-02 12:00:00,2018-04-05 12:00:00,2018-04-10 12:00:00
        |f1,c1,delivered,2019-01-01 12:30:00,2019-01-01 13:00:00,2019-01-02 12:00:00,2019-01-05 12:00:00,2019-01-10 12:00:00""".stripMargin)
    w("order_items",
      """order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value
        |o1,1,p1,s1,2018-03-03 10:00:00,120.0,15.0
        |o2,1,p2,s2,2018-04-03 12:00:00,99.9,12.0
        |f1,1,p1,s1,2019-01-05 12:30:00,58.9,10.0""".stripMargin)
    w("leads",
      """mql_id,first_contact_date,landing_page_id,origin
        |m1,2018-01-01 08:00:00,lp1,organic_search""".stripMargin)
    w("closed_deals",
      """mql_id,seller_id,sdr_id,sr_id,won_date,business_segment,lead_type,lead_behaviour_profile,has_company,has_gtin,average_stock,business_type,declared_product_catalog_size,declared_monthly_revenue
        |m1,s1,sd1,sr1,2018-01-01 13:00:00,bed_bath_table,online_medium,cat,true,true,low,reseller,100.0,5000.0""".stripMargin)
  }
}
