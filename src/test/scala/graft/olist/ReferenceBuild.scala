package graft.olist

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The warehouse build in the reference's statement order
  * (Olist DW.sql:39-184), one save after another on the calling
  * thread — the parity oracle ONLY: WarehouseBuildSpec asserts that
  * `Warehouse.build`, which runs the same statements as their
  * dependency graph, yields the same rows and surrogate keys. */
object ReferenceBuild {
  def build(wh: Warehouse, src: Map[String, DataFrame]): Unit = {
    import wh.{save, append, table, spark}
    val time = TimeDim.generate(spark, "2016-09-01", "2019-12-31")
    save("time_period", time)
    save("product", Dimensions.product(src("category")))
    save("location", Dimensions.location(src("geolocation")))
    save("origin", Dimensions.origin(src("leads")))
    save("lead_type", Dimensions.leadType(src("closed_deals")))
    save("business_type", Dimensions.businessType(src("closed_deals")))
    // dim append: new business segments not already in product dim
    // (Olist DW.sql:71-75 — NOT IN + INSERT..SELECT as anti-join+append)
    append("product",
      Dimensions.newSegments(src("closed_deals"), table("product")))
    save("orders_fact",
      Facts.ordersFact(src("orders"), src("order_items"), src("products"),
        src("category"), src("sellers"), table("product"), table("location"),
        table("time_period"), cutoff = "2019-01-01"),
      partitionBy = Seq("year"), clusterBy = Seq("date_key"))
    val conv = Facts.conversionsFact(src("leads"), src("closed_deals"),
      src("sellers"), src("order_items"), table("origin"),
      table("lead_type"), table("business_type"), table("product"),
      table("time_period"))
    // S8: DELETE WHERE avg_hrs_convert < 1 (Olist DW.sql:183-184) as
    // anti-filter rewrite
    save("conversions_fact", conv.filter(col("avg_hrs_convert") >= 1))
  }
}
