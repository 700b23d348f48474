package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.olist.Schemas

/** The Olist source files `inputs.py` writes: the eight tables the build
  * reads under `src/<table>/`, and the days after the build's cutoff
  * staged under `stage/{orders,items,late_items}/d=<day>/`. */
object OlistData {
  val schemas: Map[String, StructType] = Map(
    "orders" -> Schemas.orders, "order_items" -> Schemas.orderItems,
    "products" -> Schemas.products, "category" -> Schemas.category,
    "sellers" -> Schemas.sellers, "geolocation" -> Schemas.geolocation,
    "leads" -> Schemas.leads, "closed_deals" -> Schemas.closedDeals)

  /** The tables under `src`, read back from their files in their declared
    * schemas (the file listing is taken now: files landed later need a
    * fresh read). */
  def read(spark: SparkSession, src: Path): Map[String, DataFrame] =
    schemas.map { case (name, sc) =>
      name -> spark.read.schema(sc).parquet(src.resolve(name).toString)
    }

  /** Lands staged day `d` in the source files: the day's orders and
    * on-time items, and the late items of the day before. Every staged
    * day has orders; a day may have no late items (a quarter of a dozen
    * or so items are late, drawn per item), and then none are staged. */
  def land(input: Path, d: Int): Unit = {
    def move(kind: String, day: Int, table: String): Unit = {
      val from = input.resolve(s"stage/$kind/d=$day")
      if (Files.isDirectory(from)) Files.list(from).iterator().asScala.foreach { f =>
        Files.copy(f, input.resolve(s"src/$table/$kind-$day-${f.getFileName}"))
      }
    }
    require(Files.isDirectory(input.resolve(s"stage/orders/d=$d")), s"no staged orders for day $d")
    move("orders", d, "orders")
    move("items", d, "order_items")
    if (d > 0) move("late_items", d - 1, "order_items")
  }
}
