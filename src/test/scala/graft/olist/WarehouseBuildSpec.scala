package graft.olist

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.ListenerBusDrain
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** `Warehouse.build` runs the reference build as its dependency graph:
  * the six dimensions at once, then both facts. It must give the
  * statement-order build's tables, keep the caller's job group on every
  * job, run on the caller's thread inside a transaction, and leave no
  * thread or job behind when a branch fails. */
class WarehouseBuildSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = SparkTestSession.spark
  private lazy val src = OlistFixtures.sources(spark)

  private val tables = Seq("time_period", "product", "location", "origin",
    "lead_type", "business_type", "orders_fact", "conversions_fact")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def buildThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith("warehouse-build-") && t.isAlive)

  /** A graph build under a fresh job group, with the group id each of
    * its jobs carried. */
  private lazy val grouped: (Warehouse, String, Seq[String]) = {
    val sc = spark.sparkContext
    val wh = new Warehouse(spark, tmp("wh_graph"))
    val group = s"build-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    // a build before the group is set: a pool that outlived one call
    // would run the grouped build on threads made here, without it
    intercept[NoSuchElementException](
      new Warehouse(spark, tmp("wh_warm")).build(Map.empty))
    ListenerBusDrain(spark) // no earlier job is still in flight
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "warehouse build")
    try wh.build(src)
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(spark)
      sc.removeSparkListener(listener)
    }
    (wh, group, seen.asScala.toSeq)
  }

  test("graph build ≡ statement-order build: every table's rows and surrogate keys, product saved then appended") {
    val wh = grouped._1
    val ref = new Warehouse(spark, tmp("wh_ref"))
    ReferenceBuild.build(ref, src)
    def rows(w: Warehouse, t: String): Seq[String] =
      w.table(t).collect().map(_.toString).toSeq.sorted
    tables.foreach { t =>
      assert(rows(wh, t) == rows(ref, t), s"$t differs from the reference build")
      assert(rows(wh, t).nonEmpty, s"$t is empty")
    }
    Seq(wh, ref).foreach(w =>
      assert(w.history("product").map(_.op) == Seq("save", "append")))
    // the appended segment keys continue the saved ones
    assert(rows(wh, "product").exists(_.contains("car_accessories")))
  }

  test("every build job carries the caller's job group, so cancelJobGroup reaches a build") {
    val (_, group, jobs) = grouped
    assert(jobs.nonEmpty)
    assert(jobs.forall(_ == group),
      s"jobs outside group $group: ${jobs.filterNot(_ == group).distinct}")
  }

  test("build inside a transaction over its tables: finishes, lands all eight heads at the commit") {
    implicit val signaler: Signaler = ThreadSignaler
    val dir = tmp("wh_graph_txn")
    val wh = new Warehouse(spark, dir)
    val reader = new Warehouse(spark, dir)
    failAfter(Span(300, Seconds)) {
      wh.transaction(tables) {
        wh.build(src)
        tables.foreach { t =>
          assert(wh.hasTable(t), s"$t: the transaction must read its own write")
          assert(!reader.hasTable(t), s"$t visible before the transaction committed")
        }
      }
    }
    tables.foreach { t =>
      assert(reader.hasTable(t), s"$t not visible after the commit")
      assert(reader.table(t).count() == wh.table(t).count())
    }
    assert(wh.history("product").map(_.op) == Seq("save", "append"))
  }

  test("a failing branch: its own exception, no fact on a failed input, no job or thread left") {
    val wh = new Warehouse(spark, tmp("wh_graph_fail"))
    val e = intercept[NoSuchElementException](wh.build(src - "geolocation"))
    assert(e.getMessage.contains("geolocation"), e.getMessage)
    assert(!wh.hasTable("orders_fact"), "orders_fact built on a failed location")
    ListenerBusDrain(spark) // job ends reach the status store
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(buildThreads.isEmpty, s"build threads alive: ${buildThreads.map(_.getName)}")
  }
}
