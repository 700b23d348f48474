package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark process: `Main <workload> <seconds> <trace> <inputDir> <workDir> <outFile>`.
  *
  * Starts the session over the inputs `run.py` generated, times the build
  * of the stored structures the workload serves from, runs warm-up ops,
  * then runs whole ops in a closed loop (one client) for `seconds`.
  * Everything it measures, and every answer the checks need, goes to
  * `outFile` as JSON; `run.py` checks the answers apart from the program
  * and prints the result line.
  */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      input: Path, work: Path, out: Path)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6,
      "usage: Main <workload> <seconds> <trace 0|1> <inputDir> <workDir> <outFile>")
    val a = Args(argv(0), argv(1).toDouble, argv(2) == "1",
      Paths.get(argv(3)), Paths.get(argv(4)), Paths.get(argv(5)))
    val spark = session(a.work)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val out = a.workload match {
      case "olist_daily" => OlistDaily.run(spark, a, tracer)
      case "retrieval_serving" => RetrievalServing.run(spark, a, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    Files.writeString(a.out, Json.render(out))
    spark.stop()
  }

  /** Task slots plus the driver thread stay within the cores the process
    * may use, and shuffle partitions equal the task slots. */
  val slots: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

  private def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.default.parallelism", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      // bounded status history, so live heap reflects the program's own
      // state rather than how many jobs the run happened to finish
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A progress line on stderr (kept in the run's JVM log). */
  def log(msg: String): Unit = System.err.println(f"perfbench ${sinceJvmStart()}%.1f s: $msg")

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def timedMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-op latencies and wall windows (epoch ms) of a closed loop, with
    * process CPU, GC time and allocation over the loop. Work done between
    * ops is left out of all of them. */
  final class LoopStats {
    val latMs = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    val failedOps = mutable.ArrayBuffer.empty[Int]
    var wallS = 0.0
    var cpuMs = 0.0
    var gcMs = 0.0
    var allocBytes = 0.0
    def ops: Int = latMs.size
  }

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMsNow(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  private def allocNow(): Double =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0)
      .map(_.toDouble).sum

  /** Runs `warmups` untimed ops, then whole ops until `seconds` of op time
    * have passed. `op(i)` gets the op's index, counting the warm-ups; an
    * op that throws is counted as failed and the loop goes on.
    * `between(i)` runs before op `i`, outside every figure, and so do the
    * host-speed samples (`Calibration`) taken before each op and after the
    * last. */
  def closedLoop(seconds: Double, warmups: Int,
      between: Int => Unit = _ => ())(op: Int => Unit): LoopStats = {
    val warm = (0 until warmups).map { i => between(i); timedMs(op(i))._2 }
    log(s"$warmups warm-up ops done: " + warm.map(l => f"$l%.0f").mkString(" ") + " ms")
    val st = new LoopStats
    Calibration.warm()
    System.gc()
    var i = warmups
    var betweenNs = 0L
    var betweenCpuNs = 0L
    var betweenGcMs = 0.0
    var betweenAlloc = 0.0
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMsNow()
    val alloc0 = allocNow()
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 - betweenNs < seconds * 1e9) {
      val (b0, bc0, bg0, ba0) = (System.nanoTime(), os.getProcessCpuTime, gcMsNow(), allocNow())
      Calibration.sample(Calibration.roundsPerOp)
      between(i)
      betweenNs += System.nanoTime() - b0
      betweenCpuNs += os.getProcessCpuTime - bc0
      betweenGcMs += gcMsNow() - bg0
      betweenAlloc += allocNow() - ba0
      val w0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      try op(i) catch {
        case e: Exception =>
          System.err.println(s"op $i failed: $e")
          st.failedOps += i
      }
      st.latMs += (System.nanoTime() - s0) / 1e6
      st.windows += ((w0, System.currentTimeMillis()))
      i += 1
    }
    Calibration.sample(Calibration.roundsPerOp)
    log(s"${st.ops} timed ops done: " + st.latMs.map(l => f"$l%.0f").mkString(" ") + " ms")
    log(f"calibration round: ${median(Calibration.wallMs.toSeq)}%.2f ms wall, " +
      f"${median(Calibration.cpuMs.toSeq)}%.2f ms CPU (${Calibration.wallMs.size} rounds)")
    st.wallS = (System.nanoTime() - t0 - betweenNs) / 1e9
    st.cpuMs = (os.getProcessCpuTime - cpu0 - betweenCpuNs) / 1e6
    st.gcMs = gcMsNow() - gc0 - betweenGcMs
    st.allocBytes = allocNow() - alloc0 - betweenAlloc
    st
  }

  /** Heap in use after full collections, in MB. Spark's context cleaner
    * drops blocks and broadcasts of unreachable plans asynchronously after
    * a collection, so it gets time before the last one. */
  def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes on disk of the current snapshots of `tables`, divided by the
    * rows they hold (from the tables' manifests). */
  def storedBytesPerRow(wh: graft.olist.Warehouse, tables: Seq[String]): Double = {
    val bytes = tables.map { t =>
      wh.table(t).inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    }.sum
    val rows = tables.map(t => wh.countRows(t).getOrElse(
      throw new IllegalStateException(s"$t has no row counts in its manifest"))).sum
    bytes.toDouble / rows
  }

  /** SHA-256 of a file, hex. */
  def sha256(p: Path): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map(b => f"${b & 0xff}%02x").mkString

  /** The end-to-end figures every workload reports, as measured. `readyS`
    * is the seconds from JVM start until the workload is ready to build,
    * `buildS` the build's; `run.py` adds both to the input step for
    * `setup_s`, and scales the times by the calibration round's medians. */
  def endToEnd(readyS: Double, buildS: Double, st: LoopStats, heapMb: Double,
      bytesPerRow: Double): Map[String, Any] = Map(
    "calibration_wall_ms" -> median(Calibration.wallMs.toSeq),
    "calibration_cpu_ms" -> median(Calibration.cpuMs.toSeq),
    "ready_s" -> readyS,
    "build_s" -> buildS,
    "op_p50_ms" -> median(st.latMs.toSeq),
    "ops_per_s" -> st.ops / st.wallS,
    "cpu_ms_per_op" -> st.cpuMs / st.ops,
    "heap_live_mb" -> heapMb,
    "stored_bytes_per_row" -> bytesPerRow)

  /** Layer figures every workload's traced run reports. */
  def commonLayers(st: LoopStats, tracer: Option[Tracer]): Map[String, Any] =
    tracer.map(_.perOp(st)).getOrElse(Map.empty) ++ Map(
      "jvm.gc_ms_per_op" -> st.gcMs / st.ops,
      "jvm.alloc_mb_per_op" -> st.allocBytes / 1048576.0 / st.ops)

  /** The fields of a result file every workload writes. */
  def result(st: LoopStats, warmups: Int, e2e: Map[String, Any],
      layers: Map[String, Any], checks: Map[String, Any]): Map[String, Any] = Map(
    "attempted" -> st.ops, "failed_ops" -> st.failedOps.toSeq, "first_op" -> warmups,
    "latencies_ms" -> st.latMs.toSeq, "end_to_end" -> e2e, "layers" -> layers,
    "checks" -> checks)
}

/** Minimal JSON writer for the result file: maps, sequences, pairs,
  * strings, numbers, booleans and null. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in result: $d")
      d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case (x, y) => render(Seq(x, y))
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
