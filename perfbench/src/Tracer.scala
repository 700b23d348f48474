package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Event log for the traced run, fed only by listeners this benchmark
  * registers: a SparkListener for jobs and tasks and a
  * QueryExecutionListener for Catalyst phases and write commands. Every
  * event keeps its wall-clock time, so figures are summed over the op
  * windows of a loop and work done between ops is left out. The untraced
  * run registers neither listener. */
final class Tracer(spark: SparkSession) {
  import Tracer.Task

  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val tasksEnded = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  /** (start, end) epoch ms of every finished job. */
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
  private val tasks = new ConcurrentLinkedQueue[Task]
  /** (start epoch ms, duration ms) of every Catalyst phase. */
  private val phases = new ConcurrentLinkedQueue[(Long, Long)]
  /** (output path, duration ms) of every write command. */
  private val writes = new ConcurrentLinkedQueue[(String, Double)]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      jobsStarted.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
      jobsEnded.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.taskInfo.finishTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten))
      }
      tasksEnded.incrementAndGet()
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs, p.durationMs)))
      writePath(qe).foreach(p => writes.add((p, durationNs / 1e6)))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  })

  private def writePath(qe: QueryExecution): Option[String] =
    qe.optimizedPlan.collectFirst {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
    }

  /** Waits until the asynchronous listener buses have delivered every
    * job's end and no task has ended for 200 ms, up to five seconds. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (System.nanoTime() < deadline &&
      (jobsStarted.get != jobsEnded.get || tasksEnded.get != last)) {
      last = tasksEnded.get
      Thread.sleep(200)
    }
    Thread.sleep(200) // query-execution events trail the job events
  }

  private def inAny(t: Long, windows: Seq[(Long, Long)]): Boolean =
    windows.exists { case (a, b) => t >= a && t <= b }

  /** Time covered by running jobs inside [a, b] (epoch ms, jobs merged). */
  private def coveredMs(a: Long, b: Long): Long = {
    val spans = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-op Spark figures over the op windows of a loop. */
  def perOp(st: Main.LoopStats): Map[String, Any] = {
    drain()
    val w = st.windows.toSeq
    val n = st.ops.toDouble
    val ts = tasks.asScala.toSeq.filter(t => inAny(t.endMs, w))
    val jobMs = w.map { case (a, b) => coveredMs(a, b).toDouble }
    val wallMs = w.map { case (a, b) => (b - a).toDouble }
    Map(
      "spark.jobs_per_op" -> jobSpans.asScala.count(j => inAny(j._1, w)) / n,
      "spark.tasks_per_op" -> ts.size / n,
      "spark.executor_cpu_ms_per_op" -> ts.map(_.cpuNs).sum / 1e6 / n,
      "spark.shuffle_bytes_per_op" -> ts.map(_.shuffleBytes).sum / n,
      "spark.input_bytes_per_op" -> ts.map(_.inputBytes).sum / n,
      "spark.output_bytes_per_op" -> ts.map(_.outputBytes).sum / n,
      "spark.planning_ms_per_op" ->
        phases.asScala.filter(p => inAny(p._1, w)).map(_._2).sum / n,
      "spark.job_ms_per_op" -> jobMs.sum / n,
      "spark.driver_ms_per_op" -> wallMs.zip(jobMs).map { case (a, b) => a - b }.sum / n)
  }

  /** Milliseconds of write commands per warehouse table, for the
    * warehouse at `base` (writes are staged under `_graft_stage/<table>-<txn>`). */
  def writeMsByTable(base: String): Map[String, Double] = {
    drain()
    val stage = new java.io.File(base, "_graft_stage").toURI.getPath.stripSuffix("/") + "/"
    writes.asScala.toSeq.flatMap { case (p, ms) =>
      val path = new org.apache.hadoop.fs.Path(p).toUri.getPath
      if (path.startsWith(stage))
        Some(path.stripPrefix(stage).takeWhile(_ != '/').replaceAll("-[^-]+$", "") -> ms)
      else None
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Tracer {
  private final case class Task(endMs: Long, cpuNs: Long, shuffleBytes: Long,
      inputBytes: Long, outputBytes: Long)
}
