package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, Executors}

import scala.collection.mutable

/** The host's speed while a run measures, from a fixed piece of JVM work:
  * hashing boxed keys into a map, sorting, and building a string. A round
  * runs the work once on every CPU the process may use, at the same time,
  * and records the mean wall and thread-CPU time over the threads. The work
  * never changes with the program under test, so its time tracks only how
  * fast this process's CPUs run: neighbours' load on a shared host, steal
  * and clock speed. `Main.closedLoop` takes rounds between ops, outside
  * every op's figures, and `run.py` scales the run's times by the medians.
  */
object Calibration {

  /** Rounds taken before each timed op and after the last. */
  val roundsPerOp = 8

  /** Wall and thread-CPU milliseconds of each round taken so far. */
  val wallMs = mutable.ArrayBuffer.empty[Double]
  val cpuMs = mutable.ArrayBuffer.empty[Double]

  private val n = 1 << 15
  private val threads = ManagementFactory.getThreadMXBean
  private val width = Runtime.getRuntime.availableProcessors()
  private val pool = Executors.newFixedThreadPool(width, (r: Runnable) => {
    val t = new Thread(r, "perfbench-calibration")
    t.setDaemon(true)
    t
  })
  @volatile private var sink = 0L

  private def work(): Long = {
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long](n)
    val keys = new Array[Long](n)
    var x = 0x2545f4914f6cdd1dL
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      keys(i) = x
      val k = java.lang.Long.valueOf(x & 0x3fff)
      val old = m.get(k)
      m.put(k, java.lang.Long.valueOf(if (old == null) 1L else old + 1))
      i += 1
    }
    java.util.Arrays.sort(keys)
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < n / 8) { sb.append(keys(i * 8)).append(','); i += 1 }
    keys(n / 2) ^ m.size ^ sb.length
  }

  /** Runs the work once on every pool thread at the same time; returns the
    * mean wall and thread-CPU milliseconds over the threads. */
  private def round(): (Double, Double) = {
    val go = new CountDownLatch(1)
    val fs = (0 until width).map { _ =>
      pool.submit(() => {
        go.await()
        val c0 = threads.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        sink ^= work()
        ((System.nanoTime() - t0) / 1e6, (threads.getCurrentThreadCpuTime - c0) / 1e6)
      })
    }
    go.countDown()
    val rs = fs.map(_.get())
    (rs.map(_._1).sum / width, rs.map(_._2).sum / width)
  }

  /** Takes `k` rounds and records them. */
  def sample(k: Int): Unit = (0 until k).foreach { _ =>
    val (w, c) = round()
    wallMs += w
    cpuMs += c
  }

  /** Runs rounds until the work's code is compiled, without recording. */
  def warm(): Unit = (0 until 20).foreach(_ => round())
}
