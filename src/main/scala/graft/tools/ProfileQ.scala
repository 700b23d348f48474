package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Diagnostic main: per-JOB time breakdown of one SparkEntry query —
  * shows where a serving lane's wall-clock goes (driver collects vs
  * the final action), which the aggregate bench number hides.
  *
  *   sbt "runMain graft.tools.ProfileQ /root/testdata/sf0.1 b3_ann_vec_full_wh [more...]"
  *
  * Runs each query once untimed (setup memoization + JIT), then once
  * with a listener recording every job's duration and first stage name.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = graft.Sessions.local(graft.Bench.cpus, extensions = true)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.lineitem(spark, dir).count()
    args.tail.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val done = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, String)]
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val desc = js.stageInfos.map(si =>
            s"[${si.stageId}:${si.name.take(40)}/${si.numTasks}t]")
            .mkString(" ")
          jobs.put(js.jobId, (js.time, desc))
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          Option(jobs.get(je.jobId)).foreach { case (t0, d) =>
            done.synchronized {
              done += ((je.jobId, (je.time - t0) / 1e3, d)); ()
            }
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // listener bus drain
      println(f"PROFILE $name wall=$wall%.3f s, ${done.size} jobs:")
      done.sortBy(_._1).foreach { case (id, s, d) =>
        println(f"  job $id%3d  $s%7.3f s  ${d.take(110)}")
      }
      val sum = done.map(_._2).sum
      println(f"  jobs_total=$sum%.3f s (wall − jobs = ${wall - sum}%.3f s outside Spark jobs)")
    }
    spark.stop()
  }
}
