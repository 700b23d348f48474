package graft.tools

/** Diagnostic main: write the formatted physical plan of every Bench
  * headline query (or an explicit list) to one file each — the
  * optimization round's before/after plan evidence.
  *
  *   sbt "runMain graft.tools.PlanDumpAll /root/testdata/sf0.1 plans/r17 _before [q1,q2,...]"
  *
  * The session is Bench's graft lane ([[graft.Bench.cpus]] wide,
  * extensions installed) so the captured plans are the plans the
  * bench actually runs. Queries that execute eagerly during DataFrame
  * construction (the exact ANN lanes return local relations) still
  * capture — their file records the LocalRelation plus a note.
  */
object PlanDumpAll {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = if (args.length > 2) args(2) else "_before"
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.Sessions.local(graft.Bench.cpus, extensions = true)
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 3) args(3).split(",").toSeq
      else graft.Bench.headline
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"$name$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] $name ok (${plan.linesIterator.size} lines)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
