package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for the library's mains: `local[cpus]`,
  * `cpus` shuffle partitions, UTC session time zone, UI off. Each main
  * picks its own `cpus` and log level; `extensions` installs
  * [[GraftExtensions]] (Bench's vanilla attribution lane runs without
  * them, every other main with). */
object Sessions {
  def local(cpus: String, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    (if (extensions) b.withExtensions(new GraftExtensions) else b)
      .getOrCreate()
  }
}
