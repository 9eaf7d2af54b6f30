package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session the harness mains (Verify, Explain,
  * GenCorpus, Bench) and the CLI's own-session verbs run on:
  * `local[cpus]`, shuffle partitions = cpus, UTC session time zone,
  * UI off. Extra `conf` entries go through the builder, so sessions
  * forked later with `newSession()` inherit them too.
  */
object HarnessSession {
  def apply(cpus: String, logLevel: String,
            conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
