package graft

import org.apache.spark.sql.SparkSession

/** The one place a local engine session is built: the mains (Bench,
  * Verify, ExplainAudit) and the spec suite all get their session here, so
  * they plan with the same extensions and conf. */
object GraftSession {

  /** A `local[cpus]` session with [[GraftExtensions]], `cpus` shuffle
    * partitions, UTC session time, no UI and WARN logging. Returns the
    * active session if one exists (`getOrCreate`). */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
