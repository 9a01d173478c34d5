package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (sbt forks one JVM for
  * Test; per-suite sessions would pay ~5 s startup each). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.spark
}
