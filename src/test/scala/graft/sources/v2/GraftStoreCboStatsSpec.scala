package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-derived COLUMN statistics for the cost-based optimizer
  * (`Statistics.columnStats`): min/max/nullCount folded from per-file
  * stats, exact NDV for identity partition columns — FilterEstimation and
  * JoinEstimation get real numbers without an ANALYZE job. */
class GraftStoreCboStatsSpec extends AnyFunSuite with graft.SparkTestBase {

  private def withCbo[A](f: => A): A = {
    val old = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try f finally spark.conf.set("spark.sql.cbo.enabled", old)
  }

  test("column stats reach the optimizer's attribute map under CBO") {
    val dir = Fixture.dir()
    spark.range(0, 1000)
      .selectExpr("id", "cast(id % 4 as string) as k",
        "cast(id as double) * 2.5 as score")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    withCbo {
      val df = spark.read.format("graft-store").load(dir)
      val stats = df.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(1000)))
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      assert(byName.nonEmpty, "column stats must reach the attribute map")
      val idStat = byName("id")
      assert(idStat.min.contains(0L) && idStat.max.contains(999L))
      assert(idStat.nullCount.contains(BigInt(0)))
      val kStat = byName("k")
      assert(kStat.distinctCount.contains(BigInt(4)),
        "identity partition NDV = distinct partition values, exactly")
      val scoreStat = byName("score")
      assert(scoreStat.min.contains(0.0) && scoreStat.max.contains(2497.5))
    }
  }

  test("null counts are exact; stats survive filters on other columns") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, Some(1.0)), (2L, None), (3L, Some(9.0)), (4L, None))
      .toDF("id", "v").coalesce(1)
      .write.format("graft-store").mode("overwrite").save(dir)
    withCbo {
      val df = spark.read.format("graft-store").load(dir)
      val byName = df.queryExecution.optimizedPlan.stats
        .attributeStats.map { case (a, s) => a.name -> s }
      assert(byName("v").nullCount.contains(BigInt(2)))
      assert(byName("v").min.contains(1.0) && byName("v").max.contains(9.0))
    }
  }

  test("CBO filter estimation uses the ranges: selective filters shrink estimates") {
    val dir = Fixture.dir()
    spark.range(0, 10000).selectExpr("id", "id * 2 as v")
      .coalesce(2).write.format("graft-store").mode("overwrite").save(dir)
    withCbo {
      val df = spark.read.format("graft-store").load(dir)
      val narrow = df.filter(col("id") < 100)
      val wide = df.filter(col("id") < 9000)
      val sNarrow = narrow.queryExecution.optimizedPlan.stats
      val sWide = wide.queryExecution.optimizedPlan.stats
      assert(sNarrow.rowCount.isDefined && sWide.rowCount.isDefined)
      assert(sNarrow.rowCount.get < sWide.rowCount.get,
        s"range-based selectivity: ${sNarrow.rowCount} !< ${sWide.rowCount}")
    }
  }
}
