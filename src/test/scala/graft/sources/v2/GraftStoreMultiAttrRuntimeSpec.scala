package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MULTI-ATTRIBUTE runtime file pruning (VERDICT r7 missing #3, resolved
  * by probe): for a composite-key join against a multi-column bucket
  * layout, Spark 4.1's DPP plants ONE DynamicPruningSubquery PER join key
  * (not a single struct-IN — that shape is confined to the row-level
  * command's group filtering, where the `_file` attribute is exact), so
  * the scan receives independent single-column INs and the cartesian
  * tuple-bucket pruner ([[GraftStoreScan.admissibleOf]]'s BucketSpec
  * branch) prunes files structurally. The requirement observed in the
  * probe: the build side must carry a SELECTIVE predicate, same as any
  * DPP. */
class GraftStoreMultiAttrRuntimeSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  test("composite-key join prunes a bucket(n,a,b) table via per-key runtime INs") {
    val dir = Fixture.dir()
    spark.range(0, 5000).selectExpr("id % 40 as a", "id % 23 as b", "id as v")
      .write.format("graft-store").option("partitionBy", "bucket(8,a,b)")
      .mode("overwrite").save(dir)
    val fact = spark.read.format("graft-store").load(dir)
    val dimPath = Fixture.dir() + "/dim"
    (0L until 40L).map(i => (i, i % 23, if (i < 2) "keep" else "drop"))
      .toDF("da", "db", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val j = fact.join(dim, col("a") === col("da") && col("b") === col("db"))
      .groupBy("tag").agg(sum("v").as("s"))
    // exact answer: fact rows with (a,b) ∈ {(0,0), (1,1)}
    val expected = (0L until 5000L)
      .filter(id => (id % 40 == 0 && id % 23 == 0) || (id % 40 == 1 && id % 23 == 1))
      .sum
    val got = j.collect()
    assert(got.map(_.getLong(1)).sum === expected)
    val plan = j.queryExecution.executedPlan.toString
    // BOTH keys arrive as independent runtime INs...
    assert(plan.contains("runtimeSkipBy=[In(a") || plan.contains("In(a, "),
      s"expected a per-key runtime IN on a:\n${plan.take(3000)}")
    // ...and the cartesian tuple-bucket pruner reads strictly fewer files
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.exists(g => g.group(1).toInt < g.group(2).toInt && g.group(2).toInt == 8),
      s"composite-key join must prune tuple buckets below full scan:\n" +
        plan.split("\n").filter(_.contains("files=")).mkString("\n"))
  }

  test("a one-sided key still declines tuple-bucket pruning (conservative)") {
    val dir = Fixture.dir()
    spark.range(0, 2000).selectExpr("id % 16 as a", "id % 7 as b", "id as v")
      .write.format("graft-store").option("partitionBy", "bucket(8,a,b)")
      .mode("overwrite").save(dir)
    // equality on ONE column of a composite bucket cannot compute tuple
    // ids — every file must survive, and the answer stays exact
    val q = spark.read.format("graft-store").load(dir).filter(col("a") === 3)
    assert(q.count() === (0L until 2000L).count(_ % 16 == 3))
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
    assert(m.exists(g => g.group(1).toInt == g.group(2).toInt),
      "a partial tuple key must not prune composite buckets")
  }
}
