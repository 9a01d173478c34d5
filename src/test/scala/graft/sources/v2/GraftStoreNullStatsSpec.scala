package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-file NULL COUNTS (manifest v10): exact writer-tracked counts that
  * serve `count(col)` aggregate pushdown (manifest-only, zero files read)
  * and `IS [NOT] NULL` file skipping. Exact-or-declined like the min/max
  * pushdown: live MOR masks or a stats-less (pre-v10) file decline. */
class GraftStoreNullStatsSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  /** 3 range-disjoint files: ids 0-99 (v null on odds), 100-199 (v all
    * null), 200-299 (v never null). */
  private def seed(dir: String): Unit =
    spark.range(0, 300)
      .selectExpr("id",
        """CASE WHEN id < 100 THEN if(id % 2 = 1, null, id * 2)
          |     WHEN id < 200 THEN cast(null as bigint)
          |     ELSE id * 2 END AS v""".stripMargin,
        "concat('t', id) as tag")
      .repartitionByRange(3, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)

  test("count(col) is served from the manifest, exactly") {
    val dir = Fixture.dir()
    seed(dir)
    val t = spark.read.format("graft-store").load(dir)
    val agg = t.agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
      count(col("tag")).as("ntag"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"count(col) must push to the manifest:\n$plan")
    val r = agg.collect()(0)
    assert(r.getLong(0) === 300 && r.getLong(1) === 150 && r.getLong(2) === 300)
  }

  test("IS NULL / IS NOT NULL prune files by null counts") {
    val dir = Fixture.dir()
    seed(dir)
    val t = spark.read.format("graft-store").load(dir)
    // IS NULL: the all-non-null file (200-299) is skipped
    val qNull = t.filter(col("v").isNull).agg(count(lit(1)).as("n"))
    assert(qNull.collect()(0).getLong(0) === 150)
    assert(qNull.queryExecution.executedPlan.toString.contains("files=2/3"),
      "IS NULL must skip the file with zero nulls")
    // IS NOT NULL: the all-null file (100-199) is skipped
    val qNotNull = t.filter(col("v").isNotNull).agg(count(lit(1)).as("n"))
    assert(qNotNull.collect()(0).getLong(0) === 150)
    assert(qNotNull.queryExecution.executedPlan.toString.contains("files=2/3"),
      "IS NOT NULL must skip the all-null file")
  }

  test("IS NOT NULL skips files that predate a column entirely") {
    val dir = Fixture.dir()
    spark.range(0, 50).coalesce(1).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(dir)
    spark.range(50, 100).coalesce(1).selectExpr("id", "id * 3 as extra")
      .write.format("graft-store").option("mergeSchema", "true")
      .mode("append").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    val q = t.filter(col("extra").isNotNull).agg(sum("extra").as("s"))
    assert(q.collect()(0).getLong(0) === (50L until 100L).map(_ * 3).sum)
    assert(q.queryExecution.executedPlan.toString.contains("files=1/2"),
      "a file null-extending the column can never match IS NOT NULL")
  }

  test("count(col) declines under live MOR masks and on DISTINCT") {
    val dir = Fixture.dir()
    seed(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") === 250)
    val t = spark.read.format("graft-store").load(dir)
    val agg = t.agg(count(col("v")).as("nv"))
    assert(!agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "live position deletes must decline the pushdown")
    assert(agg.collect()(0).getLong(0) === 149, "declined path stays exact")
    val d = t.agg(countDistinct(col("v")).as("nd"))
    assert(!d.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("null counts survive rename/drop evolution (logical re-keying)") {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.nscat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.nscat.base", base)
    seed(s"$base/t")
    spark.sql("ALTER TABLE nscat.t RENAME COLUMN v TO val")
    spark.sql("ALTER TABLE nscat.t DROP COLUMN tag")
    val agg = spark.sql("SELECT count(val) AS nv, count(*) AS n FROM nscat.t")
    assert(agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "count(col) must still push through the id translation")
    val r = agg.collect()(0)
    assert(r.getLong(0) === 150 && r.getLong(1) === 300)
    // IS NULL pruning keyed through the renamed column
    val q = spark.sql("SELECT count(*) AS n FROM nscat.t WHERE val IS NOT NULL")
    assert(q.collect()(0).getLong(0) === 150)
    assert(q.queryExecution.executedPlan.toString.contains("files=2/3"))
  }

  test("pre-null-count manifests decline rather than guess") {
    val dir = Fixture.dir()
    seed(dir)
    // strip the 9th field from the manifest, simulating a v9 writer
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(dir, conf).get
    GraftStoreFormat.writeManifest(dir, conf,
      m.copy(files = m.files.map(_.copy(nullCounts = None))))
    val t = spark.read.format("graft-store").load(dir)
    val agg = t.agg(count(col("v")).as("nv"))
    assert(!agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "unknown null counts must decline the pushdown")
    assert(agg.collect()(0).getLong(0) === 150)
    // and IS NULL skipping degrades to scanning every file, still exact
    val q = t.filter(col("v").isNull).agg(count(lit(1)).as("n"))
    assert(q.collect()(0).getLong(0) === 150)
    assert(q.queryExecution.executedPlan.toString.contains("files=3/3"))
  }
}
