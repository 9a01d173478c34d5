package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BRANCHES (Iceberg refs of kind branch): movable pointers whose writes
  * commit as staged snapshots invisible to the main line — multi-commit
  * write-audit-publish. `fastForward` lands a branch back onto main as
  * one metadata-only commit, allowed only while the lines have not
  * diverged. */
class GraftStoreBranchSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  test("branch writes are invisible to main; branch reads see the lineage") {
    val dir = Fixture.dir()
    spark.range(0, 20).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    GraftStoreOps.createBranch(spark, dir, "exp", 0)
    spark.range(100, 110).toDF("id").write.format("graft-store")
      .option("branch", "exp").mode("append").save(dir)
    spark.range(110, 115).toDF("id").write.format("graft-store")
      .option("branch", "exp").mode("append").save(dir)
    // main unchanged; branch sees both commits
    assert(spark.read.format("graft-store").load(dir).count() === 20)
    assert(spark.read.format("graft-store").option("ref", "exp").load(dir)
      .count() === 35)
    // fast-forward: metadata-only swap, main == branch tip
    val added = GraftStoreOps.fastForward(spark, dir, "exp")
    assert(added > 0)
    assert(spark.read.format("graft-store").load(dir).count() === 35)
    // the branch survives, re-forked at the new head: further writes work
    spark.range(115, 118).toDF("id").write.format("graft-store")
      .option("branch", "exp").mode("append").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 35)
    assert(spark.read.format("graft-store").option("ref", "exp").load(dir)
      .count() === 38)
  }

  test("fast-forward of a diverged branch fails loudly") {
    val dir = Fixture.dir()
    spark.range(0, 10).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    GraftStoreOps.createBranch(spark, dir, "b1", 0)
    spark.range(50, 55).toDF("id").write.format("graft-store")
      .option("branch", "b1").mode("append").save(dir)
    // main advances past the fork
    spark.range(10, 15).toDF("id").write.format("graft-store")
      .mode("append").save(dir)
    val ex = intercept[Exception](GraftStoreOps.fastForward(spark, dir, "b1"))
    assert(ex.getMessage.contains("diverged"))
    // both lines still read correctly
    assert(spark.read.format("graft-store").load(dir).count() === 15)
    assert(spark.read.format("graft-store").option("ref", "b1").load(dir)
      .count() === 15)
  }

  test("branch/tag kinds are enforced; unbranched fast-forward is a no-op") {
    val dir = Fixture.dir()
    spark.range(0, 5).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    GraftStoreOps.tagSnapshot(spark, dir, "a-tag", 0)
    GraftStoreOps.createBranch(spark, dir, "a-branch", 0)
    intercept[Exception](
      spark.range(5, 9).toDF("id").write.format("graft-store")
        .option("branch", "a-tag").mode("append").save(dir))
    intercept[Exception](GraftStoreOps.fastForward(spark, dir, "a-tag"))
    intercept[Exception](
      spark.range(5, 9).toDF("id").write.format("graft-store")
        .option("branch", "missing").mode("append").save(dir))
    assert(GraftStoreOps.fastForward(spark, dir, "a-branch") === 0)
    assert(spark.read.format("graft-store").load(dir).count() === 5)
  }

  test("the change feed ignores branch commits until fast-forward") {
    val dir = Fixture.dir()
    spark.range(0, 10).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    GraftStoreOps.createBranch(spark, dir, "feedb", 0)
    spark.range(40, 46).toDF("id").write.format("graft-store")
      .option("branch", "feedb").mode("append").save(dir)
    def inserts(): Long = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "0")
      .load(dir).filter(col("change_type") === "insert").count()
    assert(inserts() === 10, "branch commits must not leak into the main feed")
    GraftStoreOps.fastForward(spark, dir, "feedb")
    assert(inserts() === 16, "fast-forward lands the branch rows in the feed once")
  }

  test("tbl$refs metadata table lists tags and branches") {
    val dir0 = Fixture.dir()
    val base = new java.io.File(dir0).getParent
    val name = new java.io.File(dir0).getName
    spark.conf.set("spark.sql.catalog.refmcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.refmcat.base", base)
    spark.range(0, 5).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir0)
    GraftStoreOps.tagSnapshot(spark, dir0, "t1", 0)
    GraftStoreOps.createBranch(spark, dir0, "b1", 0)
    val rows = spark.sql(s"SELECT name, kind, seq, fork_seq FROM refmcat.`$name$$refs`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(rows === Set(("b1", "branch", 0L, 0L), ("t1", "tag", 0L, -1L)))
  }

  test("expiry keeps the branch tip alive past keepLast") {
    val dir = Fixture.dir()
    spark.range(0, 10).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    GraftStoreOps.createBranch(spark, dir, "keepme", 0)
    spark.range(70, 80).toDF("id").write.format("graft-store")
      .option("branch", "keepme").mode("append").save(dir)
    (1 to 4).foreach(i => spark.range(i * 10, i * 10 + 2).toDF("id")
      .write.format("graft-store").mode("append").save(dir))
    GraftStoreOps.expireSnapshots(spark, dir, keepLast = 2)
    assert(spark.read.format("graft-store").option("ref", "keepme").load(dir)
      .count() === 20, "the pinned branch tip must survive expiry")
  }
}
