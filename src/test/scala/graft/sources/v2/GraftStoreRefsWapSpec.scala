package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Named snapshot refs (TAGS) + write-audit-publish (Iceberg's WAP flow):
  * tags pin retained snapshots under a name (`VERSION AS OF 'name'`,
  * expiry retention); WAP stages an append as a `#wap=`-marked snapshot
  * invisible to every head read until a metadata-only publish. */
class GraftStoreRefsWapSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.refcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.refcat.base", base)
    base
  }

  test("tags resolve via VERSION AS OF and the ref option; survive commits") {
    catBase
    val dir = s"$catBase/t1"
    spark.range(0, 10).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir) // snap 0
    GraftStoreOps.tagSnapshot(spark, dir, "v1-cut", 0)
    spark.range(10, 30).toDF("id").write.format("graft-store")
      .mode("append").save(dir)
    assert(spark.sql("SELECT count(*) AS n FROM refcat.t1 VERSION AS OF 'v1-cut'")
      .collect()(0).getLong(0) === 10)
    assert(spark.read.format("graft-store").option("ref", "v1-cut").load(dir)
      .count() === 10)
    assert(spark.sql("SELECT count(*) FROM refcat.t1").collect()(0).getLong(0) === 30)
    // refs survive an overwrite (table-level metadata)
    spark.range(0, 5).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    assert(spark.read.format("graft-store").option("ref", "v1-cut").load(dir)
      .count() === 10)
    // unknown tag fails loudly, retag without drop fails loudly
    intercept[Exception](spark.read.format("graft-store")
      .option("ref", "nope").load(dir).count())
    intercept[Exception](GraftStoreOps.tagSnapshot(spark, dir, "v1-cut", 1))
    GraftStoreOps.dropRef(spark, dir, "v1-cut")
    intercept[Exception](spark.read.format("graft-store")
      .option("ref", "v1-cut").load(dir).count())
  }

  test("tagged snapshots survive expireSnapshots past keepLast") {
    catBase
    val dir = s"$catBase/t2"
    spark.range(0, 10).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir) // snap 0
    GraftStoreOps.tagSnapshot(spark, dir, "pinned", 0)
    (1 to 4).foreach(i => spark.range(i * 100, i * 100 + 10).toDF("id")
      .write.format("graft-store").mode("append").save(dir))
    GraftStoreOps.expireSnapshots(spark, dir, keepLast = 2)
    // the tagged snapshot (and its files) must still read exactly
    assert(spark.read.format("graft-store").option("ref", "pinned").load(dir)
      .as[Long].collect().sorted.toSeq === (0L until 10L))
    // after dropping the ref, expiry reclaims it
    GraftStoreOps.dropRef(spark, dir, "pinned")
    GraftStoreOps.expireSnapshots(spark, dir, keepLast = 2)
    intercept[Exception](spark.read.format("graft-store")
      .option("ref", "pinned").load(dir).count())
  }

  test("WAP: staged append is invisible until publish; publish is metadata-only") {
    catBase
    val dir = s"$catBase/t3"
    spark.range(0, 20).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    spark.range(100, 110).toDF("id").write.format("graft-store")
      .option("wapId", "audit-1").mode("append").save(dir)
    // invisible to plain reads, SQL, and the head manifest
    assert(spark.read.format("graft-store").load(dir).count() === 20)
    assert(spark.sql("SELECT count(*) FROM refcat.t3").collect()(0).getLong(0) === 20)
    // the audit read: explicit snapshot index of the staged commit
    val idx = GraftStoreOps.stagedSnapshot(spark, dir, "audit-1").get
    val audit = spark.read.format("graft-store").option("snapshot", idx).load(dir)
    assert(audit.count() === 30)
    assert(audit.filter(col("id") >= 100).count() === 10)
    // a concurrent append during the stage lands on the MAIN line
    spark.range(20, 25).toDF("id").write.format("graft-store")
      .mode("append").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 25)
    // publish: metadata-only cherry-pick onto the current head
    val n = GraftStoreOps.publishWap(spark, dir, "audit-1")
    assert(n > 0)
    assert(spark.read.format("graft-store").load(dir).count() === 35)
    // double publish fails loudly
    intercept[Exception](GraftStoreOps.publishWap(spark, dir, "audit-1"))
  }

  test("a pending stage does not advance streams or the change feed") {
    catBase
    val dir = s"$catBase/t4"
    spark.range(0, 10).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    spark.range(50, 60).toDF("id").write.format("graft-store")
      .option("wapId", "w2").mode("append").save(dir)
    // batch CDC over the full range sees snapshot 0's inserts but NOT the
    // staged commit's rows
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "0")
      .load(dir)
    assert(feed.filter(col("change_type") === "insert").count() === 10,
      "the staged commit must not appear in the feed pre-publish")
    GraftStoreOps.publishWap(spark, dir, "w2")
    val feed2 = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "0")
      .load(dir)
    assert(feed2.filter(col("change_type") === "insert").count() === 20,
      "published rows enter the feed exactly once, at publish")
    assert(feed2.filter(col("change_type") === "insert")
      .filter(col("id") >= 50).count() === 10)
  }

  test("an abandoned stage dies with expiry; its files become orphans") {
    catBase
    val dir = s"$catBase/t5"
    spark.range(0, 10).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    spark.range(90, 99).toDF("id").write.format("graft-store")
      .option("wapId", "dead").mode("append").save(dir)
    (1 to 3).foreach(i => spark.range(i * 10, i * 10 + 5).toDF("id")
      .write.format("graft-store").mode("append").save(dir))
    val (droppedM, orphans) = GraftStoreOps.expireSnapshots(spark, dir, keepLast = 2)
    assert(droppedM > 0 && orphans > 0,
      s"expiry must collect the dead stage's files (dropped=$droppedM orphans=$orphans)")
    assert(GraftStoreOps.stagedSnapshot(spark, dir, "dead").isEmpty)
    assert(spark.read.format("graft-store").load(dir).count() === 25)
  }

  test("staged overwrite is rejected loudly") {
    catBase
    val dir = s"$catBase/t6"
    spark.range(0, 5).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    intercept[Exception](
      spark.range(5, 9).toDF("id").write.format("graft-store")
        .option("wapId", "x").mode("overwrite").save(dir))
  }
}
