package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot change feed ([[GraftStoreOps.changesBetween]]): net row-level
  * diff between two retained snapshots, derived from the manifest log —
  * carried-identical rows cancel, intermediate states don't leak, and the
  * scan is bounded by the CHANGED files. */
class GraftStoreChangesSpec extends AnyFunSuite with graft.SparkTestBase {

  private def feed(path: String, from: Int, to: Int) =
    GraftStoreOps.changesBetween(spark, path, from, to, "id")
      .select("id", "v", "change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("COW update yields exactly pre/post images; carried rows cancel") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id * 10 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir) // snapshot 0
    GraftStoreOps.updateWhere(spark, dir, col("id") === 7L,
      Map("v" -> lit(777L))) // snapshot 1: rewrites ONE file, carries 3
    val changes = feed(dir, 0, 1)
    assert(changes === Set(
      (7L, 70L, "update_preimage"),
      (7L, 777L, "update_postimage")),
      "untouched rows of the rewritten file must cancel out")
  }

  test("appends surface as inserts, deletes as deletes, net across range") {
    val dir = Fixture.dir()
    spark.range(0, 10).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir) // snap 0
    spark.range(10, 15).selectExpr("id", "id as v")
      .write.format("graft-store").mode("append").save(dir) // snap 1
    GraftStoreOps.deleteWhere(spark, dir, col("id") < 3L) // snap 2
    val changes = feed(dir, 0, 2)
    val inserts = (10L until 15L).map(i => (i, i, "insert")).toSet
    val deletes = (0L until 3L).map(i => (i, i, "delete")).toSet
    assert(changes === (inserts ++ deletes))
  }

  test("delete-then-reinsert of an identical row is NO net change") {
    val dir = Fixture.dir()
    spark.range(0, 20).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(dir) // snap 0
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 5L) // snap 1
    spark.range(5, 6).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("append").save(dir) // snap 2
    assert(feed(dir, 0, 2) === Set.empty,
      "net feed must see through the delete/reinsert round trip")
    // the intermediate hop still reports the delete
    assert(feed(dir, 0, 1) === Set((5L, 10L, "delete")))
  }

  test("identical endpoints produce an empty feed without reading data") {
    val dir = Fixture.dir()
    spark.range(0, 50).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    assert(feed(dir, 0, 0) === Set.empty)
  }

  test("restore rolls the head back metadata-only; feed shows the undo") {
    val dir = Fixture.dir()
    spark.range(0, 30).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir) // snap 0
    GraftStoreOps.deleteWhere(spark, dir, col("id") < 10L) // snap 1
    val headIdx = GraftStoreOps.restoreSnapshot(spark, dir, 0) // snap 2
    assert(headIdx === 2)
    assert(spark.read.format("graft-store").load(dir).count() === 30)
    // the damaged state remains auditable
    assert(spark.read.format("graft-store").option("snapshot", 1)
      .load(dir).count() === 20)
    // change feed across the restore is exactly the undo (re-inserts)
    assert(feed(dir, 1, 2) === (0L until 10L).map(i => (i, i, "insert")).toSet)
    // and end-to-end (0 -> 2) the table never changed
    assert(feed(dir, 0, 2) === Set.empty)
    // a restored streaming txn token must not dedupe future epochs
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.txn.isEmpty)
  }

  test("schema change across the range is rejected loudly") {
    val dir = Fixture.dir()
    spark.range(0, 5).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    spark.range(0, 5).selectExpr("id", "id as v", "id as extra")
      .write.format("graft-store").mode("overwrite").save(dir)
    val err = intercept[IllegalArgumentException] {
      GraftStoreOps.changesBetween(spark, dir, 0, 1, "id")
    }
    assert(err.getMessage.contains("schema"))
  }
}
