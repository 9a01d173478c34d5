package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL UPDATE / MERGE / DELETE through `SupportsDelta` (WriteDelta) on
  * merge-on-read tables: per-row deltas — position deletes + appended row
  * versions — instead of group rewrites; churn-sized commits, CDC with no
  * change store, layout + CHECK preserved. */
class GraftDeltaSpec extends AnyFunSuite with graft.SparkTestBase {

  // ONE catalog for the suite (Spark caches catalog instances per name)
  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.dcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dcat.base", base)
    base
  }
  private def freshCat(): String = catBase

  private def manifest(path: String): GraftManifest =
    GraftStoreFormat.readLatestManifest(
      path, spark.sparkContext.hadoopConfiguration).get

  private def morTable(path: String, n: Long = 100): Unit =
    spark.range(0, n).selectExpr("id", "id * 10 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(path)

  test("SQL UPDATE on a MOR table appends deltas, never rewrites files") {
    val base = freshCat()
    morTable(s"$base/t1")
    val before = manifest(s"$base/t1").files.map(_.name).toSet
    spark.sql("UPDATE dcat.t1 SET v = 777 WHERE id = 7")
    val m = manifest(s"$base/t1")
    assert(before.subsetOf(m.files.map(_.name).toSet),
      "a delta UPDATE must keep every pre-existing data file listed")
    assert(m.files.size === before.size + 1, "one churn-sized new file")
    assert(m.deletes.nonEmpty, "the old row version is masked, not rewritten")
    val rows = spark.sql("SELECT id, v FROM dcat.t1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size === 100, "row count invariant under UPDATE")
    assert(rows(7L) === 777L)
    assert(rows(6L) === 60L && rows(99L) === 990L)
    // pre-update snapshot unmasked
    assert(spark.sql("SELECT v FROM dcat.t1 VERSION AS OF 0 WHERE id = 7")
      .collect()(0).getLong(0) === 70L)
  }

  test("delta UPDATE churn: masks sized by matched rows, one delete store") {
    val base = freshCat()
    morTable(s"$base/t2", 1000)
    spark.sql("UPDATE dcat.t2 SET v = v + 1 WHERE id >= 990")
    val m = manifest(s"$base/t2")
    assert(m.deletes.map(_.rows).sum === 10L,
      "masked positions must equal the matched row count")
    assert(spark.sql("SELECT sum(v) FROM dcat.t2").collect()(0).getLong(0)
      === (0L until 1000L).map(_ * 10).sum + 10)
  }

  test("SQL MERGE INTO on MOR: matched update + unmatched insert, delta commit") {
    val base = freshCat()
    morTable(s"$base/t3", 10)
    val before = manifest(s"$base/t3").files.map(_.name).toSet
    spark.range(0, 3).selectExpr("id * 5 as id", "id + 1000 as v")
      .createOrReplaceTempView("d_src3") // keys 0, 5, 10 — 10 is new
    spark.sql(
      """MERGE INTO dcat.t3 t USING d_src3 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m = manifest(s"$base/t3")
    assert(before.subsetOf(m.files.map(_.name).toSet))
    assert(m.deletes.map(_.rows).sum === 2L, "two matched rows masked")
    val rows = spark.sql("SELECT id, v FROM dcat.t3").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size === 11)
    assert(rows(0L) === 1000L && rows(5L) === 1001L && rows(10L) === 1002L)
    assert(rows(1L) === 10L && rows(9L) === 90L, "unmatched target rows untouched")
  }

  test("SQL MERGE with delete clause masks matched rows") {
    val base = freshCat()
    morTable(s"$base/t4", 10)
    spark.range(8, 12).selectExpr("id", "id as v")
      .createOrReplaceTempView("d_src4")
    spark.sql(
      """MERGE INTO dcat.t4 t USING d_src4 s ON t.id = s.id
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val ids = spark.sql("SELECT id FROM dcat.t4").collect().map(_.getLong(0)).toSet
    assert(ids === ((0L until 8L).toSet ++ Set(10L, 11L)))
    assert(manifest(s"$base/t4").deletes.map(_.rows).sum === 2L)
  }

  test("non-convertible SQL DELETE goes delta: masks, no rewrite") {
    val base = freshCat()
    morTable(s"$base/t5", 100)
    val before = manifest(s"$base/t5").files.map(_.name).toSet
    // id % 97 = 7 has no V1 filter conversion -> the metadata path bows out
    spark.sql("DELETE FROM dcat.t5 WHERE id % 97 = 7")
    val m = manifest(s"$base/t5")
    assert(m.files.map(_.name).toSet === before,
      "a delta DELETE must not add or remove data files")
    assert(m.deletes.map(_.rows).sum === 1L)
    assert(spark.sql("SELECT count(*) FROM dcat.t5").collect()(0).getLong(0) === 99)
    assert(spark.sql("SELECT count(*) FROM dcat.t5 WHERE id = 7")
      .collect()(0).getLong(0) === 0)
  }

  test("delta UPDATE keeps a partition layout: new versions route per-value") {
    val base = freshCat()
    spark.range(0, 30).selectExpr("id", "cast(id % 3 as int) as grp", "id as v")
      .write.format("graft-store")
      .option("partitionBy", "grp").option("dmlMode", "mor")
      .mode("overwrite").save(s"$base/t6")
    spark.sql("UPDATE dcat.t6 SET v = v + 100 WHERE grp = 1")
    val m = manifest(s"$base/t6")
    assert(m.partitionCol.contains("grp"))
    assert(m.files.forall(_.partVals.exists(_.length == 1)),
      "appended row-version files must carry explicit partition values")
    assert(spark.sql("SELECT sum(v) FROM dcat.t6 WHERE grp = 1")
      .collect()(0).getLong(0)
      === (0 until 30).filter(_ % 3 == 1).map(_ + 100L).sum)
    assert(spark.sql("SELECT count(*) FROM dcat.t6").collect()(0).getLong(0) === 30)
  }

  test("delta UPDATE violating the CHECK constraint fails atomically") {
    val base = freshCat()
    spark.range(0, 10).selectExpr("id", "cast(id as double) as price")
      .write.format("graft-store")
      .option("check", "price >= 0").option("dmlMode", "mor")
      .mode("overwrite").save(s"$base/t7")
    val before = GraftStoreOps.snapshotCount(spark, s"$base/t7")
    val e = intercept[Exception] {
      spark.sql("UPDATE dcat.t7 SET price = -5.0 WHERE id = 3")
    }
    assert(e.getMessage != null && e.getMessage.contains("CHECK"))
    assert(GraftStoreOps.snapshotCount(spark, s"$base/t7") === before,
      "a rejected delta write must not commit a snapshot")
    assert(manifest(s"$base/t7").deletes.isEmpty,
      "no masks may leak from an aborted delta write")
    assert(spark.sql("SELECT price FROM dcat.t7 WHERE id = 3")
      .collect()(0).getDouble(0) === 3.0)
  }

  test("CDC streams SQL UPDATE on MOR as delete+insert pairs, no change store") {
    val base = freshCat()
    spark.range(0, 20).selectExpr("id", "id * 10 as v")
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("append").save(s"$base/t8") // snap 0
    spark.sql("UPDATE dcat.t8 SET v = 999 WHERE id = 4") // snap 1, delta
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "1")
      .load(s"$base/t8")
      .select("id", "v", "change_type", "_commit_snapshot").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(feed === Set((4L, 40L, "delete", 1L), (4L, 999L, "insert", 1L)),
      "the net-change form: old version deleted, new version inserted")
  }

  test("stacked delta DML then purge converges to the right table") {
    val base = freshCat()
    morTable(s"$base/t9", 100)
    spark.sql("UPDATE dcat.t9 SET v = 0 WHERE id < 10")
    spark.sql("DELETE FROM dcat.t9 WHERE id >= 90 AND id % 2 = 0") // convertible? No: % — delta
    spark.range(200, 205).selectExpr("id", "id as v")
      .createOrReplaceTempView("d_src9")
    spark.sql(
      """MERGE INTO dcat.t9 t USING d_src9 s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val expect = ((0L until 100L).filterNot(i => i >= 90 && i % 2 == 0)
      .map(i => (i, if (i < 10) 0L else i * 10)) ++
      (200L until 205L).map(i => (i, i))).toMap
    def snapshot(): Map[Long, Long] = spark.sql("SELECT id, v FROM dcat.t9")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snapshot() === expect)
    // repay the read debt; nothing observable changes
    val (rew, _) = GraftStoreOps.purgeDeletes(spark, s"$base/t9")
    assert(rew >= 1)
    assert(manifest(s"$base/t9").deletes.isEmpty)
    assert(snapshot() === expect)
  }

  test("a MERGE matching nothing and inserting nothing commits no snapshot") {
    val base = freshCat()
    morTable(s"$base/t10", 10)
    val before = GraftStoreOps.snapshotCount(spark, s"$base/t10")
    spark.range(500, 503).selectExpr("id", "id as v")
      .createOrReplaceTempView("d_src10")
    spark.sql(
      """MERGE INTO dcat.t10 t USING d_src10 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(GraftStoreOps.snapshotCount(spark, s"$base/t10") === before,
      "an empty delta must not publish a new snapshot")
  }

  test("updated rows re-match later DML at their new positions") {
    val base = freshCat()
    morTable(s"$base/t11", 20)
    spark.sql("UPDATE dcat.t11 SET v = 1 WHERE id = 3")
    spark.sql("UPDATE dcat.t11 SET v = v + 1 WHERE id = 3") // hits the NEW version
    assert(spark.sql("SELECT v FROM dcat.t11 WHERE id = 3")
      .collect()(0).getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) FROM dcat.t11").collect()(0).getLong(0) === 20)
  }
}
