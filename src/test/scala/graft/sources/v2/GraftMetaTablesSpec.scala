package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Metadata tables (`cat.tbl$history` / `cat.tbl$files`): snapshot log and
  * current file inventory as SQL-queryable driver-local tables. */
class GraftMetaTablesSpec extends AnyFunSuite with graft.SparkTestBase {

  private def withCatalog[T](catName: String, base: String)(body: => T): T = {
    spark.conf.set(s"spark.sql.catalog.$catName", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.base", base)
    try body
    finally {
      spark.conf.unset(s"spark.sql.catalog.$catName")
      spark.conf.unset(s"spark.sql.catalog.$catName.base")
    }
  }

  test("$history reflects commits, layouts, and streaming txn tokens") {
    val base = Fixture.dir()
    spark.range(0, 40).selectExpr("id", "cast(id % 4 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(s"$base/t")
    spark.range(40, 60).selectExpr("id", "cast(id % 4 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("append").save(s"$base/t")
    withCatalog("gmeta1", base) {
      val h = spark.sql(
        "SELECT snapshot, n_files, n_rows, partition FROM gmeta1.`t$history`")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getString(3)))
      assert(h.toSeq === Seq((0, 4, 40L, "k"), (1, 8, 60L, "k")))
      // millis strictly increase across snapshots
      val ms = spark.sql("SELECT millis FROM gmeta1.`t$history`")
        .collect().map(_.getLong(0))
      assert(ms.sliding(2).forall { case Array(a, b) => a < b; case _ => true })
      // plans as a LocalTableScan: driver metadata, no source scan
      val plan = spark.sql("SELECT * FROM gmeta1.`t$history`")
        .queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan"), plan.take(500))
    }
  }

  test("$files lists the head inventory with widths and partition values") {
    val base = Fixture.dir()
    spark.range(0, 30).selectExpr("id", "cast(id % 3 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(s"$base/t")
    // additive evolution tags pre-evolution files with their width
    spark.range(30, 33)
      .selectExpr("id", "cast(id % 3 as int) as k", "concat('x', id) as tag")
      .write.format("graft-store")
      .option("partitionBy", "k").option("mergeSchema", "true")
      .mode("append").save(s"$base/t")
    withCatalog("gmeta2", base) {
      val f = spark.sql(
        "SELECT file, n_rows, ncols, part_vals FROM gmeta2.`t$files`").collect()
      assert(f.length === 6) // 3 original + 3 evolved files
      val old = f.filter(!_.isNullAt(2))
      assert(old.length === 3)
      assert(old.forall(_.getInt(2) === 2))
      assert(f.forall(r => !r.isNullAt(3)), "partitioned files carry values")
      assert(f.map(_.getLong(1)).sum === 33L)
    }
  }

  test("SQL INSERT INTO appends through the catalog (DML surface)") {
    val base = Fixture.dir()
    spark.range(0, 10).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").option("check", "v >= 0")
      .mode("overwrite").save(s"$base/t")
    withCatalog("gins", base) {
      spark.sql("INSERT INTO gins.t VALUES (100, 200), (101, 202)")
      assert(spark.sql("SELECT count(*) FROM gins.t").collect()(0).getLong(0) === 12L)
      assert(spark.sql("SELECT v FROM gins.t WHERE id = 101")
        .collect()(0).getLong(0) === 202L)
      // the SQL insert is a real snapshot commit, and the table's CHECK
      // constraint gates it like any other append
      assert(GraftStoreOps.history(spark, s"$base/t").size === 2)
      val err = intercept[Exception] {
        spark.sql("INSERT INTO gins.t VALUES (102, -1)")
      }
      assert(err.getMessage.contains("CHECK"), err.getMessage.take(300))
      assert(spark.sql("SELECT count(*) FROM gins.t").collect()(0).getLong(0) === 12L)
    }
  }

  test("SQL TRUNCATE TABLE empties the head, history stays travelable") {
    val base = Fixture.dir()
    spark.range(0, 25).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(s"$base/t")
    withCatalog("gtrunc", base) {
      spark.sql("TRUNCATE TABLE gtrunc.t")
      assert(spark.sql("SELECT count(*) FROM gtrunc.t").collect()(0).getLong(0) === 0L)
      // metadata-only: the pre-truncate snapshot is still readable...
      assert(spark.read.format("graft-store").option("snapshot", 0)
        .load(s"$base/t").count() === 25)
      // ...and restore undoes the truncate entirely
      GraftStoreOps.restoreSnapshot(spark, s"$base/t", 0)
      assert(spark.sql("SELECT count(*) FROM gtrunc.t").collect()(0).getLong(0) === 25L)
    }
  }

  test("$deletes exposes the merge-on-read read debt, both kinds") {
    import spark.implicits._
    val base = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(s"$base/t")
    GraftStoreOps.deleteWhereMor(spark, s"$base/t", col("id") < 10)
    GraftStoreOps.deleteByKeyMor(spark, s"$base/t", Seq(50L, 51L).toDF("id"))
    withCatalog("gmeta4", base) {
      val rows = spark.sql(
        """SELECT kind, n_rows, min_target, scope_seq, key_cols
          |FROM gmeta4.`t$deletes` ORDER BY kind""".stripMargin).collect()
      assert(rows.length === 2)
      assert(rows(0).getString(0) === "equality")
      assert(rows(0).getLong(1) === 2L)
      assert(rows(0).isNullAt(2) && rows(0).getLong(3) === 2L)
      assert(rows(0).getString(4) === "id")
      assert(rows(1).getString(0) === "position")
      assert(rows(1).getLong(1) === 10L)
      assert(!rows(1).isNullAt(2) && rows(1).isNullAt(3))
      // purge clears the debt; the metadata table reflects it
      GraftStoreOps.purgeDeletes(spark, s"$base/t")
      assert(spark.sql("SELECT count(*) FROM gmeta4.`t$deletes`")
        .collect()(0).getLong(0) === 0L)
      assert(spark.sql("SELECT count(*) FROM gmeta4.t").collect()(0).getLong(0) === 88L)
    }
  }

  test("unknown metadata suffix and missing tables fail loudly") {
    val base = Fixture.dir()
    spark.range(0, 5).selectExpr("id").write.format("graft-store")
      .mode("overwrite").save(s"$base/t")
    withCatalog("gmeta3", base) {
      intercept[Exception] { spark.sql("SELECT * FROM gmeta3.`t$bogus`").collect() }
      intercept[Exception] { spark.sql("SELECT * FROM gmeta3.`nope$history`").collect() }
      // the data table itself still resolves normally alongside
      assert(spark.sql("SELECT count(*) FROM gmeta3.t").collect()(0).getLong(0) === 5L)
    }
  }
}
