package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL maintenance procedures (`CALL cat.system.<proc>(...)` on Spark 4's
  * ProcedureCatalog): the operational loop — expire, compact, purge,
  * vacuum, tag — callable from pure SQL with counted one-row results. */
class GraftProceduresSpec extends AnyFunSuite with graft.SparkTestBase {

  private def catalogFor(name: String): String = {
    val base = Fixture.dir()
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    base
  }

  private def manifests(dir: String): Int =
    GraftStoreFormat.listManifests(
      dir, spark.sparkContext.hadoopConfiguration).size

  test("CALL expire_snapshots trims history by count") {
    val base = catalogFor("proc1")
    spark.range(0, 10).selectExpr("id").coalesce(1)
      .write.format("graft-store").mode("overwrite").save(s"$base/t")
    spark.range(10, 20).selectExpr("id").coalesce(1)
      .write.format("graft-store").mode("append").save(s"$base/t")
    spark.range(20, 30).selectExpr("id").coalesce(1)
      .write.format("graft-store").mode("append").save(s"$base/t")
    assert(manifests(s"$base/t") === 3)
    val r = spark.sql("CALL proc1.system.expire_snapshots(table => 't', keep_last => 1)")
      .collect()(0)
    assert(r.getInt(0) === 2, "two manifests expired")
    assert(manifests(s"$base/t") === 1)
    assert(spark.sql("SELECT count(*) FROM proc1.t").collect()(0).getLong(0) === 30)
  }

  test("CALL compact_small_files binpacks; positional args work") {
    val base = catalogFor("proc2")
    spark.range(0, 1000).selectExpr("id").repartition(8)
      .write.format("graft-store").mode("overwrite").save(s"$base/t")
    val r = spark.sql(
      s"CALL proc2.system.compact_small_files('t', ${8L << 20}, ${64L << 20})")
      .collect()(0)
    assert(r.getInt(0) === 8, "all 8 tiny files rewritten")
    assert(spark.sql("SELECT count(*) FROM proc2.t").collect()(0).getLong(0) === 1000)
  }

  test("CALL purge_deletes repays merge-on-read masks") {
    val base = catalogFor("proc3")
    spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(s"$base/t")
    spark.sql("DELETE FROM proc3.t WHERE id >= 100 AND id < 200")
    assert(GraftStoreFormat.readLatestManifest(
      s"$base/t", spark.sparkContext.hadoopConfiguration).get.deletes.nonEmpty)
    val r = spark.sql("CALL proc3.system.purge_deletes('t')").collect()(0)
    assert(r.getInt(0) === 1 && r.getInt(1) === 3,
      "purge rewrites only the covered file")
    assert(GraftStoreFormat.readLatestManifest(
      s"$base/t", spark.sparkContext.hadoopConfiguration).get.deletes.isEmpty)
    assert(spark.sql("SELECT count(*) FROM proc3.t").collect()(0).getLong(0) === 900)
  }

  test("CALL create_tag pins a snapshot for VERSION AS OF 'name'") {
    val base = catalogFor("proc4")
    spark.range(0, 5).selectExpr("id").coalesce(1)
      .write.format("graft-store").mode("overwrite").save(s"$base/t")
    spark.range(5, 8).selectExpr("id").coalesce(1)
      .write.format("graft-store").mode("append").save(s"$base/t")
    spark.sql("CALL proc4.system.create_tag('t', 'v1', 0)")
    assert(spark.sql("SELECT count(*) FROM proc4.t VERSION AS OF 'v1'")
      .collect()(0).getLong(0) === 5)
  }

  test("unknown procedure fails loudly with the known list") {
    catalogFor("proc5")
    val e = intercept[Exception] {
      spark.sql("CALL proc5.system.nonsense('t')").collect()
    }
    assert(e.getMessage.contains("no procedure") ||
      Option(e.getCause).exists(_.getMessage.contains("no procedure")))
  }
}
