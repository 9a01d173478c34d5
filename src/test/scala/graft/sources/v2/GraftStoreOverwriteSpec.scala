package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scoped OVERWRITE surfaces (`SupportsOverwrite` / `SupportsDynamicOverwrite`):
  * atomically replace the rows a filter (or the incoming data's partitions)
  * covers — removal metadata-only via the mustMatch proof, removal + insert
  * in ONE commit, replaced files stamped `#dropcdc=` so the change feed
  * stays row-exact. The idempotent-backfill op. */
class GraftStoreOverwriteSpec extends AnyFunSuite with graft.SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def manifest(dir: String): GraftManifest =
    GraftStoreFormat.readLatestManifest(dir, conf).get

  private def catalogFor(name: String): String = {
    val base = Fixture.dir()
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    base
  }

  private def mkPart(dir: String): Unit =
    spark.range(0, 400).selectExpr("id", "cast(id % 4 as string) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)

  test("writeTo.overwrite replaces exactly the matching partition, atomically") {
    val base = catalogFor("ovw1")
    mkPart(s"$base/t")
    val untouched = manifest(s"$base/t").files.filterNot(
      _.partVals.exists(_.headOption.flatten.contains("2"))).map(_.name).toSet
    val snapsBefore = GraftStoreFormat.listManifests(s"$base/t", conf).size
    spark.range(1000, 1003).selectExpr("id", "'2' as k")
      .writeTo("ovw1.t").overwrite(col("k") === "2")
    val m = manifest(s"$base/t")
    // one commit: old partition-2 file out (metadata-only), new file in
    assert(GraftStoreFormat.listManifests(s"$base/t", conf).size === snapsBefore + 1)
    assert(m.dropCdc.size === 1)
    assert(untouched.subsetOf(m.files.map(_.name).toSet),
      "files of other partitions must carry with their original names")
    val back = spark.read.format("graft-store").load(s"$base/t")
    assert(back.count() === 303)
    assert(back.filter(col("k") === "2").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1000L, 1001L, 1002L))
  }

  test("SQL INSERT INTO ... REPLACE WHERE routes through the scoped overwrite") {
    val base = catalogFor("ovw2")
    mkPart(s"$base/t")
    spark.sql(
      "INSERT INTO ovw2.t REPLACE WHERE k = '1' SELECT id, '1' AS k FROM range(5)")
    val m = manifest(s"$base/t")
    assert(m.dropCdc.size === 1)
    val back = spark.read.format("graft-store").load(s"$base/t")
    assert(back.filter(col("k") === "1").count() === 5)
    assert(back.count() === 305)
  }

  test("SQL INSERT OVERWRITE ... PARTITION (static) resolves via reported partitioning") {
    val base = catalogFor("ovw3")
    mkPart(s"$base/t")
    spark.sql("INSERT OVERWRITE ovw3.t PARTITION (k = '3') SELECT id FROM range(7)")
    val back = spark.read.format("graft-store").load(s"$base/t")
    assert(back.filter(col("k") === "3").count() === 7)
    assert(back.count() === 307)
    assert(manifest(s"$base/t").dropCdc.size === 1)
  }

  test("a filter matching part of a file fails loudly (Iceberg's contract)") {
    val base = catalogFor("ovw4")
    mkPart(s"$base/t")
    val e = intercept[Exception] {
      // id < 3 crosses every partition file partially
      spark.range(0, 3).selectExpr("id", "cast(id as string) as k")
        .writeTo("ovw4.t").overwrite(col("id") < 3)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("some but not all rows")))
    // nothing changed
    assert(spark.read.format("graft-store").load(s"$base/t").count() === 400)
  }

  test("dynamic overwrite replaces exactly the written partitions") {
    val base = catalogFor("ovw5")
    mkPart(s"$base/t")
    spark.range(0, 6).selectExpr("id + 500 as id", "cast(id % 2 as string) as k")
      .writeTo("ovw5.t").overwritePartitions()
    val m = manifest(s"$base/t")
    assert(m.dropCdc.size === 2, "partitions 0 and 1 replaced, 2 and 3 kept")
    val back = spark.read.format("graft-store").load(s"$base/t")
    assert(back.filter(col("k").isin("0", "1")).count() === 6)
    assert(back.filter(col("k").isin("2", "3")).count() === 200)
  }

  test("dynamic overwrite on an unpartitioned table fails loudly") {
    val base = catalogFor("ovw6")
    spark.range(0, 10).selectExpr("id", "cast(id as string) as k")
      .write.format("graft-store").mode("overwrite").save(s"$base/t")
    val e = intercept[Exception] {
      spark.range(0, 5).selectExpr("id", "cast(id as string) as k")
        .writeTo("ovw6.t").overwritePartitions()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("requires a partitioned table")))
  }

  test("the change feed reads an overwrite as deletes + inserts") {
    val base = catalogFor("ovw7")
    val dir = s"$base/t"
    spark.range(0, 100).selectExpr("id", "cast(id % 2 as string) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    spark.range(200, 203).selectExpr("id", "'1' as k")
      .writeTo("ovw7.t").overwrite(col("k") === "1")
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "1").load(dir)
      .select("id", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (0L until 100L).filter(_ % 2 == 1).map((_, "delete")).toSet ++
      Seq(200L, 201L, 202L).map((_, "insert"))
    assert(feed === want)
  }

  test("plain mode=overwrite (truncate) is unchanged: full replacement") {
    val dir = Fixture.dir()
    mkPart(dir)
    spark.range(0, 5).selectExpr("id", "'9' as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 5)
    assert(manifest(dir).dropCdc.isEmpty, "a truncate overwrite is not a drop commit")
  }
}
