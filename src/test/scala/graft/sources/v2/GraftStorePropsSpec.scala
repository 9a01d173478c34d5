package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted USER table properties (`#props=`, manifest v18): arbitrary
  * key/value state carried by the manifest, settable via `ALTER TABLE SET
  * TBLPROPERTIES` / `CREATE TABLE ... TBLPROPERTIES` / the `setProps`
  * write option, surfaced by SHOW TBLPROPERTIES, and INHERITED by every
  * commit — append, overwrite, DML, compaction, streaming, branches. */
class GraftStorePropsSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.propcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.propcat.base", base)
    base
  }

  test("SET/UNSET TBLPROPERTIES persist in the manifest and SHOW surfaces them") {
    catBase
    spark.sql("CREATE TABLE propcat.p1 (id BIGINT, v BIGINT) USING `graft-store`")
    spark.sql("ALTER TABLE propcat.p1 SET TBLPROPERTIES ('owner.team'='curation', 'quality:tier'='gold,v2')")
    val shown = spark.sql("SHOW TBLPROPERTIES propcat.p1")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown("owner.team") === "curation")
    assert(shown("quality:tier") === "gold,v2") // escStat round-trip (':' ',')
    // persisted, not session state: a fresh manifest read sees them
    assert(GraftStoreOps.tableProps(spark, s"$catBase/p1")("owner.team") === "curation")
    spark.sql("ALTER TABLE propcat.p1 UNSET TBLPROPERTIES ('owner.team')")
    assert(!GraftStoreOps.tableProps(spark, s"$catBase/p1").contains("owner.team"))
    assert(GraftStoreOps.tableProps(spark, s"$catBase/p1")("quality:tier") === "gold,v2")
  }

  test("properties survive append, overwrite, SQL DELETE, and compaction") {
    catBase
    val dir = s"$catBase/p2"
    spark.sql("CREATE TABLE propcat.p2 (id BIGINT, v BIGINT) USING `graft-store`")
    spark.sql("ALTER TABLE propcat.p2 SET TBLPROPERTIES ('k'='v0')")
    spark.range(0, 100).select($"id", ($"id" * 2).as("v"))
      .write.format("graft-store").mode("append").save(dir)
    assert(GraftStoreOps.tableProps(spark, dir)("k") === "v0")
    // row-level DML (COW delete) carries them
    spark.sql("DELETE FROM propcat.p2 WHERE id < 10")
    assert(GraftStoreOps.tableProps(spark, dir)("k") === "v0")
    // compaction carries them
    spark.range(100, 110).select($"id", ($"id" * 2).as("v"))
      .write.format("graft-store").mode("append").save(dir)
    GraftStoreOps.compactSmallFiles(spark, dir, smallBytes = 1L << 20,
      targetBytes = 4L << 20)
    assert(GraftStoreOps.tableProps(spark, dir)("k") === "v0")
    // a full overwrite replaces DATA, not table-level metadata (same
    // contract as refs)
    spark.range(0, 5).select($"id", ($"id" * 2).as("v"))
      .write.format("graft-store").mode("overwrite").save(dir)
    assert(GraftStoreOps.tableProps(spark, dir)("k") === "v0")
  }

  test("properties survive a streaming append commit") {
    catBase
    val src = Fixture.dir()
    val dir = s"$catBase/p3"
    spark.sql("CREATE TABLE propcat.p3 (id BIGINT, v BIGINT) USING `graft-store` " +
      "TBLPROPERTIES ('pipeline'='ingest-a')")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    val q = spark.readStream.schema("id BIGINT, v BIGINT").parquet(src)
      .writeStream.format("graft-store")
      .option("checkpointLocation", Fixture.dir())
      .start(dir)
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.format("graft-store").load(dir).count() === 2)
    assert(GraftStoreOps.tableProps(spark, dir)("pipeline") === "ingest-a")
  }

  test("CREATE TABLE TBLPROPERTIES persists user keys; derived keys refused") {
    catBase
    spark.sql("CREATE TABLE propcat.p4 (id BIGINT) USING `graft-store` " +
      "TBLPROPERTIES ('retention.days'='30')")
    assert(GraftStoreOps.tableProps(spark, s"$catBase/p4")("retention.days") === "30")
    // a user property may not shadow the derived read-only surface
    intercept[Exception](spark.sql(
      "ALTER TABLE propcat.p4 SET TBLPROPERTIES ('numRows'='9999')"))
    intercept[Exception](spark.sql(
      "CREATE TABLE propcat.p4b (id BIGINT) USING `graft-store` " +
        "TBLPROPERTIES ('numFiles'='1')"))
  }

  test("setProps write option stamps properties INSIDE the data commit") {
    catBase
    val dir = s"$catBase/p5"
    spark.range(0, 10).toDF("id").write.format("graft-store")
      .mode("overwrite").save(dir)
    val before = GraftStoreOps.history(spark, dir).size
    // one write, one snapshot: data AND the property land atomically
    spark.range(10, 20).toDF("id").write.format("graft-store")
      .option("setProps", "graft.mv.watermark:7")
      .mode("append").save(dir)
    assert(GraftStoreOps.history(spark, dir).size === before + 1)
    assert(GraftStoreOps.tableProps(spark, dir)("graft.mv.watermark") === "7")
    assert(spark.read.format("graft-store").load(dir).count() === 20)
    // scoped overwrite carries + restamps in its one commit too
    spark.range(0, 3).toDF("id")
      .writeTo("propcat.p5").option("setProps", "graft.mv.watermark:9")
      .overwrite(col("id") < 10)
    val props = GraftStoreOps.tableProps(spark, dir)
    assert(props("graft.mv.watermark") === "9")
    assert(spark.read.format("graft-store").load(dir).count() === 13)
  }
}
