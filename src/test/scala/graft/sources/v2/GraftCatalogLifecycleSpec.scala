package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL DDL lifecycle through the catalog: CREATE TABLE (with partition
  * transforms + table properties) as a seq-0 manifest commit, atomic
  * CTAS/RTAS via StagingTableCatalog, DROP, RENAME. */
class GraftCatalogLifecycleSpec extends AnyFunSuite with graft.SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def manifest(dir: String): GraftManifest =
    GraftStoreFormat.readLatestManifest(dir, conf).get

  private def catalogFor(name: String): String = {
    val base = Fixture.dir()
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    base
  }

  test("CREATE TABLE declares schema, layout and properties; INSERT routes by them") {
    val base = catalogFor("ddl1")
    spark.sql(
      """CREATE TABLE ddl1.t (id BIGINT, k STRING)
        |PARTITIONED BY (k) TBLPROPERTIES ('check' = 'id >= 0')""".stripMargin)
    val m = manifest(s"$base/t")
    assert(m.files.isEmpty && m.partitionCol === Some("k") &&
      m.check === Some("id >= 0"))
    spark.sql("INSERT INTO ddl1.t SELECT id, cast(id % 3 as string) FROM range(30)")
    val m2 = manifest(s"$base/t")
    assert(m2.files.size === 3, "identity routing: one file per k value")
    assert(m2.files.forall(_.partVals.isDefined), "explicit partVals recorded")
    assert(spark.sql("SELECT count(*) FROM ddl1.t").collect()(0).getLong(0) === 30)
    // the declared CHECK gates inserts
    val e = intercept[Exception] {
      spark.sql("INSERT INTO ddl1.t VALUES (-5, 'x')")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.toLowerCase.contains("check")))
  }

  test("CREATE TABLE with transform partitioning (days + bucket)") {
    val base = catalogFor("ddl2")
    spark.sql(
      """CREATE TABLE ddl2.ev (ts TIMESTAMP, k BIGINT, v DOUBLE)
        |PARTITIONED BY (days(ts), bucket(4, k))""".stripMargin)
    assert(manifest(s"$base/ev").partitionCol === Some("days(ts),bucket(4,k)"))
    spark.sql(
      """INSERT INTO ddl2.ev
        |SELECT timestamp'2024-01-01 12:00:00' + make_interval(0,0,0,cast(id%3 as int),0,0,0),
        |       id, cast(id as double) FROM range(40)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM ddl2.ev").collect()(0).getLong(0) === 40)
    val m = manifest(s"$base/ev")
    assert(m.files.forall(_.partVals.exists(_.length === 2)),
      "both transform elements carry explicit values")
  }

  test("CREATE TABLE twice fails; IF NOT EXISTS is silent") {
    catalogFor("ddl3")
    spark.sql("CREATE TABLE ddl3.t (id BIGINT)")
    intercept[Exception] { spark.sql("CREATE TABLE ddl3.t (id BIGINT)") }
    spark.sql("CREATE TABLE IF NOT EXISTS ddl3.t (id BIGINT)") // no-op
  }

  test("unknown CREATE property persists as a user property (v18); bad type fails") {
    val base = catalogFor("ddl4")
    // since #props= (manifest v18), non-reserved keys are USER properties
    // — the Iceberg/Delta arbitrary-TBLPROPERTIES contract (the old
    // loud-typo refusal survives only for derived read-only keys)
    spark.sql("CREATE TABLE ddl4.a (id BIGINT) TBLPROPERTIES ('bloomColz'='id')")
    assert(GraftStoreOps.tableProps(spark, s"$base/a")("bloomColz") === "id")
    intercept[Exception] {
      spark.sql("CREATE TABLE ddl4.c (id BIGINT) TBLPROPERTIES ('numRows'='1')")
    }
    // decimal is codec-supported at EVERY precision since r9: 8-byte
    // unscaled long to p<=18, 16-byte two's complement beyond
    spark.sql("CREATE TABLE ddl4.b (id DECIMAL(25,3))")
    spark.sql("INSERT INTO ddl4.b VALUES (1234567890123456789012.345)")
    assert(spark.sql("SELECT id FROM ddl4.b").collect()(0)
      .getDecimal(0).toString === "1234567890123456789012.345")
    spark.sql("CREATE TABLE ddl4.d (id DECIMAL(12,2))") // fine
  }

  test("CTAS is atomic and carries declared layout") {
    val base = catalogFor("ddl5")
    spark.sql(
      """CREATE TABLE ddl5.t PARTITIONED BY (k) AS
        |SELECT id, cast(id % 4 as string) AS k FROM range(100)""".stripMargin)
    val m = manifest(s"$base/t")
    assert(m.partitionCol === Some("k"))
    assert(m.files.size === 4)
    // exactly ONE snapshot: the table appeared fully populated
    assert(GraftStoreFormat.listManifests(s"$base/t", conf).size === 1)
    assert(spark.sql("SELECT count(*) FROM ddl5.t").collect()(0).getLong(0) === 100)
  }

  test("REPLACE TABLE AS SELECT swaps contents atomically") {
    val base = catalogFor("ddl6")
    spark.sql("CREATE TABLE ddl6.t AS SELECT id FROM range(10)")
    val snapsBefore = GraftStoreFormat.listManifests(s"$base/t", conf).size
    spark.sql("REPLACE TABLE ddl6.t AS SELECT id * 100 AS id FROM range(3)")
    assert(spark.sql("SELECT sum(id) FROM ddl6.t").collect()(0).getLong(0) === 300)
    assert(GraftStoreFormat.listManifests(s"$base/t", conf).size === snapsBefore + 1,
      "the replace is ONE truncating commit")
    // REPLACE of a nonexistent table fails; CREATE OR REPLACE doesn't
    intercept[Exception] { spark.sql("REPLACE TABLE ddl6.nope AS SELECT 1 AS x") }
    spark.sql("CREATE OR REPLACE TABLE ddl6.fresh AS SELECT 1 AS x")
    assert(spark.sql("SELECT count(*) FROM ddl6.fresh").collect()(0).getLong(0) === 1)
  }

  test("DROP TABLE removes the table; RENAME moves it metadata-only") {
    val base = catalogFor("ddl7")
    spark.sql("CREATE TABLE ddl7.t AS SELECT id FROM range(5)")
    spark.sql("ALTER TABLE ddl7.t RENAME TO u") // target is catalog-relative
    assert(!new java.io.File(s"$base/t").exists)
    assert(spark.sql("SELECT count(*) FROM ddl7.u").collect()(0).getLong(0) === 5)
    assert(spark.sql("SHOW TABLES IN ddl7").collect().map(_.getString(1)).toSet === Set("u"))
    spark.sql("DROP TABLE ddl7.u")
    assert(!new java.io.File(s"$base/u").exists)
    intercept[Exception] { spark.sql("SELECT * FROM ddl7.u").collect() }
  }

  test("namespaces: CREATE/SHOW/USE-scoped tables/DROP with the SQL contract") {
    val base = catalogFor("ddl9")
    spark.sql("CREATE NAMESPACE ddl9.team")
    assert(new java.io.File(s"$base/team").isDirectory)
    spark.sql("CREATE TABLE ddl9.team.t AS SELECT id FROM range(6)")
    assert(spark.sql("SELECT count(*) FROM ddl9.team.t").collect()(0).getLong(0) === 6)
    // SHOW discriminates tables from namespaces by manifest presence
    assert(spark.sql("SHOW NAMESPACES IN ddl9").collect()
      .map(_.getString(0)).toSet === Set("team"))
    assert(spark.sql("SHOW TABLES IN ddl9.team").collect()
      .map(_.getString(1)).toSet === Set("t"))
    assert(spark.sql("SHOW TABLES IN ddl9").collect().isEmpty,
      "a namespace dir must not list as a table")
    // non-empty namespace refuses a bare DROP; CASCADE removes everything
    intercept[Exception] { spark.sql("DROP NAMESPACE ddl9.team") }
    spark.sql("DROP NAMESPACE ddl9.team CASCADE")
    assert(!new java.io.File(s"$base/team").exists)
  }

  test("CREATE with dmlMode=mor: SQL DELETE takes the position-delete path") {
    val base = catalogFor("ddl8")
    spark.sql(
      "CREATE TABLE ddl8.t (id BIGINT, v BIGINT) TBLPROPERTIES ('dmlMode'='mor')")
    spark.sql("INSERT INTO ddl8.t SELECT id, id * 2 FROM range(100)")
    assert(manifest(s"$base/t").isMor)
    spark.sql("DELETE FROM ddl8.t WHERE id < 40")
    val m = manifest(s"$base/t")
    assert(m.deletes.nonEmpty || m.dropCdc.nonEmpty, "MOR delete path taken")
    assert(spark.sql("SELECT count(*) FROM ddl8.t").collect()(0).getLong(0) === 60)
  }
}
