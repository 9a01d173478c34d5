package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL DDL through [[GraftCatalog.alterTable]]: additive ADD COLUMNS as a
  * metadata-only commit, CHECK constraints via table properties with
  * existing-row validation, loud rejection of non-additive changes. */
class GraftCatalogDdlSpec extends AnyFunSuite with graft.SparkTestBase {

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.ddlcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ddlcat.base", base)
    base
  }

  private def manifest(t: String) = GraftStoreFormat.readLatestManifest(
    s"$catBase/$t", spark.sparkContext.hadoopConfiguration).get

  test("ALTER TABLE ADD COLUMNS: metadata-only widening, null-extended reads") {
    catBase
    spark.range(0, 30).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t1")
    val before = manifest("t1")
    spark.sql("ALTER TABLE ddlcat.t1 ADD COLUMNS (note STRING)")
    val after = manifest("t1")
    assert(after.schema.fieldNames.toSeq === Seq("id", "v", "note"))
    assert(after.files.map(_.name) === before.files.map(_.name),
      "ADD COLUMN must rewrite zero data files")
    assert(after.files.forall(_.ncols.contains(2)),
      "existing files record their pre-widening width")
    // old rows null-extend; new appends fill the column
    spark.range(30, 40).selectExpr("id", "id * 2 as v", "concat('n', id) as note")
      .write.format("graft-store").mode("append").save(s"$catBase/t1")
    val got = spark.sql(
      "SELECT count(*) AS n, count(note) AS with_note FROM ddlcat.t1").collect()(0)
    assert(got.getLong(0) === 40 && got.getLong(1) === 10)
  }

  test("unsupported changes are rejected loudly (positional codec)") {
    catBase
    spark.range(0, 10).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t2")
    // RENAME/DROP are field-id evolution now (GraftStoreFieldIdSpec);
    // retype, NOT NULL adds, and positioned adds stay impossible in place
    intercept[Exception](
      spark.sql("ALTER TABLE ddlcat.t2 ALTER COLUMN v TYPE double"))
    intercept[Exception](
      spark.sql("ALTER TABLE ddlcat.t2 ADD COLUMNS (w BIGINT NOT NULL)"))
    intercept[Exception]( // position specs are unsupported, never silent
      spark.sql("ALTER TABLE ddlcat.t2 ADD COLUMNS (w BIGINT FIRST)"))
    assert(manifest("t2").schema.fieldNames.toSeq === Seq("id", "v"),
      "rejected DDL must not commit")
  }

  test("SET TBLPROPERTIES('check') validates existing rows, then enforces") {
    catBase
    spark.range(0, 20).selectExpr("id", "cast(id as double) as price")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t3")
    // a constraint the data violates must not declare
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE ddlcat.t3 SET TBLPROPERTIES ('check'='price > 5')")
    }
    assert(err.getMessage.contains("violate"))
    assert(manifest("t3").check.isEmpty)
    // a satisfiable one declares and gates future writes
    spark.sql("ALTER TABLE ddlcat.t3 SET TBLPROPERTIES ('check'='price >= 0')")
    assert(manifest("t3").check.contains("price >= 0"))
    val rejected = intercept[Exception] {
      spark.range(0, 1).selectExpr("id + 100 as id", "cast(-1 as double) as price")
        .write.format("graft-store").mode("append").save(s"$catBase/t3")
    }
    assert(rejected.getMessage != null && rejected.getMessage.contains("CHECK"))
    // UNSET clears; the violating append then lands
    spark.sql("ALTER TABLE ddlcat.t3 UNSET TBLPROPERTIES ('check')")
    assert(manifest("t3").check.isEmpty)
    spark.range(0, 1).selectExpr("id + 100 as id", "cast(-1 as double) as price")
      .write.format("graft-store").mode("append").save(s"$catBase/t3")
    assert(spark.sql("SELECT count(*) FROM ddlcat.t3").collect()(0).getLong(0) === 21)
  }

  test("ADD COLUMNS on an evolved-layout table keeps the spec history") {
    catBase
    spark.range(0, 20).selectExpr("id", "id % 4 as k")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t4")
    GraftStoreOps.evolvePartitionSpec(spark, s"$catBase/t4", Some("bucket(4,k)"))
    spark.sql("ALTER TABLE ddlcat.t4 ADD COLUMNS (tag STRING)")
    val m = manifest("t4")
    assert(m.partitionSpecs === Some(Seq("", "bucket(4,k)")))
    assert(m.schema.fieldNames.toSeq === Seq("id", "k", "tag"))
    assert(spark.sql("SELECT count(*) FROM ddlcat.t4 WHERE tag IS NULL")
      .collect()(0).getLong(0) === 20)
  }
}
