package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `MERGE WITH SCHEMA EVOLUTION INTO` (Spark 4's DSv2 surface, gated on
  * `TableCapability.AUTOMATIC_SCHEMA_EVOLUTION`): columns the merge
  * SOURCE carries beyond the target schema are added via alterTable
  * BEFORE the row-level write plans — on the field-ID evolution layer
  * that is a metadata-only commit, with pre-evolution rows null-extended
  * (or served their declared DEFAULT). */
class GraftStoreMergeEvolveSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.mecat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mecat.base", base)
    base
  }

  test("source-only columns are added; old rows null-extend; merge applies") {
    catBase
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t1")
    Seq((2L, 200L, "beta"), (3L, 30L, "gamma")).toDF("id", "v", "tag")
      .createOrReplaceTempView("src1")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO mecat.t1 t USING src1 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = spark.sql("SELECT id, v, tag FROM mecat.t1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    assert(out.toSeq === Seq((1L, 10L, null), (2L, 200L, "beta"), (3L, 30L, "gamma")))
  }

  test("without WITH SCHEMA EVOLUTION the target schema stays fixed") {
    catBase
    Seq((1L, 10L)).toDF("id", "v")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t2")
    Seq((1L, 11L, "x")).toDF("id", "v", "tag").createOrReplaceTempView("src2")
    // star-assignment expands over TARGET columns: the extra source column
    // is ignored, the schema does not grow (Spark's plain-merge contract)
    spark.sql(
      """MERGE INTO mecat.t2 t USING src2 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("mecat.t2").schema.fieldNames.toSeq === Seq("id", "v"))
    assert(spark.sql("SELECT v FROM mecat.t2 WHERE id = 1")
      .collect()(0).getLong(0) === 11L)
  }

  test("evolution composes with MOR storage and a further plain merge") {
    catBase
    spark.sql("CREATE TABLE mecat.t3 (id BIGINT, v BIGINT) USING `graft-store` " +
      "TBLPROPERTIES ('dmlMode'='mor')")
    Seq((1L, 1L), (2L, 2L)).toDF("id", "v")
      .write.format("graft-store").mode("append").save(s"$catBase/t3")
    Seq((2L, 22L, 7L), (4L, 44L, 9L)).toDF("id", "v", "w")
      .createOrReplaceTempView("src3")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO mecat.t3 t USING src3 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT sum(coalesce(w, 0)) FROM mecat.t3")
      .collect()(0).getLong(0) === 16L)
    // the evolved table keeps merging normally
    Seq((1L, 100L, 1L)).toDF("id", "v", "w").createOrReplaceTempView("src3b")
    spark.sql(
      """MERGE INTO mecat.t3 t USING src3b s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(spark.sql("SELECT v, w FROM mecat.t3 WHERE id = 1")
      .collect()(0).getLong(0) === 100L)
  }
}
