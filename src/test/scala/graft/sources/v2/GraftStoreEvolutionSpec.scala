package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Additive schema evolution (`mergeSchema=true` appends): old files are
  * PREFIXES of the evolved schema (the row codec is positional), re-listed
  * with their physical width and null-extended at read — ADD COLUMN with
  * zero data rewrite, the Delta/Iceberg evolution shape. Non-additive
  * changes stay loud failures. */
class GraftStoreEvolutionSpec extends AnyFunSuite with graft.SparkTestBase {

  private def seed(dir: String): Unit =
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(dir)

  test("mergeSchema append adds a trailing nullable column without rewrite") {
    val dir = Fixture.dir()
    seed(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val filesBefore = GraftStoreFormat.readLatestManifest(dir, conf).get
      .files.map(_.name).toSet
    spark.range(100, 150).selectExpr("id", "id * 2 as v", "concat('t', id) as tag")
      .write.format("graft-store").option("mergeSchema", "true")
      .mode("append").save(dir)
    val m = GraftStoreFormat.readLatestManifest(dir, conf).get
    assert(m.schema.fieldNames.toSeq === Seq("id", "v", "tag"))
    // zero rewrite: every pre-evolution file carried, tagged with width 2
    val carried = m.files.filter(e => filesBefore.contains(e.name))
    assert(carried.map(_.name).toSet === filesBefore)
    assert(carried.forall(_.ncols === Some(2)))
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 150)
    // old rows null-extend; new rows carry the value
    assert(back.filter(col("tag").isNull).count() === 100)
    assert(back.filter(col("tag") === "t120").select("v").collect()(0).getLong(0) === 240L)
    // aggregates over mixed-width files stay exact
    assert(back.agg(sum("v")).collect()(0).getLong(0) === (0L until 150L).map(_ * 2).sum)
  }

  test("projection and filters work across mixed-width files") {
    val dir = Fixture.dir()
    seed(dir)
    spark.range(100, 130).selectExpr("id", "id * 2 as v", "cast(id * 1.5 as double) as score")
      .write.format("graft-store").option("mergeSchema", "true")
      .mode("append").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    // project ONLY the evolved column: old files must yield nulls, not garbage
    assert(back.select("score").filter(col("score").isNotNull).count() === 30)
    // filter on the evolved column: old files lack stats for it ->
    // conservative scan, exact row-level result
    assert(back.filter(col("score") > 165.0).count() === 19) // ids 111..129
    // IS NULL must keep every pre-evolution row
    assert(back.filter(col("score").isNull).count() === 100)
  }

  test("two-step evolution records each epoch's width; first recording wins") {
    val dir = Fixture.dir()
    seed(dir) // width 2
    spark.range(100, 110).selectExpr("id", "id * 2 as v", "concat('t', id) as tag")
      .write.format("graft-store").option("mergeSchema", "true")
      .mode("append").save(dir) // width 3
    spark.range(110, 120)
      .selectExpr("id", "id * 2 as v", "concat('t', id) as tag", "cast(id as double) as w")
      .write.format("graft-store").option("mergeSchema", "true")
      .mode("append").save(dir) // width 4
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.schema.length === 4)
    assert(m.files.map(_.ncols).toSet === Set(Some(2), Some(3), None))
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 120)
    assert(back.filter(col("tag").isNull).count() === 100)
    assert(back.filter(col("w").isNull).count() === 110)
  }

  test("time travel reads a pre-evolution snapshot with its own schema") {
    val dir = Fixture.dir()
    seed(dir)
    spark.range(100, 110).selectExpr("id", "id * 2 as v", "concat('t', id) as tag")
      .write.format("graft-store").option("mergeSchema", "true")
      .mode("append").save(dir)
    val old = spark.read.format("graft-store").option("snapshot", 0).load(dir)
    assert(old.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(old.count() === 100)
  }

  test("COW delete on an evolved table keeps widths and upgrades rewrites") {
    val dir = Fixture.dir()
    seed(dir)
    spark.range(100, 150).selectExpr("id", "id * 2 as v", "concat('t', id) as tag")
      .write.format("graft-store").option("mergeSchema", "true")
      .mode("append").save(dir)
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 120L)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 149)
    assert(back.filter(col("tag").isNull).count() === 100,
      "pre-evolution rows must survive the rewrite with null tags")
    assert(back.filter(col("tag") === "t121").count() === 1)
  }

  test("non-additive changes are rejected even with mergeSchema") {
    import spark.implicits._
    val dir = Fixture.dir()
    seed(dir)
    def fails(df: org.apache.spark.sql.DataFrame): Unit = {
      val err = intercept[Exception] {
        df.write.format("graft-store").option("mergeSchema", "true")
          .mode("append").save(dir)
      }
      assert(err.getMessage.contains("schema"), err.getMessage)
    }
    fails(Seq((1L, "x")).toDF("id", "v")) // retype v
    fails(Seq((1L, 2L, 3L)).toDF("id", "extra", "v")) // reorder/rename
    fails(Seq(1L).toDF("id")) // drop a column
    // and WITHOUT mergeSchema a wider append still fails
    val err = intercept[Exception] {
      spark.range(0, 1).selectExpr("id", "id as v", "id as extra")
        .write.format("graft-store").mode("append").save(dir)
    }
    assert(err.getMessage.contains("mergeSchema"), err.getMessage)
  }
}
