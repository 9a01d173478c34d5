package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CHECK constraints (Delta constraint semantics): a table property
  * declared at write time (`check` option), persisted in the manifest,
  * inherited and ENFORCED by every later append, streaming epoch, and COW
  * rewrite. SQL semantics: only FALSE rejects (NULL passes). A violation
  * fails the whole write — the manifest is never touched. */
class GraftStoreCheckSpec extends AnyFunSuite with graft.SparkTestBase {

  test("declared constraint persists and rejects violating appends atomically") {
    val dir = Fixture.dir()
    spark.range(0, 50).selectExpr("id", "id * 10 as v")
      .write.format("graft-store").option("check", "v >= 0")
      .mode("overwrite").save(dir)
    // bare append (no option) must still enforce the table constraint
    val err = intercept[Exception] {
      spark.range(50, 60).selectExpr("id", "id - 100 as v") // negatives
        .write.format("graft-store").mode("append").save(dir)
    }
    assert(err.getMessage.contains("CHECK"), err.getMessage)
    // the failed append committed NOTHING
    assert(spark.read.format("graft-store").load(dir).count() === 50)
    assert(GraftStoreOps.history(spark, dir).size === 1)
    // a valid bare append passes
    spark.range(60, 70).selectExpr("id", "id as v")
      .write.format("graft-store").mode("append").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 60)
  }

  test("NULL constraint results pass (SQL CHECK semantics)") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, java.lang.Long.valueOf(5L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "v")
      .write.format("graft-store").option("check", "v > 0")
      .mode("overwrite").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 2)
  }

  test("COW UPDATE cannot set values that violate the constraint") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").option("check", "v >= 0")
      .mode("overwrite").save(dir)
    val err = intercept[Exception] {
      GraftStoreOps.updateWhere(spark, dir, col("id") === 7L,
        Map("v" -> lit(-1L)))
    }
    assert(err.getMessage.contains("CHECK"), err.getMessage)
    // table unchanged, constraint intact
    val back = spark.read.format("graft-store").load(dir)
    assert(back.filter(col("v") < 0).count() === 0)
    assert(back.count() === 100)
    // a LEGAL update passes and the rewritten snapshot keeps the constraint
    GraftStoreOps.updateWhere(spark, dir, col("id") === 7L, Map("v" -> lit(777L)))
    val err2 = intercept[Exception] {
      spark.range(0, 1).selectExpr("id", "id - 5 as v")
        .write.format("graft-store").mode("append").save(dir)
    }
    assert(err2.getMessage.contains("CHECK"))
  }

  test("conflicting check option on append fails; overwrite changes it") {
    val dir = Fixture.dir()
    spark.range(0, 10).selectExpr("id", "id as v")
      .write.format("graft-store").option("check", "v >= 0")
      .mode("overwrite").save(dir)
    val err = intercept[Exception] {
      spark.range(10, 20).selectExpr("id", "id as v")
        .write.format("graft-store").option("check", "v >= 5")
        .mode("append").save(dir)
    }
    assert(err.getMessage.contains("constraint"), err.getMessage)
    // overwrite re-declares freely
    spark.range(0, 10).selectExpr("id", "id + 100 as v")
      .write.format("graft-store").option("check", "v >= 100")
      .mode("overwrite").save(dir)
    val err2 = intercept[Exception] {
      spark.range(0, 1).selectExpr("id", "id as v")
        .write.format("graft-store").mode("append").save(dir)
    }
    assert(err2.getMessage.contains("CHECK"))
  }

  test("streaming epochs enforce the table constraint") {
    import spark.implicits._
    val src = Fixture.dir()
    val dir = Fixture.dir()
    val ckpt = Fixture.dir()
    val seed = Fixture.dir() + "/seed"
    spark.range(0, 10).selectExpr("id", "id as v").write.parquet(seed)
    spark.read.parquet(seed)
      .write.format("graft-store").option("check", "v >= 0")
      .mode("overwrite").save(dir)
    Seq((100L, -5L)).toDF("id", "v").coalesce(1).write.mode("append").parquet(src)
    val q = spark.readStream.schema("id BIGINT, v BIGINT").parquet(src)
      .writeStream.format("graft-store")
      .option("checkpointLocation", ckpt)
      .start(dir)
    val err = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    assert(err.getMessage.contains("CHECK"), err.getMessage.take(300))
    assert(spark.read.format("graft-store").load(dir).count() === 10)
  }

  test("compaction preserves the constraint (maintenance must not drop it)") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id as v")
      .write.format("graft-store").option("check", "v >= 0")
      .mode("overwrite").save(dir)
    spark.range(100, 200).selectExpr("id", "id as v")
      .write.format("graft-store").mode("append").save(dir)
    GraftStoreOps.compactSnapshot(spark, dir, targetBytes = 1L << 30)
    // post-compaction appends are still gated
    val err = intercept[Exception] {
      spark.range(0, 1).selectExpr("id", "id - 10 as v")
        .write.format("graft-store").mode("append").save(dir)
    }
    assert(err.getMessage.contains("CHECK"), err.getMessage.take(300))
    assert(spark.read.format("graft-store").load(dir).count() === 200)
  }

  test("a constraint declared by a STREAM on a fresh table is persisted") {
    import spark.implicits._
    val src = Fixture.dir()
    val dir = Fixture.dir()
    val ckpt = Fixture.dir()
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val q = spark.readStream.schema("id BIGINT, v BIGINT").parquet(src)
      .writeStream.format("graft-store").option("check", "v >= 0")
      .option("checkpointLocation", ckpt)
      .start(dir)
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.format("graft-store").load(dir).count() === 2)
    // the constraint outlives the stream: a later batch append is gated
    val err = intercept[Exception] {
      spark.range(0, 1).selectExpr("id", "id - 10 as v")
        .write.format("graft-store").mode("append").save(dir)
    }
    assert(err.getMessage.contains("CHECK"), err.getMessage.take(300))
  }

  test("type coercion works in constraints (int literal vs double column)") {
    val dir = Fixture.dir()
    spark.range(0, 5).selectExpr("id", "cast(id as double) / 2 as ratio")
      .write.format("graft-store").option("check", "ratio < 10 AND id >= 0")
      .mode("overwrite").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 5)
  }
}
