package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Copy-on-write DELETE on graft-store: stats-pruned rewrite sets, SQL
  * null semantics, snapshot history, and partition-layout retention. */
class GraftStoreDeleteSpec extends AnyFunSuite with graft.SparkTestBase {

  test("delete rewrites only the files the predicate can touch") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    // disjoint id ranges per file: id < 250 touches exactly 1 of 4 files
    val (rewritten, carried) =
      GraftStoreOps.deleteWhere(spark, dir, col("id") < 250)
    assert(rewritten === 1, s"expected 1 rewritten file, got $rewritten")
    assert(carried === 3)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 750)
    assert(back.agg(min("id")).collect()(0).getLong(0) === 250L)
    // the pre-delete snapshot is still time-travelable
    val before = spark.read.format("graft-store").option("snapshot", 0).load(dir)
    assert(before.count() === 1000)
  }

  test("delete matching nothing carries every file") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    val (rewritten, carried) =
      GraftStoreOps.deleteWhere(spark, dir, col("id") > 5000)
    assert(rewritten === 0 && carried === 4)
    assert(spark.read.format("graft-store").load(dir).count() === 100)
  }

  test("SQL DELETE null semantics: null predicate keeps the row") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, Some(1.0)), (2L, None), (3L, Some(9.0)))
      .toDF("id", "score")
      .write.format("graft-store").mode("overwrite").save(dir)
    GraftStoreOps.deleteWhere(spark, dir, col("score") > 5.0)
    val back = spark.read.format("graft-store").load(dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // row 3 deleted (cond TRUE); row 2's NULL cond keeps it
    assert(back === Seq(1L, 2L))
  }

  test("delete on a partitioned table keeps the layout and SPJ grouping") {
    val dir = Fixture.dir()
    spark.range(0, 400).selectExpr("id", "cast(id % 4 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val (rewritten, carried) = GraftStoreOps.deleteWhere(spark, dir, col("k") === 2)
    // k's per-file min==max stats prune the rewrite to exactly that file
    assert(rewritten === 1 && carried === 3)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.partitionCol === Some("k"), "delete must keep the partition layout")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 300)
    assert(back.rdd.getNumPartitions === 3, "3 remaining key groups")
    assert(back.filter(col("k") === 2).count() === 0)
  }

  test("update rewrites only may-match files and applies set expressions") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    val (rewritten, carried) = GraftStoreOps.updateWhere(
      spark, dir, col("id") < 250, Map("v" -> lit(-1L)))
    assert(rewritten === 1 && carried === 3)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 1000, "UPDATE must not change row counts")
    assert(back.filter(col("v") === -1L).count() === 250)
    assert(back.filter(col("id") >= 250 && col("v") =!= col("id") * 2).count() === 0,
      "unmatched rows must be byte-identical copies")
  }

  test("updating the partition column itself keeps one-value-per-file") {
    val dir = Fixture.dir()
    spark.range(0, 400).selectExpr("id", "cast(id % 4 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    // fold partition 3 into partition 0 — rows MOVE between key values
    GraftStoreOps.updateWhere(spark, dir, col("k") === 3, Map("k" -> lit(0)))
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 400)
    assert(back.filter(col("k") === 3).count() === 0)
    assert(back.filter(col("k") === 0).count() === 200)
    // the rewrite re-applied partitionBy: still one keyed group per value
    assert(back.rdd.getNumPartitions === 3)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.partitionCol === Some("k"))
  }

  test("merge: updates matched rows, inserts new keys, prunes by source key range") {
    import spark.implicits._
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    // source keys 100..109 (updates, in file 0's range) + 5000..5004 (inserts)
    val source = ((100L until 110L) ++ (5000L until 5005L)).map(k => (k, -k))
      .toDF("id", "v")
    val (rewritten, carried) = GraftStoreOps.mergeInto(spark, dir, source, "id")
    // the source key RANGE [100, 5004] spans all 4 files here — but a
    // narrow-range source prunes (next assertion block)
    assert(rewritten + carried === 4)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 1005)
    assert(back.filter(col("id") === 105L).collect()(0).getAs[Long]("v") === -105L)
    assert(back.filter(col("id") === 5002L).count() === 1)
    assert(back.filter(col("id") === 500L).collect()(0).getAs[Long]("v") === 1000L)

    // narrow-range source against a FRESH range-laid table (the merge above
    // rewrote and AQE-coalesced the first table's layout): only the file
    // holding [0, 250) is touched
    val dir2 = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir2)
    val source2 = Seq((10L, 111L), (20L, 222L)).toDF("id", "v")
    val (r2, c2) = GraftStoreOps.mergeInto(spark, dir2, source2, "id")
    assert(r2 === 1, s"expected 1 rewritten file, got $r2")
    assert(c2 === 3)
    val after = spark.read.format("graft-store").load(dir2)
    assert(after.count() === 1000)
    assert(after.filter(col("id") === 10L).collect()(0).getAs[Long]("v") === 111L)
  }

  test("merge with keys beyond every file range still inserts") {
    import spark.implicits._
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val source = Seq((90000L, 1L), (90001L, 2L)).toDF("id", "v")
    GraftStoreOps.mergeInto(spark, dir, source, "id")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 102)
    assert(back.filter(col("id") >= 90000L).count() === 2)
  }

  test("merge rejects duplicate source keys") {
    import spark.implicits._
    val dir = Fixture.dir()
    spark.range(0, 10).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val dup = Seq((1L, 7L), (1L, 8L)).toDF("id", "v")
    val err = intercept[IllegalArgumentException] {
      GraftStoreOps.mergeInto(spark, dir, dup, "id")
    }
    assert(err.getMessage.contains("duplicate"), err.getMessage)
  }

  test("SQL DELETE FROM routes through the COW kernel via the catalog") {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.graftdel", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftdel.base", base)
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(s"$base/t")
    spark.sql("DELETE FROM graftdel.t WHERE id < 40")
    assert(spark.sql("SELECT count(*) FROM graftdel.t").collect()(0).getLong(0) === 60)
    assert(spark.sql("SELECT min(id) FROM graftdel.t").collect()(0).getLong(0) === 40L)
    // the delete is a snapshot: VERSION AS OF 0 still sees all 100 rows
    assert(spark.sql("SELECT count(*) FROM graftdel.t VERSION AS OF 0")
      .collect()(0).getLong(0) === 100)
  }

  test("UPDATE with a wider-typed SET value keeps the declared column type") {
    val dir = Fixture.dir()
    spark.range(0, 50).selectExpr("id", "cast(id as int) as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    // a LONG literal into an INT column: the kernel casts to the declared
    // type — publishing long-encoded files under an int schema would
    // misalign the positional row decode into silent garbage
    GraftStoreOps.updateWhere(spark, dir, col("id") === 7L, Map("v" -> lit(99L)))
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.schema("v").dataType === org.apache.spark.sql.types.IntegerType)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.filter(col("id") === 7L).collect()(0).getInt(1) === 99)
    assert(back.count() === 50)
  }

  test("MERGE with a mismatched source column type is rejected loudly") {
    import spark.implicits._
    val dir = Fixture.dir()
    spark.range(0, 10).selectExpr("id", "cast(id as int) as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val err = intercept[IllegalArgumentException] {
      GraftStoreOps.mergeInto(spark, dir,
        Seq((3L, 5000000000L)).toDF("id", "v"), "id") // v: LONG vs table INT
    }
    assert(err.getMessage.contains("types"))
  }

  test("untranslatable predicates fall back to rewriting every file, correctly") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "cast(id as string) as s")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    // length(s) > 1 has no stats translation -> every file may match
    val (rewritten, carried) =
      GraftStoreOps.deleteWhere(spark, dir, length(col("s")) > 1)
    assert(rewritten === 4 && carried === 0)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 10) // ids 0..9 survive
  }
}
