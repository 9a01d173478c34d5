package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Binpack small-file compaction ([[GraftStoreOps.compactSmallFiles]]):
  * only files under the threshold rewrite; right-sized files carry with
  * zero I/O — the routine-maintenance dual of full-table compaction. */
class GraftStoreCompactSmallSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private def fileNames(dir: String): Set[String] =
    GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get.files.map(_.name).toSet

  test("compactWhere scopes the rewrite to the matching partition only") {
    val dir = Fixture.dir()
    // day-partitioned table, 3 small epoch appends per day
    (0 until 3).foreach { i =>
      Seq.tabulate(40)(j => (s"d${j % 2}", i * 100L + j)).toDF("day", "v")
        .coalesce(1).write.format("graft-store")
        .option("partitionBy", "day").mode(if (i == 0) "overwrite" else "append")
        .save(dir)
    }
    val before = fileNames(dir)
    assert(before.size === 6, s"3 appends x 2 day values: $before")
    val d1Before = spark.read.format("graft-store").load(dir)
      .filter(col("day") === "d1").as[(String, Long)].collect().toSet
    val (rw, carried) = GraftStoreOps.compactWhere(spark, dir,
      col("day") === "d1", targetBytes = 64L << 20)
    assert(rw === 3 && carried === 3, s"only d1's files rewrite: ($rw, $carried)")
    val after = fileNames(dir)
    assert(after.size === 4, s"d1 binpacks to one file, d0 carries: $after")
    assert((before -- after).size === 3 && (after -- before).size === 1)
    // rows preserved exactly; the untouched partition is byte-identical
    assert(spark.read.format("graft-store").load(dir)
      .filter(col("day") === "d1").as[(String, Long)].collect().toSet === d1Before)
    assert(spark.read.format("graft-store").load(dir).count() === 120)
    // an out-of-scope predicate is a cheap no-op
    assert(GraftStoreOps.compactWhere(spark, dir,
      col("day") === "nope", 64L << 20) === ((0, 4)))
    // a predicate with NO file-skippable form cannot scope anything —
    // refusing loudly beats silently rewriting the whole table
    val e = intercept[IllegalArgumentException](GraftStoreOps.compactWhere(
      spark, dir, length(col("day")) % 2 === 0, 64L << 20))
    assert(e.getMessage.contains("compactSnapshot"), e.getMessage)
    assert(fileNames(dir) === after, "refused compaction must not commit")
  }

  test("small files merge; the big file carries untouched") {
    val dir = Fixture.dir()
    // one big file (5000 rows) ...
    spark.range(0, 5000).coalesce(1).selectExpr("id", "repeat('x', 30) as pad")
      .write.format("graft-store").mode("overwrite").save(dir)
    val big = fileNames(dir)
    assert(big.size === 1)
    // ... plus a trail of 6 small epoch-style appends
    (0 until 6).foreach(i =>
      spark.range(5000 + i * 10, 5010 + i * 10).coalesce(1)
        .selectExpr("id", "repeat('x', 30) as pad")
        .write.format("graft-store").mode("append").save(dir))
    assert(fileNames(dir).size === 7)
    val (rewritten, carried) =
      GraftStoreOps.compactSmallFiles(spark, dir, smallBytes = 10000, targetBytes = 1 << 20)
    assert(rewritten === 6 && carried === 1)
    val after = fileNames(dir)
    assert(big.subsetOf(after), "the right-sized file must carry untouched")
    assert(after.size === 2, s"six small files should binpack into one, got $after")
    // data exact
    val got = spark.read.format("graft-store").load(dir)
    assert(got.count() === 5060)
    assert(got.agg(sum("id")).collect()(0).getLong(0) ===
      (0L until 5000L).sum + (5000L until 5060L).sum)
  }

  test("no-op when nothing is worth merging") {
    val dir = Fixture.dir()
    spark.range(0, 1000).coalesce(1).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(dir)
    val before = fileNames(dir)
    val (rewritten, carried) =
      GraftStoreOps.compactSmallFiles(spark, dir, smallBytes = 100, targetBytes = 1 << 20)
    assert(rewritten === 0 && carried === 1)
    assert(fileNames(dir) === before, "a no-op must not commit")
  }

  test("rewriting a masked small file repays its read debt") {
    val dir = Fixture.dir()
    spark.range(0, 100).coalesce(1).selectExpr("id")
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 10)
    assert(GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get.deletes.nonEmpty)
    // a single small file, but masked — the rewrite applies the mask
    val (rewritten, _) =
      GraftStoreOps.compactSmallFiles(spark, dir, smallBytes = 1 << 20, targetBytes = 1 << 20)
    assert(rewritten === 1)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.deletes.isEmpty, "compaction must drop the repaid delete entries")
    assert(spark.read.format("graft-store").load(dir).count() === 90)
  }

  test("partitioned tables keep their layout through small-file compaction") {
    val dir = Fixture.dir()
    spark.range(0, 40).selectExpr("id", "id % 2 as part")
      .write.format("graft-store").option("partitionBy", "part")
      .mode("overwrite").save(dir)
    (0 until 3).foreach(i =>
      spark.range(40 + i * 4, 44 + i * 4).selectExpr("id", "id % 2 as part")
        .write.format("graft-store").option("partitionBy", "part")
        .mode("append").save(dir))
    GraftStoreOps.compactSmallFiles(spark, dir, smallBytes = 1 << 20, targetBytes = 1 << 20)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    // every file still holds exactly one partition value (SPJ invariant)
    assert(m.files.forall(_.partVals.exists(_.length == 1)))
    assert(spark.read.format("graft-store").load(dir).count() === 52)
  }
}
