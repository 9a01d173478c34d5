package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** METADATA-ONLY DELETE (Iceberg partition-drop economics): a file whose
  * every row PROVABLY matches the predicate (stats / null counts /
  * identity partition values) leaves the listing without being read or
  * rewritten. The commit stamps `#dropcdc=` so the change feed resolves
  * the dropped rows as delete pre-images reader-side. */
class GraftStoreMetaDropSpec extends AnyFunSuite with graft.SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def manifest(dir: String): GraftManifest =
    GraftStoreFormat.readLatestManifest(dir, conf).get
  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("part-")).toSet

  test("fully-covered file drops metadata-only: no read, no rewrite") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    val before = manifest(dir).files.map(_.name)
    val diskBefore = dataFiles(dir)
    val (touched, carried) = GraftStoreOps.deleteWhere(spark, dir, col("id") < 250)
    assert(touched === 1 && carried === 3)
    val m = manifest(dir)
    // the listing shrank by exactly the proven file; the 3 carried files
    // keep their ORIGINAL names (nothing was rewritten)...
    assert(m.files.size === 3)
    assert(m.files.map(_.name).toSet.subsetOf(before.toSet))
    assert(m.dropCdc.size === 1)
    assert(before.contains(m.dropCdc.head))
    // ...no new data file was written, and the dropped file is STILL on
    // disk (older snapshots read it; expiry reclaims it)
    assert(dataFiles(dir) === diskBefore, "a metadata drop must write no data file")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 750)
    assert(back.agg(min("id")).collect()(0).getLong(0) === 250L)
    assert(spark.read.format("graft-store").option("snapshot", 0).load(dir)
      .count() === 1000)
  }

  test("bare DELETE (always-true) drops every file metadata-only") {
    val dir = Fixture.dir()
    spark.range(0, 400).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    val diskBefore = dataFiles(dir)
    val (touched, carried) = GraftStoreOps.deleteWhere(spark, dir, lit(true))
    assert(touched === 4 && carried === 0)
    assert(manifest(dir).files.isEmpty)
    assert(manifest(dir).dropCdc.size === 4)
    assert(dataFiles(dir) === diskBefore)
    assert(spark.read.format("graft-store").load(dir).count() === 0)
  }

  test("a possible null defeats the proof: the file rewrites instead") {
    import spark.implicits._
    val dir = Fixture.dir()
    // one file, v nullable with an actual null: every non-null v is < 100,
    // but the null row must SURVIVE the delete (cond NULL keeps the row)
    Seq((1L, Some(5.0)), (2L, None), (3L, Some(7.0))).toDF("id", "v")
      .coalesce(1).write.format("graft-store").mode("overwrite").save(dir)
    val (touched, _) = GraftStoreOps.deleteWhere(spark, dir, col("v") < 100.0)
    assert(touched === 1)
    val m = manifest(dir)
    assert(m.dropCdc.isEmpty, "a file with nulls must not be proof-dropped")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("negation and disjunction proofs (strict NOT needs null-freedom)") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    // NOT(id >= 250): proven on the [0,249] file (null-free + may-match
    // refuted); OR of two provable ranges drops both end files
    val (t1, _) = GraftStoreOps.deleteWhere(spark, dir, !(col("id") >= 250))
    assert(manifest(dir).dropCdc.size === 1, "NOT proof should drop the low file")
    assert(t1 === 1)
    val (t2, _) = GraftStoreOps.deleteWhere(spark, dir,
      col("id") < 500 || col("id") >= 750)
    assert(manifest(dir).dropCdc.size === 2, "OR of proven ranges drops both files")
    assert(t2 === 2)
    assert(spark.read.format("graft-store").load(dir).count() === 250)
  }

  test("identity partition value proves equality where string stats cap away") {
    val dir = Fixture.dir()
    // 70-char partition values: the >64-char stat cap drops min/max, so
    // only the explicit partVals can prove full coverage
    spark.range(0, 300)
      .selectExpr("id", "concat(repeat('k', 69), cast(id % 3 as string)) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val key = "k" * 69 + "1"
    val diskBefore = dataFiles(dir)
    val (touched, carried) = GraftStoreOps.deleteWhere(spark, dir, col("k") === key)
    assert(touched === 1 && carried === 2)
    assert(manifest(dir).dropCdc.size === 1, "partVal proof should metadata-drop")
    assert(dataFiles(dir) === diskBefore)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 200)
    assert(back.filter(col("k") === key).count() === 0)
  }

  test("change feed resolves dropped files as delete pre-images") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .repartitionByRange(2, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    // drops [0,49] metadata-only; [50,99] untouched
    GraftStoreOps.deleteWhere(spark, dir, col("id") < 50)
    assert(manifest(dir).dropCdc.size === 1)
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "1").load(dir)
    val got = feed.select("id", "change_type", "_commit_snapshot").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === (0L until 50L).map(i => (i, "delete", 1L)).toSet,
      "every dropped row must emit as a delete pre-image at the drop commit")
  }

  test("drop synthesis applies prior position masks (already-dead rows stay dead)") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .repartitionByRange(2, col("id"))
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    // commit 1: MOR position-deletes ids 0..9 (masks, file stays listed)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 10)
    // commit 2: full-coverage proof drops the whole [0,49] file
    val (rows, delFiles) = GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 50)
    assert(delFiles === 0, "a proven-full file must not collect position deletes")
    assert(manifest(dir).dropCdc.size === 1)
    assert(manifest(dir).files.size === 1)
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "1").load(dir)
    val byCommit = feed.select("id", "change_type", "_commit_snapshot").collect()
      .groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byCommit(1L) === (0L until 10L).toSet, "commit 1: the masked rows")
    assert(byCommit(2L) === (10L until 50L).toSet,
      "commit 2: only rows still LIVE at the drop — prior masks applied")
    assert(spark.read.format("graft-store").load(dir).count() === 50)
  }

  test("MOR delete mixes drops and masks; partial files keep exact positions") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    // id < 300: file [0,249] proven full -> dropped; [250,499] partial ->
    // position deletes for 250..299 only
    val (rows, delFiles) = GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 300)
    assert(rows === 300)
    assert(delFiles >= 1)
    val m = manifest(dir)
    assert(m.dropCdc.size === 1)
    assert(m.files.size === 3)
    assert(m.deletes.map(_.rows).sum === 50, "only the partial file's rows masked")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 700)
    assert(back.agg(min("id")).collect()(0).getLong(0) === 300L)
  }

  test("SQL DELETE through the catalog takes the metadata-only path") {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.dropcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dropcat.base", base)
    spark.range(0, 800).selectExpr("id", "id * 3 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(s"$base/t")
    val diskBefore = dataFiles(s"$base/t")
    spark.sql("DELETE FROM dropcat.t WHERE id < 200")
    assert(manifest(s"$base/t").dropCdc.size === 1,
      "the SQL DELETE surface must reach the same proof")
    assert(dataFiles(s"$base/t") === diskBefore)
    assert(spark.sql("SELECT count(*) FROM dropcat.t").collect()(0).getLong(0) === 600L)
  }
}
