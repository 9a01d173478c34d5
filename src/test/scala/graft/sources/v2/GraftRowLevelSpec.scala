package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL UPDATE / MERGE INTO through `SupportsRowLevelOperations` (group-
  * based ReplaceData): stats-pruned group rewrites, carried files
  * untouched, layout + CHECK preserved, history time-travelable. */
class GraftRowLevelSpec extends AnyFunSuite with graft.SparkTestBase {

  // ONE catalog for the suite: Spark caches the catalog instance per name
  // at first use, so re-pointing `base` between tests would silently keep
  // resolving against the first directory
  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.rlcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rlcat.base", base)
    base
  }
  private def freshCat(): String = catBase

  private def fileNames(path: String, snap: Int): Set[String] =
    GraftStoreOps.snapshotFiles(spark, path, snap).map(_._1).toSet

  test("SQL UPDATE rewrites only may-match files; others carry untouched") {
    val base = freshCat()
    spark.range(0, 100).selectExpr("id", "id * 10 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(s"$base/t1")
    spark.sql("UPDATE rlcat.t1 SET v = 777 WHERE id = 7")
    val rows = spark.sql("SELECT id, v FROM rlcat.t1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows(7L) === 777L)
    assert(rows(6L) === 60L && rows(99L) === 990L)
    assert(rows.size === 100, "non-matching rows of rewritten files must survive")
    // group pruning: the 3 files whose stats exclude id=7 carry over
    val carried = fileNames(base + "/t1", 0).intersect(fileNames(base + "/t1", 1))
    assert(carried.size === 3, s"expected 3 carried files, got ${carried.size}")
    // the pre-update state stays time-travelable
    assert(spark.sql("SELECT v FROM rlcat.t1 VERSION AS OF 0 WHERE id = 7")
      .collect()(0).getLong(0) === 70L)
  }

  test("SQL UPDATE with an expression and multi-row predicate") {
    val base = freshCat()
    spark.range(0, 50).selectExpr("id", "cast(id as double) as price")
      .write.format("graft-store").mode("overwrite").save(s"$base/t2")
    spark.sql("UPDATE rlcat.t2 SET price = price + 0.5 WHERE id >= 40")
    val got = spark.sql("SELECT round(sum(price), 1) FROM rlcat.t2")
      .collect()(0).getDouble(0)
    assert(got === (0 until 50).map(_.toDouble).sum + 10 * 0.5)
  }

  test("SQL MERGE INTO: matched update + unmatched insert") {
    val base = freshCat()
    spark.range(0, 10).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(s"$base/t3")
    spark.range(0, 3).selectExpr("id * 5 as id", "id + 1000 as v")
      .createOrReplaceTempView("rl_src") // keys 0, 5, 10 — 10 is new
    spark.sql(
      """MERGE INTO rlcat.t3 t USING rl_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT id, v FROM rlcat.t3").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size === 11)
    assert(rows(0L) === 1000L && rows(5L) === 1001L && rows(10L) === 1002L)
    assert(rows(1L) === 2L && rows(9L) === 18L, "unmatched target rows untouched")
  }

  test("SQL MERGE with delete clause") {
    val base = freshCat()
    spark.range(0, 10).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(s"$base/t4")
    spark.range(8, 12).selectExpr("id", "id as v")
      .createOrReplaceTempView("rl_src4")
    spark.sql(
      """MERGE INTO rlcat.t4 t USING rl_src4 s ON t.id = s.id
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val ids = spark.sql("SELECT id FROM rlcat.t4").collect().map(_.getLong(0)).toSet
    assert(ids === ((0L until 8L).toSet ++ Set(10L, 11L)))
  }

  test("SQL UPDATE keeps a partition layout (SPJ files stay value-pure)") {
    val base = freshCat()
    spark.range(0, 30).selectExpr("id", "cast(id % 3 as int) as grp", "id as v")
      .write.format("graft-store").option("partitionBy", "grp")
      .mode("overwrite").save(s"$base/t5")
    spark.sql("UPDATE rlcat.t5 SET v = v + 100 WHERE grp = 1")
    val m = GraftStoreFormat.readLatestManifest(
      s"$base/t5", spark.sparkContext.hadoopConfiguration).get
    assert(m.partitionCol.contains("grp"), "layout header must survive SQL UPDATE")
    assert(m.files.forall(_.partVals.exists(_.length == 1)),
      "rewritten files must carry explicit partition values")
    assert(spark.sql("SELECT sum(v) FROM rlcat.t5 WHERE grp = 1").collect()(0).getLong(0)
      === (0 until 30).filter(_ % 3 == 1).map(_ + 100L).sum)
  }

  test("SQL UPDATE violating the CHECK constraint fails atomically") {
    val base = freshCat()
    spark.range(0, 10).selectExpr("id", "cast(id as double) as price")
      .write.format("graft-store").option("check", "price >= 0")
      .mode("overwrite").save(s"$base/t6")
    val before = GraftStoreOps.snapshotCount(spark, s"$base/t6")
    val e = intercept[Exception] {
      spark.sql("UPDATE rlcat.t6 SET price = -5.0 WHERE id = 3")
    }
    assert(e.getMessage != null && e.getMessage.contains("CHECK"))
    assert(GraftStoreOps.snapshotCount(spark, s"$base/t6") === before,
      "a rejected row-level write must not commit a snapshot")
    assert(spark.sql("SELECT price FROM rlcat.t6 WHERE id = 3")
      .collect()(0).getDouble(0) === 3.0)
    // the constraint survives in the manifest for future writes
    val m = GraftStoreFormat.readLatestManifest(
      s"$base/t6", spark.sparkContext.hadoopConfiguration).get
    assert(m.check.contains("price >= 0"))
  }

  test("SQL MERGE prunes its rewrite set via runtime group filtering") {
    val base = freshCat()
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(s"$base/t8")
    // source keys 5 and 7 both live in the FIRST range file: the merge
    // condition pushes nothing statically (it references source attrs),
    // so without runtime group filtering all 4 files would rewrite
    spark.range(0, 2).selectExpr("id * 2 + 5 as id", "id + 900 as v")
      .createOrReplaceTempView("rl_src8")
    spark.sql(
      """MERGE INTO rlcat.t8 t USING rl_src8 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val carried = fileNames(base + "/t8", 0).intersect(fileNames(base + "/t8", 1))
    assert(carried.size === 3,
      s"runtime group filter should carry the 3 untouched files, carried=$carried")
    val rows = spark.sql("SELECT id, v FROM rlcat.t8").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size === 100)
    assert(rows(5L) === 900L && rows(7L) === 901L && rows(6L) === 12L)
  }

  test("composite-key MERGE (2-column ON) prunes via _file runtime filtering") {
    val base = freshCat()
    // this is WHY filterAttributes is the single `_file` column and not the
    // data keys: Spark renders a dynamic filter over SEVERAL attributes as
    // an IN over named_struct, which has no V1 conversion and silently
    // prunes nothing (probed; see GraftRowLevelScan.filterAttributes) —
    // whereas collecting the matching rows' FILE PATHS is one attribute
    // and exact regardless of how many columns the merge keys on
    spark.range(0, 100)
      .selectExpr("id", "id % 3 as grp", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(s"$base/t12")
    // both source rows key into the FIRST range file on (id, grp)
    spark.createDataFrame(Seq((5L, 2L, 905L), (7L, 1L, 907L)))
      .toDF("id", "grp", "v").createOrReplaceTempView("rl_src12")
    spark.sql(
      """MERGE INTO rlcat.t12 t USING rl_src12 s
        |ON t.id = s.id AND t.grp = s.grp
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val carried = fileNames(base + "/t12", 0).intersect(fileNames(base + "/t12", 1))
    assert(carried.size === 3,
      s"composite-key merge must still prune to the one matching file, carried=$carried")
    val rows = spark.sql("SELECT id, v FROM rlcat.t12").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size === 100)
    assert(rows(5L) === 905L && rows(7L) === 907L && rows(6L) === 12L)
  }

  test("non-translatable UPDATE predicates prune at runtime, not rewrite-all") {
    val base = freshCat()
    spark.range(0, 100).selectExpr("id", "id as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(s"$base/t9")
    // id % 97 = 7 has no stats translation (static pushdown gets nothing);
    // the runtime subquery finds the matching rows' id values and the IN
    // filter prunes the 3 files whose ranges exclude them
    spark.sql("UPDATE rlcat.t9 SET v = -1 WHERE id % 97 = 7")
    val carried = fileNames(base + "/t9", 0).intersect(fileNames(base + "/t9", 1))
    assert(carried.size === 3,
      s"expected 3 carried files via runtime pruning, carried=$carried")
    val got = spark.sql("SELECT id FROM rlcat.t9 WHERE v = -1").collect()
      .map(_.getLong(0)).toSet
    assert(got === Set(7L))
    assert(spark.sql("SELECT count(*) FROM rlcat.t9").collect()(0).getLong(0) === 100)
  }

  test("_file metadata column: scan-level lineage matches the manifest") {
    val base = freshCat()
    spark.range(0, 80).selectExpr("id", "id as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(s"$base/t10")
    val m = GraftStoreFormat.readLatestManifest(
      s"$base/t10", spark.sparkContext.hadoopConfiguration).get
    val perFile = spark.read.format("graft-store").load(s"$base/t10")
      .groupBy(col("_file")).count().collect()
      .map(r => (r.getString(0).split("/").last, r.getLong(1))).toMap
    assert(perFile === m.files.map(e => (e.name, e.rows)).toMap,
      "_file row counts must match the manifest exactly")
  }

  test("runtime group filtering is file-exact, beyond what stats can prune") {
    val base = freshCat()
    // two files with FULLY OVERLAPPING id ranges but disjoint values:
    // evens in one, odds in the other — min/max stats cannot separate them
    spark.range(0, 100).selectExpr("id * 2 as id", "id as v").coalesce(1)
      .write.format("graft-store").mode("append").save(s"$base/t11")
    spark.range(0, 100).selectExpr("id * 2 + 1 as id", "id as v").coalesce(1)
      .write.format("graft-store").mode("append").save(s"$base/t11")
    spark.sql("UPDATE rlcat.t11 SET v = -1 WHERE id = 4") // an EVEN key
    val carried = fileNames(base + "/t11", 1).intersect(fileNames(base + "/t11", 2))
    assert(carried.size === 1,
      s"_file-based runtime pruning must carry the odd-keys file (stats overlap), carried=$carried")
    assert(spark.sql("SELECT count(*) FROM rlcat.t11").collect()(0).getLong(0) === 200)
    assert(spark.sql("SELECT v FROM rlcat.t11 WHERE id = 4").collect()(0).getLong(0) === -1L)
  }

  test("SQL DELETE still collapses to the metadata path (filter-convertible)") {
    val base = freshCat()
    spark.range(0, 20).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(s"$base/t7")
    spark.sql("DELETE FROM rlcat.t7 WHERE id < 5")
    assert(spark.sql("SELECT count(*) FROM rlcat.t7").collect()(0).getLong(0) === 15)
  }
}
