package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read DML (manifest v7 position deletes): DELETE commits
  * churn-sized `(file, pos)` delete files instead of rewriting groups,
  * reads merge the masks back out, maintenance repays the read debt.
  * The Iceberg positional-delete shape on the graft-store manifest. */
class GraftStoreMorSpec extends AnyFunSuite with graft.SparkTestBase {

  private def manifest(dir: String): GraftManifest =
    GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get

  /** A 4-file range-laid MOR table over ids [0, 1000). */
  private def morTable(dir: String): Unit =
    spark.range(0, 1000).selectExpr("id", "id * 2 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)

  test("MOR delete masks rows without touching data files") {
    val dir = Fixture.dir()
    morTable(dir)
    val before = manifest(dir)
    assert(before.isMor && before.deletes.isEmpty)
    val dataFiles = before.files.map(_.name).toSet
    // id < 200 covers only PART of the [0,249] file: the mask path (a
    // fully-covering predicate would metadata-drop the file instead)
    val (deleted, delFiles) =
      GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 200)
    assert(deleted === 200L)
    assert(delFiles >= 1)
    val after = manifest(dir)
    assert(after.files.map(_.name).toSet === dataFiles,
      "MOR delete must not add, drop, or rewrite data files")
    assert(after.deletes.nonEmpty)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 800)
    assert(back.agg(min("id")).collect()(0).getLong(0) === 200L)
    // the pre-delete snapshot still reads unmasked (per-manifest deletes)
    assert(spark.read.format("graft-store").option("snapshot", 0)
      .load(dir).count() === 1000)
  }

  test("SQL DELETE FROM routes to position deletes on a dmlMode=mor table") {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.graftmor", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftmor.base", base)
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .coalesce(1) // one multi-row file: the DELETE below is PARTIAL (mask
      // path; a fully-covered file would metadata-drop instead)
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(s"$base/t")
    val files = manifest(s"$base/t").files.map(_.name).toSet
    spark.sql("DELETE FROM graftmor.t WHERE id < 40")
    val m = manifest(s"$base/t")
    assert(m.files.map(_.name).toSet === files, "SQL DELETE must go MOR here")
    assert(m.deletes.nonEmpty)
    assert(spark.sql("SELECT count(*) FROM graftmor.t").collect()(0).getLong(0) === 60)
    assert(spark.sql("SELECT min(id) FROM graftmor.t").collect()(0).getLong(0) === 40L)
  }

  test("SQL null semantics: NULL predicate keeps the row") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, Some(1.0)), (2L, None), (3L, Some(9.0))).toDF("id", "score")
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    val (deleted, _) = GraftStoreOps.deleteWhereMor(spark, dir, col("score") > 5.0)
    assert(deleted === 1L)
    assert(spark.read.format("graft-store").load(dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("(_file, _pos) is a stable row id across a MOR delete") {
    val dir = Fixture.dir()
    morTable(dir)
    val df0 = spark.read.format("graft-store").load(dir)
    val idsBefore = df0.select(df0.metadataColumn("_file").as("f"),
        df0.metadataColumn("_pos").as("p"), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") % 3 === 0)
    val df1 = spark.read.format("graft-store").load(dir)
    val after = df1.select(df1.metadataColumn("_file").as("f"),
        df1.metadataColumn("_pos").as("p"), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
    assert(after.nonEmpty)
    after.foreach { case (key, id) =>
      assert(idsBefore(key) === id,
        "_pos must count PHYSICAL ordinals, stable under masking")
    }
  }

  test("delete-file covering ranges exclude untouched files") {
    val dir = Fixture.dir()
    morTable(dir)
    // disjoint per-file id ranges: id < 200 lives in exactly one file
    // (partially — full coverage would metadata-drop it, leaving no mask)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 200)
    val m = manifest(dir)
    val covered = m.files.map(_.name).filter(n =>
      GraftStoreFormat.coveringDeletes(dir, m, n).nonEmpty)
    assert(covered.size === 1,
      s"tight [minTarget, maxTarget] ranges must exclude 3 of 4 files: $covered")
  }

  test("successive deletes accumulate; a re-run matches nothing") {
    val dir = Fixture.dir()
    morTable(dir)
    val (d1, _) = GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 10)
    val (d2, _) = GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 20)
    assert(d1 === 10L)
    assert(d2 === 10L, "already-masked rows must not match again")
    val (d3, f3) = GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 20)
    assert(d3 === 0L && f3 === 0, "a no-op delete commits nothing")
    assert(spark.read.format("graft-store").load(dir).count() === 980)
  }

  test("appends ride along: masks keep covering old files only") {
    val dir = Fixture.dir()
    morTable(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 100)
    spark.range(5000, 5050).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("append").save(dir)
    val m = manifest(dir)
    assert(m.deletes.nonEmpty && m.isMor,
      "an append must carry live deletes and the DML mode")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 950)
    assert(back.filter(col("id") >= 5000).count() === 50)
  }

  test("masks apply inside SPJ keyed groups on a partitioned table") {
    val dir = Fixture.dir()
    spark.range(0, 400).selectExpr("id", "cast(id % 4 as int) as k")
      .write.format("graft-store")
      .option("partitionBy", "k").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("k") === 2 && col("id") < 200)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.rdd.getNumPartitions === 4, "all 4 key groups stay listed")
    assert(back.count() === 350)
    assert(back.filter(col("k") === 2).count() === 50)
  }

  test("purgeDeletes rewrites only covered files and clears the masks") {
    val dir = Fixture.dir()
    morTable(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 200)
    val (rewritten, carried) = GraftStoreOps.purgeDeletes(spark, dir)
    assert(rewritten === 1 && carried === 3,
      "read-debt repayment must cost the COVERED files, not the table")
    val m = manifest(dir)
    assert(m.deletes.isEmpty)
    assert(m.isMor, "maintenance must not drop the declared DML mode")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 800)
    assert(back.agg(min("id")).collect()(0).getLong(0) === 200L)
    // idempotent on a clean table
    assert(GraftStoreOps.purgeDeletes(spark, dir) === ((0, m.files.size)))
  }

  test("compaction applies masks and publishes a delete-free snapshot") {
    val dir = Fixture.dir()
    morTable(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") >= 900)
    GraftStoreOps.compactSnapshot(spark, dir, targetBytes = 1L << 20)
    val m = manifest(dir)
    assert(m.deletes.isEmpty && m.isMor)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 900)
    assert(back.agg(max("id")).collect()(0).getLong(0) === 899L)
  }

  test("CDC feed resolves MOR delete refs into full delete rows") {
    val dir = Fixture.dir()
    spark.range(0, 40).selectExpr("id", "id * 10 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("append").save(dir) // snap 0
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") === 7L || col("id") === 25L) // snap 1
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").load(dir)
      .select("id", "v", "change_type", "_commit_snapshot").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val inserts = (0L until 40L).map(i => (i, i * 10, "insert", 0L)).toSet
    assert(feed === inserts ++ Set((7L, 70L, "delete", 1L), (25L, 250L, "delete", 1L)),
      "deleted rows' VALUES resolve from the still-live target files")
  }

  test("streaming CDC tails MOR deletes live") {
    val dir = Fixture.dir()
    val ckpt = Fixture.dir()
    spark.range(0, 20).selectExpr("id", "id as v")
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("append").save(dir) // snap 0
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream.format("graft-store")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("id", "change_type", "_commit_snapshot").collect()
          .foreach(r => seen.add((r.getLong(0), r.getString(1), r.getLong(2))))
        ()
      }.start()
    import scala.jdk.CollectionConverters._
    try {
      q.processAllAvailable()
      assert(seen.size === 20)
      GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 3) // snap 1, live
      q.processAllAvailable()
      assert(seen.asScala.filter(_._3 == 1L).toSet
        === Set((0L, "delete", 1L), (1L, "delete", 1L), (2L, "delete", 1L)))
    } finally q.stop()
  }

  test("changesBetween re-reads only changed-coverage files across a MOR delete") {
    val dir = Fixture.dir()
    morTable(dir) // snap 0
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 5) // snap 1
    val net = GraftStoreOps.changesBetween(spark, dir, 0, 1, "id")
      .select("id", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(net === (0L until 5L).map(i => (i, "delete")).toSet,
      "surviving rows of masked files must cancel in the diff")
  }

  test("expireSnapshots treats live delete files as referenced") {
    val dir = Fixture.dir()
    morTable(dir) // snap 0
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 100) // snap 1
    spark.range(2000, 2010).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("append").save(dir) // snap 2
    GraftStoreOps.expireSnapshots(spark, dir, keepLast = 1)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 910, "masks must survive snapshot expiry")
  }

  test("purge after stacked deletes applies every mask") {
    val dir = Fixture.dir()
    morTable(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 10)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") >= 10 && col("id") < 20)
    assert(manifest(dir).deletes.size >= 2, "two commits, two delete sets")
    val (rew, _) = GraftStoreOps.purgeDeletes(spark, dir)
    assert(rew >= 1)
    assert(manifest(dir).deletes.isEmpty)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 980)
    assert(back.agg(min("id")).collect()(0).getLong(0) === 20L)
  }

  test("ALTER TABLE flips the DML mode; existing masks stay live") {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.graftmor2", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftmor2.base", base)
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(s"$base/t")
    assert(!manifest(s"$base/t").isMor)
    spark.sql("ALTER TABLE graftmor2.t SET TBLPROPERTIES ('dmlMode' = 'mor')")
    assert(manifest(s"$base/t").isMor)
    spark.sql("DELETE FROM graftmor2.t WHERE id < 30") // MOR now
    val m1 = manifest(s"$base/t")
    assert(m1.deletes.nonEmpty)
    // flip back to COW: future DML rewrites, but reads still apply masks
    spark.sql("ALTER TABLE graftmor2.t SET TBLPROPERTIES ('dmlMode' = 'cow')")
    assert(spark.sql("SELECT count(*) FROM graftmor2.t")
      .collect()(0).getLong(0) === 70)
    spark.sql("DELETE FROM graftmor2.t WHERE id >= 90") // COW rewrite
    val m2 = manifest(s"$base/t")
    assert(spark.sql("SELECT count(*) FROM graftmor2.t")
      .collect()(0).getLong(0) === 60)
    // the COW rewrite applied masks on files it touched; dead entries drop
    assert(spark.sql("SELECT min(id) FROM graftmor2.t")
      .collect()(0).getLong(0) === 30L)
    assert(m2.dml === Some("cow"))
  }
}
