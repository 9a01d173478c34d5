package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row-level CDC read surface (`readChangeFeed=true`): writer-emitted
  * change stores for COW DML, reader-synthesized inserts for appends,
  * loud failure on unreconstructable commits, exactly-once restart. */
class GraftStoreCdcSpec extends AnyFunSuite with graft.SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-store-cdc").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, Long)] =
    df.select("id", "v", "change_type", "_commit_snapshot").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet

  private def cdcRead(dir: String) =
    spark.read.format("graft-store").option("readChangeFeed", "true").load(dir)

  test("batch feed: appends are inserts, COW update/delete carry image pairs") {
    val dir = tmpDir()
    spark.range(0, 40).selectExpr("id", "id * 10 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("append").save(dir) // snap 0
    GraftStoreOps.updateWhere(spark, dir, col("id") === 7L,
      Map("v" -> lit(777L))) // snap 1
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 25L) // snap 2
    val feed = rows(cdcRead(dir))
    val inserts = (0L until 40L).map(i => (i, i * 10, "insert", 0L)).toSet
    assert(feed === inserts ++ Set(
      (7L, 70L, "update_preimage", 1L),
      (7L, 777L, "update_postimage", 1L),
      (25L, 250L, "delete", 2L)),
      "carried rows of rewritten files must not leak into the feed")
  }

  test("batch feed honors startSnapshot/endSnapshot (both inclusive)") {
    val dir = tmpDir()
    spark.range(0, 10).selectExpr("id", "id as v")
      .write.format("graft-store").mode("append").save(dir) // snap 0
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 1L) // snap 1
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 2L) // snap 2
    assert(rows(cdcRead(dir)).map(_._4) === Set(0L, 1L, 2L))
    assert(rows(spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "1")
      .load(dir)) === Set((1L, 1L, "delete", 1L), (2L, 2L, "delete", 2L)))
    assert(rows(spark.read.format("graft-store")
      .option("readChangeFeed", "true")
      .option("startSnapshot", "1").option("endSnapshot", "1")
      .load(dir)) === Set((1L, 1L, "delete", 1L)))
  }

  test("merge emits inserts + changed-row image pairs; no-op upserts nothing") {
    import spark.implicits._
    val dir = tmpDir()
    spark.range(0, 10).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("append").save(dir) // snap 0
    // 3 -> changed value, 4 -> IDENTICAL value (no-op), 100 -> new key
    GraftStoreOps.mergeInto(spark, dir,
      Seq((3L, 999L), (4L, 8L), (100L, 1L)).toDF("id", "v"), "id") // snap 1
    assert(rows(spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "1")
      .load(dir)) === Set(
      (3L, 6L, "update_preimage", 1L),
      (3L, 999L, "update_postimage", 1L),
      (100L, 1L, "insert", 1L)),
      "an identical-valued upsert is a no-op in the feed")
  }

  test("streaming feed tails live DML; checkpoint restart replays nothing") {
    val dir = tmpDir()
    val ckpt = tmpDir()
    spark.range(0, 20).selectExpr("id", "id as v")
      .write.format("graft-store").mode("append").save(dir) // snap 0
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, Long)]()
    def start() = spark.readStream.format("graft-store")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("id", "v", "change_type", "_commit_snapshot").collect()
          .foreach(r => seen.add((r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))))
        ()
      }.start()
    import scala.jdk.CollectionConverters._
    val q = start()
    try {
      q.processAllAvailable()
      assert(seen.size === 20) // initial inserts
      GraftStoreOps.updateWhere(spark, dir, col("id") === 5L,
        Map("v" -> lit(55L))) // snap 1, live
      q.processAllAvailable()
      assert(seen.asScala.filter(_._4 == 1L).toSet
        === Set((5L, 5L, "update_preimage", 1L), (5L, 55L, "update_postimage", 1L)))
    } finally q.stop()
    // restart from the checkpoint: committed offsets must not replay
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.isEmpty, "restart must replay nothing")
      GraftStoreOps.deleteWhere(spark, dir, col("id") === 9L) // snap 2
      q2.processAllAvailable()
      assert(seen.asScala.toSet === Set((9L, 9L, "delete", 2L)),
        "only the post-restart commit streams")
    } finally q2.stop()
  }

  test("a file-removing commit without a change log fails loudly; skippable") {
    val dir = tmpDir()
    spark.range(0, 10).selectExpr("id", "id as v")
      .write.format("graft-store").mode("append").save(dir) // snap 0
    spark.range(50, 55).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir) // snap 1: replaces
    val err = intercept[Exception] { cdcRead(dir).collect() }
    assert(err.getMessage.contains("change log"))
    // skipChangeCommits: the overwrite is ignored, later commits still flow
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 51L) // snap 2
    assert(rows(spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("skipChangeCommits", "true")
      .load(dir)) === (0L until 10L).map(i => (i, i, "insert", 0L)).toSet +
      ((51L, 51L, "delete", 2L)))
  }

  test("per-commit feed concatenation equals changesBetween on disjoint keys") {
    val dir = tmpDir()
    spark.range(0, 30).selectExpr("id", "id * 3 as v")
      .repartitionByRange(3, col("id"))
      .write.format("graft-store").mode("append").save(dir) // snap 0
    GraftStoreOps.updateWhere(spark, dir, col("id") < 5L,
      Map("v" -> (col("v") + 1L))) // snap 1
    GraftStoreOps.deleteWhere(spark, dir,
      col("id") >= 20L && col("id") < 23L) // snap 2
    val stream = rows(spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "1")
      .load(dir)).map { case (id, v, t, _) => (id, v, t) }
    val net = GraftStoreOps.changesBetween(spark, dir, 0, 2, "id")
      .select("id", "v", "change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(stream === net,
      "disjoint-key per-commit changes must equal the net snapshot diff")
  }

  test("expireSnapshots drops change stores with their snapshots, keeps live ones") {
    val dir = tmpDir()
    val conf = spark.sparkContext.hadoopConfiguration
    spark.range(0, 10).selectExpr("id", "id as v")
      .coalesce(1) // one multi-row file: single-id deletes stay PARTIAL
      // (change-store path; 1-row files would metadata-drop, no _cdc)
      .write.format("graft-store").mode("append").save(dir) // snap 0
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 0L) // snap 1 (+cdc)
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 1L) // snap 2 (+cdc)
    val fs = GraftStoreFormat.fs(dir, conf)
    def cdcDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_cdc"))
      .map(_.getPath.getName).toSet
    assert(cdcDirs.size === 2)
    GraftStoreOps.expireSnapshots(spark, dir, keepLast = 1) // drops snaps 0,1
    assert(cdcDirs.size === 1, "snap 1's change store must go with it")
    // a from-the-beginning read now fails LOUDLY (snaps 0-1 expired — a
    // partial feed that silently dropped them would be a wrong answer)
    val err = intercept[Exception] {
      spark.read.format("graft-store").option("readChangeFeed", "true")
        .load(dir).collect()
    }
    assert(err.getMessage.contains("retained history"))
    // an EXPLICIT start at the retained head still reads its change store
    // (a cdc-bearing commit is self-contained)
    assert(rows(spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "0")
      .load(dir)) === Set((1L, 1L, "delete", 2L)))
  }

  test("a position recorded by two delete stores is one delete, emitted once") {
    val dir = tmpDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = GraftStoreFormat.fs(dir, conf)
    spark.range(0, 20).selectExpr("id", "id * 10 as v").coalesce(1)
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir) // snap 0
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") === 5L) // snap 1
    val store = GraftStoreFormat.readLatestManifest(dir, conf).get.deletes.head
    // publish `copies` of the store's file in one commit on top of `base`
    def commitCopies(base: GraftManifest, copies: Int): Unit = {
      val extra = (1 to copies).map { _ =>
        val n = s"copy-${java.util.UUID.randomUUID().toString.take(8)}-${store.name}"
        org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir, store.name),
          fs, new org.apache.hadoop.fs.Path(dir, n), false, conf)
        store.copy(name = n)
      }
      val ms = GraftStoreFormat.listManifests(dir, conf)
      assert(GraftStoreFormat.commitManifest(dir, conf,
        base.copy(deletes = base.deletes ++ extra, txn = None, cdc = None,
          dropCdc = Seq.empty), GraftStoreFormat.nextSeq(ms)))
    }
    def feed(snap: Int): Seq[(Long, Long, String, Long)] =
      spark.read.format("graft-store").option("readChangeFeed", "true")
        .option("startSnapshot", snap.toString).option("endSnapshot", snap.toString)
        .load(dir).select("id", "v", "change_type", "_commit_snapshot").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(feed(1) === Seq((5L, 50L, "delete", 1L)))
    // a later store re-recording an already-masked position deletes nothing
    commitCopies(GraftStoreFormat.readLatestManifest(dir, conf).get, 1) // snap 2
    assert(feed(2).isEmpty)
    // two new stores of one commit recording the same position: one delete
    GraftStoreOps.restoreSnapshot(spark, dir, 0) // snap 3: no masks
    commitCopies(GraftStoreFormat.readLatestManifest(dir, conf).get, 2) // snap 4
    assert(feed(4) === Seq((5L, 50L, "delete", 4L)))
    assert(spark.read.format("graft-store").load(dir).count() === 19L)
  }
}
