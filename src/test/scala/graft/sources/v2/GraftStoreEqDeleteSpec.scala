package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** EQUALITY deletes (manifest v8): delete-by-key and zero-read upserts —
  * `~eqdel` stores scoped by the strict `addedSeq < seq` rule, hash-probe
  * masking at read, purge/compaction repayment. The Flink→Iceberg
  * CDC-ingest architecture on the graft-store manifest. */
class GraftStoreEqDeleteSpec extends AnyFunSuite with graft.SparkTestBase {
  import spark.implicits._

  private def manifest(dir: String): GraftManifest =
    GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get

  private def morTable(dir: String, n: Long = 100): Unit =
    spark.range(0, n).selectExpr("id", "id * 10 as v")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)

  private def rows(dir: String): Map[Long, Long] =
    spark.read.format("graft-store").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("upsertMor: one commit, zero table reads, last wins") {
    val dir = Fixture.dir()
    morTable(dir)
    val filesBefore = manifest(dir).files.map(_.name).toSet
    val snapsBefore = GraftStoreOps.snapshotCount(spark, dir)
    val src = Seq((7L, 777L), (8L, 888L), (200L, 2000L)).toDF("id", "v")
    val (n, nk) = GraftStoreOps.upsertMor(spark, dir, src, Seq("id"))
    assert(n === 3L && nk === 3L)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snapsBefore + 1,
      "an upsert is ONE commit")
    val m = manifest(dir)
    assert(filesBefore.subsetOf(m.files.map(_.name).toSet),
      "no pre-existing data file may be touched")
    assert(m.eqDeletes.nonEmpty)
    val got = rows(dir)
    assert(got.size === 101) // 100 - 2 replaced + 3 new versions (1 new key)
    assert(got(7L) === 777L && got(8L) === 888L && got(200L) === 2000L)
    assert(got(6L) === 60L && got(99L) === 990L)
  }

  test("strict addedSeq < seq: the upsert's own rows survive its delete") {
    val dir = Fixture.dir()
    morTable(dir, 10)
    GraftStoreOps.upsertMor(spark, dir, Seq((3L, 1L)).toDF("id", "v"), Seq("id"))
    // the new version has addedSeq == the eq delete's seq — NOT masked
    assert(rows(dir)(3L) === 1L)
    assert(rows(dir).size === 10)
  }

  test("deleteByKeyMor masks by key without scanning") {
    val dir = Fixture.dir()
    morTable(dir)
    val filesBefore = manifest(dir).files.map(_.name).toSet
    val nk = GraftStoreOps.deleteByKeyMor(spark, dir,
      Seq(5L, 6L, 7L, 9999L).toDF("id")) // 9999 matches nothing — fine
    assert(nk === 4L)
    val m = manifest(dir)
    assert(m.files.map(_.name).toSet === filesBefore)
    assert(m.eqDeletes.map(_.rows).sum === 4L)
    val got = rows(dir)
    assert(got.size === 97)
    assert(!got.contains(5L) && !got.contains(6L) && !got.contains(7L))
  }

  test("rows appended AFTER an equality delete are out of its scope") {
    val dir = Fixture.dir()
    morTable(dir, 10)
    GraftStoreOps.deleteByKeyMor(spark, dir, Seq(3L).toDF("id"))
    // re-insert key 3 via a plain append: newer addedSeq, not masked
    Seq((3L, 333L)).toDF("id", "v")
      .write.format("graft-store").mode("append").save(dir)
    val got = rows(dir)
    assert(got(3L) === 333L)
    assert(got.size === 10)
  }

  test("null key fields match null (structural equality)") {
    val dir = Fixture.dir()
    Seq((Some(1L), 10L), (None, 20L), (Some(3L), 30L))
      .toDF("k", "v")
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    GraftStoreOps.deleteByKeyMor(spark, dir,
      Seq[Option[Long]](None).toDF("k"))
    val left = spark.read.format("graft-store").load(dir)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(left === Set(10L, 30L), "the null-keyed row must be masked")
  }

  test("stacked upserts: the newest version wins, older ones stay dead") {
    val dir = Fixture.dir()
    morTable(dir, 10)
    GraftStoreOps.upsertMor(spark, dir, Seq((4L, 1L)).toDF("id", "v"), Seq("id"))
    GraftStoreOps.upsertMor(spark, dir, Seq((4L, 2L)).toDF("id", "v"), Seq("id"))
    GraftStoreOps.upsertMor(spark, dir, Seq((4L, 3L)).toDF("id", "v"), Seq("id"))
    val got = rows(dir)
    assert(got(4L) === 3L)
    assert(got.size === 10, "exactly one live version per key")
    assert(manifest(dir).eqDeletes.size === 3)
  }

  test("composite keys: masking is tuple-exact") {
    val dir = Fixture.dir()
    spark.range(0, 20)
      .selectExpr("id % 4 as a", "cast(id % 5 as int) as b", "id as v")
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    GraftStoreOps.deleteByKeyMor(spark, dir,
      Seq((1L, 2)).toDF("a", "b")) // exactly one (a,b) tuple of the 20
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 19)
    assert(back.filter(col("a") === 1 && col("b") === 2).count() === 0)
    assert(back.filter(col("a") === 1).count() === 4, "other b values survive")
  }

  test("duplicate source keys are rejected; wrong key type is rejected") {
    val dir = Fixture.dir()
    morTable(dir, 10)
    val dup = Seq((1L, 5L), (1L, 6L)).toDF("id", "v")
    val e1 = intercept[IllegalArgumentException] {
      GraftStoreOps.upsertMor(spark, dir, dup, Seq("id"))
    }
    assert(e1.getMessage.contains("duplicate"))
    val e2 = intercept[IllegalArgumentException] {
      GraftStoreOps.deleteByKeyMor(spark, dir, Seq(1).toDF("id")) // INT vs LONG
    }
    assert(e2.getMessage.contains("type"))
  }

  test("upsert enforces the CHECK constraint atomically") {
    val dir = Fixture.dir()
    spark.range(0, 10).selectExpr("id", "cast(id as double) as price")
      .write.format("graft-store")
      .option("check", "price >= 0").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    val before = GraftStoreOps.snapshotCount(spark, dir)
    intercept[Exception] {
      GraftStoreOps.upsertMor(spark, dir,
        Seq((3L, -1.0)).toDF("id", "price"), Seq("id"))
    }
    assert(GraftStoreOps.snapshotCount(spark, dir) === before)
    assert(manifest(dir).eqDeletes.isEmpty, "no masks may leak from an abort")
  }

  test("upsert on a partitioned table routes new versions per-value") {
    val dir = Fixture.dir()
    spark.range(0, 40).selectExpr("id", "cast(id % 4 as int) as k")
      .write.format("graft-store")
      .option("partitionBy", "k").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    GraftStoreOps.upsertMor(spark, dir,
      Seq((2L, 9), (100L, 1)).toDF("id", "k"), Seq("id"))
    val m = manifest(dir)
    assert(m.partitionCol.contains("k"))
    assert(m.files.forall(_.partVals.exists(_.length == 1)),
      "upserted files must carry explicit partition values")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 41)
    assert(back.filter(col("id") === 2L).collect()(0).getInt(1) === 9)
  }

  test("purgeDeletes repays equality read debt; only scoped files rewrite") {
    val dir = Fixture.dir()
    morTable(dir)
    GraftStoreOps.upsertMor(spark, dir, Seq((7L, 1L)).toDF("id", "v"), Seq("id"))
    val (rew, carried) = GraftStoreOps.purgeDeletes(spark, dir)
    // the eq delete scopes every pre-upsert file (addedSeq < seq) but NOT
    // the upsert's own file — 4 rewritten, 1 carried
    assert(rew === 4 && carried === 1, s"got ($rew, $carried)")
    val m = manifest(dir)
    assert(m.eqDeletes.isEmpty && m.deletes.isEmpty)
    assert(rows(dir)(7L) === 1L)
    assert(rows(dir).size === 100)
  }

  test("time travel to pre-upsert snapshots reads unmasked") {
    val dir = Fixture.dir()
    morTable(dir, 10)
    GraftStoreOps.upsertMor(spark, dir, Seq((3L, 1L)).toDF("id", "v"), Seq("id"))
    val before = spark.read.format("graft-store").option("snapshot", 0).load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(before(3L) === 30L)
    assert(before.size === 10)
  }

  test("changesBetween across an upsert yields the exact net diff") {
    val dir = Fixture.dir()
    morTable(dir, 20) // snap 0
    GraftStoreOps.upsertMor(spark, dir,
      Seq((5L, 1L), (300L, 2L)).toDF("id", "v"), Seq("id")) // snap 1
    val net = GraftStoreOps.changesBetween(spark, dir, 0, 1, "id")
      .select("id", "v", "change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(net === Set((5L, 50L, "update_preimage"), (5L, 1L, "update_postimage"),
      (300L, 2L, "insert")))
  }

  test("the CDC feed fails loudly on equality-delete commits; skippable") {
    val dir = Fixture.dir()
    morTable(dir, 10) // snap 0
    GraftStoreOps.upsertMor(spark, dir, Seq((3L, 1L)).toDF("id", "v"), Seq("id")) // snap 1
    val err = intercept[Exception] {
      spark.read.format("graft-store").option("readChangeFeed", "true")
        .load(dir).collect()
    }
    assert(err.getMessage.contains("equality"))
    // skipped: the initial inserts still flow, the upsert commit is omitted
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("skipChangeCommits", "true")
      .load(dir)
    assert(feed.count() === 10)
  }

  test("expireSnapshots keeps live equality stores; masks survive expiry") {
    val dir = Fixture.dir()
    morTable(dir, 10) // snap 0
    GraftStoreOps.deleteByKeyMor(spark, dir, Seq(3L).toDF("id")) // snap 1
    spark.range(100, 105).selectExpr("id", "id as v")
      .write.format("graft-store").mode("append").save(dir) // snap 2
    GraftStoreOps.expireSnapshots(spark, dir, keepLast = 1)
    val got = rows(dir)
    assert(got.size === 14)
    assert(!got.contains(3L), "equality masks must survive snapshot expiry")
  }

  test("compaction folds equality masks in and clears them") {
    val dir = Fixture.dir()
    morTable(dir, 50)
    GraftStoreOps.upsertMor(spark, dir,
      Seq((10L, 1L), (20L, 2L)).toDF("id", "v"), Seq("id"))
    GraftStoreOps.compactSnapshot(spark, dir, targetBytes = 1L << 20)
    val m = manifest(dir)
    assert(m.eqDeletes.isEmpty && m.isMor)
    val got = rows(dir)
    assert(got.size === 50)
    assert(got(10L) === 1L && got(20L) === 2L && got(30L) === 300L)
  }

  test("rejected duplicate-key upsert leaves no scratch dirs behind") {
    val dir = Fixture.dir()
    morTable(dir, 10)
    val snapsBefore = GraftStoreOps.snapshotCount(spark, dir)
    val e = intercept[IllegalArgumentException] {
      GraftStoreOps.upsertMor(spark, dir,
        Seq((3L, 1L), (3L, 2L)).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    // nothing published — and the failed attempt cleaned up after itself
    // (regression: validation moved post-write and the throw used to leak
    // the _rewrite-* data and key scratch dirs inside the table)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snapsBefore)
    val leftovers = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("_rewrite-"))
    assert(leftovers.isEmpty, s"scratch leaked: ${leftovers.mkString(",")}")
    assert(rows(dir).size === 10)
  }

  test("provably-empty replace source skips the data-scratch write job") {
    val dir = Fixture.dir()
    morTable(dir, 10)
    val filesBefore = manifest(dir).files.map(_.name).toSet
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val (n, nk) =
      try GraftStoreOps.replaceByKeyMor(spark, dir,
        Seq.empty[(Long, Long)].toDF("id", "v"), Seq("id"),
        Seq(4L).toDF("id"), Map("probe" -> "1"))
      finally {
        Thread.sleep(300) // listener bus drains asynchronously
        spark.sparkContext.removeSparkListener(l)
      }
    assert(n === 0L && nk === 1L)
    // pure keyed delete + property stamp: the ONLY Spark job is the key
    // scratch write (a driver-provably-empty source never writes data)
    assert(jobs.get <= 1, s"empty-source replace ran ${jobs.get} jobs")
    val m = manifest(dir)
    assert(m.files.map(_.name).toSet === filesBefore,
      "no data file may be added by an empty-source replace")
    assert(m.props.get("probe").contains("1"))
    val got = rows(dir)
    assert(!got.contains(4L) && got.size === 9)
  }

  test("zero-row scratch files are never committed into the table") {
    val dir = Fixture.dir()
    morTable(dir, 10)
    // a COMPUTED source (not provably empty on the driver) whose write
    // leaves most partitions empty: any zero-row scratch file must stay
    // out of the manifest — dead entries cost every later scan/probe
    val sparse = spark.range(0, 10, 1, 4).filter(col("id") === 3L)
      .selectExpr("id", "id * 1000 as v")
    val (n, nk) = GraftStoreOps.replaceByKeyMor(spark, dir, sparse, Seq("id"),
      sparse.select("id"))
    assert(n === 1L && nk === 1L)
    val m = manifest(dir)
    assert(m.files.forall(_.rows > 0L), "zero-row data file committed")
    assert(m.eqDeletes.forall(_.rows > 0L), "zero-row key store committed")
    assert(rows(dir)(3L) === 3000L)
  }
}
