package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming admission control on the graft-store source
  * (`maxFilesPerTrigger` / `maxRowsPerTrigger` — the Delta/file-source
  * backfill knob): a stream over a large table must not plan its whole
  * backlog as one micro-batch. The end offset advances snapshot by
  * snapshot until the budget is spent and FILE BY FILE inside a snapshot
  * (`seq:part` sub-offsets), so even a single million-file backfill
  * commit streams in bounded slices. Legacy whole-snapshot checkpoints
  * stay readable and unlimited streams keep byte-identical planning.
  */
class GraftStoreRateLimitSpec extends AnyFunSuite with graft.SparkTestBase {

  private def hconf = new SerializableHadoopConf(
    spark.sparkContext.hadoopConfiguration)

  private def writeSnap(dir: String, from: Long, until: Long, files: Int,
      mode: String = "append"): Unit =
    spark.range(from, until).selectExpr("id as k", "id * 2 as v")
      .repartition(files)
      .write.format("graft-store").mode(mode).save(dir)

  private def schemaOf(dir: String) = GraftStoreFormat.readLatestManifest(
    dir, spark.sparkContext.hadoopConfiguration).get.schema

  private def off(o: org.apache.spark.sql.connector.read.streaming.Offset) =
    o.asInstanceOf[GraftSnapshotOffset]

  test("offset json round-trips both forms; legacy checkpoints parse") {
    assert(GraftSnapshotOffset(7L).json === "7")
    assert(GraftSnapshotOffset(7L, 3L).json === "7:3")
    assert(GraftSnapshotOffset.parse("7") === GraftSnapshotOffset(7L))
    assert(GraftSnapshotOffset.parse("7:3") === GraftSnapshotOffset(7L, 3L))
  }

  test("maxFiles advances snapshot-by-snapshot, stopping when the budget is spent") {
    val dir = Fixture.dir()
    writeSnap(dir, 0, 200, 2, mode = "overwrite") // snap 0: 2 files
    writeSnap(dir, 200, 400, 2) // snap 1: 2 files
    writeSnap(dir, 400, 600, 2) // snap 2: 2 files
    val st = new GraftStoreMicroBatchStream(dir, schemaOf(dir), schemaOf(dir), hconf)
    val lim = GraftReadLimit(Some(2), None)
    val o1 = off(st.latestOffset(GraftSnapshotOffset(-1L), lim))
    assert(o1 === GraftSnapshotOffset(0L)) // snap 0 fits exactly
    val o2 = off(st.latestOffset(o1, lim))
    assert(o2 === GraftSnapshotOffset(1L))
    val o3 = off(st.latestOffset(o2, lim))
    assert(o3 === GraftSnapshotOffset(2L))
    // caught up: no further progress
    assert(off(st.latestOffset(o3, lim)) === o3)
  }

  test("a large snapshot streams in file-level slices with partial offsets") {
    val dir = Fixture.dir()
    writeSnap(dir, 0, 500, 5, mode = "overwrite") // snap 0: 5 files
    val st = new GraftStoreMicroBatchStream(dir, schemaOf(dir), schemaOf(dir), hconf)
    val lim = GraftReadLimit(Some(2), None)
    val o1 = off(st.latestOffset(GraftSnapshotOffset(-1L), lim))
    assert(o1 === GraftSnapshotOffset(0L, 2L))
    val o2 = off(st.latestOffset(o1, lim))
    assert(o2 === GraftSnapshotOffset(0L, 4L))
    val o3 = off(st.latestOffset(o2, lim))
    assert(o3 === GraftSnapshotOffset(0L)) // completes the snapshot
    // batches partition the snapshot's files without overlap or loss
    val p1 = st.planInputPartitions(GraftSnapshotOffset(-1L), o1)
    val p2 = st.planInputPartitions(o1, o2)
    val p3 = st.planInputPartitions(o2, o3)
    assert(p1.length === 2 && p2.length === 2 && p3.length === 1)
    val all = (p1 ++ p2 ++ p3).map(
      _.asInstanceOf[GraftFilePartition].slice.file).toSet
    assert(all.size === 5)
  }

  test("row budget admits at least one file per batch (oversized files make progress)") {
    val dir = Fixture.dir()
    writeSnap(dir, 0, 300, 3, mode = "overwrite") // 3 files of ~100 rows
    val st = new GraftStoreMicroBatchStream(dir, schemaOf(dir), schemaOf(dir), hconf)
    val lim = GraftReadLimit(None, Some(10L)) // far below one file's rows
    var o = off(st.latestOffset(GraftSnapshotOffset(-1L), lim))
    var batches = 0
    var prev = GraftSnapshotOffset(-1L)
    while (o != prev && batches < 10) {
      assert(st.planInputPartitions(prev, o).length === 1,
        "a 10-row budget must admit exactly the one oversized file")
      prev = o; o = off(st.latestOffset(o, lim)); batches += 1
    }
    assert(batches === 3)
  }

  test("staged WAP commits do not advance a rate-limited stream until published") {
    val dir = Fixture.dir()
    writeSnap(dir, 0, 100, 1, mode = "overwrite") // snap 0
    spark.range(100, 200).selectExpr("id as k", "id * 2 as v")
      .coalesce(1)
      .write.format("graft-store").option("wapId", "audit1")
      .mode("append").save(dir) // snap 1, staged
    val st = new GraftStoreMicroBatchStream(dir, schemaOf(dir), schemaOf(dir), hconf)
    val lim = GraftReadLimit(Some(10), None)
    val o1 = off(st.latestOffset(GraftSnapshotOffset(-1L), lim))
    assert(o1 === GraftSnapshotOffset(0L), "staged snapshot must not emit")
    GraftStoreOps.publishWap(spark, dir, "audit1") // snap 2 publishes it
    val st2 = new GraftStoreMicroBatchStream(dir, schemaOf(dir), schemaOf(dir), hconf)
    val o2 = off(st2.latestOffset(o1, lim))
    val parts = st2.planInputPartitions(o1, o2)
    // exactly the published file, exactly once (diff base skips the stage)
    assert(parts.length === 1)
  }

  test("end-to-end: rate-limited stream drains in bounded batches with exact content") {
    val dir = Fixture.dir()
    val ckpt = Fixture.dir()
    writeSnap(dir, 0, 300, 3, mode = "overwrite")
    writeSnap(dir, 300, 500, 2)
    val q = spark.readStream.format("graft-store")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("rl_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("rl_sink").count() === 500)
      assert(spark.table("rl_sink").agg(sum("k")).collect()(0).getLong(0)
        === (0L until 500L).sum)
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 5, s"expected >=5 one-file batches, got $nonEmpty")
    } finally q.stop()
  }

  test("unlimited streams keep legacy single-diff planning (no behavior change)") {
    val dir = Fixture.dir()
    writeSnap(dir, 0, 100, 2, mode = "overwrite")
    writeSnap(dir, 100, 200, 2)
    val st = new GraftStoreMicroBatchStream(dir, schemaOf(dir), schemaOf(dir), hconf)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val o = off(st.latestOffset(GraftSnapshotOffset(-1L), ReadLimit.allAvailable()))
    assert(o === GraftSnapshotOffset(1L))
    assert(st.planInputPartitions(GraftSnapshotOffset(-1L), o).length === 4)
  }

  test("invalid limits fail loudly") {
    val dir = Fixture.dir()
    writeSnap(dir, 0, 10, 1, mode = "overwrite")
    intercept[IllegalArgumentException] {
      new GraftStoreMicroBatchStream(dir, schemaOf(dir), schemaOf(dir), hconf,
        maxFilesPerTrigger = Some(0))
    }
  }
}
