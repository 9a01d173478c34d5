package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 WRITE path (`graft-store`): commit protocol, snapshot reads,
  * exact statistics, pruning. */
class GraftStoreSpec extends AnyFunSuite with SparkTestBase {

  private def sample = {
    import spark.implicits._
    Seq(
      (1L, Some("alpha"), Some(1.5), true),
      (2L, None, Some(-2.25), false),
      (3L, Some("gamma"), None, true))
      .toDF("id", "name", "score", "flag")
  }

  test("write → read round-trip preserves rows, types and nulls") {
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.schema === sample.schema)
    assert(back.orderBy("id").collect().toSeq === sample.orderBy("id").collect().toSeq)
  }

  test("append mode accumulates; overwrite replaces the snapshot") {
    import spark.implicits._
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    Seq((4L, Some("delta"), Some(9.0), false)).toDF("id", "name", "score", "flag")
      .write.format("graft-store").mode("append").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 4)
    Seq((9L, Some("omega"), Some(0.0), true)).toDF("id", "name", "score", "flag")
      .write.format("graft-store").mode("overwrite").save(dir)
    val after = spark.read.format("graft-store").load(dir)
    assert(after.count() === 1)
    assert(after.collect()(0).getLong(0) === 9L)
  }

  test("append under a different schema fails loudly (codec is schema-dependent)") {
    import spark.implicits._
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    val err = intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "other")
        .write.format("graft-store").mode("append").save(dir)
    }
    assert(err.getMessage.contains("does not match"), err.getMessage)
    // the failed append published nothing: table still reads as before
    assert(spark.read.format("graft-store").load(dir).count() === 3)
  }

  test("readers see only manifest-listed files: orphans are invisible") {
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    // simulate an uncommitted straggler / crashed attempt: a data file that
    // never made it into any manifest
    val orphan = new java.io.File(dir, "part-deadbeef-0-999.gsf")
    Files.write(orphan.toPath, Array.fill[Byte](64)(1))
    assert(spark.read.format("graft-store").load(dir).count() === 3)
  }

  test("scan reports exact statistics (rows from manifest, bytes from files)") {
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    val stats = spark.read.format("graft-store").load(dir)
      .queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec =>
          b.scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
      }.get
    assert(stats.numRows().getAsLong === 3L)
    assert(stats.sizeInBytes().getAsLong > 0L)
  }

  test("column pruning reaches the reader output schema") {
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    val df = spark.read.format("graft-store").load(dir).select("id", "flag")
    val desc = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString
    assert(desc.contains("cols=id,flag"), desc)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("one input partition per committed file (parallel writers → parallel readers)") {
    val dir = Fixture.dir()
    sample.repartition(3).write.format("graft-store").mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.rdd.getNumPartitions === 3)
    assert(back.count() === 3)
  }

  test("time travel: snapshot index and asOfMillis pin historical reads") {
    import spark.implicits._
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    val hist0 = graft.sources.v2.GraftStoreOps.history(spark, dir)
    assert(hist0.map(h => (h._1, h._4)) === Seq((0, 3L)))
    Seq((4L, Some("delta"), Some(9.0), false)).toDF("id", "name", "score", "flag")
      .write.format("graft-store").mode("append").save(dir)
    Seq((9L, Some("omega"), Some(0.0), true)).toDF("id", "name", "score", "flag")
      .write.format("graft-store").mode("overwrite").save(dir)
    // latest = snapshot 2 (the overwrite); history retains all three
    assert(spark.read.format("graft-store").load(dir).count() === 1)
    assert(spark.read.format("graft-store").option("snapshot", 0).load(dir).count() === 3)
    assert(spark.read.format("graft-store").option("snapshot", 1).load(dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    val hist = graft.sources.v2.GraftStoreOps.history(spark, dir)
    assert(hist.map(_._1) === Seq(0, 1, 2))
    assert(hist.map(_._4) === Seq(3L, 4L, 1L))
    // asOfMillis at snapshot 1's publication time sees snapshot 1
    assert(spark.read.format("graft-store").option("asOfMillis", hist(1)._2)
      .load(dir).count() === 4)
    // before the first snapshot: explicit error, not an empty read
    val err = intercept[Exception] {
      spark.read.format("graft-store").option("asOfMillis", hist(0)._2 - 1)
        .load(dir).count()
    }
    assert(err.getMessage.contains("no snapshot"), err.getMessage)
  }

  test("expireSnapshots drops history and unreferenced files; latest still reads") {
    import spark.implicits._
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    Seq((9L, Some("omega"), Some(0.0), true)).toDF("id", "name", "score", "flag")
      .write.format("graft-store").mode("overwrite").save(dir)
    // both snapshots' files physically present pre-expiry
    val gsf = new java.io.File(dir).listFiles().count(_.getName.endsWith(".gsf"))
    assert(gsf >= 2, s"expected files of both snapshots, saw $gsf")
    val (manifests, files) = graft.sources.v2.GraftStoreOps.expireSnapshots(spark, dir, keepLast = 1)
    assert(manifests === 1 && files >= 1)
    assert(graft.sources.v2.GraftStoreOps.history(spark, dir).size === 1)
    val after = spark.read.format("graft-store").load(dir)
    assert(after.count() === 1 && after.collect()(0).getLong(0) === 9L)
    // the expired snapshot is gone
    assertThrows[Exception] {
      spark.read.format("graft-store").option("snapshot", 1).load(dir).count()
    }
  }

  test("manifest min/max stats skip files the predicate cannot match") {
    val dir = Fixture.dir()
    spark.range(0, 1000)
      .selectExpr("id", "cast(id % 10 as double) as v")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    val all = spark.read.format("graft-store").load(dir)
    assert(all.rdd.getNumPartitions === 4)
    // disjoint id ranges per file -> a selective range predicate must plan
    // strictly fewer input partitions (files), with identical results
    val filtered = spark.read.format("graft-store").load(dir)
      .filter(org.apache.spark.sql.functions.col("id") >= 750)
    assert(filtered.rdd.getNumPartitions < 4,
      s"expected file skipping, planned ${filtered.rdd.getNumPartitions} of 4")
    assert(filtered.count() === 250)
    assert(filtered.agg(org.apache.spark.sql.functions.sum("id")).collect()(0).getLong(0)
      === (750L until 1000L).sum)
    // residual evaluation: inside the surviving file(s), rows below the
    // bound are still filtered row-by-row
    val partial = spark.read.format("graft-store").load(dir)
      .filter(org.apache.spark.sql.functions.col("id") === 990)
    assert(partial.count() === 1)
    // a predicate matching nothing skips every file
    val none = spark.read.format("graft-store").load(dir)
      .filter(org.apache.spark.sql.functions.col("id") > 5000)
    assert(none.rdd.getNumPartitions === 0)
    assert(none.count() === 0)
  }

  test("compactSnapshot publishes a compacted snapshot; history keeps the old layout") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "cast(id as double) as v")
      .repartition(8)
      .write.format("graft-store").mode("overwrite").save(dir)
    assert(spark.read.format("graft-store").load(dir).rdd.getNumPartitions === 8)
    val nFiles = graft.sources.v2.GraftStoreOps.compactSnapshot(spark, dir, targetBytes = 1L << 30)
    assert(nFiles === 1, s"1 GiB target should compact to one file, got $nFiles")
    val after = spark.read.format("graft-store").load(dir)
    assert(after.rdd.getNumPartitions === 1)
    assert(after.agg(org.apache.spark.sql.functions.sum("id")).collect()(0).getLong(0)
      === (0L until 1000L).sum)
    // pre-compaction snapshot still time-travelable with its original layout
    val before = spark.read.format("graft-store").option("snapshot", 0).load(dir)
    assert(before.rdd.getNumPartitions === 8)
    assert(before.count() === 1000)
    // vacuum: keep only the compacted snapshot; the 8 old files get removed
    val (ms, files) = graft.sources.v2.GraftStoreOps.expireSnapshots(spark, dir, keepLast = 1)
    assert(ms === 1 && files === 8)
    assert(spark.read.format("graft-store").load(dir).count() === 1000)
  }

  test("SQL surface: CREATE TEMPORARY VIEW ... USING graft-store with time travel") {
    import spark.implicits._
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    Seq((9L, Some("omega"), Some(0.0), true)).toDF("id", "name", "score", "flag")
      .write.format("graft-store").mode("overwrite").save(dir)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gs_latest USING `graft-store` OPTIONS (path '$dir')")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gs_v0 USING `graft-store` OPTIONS (path '$dir', snapshot '0')")
    assert(spark.sql("SELECT count(*) FROM gs_latest").collect()(0).getLong(0) === 1)
    assert(spark.sql("SELECT count(*) FROM gs_v0").collect()(0).getLong(0) === 3)
    assert(spark.sql("SELECT sum(id) FROM gs_v0 WHERE flag").collect()(0).getLong(0) === 4L)
    spark.catalog.dropTempView("gs_latest")
    spark.catalog.dropTempView("gs_v0")
  }

  test("catalog: SQL VERSION AS OF / TIMESTAMP AS OF resolve through GraftCatalog") {
    import spark.implicits._
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.gcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.base", base)
    Seq((1L, Some("a"), Some(1.0), true), (2L, Some("b"), Some(2.0), false))
      .toDF("id", "name", "score", "flag")
      .write.format("graft-store").mode("append").save(s"$base/t")
    Seq((3L, Some("c"), Some(3.0), true)).toDF("id", "name", "score", "flag")
      .write.format("graft-store").mode("append").save(s"$base/t")
    // VERSION AS OF pins the snapshot index
    assert(spark.sql("SELECT count(*) FROM gcat.t VERSION AS OF 0").collect()(0).getLong(0) === 2)
    assert(spark.sql("SELECT count(*) FROM gcat.t").collect()(0).getLong(0) === 3)
    // TIMESTAMP AS OF at snapshot 0's exact publication millis (inclusive)
    val h = graft.sources.v2.GraftStoreOps.history(spark, s"$base/t")
    assert(spark.sql(
      s"SELECT sum(id) FROM gcat.t TIMESTAMP AS OF timestamp_millis(${h(0)._2})")
      .collect()(0).getLong(0) === 3L)
    // before the first snapshot → no snapshot to read
    intercept[Exception] {
      spark.sql(
        s"SELECT * FROM gcat.t TIMESTAMP AS OF timestamp_millis(${h(0)._2 - 1})").collect()
    }
    // a missing table surfaces as analysis-time TABLE_OR_VIEW_NOT_FOUND
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM gcat.nope").collect()
    }
  }

  test("streaming source: snapshots tail incrementally across live appends") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, Some("a"), Some(1.0), true), (2L, Some("b"), Some(2.0), false))
      .toDF("id", "name", "score", "flag")
      .write.format("graft-store").mode("overwrite").save(dir)
    val q = spark.readStream.format("graft-store").load(dir)
      .writeStream.format("memory").queryName("gs_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gs_tail").count() === 2)
      // a LIVE append after the stream started must arrive incrementally
      Seq((3L, Some("c"), Some(3.0), true)).toDF("id", "name", "score", "flag")
        .write.format("graft-store").mode("append").save(dir)
      q.processAllAvailable()
      assert(spark.table("gs_tail").orderBy("id").select("id").as[Long].collect().toSeq
        === Seq(1L, 2L, 3L))
      // second append: only the delta is re-read (no duplicate old rows)
      Seq((4L, Some("d"), Option.empty[Double], false)).toDF("id", "name", "score", "flag")
        .write.format("graft-store").mode("append").save(dir)
      q.processAllAvailable()
      assert(spark.table("gs_tail").count() === 4)
    } finally {
      q.stop()
      spark.catalog.dropTempView("gs_tail")
    }
  }

  test("dates and timestamps survive the codec") {
    import spark.implicits._
    val dir = Fixture.dir()
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-05-17"), java.sql.Timestamp.valueOf("2024-05-17 10:30:00")))
      .toDF("id", "d", "ts")
    df.write.format("graft-store").mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir).collect()(0)
    assert(back.getDate(1) === java.sql.Date.valueOf("2024-05-17"))
    assert(back.getTimestamp(2) === java.sql.Timestamp.valueOf("2024-05-17 10:30:00"))
  }
}
