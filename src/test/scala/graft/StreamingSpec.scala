package graft

import graft.streaming.EventsPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("streaming windowed agg equals the batch computation") {
    val streamed = EventsPipeline.runToMemoryTable(
      spark, EventsPipeline.windowedAgg(EventsPipeline.readEventsStream(spark, dir)), "spec_stream")
    val batch = Tables.events(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("stream-stream interval join equals the batch range join") {
    val streamed = EventsPipeline.runToMemoryTable(
      spark,
      EventsPipeline.errorPurchaseJoin(EventsPipeline.readEventsStream(spark, dir)),
      "spec_ss_join", org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = SparkEntry.queries("q50_range_join")(spark, dir)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming session_window equals the batch session_window query") {
    val ev = EventsPipeline.readEventsStream(spark, dir)
      .withColumn("ts", date_trunc("second", col("ts")))
    val agg = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))
    val streamed = EventsPipeline.runToMemoryTable(spark, agg, "spec_session_window")
    val batch = SparkEntry.queries("q90_session_window")(spark, dir)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("foreachBatch graft-store upsert converges over multiple triggers") {
    import spark.implicits._
    val src = Fixture.dir()
    val store = Fixture.dir()
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    // three files -> three triggers with maxFilesPerTrigger=1; user 1 is
    // updated in every batch, user 2 only in the first, user 3 in the last
    Seq((1L, at(0), 1L, "click", 1.0), (2L, at(0), 2L, "view", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value").coalesce(1)
      .write.mode("append").parquet(src)
    Seq((3L, at(10), 1L, "view", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value").coalesce(1)
      .write.mode("append").parquet(src)
    Seq((4L, at(20), 1L, "purchase", 4.0), (5L, at(20), 3L, "click", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value").coalesce(1)
      .write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val existing =
          try spark.read.format("graft-store").load(store)
          catch { case _: IllegalArgumentException => batch.limit(0).toDF() }
        existing.toDF().unionByName(batch.toDF())
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
          .write.format("graft-store").mode("overwrite").save(store)
        ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val fin = spark.read.format("graft-store").load(store)
      .select("user_id", "event_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin === Map(1L -> 4L, 2L -> 2L, 3L -> 5L))
    // every batch published a snapshot: the store's history is a per-batch audit log
    val hist = graft.sources.v2.GraftStoreOps.history(spark, store)
    assert(hist.size === 3, s"expected 3 snapshots, got ${hist.size}")
    // time travel to the first batch's state: only users 1 and 2 exist
    val v0 = spark.read.format("graft-store").option("snapshot", 0).load(store)
    assert(v0.select("user_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("streaming decontamination totals are independent of batching") {
    import spark.implicits._
    import graft.ext.Decontamination
    val src = Fixture.dir()
    // the real corpus split into 3 files -> 3 triggers with maxFilesPerTrigger=1
    val docsAll = Tables.documents(spark, dir)
    docsAll.filter(col("doc_id") % 3 === 0).coalesce(1).write.mode("append").parquet(src)
    docsAll.filter(col("doc_id") % 3 === 1).coalesce(1).write.mode("append").parquet(src)
    docsAll.filter(col("doc_id") % 3 === 2).coalesce(1).write.mode("append").parquet(src)
    val (benchShingles, bloom) =
      Decontamination.benchSide(docsAll, col("doc_id") % 50 === 0)
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    var batches = 0
    val stream = spark.readStream
      .schema(docsAll.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
      .filter(col("doc_id") % 50 =!= 0)
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches += 1
        Decontamination.scrubBatch(batch.toDF(), benchShingles, bloom)
          .collect().foreach(r => acc.add((r.getString(0), r.getLong(1), r.getLong(2))))
        ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches === 3, s"expected 3 triggers, got $batches")
    import scala.jdk.CollectionConverters._
    val streamed = acc.asScala.toSeq.groupBy(_._1).view
      .mapValues(rs => (rs.map(_._2).sum, rs.map(_._3).sum)).toMap
    // batch rule over the whole corpus at once — one "batch" of everything
    val wholeCorpus = Decontamination
      .scrubBatch(docsAll.filter(col("doc_id") % 50 =!= 0), benchShingles, bloom)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === wholeCorpus,
      "per-batch scrub totals must sum to the whole-corpus batch rule")
  }

  test("sessionize closes sessions on gap and aggregates within them") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val events = Seq(
      // user 1: two sessions separated by a 120-minute gap
      (1L, at(0), 1L, "click", 1.0), (2L, at(5), 1L, "view", 2.0), (3L, at(10), 1L, "click", 3.0),
      (4L, at(130), 1L, "click", 4.0), (5L, at(135), 1L, "view", 5.0),
      // user 2: one session
      (6L, at(0), 2L, "view", 10.0),
      // watermark pusher: a far-future event so earlier sessions time out
      (7L, at(10000), 99L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val eventsDir = Fixture.dir()
    events.write.mode("overwrite").parquet(eventsDir)
    val stream = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      .parquet(eventsDir)
    val sessions = EventsPipeline.sessionize(spark, stream, gapMinutes = 30)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("spec_sessions").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("spec_sessions")
      .select("user_id", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    // user 1 session A: 3 events totalling 6.0; session B: 2 events, 9.0;
    // user 2: 1 event, 10.0 (the far-future user's session stays open)
    assert(got.contains((1L, 3, 6.0)))
    assert(got.contains((1L, 2, 9.0)))
    assert(got.contains((2L, 1, 10.0)))
  }
}
