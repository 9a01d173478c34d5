package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Native streaming SINK: `writeStream.format("graft-store")` commits one
  * snapshot per epoch through the normal manifest protocol, with a
  * `#txn=queryId-epochId` token making replayed epoch commits no-ops. */
class GraftStoreStreamSinkSpec extends AnyFunSuite with graft.SparkTestBase {

  test("streaming sink: epochs land as snapshots; restart appends nothing") {
    val src = Fixture.dir()
    val dir = Fixture.dir()
    val ckpt = Fixture.dir()
    import spark.implicits._
    // 3 source files -> 3 triggers/epochs with maxFilesPerTrigger=1
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1).write.mode("append").parquet(src)
    Seq((3L, 30L)).toDF("id", "v").coalesce(1).write.mode("append").parquet(src)
    Seq((4L, 40L), (5L, 50L)).toDF("id", "v").coalesce(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val q = spark.readStream.schema("id BIGINT, v BIGINT")
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.format("graft-store")
        .option("checkpointLocation", ckpt)
        .start(dir)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 5)
    assert(back.agg(sum("v")).collect()(0).getLong(0) === 150L)
    val hist = GraftStoreOps.history(spark, dir)
    assert(hist.size === 3, s"one snapshot per epoch, got ${hist.size}")
    // every epoch is a time-travelable audit point
    assert(spark.read.format("graft-store").option("snapshot", 0).load(dir).count() === 2)
    assert(spark.read.format("graft-store").option("snapshot", 1).load(dir).count() === 3)
    // restart from the checkpoint with no new data: nothing re-appends
    run()
    assert(spark.read.format("graft-store").load(dir).count() === 5)
    assert(GraftStoreOps.history(spark, dir).size === 3)
  }

  test("epoch replay is idempotent via the txn token") {
    val dir = Fixture.dir()
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = StructType.fromDDL("id BIGINT")
    val sw = new GraftStoreStreamingWrite(dir, schema, conf, queryId = "qx")
    val w = sw.createStreamingWriterFactory(null).createWriter(0, 7L, 42L)
    w.write(InternalRow(1L)); w.write(InternalRow(2L))
    val msg = w.commit()
    sw.commit(42L, Array(msg))
    assert(spark.read.format("graft-store").load(dir).count() === 2)
    // the replayed commit finds its token in the history and drops out
    sw.commit(42L, Array(msg))
    assert(spark.read.format("graft-store").load(dir).count() === 2)
    assert(GraftStoreOps.history(spark, dir).size === 1)
    // a DIFFERENT query's epoch 42 is a different transaction
    val sw2 = new GraftStoreStreamingWrite(dir, schema, conf, queryId = "qy")
    val w2 = sw2.createStreamingWriterFactory(null).createWriter(0, 8L, 42L)
    w2.write(InternalRow(3L))
    sw2.commit(42L, Array(w2.commit()))
    assert(spark.read.format("graft-store").load(dir).count() === 3)
  }

  test("streaming into a partitioned table routes files by the inherited layout") {
    val src = Fixture.dir()
    val dir = Fixture.dir()
    val ckpt = Fixture.dir()
    import spark.implicits._
    // the table declares its layout; the stream passes NO layout options
    Seq((-1L, "seed0"), (-2L, "seed1")).toDF("id", "k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(src)
    val q = spark.readStream.schema("id BIGINT, k STRING").parquet(src)
      .writeStream.format("graft-store")
      .option("checkpointLocation", ckpt)
      .start(dir)
    try q.processAllAvailable() finally q.stop()
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.partitionCol === Some("k"), "layout header carries through")
    assert(m.files.forall(_.partVals.isDefined),
      "streamed files must route: one value per file, explicit partVals")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 5)
    // SPJ capability survives streaming ingest: reads stay key-grouped
    assert(back.rdd.getNumPartitions === 4, "4 key groups (seed0, seed1, a, b)")
    assert(back.filter(col("k") === "a").count() === 2)
  }

  test("a stream CREATING a partitioned table persists the layout header") {
    val src = Fixture.dir()
    val dir = Fixture.dir()
    val ckpt = Fixture.dir()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(src)
    val q = spark.readStream.schema("id BIGINT, k STRING").parquet(src)
      .writeStream.format("graft-store")
      .option("partitionBy", "k")
      .option("checkpointLocation", ckpt)
      .start(dir)
    try q.processAllAvailable() finally q.stop()
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.partitionCol === Some("k"),
      "the declared layout must survive into the created table's manifest")
    assert(m.files.forall(_.partVals.isDefined))
    val back = spark.read.format("graft-store").load(dir)
    assert(back.rdd.getNumPartitions === 2, "key-grouped from the first epoch")
    assert(back.count() === 3)
  }
}
