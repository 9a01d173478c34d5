package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Split blocks (manifest v15): writers record row-aligned byte offsets
  * every ~splitBlockBytes, and the scan reads an oversized file as
  * PARALLEL slices — a compaction output or bulk load no longer
  * serializes into one straggler task. `_pos` and position-delete masks
  * stay exact across slices (each slice knows its physical row start). */
class GraftStoreSplitSpec extends AnyFunSuite with graft.SparkTestBase {

  private def manifest(dir: String): GraftManifest =
    GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get

  test("an oversized file scans as multiple parallel slices, results exact") {
    val dir = Fixture.dir()
    spark.range(0, 20000).selectExpr("id", "id * 3 as v")
      .coalesce(1)
      .write.format("graft-store").option("splitBlockBytes", "65536")
      .mode("overwrite").save(dir)
    val m = manifest(dir)
    assert(m.files.size === 1)
    val blocks = m.files.head.blocks.getOrElse(Seq.empty)
    assert(blocks.size >= 3, s"expected several block offsets, got $blocks")
    // offsets are strictly increasing and row-aligned monotone
    assert(blocks === blocks.sortBy(_._2))
    assert(blocks.map(_._1) === blocks.map(_._1).sorted)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.rdd.getNumPartitions === blocks.size + 1,
      "one scan partition per slice")
    assert(back.count() === 20000)
    assert(back.agg(sum("v")).collect()(0).getLong(0) === 3L * (19999L * 20000L / 2))
    // narrow projection across slices still decodes exactly
    assert(back.select("id").agg(max("id")).collect()(0).getLong(0) === 19999L)
  }

  test("(_file, _pos) stays a stable physical id across slices") {
    val dir = Fixture.dir()
    spark.range(0, 10000).selectExpr("id", "id as v").coalesce(1)
      .write.format("graft-store").option("splitBlockBytes", "65536")
      .mode("overwrite").save(dir)
    val df = spark.read.format("graft-store").load(dir)
    val pairs = df.select(df.metadataColumn("_pos").as("p"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length === 10000)
    // a single sequential writer: physical ordinal == id, even when the
    // read was split into many slices
    pairs.foreach { case (p, id) => assert(p === id) }
  }

  test("position-delete masks apply exactly across slice boundaries") {
    val dir = Fixture.dir()
    spark.range(0, 20000).selectExpr("id", "id as v").coalesce(1)
      .write.format("graft-store").option("splitBlockBytes", "65536")
      .option("dmlMode", "mor").mode("overwrite").save(dir)
    // delete a band that spans several slices plus a scattered tail
    val (deleted, _) = GraftStoreOps.deleteWhereMor(spark, dir,
      (col("id") >= 5000 && col("id") < 9000) || col("id") === 19999L)
    assert(deleted === 4001L)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.rdd.getNumPartitions > 1, "the masked read is still split")
    assert(back.count() === 15999)
    assert(back.filter(col("id") >= 5000 && col("id") < 9000).count() === 0)
    assert(back.agg(max("id")).collect()(0).getLong(0) === 19998L)
  }

  test("small files record no blocks at the default granularity") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "id as v").coalesce(1)
      .write.format("graft-store").mode("overwrite").save(dir)
    assert(manifest(dir).files.head.blocks.isEmpty)
    assert(spark.read.format("graft-store").load(dir).rdd.getNumPartitions === 1)
  }

  test("key-grouped (SPJ) scans keep one partition per key — never split") {
    val dir = Fixture.dir()
    spark.range(0, 20000).selectExpr("id", "cast(id % 2 as string) as k")
      .write.format("graft-store").option("splitBlockBytes", "65536")
      .option("partitionBy", "k").mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.rdd.getNumPartitions === 2,
      "KeyGroupedPartitioning promises one partition per key")
    assert(back.count() === 20000)
  }
}
