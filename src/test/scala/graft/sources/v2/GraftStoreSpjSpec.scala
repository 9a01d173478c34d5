package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-partitioned joins over graft-store: `partitionBy` writes one
  * file per partition-key value (identity partitioning), the scan recovers
  * each file's single value from its min==max stats and reports
  * KeyGroupedPartitioning, and Spark then joins two co-partitioned tables
  * with ZERO shuffle exchange on either side — the Iceberg/Delta SPJ
  * capability on the engine's own format. */
class GraftStoreSpjSpec extends AnyFunSuite with graft.SparkTestBase {

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partitionBy write: one file per value, partition-pruned reads") {
    val dir = Fixture.dir()
    spark.range(0, 1000)
      .selectExpr("id", "cast(id % 8 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    // 8 values -> 8 keyed input partitions regardless of task layout
    assert(back.rdd.getNumPartitions === 8)
    assert(back.count() === 1000)
    // stats carry the single value -> equality filter reads exactly one group
    val one = back.filter(col("k") === 3)
    assert(one.rdd.getNumPartitions === 1)
    assert(one.count() === 125)
  }

  test("append inherits the table's partition layout (no option needed)") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, 1)).toDF("id", "k").write.format("graft-store")
      .option("partitionBy", "k").mode("overwrite").save(dir)
    // layout is a TABLE property (Delta/Iceberg discipline): an append
    // with no options routes by the inherited layout — one-value-per-file
    // stays intact, SPJ capability survives
    Seq((2L, 2), (3L, 2)).toDF("id", "k").write.format("graft-store")
      .mode("append").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.partitionCol === Some("k"))
    assert(m.files.forall(_.partVals.isDefined),
      "inherited routing must record explicit partition values")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 3)
    assert(back.rdd.getNumPartitions === 2, "two key groups after the append")
    // an append DECLARING a conflicting layout still fails loudly
    val err = intercept[Exception] {
      Seq((4L, 9)).toDF("id", "k").write.format("graft-store")
        .option("partitionBy", "id").mode("append").save(dir)
    }
    assert(err.getMessage.contains("partition"), err.getMessage)
  }

  test("co-partitioned tables join with zero shuffle exchange (SPJ)") {
    val dirA = Fixture.dir()
    val dirB = Fixture.dir()
    spark.range(0, 1000)
      .selectExpr("id as ida", "cast(id % 20 as int) as k", "id * 2 as va")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dirA)
    spark.range(0, 500)
      .selectExpr("id as idb", "cast(id % 20 as int) as k", "id * 3 as vb")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dirB)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = spark.read.format("graft-store").load(dirA)
      val b = spark.read.format("graft-store").load(dirB)
      val j = a.join(b, Seq("k"))
        .groupBy("k").agg(count(lit(1)).as("n"), sum(col("va") + col("vb")).as("s"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected a storage-partitioned join with no exchange:\n${plan.take(3000)}")
      // correctness: 50 x 25 pairs per key, 20 keys; sums must equal the
      // plain (shuffled, non-store) computation row for row
      val rows = j.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.size === 20)
      assert(rows.forall(_._2 === 50L * 25L))
      val expected = spark.range(0, 1000)
        .selectExpr("cast(id % 20 as int) as k", "id * 2 as va")
        .join(spark.range(0, 500).selectExpr("cast(id % 20 as int) as k", "id * 3 as vb"), Seq("k"))
        .groupBy("k").agg(count(lit(1)).as("n"), sum(col("va") + col("vb")).as("s"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows === expected)
    }
  }

  test("SPJ survives partially-overlapping partition value sets") {
    val dirA = Fixture.dir()
    val dirB = Fixture.dir()
    // A holds keys 0..19, B only 0..9 — Spark must align the value sets
    // (pushPartValues) instead of falling back to a shuffle
    spark.range(0, 400)
      .selectExpr("id as ida", "cast(id % 20 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dirA)
    spark.range(0, 200)
      .selectExpr("id as idb", "cast(id % 10 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dirB)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.read.format("graft-store").load(dirA)
        .join(spark.read.format("graft-store").load(dirB), Seq("k"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"partial overlap should still plan SPJ:\n${plan.take(3000)}")
      // inner join keeps only B's 10 keys: 20 (A rows/key) x 20 (B rows/key) x 10
      assert(j.count() === 20L * 20L * 10L)
    }
  }

  test("multi-column partition keys: SPJ on a composite key, zero exchange") {
    val dirA = Fixture.dir()
    val dirB = Fixture.dir()
    spark.range(0, 600)
      .selectExpr("id as ida", "cast(id % 4 as int) as k1", "cast(id % 3 as int) as k2")
      .write.format("graft-store").option("partitionBy", "k1,k2")
      .mode("overwrite").save(dirA)
    spark.range(0, 300)
      .selectExpr("id as idb", "cast(id % 4 as int) as k1", "cast(id % 3 as int) as k2")
      .write.format("graft-store").option("partitionBy", "k1,k2")
      .mode("overwrite").save(dirB)
    val a = spark.read.format("graft-store").load(dirA)
    // 4 x 3 value combinations -> 12 keyed groups
    assert(a.rdd.getNumPartitions === 12)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = a.join(spark.read.format("graft-store").load(dirB), Seq("k1", "k2"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"composite-key SPJ should be exchange-free:\n${plan.take(3000)}")
      // id % 12 determines (k1,k2): 50 A-rows and 25 B-rows per combination
      assert(j.count() === 50L * 25L * 12L)
    }
  }

  test("pruning the partition column out of the read schema stays safe") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "cast(id % 4 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    // the scan still REPORTS KeyGroupedPartitioning on k; Spark must not
    // trip over the reference being absent from the pruned read schema
    assert(t.selectExpr("sum(id)").collect()(0).getLong(0) === (0L until 100L).sum)
    assert(t.count() === 100)
    // and grouping on the partition column reuses the partitioning
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val g = t.groupBy("k").count()
      assert(g.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        === (0 until 4).map(_ -> 25L).toMap)
    }
  }

  test("compaction preserves the partition layout (and SPJ capability)") {
    val dir = Fixture.dir()
    val df = spark.range(0, 400).selectExpr("id", "cast(id % 5 as int) as k")
    // two appends -> 2 files per key value
    df.filter(col("id") < 200).write.format("graft-store")
      .option("partitionBy", "k").mode("overwrite").save(dir)
    df.filter(col("id") >= 200).write.format("graft-store")
      .option("partitionBy", "k").mode("append").save(dir)
    val before = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(before.files.size === 10)
    GraftStoreOps.compactSnapshot(spark, dir, targetBytes = 1L << 30)
    val after = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(after.partitionCol === Some("k"), "compaction must keep the layout")
    assert(after.files.size === 5, "files must merge WITHIN key values")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.rdd.getNumPartitions === 5)
    assert(back.count() === 400)
  }
}
