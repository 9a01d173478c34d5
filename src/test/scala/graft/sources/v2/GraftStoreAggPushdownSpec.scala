package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Metadata-only aggregate pushdown ([[GraftStoreScanBuilder]]
  * `SupportsPushDownAggregates`): an unfiltered global COUNT(*)/MIN/MAX is
  * served from the manifest (one-row LocalTableScan, zero data files read)
  * — and every case where manifest stats cannot answer EXACTLY declines
  * back to the ordinary scan with identical results. */
class GraftStoreAggPushdownSpec extends AnyFunSuite with SparkTestBase {

  private def sample = {
    import spark.implicits._
    Seq(
      (5L, "alpha", 1.5, 10),
      (2L, "beta", -2.25, 40),
      (9L, "gamma", 0.75, 20),
      (7L, "delta", 3.5, 30))
      .toDF("id", "name", "score", "qty")
  }

  /** Physical-plan probe: a completely pushed aggregate plans as a
    * LocalTableScan with NO graft-store batch scan underneath. */
  private def pushedToManifest(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("LocalTableScan") && !plan.contains("BatchScan")
  }

  test("count(*) / min / max push to the manifest and match a full scan") {
    val dir = Fixture.dir()
    sample.repartition(3).write.format("graft-store").mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)

    val agg = t.agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"),
      min("name").as("nmn"), max("name").as("nmx"), max("qty").as("qmx"))
    assert(pushedToManifest(agg), agg.queryExecution.executedPlan.toString)
    val r = agg.collect()(0)
    assert(r.getLong(0) === 4L)
    assert(r.getLong(1) === 2L && r.getLong(2) === 9L)
    assert(r.getString(3) === "alpha" && r.getString(4) === "gamma")
    assert(r.getInt(5) === 40)

    // Dataset.count() rides the same path
    assert(pushedToManifest(t.groupBy().count()))
    assert(t.count() === 4L)
  }

  test("a WHERE clause declines the pushdown (filters are residual)") {
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    val agg = t.filter(col("id") > 2L).agg(count(lit(1)).as("n"), max("id").as("mx"))
    assert(!pushedToManifest(agg))
    val r = agg.collect()(0)
    assert(r.getLong(0) === 3L && r.getLong(1) === 9L)
  }

  test("GROUP BY declines; count(col) pushes via null counts; distinct declines") {
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    val grouped = t.groupBy("qty").agg(count(lit(1)).as("n"))
    assert(!pushedToManifest(grouped))
    assert(grouped.count() === 4L)
    // count(col) is manifest-served since per-file null counts (v10) —
    // GraftStoreNullStatsSpec covers the decline ladder for pre-v10 files
    val cnt = t.agg(count(col("name")).as("n"))
    assert(pushedToManifest(cnt))
    assert(cnt.collect()(0).getLong(0) === 4L)
    val dis = t.agg(countDistinct(col("qty")).as("n"))
    assert(!pushedToManifest(dis))
    assert(dis.collect()(0).getLong(0) === 4L)
  }

  test("NaN in a float column declines min/max but count(*) still pushes") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, 1.0), (2L, Double.NaN), (3L, 5.0)).toDF("id", "v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    val mm = t.agg(min("v").as("mn"), max("v").as("mx"))
    assert(!pushedToManifest(mm))
    val r = mm.collect()(0)
    // Spark's ordering: NaN is the greatest double
    assert(r.getDouble(0) === 1.0 && r.getDouble(1).isNaN)
    assert(pushedToManifest(t.groupBy().count()))
    assert(t.count() === 3L)
  }

  test(">64-char strings decline min/max on that column only") {
    import spark.implicits._
    val dir = Fixture.dir()
    val long = "x" * 80
    Seq((1L, long), (2L, "short")).toDF("id", "s")
      .write.format("graft-store").mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    val viaS = t.agg(max("s").as("mx"))
    assert(!pushedToManifest(viaS))
    assert(viaS.collect()(0).getString(0) === long)
    val viaId = t.agg(max("id").as("mx"))
    assert(pushedToManifest(viaId))
    assert(viaId.collect()(0).getLong(0) === 2L)
  }

  test("live merge-on-read deletes decline everything; purge restores") {
    import spark.implicits._
    val dir = Fixture.dir()
    sample.repartition(2).write.format("graft-store")
      .option("dmlMode", "mor").mode("overwrite").save(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") === 2L)
    val t = spark.read.format("graft-store").load(dir)
    assert(!pushedToManifest(t.groupBy().count()))
    assert(t.count() === 3L)
    val mn = t.agg(min("id").as("mn"))
    assert(!pushedToManifest(mn))
    assert(mn.collect()(0).getLong(0) === 5L)

    GraftStoreOps.purgeDeletes(spark, dir)
    val t2 = spark.read.format("graft-store").load(dir)
    assert(pushedToManifest(t2.groupBy().count()))
    assert(t2.count() === 3L)
    val mn2 = t2.agg(min("id").as("mn"))
    assert(pushedToManifest(mn2))
    assert(mn2.collect()(0).getLong(0) === 5L)
  }

  test("schema evolution: new column declines min/max (no stats), count pushes") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("graft-store").mode("overwrite").save(dir)
    Seq((3L, "c", 42)).toDF("id", "name", "extra")
      .write.format("graft-store").option("mergeSchema", "true")
      .mode("append").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    val mm = t.agg(max("extra").as("mx"))
    assert(!pushedToManifest(mm))
    assert(mm.collect()(0).getInt(0) === 42)
    assert(pushedToManifest(t.groupBy().count()))
    assert(t.count() === 3L)
    // the old columns still push: files missing the new column are
    // irrelevant to id's stats
    val mx = t.agg(max("id").as("mx"))
    assert(pushedToManifest(mx))
    assert(mx.collect()(0).getLong(0) === 3L)
  }

  test("time travel aggregates push against the pinned snapshot") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, 10)).toDF("id", "v").write.format("graft-store")
      .mode("overwrite").save(dir)
    Seq((2L, 20)).toDF("id", "v").write.format("graft-store")
      .mode("append").save(dir)
    val t0 = spark.read.format("graft-store").option("snapshot", "0").load(dir)
    assert(pushedToManifest(t0.groupBy().count()))
    assert(t0.count() === 1L)
    val head = spark.read.format("graft-store").load(dir)
    assert(head.count() === 2L)
    val mx0 = t0.agg(max("v").as("mx"))
    assert(pushedToManifest(mx0))
    assert(mx0.collect()(0).getInt(0) === 10)
  }

  test("empty selection: count 0, min/max null") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, 10)).toDF("id", "v").filter(col("id") < 0L)
      .write.format("graft-store").mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    assert(t.count() === 0L)
    val mm = t.agg(min("v").as("mn"), max("v").as("mx"))
    val r = mm.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("SQL DML still works against a table whose scans push aggregates") {
    import spark.implicits._
    val dir = Fixture.dir()
    sample.write.format("graft-store").mode("overwrite").save(dir)
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 5L)
    val t = spark.read.format("graft-store").load(dir)
    assert(t.count() === 3L) // COW delete keeps counts manifest-exact
    assert(pushedToManifest(t.groupBy().count()))
  }

  test("GROUP BY an identity partition column pushes to the manifest") {
    val dir = Fixture.dir()
    spark.range(0, 400)
      .selectExpr("id", "cast(id % 4 as string) as k", "id * 2 as v")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    val g = t.groupBy("k").agg(count(lit(1)).as("n"),
      min("id").as("mn"), max("v").as("mx"))
    assert(pushedToManifest(g), g.queryExecution.executedPlan.toString)
    val got = g.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = (0 until 4).map(i =>
      (i.toString, 100L, i.toLong, (396L + i) * 2)).toSet
    assert(got === want)
  }

  test("GROUP BY pushdown covers null partitions and composite layouts") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, Some("a")), (2L, Some("a")), (3L, None)).toDF("id", "k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    val g = t.groupBy("k").agg(count(lit(1)).as("n"), max("id").as("mx"))
    assert(pushedToManifest(g))
    val got = g.collect().map(r =>
      (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((Some("a"), 2L, 2L), (None, 1L, 3L)))
    // composite layout: identity + bucket still groups by the identity leg
    val dir2 = Fixture.dir()
    spark.range(0, 100)
      .selectExpr("id", "cast(id % 2 as string) as k")
      .write.format("graft-store").option("partitionBy", "k,bucket(4,id)")
      .mode("overwrite").save(dir2)
    val t2 = spark.read.format("graft-store").load(dir2)
    val g2 = t2.groupBy("k").agg(count(lit(1)).as("n"))
    assert(pushedToManifest(g2), g2.queryExecution.executedPlan.toString)
    assert(g2.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("0", 50L), ("1", 50L)))
  }

  test("GROUP BY a non-partition column declines; results still exact") {
    val dir = Fixture.dir()
    spark.range(0, 40)
      .selectExpr("id", "cast(id % 4 as string) as k", "cast(id % 2 as string) as j")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val t = spark.read.format("graft-store").load(dir)
    val g = t.groupBy("j").agg(count(lit(1)).as("n"))
    assert(!pushedToManifest(g), "a non-partition GROUP BY must scan")
    assert(g.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("0", 20L), ("1", 20L)))
    // MOR masks decline the grouped form like the global one
    val dirm = Fixture.dir()
    spark.range(0, 40)
      .selectExpr("id", "cast(id % 4 as string) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .option("dmlMode", "mor").mode("overwrite").save(dirm)
    GraftStoreOps.deleteWhereMor(spark, dirm, col("id") === 1L)
    val tm = spark.read.format("graft-store").load(dirm)
    val gm = tm.groupBy("k").agg(count(lit(1)).as("n"))
    assert(!pushedToManifest(gm), "live masks must decline GROUP BY pushdown")
    assert(gm.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("0", 10L), ("1", 9L), ("2", 10L), ("3", 10L)))
  }
}
