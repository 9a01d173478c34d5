package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout-value file pruning (static + runtime).
  *
  * Static: equality predicates on layout columns prune files by their
  * explicit manifest partVals — bucket elements via the predicate values'
  * COMPUTED bucket ids (min/max stats over hash-scattered values prune
  * nothing), identity elements via the value itself (works even where
  * string stats are capped away).
  *
  * Runtime: the regular scan declares its layout/cluster columns as
  * `SupportsRuntimeV2Filtering` attributes, so `fact JOIN dim` prunes the
  * fact table's FILES from dim's join-key values at execution time —
  * Iceberg's runtime filtering / DPP analogue on the native format.
  */
class GraftStorePruneSpec extends AnyFunSuite with graft.SparkTestBase {

  /** `files=a/b` read back from the scan's live description — after an
    * action this reflects runtime filters too (the description recomputes
    * from the scan's current selection). */
  private def scanFiles(df: DataFrame): (Int, Int) = {
    val s = df.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(s)
    assert(m.isDefined, s"no graft-store scan in plan:\n${s.take(2000)}")
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  test("static: point lookup on a bucket layout reads ~1/n of the files") {
    val dir = Fixture.dir()
    spark.range(0, 10000).selectExpr("id as key", "id * 3 as v")
      .write.format("graft-store").option("partitionBy", "bucket(8,key)")
      .mode("overwrite").save(dir)
    val q = spark.read.format("graft-store").load(dir).filter(col("key") === 4242L)
    val rows = q.collect()
    assert(rows.length === 1 && rows(0).getLong(1) === 4242L * 3)
    val (sel, total) = scanFiles(q)
    assert(total >= 8, s"expected >=8 bucket files, got $total")
    // exactly the one bucket holding key 4242
    assert(sel < total && sel <= total / 4, s"files=$sel/$total — bucket not pruned")
  }

  test("static: IN-list prunes to the union of the keys' buckets") {
    val dir = Fixture.dir()
    spark.range(0, 8000).selectExpr("id as key", "id as v")
      .write.format("graft-store").option("partitionBy", "bucket(16,key)")
      .mode("overwrite").save(dir)
    val keys = Seq(11L, 77L, 1234L)
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("key").isin(keys: _*))
    assert(q.collect().map(_.getLong(0)).sorted === keys.sorted.toArray)
    val (sel, total) = scanFiles(q)
    val expectBuckets = keys.map(k =>
      GraftBucket.of(k, org.apache.spark.sql.types.LongType, 16)).distinct.size
    assert(sel <= expectBuckets, s"files=$sel/$total, expected <= $expectBuckets buckets")
  }

  test("static: multi-column bucket prunes when both columns are pinned") {
    val dir = Fixture.dir()
    spark.range(0, 4000).selectExpr("id as a", "id % 97 as b", "id as v")
      .write.format("graft-store").option("partitionBy", "bucket(8,a,b)")
      .mode("overwrite").save(dir)
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("a") === 123L && col("b") === (123L % 97))
    assert(q.collect().map(_.getLong(2)) === Array(123L))
    val (sel, total) = scanFiles(q)
    assert(sel < total, s"files=$sel/$total — composite bucket not pruned")
  }

  test("static: identity partVals prune where string stats are capped away") {
    val dir = Fixture.dir()
    // 80-char partition values: the writer DROPS min/max stats over 64
    // chars, so stats-based skipping is blind here — partVals are not
    val pad = "x" * 77
    spark.range(0, 300)
      .selectExpr(s"concat('g', id % 3, '$pad') as grp", "id as v")
      .repartition(col("grp"))
      .write.format("graft-store").option("partitionBy", "grp")
      .mode("overwrite").save(dir)
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("grp") === s"g1$pad")
    assert(q.count() === 100)
    val (sel, total) = scanFiles(q)
    assert(total >= 3 && sel < total, s"files=$sel/$total — identity partVal not pruned")
  }

  test("static: equality never matches the null partition's file") {
    val dir = Fixture.dir()
    spark.range(0, 300)
      .selectExpr("CASE WHEN id % 3 = 2 THEN NULL ELSE concat('k', id % 3) END as grp",
        "id as v")
      .repartition(col("grp"))
      .write.format("graft-store").option("partitionBy", "grp")
      .mode("overwrite").save(dir)
    val q = spark.read.format("graft-store").load(dir).filter(col("grp") === "k0")
    assert(q.count() === 100)
    val (sel, total) = scanFiles(q)
    // k0's file only: neither k1's nor the null partition's file is read
    assert(sel < total - 1, s"files=$sel/$total — null partition not pruned")
  }

  test("static: pruning is per-file spec across partition-spec evolution") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id % 4 as grp", "id as v")
      .repartition(col("grp"))
      .write.format("graft-store").option("partitionBy", "grp")
      .mode("overwrite").save(dir)
    // metadata-only re-key: old files stay under identity(grp), new files
    // land under bucket(8,v)
    GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(8,v)"))
    spark.range(1000, 3000).selectExpr("id % 4 as grp", "id as v")
      .write.format("graft-store").option("partitionBy", "bucket(8,v)")
      .mode("append").save(dir)
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("grp") === 2L && col("v") === 1502L)
    assert(q.collect().map(_.getLong(1)) === Array(1502L))
    val (sel, total) = scanFiles(q)
    // grp=2 prunes the OLD identity files (3 of 4 skipped); v=1502 prunes
    // the NEW bucket files (~7 of 8 skipped) — each under its own spec
    assert(sel <= 3, s"files=$sel/$total — mixed-spec pruning failed")
  }

  test("runtime: join on the bucket column prunes fact files from dim keys") {
    val dir = Fixture.dir()
    spark.range(0, 20000).selectExpr("id as key", "id * 7 as v")
      .write.format("graft-store").option("partitionBy", "bucket(16,key)")
      .mode("overwrite").save(dir)
    val fact = spark.read.format("graft-store").load(dir)
    // selective dim: 3 join keys survive its own filter; small enough to
    // broadcast, so the DPP subquery reuses the exchange (zero extra cost)
    val dim = spark.range(0, 100)
      .selectExpr("id * 1000 as k", "CASE WHEN id IN (1, 5, 9) THEN 'hit' ELSE 'miss' END as tag")
      .filter(col("tag") === "hit")
    val j = fact.join(dim, col("key") === col("k")).agg(
      count(lit(1)).as("n"), sum("v").as("sv"))
    val row = j.collect()(0)
    assert(row.getLong(0) === 3L)
    assert(row.getLong(1) === (1000L + 5000L + 9000L) * 7)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("runtimeSkipBy"),
      s"no runtime filter planned:\n${plan.take(3000)}")
    val (sel, total) = scanFiles(j)
    val expectBuckets = Seq(1000L, 5000L, 9000L).map(k =>
      GraftBucket.of(k, org.apache.spark.sql.types.LongType, 16)).distinct.size
    assert(sel <= expectBuckets,
      s"files=$sel/$total — runtime bucket pruning missed (expected <= $expectBuckets)")
  }

  test("runtime: join on a cluster column prunes by min/max; wide INs collapse to ranges") {
    val dir = Fixture.dir()
    // range-clustered on key: 8 files with tight disjoint key ranges
    spark.range(0, 20000).selectExpr("id as key", "id as v")
      .write.format("graft-store")
      .option("clusterBy", "key").option("clusterFiles", "8")
      .mode("overwrite").save(dir)
    val fact = spark.read.format("graft-store").load(dir)
    // >64 join keys, all in one narrow range: the runtime IN collapses to
    // a range for the stats probe and still prunes to ~1 file. The dim's
    // own filter is on a NON-key column (DPP requires a selective build
    // side, and a key-range literal would be statically inferable)
    val dim = spark.range(0, 4000).selectExpr("id as k", "id DIV 100 as g")
      .filter(col("g") === 1L).select("k")
    val j = fact.join(dim, col("key") === col("k")).agg(count(lit(1)).as("n"))
    assert(j.collect()(0).getLong(0) === 100L)
    val (sel, total) = scanFiles(j)
    assert(total >= 8 && sel <= 2, s"files=$sel/$total — cluster-range runtime pruning missed")
  }

  test("runtime: SPJ-reporting scan stays correct when runtime filters shrink the key groups") {
    val base = Fixture.dir()
    spark.range(0, 4000).selectExpr("id as key", "id as v")
      .write.format("graft-store").option("partitionBy", "bucket(8,key)")
      .mode("overwrite").save(s"$base/fact")
    // key-grouped partitioning is reported through the catalog; the dim
    // side broadcasts (not co-bucketed), so DPP can fire on the fact scan
    // while its KeyGroupedPartitioning is the planned output partitioning —
    // the filtered key set is a SUBSET of the planned one (Spark back-fills
    // missing keys with empty partitions)
    spark.conf.set("spark.sql.catalog.gprune", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gprune.base", base)
    try {
      spark.range(0, 5).selectExpr("id * 701 as k")
        .createOrReplaceTempView("prune_dim")
      val j = spark.sql(
        """SELECT count(*) AS n, sum(v) AS sv
          |FROM gprune.fact JOIN prune_dim ON key = k""".stripMargin)
      val row = j.collect()(0)
      assert(row.getLong(0) === 5L)
      assert(row.getLong(1) === (0L until 5L).map(_ * 701).sum)
    } finally {
      spark.conf.unset("spark.sql.catalog.gprune")
      spark.conf.unset("spark.sql.catalog.gprune.base")
    }
  }

  test("results identical with pruning vs a full scan (guard)") {
    val dir = Fixture.dir()
    spark.range(0, 5000).selectExpr("id as key", "id % 17 as v")
      .write.format("graft-store").option("partitionBy", "bucket(8,key)")
      .mode("overwrite").save(dir)
    val keys = Seq(3L, 999L, 4998L)
    val pruned = spark.read.format("graft-store").load(dir)
      .filter(col("key").isin(keys: _*)).collect().map(_.toSeq).sortBy(_.toString)
    // full scan + driver-side filter = ground truth
    val full = spark.read.format("graft-store").load(dir).collect()
      .filter(r => keys.contains(r.getLong(0))).map(_.toSeq).sortBy(_.toString)
    assert(pruned === full)
  }
}
