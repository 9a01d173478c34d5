package graft.sources.v2

import graft.Fixture

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Target-file-size rolling writes (`targetFileBytes` — Iceberg's
  * write.target-file-size-bytes), orphan-file cleanup
  * ([[GraftStoreOps.removeOrphans]], Iceberg's remove_orphan_files), and
  * the `tbl$partitions` metadata table. */
class GraftStoreSizingSpec extends AnyFunSuite with graft.SparkTestBase {

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("rolling: file sizes stay bounded regardless of task skew") {
    val dir = Fixture.dir()
    // one task writing ~3 MB: without rolling this is ONE file
    spark.range(0, 100000).selectExpr("id as k", "concat('v', id) as s")
      .coalesce(1)
      .write.format("graft-store").option("targetFileBytes", (64 * 1024).toString)
      .mode("overwrite").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.files.size > 10, s"expected many rolled files, got ${m.files.size}")
    val fs = fsOf(dir)
    m.files.foreach { e =>
      val len = fs.getFileStatus(new Path(dir, e.name)).getLen
      // one-row overshoot allowed: the roll check runs after the write
      assert(len <= 64 * 1024 + 1024, s"${e.name} is $len bytes")
    }
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 100000)
    assert(back.agg(sum("k")).collect()(0).getLong(0) === (0L until 100000L).sum)
  }

  test("rolling preserves partition values; the scan still groups by key") {
    val dir = Fixture.dir()
    spark.range(0, 40000).selectExpr("id % 2 as g", "id as v", "concat('x', id) as s")
      .repartition(col("g"))
      .write.format("graft-store")
      .option("partitionBy", "g")
      .option("targetFileBytes", (64 * 1024).toString)
      .mode("overwrite").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    // several files per value, every one carrying its partVal
    assert(m.files.size > 4)
    assert(m.files.forall(_.partVals.exists(_.length == 1)))
    val q = spark.read.format("graft-store").load(dir).filter(col("g") === 0L)
    assert(q.count() === 20000)
    // identity pruning still drops the other value's files
    val plan = q.queryExecution.executedPlan.toString
    val fm = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(fm.group(1).toInt < fm.group(2).toInt)
  }

  test("rolling composes with bloom sidecars: rolled files are indexed") {
    val dir = Fixture.dir()
    spark.range(0, 50000)
      .selectExpr("id * 2654435761 % 1000000007 as key", "concat('p', id) as s")
      .coalesce(1)
      .write.format("graft-store")
      .option("bloomCols", "key")
      .option("targetFileBytes", (128 * 1024).toString)
      .mode("overwrite").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.files.size > 3 && m.blooms.nonEmpty)
    val key = 123L * 2654435761L % 1000000007L
    val q = spark.read.format("graft-store").load(dir).filter(col("key") === key)
    assert(q.count() === 1)
    val fm = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString).get
    assert(fm.group(1).toInt < fm.group(2).toInt,
      s"files=${fm.group(1)}/${fm.group(2)} — rolled files not bloom-pruned")
  }

  test("removeOrphans reclaims debris, keeps every referenced file, drops no history") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id as k", "id * 2 as v")
      .repartition(2)
      .write.format("graft-store").mode("overwrite").save(dir) // snap 0
    spark.range(1000, 1500).selectExpr("id as k", "id * 2 as v")
      .coalesce(1)
      .write.format("graft-store").mode("append").save(dir) // snap 1
    val fs = fsOf(dir)
    // fabricate crash debris: a live-named data file no manifest lists,
    // an unreferenced bloom sidecar, an abandoned write scratch dir
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dir, m.files.head.name),
      fs, new Path(dir, "part-deadbeef-0-0.gsf"), false,
      spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(dir, "bloom-deadbeef-0-0.gsb"), true).close()
    fs.mkdirs(new Path(dir, "_tmp/deadwrite"))
    fs.create(new Path(dir, "_tmp/deadwrite/part-x.gsf"), true).close()
    Thread.sleep(50)
    val (removed, dirs) = GraftStoreOps.removeOrphans(spark, dir, olderThanMillis = 1)
    assert(removed === 2, s"expected the 2 fabricated orphans, removed $removed")
    assert(dirs === 1)
    assert(!fs.exists(new Path(dir, "part-deadbeef-0-0.gsf")))
    assert(!fs.exists(new Path(dir, "_tmp/deadwrite")))
    // nothing referenced was touched: both snapshots still read exactly
    assert(spark.read.format("graft-store").load(dir).count() === 1500)
    assert(spark.read.format("graft-store").option("snapshot", "0")
      .load(dir).count() === 1000)
  }

  test("removeOrphans grace period protects young files (in-flight commits)") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id as k", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    fs.create(new Path(dir, "part-young-0-0.gsf"), true).close()
    val (removed, _) = GraftStoreOps.removeOrphans(spark, dir,
      olderThanMillis = 60 * 60 * 1000L)
    assert(removed === 0, "a file inside the grace window must survive")
    assert(fs.exists(new Path(dir, "part-young-0-0.gsf")))
  }

  test("tbl$partitions reports per-partition file and row counts from the manifest") {
    val base = Fixture.dir()
    spark.range(0, 6000).selectExpr("id as k", "id as v")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("overwrite").save(s"$base/t")
    spark.conf.set("spark.sql.catalog.gparts", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gparts.base", base)
    try {
      val rows = spark.sql(
        "SELECT partition, n_files, n_rows FROM gparts.`t$partitions` ORDER BY partition")
        .collect()
      assert(rows.length >= 2 && rows.length <= 4) // one row per occupied bucket
      assert(rows.map(_.getLong(2)).sum === 6000L)
      val m = GraftStoreFormat.readLatestManifest(
        s"$base/t", spark.sparkContext.hadoopConfiguration).get
      assert(rows.map(_.getLong(1)).sum === m.files.size.toLong)
    } finally {
      spark.conf.unset("spark.sql.catalog.gparts")
      spark.conf.unset("spark.sql.catalog.gparts.base")
    }
  }
}
