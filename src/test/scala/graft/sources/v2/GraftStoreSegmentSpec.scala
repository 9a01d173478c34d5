package graft.sources.v2

import graft.Fixture

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SEGMENTED MANIFESTS (v12, Iceberg's manifest-file layer): above the
  * file-count threshold, per-file lines live in content-addressed
  * `_seg-` chunk files with content-defined boundaries. Commits reuse
  * every chunk their churn did not touch — commit metadata becomes
  * O(churn), not O(table files) — and expiry collects unreferenced
  * segments. */
class GraftStoreSegmentSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def segRefs(dir: String): Seq[String] = {
    val ms = GraftStoreFormat.listManifests(dir, conf)
    GraftStoreFormat.manifestSegmentRefs(dir, conf, ms.last)
  }

  private def segFilesOnDisk(dir: String): Set[String] = {
    val f = new Path(dir).getFileSystem(conf)
    f.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("_seg-")).toSet
  }

  test("a wide table's manifest segments; reads are exact") {
    val dir = Fixture.dir()
    spark.range(0, 2000).repartition(200).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val m = GraftStoreFormat.readLatestManifest(dir, conf).get
    assert(m.files.size === 200)
    assert(segRefs(dir).nonEmpty, "200 files must segment")
    val got = spark.read.format("graft-store").load(dir)
    assert(got.count() === 2000)
    assert(got.agg(sum("v")).collect()(0).getLong(0) === (0L until 2000L).map(_ * 2).sum)
  }

  test("an append reuses almost every segment (commit metadata = O(churn))") {
    val dir = Fixture.dir()
    spark.range(0, 2000).repartition(200).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val before = segRefs(dir).toSet
    spark.range(2000, 2010).coalesce(1).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("append").save(dir)
    val after = segRefs(dir).toSet
    val reused = (before intersect after).size
    assert(reused >= before.size - 1,
      s"append must reuse all chunks except the tail (reused $reused of ${before.size})")
    assert(after.size >= before.size, "the appended entries land in chunks too")
    // and the data is exact across the segmented history
    assert(spark.read.format("graft-store").load(dir).count() === 2010)
    assert(spark.read.format("graft-store").option("snapshot", 0).load(dir)
      .count() === 2000)
  }

  test("a selective COW delete re-chunks only the touched neighborhood") {
    val dir = Fixture.dir()
    spark.range(0, 2000).repartitionByRange(200, col("id"))
      .selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val before = segRefs(dir).toSet
    GraftStoreOps.deleteWhere(spark, dir, col("id") === 1000)
    val after = segRefs(dir).toSet
    val dropped = (before diff after).size
    assert(dropped <= 3,
      s"a one-file rewrite must invalidate at most a few chunks, dropped $dropped")
    assert(spark.read.format("graft-store").load(dir).count() === 1999)
  }

  test("expiry collects segments no retained manifest references") {
    val dir = Fixture.dir()
    spark.range(0, 1000).repartition(100).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(dir)
    // churn: several overwrites leave dead segment generations behind
    (1 to 3).foreach(i =>
      spark.range(0, 1000).repartition(100).selectExpr(s"id + $i as id")
        .write.format("graft-store").mode("overwrite").save(dir))
    val allSegs = segFilesOnDisk(dir)
    GraftStoreOps.expireSnapshots(spark, dir, keepLast = 1)
    val keptSegs = segFilesOnDisk(dir)
    assert(keptSegs.size < allSegs.size,
      s"expiry must collect dead segments (${allSegs.size} -> ${keptSegs.size})")
    assert(segRefs(dir).toSet.subsetOf(keptSegs),
      "every segment the head references must survive")
    assert(spark.read.format("graft-store").load(dir).count() === 1000)
  }

  test("tbl$segments metadata table exposes the chunk map") {
    val dir0 = Fixture.dir()
    val base = new java.io.File(dir0).getParent
    val name = new java.io.File(dir0).getName
    spark.conf.set("spark.sql.catalog.segcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.segcat.base", base)
    spark.range(0, 1000).repartition(100).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(dir0)
    val rows = spark.sql(
      s"SELECT segment, n_entries FROM segcat.`$name$$segments`").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum === 100,
      "chunk entry counts must sum to the file count")
    assert(rows.forall(_.getString(0).startsWith("_seg-")))
  }

  test("expireOlderThan keeps everything at-or-after the cut, at least the head") {
    val dir = Fixture.dir()
    spark.range(0, 10).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(dir)
    spark.range(10, 20).selectExpr("id")
      .write.format("graft-store").mode("append").save(dir)
    val cut = System.currentTimeMillis() + 1
    Thread.sleep(5)
    spark.range(20, 30).selectExpr("id")
      .write.format("graft-store").mode("append").save(dir)
    val (dropped, _) = GraftStoreOps.expireOlderThan(spark, dir, cut)
    assert(dropped === 2, s"both pre-cut snapshots should drop, dropped=$dropped")
    assert(spark.read.format("graft-store").load(dir).count() === 30)
    // a cut in the future still keeps the head
    val (dropped2, _) = GraftStoreOps.expireOlderThan(
      spark, dir, System.currentTimeMillis() + 60000)
    assert(dropped2 === 0)
    assert(spark.read.format("graft-store").load(dir).count() === 30)
  }

  test("small tables stay inline (no segments)") {
    val dir = Fixture.dir()
    spark.range(0, 100).repartition(4).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(dir)
    assert(segRefs(dir).isEmpty)
    assert(segFilesOnDisk(dir).isEmpty)
    assert(spark.read.format("graft-store").load(dir).count() === 100)
  }

  test("DML, masks, and evolution work unchanged over a segmented manifest") {
    val dir = Fixture.dir()
    spark.range(0, 2000).repartitionByRange(100, col("id"))
      .selectExpr("id", "id * 2 as v")
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 50)
    GraftStoreOps.upsertMor(spark, dir,
      Seq((100L, 777L)).toDF("id", "v"), Seq("id"))
    val t = spark.read.format("graft-store").load(dir)
    assert(t.count() === 1950)
    assert(t.filter(col("id") === 100).select("v").collect()(0).getLong(0) === 777L)
  }
}
