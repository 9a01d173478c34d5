package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Range-clustered graft-store writes (`clusterBy`): the sink demands an
  * ordered distribution + sort via DSv2 RequiresDistributionAndOrdering, so
  * files hold disjoint sorted key ranges and the manifest's min/max stats —
  * now including STRING stats — prune equality/range/IN predicates on the
  * cluster column to the few files that hold them. */
class GraftStoreClusterSpec extends AnyFunSuite with graft.SparkTestBase {

  // cluster-key values that exercise every structural byte of the stats
  // wire format (`:` `|` tab newline `%`) — they must round-trip the
  // manifest AND still prune
  private val cats = Seq(
    "ap:ple", "ban|ana", "cherry\tred", "date%20",
    "elder\nberry", "fig", "grape", "kiwi")

  test("stat serialization round-trips structural bytes exactly") {
    val stats = Map(
      0 -> ("a:b|c\td", "x%y\nz\r!"),
      1 -> ("", "plain"),
      2 -> ("-12.5", "99"))
    val wire = GraftStoreFormat.statsToString(stats)
    assert(!wire.contains('\t') && !wire.contains('\n') && !wire.contains('\r'),
      s"structural bytes leaked into the wire form: $wire")
    assert(GraftStoreFormat.statsFromString(wire) === stats)
    // pre-string manifests (plain numeric stats) decode unchanged
    assert(GraftStoreFormat.statsFromString("0:1:42|3:-2.5:7.25")
      === Map(0 -> ("1", "42"), 3 -> ("-2.5", "7.25")))
  }

  test("clusterBy: disjoint file ranges, string-stat pruning, exact results") {
    import spark.implicits._
    val dir = Fixture.dir()
    (0 until 800).map(i => (i.toLong, cats(i % 8))).toDF("id", "cat")
      .write.format("graft-store")
      .option("clusterBy", "cat").option("clusterFiles", "4")
      .mode("overwrite").save(dir)
    val all = spark.read.format("graft-store").load(dir)
    assert(all.rdd.getNumPartitions === 4, "clusterFiles must pin the file count")
    assert(all.count() === 800)

    // equality on a cluster value prunes to fewer files, exact rows survive
    val one = all.filter(col("cat") === "fig")
    assert(one.rdd.getNumPartitions < 4,
      s"expected pruning, planned ${one.rdd.getNumPartitions} of 4")
    assert(one.count() === 100)

    // a value carrying manifest-structural bytes prunes just the same
    val evil = all.filter(col("cat") === "ban|ana")
    assert(evil.rdd.getNumPartitions < 4)
    assert(evil.count() === 100)
    val tabbed = all.filter(col("cat") === "cherry\tred")
    assert(tabbed.count() === 100)

    // range predicate on the cluster key: only top-of-range files survive
    val top = all.filter(col("cat") >= "kiwi")
    assert(top.rdd.getNumPartitions < 4)
    assert(top.count() === 100)

    // nothing-matches prunes every file at plan time
    val none = all.filter(col("cat") === "zzz")
    assert(none.rdd.getNumPartitions === 0)
    assert(none.count() === 0)
  }

  test("empty partitions are dropped at the commit point") {
    import spark.implicits._
    val dir = Fixture.dir()
    // hash-repartition on a constant: 1 of 8 partitions holds every row
    spark.range(0, 10).toDF("id").repartition(8, lit(0))
      .write.format("graft-store").mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.rdd.getNumPartitions === 1, "7 empty task files must not be committed")
    assert(back.count() === 10)
  }

  test("non-ASCII cluster keys: binary-order stats stay consistent with scans") {
    import spark.implicits._
    val dir = Fixture.dir()
    val words = Seq("zebra", "Ångström", "éclair", "愛", "apple")
    (0 until 100).map(i => (i.toLong, words(i % 5))).toDF("id", "w")
      .write.format("graft-store")
      .option("clusterBy", "w").option("clusterFiles", "3")
      .mode("overwrite").save(dir)
    val all = spark.read.format("graft-store").load(dir)
    // every value still fully readable — UTF8 binary min/max must never
    // exclude a file that holds matching rows
    words.foreach { w =>
      assert(all.filter(col("w") === w).count() === 20, s"lost rows for $w")
    }
  }

  /** Per-file [min,max] ranges of a long column must be pairwise disjoint —
    * the property range clustering exists for, and what maintenance ops
    * must PRESERVE. */
  private def disjointLongRanges(dir: String, fieldIdx: Int): Boolean = {
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    val ranges = m.files.flatMap(_.stats.get(fieldIdx))
      .map { case (mn, mx) => (mn.toLong, mx.toLong) }.sortBy(_._1)
    ranges.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax < bMin
      case _ => true
    }
  }

  test("declared clustering survives compaction (OPTIMIZE repairs layout)") {
    val dir = Fixture.dir()
    val df = spark.range(0, 1000).selectExpr("id", "id * 3 as v")
    df.filter(col("id") < 500).write.format("graft-store")
      .option("clusterBy", "id").option("clusterFiles", "4")
      .mode("overwrite").save(dir)
    // an UNCLUSTERED append: its files overlap the clustered ones...
    df.filter(col("id") >= 500).write.format("graft-store")
      .mode("append").save(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(GraftStoreFormat.readLatestManifest(dir, conf).get.clusterCols
      === Some("id"), "append must keep the declared clustering")
    // ...and compaction folds everything back into disjoint sorted ranges
    GraftStoreOps.compactSnapshot(spark, dir, targetBytes = 4L << 10)
    val after = GraftStoreFormat.readLatestManifest(dir, conf).get
    assert(after.clusterCols === Some("id"))
    assert(after.files.size > 1, "need >1 file to prove disjointness")
    assert(disjointLongRanges(dir, 0), "compacted files must be range-disjoint")
    assert(spark.read.format("graft-store").load(dir).count() === 1000)
  }

  test("COW delete keeps the clustered layout range-disjoint") {
    val dir = Fixture.dir()
    spark.range(0, 1000).selectExpr("id", "id * 7 as v")
      .write.format("graft-store")
      .option("clusterBy", "id").option("clusterFiles", "5")
      .mode("overwrite").save(dir)
    val (rewritten, carried) =
      GraftStoreOps.deleteWhere(spark, dir, col("id") >= 100 && col("id") < 150)
    assert(rewritten >= 1 && carried >= 1, "delete should be stats-pruned")
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.clusterCols === Some("id"), "COW rewrite must keep the declaration")
    assert(disjointLongRanges(dir, 0), "rewritten files must stay range-disjoint")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 950)
    // pruning still works post-delete: a point read plans few files
    assert(back.filter(col("id") === 900).rdd.getNumPartitions === 1)
  }

  test("streaming append carries the partition header; compaction restores SPJ") {
    import spark.implicits._
    val src = Fixture.dir()
    val dir = Fixture.dir()
    val ckpt = Fixture.dir()
    val seed = Fixture.dir() + "/seed"
    // seed through parquet so batch and stream agree on (nullable) schema
    spark.range(0, 40).selectExpr("id", "cast(id % 4 as int) as k")
      .write.parquet(seed)
    spark.read.parquet(seed)
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    assert(spark.read.format("graft-store").load(dir).rdd.getNumPartitions === 4)
    Seq((100L, 0), (101L, 1), (102L, 2)).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(src)
    val q = spark.readStream.schema("id BIGINT, k INT").parquet(src)
      .writeStream.format("graft-store")
      .option("checkpointLocation", ckpt)
      .start(dir)
    try q.processAllAvailable() finally q.stop()
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(dir, conf).get
    assert(m.partitionCol === Some("k"),
      "streaming append must not strip the partition header")
    // streamed files can't prove per-file keys -> conservative degrade,
    // but every row stays readable
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 43)
    // ...and compaction re-routes everything into one file per key value
    GraftStoreOps.compactSnapshot(spark, dir, targetBytes = 1L << 30)
    val fixed = spark.read.format("graft-store").load(dir)
    assert(fixed.rdd.getNumPartitions === 4, "SPJ grouping restored")
    assert(fixed.count() === 43)
  }

  test("resortOverlapping rewrites only the overlapping slice; idempotent") {
    val dir = Fixture.dir()
    spark.range(0, 4000).selectExpr("id", "id * 2 as v")
      .write.format("graft-store")
      .option("clusterBy", "id").option("clusterFiles", "4")
      .mode("overwrite").save(dir)
    val disjoint = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get.files.map(_.name).toSet
    assert(disjoint.size === 4)
    // an UNCLUSTERED append overlapping only the low half of the key space
    spark.range(0, 2000).selectExpr("id", "id * 2 as v").coalesce(1)
      .write.format("graft-store").mode("append").save(dir)
    val (rewritten, carried) = GraftStoreOps.resortOverlapping(spark, dir)
    // the append overlaps the low-range files (sampled range boundaries
    // make it 2-or-3 of the 4); the disjoint high files carry untouched
    assert(rewritten >= 3 && rewritten <= 4 && rewritten + carried === 5,
      s"overlapping slice only, got ($rewritten, $carried)")
    assert(carried >= 1)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    val highOriginals = m.files.map(_.name).toSet.intersect(disjoint)
    assert(highOriginals.size === carried,
      "disjoint files keep their original names")
    // restored: ranges disjoint again -> a point lookup reads ONE file
    val one = spark.read.format("graft-store").load(dir).filter(col("id") === 100L)
    assert(one.rdd.getNumPartitions === 1, "range pruning restored")
    assert(one.count() === 2, "original + appended duplicate")
    assert(spark.read.format("graft-store").load(dir).count() === 6000)
    // second call finds nothing overlapping
    assert(GraftStoreOps.resortOverlapping(spark, dir)._1 === 0)
  }

  test("reported ordering elides per-partition sorts; unsorted appends clear it") {
    val dir = Fixture.dir()
    spark.range(0, 4000).selectExpr("id", "id * 2 as v")
      .write.format("graft-store")
      .option("clusterBy", "id").option("clusterFiles", "4")
      .mode("overwrite").save(dir)
    def hasSort(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("Sort ")
    val t = spark.read.format("graft-store").load(dir)
    // files are sorted on id and the scan says so: no SortExec planned
    val local = t.sortWithinPartitions("id")
    assert(!hasSort(local), local.queryExecution.executedPlan.toString)
    assert(local.collect().length === 4000)
    // an UNSORTED append must clear the guarantee (silent wrong order
    // from a stale claim would corrupt downstream sort-dependent ops);
    // its range overlaps the low files so resort below has work to do
    spark.range(100, 200).selectExpr("id", "id * 2 as v").coalesce(1)
      .write.format("graft-store").mode("append").save(dir)
    val t2 = spark.read.format("graft-store").load(dir)
    assert(hasSort(t2.sortWithinPartitions("id")),
      "a plain append is unsorted; the sort must be planned again")
    // resort restores the flag along with the ranges
    GraftStoreOps.resortOverlapping(spark, dir)
    val t3 = spark.read.format("graft-store").load(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.files.forall(_.sorted), "resort rewrites through the clustered writer")
    assert(!hasSort(t3.sortWithinPartitions("id")))
  }

  test("resortOverlapping refuses an uncluster-declared table") {
    val dir = Fixture.dir()
    spark.range(0, 10).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(dir)
    val e = intercept[IllegalArgumentException] {
      GraftStoreOps.resortOverlapping(spark, dir)
    }
    assert(e.getMessage.contains("clusterBy"))
  }
}
