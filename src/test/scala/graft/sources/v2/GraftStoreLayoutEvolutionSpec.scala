package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition-spec EVOLUTION ([[GraftStoreOps.evolvePartitionSpec]],
  * Iceberg spec-versioning): re-key a table's layout as one metadata-only
  * commit; files remember the spec they were written under; reads stay
  * correct across mixed specs and SPJ capability returns via compaction. */
class GraftStoreLayoutEvolutionSpec extends AnyFunSuite with graft.SparkTestBase {

  private def manifest(dir: String) = GraftStoreFormat.readLatestManifest(
    dir, spark.sparkContext.hadoopConfiguration).get

  test("evolution is metadata-only: same files, stamped spec ids, new history") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id % 10 as k")
      .repartition(3)
      .write.format("graft-store").mode("overwrite").save(dir) // snap 0, unpartitioned
    val before = manifest(dir)
    val newId = GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,k)"))
    assert(newId === 1)
    val after = manifest(dir)
    assert(after.files.map(_.name).toSet === before.files.map(_.name).toSet,
      "evolution must rewrite zero data files")
    assert(after.files.forall(_.specId.contains(0)), "old files stamped spec 0")
    assert(after.partitionCol === Some("bucket(4,k)"))
    assert(after.partitionSpecs === Some(Seq("", "bucket(4,k)")))
    assert(GraftStoreOps.snapshotCount(spark, dir) === 2)
  }

  test("appends route under the new spec; reads stay correct across the mix") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id % 10 as k")
      .write.format("graft-store").mode("overwrite").save(dir)
    GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,k)"))
    spark.range(100, 200).selectExpr("id", "id % 10 as k")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("append").save(dir)
    val m = manifest(dir)
    val (oldF, newF) = m.files.partition(_.specId.contains(0))
    assert(oldF.nonEmpty && newF.nonEmpty)
    assert(newF.forall(_.specId.contains(1)))
    assert(newF.forall(e => e.partVals.exists(v =>
      v.head.exists(b => b.toInt >= 0 && b.toInt < 4))),
      "post-evolution files carry bucket partition values")
    assert(oldF.forall(_.partVals.isEmpty), "pre-evolution files keep their shape")
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 200)
    assert(back.agg(sum("id")).collect()(0).getLong(0) === (0L until 200L).sum)
  }

  test("mixed specs degrade grouping; compaction restores it and resets history") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id % 8 as k")
      .repartition(2)
      .write.format("graft-store").mode("overwrite").save(dir)
    GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,k)"))
    spark.range(100, 200).selectExpr("id", "id % 8 as k")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("append").save(dir)
    // mixed-spec scan: one input partition per FILE (no keyed grouping)
    val mixed = spark.read.format("graft-store").load(dir)
    assert(mixed.rdd.getNumPartitions === manifest(dir).files.size,
      "mixed-spec scans must degrade to per-file partitions")
    // compaction rewrites everything under the current spec
    GraftStoreOps.compactSnapshot(spark, dir, targetBytes = 1 << 20)
    val m = manifest(dir)
    assert(m.partitionCol === Some("bucket(4,k)"))
    assert(m.partitionSpecs.isEmpty, "overwrite resets the spec history")
    val back = spark.read.format("graft-store").load(dir)
    val buckets = m.files.flatMap(_.partVals.map(_.head.get.toInt)).distinct
    assert(back.rdd.getNumPartitions === buckets.size,
      "keyed grouping (one partition per bucket) must return after compaction")
    assert(back.count() === 200)
  }

  test("appends declaring a stale layout are rejected after evolution") {
    val dir = Fixture.dir()
    spark.range(0, 50).selectExpr("id", "id % 5 as k")
      .write.format("graft-store").option("partitionBy", "bucket(8,k)")
      .mode("overwrite").save(dir)
    GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,k)"))
    val err = intercept[Exception] {
      spark.range(50, 60).selectExpr("id", "id % 5 as k")
        .write.format("graft-store").option("partitionBy", "bucket(8,k)")
        .mode("append").save(dir)
    }
    assert(err.getMessage.contains("partition"))
    // no-op evolution (same spec) is rejected too
    intercept[IllegalArgumentException] {
      GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4, k)"))
    }
  }

  test("evolving to a spec the schema cannot satisfy fails fast, commits nothing") {
    val dir = Fixture.dir()
    spark.range(0, 20).selectExpr("id", "id % 3 as k", "cast(id as double) as d")
      .write.format("graft-store").mode("overwrite").save(dir)
    val before = GraftStoreOps.snapshotCount(spark, dir)
    // unknown column: committing it would brick every future append
    val e1 = intercept[IllegalArgumentException] {
      GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,kk)"))
    }
    assert(e1.getMessage.contains("not a table column"))
    // bucket on an unsupported type
    val e2 = intercept[IllegalArgumentException] {
      GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,d)"))
    }
    assert(e2.getMessage.contains("unsupported"))
    // trailing comma is a malformed spec, not a silent single-column bucket
    intercept[IllegalArgumentException] {
      GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,k,)"))
    }
    assert(GraftStoreOps.snapshotCount(spark, dir) === before,
      "rejected evolutions must not commit")
  }

  test("repeated evolutions chain; first stamping wins for old files") {
    val dir = Fixture.dir()
    spark.range(0, 60).selectExpr("id", "id % 6 as k", "id % 3 as grp")
      .write.format("graft-store").mode("overwrite").save(dir) // spec 0: none
    GraftStoreOps.evolvePartitionSpec(spark, dir, Some("grp")) // spec 1
    spark.range(60, 120).selectExpr("id", "id % 6 as k", "id % 3 as grp")
      .write.format("graft-store").option("partitionBy", "grp")
      .mode("append").save(dir)
    val id2 = GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,k)")) // spec 2
    assert(id2 === 2)
    val m = manifest(dir)
    assert(m.partitionSpecs === Some(Seq("", "grp", "bucket(4,k)")))
    assert(m.files.exists(_.specId.contains(0)) && m.files.exists(_.specId.contains(1)))
    spark.range(120, 180).selectExpr("id", "id % 6 as k", "id % 3 as grp")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("append").save(dir)
    assert(manifest(dir).files.exists(_.specId.contains(2)))
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 180)
    assert(back.filter(col("grp") === 1).count() === 60)
  }

  test("COW delete on an evolved table stamps rewrites, carries old-spec files") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id % 10 as k")
      .repartitionByRange(4, col("id"))
      .write.format("graft-store").mode("overwrite").save(dir)
    GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,k)"))
    GraftStoreOps.deleteWhere(spark, dir, col("id") < 10L) // rewrites 1 of 4 files
    val m = manifest(dir)
    assert(m.partitionSpecs.isDefined)
    assert(m.files.forall(_.specId.isDefined),
      "specs defined => every file stamped (invariant)")
    assert(m.files.exists(_.specId.contains(1)), "rewritten files stamp the current spec")
    assert(m.files.exists(_.specId.contains(0)), "carried files keep their original spec")
    assert(spark.read.format("graft-store").load(dir).count() === 90)
  }

  test("rewriteOldSpecFiles re-layouts ONLY old-spec files, keeps history") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id % 8 as k")
      .repartition(2)
      .write.format("graft-store").mode("overwrite").save(dir)
    GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(4,k)"))
    spark.range(100, 200).selectExpr("id", "id % 8 as k")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("append").save(dir)
    val preNames = manifest(dir).files.filter(_.specId.contains(1)).map(_.name).toSet
    val (rewritten, carried) = GraftStoreOps.rewriteOldSpecFiles(spark, dir)
    assert(rewritten === 2 && carried === preNames.size,
      "only the two pre-evolution files rewrite; current-spec files carry")
    val m = manifest(dir)
    assert(m.partitionSpecs === Some(Seq("", "bucket(4,k)")),
      "spec history survives the re-layout (unlike compaction's overwrite)")
    assert(m.files.forall(_.specId.contains(1)), "every file now current")
    assert(preNames.subsetOf(m.files.map(_.name).toSet), "carried files untouched")
    // SPJ grouping returns: one input partition per bucket
    val back = spark.read.format("graft-store").load(dir)
    val buckets = m.files.flatMap(_.partVals.map(_.head.get.toInt)).distinct
    assert(back.rdd.getNumPartitions === buckets.size)
    assert(back.count() === 200)
    assert(back.agg(sum("id")).collect()(0).getLong(0) === (0L until 200L).sum)
    // idempotent: nothing left to rewrite
    assert(GraftStoreOps.rewriteOldSpecFiles(spark, dir)._1 === 0)
  }

  test("time travel to a pre-evolution snapshot reads the old layout intact") {
    val dir = Fixture.dir()
    spark.range(0, 90).selectExpr("id", "cast(id % 3 as int) as grp")
      .write.format("graft-store").option("partitionBy", "grp")
      .mode("overwrite").save(dir) // snap 0: identity(grp)
    GraftStoreOps.evolvePartitionSpec(spark, dir, None) // snap 1: unpartitioned
    spark.range(90, 120).selectExpr("id", "cast(id % 3 as int) as grp")
      .write.format("graft-store").mode("append").save(dir) // snap 2
    assert(spark.read.format("graft-store").load(dir).count() === 120)
    val old = spark.read.format("graft-store").option("snapshot", 0).load(dir)
    assert(old.count() === 90)
    assert(old.rdd.getNumPartitions === 3,
      "the pre-evolution snapshot still groups by its identity layout")
  }
}
