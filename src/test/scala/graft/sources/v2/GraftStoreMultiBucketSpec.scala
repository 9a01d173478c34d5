package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Multi-column bucket transform `bucket(n, a, b)` (Hive-bucketing style):
  * one file per murmur3 bucket of the column TUPLE. Probe result
  * (documented, Spark 4.1): the transform RESOLVES through the function
  * catalog (our multi-arg bind), but Spark's storage-partitioned-join
  * machinery only extracts single-reference bucket transforms, so the
  * scan's KeyGroupedPartitioning never satisfies a clustered distribution
  * — no SPJ for multi-ref buckets. The write/prune/routing side ships
  * anyway: bounded file counts for composite keys, deterministic
  * co-location across tables, explicit partition values. Runtime pruning
  * DOES work for composite keys: DPP plants one subquery per join key
  * (independent single-column INs, not a struct-IN), and the cartesian
  * tuple-bucket pruner consumes them — see
  * GraftStoreMultiAttrRuntimeSpec. */
class GraftStoreMultiBucketSpec extends AnyFunSuite with graft.SparkTestBase {

  test("parse/render: multi-column bucket specs, composites, malformed rejected") {
    assert(GraftLayout.parse("bucket(4,a,b)").specs ===
      Seq(BucketSpec(4, Seq("a", "b"))))
    assert(GraftLayout.parse("bucket(4, a , b )").render === "bucket(4,a,b)")
    assert(GraftLayout.parse("d,bucket(8,a,b)").specs ===
      Seq(IdentitySpec("d"), BucketSpec(8, Seq("a", "b"))))
    // single-column form unchanged (manifest byte-compat with old tables)
    assert(GraftLayout.parse("bucket(8,k)").render === "bucket(8,k)")
    intercept[IllegalArgumentException](GraftLayout.parse("bucket(8)"))
    intercept[IllegalArgumentException](GraftLayout.parse("bucket(x,a)"))
    // a column merely named bucket_tier stays a legitimate identity column
    assert(GraftLayout.parse("bucket_tier").specs === Seq(IdentitySpec("bucket_tier")))
  }

  test("multi-bucket write: bounded files, valid ids, complete read-back") {
    val dir = Fixture.dir()
    spark.range(0, 5000)
      .selectExpr("id % 97 as a", "concat('p', id % 53) as b", "id as v")
      .repartition(4)
      .write.format("graft-store").option("partitionBy", "bucket(8,a,b)")
      .mode("overwrite").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.partitionCol === Some("bucket(8,a,b)"))
    val ids = m.files.map(_.partVals.get.head.get.toInt)
    assert(ids.forall(b => b >= 0 && b < 8))
    assert(ids.distinct.size <= 8)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() === 5000)
    assert(back.agg(sum("v")).collect()(0).getLong(0) === (0L until 5000L).sum)
  }

  test("equal tuples co-locate identically across independently written tables") {
    val da = Fixture.dir()
    val db = Fixture.dir()
    val rows = spark.range(0, 2000)
      .selectExpr("id % 40 as a", "concat('u', id % 31) as b", "id as v")
    rows.write.format("graft-store")
      .option("partitionBy", "bucket(8,a,b)").mode("overwrite").save(da)
    rows.selectExpr("a", "b", "v + 1 as v").repartition(7) // different write shape
      .write.format("graft-store")
      .option("partitionBy", "bucket(8,a,b)").mode("overwrite").save(db)
    // tag every row with its file's bucket id via per-bucket subset reads
    def tagged(dir: String) = {
      val m = GraftStoreFormat.readLatestManifest(
        dir, spark.sparkContext.hadoopConfiguration).get
      m.files.groupBy(_.partVals.get.head.get.toInt).toSeq.map { case (id, fs) =>
        spark.read.format("graft-store")
          .option("files", fs.map(_.name).mkString(",")).load(dir)
          .select(col("a"), col("b"), lit(id).as("bucket_id"))
      }.reduce(_ unionByName _).distinct()
    }
    val mism = tagged(da).as("x").join(tagged(db).as("y"), Seq("a", "b"))
      .filter(col("x.bucket_id") =!= col("y.bucket_id")).count()
    assert(mism === 0, "same (a,b) tuple must land in the same bucket everywhere")
  }

  test("bound multi-arg function agrees with the write router, nulls included") {
    val f = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType),
      StructField("a", LongType), StructField("b", StringType))))
    assert(f.isInstanceOf[GraftBoundMultiBucket])
    val g = f.asInstanceOf[GraftBoundMultiBucket]
    val s = UTF8String.fromString("xyz")
    assert(g.produceResult(org.apache.spark.sql.catalyst.InternalRow(8, 42L, s))
      === GraftBucket.ofTuple(Seq(Some((42L, LongType)), Some((s, StringType))), 8))
    // null element: sentinel hash, still a valid bucket — function and
    // router must agree here too
    assert(g.produceResult(org.apache.spark.sql.catalyst.InternalRow(8, 42L, null))
      === GraftBucket.ofTuple(Seq(Some((42L, LongType)), None), 8))
    // int keys widen: bucket(n, int, s) == bucket(n, bigint, s) on equal keys
    assert(GraftBucket.ofTuple(Seq(Some((7, IntegerType)), Some((s, StringType))), 16)
      === GraftBucket.ofTuple(Seq(Some((7L, LongType)), Some((s, StringType))), 16))
    // order matters by construction
    assert(GraftBucket.ofTuple(Seq(Some((1L, LongType)), Some((2L, LongType))), 1024)
      !== GraftBucket.ofTuple(Seq(Some((2L, LongType)), Some((1L, LongType))), 1024))
  }

  test("rows with null tuple elements write and read back completely") {
    val dir = Fixture.dir()
    spark.range(0, 100)
      .selectExpr("CASE WHEN id % 10 = 0 THEN NULL ELSE id % 7 END as a",
        "concat('q', id % 5) as b", "id as v")
      .write.format("graft-store").option("partitionBy", "bucket(4,a,b)")
      .mode("overwrite").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    // no null partition for multi-buckets: every file claims a real id
    assert(m.files.forall(_.partVals.get.head.isDefined))
    assert(spark.read.format("graft-store").load(dir).count() === 100)
  }

  test("append keeps the multi-bucket layout; a different layout is rejected") {
    val dir = Fixture.dir()
    val rows = spark.range(0, 200).selectExpr("id % 9 as a", "id % 4 as b", "id as v")
    rows.write.format("graft-store")
      .option("partitionBy", "bucket(4,a,b)").mode("overwrite").save(dir)
    rows.write.format("graft-store")
      .option("partitionBy", "bucket(4, a, b)") // whitespace normalizes
      .mode("append").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 400)
    val err = intercept[Exception] {
      rows.write.format("graft-store")
        .option("partitionBy", "bucket(4,b,a)").mode("append").save(dir)
    }
    assert(err.getMessage.contains("partition"))
  }

  test("probe record: multi-ref transform resolves but Spark plans no SPJ") {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.mbprobe", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mbprobe.base", base)
    val df = spark.range(0, 1000).selectExpr("id % 20 as a", "id % 13 as b", "id as v")
    df.write.format("graft-store").option("partitionBy", "bucket(8,a,b)")
      .mode("overwrite").save(s"$base/t")
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val q = spark.sql("SELECT a, b, sum(v) s FROM mbprobe.t GROUP BY a, b")
      q.localCheckpoint(true)
      // the transform RESOLVED (else keyGroupedPartitioning would be None)
      val kgp = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.keyGroupedPartitioning
      }.flatten.flatten
      assert(kgp.nonEmpty, "multi-arg bucket must resolve through the function catalog")
      // ...but Spark 4.1 SPJ does not consume multi-ref buckets: the
      // aggregate re-shuffles. If a Spark upgrade makes this 0, SPJ
      // arrived — celebrate and flip this assertion.
      val exchanges = q.queryExecution.executedPlan.toString
        .split("\n").count(_.contains("Exchange"))
      assert(exchanges > 0,
        "Spark now plans SPJ over multi-ref buckets — update the docs and this test")
    } finally prev.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
      v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
  }
}
