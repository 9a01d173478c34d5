package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Bucket-transform layout (`partitionBy=bucket(n,col)`) — the
  * HIGH-CARDINALITY storage-partitioned-join path: identity partitioning
  * caps at ~1000 values/task (one file per value), while bucketing bounds
  * file count by n for ANY key cardinality and still lets two co-bucketed
  * tables join with zero exchange, provided the read comes through
  * [[GraftCatalog]] so its FunctionCatalog resolves the bucket transform.
  * Also covers the explicit-partition-value manifests that carry bucket
  * ids (and fix null identity keys, see GraftStoreSpjSpec's sibling). */
class GraftStoreBucketSpec extends AnyFunSuite with graft.SparkTestBase {

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucket write: file count bounded by n on a high-cardinality key") {
    val dir = Fixture.dir()
    // 10k DISTINCT keys — identity partitioning would refuse (1000/task cap)
    spark.range(0, 10000).selectExpr("id", "id * 7 as key")
      .write.format("graft-store").option("partitionBy", "bucket(8,key)")
      .mode("overwrite").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.partitionCol === Some("bucket(8,key)"))
    // every file claims exactly one bucket id in [0, 8)
    val ids = m.files.map(_.partVals.get.head.get.toInt)
    assert(ids.forall(b => b >= 0 && b < 8))
    val back = spark.read.format("graft-store").load(dir)
    // distinct buckets present -> that many keyed input partitions
    assert(back.rdd.getNumPartitions === ids.distinct.size)
    assert(back.count() === 10000)
    assert(back.agg(sum("key")).collect()(0).getLong(0)
      === (0L until 10000L).map(_ * 7).sum)
  }

  test("writer-side bucket ids agree with the catalog's V2 bucket function") {
    // one shared hash: the writer routes with GraftBucket, Spark (when it
    // hashes the un-partitioned side of a join) evaluates GraftBoundBucket
    val f = GraftBucketFunction.bind(
      StructType(Seq(StructField("n", IntegerType), StructField("v", LongType))))
      .asInstanceOf[GraftBoundBucket]
    for (v <- Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue, 123456789L)) {
      val viaWriter = GraftBucket.of(v, LongType, 16)
      val viaFunction = f.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(16, v))
      assert(viaFunction === viaWriter, s"value $v")
      assert(viaWriter >= 0 && viaWriter < 16)
    }
    // int keys widen to long: bucket(n, int) == bucket(n, bigint) on equal keys
    assert(GraftBucket.of(42, IntegerType, 16) === GraftBucket.of(42L, LongType, 16))
    val g = GraftBucketFunction.bind(
      StructType(Seq(StructField("n", IntegerType), StructField("v", StringType))))
      .asInstanceOf[GraftBoundBucket]
    val s = UTF8String.fromString("abc")
    assert(g.produceResult(org.apache.spark.sql.catalyst.InternalRow(8, s))
      === GraftBucket.of(s, StringType, 8))
  }

  test("co-bucketed tables join with zero exchange through the catalog") {
    val base = Fixture.dir()
    spark.range(0, 2000)
      .selectExpr("id as ka", "id * 2 as va")
      .write.format("graft-store").option("partitionBy", "bucket(8,ka)")
      .mode("overwrite").save(s"$base/ta")
    spark.range(0, 1000)
      .selectExpr("id as kb", "id * 3 as vb")
      .write.format("graft-store").option("partitionBy", "bucket(8,kb)")
      .mode("overwrite").save(s"$base/tb")
    withConf(
      "spark.sql.catalog.gbkt" -> classOf[GraftCatalog].getName,
      "spark.sql.catalog.gbkt.base" -> base,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        """SELECT ka, va + vb AS v
          |FROM gbkt.ta JOIN gbkt.tb ON ka = kb""".stripMargin)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed SPJ should be exchange-free:\n${plan.take(3000)}")
      val rows = j.collect()
      assert(rows.length === 1000)
      assert(rows.map(_.getLong(1)).sum === (0L until 1000L).map(_ * 5).sum)
    }
  }

  test("aggregate on the bucket key after the join stays exchange-free") {
    val base = Fixture.dir()
    spark.range(0, 3000)
      .selectExpr("id % 500 as k", "id as va")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("overwrite").save(s"$base/fa")
    spark.range(0, 500)
      .selectExpr("id as k", "id * 10 as vb")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("overwrite").save(s"$base/fb")
    withConf(
      "spark.sql.catalog.gbk2" -> classOf[GraftCatalog].getName,
      "spark.sql.catalog.gbk2.base" -> base,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // grouping by the bucketed join key: the key-grouped distribution
      // satisfies the aggregate too — the whole pipeline is shuffle-free
      val g = spark.sql(
        """SELECT fa.k, count(*) AS n, sum(va + vb) AS s
          |FROM gbk2.fa JOIN gbk2.fb ON fa.k = fb.k
          |GROUP BY fa.k""".stripMargin)
      val plan = g.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"join+agg on the bucket key should be exchange-free:\n${plan.take(3000)}")
      val rows = g.collect()
      assert(rows.length === 500)
      assert(rows.forall(_.getLong(1) === 6L)) // 3000/500 rows per key in fa
    }
  }

  test("null keys bucket to a dedicated partition and never join") {
    val base = Fixture.dir()
    spark.range(0, 100)
      .selectExpr("if(id % 10 = 0, null, id) as k", "id as v")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("overwrite").save(s"$base/tn")
    val m = GraftStoreFormat.readLatestManifest(
      s"$base/tn", spark.sparkContext.hadoopConfiguration).get
    // exactly the null-key files carry the null partition value
    val nullFiles = m.files.filter(_.partVals.get.head.isEmpty)
    assert(nullFiles.nonEmpty)
    assert(nullFiles.map(_.rows).sum === 10)
    val back = spark.read.format("graft-store").load(s"$base/tn")
    assert(back.count() === 100)
    assert(back.filter(col("k").isNull).count() === 10)
    withConf(
      "spark.sql.catalog.gbkn" -> classOf[GraftCatalog].getName,
      "spark.sql.catalog.gbkn.base" -> base,
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      // an equi self-join drops the null partition's rows, as SQL demands
      val j = spark.sql(
        "SELECT count(*) AS n FROM gbkn.tn a JOIN gbkn.tn b ON a.k = b.k")
      assert(j.collect()(0).getLong(0) === 90L)
    }
  }

  test("append keeps the bucket layout; a different layout is rejected") {
    import spark.implicits._
    val dir = Fixture.dir()
    Seq((1L, 10L)).toDF("id", "k").write.format("graft-store")
      .option("partitionBy", "bucket(4,k)").mode("overwrite").save(dir)
    // whitespace variants normalize to the same canonical layout
    Seq((2L, 20L)).toDF("id", "k").write.format("graft-store")
      .option("partitionBy", "bucket( 4 , k )").mode("append").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 2)
    val err = intercept[Exception] {
      Seq((3L, 30L)).toDF("id", "k").write.format("graft-store")
        .option("partitionBy", "bucket(8,k)").mode("append").save(dir)
    }
    assert(err.getMessage.contains("partition"), err.getMessage)
  }

  test("compaction preserves the bucket layout") {
    val dir = Fixture.dir()
    val df = spark.range(0, 400).selectExpr("id", "id * 13 as k")
    df.filter(col("id") < 200).write.format("graft-store")
      .option("partitionBy", "bucket(4,k)").mode("overwrite").save(dir)
    df.filter(col("id") >= 200).write.format("graft-store")
      .option("partitionBy", "bucket(4,k)").mode("append").save(dir)
    GraftStoreOps.compactSnapshot(spark, dir, targetBytes = 1L << 30)
    val after = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(after.partitionCol === Some("bucket(4,k)"),
      "compaction must keep the bucket layout")
    assert(after.files.size === 4, "files must merge WITHIN buckets")
    assert(spark.read.format("graft-store").load(dir).count() === 400)
  }

  test("bucket is SQL-callable through the catalog and matches the writer") {
    val base = Fixture.dir()
    withConf(
      "spark.sql.catalog.gbfn" -> classOf[GraftCatalog].getName,
      "spark.sql.catalog.gbfn.base" -> base) {
      // user-facing invocation of the V2 function — the same bound function
      // the SPJ planner resolves; null in, null out
      val rows = spark.sql(
        """SELECT id, gbfn.bucket(16, id) AS b,
          |  gbfn.bucket(4, CAST(NULL AS BIGINT)) AS nb
          |FROM range(0, 100)""".stripMargin).collect()
      rows.foreach { r =>
        assert(r.getInt(1) === GraftBucket.of(r.getLong(0),
          org.apache.spark.sql.types.LongType, 16))
        assert(r.isNullAt(2))
      }
    }
  }

  test("string keys bucket and SPJ like numeric ones") {
    val base = Fixture.dir()
    spark.range(0, 600).selectExpr("concat('user-', id % 200) as k", "id as va")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("overwrite").save(s"$base/sa")
    spark.range(0, 200).selectExpr("concat('user-', id) as k", "id * 10 as vb")
      .write.format("graft-store").option("partitionBy", "bucket(4,k)")
      .mode("overwrite").save(s"$base/sb")
    withConf(
      "spark.sql.catalog.gbks" -> classOf[GraftCatalog].getName,
      "spark.sql.catalog.gbks.base" -> base,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        "SELECT sa.k, va + vb AS v FROM gbks.sa JOIN gbks.sb ON sa.k = sb.k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"string-key bucketed SPJ should be exchange-free:\n${plan.take(2000)}")
      assert(j.count() === 600) // 3 sa rows per key value
    }
  }

  test("additive evolution on a partitioned table keeps SPJ grouping") {
    val dir = Fixture.dir()
    spark.range(0, 40).selectExpr("id", "cast(id % 4 as int) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    spark.range(40, 48)
      .selectExpr("id", "cast(id % 4 as int) as k", "concat('t', id) as tag")
      .write.format("graft-store")
      .option("partitionBy", "k").option("mergeSchema", "true")
      .mode("append").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    // both generations carry explicit partition values -> 4 keyed groups
    assert(back.rdd.getNumPartitions === 4)
    assert(back.count() === 48)
    assert(back.filter(col("tag").isNull).count() === 40)
    assert(back.filter(col("k") === 2 && col("tag").isNotNull).count() === 2)
  }

  test("composite spec (identity + bucket): pruning AND zero-exchange SPJ") {
    val base = Fixture.dir()
    // the canonical lakehouse layout: partition by day, bucket by key
    spark.range(0, 1200)
      .selectExpr("cast(id % 3 as int) as day", "id % 300 as k", "id as va")
      .write.format("graft-store")
      .option("partitionBy", "day,bucket(4,k)")
      .mode("overwrite").save(s"$base/ca")
    spark.range(0, 600)
      .selectExpr("cast(id % 3 as int) as day", "id % 300 as k", "id * 2 as vb")
      .write.format("graft-store")
      .option("partitionBy", "day,bucket(4,k)")
      .mode("overwrite").save(s"$base/cb")
    val a = spark.read.format("graft-store").load(s"$base/ca")
    // 3 days x 4 buckets -> 12 keyed groups
    assert(a.rdd.getNumPartitions === 12)
    assert(a.count() === 1200)
    // identity element still prunes: one day -> 4 of 12 groups
    val oneDay = a.filter(col("day") === 1)
    assert(oneDay.rdd.getNumPartitions === 4)
    assert(oneDay.count() === 400)
    withConf(
      "spark.sql.catalog.gbkc" -> classOf[GraftCatalog].getName,
      "spark.sql.catalog.gbkc.base" -> base,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        """SELECT ca.day, ca.k, va + vb AS v
          |FROM gbkc.ca JOIN gbkc.cb ON ca.day = cb.day AND ca.k = cb.k""".stripMargin)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"composite identity+bucket SPJ should be exchange-free:\n${plan.take(3000)}")
      // per (day, k): ids with id%3==day and id%300==k — k determines
      // id%3 via id ≡ k (mod 300)? no: id = k + 300m, id%3 = (k+300m)%3 =
      // k%3 — so only day == k%3 pairs exist: 1200/300=4 a-rows and 2
      // b-rows per existing (day,k)
      assert(j.count() === 300L * 4L * 2L)
    }
  }

  test("malformed bucket specs are rejected, never silently identity") {
    import spark.implicits._
    // bucket(4,a,b) is no longer malformed — multi-column buckets are a
    // real layout (GraftStoreMultiBucketSpec); the remaining shapes stay bad
    for (bad <- Seq("bucket(8)", "bucket()", "BUCKET(x,k)")) {
      val err = intercept[Exception] {
        Seq((1L, 2L)).toDF("id", "k").write.format("graft-store")
          .option("partitionBy", bad).mode("overwrite").save(Fixture.dir())
      }
      assert(err.getMessage.contains("bucket"), s"$bad: ${err.getMessage}")
    }
  }

  test("identity layout with NULL partition values keeps SPJ grouping") {
    val dir = Fixture.dir()
    spark.range(0, 90)
      .selectExpr("id", "if(id % 3 = 0, null, cast(id % 3 as int)) as k")
      .write.format("graft-store").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    // pre-partition-value manifests degraded to UnknownPartitioning here
    // (a null value has no min/max stats); explicit values keep the three
    // groups: null, 1, 2
    assert(back.rdd.getNumPartitions === 3)
    assert(back.count() === 90)
    assert(back.filter(col("k").isNull).count() === 30)
  }
}
