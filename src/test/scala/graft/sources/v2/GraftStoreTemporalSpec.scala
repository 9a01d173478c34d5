package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Temporal (`years|months|days|hours(col)`) and `truncate(w,col)`
  * partition transforms — the Iceberg transform family completed. The
  * canonical lakehouse event layout `days(ts)[,bucket(n,key)]` becomes
  * declarable, and because the transforms are MONOTONIC, range predicates
  * on the raw column project to partition-value windows: `ts >= A AND
  * ts < B` prunes a `days(ts)` table by partition value (Iceberg's
  * predicate projection). */
class GraftStoreTemporalSpec extends AnyFunSuite with graft.SparkTestBase {

  private def scanFiles(df: DataFrame): (Int, Int) = {
    val s = df.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(s)
    assert(m.isDefined, s"no graft-store scan in plan:\n${s.take(2000)}")
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  /** 10 days × 100 events, one row per ~14 min. */
  private def events(dir: String, layout: String): Unit =
    spark.range(0, 1000)
      .selectExpr(
        "timestamp_micros(cast(1700000000000000 + id * 864000000 as long)) as ts",
        "id as v", "id % 7 as key")
      .coalesce(2)
      .write.format("graft-store").option("partitionBy", layout)
      .mode("overwrite").save(dir)

  test("days(ts): time-range predicates prune files by partition value") {
    val dir = Fixture.dir()
    events(dir, "days(ts)")
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.partitionCol === Some("days(ts)"))
    // every file claims exactly one day
    assert(m.files.forall(_.partVals.exists(v => v.length == 1 && v.head.isDefined)))
    assert(m.files.map(_.partVals.get.head.get).distinct.size >= 10)
    val full = spark.read.format("graft-store").load(dir)
    // a 2-day window out of ~10
    val q = full.filter(
      col("ts") >= expr("timestamp_micros(1700086400000000)") &&
        col("ts") < expr("timestamp_micros(1700259200000000)"))
    val expect = full.collect().count { r =>
      val micros = r.getTimestamp(0).getTime * 1000 +
        (r.getTimestamp(0).getNanos / 1000) % 1000
      micros >= 1700086400000000L && micros < 1700259200000000L
    }
    assert(q.count() === expect && expect > 0)
    val (sel, total) = scanFiles(q)
    assert(sel < total && sel <= 6,
      s"files=$sel/$total — day-range projection did not prune")
  }

  test("hours(ts) prunes; hours(date) is rejected") {
    val dir = Fixture.dir()
    events(dir, "hours(ts)")
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("ts") >= expr("timestamp_micros(1700000000000000)") &&
        col("ts") < expr("timestamp_micros(1700007200000000)")) // 2 hours
    assert(q.count() > 0)
    val (sel, total) = scanFiles(q)
    assert(sel < total, s"files=$sel/$total")
    val e = intercept[Exception] {
      spark.range(0, 10).selectExpr("date_add(date'2024-01-01', cast(id as int)) as d", "id as v")
        .write.format("graft-store").option("partitionBy", "hours(d)")
        .mode("overwrite").save(Fixture.dir())
    }
    assert(e.getMessage.contains("hours"))
  }

  test("months(date): equality and range prune by calendar arithmetic") {
    val dir = Fixture.dir()
    spark.range(0, 300)
      .selectExpr("date_add(date'2023-11-15', cast(id as int)) as d", "id as v")
      .coalesce(1)
      .write.format("graft-store").option("partitionBy", "months(d)")
      .mode("overwrite").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    // Nov 2023 .. Sep 2024 — ~11 month partitions; Nov 2023 = (2023-1970)*12+10
    val months = m.files.map(_.partVals.get.head.get.toLong).distinct.sorted
    assert(months.head === (2023 - 1970) * 12L + 10)
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("d") >= lit("2024-02-01").cast("date") &&
        col("d") < lit("2024-04-01").cast("date"))
    assert(q.count() === 60) // Feb (29, leap) + Mar (31)
    val (sel, total) = scanFiles(q)
    assert(sel <= 3 && sel < total, s"files=$sel/$total")
  }

  test("truncate on numerics: ranges project through the floor") {
    val dir = Fixture.dir()
    spark.range(0, 10000).selectExpr("id as k", "id as v")
      .coalesce(2)
      .write.format("graft-store").option("partitionBy", "truncate(1000,k)")
      .mode("overwrite").save(dir)
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("k") >= 2500L && col("k") < 3500L)
    assert(q.count() === 1000)
    val (sel, total) = scanFiles(q)
    assert(total >= 10 && sel <= 4, s"files=$sel/$total")
  }

  test("truncate on strings: prefix grouping, equality prunes") {
    val dir = Fixture.dir()
    spark.range(0, 260).selectExpr(
      "concat(char(97 + id % 26), char(97 + (id DIV 26) % 26), '-', id) as s",
      "id as v")
      .coalesce(1)
      .write.format("graft-store").option("partitionBy", "truncate(1,s)")
      .mode("overwrite").save(dir)
    val q = spark.read.format("graft-store").load(dir).filter(col("s") === "ab-26")
    assert(q.count() === 1)
    val (sel, total) = scanFiles(q)
    assert(total >= 20 && sel === 1, s"files=$sel/$total")
  }

  test("composite days(ts),bucket(4,key): both dimensions prune independently") {
    val dir = Fixture.dir()
    events(dir, "days(ts),bucket(4,key)")
    val full = spark.read.format("graft-store").load(dir)
    assert(full.count() === 1000)
    // range on ts prunes the day axis; equality on key prunes the bucket axis
    val q = full.filter(
      col("ts") >= expr("timestamp_micros(1700086400000000)") &&
        col("ts") < expr("timestamp_micros(1700172800000000)") &&
        col("key") === 3L)
    val rows = q.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(2) == 3L))
    val (sel, total) = scanFiles(q)
    assert(sel < total / 3, s"files=$sel/$total — composite pruning weak")
  }

  test("null timestamps land in a null partition that predicates never match") {
    val dir = Fixture.dir()
    spark.range(0, 100)
      .selectExpr(
        "CASE WHEN id % 10 = 0 THEN NULL ELSE timestamp_micros(1700000000000000 + id * 86400000000) END as ts",
        "id as v")
      .coalesce(1)
      .write.format("graft-store").option("partitionBy", "days(ts)")
      .mode("overwrite").save(dir)
    val df = spark.read.format("graft-store").load(dir)
    assert(df.filter(col("ts").isNull).count() === 10)
    val q = df.filter(col("ts") >= expr("timestamp_micros(1700000000000000)"))
    assert(q.count() === 90)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.files.exists(_.partVals.get.head.isEmpty), "null partition file expected")
    // the null-partition file is pruned for the range query
    val (sel, total) = scanFiles(q)
    assert(sel < total, s"files=$sel/$total")
  }

  test("spec evolution to days(ts) validates types; appends route by the new spec") {
    val dir = Fixture.dir()
    spark.range(0, 100)
      .selectExpr("timestamp_micros(1700000000000000 + id * 86400000000) as ts", "id as v")
      .coalesce(1)
      .write.format("graft-store").mode("overwrite").save(dir)
    intercept[Exception] {
      GraftStoreOps.evolvePartitionSpec(spark, dir, Some("days(v)")) // long col
    }
    GraftStoreOps.evolvePartitionSpec(spark, dir, Some("days(ts)"))
    spark.range(100, 200)
      .selectExpr("timestamp_micros(1700000000000000 + id * 86400000000) as ts", "id as v")
      .write.format("graft-store").option("partitionBy", "days(ts)")
      .mode("append").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 200)
  }

  test("malformed transform calls fail loudly; lookalike column names stay identity") {
    intercept[IllegalArgumentException](GraftLayout.parse("days()"))
    intercept[IllegalArgumentException](GraftLayout.parse("truncate(x,k)"))
    assert(GraftLayout.parse("days_total").specs.head === IdentitySpec("days_total"))
    assert(GraftLayout.parse("days(ts)").specs.head === TemporalSpec("days", "ts"))
    assert(GraftLayout.parse("TRUNCATE(8,k)").specs.head === TruncateSpec(8, "k"))
    // canonical render round-trips (the append layout guard compares it)
    assert(GraftLayout.parse("days( ts )").render === "days(ts)")
  }
}
