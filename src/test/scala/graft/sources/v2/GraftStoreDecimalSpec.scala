package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DECIMAL as a first-class codec type: UNSCALED integer on the wire at
  * one shared scale per column, so unscaled order IS decimal order —
  * Iceberg's representation. p <= 18 rides an 8-byte long; WIDE decimals
  * (19..38) ride a 16-byte two's-complement fixed width with BigInteger
  * stats text. Exact min/max stats + file skipping, DML, CHECK, defaults,
  * equality-delete keys, and precision widening across the width
  * boundary. */
class GraftStoreDecimalSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.deccat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.deccat.base", base)
    base
  }

  test("round-trip: exact values, nulls, pruned projection") {
    val dir = Fixture.dir()
    spark.range(0, 1000)
      .select(col("id"),
        when(col("id") % 100 === 0, lit(null))
          .otherwise((col("id") * 7).cast("decimal(12,2)") / 4).as("amt"),
        concat(lit("r"), col("id")).as("tag"))
      .write.format("graft-store").mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.schema("amt").dataType.sql === "DECIMAL(16,6)"
      || back.schema("amt").dataType.sql.startsWith("DECIMAL"))
    assert(back.filter(col("amt").isNull).count() === 10)
    // exact sum in decimal math, matching the in-memory frame
    val expect = spark.range(0, 1000)
      .select(when(col("id") % 100 === 0, lit(null))
        .otherwise((col("id") * 7).cast("decimal(12,2)") / 4).as("amt"))
      .agg(sum("amt")).collect()(0).getDecimal(0)
    assert(back.agg(sum("amt")).collect()(0).getDecimal(0) === expect)
    // pruned projection excludes the decimal column (skip path: 8 bytes)
    assert(back.select("id").filter(col("id") < 10).count() === 10)
  }

  test("min/max stats skip files on decimal predicates, exactly") {
    val dir = Fixture.dir()
    spark.range(0, 8000)
      .select(col("id"), (col("id").cast("decimal(14,2)") / 100).as("price"))
      .repartitionByRange(8, col("price"))
      .write.format("graft-store").mode("overwrite").save(dir)
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("price") < lit(new java.math.BigDecimal("1.00")))
      .agg(count(lit(1)))
    val n = q.collect()(0).getLong(0)
    val opened = GraftStoreOps.slicesOpened(q)
    assert(n === 100) // prices 0.00 .. 0.99
    assert(opened <= 2, s"decimal range predicate opened $opened of 8 files")
    // boundary exactness: no off-by-scale in the unscaled comparison
    assert(spark.read.format("graft-store").load(dir)
      .filter(col("price") === lit(new java.math.BigDecimal("79.99"))).count() === 1)
  }

  test("SQL DML + CHECK + MOR eq-delete keys on decimal columns") {
    catBase
    spark.sql("CREATE TABLE deccat.pay (id BIGINT, amt DECIMAL(12,2)) " +
      "USING `graft-store` TBLPROPERTIES ('check'='amt >= 0', 'dmlMode'='mor')")
    Seq((1L, "10.50"), (2L, "20.25"), (3L, "0.75"))
      .toDF("id", "s").select(col("id"), col("s").cast("decimal(12,2)").as("amt"))
      .write.format("graft-store").mode("append").save(s"$catBase/pay")
    // CHECK enforces decimal comparison
    intercept[Exception] {
      Seq((9L, "-1.00")).toDF("id", "s")
        .select(col("id"), col("s").cast("decimal(12,2)").as("amt"))
        .write.format("graft-store").mode("append").save(s"$catBase/pay")
    }
    spark.sql("UPDATE deccat.pay SET amt = amt + 1.00 WHERE id = 2")
    assert(spark.sql("SELECT amt FROM deccat.pay WHERE id = 2")
      .collect()(0).getDecimal(0).toString === "21.25")
    spark.sql("DELETE FROM deccat.pay WHERE amt < 1.00")
    assert(spark.sql("SELECT count(*) FROM deccat.pay").collect()(0).getLong(0) === 2)
    // upsert keyed on the decimal column (equality-delete key)
    GraftStoreOps.upsertMor(spark, s"$catBase/pay",
      Seq((10L, "10.50")).toDF("id", "s")
        .select(col("id"), col("s").cast("decimal(12,2)").as("amt")),
      Seq("amt"))
    val rows = spark.sql("SELECT id, amt FROM deccat.pay ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toString))
    assert(rows.toSeq === Seq((2L, "21.25"), (10L, "10.50")))
  }

  test("ADD COLUMN DECIMAL DEFAULT: old rows read the default exactly") {
    catBase
    spark.sql("CREATE TABLE deccat.fee (id BIGINT) USING `graft-store`")
    spark.range(0, 5).toDF("id").write.format("graft-store")
      .mode("append").save(s"$catBase/fee")
    spark.sql("ALTER TABLE deccat.fee ADD COLUMNS (rate DECIMAL(6,3) DEFAULT 1.250)")
    spark.sql("INSERT INTO deccat.fee VALUES (100, 9.875)")
    val got = spark.sql("SELECT rate, count(*) AS n FROM deccat.fee GROUP BY rate")
      .collect().map(r => r.getDecimal(0).toString -> r.getLong(1)).toMap
    assert(got === Map("1.250" -> 5L, "9.875" -> 1L))
  }

  test("decimal precision widening is metadata-only; mixed widths read exactly") {
    catBase
    spark.sql("CREATE TABLE deccat.w (id BIGINT, amt DECIMAL(8,2)) USING `graft-store`")
    Seq((1L, "12.34"), (2L, "56.78")).toDF("id", "s")
      .select(col("id"), col("s").cast("decimal(8,2)").as("amt"))
      .write.format("graft-store").mode("append").save(s"$catBase/w")
    val fs = new org.apache.hadoop.fs.Path(s"$catBase/w")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$catBase/w"))
        .map(_.getPath.getName).filter(_.endsWith(".gsf")).toSet
    val before = dataFiles()
    spark.sql("ALTER TABLE deccat.w ALTER COLUMN amt TYPE DECIMAL(14,2)")
    assert(dataFiles() === before, "widening must rewrite zero data files")
    assert(spark.table("deccat.w").schema("amt").dataType.sql === "DECIMAL(14,2)")
    // post-widening rows need the wider precision; pre-widening files
    // read exactly through their recorded written type
    spark.sql("INSERT INTO deccat.w VALUES (3, 123456789012.99)")
    val total = spark.sql("SELECT sum(amt) AS t FROM deccat.w")
      .collect()(0).getDecimal(0)
    assert(total.toString === "123456789082.11")
    // stats survive (unscaled strings re-parse losslessly): a range
    // predicate still prunes pre-widening files
    assert(spark.sql("SELECT count(*) FROM deccat.w WHERE amt < 100.00")
      .collect()(0).getLong(0) === 2)
    // scale changes and narrowing still refuse
    intercept[Exception](spark.sql(
      "ALTER TABLE deccat.w ALTER COLUMN amt TYPE DECIMAL(14,4)"))
    intercept[Exception](spark.sql(
      "ALTER TABLE deccat.w ALTER COLUMN amt TYPE DECIMAL(8,2)"))
  }

  test("min/max aggregate pushdown serves decimal from the manifest") {
    val dir = Fixture.dir()
    spark.range(0, 1000)
      .select(col("id"), (col("id").cast("decimal(12,2)") / 8).as("amt"))
      .repartition(4).write.format("graft-store").mode("overwrite").save(dir)
    val agg = spark.read.format("graft-store").load(dir)
      .agg(min("amt").as("mn"), max("amt").as("mx"), count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"decimal min/max should serve from the manifest:\n$plan")
    val r = agg.collect()(0)
    assert(r.getDecimal(0).toString === "0.000000")
    assert(r.getDecimal(1).toString === "124.875000")
    assert(r.getLong(2) === 1000L)
  }

  test("metadata-only DELETE proves full coverage on a decimal predicate") {
    val dir = Fixture.dir()
    // four files with EXACT disjoint price ranges [0,10) [10,20) ...
    (0 until 4).foreach { i =>
      spark.range(i * 1000, (i + 1) * 1000)
        .select(col("id"), (col("id").cast("decimal(14,2)") / 100).as("price"))
        .coalesce(1).write.format("graft-store")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    val filesBefore = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get.files.map(_.name).toSet
    // prices 0.00..39.99: [0,10) covers exactly the first range file
    GraftStoreOps.deleteWhere(spark, dir,
      col("price") < lit(new java.math.BigDecimal("10.00")))
    val after = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    val afterNames = after.files.map(_.name).toSet
    // metadata-only: the covered file LEFT the listing, nothing rewrote
    // (no new file names — the decimal must-proof carried the drop)
    assert(after.files.size === 3 && afterNames.subsetOf(filesBefore)
      && (afterNames -- filesBefore).isEmpty,
      s"expected a pure metadata drop; before=$filesBefore after=$afterNames")
    assert(spark.read.format("graft-store").load(dir).count() === 3000)
  }

  test("WIDE decimal (p>18): 16-byte codec round-trips beyond-long values exactly") {
    val dir = Fixture.dir()
    // values whose unscaled form exceeds Long.MaxValue in both signs
    val big = Seq(
      (1L, "12345678901234567890.123456"),
      (2L, "-99999999999999999999999999999999.999999"),
      (3L, "0.000001"),
      (4L, null))
    big.toDF("id", "s")
      .select(col("id"), col("s").cast("decimal(38,6)").as("amt"))
      .write.format("graft-store").mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.schema("amt").dataType.sql === "DECIMAL(38,6)")
    val got = back.collect()
      .map(r => r.getLong(0) -> Option(r.getDecimal(1)).map(_.toString)).toMap
    assert(got === big.map { case (i, s) => i -> Option(s) }.toMap)
    // exact wide arithmetic end-to-end (sum of decimal(38,6) — no drift)
    assert(spark.read.format("graft-store").load(dir)
      .agg(sum("amt")).collect()(0).getDecimal(0).toPlainString
      === "-99999999999987654321098765432109.876542")
    // pruned projection still seeks fixed-width past the wide column
    assert(back.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L, 4L))
  }

  test("WIDE decimal stats: BigInteger min/max skip files; metadata-only DELETE") {
    val dir = Fixture.dir()
    // shift well beyond long range so stats text exercises BigInteger
    spark.range(0, 8000)
      .select(col("id"),
        (col("id").cast("decimal(38,6)") + lit(new java.math.BigDecimal(
          "10000000000000000000000")))
          .cast("decimal(38,6)").as("amt"))
      .repartitionByRange(8, col("amt"))
      .write.format("graft-store").mode("overwrite").save(dir)
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("amt") < lit(new java.math.BigDecimal("10000000000000000000100")))
      .agg(count(lit(1)))
    val n = q.collect()(0).getLong(0)
    val opened = GraftStoreOps.slicesOpened(q)
    assert(n === 100)
    assert(opened <= 2, s"wide-decimal range predicate opened $opened of 8 files")
    // metadata-only DELETE: the BigInteger must-proof drops every FULLY
    // covered file from the listing without rewriting it — only the one
    // boundary file (range straddles the threshold) may rewrite
    val namesBefore = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get.files.map(_.name).toSet
    GraftStoreOps.deleteWhere(spark, dir,
      col("amt") >= lit(new java.math.BigDecimal("10000000000000000004000")))
    val namesAfter = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get.files.map(_.name).toSet
    val fresh = namesAfter -- namesBefore
    assert(fresh.size <= 1,
      s"only the boundary file may rewrite; fresh files: $fresh")
    assert((namesBefore -- namesAfter).size >= 3,
      "fully covered files must leave the listing (metadata-only drop)")
    assert(spark.read.format("graft-store").load(dir).count() === 4000)
  }

  test("WIDE decimal DML + MOR eq-delete keys; widening ACROSS the 18 boundary") {
    catBase
    spark.sql("CREATE TABLE deccat.wide (id BIGINT, amt DECIMAL(30,2)) " +
      "USING `graft-store` TBLPROPERTIES ('dmlMode'='mor')")
    Seq((1L, "123456789012345678901234567.89"), (2L, "20.25"), (3L, "0.75"))
      .toDF("id", "s").select(col("id"), col("s").cast("decimal(30,2)").as("amt"))
      .write.format("graft-store").mode("append").save(s"$catBase/wide")
    spark.sql("UPDATE deccat.wide SET amt = amt + 1.00 WHERE id = 2")
    spark.sql("DELETE FROM deccat.wide WHERE amt < 1.00")
    GraftStoreOps.upsertMor(spark, s"$catBase/wide",
      Seq((10L, "123456789012345678901234567.89")).toDF("id", "s")
        .select(col("id"), col("s").cast("decimal(30,2)").as("amt")),
      Seq("amt")) // equality-delete KEY on the wide decimal column
    val rows = spark.sql("SELECT id, amt FROM deccat.wide ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toString))
    assert(rows.toSeq === Seq((2L, "21.25"),
      (10L, "123456789012345678901234567.89")))

    // widening decimal(12,2) -> decimal(20,2) CROSSES the 8->16 byte wire
    // boundary: metadata-only, pre-widening files decode through their
    // recorded written type and re-wrap at the declared precision
    spark.sql("CREATE TABLE deccat.xw (id BIGINT, amt DECIMAL(12,2)) USING `graft-store`")
    Seq((1L, "12.34"), (2L, "56.78")).toDF("id", "s")
      .select(col("id"), col("s").cast("decimal(12,2)").as("amt"))
      .write.format("graft-store").mode("append").save(s"$catBase/xw")
    val fs = new org.apache.hadoop.fs.Path(s"$catBase/xw")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$catBase/xw"))
        .map(_.getPath.getName).filter(_.endsWith(".gsf")).toSet
    val before = dataFiles()
    spark.sql("ALTER TABLE deccat.xw ALTER COLUMN amt TYPE DECIMAL(20,2)")
    assert(dataFiles() === before, "cross-width widening must rewrite zero files")
    spark.sql("INSERT INTO deccat.xw VALUES (3, 123456789012345678.99)")
    assert(spark.sql("SELECT sum(amt) AS t FROM deccat.xw")
      .collect()(0).getDecimal(0).toString === "123456789012345748.11")
    // mixed-era predicate: narrow files prune via re-parsed stats
    assert(spark.sql("SELECT count(*) FROM deccat.xw WHERE amt < 100.00")
      .collect()(0).getLong(0) === 2)
  }
}
