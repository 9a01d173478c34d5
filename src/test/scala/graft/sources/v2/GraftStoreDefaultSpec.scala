package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `ADD COLUMN ... DEFAULT` / `CREATE TABLE (... DEFAULT ...)`:
  * backfill-free column defaults on the field-id layer. The default is an
  * evaluated literal stored in field metadata; readers substitute it
  * wherever the column is physically ABSENT from a file (null-extension
  * generalized), and Spark's own default resolution fills INSERTs that
  * omit the column. Zero data files are rewritten by the DDL. */
class GraftStoreDefaultSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.dfltcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dfltcat.base", base)
    base
  }

  private def manifest(t: String) = GraftStoreFormat.readLatestManifest(
    s"$catBase/$t", spark.sparkContext.hadoopConfiguration).get

  test("ADD COLUMN DEFAULT is metadata-only; old rows read the default") {
    catBase
    spark.range(0, 40).selectExpr("id", "concat('s', id) as tag")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t1")
    val before = manifest("t1").files.map(_.name)
    spark.sql("ALTER TABLE dfltcat.t1 ADD COLUMNS (tier STRING DEFAULT 'bronze')")
    val m = manifest("t1")
    assert(m.files.map(_.name) === before, "a defaulted add rewrites zero files")
    assert(m.fieldMeta.get.defaults.nonEmpty)
    // pre-add rows serve the default; the fast unsafe path (projection)
    // and the generic path (via a residual filter) must both substitute
    val counts = spark.sql(
      "SELECT count(*) AS n, count(tier) AS nt FROM dfltcat.t1").collect()(0)
    assert(counts.getLong(0) === 40 && counts.getLong(1) === 40,
      "old rows read the DEFAULT, not null")
    assert(spark.sql("SELECT count(*) FROM dfltcat.t1 WHERE tier = 'bronze'")
      .collect()(0).getLong(0) === 40)
    // post-add rows keep their written values; mixed files stay exact
    spark.range(40, 50).selectExpr("id", "concat('s', id) as tag", "'gold' as tier")
      .write.format("graft-store").mode("append").save(s"$catBase/t1")
    val byTier = spark.sql(
      "SELECT tier, count(*) AS n FROM dfltcat.t1 GROUP BY tier").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byTier === Map("bronze" -> 40L, "gold" -> 10L))
  }

  test("CREATE TABLE with DEFAULT; INSERT omitting the column fills it") {
    catBase
    spark.sql(
      """CREATE TABLE dfltcat.t2 (k BIGINT, score INT DEFAULT 7, tag STRING)
        |USING `graft-store`""".stripMargin)
    spark.sql("INSERT INTO dfltcat.t2 (k, tag) VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO dfltcat.t2 VALUES (3, 99, 'c')")
    val rows = spark.sql("SELECT k, score FROM dfltcat.t2")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(rows === Map(1L -> 7, 2L -> 7, 3L -> 99))
  }

  test("null-count skipping and count(col) pushdown decline, answers exact") {
    catBase
    spark.range(0, 30).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t3")
    spark.sql("ALTER TABLE dfltcat.t3 ADD COLUMNS (grade BIGINT DEFAULT 5)")
    // IS NOT NULL must NOT skip the pre-add file ("absent" no longer
    // means all-null): every old row has grade = 5
    assert(spark.sql("SELECT count(*) FROM dfltcat.t3 WHERE grade IS NOT NULL")
      .collect()(0).getLong(0) === 30)
    assert(spark.sql("SELECT count(*) FROM dfltcat.t3 WHERE grade IS NULL")
      .collect()(0).getLong(0) === 0)
    // count(col) pushdown declines (unknowable from the manifest) and the
    // scan still computes exactly; min/max likewise decline (no stats)
    val agg = spark.sql("SELECT count(grade) AS c, min(grade) AS mn FROM dfltcat.t3")
    assert(!agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "manifest-only aggregates must decline on a defaulted column")
    val r = agg.collect()(0)
    assert(r.getLong(0) === 30 && r.getLong(1) === 5L)
  }

  test("MOR upsert keyed on a defaulted column masks pre-add rows") {
    catBase
    spark.range(0, 20).selectExpr("id", "concat('s', id) as tag")
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(s"$catBase/t4")
    spark.sql("ALTER TABLE dfltcat.t4 ADD COLUMNS (region STRING DEFAULT 'eu')")
    // the eq-delete probe reads the DEFAULT for pre-add rows: an upsert
    // keyed on (id, region)=(3,'eu') must mask the old row 3
    GraftStoreOps.upsertMor(spark, s"$catBase/t4",
      Seq((3L, "upd", "eu")).toDF("id", "tag", "region"), Seq("id", "region"))
    val tags = spark.sql("SELECT id, tag FROM dfltcat.t4")
      .as[(Long, String)].collect().toMap
    assert(tags(3L) === "upd" && tags.size === 20)
  }

  test("CHECK over a defaulted column validates substituted values") {
    catBase
    spark.range(0, 10).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t5")
    spark.sql("ALTER TABLE dfltcat.t5 ADD COLUMNS (qty BIGINT DEFAULT 3)")
    // existing rows read qty=3, so CHECK qty > 0 passes...
    spark.sql("ALTER TABLE dfltcat.t5 SET TBLPROPERTIES ('check'='qty > 0')")
    // ...and CHECK qty > 5 must FAIL the validation scan (rows violate)
    val ex = intercept[Exception](
      spark.sql("ALTER TABLE dfltcat.t5 SET TBLPROPERTIES ('check'='qty > 5')"))
    assert(ex.getMessage.contains("violate"))
  }

  test("CDC feed emits the default for pre-add insert rows") {
    catBase
    spark.range(0, 8).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t6")
    spark.sql("ALTER TABLE dfltcat.t6 ADD COLUMNS (src STRING DEFAULT 'legacy')")
    spark.range(8, 10).selectExpr("id", "'fresh' as src")
      .write.format("graft-store").mode("append").save(s"$catBase/t6")
    val changes = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "0")
      .load(s"$catBase/t6")
      .groupBy("src").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(changes === Map("legacy" -> 8L, "fresh" -> 2L),
      "a feed and a batch read must agree on a defaulted add")
  }

  test("widening a defaulted column re-encodes the default") {
    catBase
    spark.range(0, 10).selectExpr("cast(id as int) as k")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t7")
    spark.sql("ALTER TABLE dfltcat.t7 ADD COLUMNS (bonus INT DEFAULT 9)")
    spark.sql("ALTER TABLE dfltcat.t7 ALTER COLUMN bonus TYPE BIGINT")
    assert(spark.sql("SELECT sum(bonus) FROM dfltcat.t7").collect()(0).getLong(0) === 90L)
    val fm = manifest("t7").fieldMeta.get
    val id = fm.ids(1)
    assert(fm.typeOf(id) === org.apache.spark.sql.types.LongType)
    assert(fm.defaults(id) === "9")
  }

  test("DEFAULT NULL and non-literal defaults") {
    catBase
    spark.range(0, 5).selectExpr("id")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/t8")
    // DEFAULT NULL == plain nullable add (no recorded default)
    spark.sql("ALTER TABLE dfltcat.t8 ADD COLUMNS (extra STRING DEFAULT NULL)")
    assert(spark.sql("SELECT count(extra) FROM dfltcat.t8").collect()(0).getLong(0) === 0)
    assert(manifest("t8").fieldMeta.forall(_.defaults.isEmpty))
  }
}
