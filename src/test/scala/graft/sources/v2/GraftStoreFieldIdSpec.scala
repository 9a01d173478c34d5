package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FIELD-ID schema evolution (Iceberg's design): `ALTER TABLE ... RENAME
  * COLUMN` and `DROP COLUMN` as METADATA-ONLY commits. Columns are pinned
  * to immutable numeric ids at first evolution; renames edit only the DDL
  * name, drops remove the id from the logical schema — zero data files
  * are rewritten either way, and readers map each file's recorded
  * physical layout to the current schema by id (dropped columns' bytes
  * are seeked past by the prune-skipping decoder). */
class GraftStoreFieldIdSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.fidcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fidcat.base", base)
    base
  }

  private def manifest(t: String) = GraftStoreFormat.readLatestManifest(
    s"$catBase/$t", spark.sparkContext.hadoopConfiguration).get

  private def seed(t: String, n: Long = 40L): Unit =
    spark.range(0, n)
      .selectExpr("id", "id * 2 as v", "concat('s', id) as tag")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/$t")

  test("RENAME COLUMN is metadata-only; data reads through the new name") {
    catBase
    seed("r1")
    val before = manifest("r1")
    spark.sql("ALTER TABLE fidcat.r1 RENAME COLUMN v TO velocity")
    val after = manifest("r1")
    assert(after.schema.fieldNames.toSeq === Seq("id", "velocity", "tag"))
    assert(after.files.map(_.name) === before.files.map(_.name),
      "RENAME must rewrite zero data files")
    assert(after.fieldMeta.isDefined)
    assert(after.fieldMeta.get.ids === Seq(0, 1, 2), "rename keeps ids")
    val got = spark.sql("SELECT sum(velocity) AS s FROM fidcat.r1").collect()(0)
    assert(got.getLong(0) === (0L until 40L).map(_ * 2).sum)
    // time travel to the pre-rename snapshot sees the old name
    assert(spark.sql("SELECT * FROM fidcat.r1 VERSION AS OF 0").columns
      .contains("v"))
  }

  test("DROP COLUMN is metadata-only; dropped bytes are skipped, not decoded") {
    catBase
    seed("d1")
    val before = manifest("d1")
    spark.sql("ALTER TABLE fidcat.d1 DROP COLUMN v")
    val after = manifest("d1")
    assert(after.schema.fieldNames.toSeq === Seq("id", "tag"))
    assert(after.files.map(_.name) === before.files.map(_.name),
      "DROP must rewrite zero data files")
    assert(after.fieldMeta.get.ids === Seq(0, 2))
    assert(after.fieldMeta.get.layouts === Seq(Seq(0, 1, 2), Seq(0, 2)),
      "layout history records the pre-drop era")
    // values of surviving columns are exact through the remap
    val rows = spark.sql("SELECT id, tag FROM fidcat.d1").as[(Long, String)]
      .collect().toMap
    assert(rows.size === 40 && rows(7L) === "s7")
    // the dropped column's payload is advanced byte-wise, never decoded
    val sumId = spark.sql("SELECT sum(id) FROM fidcat.d1")
    sumId.collect()
    assert(GraftStoreOps.bytesSkipped(sumId) > 0,
      "dropped/pruned fields must be skipped")
    // pre-drop snapshots still serve the column (old manifest, old schema)
    assert(spark.sql("SELECT sum(v) AS s FROM fidcat.d1 VERSION AS OF 0")
      .collect()(0).getLong(0) === (0L until 40L).map(_ * 2).sum)
  }

  test("appends after DROP mix layouts correctly; re-added name gets a fresh id") {
    catBase
    seed("d2")
    spark.sql("ALTER TABLE fidcat.d2 DROP COLUMN v")
    // post-drop append: files written under the 2-column layout
    spark.range(40, 60).selectExpr("id", "concat('s', id) as tag")
      .write.format("graft-store").mode("append").save(s"$catBase/d2")
    assert(spark.sql("SELECT count(*) FROM fidcat.d2").collect()(0).getLong(0) === 60)
    // re-adding the dropped NAME must not resurrect the old bytes: the new
    // column has a fresh id, so pre-existing files read it as null
    spark.sql("ALTER TABLE fidcat.d2 ADD COLUMNS (v BIGINT)")
    val fm = manifest("d2").fieldMeta.get
    assert(fm.ids === Seq(0, 2, 3), "re-added name takes a fresh id, not the dead 1")
    val counts = spark.sql(
      "SELECT count(*) AS n, count(v) AS withv FROM fidcat.d2").collect()(0)
    assert(counts.getLong(0) === 60 && counts.getLong(1) === 0,
      "old rows must NOT leak the dropped column's bytes into the re-added name")
    spark.range(60, 70).selectExpr("id", "concat('s', id) as tag", "id * 9 as v")
      .write.format("graft-store").mode("append").save(s"$catBase/d2")
    val got = spark.sql("SELECT sum(v) AS s, count(*) AS n FROM fidcat.d2").collect()(0)
    assert(got.getLong(0) === (60L until 70L).map(_ * 9).sum && got.getLong(1) === 70)
  }

  test("stats skipping and min/max pushdown survive a rename") {
    catBase
    // two range-disjoint files so a filter on the renamed column can prune
    spark.range(0, 1000).selectExpr("id", "id * 2 as v", "concat('s', id) as tag")
      .repartitionByRange(2, col("id"))
      .write.format("graft-store").mode("overwrite").save(s"$catBase/r2")
    spark.sql("ALTER TABLE fidcat.r2 RENAME COLUMN id TO key")
    // file skipping: the scan description counts selected/total files
    val df = spark.sql("SELECT sum(v) AS s FROM fidcat.r2 WHERE key < 100")
    val desc = df.queryExecution.executedPlan.toString
    assert(df.collect()(0).getLong(0) === (0L until 100L).map(_ * 2).sum)
    assert(desc.contains("files=1/2"),
      s"stats skip must prune on the renamed column via id translation:\n$desc")
    // manifest-only aggregate pushdown serves min/max of the renamed column
    val agg = spark.sql("SELECT min(key) AS mn, max(key) AS mx FROM fidcat.r2")
    assert(agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "min/max on a renamed column must still push to the manifest")
    val r = agg.collect()(0)
    assert(r.getLong(0) === 0L && r.getLong(1) === 999L)
  }

  test("COW DML and MOR upsert work on an id-evolved table") {
    catBase
    seed("m1")
    spark.sql("ALTER TABLE fidcat.m1 RENAME COLUMN v TO velocity")
    spark.sql("ALTER TABLE fidcat.m1 DROP COLUMN tag")
    // COW delete through the catalog's row-level SQL surface
    spark.sql("DELETE FROM fidcat.m1 WHERE id < 10")
    assert(spark.sql("SELECT count(*) FROM fidcat.m1").collect()(0).getLong(0) === 30)
    assert(spark.sql("SELECT sum(velocity) AS s FROM fidcat.m1").collect()(0)
      .getLong(0) === (10L until 40L).map(_ * 2).sum)
    // MOR upsert keyed on the surviving column names
    spark.sql("ALTER TABLE fidcat.m1 SET TBLPROPERTIES ('dmlMode'='mor')")
    GraftStoreOps.upsertMor(spark, s"$catBase/m1",
      Seq((10L, 777L), (99L, 99L)).toDF("id", "velocity"), Seq("id"))
    val vals = spark.sql("SELECT id, velocity FROM fidcat.m1")
      .as[(Long, Long)].collect().toMap
    assert(vals(10L) === 777L && vals(99L) === 99L && vals.size === 31)
  }

  test("referenced columns refuse RENAME/DROP loudly") {
    catBase
    spark.range(0, 20).selectExpr("id", "id % 4 as part", "id * 2 as v")
      .write.format("graft-store").option("partitionBy", "part")
      .mode("overwrite").save(s"$catBase/g1")
    intercept[Exception](
      spark.sql("ALTER TABLE fidcat.g1 RENAME COLUMN part TO p2"))
    intercept[Exception](spark.sql("ALTER TABLE fidcat.g1 DROP COLUMN part"))
    spark.sql("ALTER TABLE fidcat.g1 SET TBLPROPERTIES ('check'='v >= 0')")
    intercept[Exception](spark.sql("ALTER TABLE fidcat.g1 DROP COLUMN v"))
    assert(manifest("g1").schema.fieldNames.toSeq === Seq("id", "part", "v"),
      "rejected evolution must not commit")
  }

  test("feeds pinned before a DROP fail loudly on post-drop files") {
    catBase
    seed("c1", 20L)
    spark.sql("ALTER TABLE fidcat.c1 DROP COLUMN v")
    spark.range(20, 30).selectExpr("id", "concat('s', id) as tag")
      .write.format("graft-store").mode("append").save(s"$catBase/c1")
    // batch CDC from snapshot 0 walks the post-drop append, whose files
    // carry a non-ordinal layout the pinned schema cannot decode
    val ex = intercept[Exception] {
      spark.read.format("graft-store")
        .option("readChangeFeed", "true").option("startSnapshot", "0")
        .load(s"$catBase/c1").count()
    }
    assert(ex.getMessage.contains("evolved"),
      s"expected a loud evolved-layout failure, got: ${ex.getMessage}")
  }

  // ---- ALTER COLUMN TYPE widening (int→bigint, float→double) ----

  private def seedW(t: String): Unit =
    spark.range(0, 40)
      .selectExpr("cast(id as int) as k", "cast(id as float) as price",
        "concat('s', id) as tag")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/$t")

  test("int→bigint widening is metadata-only; mixed widths read exactly") {
    catBase
    seedW("w1")
    val before = manifest("w1")
    spark.sql("ALTER TABLE fidcat.w1 ALTER COLUMN k TYPE BIGINT")
    val after = manifest("w1")
    assert(after.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(after.files.map(_.name) === before.files.map(_.name),
      "widening must rewrite zero data files")
    val fm = after.fieldMeta.get
    assert(fm.typeOf(0) === org.apache.spark.sql.types.LongType)
    assert(fm.writtenTypeAt(0, 0) === org.apache.spark.sql.types.IntegerType,
      "the pre-widening layout must record the narrow written type")
    assert(fm.layouts.last === fm.ids, "current layout re-recorded at the new width")
    // time travel to the pre-widening snapshot still reads at int
    assert(spark.sql("SELECT * FROM fidcat.w1 VERSION AS OF 0").schema("k")
      .dataType === org.apache.spark.sql.types.IntegerType)
    // append GENUINELY long keys — beyond int range — at the new width
    spark.range(0, 10).selectExpr("id + 5000000000 as k",
        "cast(id as float) as price", "concat('b', id) as tag")
      .write.format("graft-store").mode("append").save(s"$catBase/w1")
    val got = spark.sql(
      "SELECT count(*) AS n, sum(k) AS s FROM fidcat.w1").collect()(0)
    assert(got.getLong(0) === 50)
    assert(got.getLong(1) === (0L until 40L).sum + (0L until 10L).map(_ + 5000000000L).sum)
    // min/max pushdown still serves from the manifest: int stats re-parse
    // as long LOSSLESSLY, so mixed-width stats stay exact
    val agg = spark.sql("SELECT min(k) AS mn, max(k) AS mx FROM fidcat.w1")
    assert(agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "min/max across mixed int/long files must still push to the manifest")
    val r = agg.collect()(0)
    assert(r.getLong(0) === 0L && r.getLong(1) === 5000000009L)
    // row-level DML across mixed widths: MOR upsert keyed on the WIDENED
    // column — the eq-mask probe must compare old files' int bytes at long
    spark.sql("ALTER TABLE fidcat.w1 SET TBLPROPERTIES ('dmlMode'='mor')")
    GraftStoreOps.upsertMor(spark, s"$catBase/w1",
      Seq((5L, 0.5f, "upd")).toDF("k", "price", "tag"), Seq("k"))
    val vals = spark.sql("SELECT k, tag FROM fidcat.w1")
      .as[(Long, String)].collect().toMap
    assert(vals(5L) === "upd" && vals.size === 50,
      "upsert keyed on a widened column must mask the pre-widening row")
  }

  test("float→double widening strips pre-widening stats; answers stay exact") {
    catBase
    seedW("w2")
    spark.sql("ALTER TABLE fidcat.w2 ALTER COLUMN price TYPE DOUBLE")
    val m = manifest("w2")
    assert(m.schema("price").dataType === org.apache.spark.sql.types.DoubleType)
    // a float stat string re-parsed as double is a DIFFERENT number — the
    // widening must strip the column's stats on pre-widening files (and
    // keep every other column's)
    assert(m.files.forall(e => !e.stats.contains(1)),
      "pre-widening float min/max stats must be stripped")
    assert(m.files.forall(_.stats.contains(0)),
      "other columns keep their stats")
    // min/max pushdown DECLINES (a stats-less file) — and the scan still
    // computes the exact float-precision-widened extremes
    val agg = spark.sql("SELECT min(price) AS mn, max(price) AS mx FROM fidcat.w2")
    assert(!agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "stripped stats must decline the manifest-only aggregate")
    val r = agg.collect()(0)
    assert(r.getDouble(0) === 0.0 && r.getDouble(1) === 39.0f.toDouble)
    val s = spark.sql("SELECT sum(price) AS s FROM fidcat.w2").collect()(0)
      .getDouble(0)
    assert(s === (0 until 40).map(_.toFloat.toDouble).sum,
      "old bytes decode at float and widen value-exactly")
  }

  test("int→bigint widening of a bucket layout column keeps bucket pruning") {
    catBase
    spark.range(0, 200).selectExpr("cast(id as int) as k", "id * 2 as v")
      .write.format("graft-store").option("partitionBy", "bucket(8,k)")
      .mode("overwrite").save(s"$catBase/w5")
    spark.sql("ALTER TABLE fidcat.w5 ALTER COLUMN k TYPE BIGINT")
    spark.range(200, 400).selectExpr("id as k", "id * 2 as v")
      .write.format("graft-store").mode("append").save(s"$catBase/w5")
    // bucket ids hash int-as-long by design, so a long probe prunes the
    // files of BOTH eras structurally
    val df = spark.sql("SELECT k, v FROM fidcat.w5 WHERE k = 7")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((7L, 14L)))
    val desc = df.queryExecution.executedPlan.toString
    val fm2 = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(fm2.exists(g => g.group(1).toInt < g.group(2).toInt),
      s"bucket pruning must survive the widening:\n$desc")
  }

  test("unsafe retypes and encoding-referenced widenings refuse loudly") {
    catBase
    seedW("w3")
    intercept[Exception](
      spark.sql("ALTER TABLE fidcat.w3 ALTER COLUMN tag TYPE INT"))
    intercept[Exception](
      spark.sql("ALTER TABLE fidcat.w3 ALTER COLUMN k TYPE STRING"))
    // a live equality delete keys on k at the CURRENT (narrow) type — its
    // store would mis-decode after a widening; refuse until purged
    spark.sql("ALTER TABLE fidcat.w3 SET TBLPROPERTIES ('dmlMode'='mor')")
    GraftStoreOps.upsertMor(spark, s"$catBase/w3",
      Seq((3, 0.25f, "u")).toDF("k", "price", "tag"), Seq("k"))
    val ex = intercept[Exception](
      spark.sql("ALTER TABLE fidcat.w3 ALTER COLUMN k TYPE BIGINT"))
    assert(ex.getMessage.contains("equality deletes"))
    assert(manifest("w3").schema("k").dataType ===
      org.apache.spark.sql.types.IntegerType, "rejected retype must not commit")
  }

  test("feeds pinned before a widening fail loudly on pre-widening files") {
    catBase
    seedW("c2")
    spark.sql("ALTER TABLE fidcat.c2 ALTER COLUMN k TYPE BIGINT")
    spark.range(40, 50).selectExpr("id as k", "cast(id as float) as price",
        "concat('s', id) as tag")
      .write.format("graft-store").mode("append").save(s"$catBase/c2")
    val ex = intercept[Exception] {
      spark.read.format("graft-store")
        .option("readChangeFeed", "true").option("startSnapshot", "0")
        .load(s"$catBase/c2").count()
    }
    assert(ex.getMessage.contains("widening"),
      s"expected a loud pre-widening-layout failure, got: ${ex.getMessage}")
  }

  test("mergeInto accepts a source still at the pre-widening width") {
    catBase
    seedW("w6")
    spark.sql("ALTER TABLE fidcat.w6 ALTER COLUMN k TYPE BIGINT")
    // the source's int key / float price widen up-front — pre-widening
    // producers keep feeding the widened table
    GraftStoreOps.mergeInto(spark, s"$catBase/w6",
      Seq((5, 0.5f, "upd"), (1000, 1.5f, "new")).toDF("k", "price", "tag"), "k")
    val vals = spark.sql("SELECT k, tag FROM fidcat.w6")
      .as[(Long, String)].collect().toMap
    assert(vals(5L) === "upd" && vals(1000L) === "new" && vals.size === 41)
  }

  test("compaction rewrites an evolved table back to plain prefix layouts") {
    catBase
    seed("k1")
    spark.sql("ALTER TABLE fidcat.k1 DROP COLUMN v")
    GraftStoreOps.compactSnapshot(spark, s"$catBase/k1", 64L * 1024 * 1024)
    val m = manifest("k1")
    assert(m.fieldMeta.isEmpty,
      "compaction (an overwrite) physically drops dead bytes and resets ids")
    assert(m.schema.fieldNames.toSeq === Seq("id", "tag"))
    val rows = spark.sql("SELECT id, tag FROM fidcat.k1").as[(Long, String)]
      .collect().toMap
    assert(rows.size === 40 && rows(3L) === "s3")
  }
}
