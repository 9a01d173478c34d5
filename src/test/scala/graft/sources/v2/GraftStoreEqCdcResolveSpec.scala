package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in CDC resolution for EQUALITY deletes (`resolveEqDeletes=true`):
  * the feed scans the commit's covered pre-commit files, applies their
  * prior masks, and key-probes the new stores — emitting delete
  * pre-images for exactly the rows the commit killed. The loud-fail
  * default is unchanged: key-addressed deletion costs a covered-file
  * read, and the feed never pays it silently. */
class GraftStoreEqCdcResolveSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private def seed(dir: String): Unit =
    spark.range(0, 100).selectExpr("id", "id * 2 as v")
      .repartitionByRange(2, col("id"))
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)

  test("default stays loud; resolveEqDeletes emits exact delete pre-images") {
    val dir = Fixture.dir()
    seed(dir)
    GraftStoreOps.upsertMor(spark, dir,
      (0L until 10L).map(i => (i, i * 7)).toDF("id", "v"), Seq("id"))
    // default: loud
    val ex = intercept[Exception] {
      spark.read.format("graft-store")
        .option("readChangeFeed", "true").option("startSnapshot", "0")
        .load(dir).count()
    }
    assert(ex.getMessage.contains("resolveEqDeletes"))
    // opt-in: the upsert batch resolves as 10 delete pre-images (old
    // versions) + 10 inserts (new versions), on top of snap 0's 100 inserts
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "0")
      .option("resolveEqDeletes", "true")
      .load(dir)
    val byType = feed.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("insert") === 110L)
    assert(byType("delete") === 10L)
    // pre-images carry the OLD values (v = 2i, not 7i)
    val dels = feed.filter(col("change_type") === "delete")
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(dels.size === 10 && (0L until 10L).forall(i => dels(i) === i * 2))
  }

  test("already-dead rows never re-emit; delete-by-key of a missing key emits nothing") {
    val dir = Fixture.dir()
    seed(dir)
    // kill ids 0-4 positionally first, then an eq delete spanning 0-9
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 5)
    GraftStoreOps.deleteByKeyMor(spark, dir,
      (0L until 10L).map(Tuple1(_)).toDF("id"))
    // and one more eq delete naming keys that no longer exist anywhere
    GraftStoreOps.deleteByKeyMor(spark, dir,
      Seq(7L, 999L).map(Tuple1(_)).toDF("id"))
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "0")
      .option("resolveEqDeletes", "true")
      .load(dir)
    val dels = feed.filter(col("change_type") === "delete")
      .select("id", "_commit_snapshot").as[(Long, Long)].collect()
    // positional commit: ids 0-4; first eq commit: only the still-live 5-9;
    // second eq commit: nothing (7 already dead, 999 never existed)
    val bySnap = dels.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._1).sorted.toSeq }
    assert(bySnap.values.toSeq.map(_.size).sorted === Seq(5, 5))
    assert(bySnap.values.exists(_ == (0L until 5L)))
    assert(bySnap.values.exists(_ == (5L until 10L)))
    assert(spark.read.format("graft-store").load(dir).count() === 90)
  }

  test("streaming feed resolves eq commits with the flag") {
    val dir = Fixture.dir()
    seed(dir)
    GraftStoreOps.upsertMor(spark, dir,
      (95L until 105L).map(i => (i, i * 7)).toDF("id", "v"), Seq("id"))
    val out = Fixture.dir()
    val ckpt = Fixture.dir()
    val q = spark.readStream.format("graft-store")
      .option("readChangeFeed", "true").option("resolveEqDeletes", "true")
      .load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out)
    val byType = got.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 100 initial inserts + 10 upsert-batch inserts; 5 old versions die
    // (ids 95-99 existed; 100-104 are pure inserts)
    assert(byType("insert") === 110L)
    assert(byType("delete") === 5L)
  }
}
