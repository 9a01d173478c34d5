package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Prune-skipping decode: column pruning reaches the DECODER, not just the
  * reader output. A narrow projection of a wide store must SEEK past the
  * fields it did not ask for (strings: length-prefix skip without UTF-8
  * materialization; fixed width: byte seek) instead of decoding them. The
  * scan's `bytesSkipped` SQL metric ([[GraftStoreOps.bytesSkipped]])
  * counts the payload bytes seeked past, so this suite can PROVE the skip
  * happens, per query. */
class GraftStorePruneDecodeSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  /** 10-column store: 2 longs, a double, a boolean, and six fat strings —
    * the wide-table shape where full-row decode dominates scan CPU. */
  private def seedWide(dir: String, n: Long = 2000L): Unit =
    spark.range(0, n)
      .selectExpr(
        "id",
        "id * 3 as v",
        "cast(id as double) / 7 as score",
        "id % 2 = 0 as flag",
        "repeat(concat('a', id), 20) as s1",
        "repeat(concat('b', id), 20) as s2",
        "repeat(concat('c', id), 20) as s3",
        "repeat(concat('d', id), 20) as s4",
        "repeat(concat('e', id), 20) as s5",
        "repeat(concat('f', id), 20) as s6")
      .write.format("graft-store").mode("overwrite").save(dir)

  test("narrow projection of a wide store skips pruned bytes; full read skips none") {
    val dir = Fixture.dir()
    seedWide(dir)
    val back = spark.read.format("graft-store").load(dir)

    val narrow = back.select("id", "v").agg(sum("v"))
    assert(narrow.collect()(0).getLong(0) === (0L until 2000L).map(_ * 3).sum)
    val narrowSkipped = GraftStoreOps.bytesSkipped(narrow)
    // six strings of ~60+ chars each x 2000 rows: megabytes of payload the
    // decoder must have seeked past, not materialized
    assert(narrowSkipped > 100L * 2000L,
      s"expected substantial skip for a 2-of-10 projection, got $narrowSkipped bytes")

    val full = back.select(back.columns.map(col): _*)
    assert(full.collect().length === 2000)
    val fullSkipped = GraftStoreOps.bytesSkipped(full)
    assert(fullSkipped === 0L,
      s"a full-width projection must decode everything (skipped $fullSkipped)")
  }

  test("pruned and full decode agree on every surviving column") {
    val dir = Fixture.dir()
    seedWide(dir, 500L)
    val back = spark.read.format("graft-store").load(dir)
    // string column read through the pruned path (s3 decoded, s1/s2/... skipped)
    val viaPruned = back.select("id", "s3").as[(Long, String)].collect().toMap
    val viaFull = back.collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(viaPruned === viaFull)
    // filter attributes fold into the required schema: filtering on a
    // column the projection drops still decodes it (and only it + output)
    val flagged = back.filter($"flag" && $"id" < 100).select("v")
    assert(flagged.collect().length === 50)
    assert(GraftStoreOps.bytesSkipped(flagged) > 0L)
  }

  test("nulls on the wire cost nothing to skip and stay null either way") {
    val dir = Fixture.dir()
    spark.range(0, 200)
      .selectExpr("id",
        "if(id % 3 = 0, null, repeat('x', 50)) as fat",
        "if(id % 5 = 0, cast(null as long), id * 2) as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val back = spark.read.format("graft-store").load(dir)
    val nullV = back.select("id", "v").filter($"v".isNull).agg(count(lit(1)))
    assert(nullV.collect()(0).getLong(0) === 40)
    // 2/3 of rows carry a 50-char string that was skipped
    assert(GraftStoreOps.bytesSkipped(nullV) >= 50L * 100L)
    assert(back.select("fat").filter($"fat".isNull).count() ===
      back.collect().count(_.isNullAt(1)))
  }

  test("equality-delete key columns widen the decode set only for scoped files") {
    val dir = Fixture.dir()
    seedWide(dir, 300L)
    // key-addressed upsert: the mask probe must read `id` from decoded rows
    // even when the projection asks only for s2 (full-width batch — the
    // upsert contract — with v rewritten to 3i+1 for the keyed rows)
    GraftStoreOps.upsertMor(spark, dir,
      spark.range(0, 50).selectExpr(
        "id", "id * 3 + 1 as v",
        "cast(id as double) / 7 as score", "id % 2 = 0 as flag",
        "repeat(concat('a', id), 20) as s1", "repeat(concat('b', id), 20) as s2",
        "repeat(concat('c', id), 20) as s3", "repeat(concat('d', id), 20) as s4",
        "repeat(concat('e', id), 20) as s5", "repeat(concat('f', id), 20) as s6"),
      Seq("id"))
    val back = spark.read.format("graft-store").load(dir)
    // ids 0..49 must come from the upsert batch (v = 3i+1), rest original
    val vs = back.select("id", "v").as[(Long, Long)].collect().toMap
    assert(vs(10L) === 31L && vs(100L) === 300L && vs.size === 300)
    // a projection that drops the key column entirely still masks correctly
    val s2s = back.select("s2").collect().length
    assert(s2s === 300)
    // and the skip machinery still engaged for the fat columns
    val ids = back.select("id").agg(count(lit(1)))
    ids.collect()
    assert(GraftStoreOps.bytesSkipped(ids) > 0L)
  }

  test("CDC feed decodes only projected columns from target files") {
    val dir = Fixture.dir()
    seedWide(dir, 400L)
    // COW delete produces a change store; batch CDC read with a narrow
    // projection should seek past the fat strings of pre/post images
    GraftStoreOps.deleteWhere(spark, dir, col("id") < 100)
    val feed = spark.read.format("graft-store")
      .option("readChangeFeed", "true").option("startSnapshot", "0")
      .load(dir)
      .select("id", "change_type")
    val deletes = feed.filter($"change_type" === "delete").agg(count(lit(1)))
    assert(deletes.collect()(0).getLong(0) === 100)
    assert(GraftStoreOps.bytesSkipped(deletes) > 0L,
      "CDC narrow projection should skip unprojected payload bytes")
  }
}
