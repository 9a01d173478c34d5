package graft.sources.v2

import graft.Fixture
import graft.sources.v2.FlakyRenameFs.{callsUnder, metadataOpens, mvDepsCalls}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Head-manifest / segment METADATA CACHE: manifests are write-once per
  * name and segments are content-addressed, so parsed metadata is reusable
  * across scans — an interactive/repeated query against a million-file
  * table must not re-pay the metadata parse per scan, and a commit must
  * re-parse only its churn. A parse opens the manifest or segment file (a
  * cache hit only validates it by a status call), so these tests pin the
  * opens that the `flaky:` filesystem logs under each test's own table
  * directory ([[FlakyRenameFs.callsUnder]]). */
class GraftStoreMetaCacheSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  test("second scan of an unchanged table parses zero manifest bytes") {
    val dir = FlakyRenameFs.dir(conf)
    spark.range(0, 2000).repartition(200).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    // warm: the first scan parses the manifest + its 200-file segments
    assert(spark.read.format("graft-store").load(dir).count() === 2000)
    val calls = callsUnder(dir) {
      val got = spark.read.format("graft-store").load(dir)
        .agg(sum("v")).collect()(0).getLong(0)
      assert(got === (0L until 2000L).map(_ * 2).sum)
    }
    assert(metadataOpens(calls) === 0,
      "an unchanged table's second scan must re-parse ZERO metadata files")
  }

  test("a head advance re-parses only the churn (segments stay cached)") {
    val dir = FlakyRenameFs.dir(conf)
    // 1000 files: content-defined chunking (boundary p = 1/64 per name)
    // yields ~16 chunks with near-certainty — a 200-file table can land in
    // ONE chunk (p ≈ 4%), where an append legitimately churns everything
    spark.range(0, 4000).repartition(1000).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    spark.read.format("graft-store").load(dir).count() // warm the caches
    val appended = callsUnder(dir) {
      spark.range(4000, 4010).coalesce(1).selectExpr("id", "id * 2 as v")
        .write.format("graft-store").mode("append").save(dir)
      assert(spark.read.format("graft-store").load(dir).count() === 4010)
    }
    assert(metadataOpens(appended) > 0, "the new manifest itself must parse")
    // the O(churn) property, in two deterministic halves: (a) the appended
    // manifest re-REFERENCES nearly every prior chunk — and the segment
    // cache serves chunks BY NAME, so a re-referenced chunk never
    // re-parses; (b) the next scan of the now-cached head parses zero
    // metadata files of this table
    val ms = GraftStoreFormat.listManifests(dir, conf)
    val before0 = GraftStoreFormat.manifestSegmentRefs(dir, conf, ms.init.last).toSet
    val after0 = GraftStoreFormat.manifestSegmentRefs(dir, conf, ms.last).toSet
    assert((before0 intersect after0).size >= before0.size - 2,
      s"the appended manifest must re-reference prior chunks " +
        s"(${(before0 intersect after0).size} of ${before0.size})")
    val next = callsUnder(dir) {
      assert(spark.read.format("graft-store").load(dir).count() === 4010)
    }
    assert(metadataOpens(next) === 0,
      "the post-append head must be fully cached on the next scan")
  }

  test("table delete + recreate is never served stale metadata") {
    val dir = Fixture.dir()
    spark.range(0, 50).selectExpr("id", "id * 3 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    assert(spark.read.format("graft-store").load(dir).count() === 50)
    val f = new Path(dir).getFileSystem(conf)
    f.delete(new Path(dir), true)
    // a fresh table at the same path and manifest NAME: the (length,
    // mtime) key must miss and the new content must be served
    spark.range(0, 7).selectExpr("id", "id * 5 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val got = spark.read.format("graft-store").load(dir)
      .agg(count(lit(1)), sum("v")).collect()(0)
    assert(got.getLong(0) === 7 && got.getLong(1) === (0L until 7L).map(_ * 5).sum)
  }

  test("recreate under a COLLIDING (length, mtime) key still serves fresh metadata") {
    // coarse-mtime filesystems (1s granularity on some object stores) can
    // recreate a same-named manifest with the SAME length inside the
    // granularity window — the key guard alone cannot tell them apart.
    // The seq-0 commit purges the path's cache entries (invalidateTable),
    // so even a forced exact key collision serves the new table.
    val dir = Fixture.dir()
    val f = new Path(dir).getFileSystem(conf)
    spark.range(10, 15).selectExpr("id", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    assert(spark.read.format("graft-store").load(dir) // cache the manifest
      .agg(sum("v")).collect()(0).getLong(0) === (10L until 15L).map(_ * 2).sum)
    val oldSt = f.getFileStatus(
      GraftStoreFormat.listManifests(dir, conf).head)
    f.delete(new Path(dir), true)
    // same schema/row count, 2-digit values both eras: byte-length-equal
    spark.range(10, 15).selectExpr("id", "id * 3 as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val p2 = GraftStoreFormat.listManifests(dir, conf).head
    f.setTimes(p2, oldSt.getModificationTime, -1) // force the collision
    val newSt = f.getFileStatus(p2)
    assert(newSt.getLen === oldSt.getLen &&
      newSt.getModificationTime === oldSt.getModificationTime,
      "fixture must produce an exact (length, mtime) key collision")
    assert(spark.read.format("graft-store").load(dir)
      .agg(sum("v")).collect()(0).getLong(0) === (10L until 15L).map(_ * 3).sum,
      "stale cached manifest served after delete + recreate")
  }

  test("CALL procedures and CDC reads re-parse zero metadata on a warm cache") {
    val dir = FlakyRenameFs.dir(conf)
    spark.conf.set("spark.sql.catalog.mcproc", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mcproc.base", new Path(dir).getParent.toString)
    try {
      val name = new Path(dir).getName
      spark.range(0, 100).selectExpr("id", "id as v")
        .write.format("graft-store").mode("overwrite").save(dir)
      spark.range(100, 120).selectExpr("id", "id as v")
        .write.format("graft-store").mode("append").save(dir)
      spark.sql(s"DELETE FROM mcproc.`$name` WHERE id < 10")
      // warm every consumer once: scan, history metadata table, CDC read
      spark.read.format("graft-store").load(dir).count()
      spark.sql(s"SELECT * FROM mcproc.`$name$$history`").count()
      spark.read.format("graft-store").option("readChangeFeed", "true")
        .option("startSnapshot", "0").load(dir).count()
      GraftStoreOps.history(spark, dir)
      val calls = callsUnder(dir) {
        // metadata-table path, procedure-style driver metadata reads, and
        // the CDC reader must all serve from the parsed-manifest cache
        spark.sql(s"SELECT * FROM mcproc.`$name$$history`").count()
        GraftStoreOps.history(spark, dir)
        assert(spark.read.format("graft-store").option("readChangeFeed", "true")
          .option("startSnapshot", "0").load(dir).count() === 130)
      }
      assert(metadataOpens(calls) === 0,
        "warm-cache procedure/CDC statements must re-parse ZERO metadata files")
    } finally {
      spark.conf.unset("spark.sql.catalog.mcproc")
      spark.conf.unset("spark.sql.catalog.mcproc.base")
    }
  }

  test("rewrite probe: warm aggregates issue zero FS probes; a same-JVM " +
      "commit flips MV freshness immediately") {
    val base = FlakyRenameFs.dir(conf)
    spark.conf.set("spark.sql.catalog.mcprobe", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mcprobe.base", base)
    // a large TTL makes the zero-FS-reads pin deterministic AND proves the
    // freshness flip below comes from commit-time INVALIDATION, not expiry
    spark.conf.set("spark.graft.mv.probeCacheMs", "600000")
    try {
      val src = s"$base/src"
      spark.range(0, 1000).selectExpr("cast(id % 7 as string) as k", "id as v")
        .write.format("graft-store").mode("overwrite").save(src)
      spark.sql("CALL mcprobe.system.create_mview('mv', " +
        "'SELECT k, count(*) AS n, sum(v) AS sv FROM mcprobe.src GROUP BY k')")
      def q() = spark.sql(
        "SELECT k, count(*) AS n, sum(v) AS sv FROM mcprobe.src GROUP BY k")
      def served(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.toString.contains(s"$base/mv")
      assert(served(q())) // warm: this probe pays the FS reads
      q().collect()
      val calls = callsUnder(base) {
        (1 to 5).foreach { _ =>
          val df = q()
          assert(served(df))
          assert(df.count() === 7)
        }
      }
      assert(mvDepsCalls(calls) === 0,
        "N repeated aggregates over an MV'd table must issue ZERO " +
          "probe filesystem reads after the first")
      assert(metadataOpens(calls) === 0,
        "warm rewrite probes must re-parse ZERO dep/manifest files")
      // a same-JVM commit purges the probe entry through commitManifest —
      // the very next query must see the MV as stale (well inside the TTL)
      spark.range(1000, 1010).selectExpr("cast(id % 7 as string) as k", "id as v")
        .write.format("graft-store").mode("append").save(src)
      val afterCommit = q()
      assert(!served(afterCommit),
        "a base-table commit must flip rewrite freshness IMMEDIATELY")
      assert(afterCommit.agg(sum("n")).collect()(0).getLong(0) === 1010)
      // refresh re-arms the rewrite (the MV-side probe entry was purged by
      // the refresh commit itself)
      spark.sql("CALL mcprobe.system.refresh_mview('mv')")
      assert(served(q()))
    } finally {
      spark.conf.unset("spark.sql.catalog.mcprobe")
      spark.conf.unset("spark.sql.catalog.mcprobe.base")
      spark.conf.unset("spark.graft.mv.probeCacheMs")
    }
  }

  test("the OCC loop and concurrent commits stay correct under the cache") {
    val dir = Fixture.dir()
    spark.range(0, 100).selectExpr("id", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    // interleave reads (cache populates) with appends (head advances):
    // every read must see exactly the committed prefix
    (1 to 5).foreach { i =>
      spark.range(i * 1000L, i * 1000L + 10).selectExpr("id", "id as v")
        .write.format("graft-store").mode("append").save(dir)
      assert(spark.read.format("graft-store").load(dir).count() === 100 + 10L * i)
    }
    val m = GraftStoreFormat.readLatestManifest(dir, conf).get
    assert(m.files.nonEmpty)
  }
}
