package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Bloom sidecar indexes (`bloomCols` write option / table property —
  * Iceberg Puffin / Delta bloom-index analogue).
  *
  * Min/max stats prune range-clustered columns; blooms prune equality
  * lookups on HIGH-CARDINALITY, UNSORTED columns where every file's
  * [min,max] spans the domain and stats skip nothing. `mightContain ==
  * false` is definite absence (skip is safe); a false positive costs a
  * file read, never a wrong answer.
  */
class GraftStoreBloomSpec extends AnyFunSuite with graft.SparkTestBase {

  private def scanFiles(df: DataFrame): (Int, Int) = {
    val s = df.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(s)
    assert(m.isDefined, s"no graft-store scan in plan:\n${s.take(2000)}")
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  /** Keys deliberately SHUFFLED across files: every file's [min,max]
    * spans ~the whole domain, so stats-based skipping is blind and any
    * pruning observed is the bloom's. */
  private def writeShuffled(dir: String, n: Long, files: Int): Unit =
    spark.range(0, n)
      .selectExpr("id * 2654435761 % 1000000007 as key", "id as v")
      .repartition(files)
      .write.format("graft-store").option("bloomCols", "key")
      .mode("overwrite").save(dir)

  test("point lookup on an unsorted high-cardinality column skips files") {
    val dir = Fixture.dir()
    writeShuffled(dir, 20000, 8)
    val key = 7L * 2654435761L % 1000000007L
    val q = spark.read.format("graft-store").load(dir).filter(col("key") === key)
    assert(q.collect().map(_.getLong(1)) === Array(7L))
    val (sel, total) = scanFiles(q)
    assert(total === 8)
    // the key lives in one file; ~2% fpp leaves sel well under total
    assert(sel <= 2, s"files=$sel/$total — bloom did not skip")
  }

  test("absent key: definite absence skips everything, result is empty") {
    val dir = Fixture.dir()
    writeShuffled(dir, 10000, 6)
    val q = spark.read.format("graft-store").load(dir)
      .filter(col("key") === 999999999999L)
    assert(q.count() === 0)
    val (sel, total) = scanFiles(q)
    assert(sel <= 1, s"files=$sel/$total — absent key still read files")
  }

  test("append inherits the bloom property; sidecars accumulate per commit") {
    val dir = Fixture.dir()
    writeShuffled(dir, 5000, 4)
    // append WITHOUT the option: property inherited, new files indexed
    spark.range(100000, 102000).selectExpr("id as key", "id as v")
      .repartition(2)
      .write.format("graft-store").mode("append").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.bloomCols === Some("key"))
    assert(m.blooms.size >= 2, s"expected sidecars from both commits, got ${m.blooms.size}")
    val q = spark.read.format("graft-store").load(dir).filter(col("key") === 100123L)
    assert(q.collect().map(_.getLong(1)) === Array(100123L))
    val (sel, total) = scanFiles(q)
    // appended files are range-tight (stats prune them); old files bloom-prune
    assert(sel <= 2, s"files=$sel/$total")
  }

  test("IN-list probes every value; results match a full scan") {
    val dir = Fixture.dir()
    writeShuffled(dir, 20000, 8)
    def k(i: Long) = i * 2654435761L % 1000000007L
    val keys = Seq(k(3), k(777), k(19999))
    val pruned = spark.read.format("graft-store").load(dir)
      .filter(col("key").isin(keys: _*)).collect().map(_.getLong(1)).sorted
    assert(pruned === Array(3L, 777L, 19999L))
    val full = spark.read.format("graft-store").load(dir).collect()
      .filter(r => keys.contains(r.getLong(0))).map(_.getLong(1)).sorted
    assert(pruned === full)
  }

  test("runtime join keys probe blooms (bloom cols are filter attributes)") {
    val dir = Fixture.dir()
    writeShuffled(dir, 20000, 8)
    def k(i: Long) = i * 2654435761L % 1000000007L
    val dim = spark.range(0, 200)
      .selectExpr("id", "id DIV 100 as g")
      .filter(col("g") === 0L)
      .select((col("id") * 2654435761L % 1000000007L).as("dk"))
    val fact = spark.read.format("graft-store").load(dir)
    val j = fact.join(dim, col("key") === col("dk")).agg(count(lit(1)).as("n"))
    assert(j.collect()(0).getLong(0) === 100L)
    // 100 probe values against 8 files: most files hold some of them, so
    // this asserts only correctness + no-crash on the runtime path; the
    // single-key skipping power is pinned by the tests above
  }

  test("overwrite resets property and sidecars; stale entries drop at render") {
    val dir = Fixture.dir()
    writeShuffled(dir, 5000, 4)
    spark.range(0, 100).selectExpr("id as key", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir)
    val m = GraftStoreFormat.readLatestManifest(
      dir, spark.sparkContext.hadoopConfiguration).get
    assert(m.bloomCols === None)
    assert(m.blooms.isEmpty, "overwrite must not carry stale sidecar entries")
  }

  test("expiry reclaims sidecars only when no retained snapshot references them") {
    val dir = Fixture.dir()
    writeShuffled(dir, 3000, 3) // snap 0 (bloom sidecars)
    spark.range(0, 10).selectExpr("id as key", "id as v")
      .write.format("graft-store").mode("overwrite").save(dir) // snap 1, no blooms
    spark.range(10, 20).selectExpr("id as key", "id as v")
      .write.format("graft-store").mode("append").save(dir) // snap 2
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def sidecarsOnDisk: Int = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(_.getPath.getName.startsWith("bloom-"))
    assert(sidecarsOnDisk >= 1)
    // keep last 3 → snapshot 0 retained → sidecars stay
    GraftStoreOps.expireSnapshots(spark, dir, keepLast = 3)
    assert(sidecarsOnDisk >= 1)
    // keep last 1 → snapshot 0 dropped → sidecars reclaimed
    GraftStoreOps.expireSnapshots(spark, dir, keepLast = 1)
    assert(sidecarsOnDisk === 0)
    assert(spark.read.format("graft-store").load(dir).count() === 20)
  }

  test("time travel to a bloom-indexed snapshot still prunes and reads correctly") {
    val dir = Fixture.dir()
    writeShuffled(dir, 10000, 5) // snap 0
    spark.range(0, 10).selectExpr("id * 2654435761 % 1000000007 as key", "id + 50000 as v")
      .write.format("graft-store").mode("append").save(dir) // snap 1
    val key = 42L * 2654435761L % 1000000007L
    val q0 = spark.read.format("graft-store").option("snapshot", "0").load(dir)
      .filter(col("key") === key)
    assert(q0.collect().map(_.getLong(1)) === Array(42L))
  }

  test("declaring a bloom column of unsupported type fails loudly") {
    val dir = Fixture.dir()
    val e = intercept[Exception] {
      spark.range(0, 10).selectExpr("id as key", "cast(id as double) as d")
        .write.format("graft-store").option("bloomCols", "d")
        .mode("overwrite").save(dir)
    }
    assert(e.getMessage != null && e.getMessage.contains("bloomCols"))
  }

  test("writer and prober agree on hashes across int/long widening") {
    for (v <- Seq(0L, 42L, -1L, Long.MaxValue)) {
      val hw = GraftBloomFilter.hashes(Long.box(v), LongType)
      val hp = GraftBloomFilter.hashes(Long.box(v): java.lang.Number, LongType)
      assert(hw === hp)
    }
    // int value probed against a long column widens identically
    assert(GraftBloomFilter.hashes(Int.box(7), LongType)
      === GraftBloomFilter.hashes(Long.box(7L), LongType))
    val bits = new Array[Long](GraftBloomFilter.DefaultBits / 64)
    val h = GraftBloomFilter.hashes(Long.box(123L), LongType).get
    assert(!GraftBloomFilter.mightContain(bits, h))
    GraftBloomFilter.set(bits, h)
    assert(GraftBloomFilter.mightContain(bits, h))
  }
}
