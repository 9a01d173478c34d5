package graft

import graft.streaming.StreamingNearDup
import org.scalatest.funsuite.AnyFunSuite

class StreamingNearDupSpec extends AnyFunSuite with SparkTestBase {

  private val A = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  private val A2 = "the quick brown fox jumps over the lazy dog and runs far away home today"
  private val A3 = "the quick brown fox jumps over the lazy dog and runs far away home yesterday"
  private val B = "completely different content about distributed query engines and shuffle planning"
  private val C = "unrelated third document mentioning columnar storage formats and vectorized readers"

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)
  }

  private def runStream(dir: String, name: String): Map[Long, Long] = {
    val docs = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val hits = StreamingNearDup.candidates(spark, docs, "doc_id", "text",
      numHashes = 32, rowsPerBand = 4, shingleN = 2)
    val q = hits.toDF().writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).select("doc_id", "dup_of").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("single batch: near-dups collide with the lowest-id canonical, distinct docs don't") {
    val dir = Fixture.dir()
    writeDocs(dir, Seq(1L -> A, 2L -> A2, 3L -> B, 4L -> A3, 5L -> C))
    val got = runStream(dir, "neardup_single")
    assert(got.get(2L).contains(1L), got.toString)
    assert(got.get(4L).contains(1L), got.toString)
    assert(!got.contains(3L), got.toString)
    assert(!got.contains(5L), got.toString)
    assert(!got.contains(1L), got.toString) // the canonical is not its own dup
  }

  test("cross-batch: bucket state remembers batch-1 canonicals when batch 2 arrives") {
    val dir = Fixture.dir()
    writeDocs(dir, Seq(10L -> A, 11L -> B))
    Thread.sleep(150) // distinct mtimes → deterministic file → batch order
    writeDocs(dir, Seq(12L -> A2, 13L -> C))
    val got = runStream(dir, "neardup_multi")
    // doc 12 arrives a batch later yet still collides with doc 10's buckets
    assert(got.get(12L).contains(10L), got.toString)
    assert(!got.contains(11L), got.toString)
    assert(!got.contains(13L), got.toString)
  }

  test("RocksDB state store produces identical candidates (large-state path)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = Fixture.dir()
      writeDocs(dir, Seq(1L -> A, 2L -> A2, 3L -> B, 4L -> A3, 5L -> C))
      val got = runStream(dir, "neardup_rocksdb")
      assert(got.get(2L).contains(1L), got.toString)
      assert(got.get(4L).contains(1L), got.toString)
      assert(!got.contains(3L) && !got.contains(5L), got.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming candidates ⊆ batch candidate pairs (same LSH parameters)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docsDf = Seq(1L -> A, 2L -> A2, 3L -> B, 4L -> A3, 5L -> C).toDF("doc_id", "text")
    val sig = graft.ext.Dedup.withMinHash(docsDf, "text", 32, 2)
      .select(col("doc_id"), col("sig"))
    val banded = graft.ext.Dedup.bandHashes(sig, 32, 4)
      .select(col("doc_id"), col("band_id"), col("band_hash"))
    val batchPairs = graft.ext.Dedup.candidatePairs(banded, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = Fixture.dir()
    writeDocs(dir, Seq(1L -> A, 2L -> A2, 3L -> B, 4L -> A3, 5L -> C))
    val streamHits = runStream(dir, "neardup_subset")
    streamHits.foreach { case (doc, dupOf) =>
      val pair = (math.min(doc, dupOf), math.max(doc, dupOf))
      assert(batchPairs.contains(pair), s"streaming pair $pair not in batch $batchPairs")
    }
  }
}
