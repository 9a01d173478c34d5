package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Optimistic concurrency of the graft-store commit protocol: the manifest
  * name IS the snapshot sequence number, claimed by exclusive create — of
  * two writers publishing from the same head, exactly one wins the seq and
  * the loser must re-read + re-merge before retrying (lost-update freedom).
  * This removes the single-writer caveat the pre-OCC format carried. */
class GraftStoreOccSpec extends AnyFunSuite with graft.SparkTestBase {

  test("CAS: two writers from one head — one wins the seq, the loser re-merges, no snapshot lost") {
    val dir = Fixture.dir()
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = StructType.fromDDL("id BIGINT")
    def entry(n: String, rows: Long) = GraftFileEntry(n, rows, Map.empty)

    // seed snapshot 0
    assert(GraftStoreFormat.commitManifest(dir, conf,
      GraftManifest(schema, Seq(entry("part-a", 1))), 0L))

    // writers A and B both observe head = seq 0 and target seq 1
    val head = GraftStoreFormat.listManifests(dir, conf)
    val seq = GraftStoreFormat.nextSeq(head)
    assert(seq === 1L)
    val base = GraftStoreFormat.readLatestManifest(dir, conf).get.files

    // B commits first: wins the exclusive create of _manifest-...1
    assert(GraftStoreFormat.commitManifest(dir, conf,
      GraftManifest(schema, base :+ entry("part-b", 2)), seq))
    // A's stale merge loses the CAS — must NOT silently overwrite B
    assert(!GraftStoreFormat.commitManifest(dir, conf,
      GraftManifest(schema, base :+ entry("part-c", 3)), seq))

    // A re-reads the NEW head, re-merges, retries at the next seq — wins
    val head2 = GraftStoreFormat.listManifests(dir, conf)
    val merged = GraftStoreFormat.readLatestManifest(dir, conf).get.files :+ entry("part-c", 3)
    assert(GraftStoreFormat.commitManifest(dir, conf,
      GraftManifest(schema, merged), GraftStoreFormat.nextSeq(head2)))

    // no lost update: the final snapshot carries BOTH writers' files
    val fin = GraftStoreFormat.readLatestManifest(dir, conf).get
    assert(fin.files.map(_.name) === Seq("part-a", "part-b", "part-c"))
    assert(GraftStoreFormat.listManifests(dir, conf).size === 3)

    // publication millis strictly increase even within one wall-clock ms
    // (asOfMillis time travel needs a total order)
    val millis = GraftStoreFormat.listManifests(dir, conf)
      .map(p => GraftStoreFormat.readManifestFile(dir, conf, p).millis)
    assert(millis === millis.sorted)
    assert(millis.distinct.size === millis.size, s"non-unique millis: $millis")
  }

  test("concurrent DSv2 appends serialize through the OCC loop: all rows survive") {
    val dir = Fixture.dir()
    spark.range(1).toDF("id").write.format("graft-store").mode("overwrite").save(dir)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() =>
        try spark.range(i * 100L, i * 100L + 10L).toDF("id")
          .write.format("graft-store").mode("append").save(dir)
        catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    assert(spark.read.format("graft-store").load(dir).count() === 41L)
    // every append landed as its own snapshot; none was lost or coalesced
    val hist = GraftStoreOps.history(spark, dir)
    assert(hist.size === 5, hist.toString)
    assert(hist.last._4 === 41L) // cumulative row count in the head snapshot
  }
}
