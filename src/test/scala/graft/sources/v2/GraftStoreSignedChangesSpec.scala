package graft.sources.v2

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftStoreOps.signedChanges]] reads a file whose masks only grew
  * through one positional walk over its newly masked rows. These specs
  * check it against the reference it replaces — every changed file read
  * whole at both snapshots — after netting, over seeded random
  * merge-on-read histories: appends, position deletes, MOR updates, two
  * delete stores recording the same position, equality deletes (a change
  * of equality-delete scope), restores that shrink a mask, and
  * compactions, with several commits in most ranges. */
class GraftStoreSignedChangesSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Files.createTempDirectory("graft-signed").toString
    spark.conf.set("spark.sql.catalog.sgcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.sgcat.base", base)
    base
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The former read: a file whose listing or masks changed is read whole
    * at `from` (sign -1) and at `to` (sign +1). */
  private def readBoth(dir: String, from: Int, to: Int): DataFrame = {
    val ms = GraftStoreFormat.listManifests(dir, conf)
    val mFrom = GraftStoreFormat.readManifestFile(dir, conf, ms(from))
    val mTo = GraftStoreFormat.readManifestFile(dir, conf, ms(to))
    def delSig(mf: GraftManifest, e: GraftFileEntry): Seq[String] =
      (mf.deletes.filter(_.covers(e.name)).map(_.name) ++
        mf.eqDeletes.filter(_.covers(e)).map(_.name)).sorted
    val toEntries = mTo.files.map(e => e.name -> e).toMap
    val masked = mFrom.files.filter(e => toEntries.contains(e.name))
      .filter(e => delSig(mFrom, e) != delSig(mTo, toEntries(e.name))).map(_.name)
    val fromNames = mFrom.files.map(_.name).toSet
    def read(names: Seq[String], snap: Int) =
      if (names.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mFrom.schema)
      else spark.read.format("graft-store").option("snapshot", snap)
        .option("files", names.mkString(",")).load(dir)
    read(mFrom.files.map(_.name).filterNot(toEntries.contains) ++ masked, from)
      .withColumn("_sign", lit(-1L))
      .unionByName(read(mTo.files.map(_.name).filterNot(fromNames) ++ masked, to)
        .withColumn("_sign", lit(1L)))
  }

  /** Net signed rows, canonicalized: (row, summed sign) with zeros dropped. */
  private def netted(df: DataFrame): Seq[String] =
    df.groupBy(df.columns.filterNot(_ == "_sign").map(col).toSeq: _*)
      .agg(sum("_sign").as("_n")).filter(col("_n") =!= 0L)
      .collect().map(_.toSeq.mkString("|")).sorted.toIndexedSeq

  /** Commit a copy of a live position-delete store under a new name: every
    * position it records is then recorded by two stores. */
  private def duplicateStore(dir: String): Unit = {
    val ms = GraftStoreFormat.listManifests(dir, conf)
    val head = GraftStoreFormat.readHead(dir, conf, ms).get
    head.deletes.lastOption.foreach { d =>
      val copy = s"dup-${java.util.UUID.randomUUID().toString.take(8)}-${d.name}"
      val fs = GraftStoreFormat.fs(dir, conf)
      FileUtil.copy(fs, new Path(dir, d.name), fs, new Path(dir, copy), false, conf)
      assert(GraftStoreFormat.commitManifest(dir, conf,
        head.copy(deletes = head.deletes :+ d.copy(name = copy),
          txn = None, cdc = None, dropCdc = Seq.empty),
        GraftStoreFormat.nextSeq(ms)))
    }
  }

  private def snapshots(dir: String): Int = GraftStoreFormat.listManifests(dir, conf).size

  private def checkRange(dir: String, from: Int, to: Int, what: String): Unit = {
    val got = GraftStoreOps.signedChanges(spark, dir, from, to)
    assert(netted(got) === netted(readBoth(dir, from, to)), s"$what [$from, $to]")
    val est = GraftStoreOps.signedChangeRowEstimate(spark, dir, from, to)
    val n = got.count()
    assert(n <= est, s"$what [$from, $to]: $n signed rows over the estimate $est")
  }

  private def history(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val name = s"h$seed"
    val dir = s"$catBase/$name"
    var nextId = 0L
    def rows(n: Int): DataFrame = {
      val out = (0 until n).map { _ =>
        nextId += 1
        (nextId, rnd.nextInt(6), rnd.nextInt(50).toLong)
      }
      out.toDF("id", "g", "v")
    }
    rows(120).repartition(2).write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    val ops = scala.collection.mutable.ArrayBuffer("create")
    (1 to 14).foreach { _ =>
      val op = rnd.nextInt(8) match {
        case 0 =>
          rows(5 + rnd.nextInt(20)).write.format("graft-store").mode("append").save(dir)
          "append"
        case 1 | 2 =>
          GraftStoreOps.deleteWhereMor(spark, dir, col("v") % 7 === rnd.nextInt(7))
          "position delete"
        case 3 =>
          spark.sql(s"UPDATE sgcat.$name SET v = v + 1 WHERE id % 9 = ${rnd.nextInt(9)}")
          "MOR update"
        case 4 => duplicateStore(dir); "duplicate store"
        case 5 =>
          GraftStoreOps.deleteByKeyMor(spark, dir,
            Seq.fill(3)(1L + rnd.nextInt(nextId.toInt)).toDF("id"))
          "equality delete"
        case 6 =>
          GraftStoreOps.restoreSnapshot(spark, dir, rnd.nextInt(snapshots(dir)))
          "restore"
        case _ => GraftStoreOps.compactSnapshot(spark, dir, 1L << 20); "compact"
      }
      // an op that published nothing (an empty delete) adds no snapshot
      if (snapshots(dir) > ops.size) ops += op
    }
    val n = snapshots(dir)
    (1 until n).foreach(i => checkRange(dir, i - 1, i, ops(i)))
    (0 until 6).foreach { _ =>
      val a = rnd.nextInt(n)
      val b = a + rnd.nextInt(n - a)
      checkRange(dir, a, b, ops.slice(a + 1, b + 1).mkString(", "))
    }
  }

  test("netted signedChanges equal the read-both result over random MOR histories") {
    catBase
    Seq(11L, 12L, 13L).foreach(history)
  }

  test("a position delete on a compacted file yields exactly its deleted rows") {
    val dir = s"$catBase/one"
    spark.range(0, 5000).selectExpr("id", "id % 10 as g", "id * 3 as v")
      .coalesce(1).write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") % 500 === 7L)
    duplicateStore(dir) // the same positions again: no new row dies
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") === 4001L)
    val got = GraftStoreOps.signedChanges(spark, dir, 0, 3)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    val want = ((0L until 5000L).filter(_ % 500 == 7L) :+ 4001L).sorted.map(i => (i, -1L))
    // one row per newly masked position, no carried ± pairs
    assert(got === want)
    // the estimate counts the new delete stores' rows, not the file
    val est = GraftStoreOps.signedChangeRowEstimate(spark, dir, 0, 3)
    assert(est >= want.size && est < 100, s"estimate $est")
    assert(GraftStoreOps.signedChanges(spark, dir, 1, 2).count() === 0L)
  }
}
