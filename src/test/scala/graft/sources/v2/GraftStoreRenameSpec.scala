package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A commit whose move of a written file into the table returns false
  * publishes nothing: the commit fails, the files it already moved and its
  * scratch are removed, and the table reads as before. */
class GraftStoreRenameSpec extends AnyFunSuite with graft.SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration

  private lazy val base: String = {
    val b = FlakyRenameFs.dir(conf)
    spark.conf.set("spark.sql.catalog.rncat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rncat.base", b)
    b
  }

  /** Top-level entries of the table directory, and the entries left under
    * its `_tmp` scratch root. */
  private def listing(dir: String): (Set[String], Set[String]) = {
    val fs = GraftStoreFormat.fs(dir, conf)
    val top = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
    val tmp = new Path(dir, "_tmp")
    (top - "_tmp",
      if (fs.exists(tmp)) fs.listStatus(tmp).map(_.getPath.getName).toSet else Set.empty)
  }

  private def morTable(name: String): String = {
    val dir = s"$base/$name"
    spark.range(0, 40).selectExpr("id", "id * 10 as v").coalesce(1)
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(dir)
    dir
  }

  private def failingOn(rule: Path => Boolean)(body: => Unit): Throwable = {
    FlakyRenameFs.fails = rule
    try intercept[Throwable](body)
    finally FlakyRenameFs.fails = _ => false
  }

  /** The commit failed on a move: Spark may wrap the commit's exception. */
  private def failedMove(err: Throwable): Boolean =
    Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("could not move")))

  private def rowsOf(dir: String): Seq[(Long, Long)] =
    spark.read.format("graft-store").load(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("refresh commit (replace-by-key): a failed rename publishes nothing") {
    val dir = morTable("rk")
    val before = listing(dir)
    val rows = rowsOf(dir)
    val snaps = GraftStoreOps.snapshotCount(spark, dir)
    import spark.implicits._
    // the key store moves first; failing the DATA file's move leaves a
    // moved key file behind that must be deleted again
    val err = failingOn(p => p.getParent.getName.matches("_rewrite-[^k]*")) {
      GraftStoreOps.replaceByKeyMor(spark, dir,
        Seq((3L, 333L), (50L, 500L)).toDF("id", "v"), Seq("id"),
        Seq(3L, 50L).toDF("id"))
    }
    assert(err.getMessage.contains("could not move"), err.getMessage)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snaps)
    assert(listing(dir) === before)
    assert(rowsOf(dir) === rows)
    // the same commit succeeds once renames do
    GraftStoreOps.replaceByKeyMor(spark, dir,
      Seq((3L, 333L), (50L, 500L)).toDF("id", "v"), Seq("id"), Seq(3L, 50L).toDF("id"))
    assert(rowsOf(dir).toMap.get(3L).contains(333L) && rowsOf(dir).size === 41)
  }

  test("MOR update commit: a failed rename publishes nothing") {
    val dir = morTable("ud")
    val before = listing(dir)
    val rows = rowsOf(dir)
    val snaps = GraftStoreOps.snapshotCount(spark, dir)
    // new row versions move first; failing the delete store's move leaves
    // moved data files behind that must be deleted again
    val err = failingOn(p => p.getParent.getName.endsWith("d") &&
        p.getParent.getParent.getName == "_tmp") {
      spark.sql("UPDATE rncat.ud SET v = v + 1 WHERE id < 5")
    }
    assert(failedMove(err), err)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snaps)
    assert(listing(dir) === before)
    assert(rowsOf(dir) === rows)
    spark.sql("UPDATE rncat.ud SET v = v + 1 WHERE id < 5")
    assert(rowsOf(dir).take(5) === (0L until 5L).map(i => (i, i * 10 + 1)))
  }

  test("append commit: a failed rename publishes nothing") {
    val dir = s"$base/ap"
    spark.range(0, 40).selectExpr("id", "id * 10 as v").coalesce(1)
      .write.format("graft-store").option("bloomCols", "id")
      .mode("overwrite").save(dir)
    val before = listing(dir)
    val rows = rowsOf(dir)
    val snaps = GraftStoreOps.snapshotCount(spark, dir)
    def append(): Unit = spark.range(40, 60).selectExpr("id", "id * 10 as v")
      .coalesce(1).write.format("graft-store").mode("append").save(dir)
    // data files move first; failing the bloom sidecar's move leaves moved
    // data files behind that must be deleted again
    val err = failingOn(_.getName.startsWith("bloom-"))(append())
    assert(failedMove(err), err)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snaps)
    assert(listing(dir) === before)
    assert(rowsOf(dir) === rows)
    append()
    assert(rowsOf(dir) === (0L until 60L).map(i => (i, i * 10)))
  }

  test("copy-on-write UPDATE commit: a failed rename publishes nothing") {
    val dir = s"$base/cw"
    spark.range(0, 40).selectExpr("id", "id * 10 as v").coalesce(2)
      .write.format("graft-store").mode("overwrite").save(dir)
    val before = listing(dir)
    val rows = rowsOf(dir)
    val snaps = GraftStoreOps.snapshotCount(spark, dir)
    // the update rewrites both files; the first rewritten file moves, the
    // second's move fails, so the first must be deleted again
    var moves = 0
    val err = failingOn { p =>
      p.getParent.getParent.getName == "_tmp" && { moves += 1; moves > 1 }
    } {
      spark.sql("UPDATE rncat.cw SET v = v + 1 WHERE id % 2 = 0")
    }
    assert(moves === 2)
    assert(failedMove(err), err)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snaps)
    assert(listing(dir) === before)
    assert(rowsOf(dir) === rows)
    spark.sql("UPDATE rncat.cw SET v = v + 1 WHERE id % 2 = 0")
    assert(rowsOf(dir) === (0L until 40L).map(i => (i, i * 10 + (if (i % 2 == 0) 1 else 0))))
  }

  /** A rename out of a `_rewrite-` scratch store into the table. */
  private def fromScratch(p: Path): Boolean = p.getParent.getName.startsWith("_rewrite-")

  test("merge-on-read DELETE commit: a failed rename publishes nothing") {
    val dir = morTable("md")
    val before = listing(dir)
    val rows = rowsOf(dir)
    val snaps = GraftStoreOps.snapshotCount(spark, dir)
    // the delete store's files move out of its scratch into the table
    val err = failingOn(fromScratch) {
      GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 5)
    }
    assert(failedMove(err), err)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snaps)
    assert(listing(dir) === before)
    assert(rowsOf(dir) === rows)
    GraftStoreOps.deleteWhereMor(spark, dir, col("id") < 5)
    assert(rowsOf(dir) === (5L until 40L).map(i => (i, i * 10)))
  }

  test("programmatic copy-on-write DELETE commit: a failed rename publishes nothing") {
    val dir = s"$base/cd"
    spark.range(0, 40).selectExpr("id", "id * 10 as v").coalesce(2)
      .write.format("graft-store").mode("overwrite").save(dir)
    val before = listing(dir)
    val rows = rowsOf(dir)
    val snaps = GraftStoreOps.snapshotCount(spark, dir)
    // both files are rewritten; the first moves, the second's move fails,
    // so the first must be deleted again
    var moves = 0
    val err = failingOn(p => fromScratch(p) && { moves += 1; moves > 1 }) {
      GraftStoreOps.deleteWhere(spark, dir, col("id") % 2 === 0)
    }
    assert(moves === 2)
    assert(failedMove(err), err)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snaps)
    assert(listing(dir) === before)
    assert(rowsOf(dir) === rows)
    GraftStoreOps.deleteWhere(spark, dir, col("id") % 2 === 0)
    assert(rowsOf(dir) === (1L until 40L by 2).map(i => (i, i * 10)))
  }

  test("re-layout of old-spec files: a failed rename publishes nothing") {
    val dir = s"$base/rl"
    spark.range(0, 40).selectExpr("id", "id % 4 as k").coalesce(1)
      .write.format("graft-store").mode("overwrite").save(dir)
    GraftStoreOps.evolvePartitionSpec(spark, dir, Some("bucket(2,k)"))
    val before = listing(dir)
    val rows = rowsOf(dir)
    val snaps = GraftStoreOps.snapshotCount(spark, dir)
    val err = failingOn(fromScratch)(GraftStoreOps.rewriteOldSpecFiles(spark, dir))
    assert(failedMove(err), err)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snaps)
    assert(listing(dir) === before)
    assert(rowsOf(dir) === rows)
    assert(GraftStoreOps.rewriteOldSpecFiles(spark, dir)._1 === 1)
    assert(rowsOf(dir) === rows)
  }
}
