package graft.sources.v2

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under the `flaky:` scheme whose `rename` returns
  * false, without moving anything, when [[FlakyRenameFs.fails]] says so —
  * how some filesystems report a failed rename instead of throwing. */
class FlakyRenameFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("flaky:///")
  override def getScheme: String = "flaky"
  override def rename(src: Path, dst: Path): Boolean =
    if (FlakyRenameFs.fails(src)) false else super.rename(src, dst)
}

object FlakyRenameFs {
  @volatile var fails: Path => Boolean = _ => false
}

/** A commit whose move of a written file into the table returns false
  * publishes nothing: the commit fails, the files it already moved and its
  * scratch are removed, and the table reads as before. */
class GraftStoreRenameSpec extends AnyFunSuite with graft.SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration

  private lazy val base: String = {
    conf.set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    conf.setBoolean("fs.flaky.impl.disable.cache", true)
    val b = "flaky:" + Files.createTempDirectory("graft-rename").toString
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
    assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("could not move"))), err)
    assert(GraftStoreOps.snapshotCount(spark, dir) === snaps)
    assert(listing(dir) === before)
    assert(rowsOf(dir) === rows)
    spark.sql("UPDATE rncat.ud SET v = v + 1 WHERE id < 5")
    assert(rowsOf(dir).take(5) === (0L until 5L).map(i => (i, i * 10 + 1)))
  }
}
