package graft.sources.v2

import graft.Fixture

import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft-store reads report their work as SQL metrics of the plan that
  * ran: each query's count is its own, whatever runs beside it. */
class GraftScanMetricsSpec extends AnyFunSuite with graft.SparkTestBase
    with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def filesOf(dir: String): Int =
    GraftStoreFormat.readLatestManifest(dir, conf).get.files.size

  private def table(rows: Long, files: Int): String = {
    val dir = Fixture.dir()
    spark.range(0, rows).repartition(files).selectExpr("id", "id % 7 AS k")
      .write.format("graft-store").mode("overwrite").save(dir)
    dir
  }

  private def scan(dir: String): DataFrame =
    spark.read.format("graft-store").load(dir).groupBy("k").agg(sum("id"))

  test("two scans at once on one session each count their own slices") {
    val (a, b) = (table(4000, 8), table(3000, 5))
    val solo = Seq(a, b).map { d =>
      val q = scan(d)
      q.collect()
      GraftStoreOps.slicesOpened(q)
    }
    assert(solo === Seq(filesOf(a).toLong, filesOf(b).toLong))
    (1 to 3).foreach { _ =>
      val qs = Seq(scan(a), scan(b))
      val start = new CyclicBarrier(qs.size)
      val threads = qs.map { q =>
        new Thread(() => { start.await(); q.collect(); () })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(qs.map(GraftStoreOps.slicesOpened) === solo)
    }
  }

  test("refresh_mview reports the slices its plans opened") {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.smcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.smcat.base", base)
    try {
      val src = s"$base/src"
      Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)).toDF("g", "v")
        .repartition(4).write.format("graft-store").option("dmlMode", "mor")
        .mode("overwrite").save(src)
      spark.sql("CALL smcat.system.create_mview('mv', " +
        "'SELECT g, count(*) AS n, sum(v) AS s FROM smcat.src GROUP BY g')")
      val mvFiles = filesOf(s"$base/mv")
      assert(mvFiles === 1, "layout: the tiny view is one file")
      def refresh() = spark.sql("CALL smcat.system.refresh_mview('mv')").collect()(0)
      // an append: the one added file, then the view's one file for the
      // merge of the churned group
      Seq(("a", 10L)).toDF("g", "v").coalesce(1)
        .write.format("graft-store").mode("append").save(src)
      val r1 = refresh()
      assert(r1.getString(0) === "incremental")
      assert(r1.getLong(4) === 1L + mvFiles)
      // a merge-on-read delete only grows one file's mask: its newly
      // masked row comes from a positional walk of that file, then the
      // view's file again
      spark.sql("DELETE FROM smcat.src WHERE g = 'b'")
      val r2 = refresh()
      assert(r2.getString(0) === "incremental")
      assert(r2.getLong(4) === 1L + mvFiles)
      assert(spark.sql("SELECT g, n, s FROM smcat.mv").as[(String, Long, Long)]
        .collect().toSet === Set(("a", 2L, 11L), ("c", 1L, 3L), ("d", 1L, 4L)))
      // a no-op refresh runs no plan
      assert(refresh().getLong(4) === 0L)
    } finally {
      spark.conf.unset("spark.sql.catalog.smcat")
      spark.conf.unset("spark.sql.catalog.smcat.base")
    }
  }

  test("the executed plan's BatchScan node carries the metrics") {
    val dir = Fixture.dir()
    spark.range(0, 500).repartition(3)
      .selectExpr("id", "repeat('x', 40) AS pad")
      .write.format("graft-store").mode("overwrite").save(dir)
    val q = spark.read.format("graft-store").load(dir).select("id")
    assert(q.collect().length === 500)
    val scans = collect(q.queryExecution.executedPlan) { case b: BatchScanExec => b }
    assert(scans.size === 1)
    val m = scans.head.metrics
    assert(m("slicesOpened").value === filesOf(dir).toLong)
    assert(m("slicesOpened").name.contains("graft-store slices opened"))
    // the pruned 40-byte pad of every row was seeked past, not decoded
    assert(m("bytesSkipped").value === 500L * 40L)
    assert(GraftStoreOps.bytesSkipped(q) === 500L * 40L)
    // a plan without a graft-store read has no metric to read
    intercept[IllegalArgumentException](GraftStoreOps.slicesOpened(spark.range(3).toDF()))
  }
}
