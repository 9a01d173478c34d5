package graft.sources.v2

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs a refresh starts. Driver-local churn frames feed the key
  * predicates and key cascades without a job, and a single-source append
  * refresh has a pinned job count. */
class GraftMviewJobsSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Files.createTempDirectory("graft-mv-jobs").toString
    spark.conf.set("spark.sql.catalog.mvjobs", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mvjobs.base", base)
    base
  }

  /** The result of `body` and the Spark jobs it started. The listener bus
    * delivers asynchronously, so events of earlier actions drain before
    * the listener is added, and the body's own after it. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    Thread.sleep(300)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val r = try body finally {
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(l)
    }
    (r, jobs.get)
  }

  test("boundedKeyPred over a LocalRelation starts no job") {
    val keys = Seq((1L, "a"), (2L, null), (2L, null)).toDF("k", "s")
    val (pred, n) = jobsDuring(GraftMview.boundedKeyPred(keys, Seq("k", "s"), Seq("tk", "ts")))
    assert(n === 0)
    val t = Seq((1L, "a"), (2L, "x"), (2L, null), (3L, "a")).toDF("tk", "ts")
    assert(t.filter(pred.get).collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, null)))
    // an empty local key set prunes everything, still without a job
    val (none, n0) = jobsDuring(GraftMview.boundedKeyPred(keys.filter(lit(false)),
      Seq("k", "s"), Seq("tk", "ts")))
    assert(n0 === 0 && t.filter(none.get).count() === 0L)
  }

  test("pruneByChurnKeys from a LocalRelation churn starts no job") {
    val churn = Seq[(java.lang.Long, Long)]((1L, 5L), (2L, 6L), (2L, 7L), (null, 8L))
      .toDF("fk", "v")
    val dim = spark.range(0, 10).selectExpr("id as pk", "id % 3 as nk")
    val (out, n) = jobsDuring(
      GraftMview.pruneByChurnKeys(Seq(churn, dim), Seq((0, "fk", 1, "pk")), 0))
    assert(n === 0)
    assert(out(1).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("single-source append refresh: pinned job count, fewer than the checkpoint path") {
    catBase
    val src = s"$catBase/fact"
    Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("g", "v")
      .write.format("graft-store").mode("overwrite").save(src)
    def view(name: String): String = {
      GraftMview.create(spark, s"$catBase/$name",
        "SELECT g, count(*) AS n, sum(v) AS s FROM mvjobs.fact GROUP BY g")
      s"$catBase/$name"
    }
    val local = view("mv_local")
    val ckpt = view("mv_ckpt")
    Seq(("a", 10L), ("d", 4L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(src)
    val ((mode, changed, _, _), nLocal) = jobsDuring(GraftMview.refresh(spark, local))
    val (_, nCkpt) = jobsDuring(
      GraftMview.localFrameRows.withValue(0L)(GraftMview.refresh(spark, ckpt)))
    assert(mode === "incremental" && changed === 2L)
    def rowsOf(dir: String) = spark.read.format("graft-store").load(dir)
      .select("g", "n", "s").collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rowsOf(local) === rowsOf(ckpt))
    assert(rowsOf(local) === Seq("a|2|11", "b|1|2", "c|1|3", "d|1|4"))
    info(s"append refresh jobs: local frames $nLocal, checkpoint path $nCkpt")
    assert(nLocal < nCkpt)
    assert(nLocal === 5)
  }
}
