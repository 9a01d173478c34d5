package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** [[Fixture]]: a lifecycle query runs on a private session with a fresh
  * directory, so it leaves the caller's session as it found it, and two
  * runs of one query — in sequence or at once — never share tables. */
class FixtureSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String): Seq[Row] =
    SparkEntry.queries(name)(spark, sf).collect().toSeq

  test("lifecycle queries leave the caller's session conf unchanged") {
    val before = spark.conf.getAll
    // catalogs (q109, q182, q215), a stream (q112), SPJ confs (q129), CBO (q188)
    Seq("q109_sql_time_travel", "q182_partitions_meta", "q112_store_stream",
      "q129_store_spj", "q215_mview_range_rewrite").foreach(run)
    // q188's estimates read the ACTIVE session's conf: CBO is on only there
    val cbo = run("q188_cbo_stats")
    assert(cbo.nonEmpty && cbo.forall(r =>
      r.getAs[Boolean]("cbo_stats") && r.getAs[Boolean]("selectivity")))
    assert(spark.conf.getAll === before)
  }

  test("one fixture runs twice in sequence and twice at once on one session") {
    val first = run("q182_partitions_meta")
    assert(first.nonEmpty && first.forall(_.getAs[Boolean]("meta_matches")))
    val second = run("q182_partitions_meta")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val concurrent = Await.result(Future.sequence(
      Seq.fill(2)(Future(run("q182_partitions_meta")))), 5.minutes)
    (second +: concurrent).foreach(r => assert(r === first))
  }

  test("Fixture.dir gives distinct, existing directories under one root") {
    val a = Paths.get(Fixture.dir())
    val b = Paths.get(Fixture.dir())
    assert(a !== b)
    assert(Files.isDirectory(a) && Files.isDirectory(b))
    assert(a.getParent === b.getParent)
  }
}
