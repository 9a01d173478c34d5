package graft

import graft.sources.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout operators: Z-order clustering. */
class LayoutSpec extends AnyFunSuite with SparkTestBase {

  private val d = "/root/testdata/sf0.001"

  test("z-ordered files cover small rectangles on BOTH dimensions") {
    val zDir = Fixture.dir()
    val rDir = Fixture.dir()
    val li = Tables.lineitem(spark, d).select("l_partkey", "l_suppkey", "l_extendedprice")
    ZOrder.writeZOrdered(li, zDir, "l_partkey", "l_suppkey", numFiles = 16)
    li.repartition(16).write.mode("overwrite").parquet(rDir)

    def avgSpread(dir: String, c: String): Double =
      spark.read.parquet(dir)
        .groupBy(input_file_name()).agg((max(c) - min(c)).cast("double").as("spread"))
        .agg(avg("spread")).collect()(0).getDouble(0)

    val (zPart, rPart) = (avgSpread(zDir, "l_partkey"), avgSpread(rDir, "l_partkey"))
    val (zSupp, rSupp) = (avgSpread(zDir, "l_suppkey"), avgSpread(rDir, "l_suppkey"))
    // round-robin files span ~the full key range on every dimension; morton
    // rectangles must be materially narrower on both at once
    assert(zPart < 0.6 * rPart, s"partkey spread $zPart vs random $rPart")
    assert(zSupp < 0.6 * rSupp, s"suppkey spread $zSupp vs random $rSupp")
    // layout changes bytes on disk, never rows
    assert(spark.read.parquet(zDir).count() === li.count())
  }
}
