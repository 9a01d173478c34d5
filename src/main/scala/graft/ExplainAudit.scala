package graft

/** Dev tool: dump formatted physical plans for the plan-quality audit
  * (pushdown / pruning / broadcast / TakeOrdered / codegen spans, and the
  * [[GraftExtensions]] rules such as TopKPerGroup). */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q01_scan_agg", "q02_projection", "q07_topk", "q09_join3", "q10_semi_join")
    names.foreach { n =>
      println(s"########## $n")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
