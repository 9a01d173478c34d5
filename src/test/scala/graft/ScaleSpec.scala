package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-mechanism specs: salting correctness, bucketed zero-exchange
  * joins, session-extensions function injection. */
class ScaleSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("saltedSumCount equals direct aggregation on skewed data") {
    val skewed = (1 to 2000).map(i => (if (i % 10 == 0) "cold" + i else "HOT", i.toDouble))
      .toDF("k", "v")
    val direct = skewed.groupBy("k")
      .agg(sum("v").as("sum_value"), count(lit(1)).as("n"))
    val salted = Skew.saltedSumCount(skewed, Seq("k"), "v", saltFactor = 8)
    assert(salted.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(salted).count() === 0)
  }

  test("saltedJoin equals plain join on skewed key distribution") {
    val left = (1 to 1000).map(i => (if (i % 5 == 0) i % 3 else 999, s"row$i")).toDF("k", "payload")
    val right = (0 to 999).map(i => (i, s"dim$i")).toDF("k", "dim")
    val plain = left.join(right, "k").select("k", "payload", "dim")
    val salted = Skew.saltedJoin(left, right, "k", saltFactor = 4, saltBy = col("payload"))
      .select("k", "payload", "dim")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
  }

  test("saltedPivotAvg equals direct pivot-avg on skewed data (incl. empty cells)") {
    import graft.operators.Skew
    import spark.implicits._
    // key "hot" dominates; company B never appears for key "cold" (NULL cell)
    val rows = (0 until 3000).map(i => ("hot", if (i % 3 == 0) "A" else "B", i.toDouble)) ++
      (0 until 10).map(i => ("cold", "A", i * 2.0))
    val df = rows.toDF("k", "company", "v").repartition(8)
    val direct = df.groupBy("k").pivot("company", Seq("A", "B")).avg("v")
      .collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]), Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    val salted = Skew.saltedPivotAvg(df, "k", "company", Seq("A", "B"), "v", saltFactor = 8)
      .collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]), Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    // averages of exact integers: no fp tolerance needed beyond ordering —
    // compare after rounding to 9 decimals to absorb summation-order noise
    def canon(s: Set[(String, Option[Double], Option[Double])]) =
      s.map { case (k, a, b) => (k, a.map(x => math.rint(x * 1e9) / 1e9), b.map(x => math.rint(x * 1e9) / 1e9)) }
    assert(canon(salted) === canon(direct))
  }

  test("bucketed join plans with no Exchange (co-located, shuffle-free)") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
        .select("l_orderkey", "l_quantity")
      val ord = Tables.orders(spark, "/root/testdata/sf0.001")
        .select("o_orderkey", "o_totalprice").withColumnRenamed("o_orderkey", "l_orderkey")
      // bucketed on write, sorted within buckets: the join needs neither
      // an exchange nor a sort at read time
      for ((df, t) <- Seq(li -> "li_b", ord -> "ord_b"))
        df.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .format("parquet").saveAsTable(t)
      val joined = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected zero-exchange bucketed join, got:\n$plan")
      assert(joined.count() === li.count()) // every lineitem has its order
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("partitionBy write prunes partitions at read (PartitionFilters, not data scan)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val dir = Fixture.dir()
    ev.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val back = spark.read.parquet(dir)
      .filter(col("event_type") === "purchase")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(2000))
    val expected = ev.filter(col("event_type") === "purchase").count()
    assert(back.count() === expected)
  }

  test("AQE splits skewed join partitions at runtime (skew=true in final plan)") {
    import spark.implicits._
    // 90% of left rows share one hot key — one shuffle partition dwarfs the rest
    val left = ((0 until 180000).map(i => (0L, i.toLong)) ++
      (0 until 20000).map(i => ((i % 50).toLong + 1, i.toLong))).toDF("k", "v").repartition(8)
    val right = (0L to 50L).map(k => (k, s"dim$k")).toDF("k", "name")
    val prev = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    try {
      val joined = left.join(right, "k")
      // execute THIS frame's QueryExecution (count() would build a new one
      // and the inspected adaptive plan would never finalize)
      val n = joined.collect().length
      assert(n === 200000)
      // AQE finalizes the plan during execution; the skewed partition must
      // have been split (SortMergeJoin/ShuffledHashJoin prints skew=true)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(3000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side before the shuffle") {
    import graft.operators.RuntimeFilters
    val d = "/root/testdata/sf0.001"
    def join(s: org.apache.spark.sql.SparkSession) = {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    }
    val baseline = join(spark).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // a private session takes the tuned confs: force a shuffle join
    // (broadcast joins don't need a runtime filter)
    val tuned = spark.newSession()
    tuned.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    RuntimeFilters.enableAtAnyScale(tuned)
    val pruned = join(tuned)
    val opt = pruned.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"), opt.take(2000))
    assert(opt.contains("bloom_filter_agg"), opt.take(2000))
    val got = pruned.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === baseline)
  }

  test("GraftExtensions registers all native functions via the injection hook") {
    // can't build a second SparkSession in-suite (getOrCreate returns the
    // shared one, skipping extensions), so drive the hook directly: apply
    // to a fresh SparkSessionExtensions and replay the injected builders.
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts)
    graft.functions.Registry.register(spark) // same builders, session registry
    val r = spark.sql(
      """SELECT parse_odds('1/2') AS p, dot_product(array(2.0D), array(3.0D)) AS d,
        |  tokens_in_set(array('the','fox','the'), array('the','a')) AS t""".stripMargin).collect()(0)
    assert(r.getDouble(0) === 1.5)
    assert(r.getDouble(1) === 6.0)
    assert(r.getInt(2) === 2)
  }
}
