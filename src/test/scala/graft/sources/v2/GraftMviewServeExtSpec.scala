package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 serve extensions, each differential against rewrite-OFF:
  *
  *   - GROUPING SETS / CUBE / ROLLUP served from an MV as a union of
  *     member aggregates (each member re-enters the ordinary rewrite);
  *   - functional-dependency CALENDAR COARSENING (year/quarter/month
  *     grain served from a month-grain expression-key view);
  *   - MIN/MAX over JOIN views (creation + incremental maintenance via
  *     the join-rebuilt rescan + the serve paths).
  */
class GraftMviewServeExtSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.sxcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.sxcat.base", base)
    base
  }

  private def served(df: DataFrame, mv: String): Boolean =
    df.queryExecution.optimizedPlan.toString.contains(mv)

  /** Row-for-row compare of a query with the rewrite ON vs OFF. */
  private def differential(sql: String): Unit = {
    val on = spark.sql(sql).collect().map(_.toString).sorted
    spark.conf.set("spark.graft.mv.rewrite", "false")
    val off =
      try spark.sql(sql).collect().map(_.toString).sorted
      finally spark.conf.unset("spark.graft.mv.rewrite")
    assert(on.toSeq === off.toSeq, s"rewrite ON diverges from OFF for:\n$sql")
  }

  // ---------------------------------------------------------------- //
  // GROUPING SETS / CUBE / ROLLUP                                     //
  // ---------------------------------------------------------------- //

  test("GROUPING SETS / CUBE / ROLLUP serve from the MV (all members)") {
    catBase
    val src = s"$catBase/gs_src"
    val mv = s"$catBase/gs_mv"
    (0 until 300).map(i => (i % 7, s"st${i % 3}", i.toLong, i % 5 == 0))
      .toDF("day", "st", "v", "flag")
      .withColumn("v", when(col("flag"), lit(null).cast("long")).otherwise(col("v")))
      .drop("flag")
      .write.format("graft-store").mode("overwrite").save(src)
    spark.sql("CALL sxcat.system.create_mview('gs_mv', " +
      "'SELECT day, st, count(*) AS n, count(v) AS nv, sum(v) AS sv, " +
      "avg(v) AS av FROM sxcat.gs_src GROUP BY day, st')")
    val gsSql =
      """SELECT day, st, count(*) AS n, sum(v) AS sv
        |FROM sxcat.gs_src
        |GROUP BY GROUPING SETS ((day, st), (day), ())""".stripMargin
    assert(served(spark.sql(gsSql), mv), "grouping sets must serve from the MV")
    differential(gsSql)
    val cubeSql =
      """SELECT day, st, count(*) AS n, avg(v) AS av, grouping(st) AS g_st,
        |  grouping_id() AS gid
        |FROM sxcat.gs_src GROUP BY CUBE(day, st)""".stripMargin
    assert(served(spark.sql(cubeSql), mv), "CUBE must serve from the MV")
    differential(cubeSql)
    val rollupSql =
      """SELECT day, st, count(v) AS nv, sum(v) AS sv
        |FROM sxcat.gs_src GROUP BY ROLLUP(day, st)""".stripMargin
    assert(served(spark.sql(rollupSql), mv), "ROLLUP must serve from the MV")
    differential(rollupSql)
    // aggregating a GROUPING KEY: in the members where the key is absent
    // the argument is the NULLed expand column (count(NULL) = 0) — the
    // null-argument fold, pinned differentially
    val keyAggSql =
      """SELECT day, count(st) AS nst, count(*) AS n
        |FROM sxcat.gs_src GROUP BY ROLLUP(day, st)""".stripMargin
    differential(keyAggSql)
    // WHERE + grouping sets: each member carries the filter through the
    // ordinary containment machinery
    val whereSql =
      """SELECT day, st, count(*) AS n FROM sxcat.gs_src
        |WHERE day >= 2 GROUP BY GROUPING SETS ((day, st), (st), ())""".stripMargin
    assert(served(spark.sql(whereSql), mv))
    differential(whereSql)
    // a member that cannot serve (grouping by a NON-view column) must
    // leave the WHOLE query untouched — no partial serving
    val badSql =
      """SELECT v, count(*) AS n FROM sxcat.gs_src
        |GROUP BY GROUPING SETS ((v), ())""".stripMargin
    assert(!served(spark.sql(badSql), mv),
      "a grouping set with an unservable member must not serve at all")
    differential(badSql)
  }

  test("grouping sets: stale view never serves; fresh again after refresh") {
    catBase
    val src = s"$catBase/gs2_src"
    val mv = s"$catBase/gs2_mv"
    (0 until 100).map(i => (i % 4, i.toLong)).toDF("k", "v")
      .write.format("graft-store").mode("overwrite").save(src)
    spark.sql("CALL sxcat.system.create_mview('gs2_mv', " +
      "'SELECT k, count(*) AS n, sum(v) AS sv FROM sxcat.gs2_src GROUP BY k')")
    val q = "SELECT k, count(*) AS n FROM sxcat.gs2_src GROUP BY ROLLUP(k)"
    assert(served(spark.sql(q), mv))
    Seq((99, 1L)).toDF("k", "v")
      .write.format("graft-store").mode("append").save(src)
    assert(!served(spark.sql(q), mv), "stale view must not serve grouping sets")
    differential(q) // runs against the base: still correct
    spark.sql("CALL sxcat.system.refresh_mview('gs2_mv')")
    assert(served(spark.sql(q), mv))
    differential(q)
  }

  // ---------------------------------------------------------------- //
  // Calendar coarsening                                               //
  // ---------------------------------------------------------------- //

  test("year/quarter/month queries serve from a month-grain calendar MV") {
    catBase
    val src = s"$catBase/cal_src"
    val mv = s"$catBase/cal_mv"
    (0 until 400).map { i =>
      val ts = java.sql.Timestamp.valueOf(
        f"${2019 + i % 4}%04d-${1 + i % 12}%02d-${1 + i % 27}%02d 10:30:00")
      (ts, s"st${i % 2}", i.toLong)
    }.toDF("ts", "st", "v")
      .write.format("graft-store").mode("overwrite").save(src)
    spark.sql("CALL sxcat.system.create_mview('cal_mv', " +
      "'SELECT date_trunc(''month'', ts) AS mon, st, count(*) AS n, " +
      "sum(v) AS sv, avg(v) AS av FROM sxcat.cal_src " +
      "GROUP BY date_trunc(''month'', ts), st')")
    val yearSql =
      """SELECT date_trunc('year', ts) AS yr, count(*) AS n, sum(v) AS sv
        |FROM sxcat.cal_src GROUP BY date_trunc('year', ts)""".stripMargin
    assert(served(spark.sql(yearSql), mv),
      "year-grain date_trunc must coarsen from the month key")
    differential(yearSql)
    val qtrSql =
      """SELECT date_trunc('quarter', ts) AS q, st, avg(v) AS av
        |FROM sxcat.cal_src GROUP BY date_trunc('quarter', ts), st""".stripMargin
    assert(served(spark.sql(qtrSql), mv))
    differential(qtrSql)
    // the year()/quarter()/month() surface forms
    val fnSql =
      """SELECT year(ts) AS y, quarter(ts) AS q, count(*) AS n
        |FROM sxcat.cal_src GROUP BY year(ts), quarter(ts)""".stripMargin
    assert(served(spark.sql(fnSql), mv),
      "year()/quarter() must coarsen from the month key")
    differential(fnSql)
    val mSql =
      """SELECT month(ts) AS m, count(*) AS n
        |FROM sxcat.cal_src GROUP BY month(ts)""".stripMargin
    assert(served(spark.sql(mSql), mv))
    differential(mSql)
    // residual WHERE naming the coarse bucket maps onto the stored key
    val resSql =
      """SELECT date_trunc('year', ts) AS yr, count(*) AS n
        |FROM sxcat.cal_src WHERE date_trunc('year', ts) >= timestamp'2020-01-01'
        |GROUP BY date_trunc('year', ts)""".stripMargin
    assert(served(spark.sql(resSql), mv))
    differential(resSql)
    // WEEK does not nest in MONTH: conservatively refused
    val weekSql =
      """SELECT date_trunc('week', ts) AS w, count(*) AS n
        |FROM sxcat.cal_src GROUP BY date_trunc('week', ts)""".stripMargin
    assert(!served(spark.sql(weekSql), mv),
      "week-grain must NOT serve from a month-grain key")
    differential(weekSql)
    // grouping sets compose with coarsening: (year, st) / (year) / ()
    val gsSql =
      """SELECT date_trunc('year', ts) AS yr, st, count(*) AS n
        |FROM sxcat.cal_src
        |GROUP BY GROUPING SETS ((date_trunc('year', ts), st),
        |  (date_trunc('year', ts)), ())""".stripMargin
    assert(served(spark.sql(gsSql), mv),
      "grouping sets over coarsened keys must serve")
    differential(gsSql)
  }

  test("week-grain MV serves week queries only; day-grain serves week") {
    catBase
    val src = s"$catBase/wk_src"
    (0 until 200).map { i =>
      (java.sql.Timestamp.valueOf(f"2023-${1 + i % 12}%02d-${1 + i % 28}%02d 03:00:00"),
        i.toLong)
    }.toDF("ts", "v").write.format("graft-store").mode("overwrite").save(src)
    spark.sql("CALL sxcat.system.create_mview('wk_day_mv', " +
      "'SELECT date_trunc(''day'', ts) AS d, count(*) AS n " +
      "FROM sxcat.wk_src GROUP BY date_trunc(''day'', ts)')")
    val weekSql =
      """SELECT date_trunc('week', ts) AS w, count(*) AS n
        |FROM sxcat.wk_src GROUP BY date_trunc('week', ts)""".stripMargin
    assert(served(spark.sql(weekSql), s"$catBase/wk_day_mv"),
      "week coarsens from a DAY-grain key (day nests in week)")
    differential(weekSql)
    val monSql =
      """SELECT date_trunc('month', ts) AS m, count(*) AS n
        |FROM sxcat.wk_src GROUP BY date_trunc('month', ts)""".stripMargin
    assert(served(spark.sql(monSql), s"$catBase/wk_day_mv"))
    differential(monSql)
  }

  test("mixed-rollup plan composes with a coarsened key") {
    catBase
    val src = s"$catBase/mxc_src"
    val mv = s"$catBase/mxc_mv"
    (0 until 300).map { i =>
      (java.sql.Timestamp.valueOf(f"2022-${1 + i % 12}%02d-15 00:00:00"),
        i.toLong, i % 20)
    }.toDF("ts", "v", "key")
      .write.format("graft-store").mode("overwrite").save(src)
    // view pinned to an archived key range, month grain
    spark.sql("CALL sxcat.system.create_mview('mxc_mv', " +
      "'SELECT date_trunc(''month'', ts) AS mon, count(*) AS n, sum(v) AS sv " +
      "FROM sxcat.mxc_src WHERE key < 15 GROUP BY date_trunc(''month'', ts)')")
    // wider WHERE + coarser (year) grain: [view slice ∪ complement
    // partials at month grain] re-bucketed by year on top
    val sql =
      """SELECT date_trunc('year', ts) AS yr, count(*) AS n, sum(v) AS sv
        |FROM sxcat.mxc_src WHERE key < 18
        |GROUP BY date_trunc('year', ts)""".stripMargin
    assert(served(spark.sql(sql), mv),
      "wider-WHERE year query must serve as a mixed plan over the month view")
    differential(sql)
  }

  // ---------------------------------------------------------------- //
  // mixed join-back beyond the exact shape                            //
  // ---------------------------------------------------------------- //

  test("covered-PAIR mixed join-back: 2-table view + wider WHERE + uncovered dim") {
    catBase
    val fact = s"$catBase/mjp_fact"
    val d1 = s"$catBase/mjp_d1"
    val d2 = s"$catBase/mjp_d2"
    val mv = s"$catBase/mjp_mv"
    (0 until 4000).map(i => (i.toLong, i.toLong % 50, (i % 97).toLong))
      .toDF("ok", "ck", "v")
      .repartitionByRange(16, col("ok"))
      .write.format("graft-store").mode("overwrite").save(fact) // 16 files
    (0 until 50).map(i => (i.toLong, i.toLong % 7)).toDF("pk", "nk")
      .repartition(1)
      .write.format("graft-store").mode("overwrite").save(d1)
    (0 until 7).map(i => (i.toLong, s"r$i")).toDF("nk2", "rname")
      .repartition(1)
      .write.format("graft-store").mode("overwrite").save(d2)
    // 2-table COVERED PAIR view, WHERE'd to the archived range, grouped
    // by the OUTBOUND key (nk) so the join-back to d2 is sound
    spark.sql("CALL sxcat.system.create_mview('mjp_mv', " +
      "'SELECT nk, count(*) AS n, sum(v) AS sv " +
      "FROM sxcat.mjp_fact JOIN sxcat.mjp_d1 ON ck = pk " +
      "WHERE ok < 3000 GROUP BY nk')")
    // wider WHERE + a THIRD (uncovered) dim at coarser grain: must serve
    // as [view slice ∪ complement pair partials] ⋈ d2, re-aggregated
    val sql =
      """SELECT rname, count(*) AS n, sum(v) AS sv
        |FROM sxcat.mjp_fact JOIN sxcat.mjp_d1 ON ck = pk
        |  JOIN sxcat.mjp_d2 ON nk = nk2
        |WHERE ok < 3500
        |GROUP BY rname""".stripMargin
    val q = spark.sql(sql)
    assert(served(q, mv),
      "wider-WHERE 3-table query must mixed-join-back through the covered pair:\n" +
        q.queryExecution.optimizedPlan.toString.take(2000))
    val rows = q.collect()
    val opened = GraftStoreOps.slicesOpened(q)
    // view (≤4 files) + single-file d1/d2 + the complement range's ~2
    // fact files — never the 12 covered files of the 16-file fact base
    assert(opened < 12,
      s"mixed join-back opened $opened slices (16-file fact, 12 covered)")
    assert(rows.nonEmpty)
    differential(sql)
  }

  // ---------------------------------------------------------------- //
  // min/max over join views                                           //
  // ---------------------------------------------------------------- //

  private def joinRecompute(fact: String, dim: String): Map[Any, (Long, Long, Long)] = {
    val f = spark.read.format("graft-store").load(fact)
    val dm = spark.read.format("graft-store").load(dim)
    f.join(dm, f("fk") === dm("pk"), "inner")
      .groupBy("grp").agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
      .collect().map(r => (r.get(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  test("min/max over an INNER join view: insert fast path + removal rescan") {
    catBase
    val fact = s"$catBase/mmj_fact"
    val dim = s"$catBase/mmj_dim"
    val mv = s"$catBase/mmj_mv"
    (0 until 200).map(i => (i.toLong % 10, (i * 7 % 100).toLong, i.toLong))
      .toDF("fk", "v", "id")
      .write.format("graft-store").mode("overwrite").save(fact)
    (0 until 10).map(i => (i.toLong, s"g${i % 3}")).toDF("pk", "grp")
      .write.format("graft-store").mode("overwrite").save(dim)
    spark.sql("CALL sxcat.system.create_mview('mmj_mv', " +
      "'SELECT grp, count(*) AS n, min(v) AS lo, max(v) AS hi " +
      "FROM sxcat.mmj_fact JOIN sxcat.mmj_dim ON fk = pk GROUP BY grp')")
    def mvMap() = spark.read.format("graft-store").load(mv)
      .select("grp", "n", "lo", "hi").collect()
      .map(r => (r.get(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(mvMap() === joinRecompute(fact, dim))
    // pure INSERT churn: the least/greatest fast path
    Seq((3L, 999L, 9001L), (4L, -5L, 9002L)).toDF("fk", "v", "id")
      .write.format("graft-store").mode("append").save(fact)
    val (m1, _, _, _, _) = GraftMview.refresh(spark, mv)
    assert(m1 === "incremental")
    assert(mvMap() === joinRecompute(fact, dim))
    // REMOVAL evicting extremes: the touched groups rescan the rebuilt join
    GraftStoreOps.deleteWhere(spark, fact, col("v") > 90L)
    val (m2, _, _, _, _) = GraftMview.refresh(spark, mv)
    assert(m2 === "incremental")
    assert(mvMap() === joinRecompute(fact, dim))
    // DIM churn moving a key between groups also rescans exactly
    spark.sql("UPDATE sxcat.mmj_dim SET grp = 'gX' WHERE pk = 3")
    val (m3, _, _, _, _) = GraftMview.refresh(spark, mv)
    assert(m3 === "incremental")
    assert(mvMap() === joinRecompute(fact, dim))
    // the rewrite serves the exact shape and the rollup (global) shape
    val q1 = spark.sql(
      """SELECT grp, min(v) AS lo, max(v) AS hi
        |FROM sxcat.mmj_fact JOIN sxcat.mmj_dim ON fk = pk
        |GROUP BY grp""".stripMargin)
    assert(served(q1, mv))
    differential(
      """SELECT grp, min(v) AS lo, max(v) AS hi
        |FROM sxcat.mmj_fact JOIN sxcat.mmj_dim ON fk = pk
        |GROUP BY grp""".stripMargin)
    differential(
      """SELECT min(v) AS lo, max(v) AS hi
        |FROM sxcat.mmj_fact JOIN sxcat.mmj_dim ON fk = pk""".stripMargin)
  }

  test("min/max over a LEFT OUTER chain view maintains through both-side churn") {
    catBase
    val fact = s"$catBase/mml_fact"
    val dim = s"$catBase/mml_dim"
    val mv = s"$catBase/mml_mv"
    (0 until 100).map(i => (if (i % 9 == 0) null
      else java.lang.Long.valueOf(i.toLong % 8), (i * 3 % 50).toLong, i.toLong))
      .toDF("fk", "v", "id")
      .write.format("graft-store").mode("overwrite").save(fact)
    (0 until 6).map(i => (i.toLong, s"g${i % 2}")).toDF("pk", "grp")
      .write.format("graft-store").mode("overwrite").save(dim)
    spark.sql("CALL sxcat.system.create_mview('mml_mv', " +
      "'SELECT grp, count(*) AS n, min(v) AS lo, max(v) AS hi " +
      "FROM sxcat.mml_fact LEFT JOIN sxcat.mml_dim ON fk = pk GROUP BY grp')")
    def recompute() = {
      val f = spark.read.format("graft-store").load(fact)
      val dm = spark.read.format("graft-store").load(dim)
      f.join(dm, f("fk") === dm("pk"), "left_outer")
        .groupBy("grp").agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
        .collect().map(r => (r.get(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    def mvMap() = spark.read.format("graft-store").load(mv)
      .select("grp", "n", "lo", "hi").collect()
      .map(r => (r.get(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(mvMap() === recompute())
    // delete evicting the max of the NULL-extended group (fk 6, 7, NULL
    // rows live in grp NULL) and of real groups
    GraftStoreOps.deleteWhere(spark, fact, col("v") >= 45L)
    val (m1, _, _, _, _) = GraftMview.refresh(spark, mv)
    assert(m1 === "incremental")
    assert(mvMap() === recompute())
    // dim DELETE flips matched rows to null-extended: the ± pair touches
    // both groups; extremes rescan
    GraftStoreOps.deleteWhere(spark, dim, col("pk") === 1L)
    val (m2, _, _, _, _) = GraftMview.refresh(spark, mv)
    assert(m2 === "incremental")
    assert(mvMap() === recompute())
  }

  test("min/max over a FULL OUTER view maintains through both-side churn") {
    catBase
    val fa = s"$catBase/mmf_a"
    val fb = s"$catBase/mmf_b"
    val mv = s"$catBase/mmf_mv"
    (0 until 60).map(i => (if (i % 7 == 0) null
      else java.lang.Long.valueOf(i.toLong % 12), i.toLong)).toDF("ka", "va")
      .write.format("graft-store").mode("overwrite").save(fa)
    (0 until 40).map(i => (if (i % 5 == 0) null
      else java.lang.Long.valueOf(i.toLong % 15), (i * 2).toLong)).toDF("kb", "vb")
      .write.format("graft-store").mode("overwrite").save(fb)
    spark.sql("CALL sxcat.system.create_mview('mmf_mv', " +
      "'SELECT ka, count(*) AS n, max(vb) AS hib, min(va) AS loa " +
      "FROM sxcat.mmf_a FULL OUTER JOIN sxcat.mmf_b ON ka = kb GROUP BY ka')")
    def recompute() = {
      val a = spark.read.format("graft-store").load(fa)
      val b = spark.read.format("graft-store").load(fb)
      a.join(b, a("ka") === b("kb"), "full_outer")
        .groupBy("ka").agg(count(lit(1)).as("n"), max("vb").as("hib"), min("va").as("loa"))
        .collect().map(r => (r.get(0), (r.get(1), r.get(2), r.get(3)))).toMap
    }
    def mvMap() = spark.read.format("graft-store").load(mv)
      .select("ka", "n", "hib", "loa").collect()
      .map(r => (r.get(0), (r.get(1), r.get(2), r.get(3)))).toMap
    assert(mvMap() === recompute())
    // side-b delete evicting maxes (touches matched ka groups + NULL)
    GraftStoreOps.deleteWhere(spark, fb, col("vb") >= 60L)
    val (m1, _, _, _, _) = GraftMview.refresh(spark, mv)
    assert(m1 === "incremental")
    assert(mvMap() === recompute())
    // side-a churn: delete + append (NULL keys included)
    GraftStoreOps.deleteWhere(spark, fa, col("va") < 5L)
    Seq((java.lang.Long.valueOf(3L), 500L), (null.asInstanceOf[java.lang.Long], 501L))
      .toDF("ka", "va").write.format("graft-store").mode("append").save(fa)
    val (m2, _, _, _, _) = GraftMview.refresh(spark, mv)
    assert(m2 === "incremental")
    assert(mvMap() === recompute())
  }
}
