package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SCALE PROBE for materialized-view refresh: corpus 10×, churn FIXED →
  * refresh work must stay ~flat for every maintained shape (single-table,
  * 2-table inner join, 3-way inner join, 2-table LEFT OUTER).
  *
  * The deterministic signal is OPENED FILE SLICES: the 10× corpus has 10×
  * the base files, so a refresh that reads anything corpus-shaped shows
  * up as a slice count tracking the file count. The probe asserts the
  * slice count stays far below the 10× base file count AND within a
  * small additive margin of the 1× count. Wall-clock ratios are printed
  * (and summarized in MV_SCALE.md) but not hard-asserted — a loaded CI
  * host must not flake the suite; slices are the load-independent proof. */
class GraftMviewScaleSpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.mvscale", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mvscale.base", base)
    base
  }

  /** Build + churn + refresh one shape at `mult`× scale; returns
    * (opened slices, refresh seconds, base fact files). */
  private def run(shape: String, mult: Int): (Long, Double, Int) = {
    val tag = s"${shape}_$mult"
    val fact = s"$catBase/f_$tag"
    val d1 = s"$catBase/c_$tag"
    val d2 = s"$catBase/n_$tag"
    val mvDir = s"$catBase/mv_$tag"
    val rows = 100000L * mult
    val files = 8 * mult
    // fact laid out BY JOIN KEY (range-clustered on fk) — the 100 TB
    // design that lets key-scoped delta terms prune files via stats
    spark.range(0, rows)
      .select((col("id") % 1000).as("fk"), (col("id") % 97).as("v"))
      .repartitionByRange(files, col("fk"))
      .write.format("graft-store").mode("overwrite").save(fact)
    if (shape != "single" && shape != "minmax") {
      // joinminmax: CONTIGUOUS nk blocks aligned with the fact's fk
      // clustering, so a rescan scoped to one group maps to a contiguous
      // fk range — the layout a 100 TB design would choose on purpose
      val nkCol = if (shape == "joinminmax")
        (col("id") / 40).cast("long") else col("id") % 25
      spark.range(0, 1000).select(col("id").as("pk"), nkCol.as("nk"))
        .write.format("graft-store").mode("overwrite").save(d1)
      if (shape == "nway" || shape == "leftchain")
        spark.range(0, 25).select(col("id").as("nk2"),
            concat(lit("g"), col("id")).as("gname"))
          .write.format("graft-store").mode("overwrite").save(d2)
    }
    val sql = shape match {
      case "single" =>
        s"SELECT fk, count(*) AS n, sum(v) AS s, count(DISTINCT v) AS dv " +
          s"FROM mvscale.f_$tag GROUP BY fk"
      case "minmax" =>
        s"SELECT fk, count(*) AS n, min(v) AS mn, max(v) AS mx " +
          s"FROM mvscale.f_$tag GROUP BY fk"
      case "join" =>
        s"SELECT nk, count(*) AS n, sum(v) AS s FROM mvscale.f_$tag " +
          s"JOIN mvscale.c_$tag ON fk = pk GROUP BY nk"
      case "joinminmax" =>
        s"SELECT nk, count(*) AS n, min(v) AS mn, max(v) AS mx " +
          s"FROM mvscale.f_$tag JOIN mvscale.c_$tag ON fk = pk GROUP BY nk"
      case "nway" =>
        s"SELECT gname, count(*) AS n, sum(v) AS s FROM mvscale.f_$tag " +
          s"JOIN mvscale.c_$tag ON fk = pk " +
          s"JOIN mvscale.n_$tag ON nk = nk2 GROUP BY gname"
      case "leftouter" =>
        s"SELECT nk, count(*) AS n, sum(v) AS s FROM mvscale.f_$tag " +
          s"LEFT JOIN mvscale.c_$tag ON fk = pk GROUP BY nk"
      case "fullouter" =>
        s"SELECT nk, count(*) AS n, sum(v) AS s FROM mvscale.f_$tag " +
          s"FULL OUTER JOIN mvscale.c_$tag ON fk = pk GROUP BY nk"
      case "leftchain" =>
        s"SELECT gname, count(*) AS n, sum(v) AS s FROM mvscale.f_$tag " +
          s"LEFT JOIN mvscale.c_$tag ON fk = pk " +
          s"LEFT JOIN mvscale.n_$tag ON nk = nk2 GROUP BY gname"
    }
    GraftMview.create(spark, mvDir, sql)
    // FIXED-SIZE churn regardless of corpus scale: 100 fact rows, and
    // (for joined shapes) one dim row flip
    spark.range(0, 100)
      .select((col("id") % 1000).as("fk"), (col("id") % 97).as("v"))
      .write.format("graft-store").mode("append").save(fact)
    // removals: the rescan device must stay scoped — for the JOINED
    // min/max shape the rescan rebuilds the join, so this probes the
    // group-key cascade (restriction pushed dim → fact along fk = pk)
    if (shape == "minmax" || shape == "joinminmax")
      spark.sql(s"DELETE FROM mvscale.f_$tag WHERE fk = 7 AND v > 50")
    if (shape != "single" && shape != "minmax" && shape != "joinminmax")
      spark.sql(s"UPDATE mvscale.c_$tag SET nk = (nk + 1) % 25 WHERE pk = 7")
    val t0 = System.nanoTime()
    val (mode, _, _, _, opened) = GraftMview.refresh(spark, mvDir)
    val wall = (System.nanoTime() - t0) / 1e9
    assert(mode === "incremental", s"$tag must refresh incrementally")
    (opened, wall, files)
  }

  private def probe(shape: String): Unit = {
    val (s1, w1, _) = run(shape, 1)
    val (s10, w10, files10) = run(shape, 10)
    info(f"$shape%-10s 1x: $s1%3d slices ${w1}%6.2fs   " +
      f"10x: $s10%3d slices ${w10}%6.2fs   wall ratio ${w10 / w1}%4.2fx")
    println(f"[mv-scale] $shape%-10s 1x: $s1%3d slices ${w1}%6.2fs   " +
      f"10x: $s10%3d slices ${w10}%6.2fs   wall ratio ${w10 / w1}%4.2fx")
    // the load-independent proof: a corpus-shaped rescan would open ~80
    // fact files at 10x — the refresh must stay near the 1x slice count
    assert(s10 < files10,
      s"$shape refresh at 10x opened $s10 slices (fact base is $files10 files)")
    assert(s10 <= s1 + 16,
      s"$shape refresh slices grew $s1 -> $s10 with fixed churn — " +
        "refresh work is tracking corpus size, not churn")
  }

  test("single-table refresh (incl. count DISTINCT companion) is corpus-size-independent") {
    catBase; probe("single")
  }
  test("min/max removal rescan is corpus-size-independent") {
    catBase; probe("minmax")
  }
  test("2-table inner join refresh is corpus-size-independent") {
    catBase; probe("join")
  }
  test("3-way join refresh is corpus-size-independent") {
    catBase; probe("nway")
  }
  test("LEFT OUTER refresh is corpus-size-independent") {
    catBase; probe("leftouter")
  }
  test("FULL OUTER refresh is corpus-size-independent") {
    catBase; probe("fullouter")
  }
  test("LEFT OUTER 3-chain refresh is corpus-size-independent") {
    catBase; probe("leftchain")
  }
  test("join-view min/max removal rescan is corpus-size-independent (q241 shape)") {
    catBase; probe("joinminmax")
  }

  /** OVER-CAP churn: a dim update touching MORE than the 1000-key
    * compile-time-IN cap. The cascade degrades to a per-column
    * `[min, max]` range predicate (still file-stat-skippable on the
    * key-clustered fact) instead of abandoning pruning — the previously
    * untested cliff. Asserts EXACTNESS (the semi-join/delta algebra is
    * unaffected) and that the 10× refresh still skips the fact files
    * outside the churned key range. */
  test("over-cap dim churn degrades to range pruning and stays exact") {
    catBase
    def run2(mult: Int): (Long, Int) = {
      val tag = s"overcap_$mult"
      val fact = s"$catBase/f_$tag"
      val d1 = s"$catBase/c_$tag"
      val mvDir = s"$catBase/mv_$tag"
      val rows = 100000L * mult
      val files = 8 * mult
      // 5000 join keys so a 1500-key churn is over-cap but range-local
      spark.range(0, rows)
        .select((col("id") % 5000).as("fk"), (col("id") % 97).as("v"))
        .repartitionByRange(files, col("fk"))
        .write.format("graft-store").mode("overwrite").save(fact)
      spark.range(0, 5000).select(col("id").as("pk"), (col("id") % 25).as("nk"))
        .write.format("graft-store").mode("overwrite").save(d1)
      GraftMview.create(spark, mvDir,
        s"SELECT nk, count(*) AS n, sum(v) AS s FROM mvscale.f_$tag " +
          s"JOIN mvscale.c_$tag ON fk = pk GROUP BY nk")
      // 1500 distinct churned keys — over the 1000-key IN cap, but
      // contiguous: the [min, max] fallback can still skip fact files
      spark.sql(s"UPDATE mvscale.c_$tag SET nk = (nk + 1) % 25 WHERE pk < 1500")
      val (mode, _, _, _, opened) = GraftMview.refresh(spark, mvDir)
      assert(mode === "incremental", s"$tag must refresh incrementally")
      // EXACTNESS under the degraded pruning: the refreshed view equals
      // a from-scratch recompute over the live tables
      val expect = spark.read.format("graft-store").load(fact)
        .join(spark.read.format("graft-store").load(d1), $"fk" === $"pk")
        .groupBy("nk").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val got = spark.read.format("graft-store").load(mvDir)
        .select("nk", "n", "s")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === expect, s"$tag over-cap refresh diverged from recompute")
      (opened, files)
    }
    val (s1, _) = run2(1)
    val (s10, files10) = run2(10)
    info(f"overcap     1x: $s1%3d slices   10x: $s10%3d slices " +
      f"(fact base $files10%3d files)")
    println(f"[mv-scale] overcap    1x: $s1%3d slices   10x: $s10%3d slices " +
      f"(fact base $files10%3d files)")
    // churned keys cover 30% of the clustered key span: the range
    // fallback must skip most of the 10x fact base (a no-pruning
    // regression reads all 80 fact files and blows past this bound)
    assert(s10 < files10 * 2 / 3,
      s"over-cap churn opened $s10 slices of a $files10-file fact base — " +
        "the range fallback is not pruning")
  }

  /** SERVE-PATH scale probes (the round-13 rewrite family, q232/q240/
    * q234 shapes): corpus 10×, SERVED QUERY work must stay view-sized —
    * a LEFT-shape join-back, a mixed join-back (view slice ∪ complement
    * fact partials ⋈ dim), and a COUNT(DISTINCT) rollup through the
    * companion. The invariant is query-time slices: the fact corpus is
    * 8→80 files, and the served plan must never read corpus-shaped —
    * only the view/companion/dim (flat) plus, for the mixed plan, the
    * complement key range's own files (data-proportional to the
    * complement, never to the covered corpus). */
  private def serveRun(shape: String, mult: Int): (Long, Int) = {
    val tag = s"sv_${shape}_$mult"
    val fact = s"$catBase/f_$tag"
    val dim = s"$catBase/d_$tag"
    val mvDir = s"$catBase/mv_$tag"
    val rows = 100000L * mult
    val files = 8 * mult
    val factDf = shape match {
      // yearroll: a 400-day event-time span so the month-grain view has
      // O(months) rows regardless of corpus scale
      case "yearroll" => spark.range(0, rows).select(
        (col("id") % 1000).as("fk"), (col("id") % 97).as("v"),
        to_timestamp(date_add(lit("2020-01-01").cast("date"),
          (col("id") % 400).cast("int"))).as("ts"))
      case _ => spark.range(0, rows)
        .select((col("id") % 1000).as("fk"), (col("id") % 97).as("v"))
    }
    factDf.repartitionByRange(files, col("fk"))
      .write.format("graft-store").mode("overwrite").save(fact)
    spark.range(0, 1000).select(col("id").as("pk"), (col("id") % 25).as("nk"))
      .write.format("graft-store").mode("overwrite").save(dim)
    val mvSql = shape match {
      case "leftjb" | "dcrollup" =>
        val dv = if (shape == "dcrollup") ", count(DISTINCT v) AS dv" else ""
        s"SELECT fk, count(*) AS n, sum(v) AS s$dv " +
          s"FROM mvscale.f_$tag GROUP BY fk"
      case "mixedjb" =>
        s"SELECT fk, count(*) AS n, sum(v) AS s FROM mvscale.f_$tag " +
          s"WHERE fk < 800 GROUP BY fk"
      case "gsets" => // (a, b)-grain view answering the whole drill-down
        s"SELECT fk, v, count(*) AS n, sum(v) AS s " +
          s"FROM mvscale.f_$tag GROUP BY fk, v"
      case "yearroll" => // month-grain calendar view, year-grain queries
        s"SELECT date_trunc('month', ts) AS mon, count(*) AS n, " +
          s"sum(v) AS s FROM mvscale.f_$tag GROUP BY date_trunc('month', ts)"
    }
    GraftMview.create(spark, mvDir, mvSql)
    val df = shape match {
      case "leftjb" => spark.sql(
        s"SELECT nk, count(*) AS n, sum(v) AS s FROM mvscale.f_$tag " +
          s"LEFT JOIN mvscale.d_$tag ON fk = pk GROUP BY nk")
      case "mixedjb" => spark.sql(
        s"SELECT nk, count(*) AS n, sum(v) AS s FROM mvscale.f_$tag " +
          s"JOIN mvscale.d_$tag ON fk = pk WHERE fk < 900 GROUP BY nk")
      case "dcrollup" => spark.sql(
        s"SELECT count(DISTINCT v) AS dv FROM mvscale.f_$tag")
      case "gsets" => spark.sql( // Expand decomposed, every member served
        s"""SELECT fk, v, count(*) AS n FROM mvscale.f_$tag
           |GROUP BY GROUPING SETS ((fk, v), (fk), ())""".stripMargin)
      case "yearroll" => spark.sql( // re-bucketed through the stored key
        s"""SELECT date_trunc('year', ts) AS yr, count(*) AS n,
           |  sum(v) AS s FROM mvscale.f_$tag
           |GROUP BY date_trunc('year', ts)""".stripMargin)
    }
    assert(df.queryExecution.optimizedPlan.toString.contains(mvDir),
      s"$tag: the query must serve from the MV")
    df.collect()
    (GraftStoreOps.slicesOpened(df), files)
  }

  private def serveProbe(shape: String): Unit = {
    val (s1, _) = serveRun(shape, 1)
    val (s10, files10) = serveRun(shape, 10)
    info(f"serve/$shape%-9s 1x: $s1%3d slices   10x: $s10%3d slices " +
      f"(fact base $files10%3d files)")
    println(f"[mv-scale] serve/$shape%-9s 1x: $s1%3d slices   " +
      f"10x: $s10%3d slices (fact base $files10%3d files)")
    assert(s10 < files10 / 2,
      s"serve/$shape opened $s10 slices of a $files10-file fact base — " +
        "the served plan is reading corpus-shaped")
    assert(s10 <= s1 + 16,
      s"serve/$shape slices grew $s1 -> $s10 at 10x — query work is " +
        "tracking corpus size, not the view")
  }

  test("LEFT-shape join-back serve is corpus-size-independent") {
    catBase; serveProbe("leftjb")
  }
  test("mixed join-back serve reads only the complement range, never the covered corpus") {
    catBase; serveProbe("mixedjb")
  }
  test("COUNT(DISTINCT) rollup serve through the companion is corpus-size-independent") {
    catBase; serveProbe("dcrollup")
  }
  test("GROUPING SETS serve from the (a,b)-grain view is corpus-size-independent (q242 shape)") {
    catBase; serveProbe("gsets")
  }
  test("year-grain coarsening serve from the month-grain view is corpus-size-independent (q243 shape)") {
    catBase; serveProbe("yearroll")
  }
}
