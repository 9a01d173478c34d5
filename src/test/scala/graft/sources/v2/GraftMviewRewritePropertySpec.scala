package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DIFFERENTIAL property sweep for the transparent MV rewrite: for a
  * grid of seeded-random datasets × view WHEREs × query WHEREs × agg
  * sets, every query must return IDENTICAL rows with the rewrite ON and
  * OFF — whether it was served exactly, rolled up, mixed
  * (slice ∪ complement), or refused. This hunts exactness bugs in the
  * implication/complement/disjointness lattice (litImplies,
  * complementConj, excludesDisjunct) that a hand-picked example can
  * miss: off-by-one bounds, NULL three-valued edges, IN/InSet drift.
  *
  * Everything is derived from a fixed seed — no flakes; a failure
  * prints the (view, query) pair that diverged. */
class GraftMviewRewritePropertySpec extends AnyFunSuite with graft.SparkTestBase {

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.mvprop", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mvprop.base", base)
    base
  }

  /** Canonical, ordered render of a result set (NULL-safe). */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => "∅"
      case d: Double => f"$d%.9f"
      case x => x.toString
    }.mkString("|")).sorted.toIndexedSeq

  test("rewrite on == rewrite off across view/query WHERE combinations") {
    catBase
    val rnd = new scala.util.Random(20260815L)
    val srcDir = s"$catBase/propsrc"
    // rows: g ∈ a..e, day ∈ 0..29 (10% NULL), v ∈ -50..49 (10% NULL)
    val rows = (0 until 400).map { _ =>
      val g = ("a" + ('a' + rnd.nextInt(5)).toChar).drop(1).toString
      val day: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(30).toLong)
      val v: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(100).toLong - 50)
      (g, day, v)
    }
    rows.toDF("g", "day", "v").repartition(4)
      .write.format("graft-store").mode("overwrite").save(srcDir)
    def base() = spark.read.format("graft-store").load(srcDir)

    // view WHERE variants (over the group column `day` or collapsed `v`)
    val viewWheres = Seq(
      "day < 15", "day >= 10", "day IN (1, 2, 3, 4, 5)",
      "day >= 5 AND day < 25", "v > 0")
    // query WHERE variants: tighter, equal, wider, disjoint, unrelated,
    // none — plus group-column residual mixes
    val queryWheres: Seq[Option[org.apache.spark.sql.Column]] = Seq(
      None,
      Some(col("day") < 15), Some(col("day") < 10), Some(col("day") < 20),
      Some(col("day") >= 15), Some(col("day") >= 10), Some(col("day") >= 25),
      Some(col("day").isin(1L, 2L, 3L)), Some(col("day").isin(1L, 2L, 3L, 17L)),
      Some(col("day") === 7L), Some(col("day") === 17L),
      Some(col("day") < 20 && col("g") =!= "b"),
      Some(col("day").isNotNull), Some(col("v") > 0), Some(col("v") > 10))

    viewWheres.zipWithIndex.foreach { case (vw, vi) =>
      val mvDir = s"$catBase/propmv$vi"
      GraftMview.create(spark, mvDir,
        s"SELECT g, day, count(*) AS n, sum(v) AS s, avg(v) AS av, " +
          s"min(v) AS mn, max(v) AS mx, count(DISTINCT v) AS dv " +
          s"FROM mvprop.propsrc WHERE $vw GROUP BY g, day")
      queryWheres.zipWithIndex.foreach { case (qw, qi) =>
        // three groupings: exact, coarser, global; several agg menus
        val shapes: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
          df => df.groupBy("g", "day").agg(count(lit(1)).as("n"),
            sum("v").as("s")),
          df => df.groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("s"),
            round(avg("v"), 6).as("av"), min("v").as("mn"), max("v").as("mx")),
          df => df.groupBy("g").agg(countDistinct(col("day")).as("dd")),
          df => df.groupBy("g").agg(countDistinct(col("v")).as("dv")),
          df => df.agg(count(lit(1)).as("n"), sum("v").as("s")),
          // grouping-set sugar: every member must serve (or the whole
          // query refuse) through the SAME lattice — rollup/cube sweep
          // the union-of-members path against every WHERE combination
          df => df.rollup("g", "day").agg(count(lit(1)).as("n"),
            sum("v").as("s")),
          df => df.cube("g", "day").agg(count(lit(1)).as("n")))
        shapes.zipWithIndex.foreach { case (shape, si) =>
          val q = () => shape(qw.fold(base())(c => base().filter(c)))
          val on = canon(q())
          spark.conf.set("spark.graft.mv.rewrite", "false")
          val off = try canon(q())
            finally spark.conf.set("spark.graft.mv.rewrite", "true")
          assert(on === off,
            s"view[$vi] WHERE $vw × query[$qi] ${qw.map(_.toString)} × " +
              s"shape[$si]: rewrite ON diverged from OFF")
        }
      }
      // churn once mid-sweep for one view: stale views must refuse but
      // stay correct (answers come from the base)
      if (vi == 2) {
        Seq(("f", Long.box(3L), Long.box(9L))).toDF("g", "day", "v")
          .write.format("graft-store").mode("append").save(srcDir)
        val q = base().filter(col("day") < 20).groupBy("g")
          .agg(count(lit(1)).as("n"))
        assert(!q.queryExecution.optimizedPlan.toString.contains(mvDir),
          "a stale view must not serve")
        GraftMview.refresh(spark, mvDir)
      }
    }
  }

  test("rewrite on == rewrite off across join shapes with ADVERSARIAL view overlap") {
    catBase
    val rnd = new scala.util.Random(13L)
    val factDir = s"$catBase/jfact"
    val dimDir = s"$catBase/jdim"
    // fk 40..49 never match; pk 30..39 never matched — both outer
    // directions exercised; 10% NULL keys and measures
    (0 until 300).map { _ =>
      val fk: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(50).toLong)
      val day: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(30).toLong)
      val v: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(100).toLong - 50)
      (fk, day, v)
    }.toDF("fk", "day", "v")
      .write.format("graft-store").mode("overwrite").save(factDir)
    (0L until 40L).map(pk => (pk, ('a' + (pk % 5).toInt).toChar.toString))
      .toDF("pk", "seg")
      .write.format("graft-store").mode("overwrite").save(dimDir)
    // FOUR views on the SAME sources, deliberately overlapping: an inner
    // join view, a left view, a full view, and a fact-only MV (the
    // join-back candidate) — the rule must pick correctly (or refuse)
    // for every query shape, and complement scans must never ping-pong
    GraftMview.create(spark, s"$catBase/jmv_inner",
      "SELECT seg, fk, count(*) AS n, sum(v) AS s, count(DISTINCT v) AS dv " +
        "FROM mvprop.jfact JOIN mvprop.jdim ON fk = pk " +
        "WHERE day < 15 GROUP BY seg, fk")
    GraftMview.create(spark, s"$catBase/jmv_left",
      "SELECT seg, fk, count(*) AS n, sum(v) AS s " +
        "FROM mvprop.jfact LEFT JOIN mvprop.jdim ON fk = pk " +
        "WHERE day < 15 GROUP BY seg, fk")
    GraftMview.create(spark, s"$catBase/jmv_full",
      "SELECT seg, fk, count(*) AS n, sum(v) AS s " +
        "FROM mvprop.jfact FULL OUTER JOIN mvprop.jdim ON fk = pk " +
        "GROUP BY seg, fk")
    GraftMview.create(spark, s"$catBase/jmv_fact",
      "SELECT fk, day, count(*) AS n, sum(v) AS s " +
        "FROM mvprop.jfact WHERE day < 15 GROUP BY fk, day")
    def fact() = spark.read.format("graft-store").load(factDir)
    def dim() = spark.read.format("graft-store").load(dimDir)
    val joinTypes = Seq("inner", "left_outer", "full_outer")
    val wheres: Seq[Option[org.apache.spark.sql.Column]] = Seq(
      None, Some(col("day") < 15), Some(col("day") < 10),
      Some(col("day") < 20), Some(col("day") >= 15), Some(col("v") > 0))
    joinTypes.foreach { jt =>
      wheres.zipWithIndex.foreach { case (qw, qi) =>
        val shapes: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
          df => df.groupBy("seg").agg(count(lit(1)).as("n"),
            sum(col("v")).as("s")),
          df => df.groupBy("seg", "fk").agg(count(lit(1)).as("n")),
          df => df.agg(count(lit(1)).as("n")))
        shapes.zipWithIndex.foreach { case (shape, si) =>
          def q() = {
            val f = fact(); val dd = dim()
            val j = f.join(dd, f("fk") === dd("pk"), jt)
            shape(qw.fold(j)(c => j.filter(c)))
          }
          val on = canon(q())
          spark.conf.set("spark.graft.mv.rewrite", "false")
          val off = try canon(q())
            finally spark.conf.set("spark.graft.mv.rewrite", "true")
          assert(on === off,
            s"join $jt × where[$qi] ${qw.map(_.toString)} × shape[$si]: " +
              "rewrite ON diverged from OFF")
        }
      }
    }
  }
}
