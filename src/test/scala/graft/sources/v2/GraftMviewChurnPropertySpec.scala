package graft.sources.v2

import graft.Fixture

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DIFFERENTIAL churn sweep for incremental MV maintenance: for every
  * maintained join shape (single, inner, left, full, mixed 3-chain), a
  * seeded-random sequence of churn rounds — fact appends/deletes, dim
  * appends/deletes/updates, NULL keys included — each followed by an
  * incremental refresh and a row-for-row comparison against a fresh
  * recompute of the definition over the live tables. This hunts sign
  * errors, missed null-extension transitions, and restriction bugs in
  * the telescoped ± delta rules that single-scenario specs can miss. */
class GraftMviewChurnPropertySpec extends AnyFunSuite with graft.SparkTestBase {

  /** The catalog this suite's tables live in, and the local-frame bound
    * its refreshes run under ([[GraftMview.localFrameRows]]); a subclass
    * reruns the suite on the checkpoint path under its own catalog. */
  protected def cat: String = "mvchurn"
  protected def localBound: Long = GraftMview.LocalFrameRows

  override def withFixture(test: NoArgTest) =
    GraftMview.localFrameRows.withValue(localBound)(super.withFixture(test))

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    base
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => "∅"
      case d: Double => f"$d%.6f"
      case x => x.toString
    }.mkString("|")).sorted.toIndexedSeq

  private def factRows(rnd: scala.util.Random, n: Int): DataFrame =
    (0 until n).map { _ =>
      val fk: java.lang.Long =
        if (rnd.nextInt(8) == 0) null else Long.box(rnd.nextInt(20).toLong)
      val v: java.lang.Long =
        if (rnd.nextInt(8) == 0) null else Long.box(rnd.nextInt(40).toLong - 20)
      (fk, v)
    }.toDF("fk", "v")

  private def runShape(shape: String): Unit = {
    val rnd = new scala.util.Random(shape.hashCode.toLong ^ 42L)
    val fact = s"$catBase/f_$shape"
    val d1 = s"$catBase/c_$shape"
    val d2 = s"$catBase/n_$shape"
    val mvDir = s"$catBase/mv_$shape"
    factRows(rnd, 60).write.format("graft-store").mode("overwrite").save(fact)
    if (shape != "single") {
      (0L until 15L).map(pk => (pk, pk % 4))
        .toDF("pk", "nk")
        .write.format("graft-store").mode("overwrite").save(d1)
      if (shape == "chain")
        (0L until 3L).map(nk2 => (nk2, ('p' + nk2.toInt).toChar.toString))
          .toDF("nk2", "lbl")
          .write.format("graft-store").mode("overwrite").save(d2)
    }
    val (sql, recompute) = shape match {
      case "single" =>
        ("SELECT fk, count(*) AS n, sum(v) AS s, count(DISTINCT v) AS dv " +
          s"FROM $cat.f_$shape GROUP BY fk",
          () => spark.read.format("graft-store").load(fact)
            .groupBy("fk").agg(count(lit(1)).as("n"), sum("v").as("s"),
              countDistinct(col("v")).as("dv")))
      case "inner" | "left" | "full" | "inner_mm" | "left_mm" | "full_mm" =>
        val jt = shape.takeWhile(_ != '_') match {
          case "inner" => "JOIN"; case "left" => "LEFT JOIN"
          case _ => "FULL OUTER JOIN"
        }
        val sjt = shape.takeWhile(_ != '_') match {
          case "inner" => "inner"; case "left" => "left_outer"
          case _ => "full_outer"
        }
        if (shape.endsWith("_mm"))
          // min/max over a join view: the removal rescan rebuilds the
          // join for touched groups — swept under the same adversarial
          // churn (NULL keys, dim flips, both-side deletes) as the
          // distributive columns
          (s"SELECT nk, count(*) AS n, min(v) AS mn, max(v) AS mx " +
            s"FROM $cat.f_$shape $jt $cat.c_$shape ON fk = pk GROUP BY nk",
            () => {
              val f = spark.read.format("graft-store").load(fact)
              val c = spark.read.format("graft-store").load(d1)
              f.join(c, f("fk") === c("pk"), sjt)
                .groupBy("nk").agg(count(lit(1)).as("n"), min("v").as("mn"),
                  max("v").as("mx"))
            })
        else
        (s"SELECT nk, count(*) AS n, sum(v) AS s, count(DISTINCT v) AS dv " +
          s"FROM $cat.f_$shape $jt $cat.c_$shape ON fk = pk GROUP BY nk",
          () => {
            val f = spark.read.format("graft-store").load(fact)
            val c = spark.read.format("graft-store").load(d1)
            f.join(c, f("fk") === c("pk"), sjt)
              .groupBy("nk").agg(count(lit(1)).as("n"), sum("v").as("s"),
                countDistinct(col("v")).as("dv"))
          })
      case "chain" =>
        (s"SELECT lbl, count(*) AS n, sum(v) AS s " +
          s"FROM $cat.f_$shape LEFT JOIN $cat.c_$shape ON fk = pk " +
          s"LEFT JOIN $cat.n_$shape ON nk = nk2 GROUP BY lbl",
          () => {
            val f = spark.read.format("graft-store").load(fact)
            val c = spark.read.format("graft-store").load(d1)
            val n2 = spark.read.format("graft-store").load(d2)
            f.join(c, f("fk") === c("pk"), "left_outer")
              .join(n2, c("nk") === n2("nk2"), "left_outer")
              .groupBy("lbl").agg(count(lit(1)).as("n"), sum("v").as("s"))
          })
    }
    GraftMview.create(spark, mvDir, sql)
    val publicCols = decodePublic(mvDir)
    (1 to 10).foreach { round =>
      // 1-3 random ops per round, across every table the shape has
      (0 until (1 + rnd.nextInt(3))).foreach { _ =>
        rnd.nextInt(if (shape == "single") 2 else if (shape == "chain") 6 else 5) match {
          case 0 => factRows(rnd, 3 + rnd.nextInt(6))
            .write.format("graft-store").mode("append").save(fact)
          case 1 =>
            val m = rnd.nextInt(5)
            spark.sql(s"DELETE FROM $cat.f_$shape WHERE v % 5 = $m")
          case 2 => // dim append: new + re-added keys
            val lo = 15 + rnd.nextInt(5)
            Seq((lo.toLong, rnd.nextInt(4).toLong),
              (rnd.nextInt(20).toLong, rnd.nextInt(4).toLong))
              .toDF("pk", "nk")
              .write.format("graft-store").mode("append").save(d1)
          case 3 =>
            val m = rnd.nextInt(4)
            spark.sql(s"DELETE FROM $cat.c_$shape WHERE pk % 7 = $m")
          case 4 =>
            val m = rnd.nextInt(4)
            spark.sql(s"UPDATE $cat.c_$shape SET nk = (nk + 1) % 4 " +
              s"WHERE pk % 5 = $m")
          case 5 => // leaf-dim churn (chain only)
            if (rnd.nextBoolean())
              spark.sql(s"DELETE FROM $cat.n_$shape WHERE nk2 = ${rnd.nextInt(3)}")
            else Seq((rnd.nextInt(4).toLong, "zz")).toDF("nk2", "lbl")
              .write.format("graft-store").mode("append").save(d2)
        }
      }
      val (mode, _, _, _, _) = GraftMview.refresh(spark, mvDir)
      assert(mode == "incremental" || mode == "noop",
        s"$shape round $round refreshed via $mode")
      val got = canon(spark.read.format("graft-store").load(mvDir)
        .select(publicCols.map(col): _*))
      val want = canon(recompute())
      assert(got === want, s"$shape round $round diverged from recompute")
    }
  }

  /** Public (non-internal) columns of the stored view, in order. */
  private def decodePublic(mvDir: String): Seq[String] =
    spark.read.format("graft-store").load(mvDir).schema.fieldNames.toSeq
      .filterNot(_.startsWith("__"))

  test("single-table view: 10 random churn rounds match recompute") {
    catBase; runShape("single")
  }
  test("inner join view: 10 random churn rounds match recompute") {
    catBase; runShape("inner")
  }
  test("left outer view: 10 random churn rounds match recompute") {
    catBase; runShape("left")
  }
  test("full outer view: 10 random churn rounds match recompute") {
    catBase; runShape("full")
  }
  test("mixed left chain view: 10 random churn rounds match recompute") {
    catBase; runShape("chain")
  }
  test("inner join min/max view: 10 random churn rounds match recompute") {
    catBase; runShape("inner_mm")
  }
  test("left outer min/max view: 10 random churn rounds match recompute") {
    catBase; runShape("left_mm")
  }
  test("full outer min/max view: 10 random churn rounds match recompute") {
    catBase; runShape("full_mm")
  }
}
