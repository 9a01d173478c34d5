package graft

import graft.soccer.{Features, Fixtures, SoccerMl}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E1/E2 end-to-end parity over the soccer-domain fixtures (SURVEY.md §3):
  * game-list filter → semi-join → top-10 → pivot → label join → dropna →
  * split → boosted fit → accuracy → save/load → batch predict. */
class SoccerSpec extends AnyFunSuite with SparkTestBase {

  private lazy val record = Fixtures.gameRecord(spark)
  private lazy val odds = Fixtures.gameOdds(spark)
  private lazy val ou = Fixtures.gameOverUnder(spark)

  test("P2: home/away game filters select disjoint id sets") {
    val home = Features.gamesForTeam(record, "Arsenal", 0).collect().map(_.getString(0)).toSet
    val away = Features.gamesForTeam(record, "Arsenal", 1).collect().map(_.getString(0)).toSet
    assert(home.nonEmpty && away.nonEmpty)
    assert(home.intersect(away).isEmpty)
    assert(home.size + away.size === 60)
  }

  test("A1: topCompanies is count-ordered with deterministic tie-break") {
    val top = Features.topCompanies(odds, 10)
    assert(top.size === 10)
    assert(top.head === "Comp1") // duplicated rows make Comp1 most prolific
    val counts = odds.groupBy("odds_company").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sorted = counts.toSeq.sortBy { case (c, n) => (-n, c) }.map(_._1).take(10)
    assert(top === sorted)
  }

  test("A2/F9: pivot produces {value}_{hg}_{company} columns, mean over duplicates") {
    val companies = Features.topCompanies(odds, 10)
    val pivoted = Features.pivotFeatures(odds, companies, Features.oddsValueCols, hg = 0)
    assert(pivoted.columns.contains("final_win_0_Comp1"))
    assert(pivoted.columns.length === 1 + 10 * 6)
    // duplicate (id, company) rows must average, not take-first
    val dupGame = "1490000" // i=0: Comp1 duplicated
    val raw = odds.filter(col("id") === dupGame && col("odds_company") === "Comp1")
      .select(graft.functions.parseOdds(col("final_win"))).collect().flatMap(r =>
        if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val expected = raw.sum / raw.length
    val got = pivoted.filter(col("id") === dupGame).select("final_win_0_Comp1")
      .collect()(0).getDouble(0)
    assert(math.abs(got - expected) < 1e-9)
  }

  test("A2: pivot handles company names containing underscores (Bet_365)") {
    import spark.implicits._
    val oddsU = Seq(
      ("g1", "Bet_365", "2.10", "3.20", "3.50", "2.00", "3.10", "3.40"),
      ("g1", "Plain", "1.90", "3.00", "4.00", "1.85", "3.05", "4.10"))
      .toDF("id", "odds_company",
        "final_win", "final_draw", "final_lose",
        "initial_win", "initial_draw", "initial_lose")
    val pivoted = Features.pivotFeatures(oddsU, Seq("Bet_365", "Plain"), Features.oddsValueCols, hg = 1)
    // value and company must round-trip intact, not split at the first '_'
    assert(pivoted.columns.contains("final_win_1_Bet_365"), pivoted.columns.mkString(","))
    assert(pivoted.columns.contains("initial_lose_1_Plain"))
    val v = pivoted.select("final_win_1_Bet_365").collect()(0).getDouble(0)
    assert(math.abs(v - 2.10) < 1e-9)
  }

  test("E1: flat training set assembles with labels and no nulls") {
    val ts = Features.flatTrainingSet(record, odds, "Arsenal", hg = 0)
    assert(ts.columns.contains("flat"))
    assert(ts.count() > 4)
    val nullCounts = ts.select(ts.columns.map(c =>
      sum(when(col(c).isNull, 1).otherwise(0)).as(c)): _*).collect()(0)
    assert(nullCounts.toSeq.forall(_ == 0))
  }

  test("E1+M1-M5: train flat (OneVsRest GBT), persist, reload, predict") {
    val ts = Features.flatTrainingSet(record, odds, "Arsenal", hg = 0)
    val res = SoccerMl.train(ts, "flat", multiclass = true, maxIter = 3)
    assert(res.accuracy >= 0.0 && res.accuracy <= 1.0)
    assert(res.nTrain + res.nTest === ts.count())
    val dir = Fixture.dir()
    val path = SoccerMl.modelPath(dir, "19", 0, "flat")
    SoccerMl.save(res.model, path)
    val reloaded = SoccerMl.load(path)
    val preds = SoccerMl.predict(reloaded, ts)
    assert(preds.count() === ts.count())
    val classes = preds.select("prediction").distinct().collect().map(_.getDouble(0)).toSet
    assert(classes.subsetOf(Set(0.0, 1.0, 2.0)))
  }

  test("E1+M2: over/under training set joins two odds tables, binary GBT fits") {
    val ts = Features.overUnderTrainingSet(record, odds, ou, "Arsenal", hg = 0)
    assert(ts.columns.count(_.startsWith("final_line_0_")) > 0)
    val res = SoccerMl.train(ts, "overunder", multiclass = false, maxIter = 3)
    assert(res.accuracy >= 0.0 && res.accuracy <= 1.0)
  }

  test("facade: SoccerPredictor train/persist/predict over a data directory") {
    val dir = Fixture.dir()
    record.write.mode("overwrite").parquet(s"$dir/data/game_record")
    odds.write.mode("overwrite").parquet(s"$dir/data/game_odds")
    ou.write.mode("overwrite").parquet(s"$dir/data/game_overunder")
    val sp = new graft.soccer.SoccerPredictor(spark, s"$dir/data", s"$dir/models")
    val acc = sp.trainFlat("Arsenal", "19", hg = 0, maxIter = 3)
    assert(acc >= 0.0 && acc <= 1.0)
    val preds = sp.predictFlat("19", hg = 0, idCutoff = 1600000)
    assert(preds.count() > 0)
    assert(preds.columns.toSeq === Seq("id", "prediction"))
    assert(preds.select("id").collect().forall(_.getString(0).toInt > 1600000))
  }

  test("E2: inference features use the TRAINING company list (drift bug fixed)") {
    val companies = Features.topCompanies(odds, 10)
    val inf = Features.inferenceFeatures(odds, companies, Features.oddsValueCols, 0, idCutoff = 1600000)
    // recency filter keeps only ids > 1600000
    assert(inf.select("id").collect().forall(_.getString(0).toInt > 1600000))
    // pivot schema identical to training regardless of which companies survive
    assert(inf.columns.length === 1 + 10 * 6)
  }
}
