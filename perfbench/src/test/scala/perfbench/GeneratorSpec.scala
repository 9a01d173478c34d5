package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The seeded input generators: the same seed gives identical inputs, a
  * different seed gives different ones, and the soccer tables keep the
  * reference fixtures' quirks. */
class GeneratorSpec extends AnyFunSuite {

  private def soccerRows(d: SoccerGen.Data): Seq[String] =
    d.games.map(_.record.toString) ++ d.odds.map(_.toString) ++ d.overUnder.map(_.toString)

  test("soccer: same seed, identical tables; other seed, different tables") {
    assert(soccerRows(SoccerGen.generate(7)) === soccerRows(SoccerGen.generate(7)))
    assert(soccerRows(SoccerGen.generate(7)) !== soccerRows(SoccerGen.generate(8)))
  }

  test("soccer: keeps the fixtures' quirks") {
    val d = SoccerGen.generate(7)
    val cells = d.odds.flatMap(r => (2 to 7).map(r.getString))
    assert(cells.exists(c => c != null && c.contains("/")), "fractional a/b odds")
    assert(cells.contains(null), "NULL odds cells")
    val keys = d.odds.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.size < keys.size, "duplicate (id, company) rows")
    assert(d.games.exists(_.flat == "Postponed") && d.games.exists(_.overUnder == "Void"),
      "off-vocabulary labels")
    val ids = d.games.map(_.id.toInt)
    assert(ids.min < 1500000 && ids.exists(i => i > 1500000 && i <= 1600000) &&
      ids.max > 1600000, "ids straddle the 1.5M and 1.6M cutoffs")
    val counts = d.odds.groupBy(_.getString(1)).map { case (c, rs) => c -> rs.size }
    assert(d.topCompanies(d.games.map(_.id).toSet).toSet === (1 to 10).map(i => s"Comp$i").toSet,
      "two sparse bookmakers fall outside the top 10")
    assert(counts("Comp11") < counts("Comp10"))
  }

  test("soccer: the odds parse like the engine's parse_odds") {
    assert(SoccerGen.parseOdds("0.5/1").contains(0.75))
    assert(SoccerGen.parseOdds("2.10").contains(2.10))
    assert(SoccerGen.parseOdds(null).isEmpty && SoccerGen.parseOdds("n/a").isEmpty)
  }

  private def churn(seed: Long, cycles: Int): (Seq[ChurnGen.Order], Seq[(String, String, Int)], Long) = {
    val p = ChurnGen.Params(factRows = 5000)
    val facts = ChurnGen.facts(seed, p)
    val model = new ChurnGen.Model(facts)
    val rng = new scala.util.Random(seed)
    val commits = ChurnGen.plan.take(cycles).map { case (kind, cls) =>
      val n = (model.count * (if (cls == "small") p.smallFrac else p.largeFrac)).toInt.max(1)
      val c = model.draw(rng, kind, n, p)
      model(c)
      (kind, cls, c.rows)
    }.toSeq
    (facts, commits, model.checksum)
  }

  test("store-churn: same seed, identical table and commits; other seed, different rows") {
    assert(churn(3, 12) === churn(3, 12))
    val (f3, _, sum3) = churn(3, 12)
    val (f4, _, sum4) = churn(4, 12)
    assert(f3 !== f4)
    assert(sum3 !== sum4, "the commits' rows differ")
  }

  test("store-churn: every six cycles hold each kind and each size class") {
    val (_, commits, _) = churn(5, 6)
    assert(commits.map(_._1).toSet === Set("append", "merge", "delete"))
    assert(commits.map(_._2).toSet === Set("small", "large"))
  }

  test("store-churn: the model tracks appends, upserts and range deletes") {
    val p = ChurnGen.Params(factRows = 1000)
    val model = new ChurnGen.Model(ChurnGen.facts(1, p))
    val rng = new scala.util.Random(1)
    val del = model.draw(rng, "delete", 50, p)
    model(del)
    assert(model.count === 950L)
    val merge = model.draw(rng, "merge", 40, p).asInstanceOf[ChurnGen.Merge]
    val inserts = merge.orders.count(_.key >= 1000)
    model(merge)
    assert(model.count === 950L + inserts)
    model(model.draw(rng, "append", 10, p))
    assert(model.count === 960L + inserts)
  }
}
