package perfbench

import graft.soccer.Schemas
import org.apache.spark.sql.{Row, SparkSession}

/** Seeded, scaled soccer tables for the soccer-pipeline workload.
  *
  * Same shape and quirks as `graft.soccer.Fixtures`, grown in teams, games
  * and bookmakers: fractional `a/b` odds strings, duplicate (id, company)
  * rows for the most prolific bookmaker, off-vocabulary labels
  * (`Postponed`, `Void`), NULL odds cells, and game ids that run from
  * 1.45M to 1.7M so they straddle the reference's 1.5M/1.6M cutoffs.
  *
  * Outcomes follow a latent per-game edge (team strength, home advantage
  * and a shock) and the odds are priced from the same probabilities, so a
  * model trained on any one team's odds beats the majority class on every
  * game.
  * Everything is a pure function of the seed: [[SoccerGen.Data]] holds the
  * rows, and the workload's expectations are computed from them here, not
  * from the engine. */
object SoccerGen {

  final case class Params(teams: Int = 6, games: Int = 1200, companies: Int = 12)

  /** One game: the record row plus the odds/over-under rows keyed to it. */
  final case class Game(id: String, host: String, guest: String,
      flat: String, overUnder: String, record: Row)

  final case class Data(teams: Seq[(String, String)], games: Seq[Game],
      odds: Seq[Row], overUnder: Seq[Row]) {

    /** Top-n bookmakers by odds-row count over the given games, ties by name
      * (the engine's `Features.topCompanies` contract). */
    def topCompanies(ids: Set[String], n: Int = 10): Seq[String] =
      odds.filter(r => ids(r.getString(0)))
        .groupBy(_.getString(1)).toSeq
        .map { case (c, rs) => (c, rs.size) }
        .sortBy { case (c, k) => (-k, c) }.take(n).map(_._1)

    /** Games of `team` on side `hg` (0 = home, 1 = away). */
    def gamesFor(team: String, hg: Int): Seq[Game] =
      games.filter(g => (if (hg == 0) g.host else g.guest) == team)

    /** Games the engine's `predictFlat` must return for (team, hg): recent
      * (id > cutoff) and with every odds value of every trained company
      * present — a pivot cell is NULL only when all of that company's rows
      * for the game are NULL or unparseable. */
    def expectedPredictions(team: String, hg: Int, cutoff: Int): Seq[Game] = {
      val ids = gamesFor(team, hg).map(_.id).toSet
      val trained = topCompanies(ids)
      val byGame = odds.filter(r => r.getString(0).toInt > cutoff).groupBy(_.getString(0))
      // inference pivots over every game past the cutoff, not just the team's
      val all = games.filter(_.id.toInt > cutoff)
      all.filter { g =>
        val rows = byGame.getOrElse(g.id, Nil)
        trained.forall { c =>
          val cr = rows.filter(_.getString(1) == c)
          (2 to 7).forall(i => cr.exists(r => parseOdds(r.getString(i)).isDefined))
        }
      }
    }

    def write(spark: SparkSession, dir: String): Unit = {
      def save(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType, name: String): Unit =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
          .write.mode("overwrite").parquet(s"$dir/$name")
      save(teams.map { case (id, n) => Row(id, n) }, Schemas.teamList, "team_list")
      save(games.map(_.record), Schemas.gameRecord, "game_record")
      save(odds, Schemas.gameOdds, "game_odds")
      save(overUnder, Schemas.gameOverUnder, "game_overunder")
    }
  }

  /** The reference's odds coercion, restated: `a/b` is the mean of a and b,
    * a plain decimal is itself, anything else is missing. */
  def parseOdds(s: String): Option[Double] =
    if (s == null) None
    else s.split('/') match {
      case Array(a) => a.toDoubleOption
      case Array(a, b) => for (x <- a.toDoubleOption; y <- b.toDoubleOption) yield (x + y) / 2
      case _ => None
    }

  def generate(seed: Long, p: Params = Params()): Data = {
    val rng = new scala.util.Random(seed)
    val teams = (0 until p.teams).map(i => ((19 + i).toString, s"Club${(65 + i).toChar}"))
    val strength = teams.map(_ => rng.nextGaussian() * 0.4)
    val companies = (1 to p.companies).map(i => s"Comp$i")
    val step = 250000 / p.games
    def price(prob: Double): String = {
      val v = math.max(1.01, 1.0 / prob * 0.94 * (1 + rng.nextGaussian() * 0.04))
      rng.nextInt(300) match {
        case 0 => null // a missing cell
        case k if k < 50 => f"${v - 0.25}%.2f/${v + 0.25}%.2f" // fractional quarter line
        case _ => f"$v%.2f"
      }
    }
    val games = (0 until p.games).map { i =>
      val id = (1450000 + i * step).toString
      val h = rng.nextInt(p.teams)
      val g = (h + 1 + rng.nextInt(p.teams - 1)) % p.teams
      // team strength, home advantage and a per-game shock the odds price in
      val d = strength(h) - strength(g) + 0.3 + rng.nextGaussian() * 1.5
      val (pw, pd, pl) = {
        val (w, dr, l) = (math.exp(2 * d), 0.6, math.exp(-2 * d))
        (w / (w + dr + l), dr / (w + dr + l), l / (w + dr + l))
      }
      val u = rng.nextDouble()
      val flat =
        if (i % 13 == 12) "Postponed"
        else if (u < pw) "Win" else if (u < pw + pd) "Draw" else "Loss"
      val goals = 2.0 + rng.nextDouble() * 1.2
      val pOver = 1 / (1 + math.exp(-3 * (goals - 2.5)))
      val ou = if (i % 17 == 16) "Void" else if (rng.nextDouble() < pOver) "Over" else "Under"
      val asia = if (i % 3 == 0) "0.5/1" else f"${rng.nextInt(3) * 0.25}%.2f"
      val rec = Row(id, "Premier League", f"20${19 + i / 400}%02d-${1 + i % 12}%02d-${1 + i % 28}%02d",
        "19:30", teams(h)._2, s"${i % 4}-${i % 3}", teams(g)._2, s"${i % 2}-${i % 2}", asia, ou, flat)
      (Game(id, teams(h)._2, teams(g)._2, flat, ou, rec), (pw, pd, pl, pOver))
    }
    val odds = for {
      (game, (pw, pd, pl, _)) <- games
      (comp, ci) <- companies.zipWithIndex
      if ci < p.companies - 2 || (game.id.toInt / step + ci) % 3 == 0
      _ <- 0 to (if (ci == 0 && (game.id.toInt / step) % 4 == 0) 1 else 0)
    } yield Row(game.id, comp, price(pw), price(pd), price(pl), price(pw), price(pd), price(pl))
    val ous = for {
      (game, (_, _, _, po)) <- games
      (comp, ci) <- companies.zipWithIndex
      if ci < p.companies - 2 || (game.id.toInt / step + ci) % 3 == 0
    } yield {
      val line = if (game.id.toInt / step % 3 == 0) "2.5/3" else "2.5"
      Row(game.id, comp, price(po), line, price(1 - po), price(po), line, price(1 - po))
    }
    Data(teams, games.map(_._1), odds, ous)
  }
}
