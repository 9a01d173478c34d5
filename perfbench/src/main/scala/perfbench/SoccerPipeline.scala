package perfbench

import graft.soccer.{Features, SoccerMl, SoccerPredictor}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.feature.{StringIndexerModel, VectorAssembler}
import org.apache.spark.sql.DataFrame

/** soccer-pipeline: the reference's train-then-predict path over seeded
  * soccer tables. For each (team, home/away) of a seeded order it runs a
  * features op (`Features.flatTrainingSet`, forced), a train op
  * (`SoccerPredictor.trainFlat` + `trainOverUnder`) and a predict op
  * (`SoccerPredictor.predictFlat`, collected).
  *
  * Traced, the train and predict ops call `Features`, `SoccerMl.train`,
  * `save` and `load` separately (the same work the facade does), so
  * feature building, fitting, model I/O and prediction get spans of their
  * own.
  *
  * The predict check is untimed and uses the generator's own answer: the
  * row count must equal the recent games with complete odds, and accuracy
  * against the recorded outcomes must beat the majority-class rate. */
final class SoccerPipeline(seed: Long, work: String) extends Workload {
  import SoccerPipeline._

  private val dataDir = s"$work/soccer"
  private val modelDir = s"$work/models"
  private var data: SoccerGen.Data = _
  private var predictor: SoccerPredictor = _
  private var pairs: IndexedSeq[(String, String, Int)] = IndexedSeq.empty
  private var pos = 0

  def setup(h: Harness): Unit = {
    prepare(h)
    warmUp(h)
  }

  /** Generates and writes the tables and draws the seeded (team, side)
    * order; untimed. */
  private def prepare(h: Harness): Unit = {
    data = h.part("soccer_generate")(SoccerGen.generate(seed))
    h.part("soccer_write")(data.write(h.spark, dataDir))
    predictor = new SoccerPredictor(h.spark, dataDir, modelDir)
    val rng = new scala.util.Random(seed)
    pairs = rng.shuffle(for ((id, name) <- data.teams; hg <- 0 to 1) yield (id, name, hg))
      .toIndexedSeq
  }

  private def warmUp(h: Harness): Unit = {
    // warm-up on the last pair: the features op and a single-round binary
    // model, which run the pivot, join and boosting code of the timed rounds
    val (id, name, hg) = pairs.last
    h.part("soccer_warm_up") {
      Features.flatTrainingSet(table(h, "game_record"), table(h, "game_odds"), name, hg)
        .write.format("noop").mode("overwrite").save()
      predictor.trainOverUnder(name, id, hg, 1)
    }
  }

  /** One whole (features, train, predict) round: a train op outlasts a
    * short window, so the loop checks the clock between rounds only. */
  def step(h: Harness): Unit = {
    round(h, pairs(pos % pairs.size))
    pos += 1
  }

  def boundary: Boolean = true

  private def table(h: Harness, name: String): DataFrame = h.spark.read.parquet(s"$dataDir/$name")

  private def round(h: Harness, pair: (String, String, Int)): Unit = {
    val (id, name, hg) = pair
    val key = s"${name}_$hg"
    h.op("features", key) {
      h.tracer.span("soccer.features") {
        Features.flatTrainingSet(table(h, "game_record"), table(h, "game_odds"), name, hg)
          .write.format("noop").mode("overwrite").save()
      }
    } { _ => None }
    h.op("train", key) {
      if (h.tracer.enabled) tracedTrain(h, id, name, hg)
      else (predictor.trainFlat(name, id, hg, maxIter), predictor.trainOverUnder(name, id, hg, maxIter))
    } { case (a, b) =>
      if (Seq(a, b).forall(x => x >= 0 && x <= 1)) None else Some(s"accuracy out of range: $a, $b")
    }
    h.op("predict", key) {
      if (h.tracer.enabled) tracedPredict(h, id, hg)
      else predictor.predictFlat(id, hg).collect()
    } { rows =>
      val model = SoccerMl.load(SoccerMl.modelPath(modelDir, id, hg, "flat"))
      checkPredictions(rows.toSeq.map(r => (r.getString(0), r.getDouble(1))), model, name, hg)
    }
  }

  /** `trainFlat` + `trainOverUnder`, one layer call at a time. */
  private def tracedTrain(h: Harness, id: String, name: String, hg: Int): (Double, Double) = {
    val t = h.tracer
    def fit(kind: String, ts: => DataFrame, label: String, multi: Boolean): Double = {
      val features = t.span("soccer.features")(ts)
      val res = t.span("soccer.fit")(SoccerMl.train(features, label, multi, maxIter))
      t.span("soccer.model_io")(SoccerMl.save(res.model, SoccerMl.modelPath(modelDir, id, hg, kind)))
      res.accuracy
    }
    val (gr, od, ou) = (table(h, "game_record"), table(h, "game_odds"), table(h, "game_overunder"))
    (fit("flat", Features.flatTrainingSet(gr, od, name, hg), "flat", multi = true),
      fit("overunder", Features.overUnderTrainingSet(gr, od, ou, name, hg), "overunder", multi = false))
  }

  /** `predictFlat`, one layer call at a time. */
  private def tracedPredict(h: Harness, id: String, hg: Int): Array[org.apache.spark.sql.Row] = {
    val t = h.tracer
    val model = t.span("soccer.model_io") {
      SoccerMl.load(SoccerMl.modelPath(modelDir, id, hg, "flat"))
    }
    t.span("soccer.predict") {
      val feats = Features.inferenceFeatures(table(h, "game_odds"), trainedCompanies(model),
        Features.oddsValueCols, hg, cutoff).na.drop("any")
      SoccerMl.predict(model, feats).collect()
    }
  }

  private def checkPredictions(got: Seq[(String, Double)], model: PipelineModel,
      name: String, hg: Int): Option[String] = {
    val expected = data.expectedPredictions(name, hg, cutoff)
    if (got.size != expected.size)
      return Some(s"${got.size} predictions, expected ${expected.size}")
    val labels = model.stages.collectFirst { case s: StringIndexerModel => s.labelsArray(0) }.get
    val truth = expected.flatMap(g => encodeFlat(g.flat).map(g.id -> _)).toMap
    val scored = got.flatMap { case (gid, p) => truth.get(gid).map(_ == labels(p.toInt)) }
    val accuracy = scored.count(identity).toDouble / scored.size
    val majority = truth.values.groupBy(identity).values.map(_.size).max.toDouble / truth.size
    if (accuracy > majority) None
    else Some(f"accuracy $accuracy%.3f does not beat the majority rate $majority%.3f")
  }
}

object SoccerPipeline {
  /** Boosting rounds per model. The reference uses 100 (depth 2, step
    * 0.1); at 100 one train op takes about 68 s on a 4-core host, so the
    * benchmark fits 10 rounds of the same trees. */
  val maxIter = 10
  val cutoff = 1600000

  /** The outcome encoding of `graft.functions.encodeFlat`. */
  def encodeFlat(s: String): Option[String] = s match {
    case "Win" => Some("3"); case "Draw" => Some("1"); case "Loss" => Some("0"); case _ => None
  }

  /** Companies a model was trained on, from its assembler's input columns
    * (`{value}_{hg}_{company}`). */
  def trainedCompanies(model: PipelineModel): Seq[String] = {
    val values = (Features.oddsValueCols ++ Features.ouValueCols).sortBy(-_.length)
    model.stages.collectFirst { case a: VectorAssembler => a }.get.getInputCols.toSeq.map { c =>
      val v = values.find(v => c.startsWith(v + "_")).get
      c.drop(v.length + 1).dropWhile(_.isDigit).stripPrefix("_")
    }.distinct
  }
}
