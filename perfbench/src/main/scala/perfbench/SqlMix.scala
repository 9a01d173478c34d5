package perfbench

import scala.collection.mutable

import graft.QuerySpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** sql-mix: a family- and cost-stratified sample of the engine's read-only
  * query specs over seeded TPC-H-shaped tables, each result forced through
  * the `noop` sink, one query at a time in a seeded order. The sample is
  * the same for every seed and a timed window ends only after a whole pass
  * over it, so every window holds the same mix and the seed moves only the
  * data and the order.
  *
  * Set-up runs every sampled query once on [[SqlMix.workers]] sessions in
  * parallel (the warm-up) and writes its result as the reference dump;
  * `run.py` checks each dump against the query's declared DuckDB oracle SQL
  * after the run. The timed op is the plain `noop` write. After each
  * window, every op of the window gets an untimed re-execution, again in
  * parallel, whose order-independent fingerprint (row count and a hash
  * sum) must equal the fingerprint of the query's reference dump. */
final class SqlMix(seed: Long, dataDir: String, cost: Map[String, Double]) extends Workload {
  import SqlMix._

  private var queries: IndexedSeq[QuerySpec] = IndexedSeq.empty
  private var byName: Map[String, QuerySpec] = Map.empty
  private val reference = mutable.Map[String, (Long, Long)]()
  private var sessions: IndexedSeq[SparkSession] = IndexedSeq.empty
  private var pos = 0

  def setup(h: Harness): Unit = {
    val spark = h.spark
    queries = new scala.util.Random(seed).shuffle(sample(cost))
    byName = queries.map(q => q.name -> q).toMap
    sessions = IndexedSeq.fill(workers)(spark.newSession())
    val refDir = s"${h.workDir}/ref"
    h.part("warm_up") {
      val refs = inParallel(sessions, queries.size) { (s, i) =>
        val q = queries(i)
        q.fn(s, dataDir).write.mode("overwrite").parquet(s"$refDir/${q.name}")
        fingerprint(s.read.parquet(s"$refDir/${q.name}"))
      }
      for ((q, r) <- queries.zip(refs)) r match {
        case Right(fp) => reference(q.name) = fp
        case Left(t) => h.problems += s"warm-up ${q.name} failed: $t".take(400)
      }
      spark.catalog.clearCache()
    }
    val oracle = queries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$refDir/oracle_sql.json"),
      Json.value(oracle))
  }

  def boundary: Boolean = pos % queries.size == 0

  def step(h: Harness): Unit = {
    val q = queries(pos % queries.size)
    pos += 1
    h.op("query", q.name, Map("family" -> family(q.name))) {
      q.fn(h.spark, dataDir).write.format("noop").mode("overwrite").save()
    } { _ => h.spark.catalog.clearCache(); None }
  }

  override def afterWindow(h: Harness): Unit = {
    val ops = h.samples.indices.filter(i => h.samples(i).kind == "query" && !h.samples(i).failed)
    val got = inParallel(sessions, ops.size) { (s, k) =>
      fingerprint(byName(h.samples(ops(k)).name).fn(s, dataDir))
    }
    h.spark.catalog.clearCache()
    for ((i, r) <- ops.zip(got)) {
      val want = reference.get(h.samples(i).name)
      r match {
        case Right(fp) if want.contains(fp) =>
        case Right(fp) => h.markWrong(i, s"fingerprint $fp != reference $want")
        case Left(t) => h.markWrong(i, s"check threw $t")
      }
    }
  }

  override def finish(h: Harness): Map[String, Any] =
    Map("sample" -> queries.map(q => Map("name" -> q.name, "family" -> family(q.name))),
      "kernel_queries" -> kernelQueries.toSeq.sorted)
}

object SqlMix {
  /** The five read-only spec families the mix draws from. */
  val families: Seq[(String, Seq[QuerySpec])] = Seq(
    "core" -> graft.operators.CoreQueries.all,
    "analytics" -> graft.operators.AnalyticsQueries.all,
    "relational" -> graft.operators.RelationalDepthQueries.all,
    "pipeline" -> graft.operators.PipelineQueries.all,
    "ext" -> graft.ext.ExtQueries.all)

  /** Left out of the mix, with the reason. */
  val excluded: Map[String, String] = Map(
    "q66_multiformat" -> "writes to a fixed /tmp path",
    "q32_embed_neardup" ->
      "its oracle answers -0.0 where the engine answers 0.0 on about one seed in three")

  /** Queries whose time goes mostly to the engine's own expressions
    * (parse_odds, tokenizers, minhash/simhash, LSH and cosine, sketches, dot
    * products). Five of them are in the sample: q23, q31, q111, q121, q141. */
  val kernelQueries: Set[String] = Set(
    "q06_frac_odds", "q23_token_count", "q26_minhash_sig", "q27_minhash_pairs",
    "q29_simhash", "q30_ann_cosine", "q31_ann_lsh", "q46_approx_sketches",
    "q51_simhash_hamming", "q72_heavy_hitters", "q85_count_min", "q107_kll_quantiles",
    "q111_semantic_clusters", "q121_repetition", "q123_winnowing", "q141_embed_covariance")

  val strata = 12

  /** Sessions (and threads) of the untimed warm-up and checks. */
  val workers = 4

  /** Runs task 0 until n on one thread per session, each thread taking the
    * next task as it finishes one; results (or what each threw) in order. */
  def inParallel[A](sessions: IndexedSeq[SparkSession], n: Int)(
      task: (SparkSession, Int) => A): IndexedSeq[Either[Throwable, A]] = {
    val out = new Array[Either[Throwable, A]](n)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = sessions.map { s =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) {
          out(i) = try Right(task(s, i)) catch { case t: Throwable => Left(t) }
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toIndexedSeq
  }

  private lazy val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
  def family(name: String): String = familyOf(name)

  /** A stratified sample by family and cost: each family gets specs in
    * proportion to its size (at least two), its specs are ranked by cost
    * (`sql_mix_costs.json`; a spec missing there ranks as the costliest) and
    * cut into that many equal runs of adjacent cost, and the sample takes
    * the middle spec of each run. */
  def sample(cost: Map[String, Double]): IndexedSeq[QuerySpec] = {
    val top = cost.values.max
    val pops = families.map { case (_, qs) =>
      qs.filterNot(q => excluded.contains(q.name))
        .sortBy(q => (cost.getOrElse(q.name, top), q.name)).toIndexedSeq
    }
    val total = pops.map(_.size).sum
    pops.flatMap { ranked =>
      val k = math.max(2, math.round(strata.toDouble * ranked.size / total).toInt)
      val edges = (0 to k).map(_ * ranked.size / k)
      edges.sliding(2).map { case Seq(a, b) => ranked((a + b) / 2) }
    }.toIndexedSeq
  }

  /** Columns in name order, maps rendered as JSON (xxhash64 takes no maps). */
  private def hashable(df: DataFrame): Seq[Column] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    df.schema.fields.sortBy(_.name).toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
  }

  private def fpColumns(df: DataFrame): Seq[Column] = {
    val cols = hashable(df)
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"), sum(pmod(rowHash, lit(2147483647L))).as("h"))
  }

  /** (rows, hash sum) of a frame, order-independent. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(fpColumns(df).head, fpColumns(df).tail: _*).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
