package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: what ran, how long it took, and whether it failed
  * (threw) or was wrong (its untimed check disagreed with the reference). */
final case class Sample(kind: String, name: String, seconds: Double,
    failed: Boolean, wrong: Boolean, attrs: Map[String, Any]) {
  def ok: Boolean = !failed && !wrong
  def toJson: Map[String, Any] = attrs ++ Map("kind" -> kind, "name" -> name,
    "s" -> seconds, "failed" -> failed, "wrong" -> wrong)
}

/** The closed loop's timing harness: one client thread, one op at a time. */
final class Harness(val spark: SparkSession, val tracer: Tracer, val workDir: String) {
  val samples = ArrayBuffer[Sample]()
  val problems = ArrayBuffer[String]()
  /** Seconds spent in each named part of set-up, in order. */
  val setupParts = scala.collection.mutable.LinkedHashMap[String, Double]()

  def part[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupParts(name) = (System.nanoTime() - t0) / 1e9
  }
  private var deadlineNs = Long.MaxValue
  var firstOpEpochMs = 0L
  var windowNs = 0L
  /** Seconds spent inside timed ops during the last window (checks and
    * other untimed work excluded). */
  var timedS = 0.0

  def expired: Boolean = System.nanoTime() >= deadlineNs

  /** Times `body` as one op; then, untimed, runs `check` on its result. A
    * check returns None when the result is right, or what is wrong. */
  def op[A](kind: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => A)(
      check: A => Option[String]): Option[A] = {
    if (firstOpEpochMs == 0) firstOpEpochMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"op.$kind", attrs + ("name" -> name), op = true)(body))
    catch { case t: Throwable => Left(t) }
    val secs = (System.nanoTime() - t0) / 1e9
    timedS += secs
    res match {
      case Left(t) =>
        problems += s"$kind $name failed: ${t.getClass.getSimpleName}: ${t.getMessage}".take(400)
        samples += Sample(kind, name, secs, failed = true, wrong = false, attrs)
        None
      case Right(a) =>
        val verdict = try check(a) catch { case t: Throwable => Some(s"check threw $t") }
        verdict.foreach(w => problems += s"$kind $name wrong: $w".take(400))
        samples += Sample(kind, name, secs, failed = false, wrong = verdict.isDefined, attrs)
        Some(a)
    }
  }

  /** Marks sample `i` wrong after a check that ran after its window. */
  def markWrong(i: Int, why: String): Unit = {
    val s = samples(i)
    problems += s"${s.kind} ${s.name} wrong: $why".take(400)
    samples(i) = s.copy(wrong = true)
  }

  /** Runs `step` in a closed loop until `seconds` have passed and the
    * workload stands at the end of a pass or cycle (`boundary`), so every
    * window holds whole passes. */
  def window(seconds: Double, boundary: => Boolean)(step: => Unit): Unit = {
    val t0 = System.nanoTime()
    timedS = 0.0
    deadlineNs = t0 + (seconds * 1e9).toLong
    do step while (!expired || !boundary)
    windowNs = System.nanoTime() - t0
    deadlineNs = Long.MaxValue
  }
}

/** A benchmark workload: seeded set-up, then a closed loop of steps. */
trait Workload {
  /** Generates inputs, builds fixtures and warms up; untimed. */
  def setup(h: Harness): Unit
  /** Runs the next op (or short fixed group of ops) of the loop. */
  def step(h: Harness): Unit
  /** True between passes (or cycles) of the loop. */
  def boundary: Boolean
  /** Untimed checks that run after each window, over its samples. */
  def afterWindow(h: Harness): Unit = ()
  /** How many times longer than an untraced window the traced one runs, so
    * that it holds every op kind of the workload. */
  def tracedScale: Int = 1
  /** Untimed end-of-run checks and counts; returns extra result fields. */
  def finish(h: Harness): Map[String, Any] = Map.empty
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --result FILE --costs FILE [--data DIR]`. Builds one local[4] session, runs
  * the workload's set-up and timed window (and, traced, a second window
  * with spans on), and writes the raw samples as JSON to FILE. `run.py`
  * turns them into metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work, seed)
    val sessionS = (System.currentTimeMillis() - startMs) / 1000.0
    val tracer = new Tracer(false)
    if (traced) tracer.attach(spark)
    val h = new Harness(spark, tracer, work)
    val w: Workload = workload match {
      case "sql-mix" => new SqlMix(seed, args("data"), costs(args("costs")))
      case "store-churn" => new StoreChurn(seed, work)
      case "soccer-pipeline" => new SoccerPipeline(seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupStart = System.currentTimeMillis()
    w.setup(h)
    h.window(seconds, w.boundary)(w.step(h))
    w.afterWindow(h)
    val untraced = h.samples.toList
    val windowS = h.windowNs / 1e9
    val timedS = h.timedS
    val liveHeapMb = liveHeap()
    var tracedOut = Map.empty[String, Any]
    if (traced) {
      h.samples.clear()
      val gc0 = gcTotals()
      tracer.enabled = true
      val t0 = tracer.nowUs
      h.window(w.tracedScale * seconds, w.boundary)(w.step(h))
      val Seq(n, ms) = gcTotals().zip(gc0).map { case (a, b) => a - b }
      tracer.note("jvm.gc", Map("gc_count" -> n, "gc_ms" -> ms, "window_start_us" -> t0,
        "window_end_us" -> tracer.nowUs))
      tracer.enabled = false
      w.afterWindow(h)
      val tracedSamples = h.samples.toList
      val tracedTimedS = h.timedS
      // a second untraced window after the traced one: the overhead is
      // traced minus this window, both past the first window's cold pass
      h.samples.clear()
      h.window(seconds, w.boundary)(w.step(h))
      w.afterWindow(h)
      tracedOut = Map("traced_samples" -> tracedSamples.map(_.toJson),
        "traced_timed_s" -> tracedTimedS, "spans" -> s"$work/spans.json",
        "after_samples" -> h.samples.map(_.toJson), "after_timed_s" -> h.timedS)
      tracer.enabled = true
    }
    val extra = w.finish(h)
    if (traced) {
      tracer.drain()
      tracer.enabled = false
      tracer.write(s"$work/spans.json")
    }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "window_s" -> windowS, "timed_s" -> timedS,
      "jvm_start_epoch_ms" -> startMs, "setup_start_epoch_ms" -> setupStart,
      "first_op_epoch_ms" -> h.firstOpEpochMs,
      "setup_parts" -> (Map("jvm_and_session" -> sessionS) ++ h.setupParts),
      "samples" -> untraced.map(_.toJson), "live_heap_mb" -> liveHeapMb,
      "problems" -> h.problems.toList) ++ tracedOut ++ extra
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("result")), Json.value(result))
    spark.stop()
  }

  /** The benchmark's one session: local[4] (one client thread, nproc = 4),
    * the engine's extensions, every scratch path inside the run's work dir. */
  def session(work: String, seed: Long): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$seed")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.checkpoint.dir", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  /** The spec costs of `sql_mix_costs.json`. */
  def costs(path: String): Map[String, Double] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).path("seconds")
    node.fieldNames().asScala.map(k => k -> node.get(k).asDouble()).toMap
  }

  /** Old-generation occupancy right after a full collection, in MB. */
  def liveHeap(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    used / (1024.0 * 1024.0)
  }

  /** (collections, collection ms) summed over every collector. */
  def gcTotals(): Seq[Long] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Seq(gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }
}
