package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `parent` is the span
  * that caused this one (0 = none) and `op` the timed operation it belongs
  * to (0 = outside any op). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startUs: Double, endUs: Double, attrs: Map[String, Any])

/** Spans kept in memory for the traced run, written as one JSON file at
  * the end. The benchmark records spans around its own calls into each
  * layer ([[Tracer.span]]); a [[SparkListener]] adds one span per Spark job
  * (with its stages' task metrics folded in) and a [[QueryExecutionListener]]
  * adds the `QueryExecution.tracker` phases of every executed query. Both
  * listeners find their op through the `perfbench.op` local property or,
  * for planning phases, through the op whose interval holds them.
  *
  * When tracing is off every method is a cheap no-op apart from running
  * the body. */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var stack = List.empty[Long] // open spans, innermost first
  @volatile private var currentOp = 0L
  private var lastOp = 0L
  // epoch-µs = nanoTime / 1000 + offset, so listener (epoch-ms) times line up
  private val offsetUs = System.currentTimeMillis() * 1000.0 - System.nanoTime() / 1000.0
  def nowUs: Double = System.nanoTime() / 1000.0 + offsetUs

  /** Runs `body` as a span named `name`. An `op` span starts a new timed
    * operation: Spark jobs started inside it carry its id. */
  def span[A](name: String, attrs: Map[String, Any] = Map.empty, op: Boolean = false)(
      body: => A): A = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val prevOp = currentOp
    if (op) setOp(id)
    stack = id :: stack
    val t0 = nowUs
    try body
    finally {
      stack = stack.tail
      spans.add(Span(id, parent, if (op) id else currentOp, name, t0, nowUs, attrs))
      if (op) { lastOp = id; setOp(prevOp) }
    }
  }

  /** Records attributes learned around a call (e.g. a refresh's reported
    * mode) as a zero-length span of the current op or, between ops, of the
    * op that just ended. */
  def note(name: String, attrs: Map[String, Any]): Unit =
    if (enabled) {
      val t = nowUs
      val op = if (currentOp != 0) currentOp else lastOp
      spans.add(Span(ids.incrementAndGet(), stack.headOption.getOrElse(op), op,
        name, t, t, attrs))
    }

  private var sc: SparkContext = _
  private def setOp(id: Long): Unit = {
    currentOp = id
    if (sc != null) sc.setLocalProperty("perfbench.op", if (id == 0) null else id.toString)
  }

  private val jobsOpen = new AtomicLong(0)

  /** Registers the job and query-execution listeners on `spark`. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double)]()
  private val jobAcc = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Long]]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsOpen.incrementAndGet()
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
        .map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (op, e.time * 1000.0))
      jobAcc.put(e.jobId, mutable.Map[String, Long]().withDefaultValue(0L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId.toLong))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobAcc.get(j.toInt))).foreach { acc =>
        val m = info.taskMetrics
        acc.synchronized {
          acc("tasks") += info.numTasks
          if (m != null) {
            acc("task_ns") += m.executorRunTime * 1000000L
            acc("input_rows") += m.inputMetrics.recordsRead
            acc("input_bytes") += m.inputMetrics.bytesRead
            acc("output_bytes") += m.outputMetrics.bytesWritten
            acc("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
            acc("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(e.jobId)).filter(_ => enabled).foreach { case (op, t0) =>
        val acc = Option(jobAcc.remove(e.jobId)).map(_.toMap).getOrElse(Map.empty)
        spans.add(Span(ids.incrementAndGet(), op, op, "job", t0, e.time * 1000.0,
          acc + ("job_id" -> e.jobId, "ok" -> (e.jobResult == JobSucceeded))))
      }
      jobsOpen.decrementAndGet()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      if (enabled) qe.tracker.phases.foreach { case (phase, p) =>
        spans.add(Span(ids.incrementAndGet(), 0L, 0L, s"phase.$phase",
          p.startTimeMs * 1000.0, p.endTimeMs * 1000.0,
          Map("duration_ms" -> p.durationMs)))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Waits (bounded) until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (jobsOpen.get() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // query-execution events trail the job ends
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startUs)

  def write(path: String): Unit = {
    val rows = all.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.arr(rows))
  }
}

/** Minimal JSON encoding for results and spans. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
  def arr(rows: Seq[String]): String = rows.mkString("[\n", ",\n", "\n]")
}
