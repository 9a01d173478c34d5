package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** store-churn: an orders-shaped graft-store fact table (merge-on-read) and
  * two dimension tables under a fresh `GraftCatalog`, three materialized
  * views over them, and a loop of churn cycles. Each cycle commits one
  * seeded churn batch, refreshes every view, serves each view's defining
  * aggregate through base-table SQL, scans the fact table twice (filtered
  * and full width), and compacts it every [[StoreChurn.compactEvery]] cycles.
  *
  * Checks, all untimed: every served aggregate must equal the same SQL on a
  * second session with `spark.graft.mv.rewrite=false`, and every scan's
  * row count and checksum (read again right after the timed scan) must
  * equal the generator's model of the fact table. */
final class StoreChurn(seed: Long, work: String) extends Workload {
  import StoreChurn._

  private val p = ChurnGen.Params()
  private val cat = s"pb_store_${seed.abs}_${System.nanoTime() % 1000000}"
  private val base = s"$work/store"
  private val rng = new scala.util.Random(seed)
  private val plan = ChurnGen.plan
  private var model: ChurnGen.Model = _
  private var check: SparkSession = _
  private val pending = mutable.Queue[Harness => Unit]()
  private var cycle = 0

  private def views: Seq[(String, String)] = Seq(
    "mv_inner" -> (s"SELECT c_nationkey, count(*) AS n, sum(o_qty) AS q, sum(o_cents) AS c " +
      s"FROM $cat.fact JOIN $cat.customer ON o_custkey = c_custkey GROUP BY c_nationkey"),
    "mv_left" -> (s"SELECT n_regionkey, count(*) AS n, sum(o_cents) AS c " +
      s"FROM $cat.fact LEFT JOIN $cat.customer ON o_custkey = c_custkey " +
      s"LEFT JOIN $cat.nation ON c_nationkey = n_nationkey GROUP BY n_regionkey"),
    "mv_minmax" -> (s"SELECT o_status, o_prio, count(*) AS n, min(o_cents) AS mn, " +
      s"max(o_cents) AS mx FROM $cat.fact GROUP BY o_status, o_prio"))

  def setup(h: Harness): Unit = {
    val spark = h.spark
    check = spark.newSession()
    for (s <- Seq(spark, check)) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
    }
    check.conf.set("spark.graft.mv.rewrite", "false")
    val facts = h.part("generate")(ChurnGen.facts(seed, p))
    model = new ChurnGen.Model(facts)
    h.part("tables") {
      ChurnGen.frame(spark, facts, 4).write.format("graft-store").option("dmlMode", "mor")
        .mode("overwrite").save(s"$base/fact")
      ChurnGen.customers(spark, seed, p).write.format("graft-store").mode("overwrite")
        .save(s"$base/customer")
      ChurnGen.nations(spark).write.format("graft-store").mode("overwrite").save(s"$base/nation")
    }
    h.part("views") {
      for ((mv, sql) <- views)
        spark.sql(s"CALL $cat.system.create_mview('$mv', '$sql')").collect()
    }
    // warm-up: one whole cycle, then time from here
    val warm = new Harness(spark, h.tracer, h.workDir)
    h.part("warm_up")(while (cycle < 1 || pending.nonEmpty) step(warm))
    h.problems ++= warm.problems
    h.problems ++= warm.samples.filterNot(_.ok).map(s => s"warm-up ${s.kind} ${s.name} not ok")
  }

  def step(h: Harness): Unit = {
    if (pending.isEmpty) enqueueCycle()
    pending.dequeue()(h)
  }

  def boundary: Boolean = pending.isEmpty

  // a window holds about two cycles; the commit rotation needs three
  override def tracedScale: Int = 2

  private def enqueueCycle(): Unit = {
    cycle += 1
    val (kind, cls) = plan.next()
    val n = math.max(1, (model.count * (if (cls == "small") p.smallFrac else p.largeFrac)).toInt)
    val commit = model.draw(rng, kind, n, p)
    val attrs = Map[String, Any]("class" -> cls, "rows" -> commit.rows, "cycle" -> cycle,
      "commit" -> commit.kind)
    // each view is refreshed and then served, with the two scans between
    // views, so even a short window sees every op kind
    val scans = Seq("filtered", "full")
    pending += (h => commitOp(h, commit, attrs))
    for (((mv, sql), i) <- views.zipWithIndex) {
      pending += (h => refreshOp(h, mv, attrs))
      pending += (h => serveOp(h, mv, sql))
      if (i < scans.size) pending += (h => scanOp(h, scans(i)))
    }
    if (cycle % compactEvery == 0) pending += (h => compactOp(h))
  }

  private def commitOp(h: Harness, c: ChurnGen.Commit, attrs: Map[String, Any]): Unit = {
    val spark = h.spark
    val before = if (h.tracer.enabled) dirBytes(s"$base/fact") else 0L
    h.op("commit", c.kind, attrs) {
      h.tracer.span(s"store.${c.kind}") {
        c match {
          case ChurnGen.Append(os) =>
            ChurnGen.frame(spark, os, 1).write.format("graft-store").mode("append")
              .save(s"$base/fact")
          case ChurnGen.Merge(os) =>
            val view = s"pb_merge_src_$cycle"
            ChurnGen.frame(spark, os, 1).createOrReplaceTempView(view)
            try spark.sql(s"MERGE INTO $cat.fact t USING $view s " +
              "ON t.o_orderkey = s.o_orderkey " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
            finally spark.catalog.dropTempView(view)
          case ChurnGen.Delete(lo, hi, _) =>
            spark.sql(s"DELETE FROM $cat.fact WHERE o_orderkey >= $lo AND o_orderkey < $hi")
        }
      }
    } { _ => model(c); None }
    if (h.tracer.enabled)
      h.tracer.note("store.output", Map("bytes" -> (dirBytes(s"$base/fact") - before),
        "commit" -> c.kind))
  }

  private def refreshOp(h: Harness, mv: String, attrs: Map[String, Any]): Unit =
    h.op("refresh", mv, attrs) {
      h.tracer.span("mview.refresh") {
        h.spark.sql(s"CALL $cat.system.refresh_mview('$mv')").collect()(0)
      }
    } { r =>
      h.tracer.note("mview.result", Map("mode" -> r.getString(0),
        "groups_changed" -> r.getLong(1), "groups_deleted" -> r.getLong(2)))
      if (Set("incremental", "full", "noop")(r.getString(0))) None
      else Some(s"refresh mode ${r.getString(0)}")
    }

  private def serveOp(h: Harness, mv: String, sql: String): Unit =
    h.op("serve", mv) {
      val df = h.spark.sql(sql)
      (df, df.collect())
    } { case (df, rows) =>
      h.tracer.note("rewrite", Map("hit" -> df.queryExecution.optimizedPlan.toString
        .contains(s"$base/$mv")))
      val want = canon(check.sql(sql).collect())
      if (canon(rows) == want) None else Some(s"served rows differ from rewrite-off rows")
    }

  private def scanOp(h: Harness, which: String): Unit =
    h.op("scan", which) {
      val t = h.spark.table(s"$cat.fact")
      val df = if (which == "full") t else t.where(ChurnGen.filterSql)
      df.write.format("noop").mode("overwrite").save()
      df
    } { df =>
      // the same snapshot, read again: nothing commits between the two
      val r = df.agg(count(lit(1)), sum(expr(ChurnGen.checksumSql))).collect()(0)
      val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      val want = if (which == "full") (model.count, model.checksum) else model.filtered
      if (got == want) None else Some(s"(rows, checksum) $got != model $want")
    }

  private def compactOp(h: Harness): Unit =
    h.op("compact", "fact") {
      h.tracer.span("store.compact") {
        h.spark.sql(s"CALL $cat.system.compact('fact')").collect()
      }
    } { _ => None }

  override def finish(h: Harness): Map[String, Any] = {
    val files = h.spark.sql(s"SELECT count(*) FROM $cat.`fact$$files`").collect()(0).getLong(0)
    val deletes = h.spark.sql(s"SELECT count(*) FROM $cat.`fact$$deletes`").collect()(0).getLong(0)
    val bytes = Seq("fact", "customer", "nation").map(t => dirBytes(s"$base/$t")).sum
    h.tracer.note("store.files", Map("files_live" -> files, "delete_files_live" -> deletes))
    Map("store_bytes_per_row" -> bytes.toDouble / model.count, "store_bytes" -> bytes,
      "fact_rows" -> model.count, "files_live" -> files, "delete_files_live" -> deletes,
      "cycles" -> cycle)
  }
}

object StoreChurn {
  val compactEvery = 4

  def canon(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case null => "null"
    case x => x.toString
  }.mkString("|")).sorted.toSeq

  def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
