package graft
/** Times every SparkEntry query and prints two JSON lines. The full line
  * also goes to `/tmp/bench.json` and, when an output path is given as the
  * only argument, to that file: `runMain graft.Bench BENCH_LOCAL.json`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // optional comma-separated subset for targeted profiling
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Warmup pass (untimed): first execution of each plan pays Janino codegen
    // compilation + JVM JIT, a fixed cost that amortizes to zero at real data
    // scale. The timed pass below measures steady-state execution.
    selected.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      // some operators return persisted frames (documented contract: caller
      // unpersists); a 77-query × 2-pass session would otherwise accumulate
      // cached blocks and degrade later queries via GC pressure
      spark.catalog.clearCache()
    }
    val errors = scala.collection.mutable.ListBuffer[String]()
    // per entry: (total_s, setup_s, query_s). Lifecycle fixtures declare
    // their setup/query boundary via BenchSetup.mark(); entries that never
    // mark report setup 0 (all query). Drift tracking should compare
    // query_s — setup_s is fixture I/O, the noisy component.
    val results = selected.map { case (name, fn) =>
      BenchSetup.begin()
      val t0 = System.nanoTime()
      // noop sink forces full computation of every column (a bare count()
      // lets Spark prune the projections being measured)
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case t: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
          errors += name
          false
        }
      // a failed query reports -1, never a bogus partial time
      val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val setup = if (ok) math.min(BenchSetup.setupSeconds(), elapsed) else 0.0
      spark.catalog.clearCache() // untimed: hygiene between measurements
      name -> ((elapsed, setup, if (ok) elapsed - setup else -1.0))
    }
    // REPEAT PROBE: the top-K slowest query_s entries re-run (R−1) more
    // times so a large swing on untouched code can be CLASSIFIED instead
    // of eyeballed — per-run times that stay high are algorithmic
    // (e.g. KMeans iteration-count variance), a one-off spike is host
    // jitter. Reported as repeat_query_s (all runs, first = the timed
    // pass) and summarized as best-of in the compact line.
    val repeatTop = sys.env.getOrElse("SPARK_GRAFT_REPEAT_TOP", "5").toInt
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    val topNames = results.toSeq.filter(_._2._3 >= 0)
      .sortBy(-_._2._3).take(repeatTop).map(_._1)
    val repeatS: Seq[(String, Seq[Double])] = topNames.map { name =>
      val fn = selected(name)
      val more = (2 to repeats).map { _ =>
        BenchSetup.begin()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case _: Throwable => false }
        val el = (System.nanoTime() - t0) / 1e9
        val st = if (ok) math.min(BenchSetup.setupSeconds(), el) else 0.0
        spark.catalog.clearCache()
        if (ok) el - st else -1.0
      }
      name -> (results(name)._3 +: more)
    }
    def s3r(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val repeatJson = repeatS.map { case (k, vs) =>
      "\"" + k + "\":[" + vs.map(s3r).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, (v, _, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val setups = results.map { case (k, (_, s, _)) => s"\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val queryS = results.map { case (k, (_, _, q)) => s"\"" + k + "\":" + q }
      .mkString("{", ",", "}")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val queryTotal = results.values.map(_._3).filter(_ >= 0).sum
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"setup_s":$setups,"query_s":$queryS,"query_total":$queryTotal,"repeat_query_s":$repeatJson,"errors":$errs,"sf":"$sfDir"}"""
    println(json)
    // Persist the full-precision JSON where the driver / a human can always
    // recover it (stdout has proven lossy three rounds running). Only an
    // explicit output path writes a file outside /tmp, so no run overwrites
    // a committed snapshot as a side effect.
    for (p <- "/tmp/bench.json" +: args.headOption.toSeq) {
      try {
        val w = new java.io.PrintWriter(new java.io.File(p))
        try w.println(json) finally w.close()
      } catch { case _: Throwable => () }
    }
    // The full line above is ~2.9 KB for 85 queries; the driver's stdout
    // capture keeps only a ~2000-char TAIL, so the line's head (with
    // "metric":"total") is cut off and every round's BENCH_r{N}.json came
    // back "parsed": null. Emit a compact line LAST — abbreviated "qNN"
    // keys, 3-decimal seconds, ~1.1 KB — so a COMPLETE JSON object always
    // sits inside the tail window regardless of how the driver parses it.
    def s3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val prefixes = results.keys.map(_.takeWhile(_ != '_')).toSeq
    val shortKeys = prefixes.distinct.size == prefixes.size
    val qsCompact = results.map { case (k, (v, _, _)) =>
      val key = if (shortKeys) k.takeWhile(_ != '_') else k
      "\"" + key + "\":" + (if (v < 0) "-1" else s3(v))
    }.mkString("{", ",", "}")
    val repeatBest = repeatS.map { case (k, vs) =>
      val key = if (shortKeys) k.takeWhile(_ != '_') else k
      "\"" + key + "\":" + s3(vs.filter(_ >= 0) match {
        case Seq() => -1.0; case ok => ok.min })
    }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${s3(total)},"unit":"sec","query_total":${s3(queryTotal)},"queries":$qsCompact,"repeat_best_s":$repeatBest,"errors":$errs,"sf":"$sfDir","note":"full names + setup_s/query_s split + repeat_query_s runs in BENCH_LOCAL.json"}"""
    println(compact)
    spark.stop()
  }
}
