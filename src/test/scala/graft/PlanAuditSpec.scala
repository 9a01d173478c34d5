package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits: the properties that make these queries scale are
  * asserted, not assumed — pushdown reaching the scan, broadcasts where a
  * side is small, struct overhead optimized away, the custom operator
  * actually planned. A regression that silently changes plan shape (e.g. a
  * broadcast threshold bump, an optimizer rule ordering change) fails here
  * even while results stay correct. */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  private val d = "/root/testdata/sf0.001"
  private def executed(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString
  private def optimized(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.optimizedPlan.toString

  test("q01: filter pushed to parquet scan, schema pruned") {
    val p = executed("q01_scan_agg")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(!p.contains("l_comment"), "ReadSchema must not include unused columns")
  }

  test("q09: dimension joins broadcast (no shuffle for small sides)") {
    val p = executed("q09_join3")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("token explodes: Generate input is a materialized attribute, not an inlined regex") {
    // The q106 lesson: if the tokenizer expression reaches the Generate,
    // Catalyst re-evaluates it once per OUTPUT token row (~50× recompute).
    // explodedTokens puts an exchange between projection and explode, so
    // the generator must reference a plain attribute.
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    // (q143_source_overlap explodes BEFORE its checkpoint, so its returned
    // plan is all LogicalRDD — nothing left to audit there)
    for (q <- Seq("q98_feature_hash", "q72_heavy_hitters", "q67_tfidf",
        "q140_bigram_lm")) {
      val plan = SparkEntry.queries(q)(spark, d).queryExecution.optimizedPlan
      val gens = plan.collect { case g: Generate => g }
      assert(gens.nonEmpty, s"$q: expected a Generate in the plan")
      gens.foreach { g =>
        g.generator.children.foreach { c =>
          assert(c.isInstanceOf[AttributeReference],
            s"$q: Generate input must be an attribute, got: ${c.sql.take(200)}")
        }
      }
    }
  }

  test("q106: shingled corpus is checkpointed once (no inlined shingler in any Generate)") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val qe = SparkEntry.queries("q106_decontaminate")(spark, d).queryExecution
    assert(qe.optimizedPlan.toString.contains("LogicalRDD"),
      "expected the shingled corpus to be a materialized checkpoint (LogicalRDD)")
    qe.optimizedPlan.collect { case g: Generate => g }.foreach { g =>
      g.generator.children.foreach { c =>
        assert(c.isInstanceOf[AttributeReference],
          s"Generate input must be an attribute, got: ${c.sql.take(200)}")
      }
    }
  }

  test("q115: span-dedup Generates carry no regex work; span join is hash-keyed") {
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val qe = SparkEntry.queries("q115_span_dedup")(spark, d).queryExecution
    assert(qe.optimizedPlan.toString.contains("LogicalRDD"),
      "expected the tokenized/span frames to be materialized checkpoints")
    // the posexplode generator input is integer sequence arithmetic over a
    // materialized attribute — a regex under any Generate would mean the
    // tokenizer got inlined back into the explode (the q106 recompute bug)
    qe.optimizedPlan.collect { case g: Generate => g }.foreach { g =>
      g.generator.children.foreach { c =>
        assert(c.find(_.isInstanceOf[RegExpReplace]).isEmpty,
          s"regex reached a Generate input: ${c.sql.take(200)}")
      }
    }
    val phys = qe.executedPlan.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      "span-count join must stay hash-keyed")
  }

  test("q127: winnowing pair join is fingerprint-keyed; no regex under Generates") {
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val qe = SparkEntry.queries("q127_winnowing_pairs")(spark, d).queryExecution
    assert(qe.optimizedPlan.toString.contains("LogicalRDD"),
      "expected the fingerprint frame to be a materialized checkpoint")
    qe.optimizedPlan.collect { case g: Generate => g }.foreach { g =>
      g.generator.children.foreach { c =>
        assert(c.find(_.isInstanceOf[RegExpReplace]).isEmpty,
          s"regex reached a Generate input: ${c.sql.take(200)}")
      }
    }
    val phys = qe.executedPlan.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      "candidate self-join must stay keyed on the fingerprint")
  }

  test("q111: semantic-dedup candidate join is bucket-keyed, never a cartesian") {
    // q111's final plan is the (already-materialized) component window; the
    // join shape to pin is the candidate-pair stage, built here exactly as
    // the query builds it
    import org.apache.spark.sql.functions._
    val withB = graft.ext.Similarity
      .withLshBucket(Tables.embeddings(spark, d), numPlanes = 8, dims = 64)
      .select(col("vec_id"), col("lsh_bucket"), col("embedding").cast("array<double>").as("e"))
    val pairs = withB.select(col("vec_id").as("id1"), col("lsh_bucket"), col("e").as("e1"))
      .join(withB.select(col("vec_id").as("id2"), col("lsh_bucket"), col("e").as("e2")),
        Seq("lsh_bucket"))
      .filter(col("id1") < col("id2"))
    val p = pairs.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(p.contains("lsh_bucket"), "join must key on the LSH bucket")
  }

  test("q108: thresholded decontamination reads the checkpointed shingles (no re-shingling)") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val qe = SparkEntry.queries("q108_decontaminate_k")(spark, d).queryExecution
    assert(qe.optimizedPlan.toString.contains("LogicalRDD"))
    qe.optimizedPlan.collect { case g: Generate => g }.foreach { g =>
      g.generator.children.foreach(c => assert(c.isInstanceOf[AttributeReference], c.sql))
    }
  }

  test("q61: struct build+access collapses to plain column references") {
    val p = optimized("q61_struct")
    assert(!p.contains("named_struct"), p.take(2000))
  }

  test("q67: idf vocabulary joins back via broadcast") {
    val p = executed("q67_tfidf")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q47: custom TopKPerGroup operator is planned (no Window/sort path)") {
    val p = executed("q47_topk_per_group")
    assert(p.contains("TopKPerGroup"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q18: global sort+limit plans as TakeOrderedAndProject, not a full sort") {
    val p = executed("q18_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q213: closest-pair top-K is output-bound (TakeOrdered, no full-pair sort)") {
    val p = executed("q213_topk_pairs")
    // per-partition heaps of K then a driver merge of K-sized partials —
    // the quadratic candidate set is scored but NEVER sorted or shuffled
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("rangepartitioning"),
      "a global sort of the pair set must not appear\n" + p.take(2000))
  }

  test("q87: manual bloom probe lands as a fact-side filter before the semi join") {
    val p = executed("q87_bloom_prune")
    assert(p.contains("might_contain"), p.take(2000))
    // the probe must sit on the lineitem side as a Filter, not after the join
    val filterIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("LeftSemi")
    assert(joinIdx >= 0, p.take(2000))
    assert(filterIdx > joinIdx,
      "bloom probe should appear below (deeper than) the semi join in the plan tree")
  }

  test("q90: session_window plans one aggregation shuffle, no extra sort passes") {
    val p = executed("q90_session_window")
    assert(p.contains("SessionWindow") || p.contains("session_window"), p.take(2000))
    // one Exchange for the user_id aggregation (AQE may add a read stage)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 hash Exchange, got $exchanges:\n${p.take(2000)}")
  }

  test("q95: the 1-row query vector broadcasts; corpus scans once") {
    val p = executed("q95_quantized_ann")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q97: graft-store scan reports pushed skip filters in the plan") {
    val p = executed("q97_store_skipping")
    assert(p.contains("skipBy=[") && p.contains("LessThan(o_orderkey,5000)"), p.take(3000))
  }

  test("q68: hash-modulo sample stays a scan-side filter (no shuffle before agg)") {
    val p = executed("q68_sample_hash")
    // exactly one exchange: the final group-by; the sample predicate must
    // not induce anything earlier
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 Exchange (agg + AQE read), got $exchanges:\n${p.take(2000)}")
    assert(p.contains("pmod"), p.take(2000))
  }

  test("mixed MV plan: the complement predicate reaches the base scan pushed") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.auditmx", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.auditmx.base", base)
    try {
      Tables.orders(spark, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.format("graft-store").mode("overwrite").save(s"$base/src")
      graft.sources.v2.GraftMview.create(spark, s"$base/mv",
        "SELECT o_orderpriority AS pr, count(*) AS n, " +
          "sum(o_totalprice) AS rev FROM auditmx.src " +
          "WHERE o_orderkey < 3000 GROUP BY o_orderpriority")
      val q = spark.read.format("graft-store").load(s"$base/src")
        .filter(col("o_orderkey") < 5000)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains(s"$base/mv"),
        s"the wider WHERE must serve as the mixed plan:\n${opt.take(1500)}")
      // the complement bound (o_orderkey >= 3000 OR IS NULL) must reach
      // the base scan as a PUSHED skip predicate (the graft scan renders
      // pushdowns as skipBy=[...]) — the covered range file-skips
      val p = q.queryExecution.executedPlan.toString
      val pushedWithBound = p.linesIterator.exists(l =>
        l.contains("skipBy=") &&
          l.contains("GreaterThanOrEqual(o_orderkey,3000)"))
      assert(pushedWithBound,
        s"complement bound not pushed into the base scan:\n${p.take(3000)}")
    } finally {
      spark.conf.unset("spark.sql.catalog.auditmx")
      spark.conf.unset("spark.sql.catalog.auditmx.base")
    }
  }

  test("MV rewrite planning budget: warm probes are free; k candidates cost ≤ 1+k cold") {
    // the 100×-scale guard for "every query pays the MV tax": PLANNING an
    // aggregate must issue ZERO probe filesystem work on a warm cache —
    // for tables with no `_mvdeps.d` sidecar at all (the overwhelmingly
    // common case on a real cluster) AND for tables with k registered
    // views; a cold probe is bounded by 1 (source) + k (candidate
    // manifests). Observed by the `flaky:` filesystem's call log under
    // this test's directory: registry calls (probe work) and manifest or
    // segment opens (metadata parses).
    import org.apache.spark.sql.functions.{col, count, lit}
    import graft.sources.v2.FlakyRenameFs
    import graft.sources.v2.FlakyRenameFs.{callsUnder, metadataOpens, mvDepsCalls, mvProbes}
    val base = FlakyRenameFs.dir(spark.sparkContext.hadoopConfiguration)
    spark.conf.set("spark.sql.catalog.auditpb", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.auditpb.base", base)
    spark.conf.set("spark.graft.mv.probeCacheMs", "600000")
    try {
      // ---- table with NO dependent views (no sidecar) ----------------
      spark.range(0, 500).selectExpr("id % 9 AS k", "id AS v")
        .write.format("graft-store").mode("overwrite").save(s"$base/plain")
      def qPlain() = spark.read.format("graft-store").load(s"$base/plain")
        .groupBy("k").agg(count(lit(1)).as("n"))
      qPlain().queryExecution.optimizedPlan // cold: pays the one probe
      val plain = callsUnder(base) {
        (1 to 10).foreach(_ => qPlain().queryExecution.optimizedPlan)
      }
      assert(mvDepsCalls(plain) === 0,
        "planning 10 aggregates over a no-sidecar table must issue ZERO probe FS ops")
      assert(metadataOpens(plain) === 0,
        "warm planning must re-parse zero metadata files")
      // ---- table with k = 4 registered (non-matching) views ----------
      // non-matching on purpose: the lazy candidate scan stops at the
      // first HIT, so refusing candidates is the worst case — every one
      // of the k manifests is probed
      spark.range(0, 500)
        .selectExpr("id % 7 AS a", "id % 5 AS b", "id % 3 AS c2", "id AS v")
        .write.format("graft-store").mode("overwrite").save(s"$base/fanned")
      Seq("a", "b", "c2", "v").zipWithIndex.foreach { case (g, i) =>
        graft.sources.v2.GraftMview.create(spark, s"$base/fmv$i",
          s"SELECT $g, count(*) AS n FROM auditpb.fanned GROUP BY $g")
      }
      def qMiss() = spark.read.format("graft-store").load(s"$base/fanned")
        .groupBy(col("a"), col("b")) // (a, b) matches NO single-key view
        .agg(count(lit(1)).as("n"))
      val cold = mvProbes(callsUnder(base) {
        qMiss().queryExecution.optimizedPlan
      })
      assert(cold <= 1 + 4, s"cold probe issued $cold FS probes for k=4 views")
      val warm = callsUnder(base) {
        (1 to 10).foreach(_ => qMiss().queryExecution.optimizedPlan)
      }
      assert(mvDepsCalls(warm) === 0,
        "warm planning with 4 refusing candidates must issue ZERO probe FS ops")
      assert(metadataOpens(warm) === 0)
    } finally {
      spark.conf.unset("spark.graft.mv.probeCacheMs")
      spark.conf.unset("spark.sql.catalog.auditpb")
      spark.conf.unset("spark.sql.catalog.auditpb.base")
    }
  }
}
