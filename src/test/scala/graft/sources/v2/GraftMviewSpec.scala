package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Materialized views with CDC-driven incremental refresh
  * ([[GraftMview]]): an MV is a real graft-store table carrying its
  * definition + refresh watermark in `#props=`; refresh reads ONLY the
  * churn (signed deltas), merges changed groups, and publishes rows +
  * watermark as one commit. */
class GraftMviewSpec extends AnyFunSuite with graft.SparkTestBase {

  /** The catalog this suite's tables live in, and the local-frame bound
    * its refreshes run under ([[GraftMview.localFrameRows]]); a subclass
    * reruns the suite on the checkpoint path under its own catalog. */
  protected def cat: String = "mvcat"
  protected def localBound: Long = GraftMview.LocalFrameRows

  override def withFixture(test: NoArgTest) =
    GraftMview.localFrameRows.withValue(localBound)(super.withFixture(test))

  import spark.implicits._

  private lazy val catBase: String = {
    val base = Files.createTempDirectory("graft-mv").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    base
  }

  private def recompute(srcDir: String): Map[String, (Long, Long)] =
    spark.read.format("graft-store").load(srcDir).filter($"v" >= 0)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def mvRows(dir: String): Map[String, (Long, Long)] =
    spark.read.format("graft-store").load(dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("create + incremental refresh tracks churn; vanished groups leave") {
    catBase
    val srcDir = s"$catBase/src1"
    val mvDir = s"$catBase/mv1"
    Seq(("a", 1L), ("a", 2L), ("b", 10L), ("c", 5L), ("x", -1L))
      .toDF("g", "v").write.format("graft-store").mode("overwrite").save(srcDir)
    val res = spark.sql(
      s"CALL $cat.system.create_mview('mv1', " +
        s"'SELECT g, count(*) AS n, sum(v) AS s FROM $cat.src1 WHERE v >= 0 GROUP BY g')")
      .collect()(0)
    assert(res.getLong(0) === 3) // a, b, c (x filtered out)
    assert(mvRows(mvDir) === recompute(srcDir))
    // reads are the materialized fast path: a plain catalog table read
    assert(spark.sql(s"SELECT * FROM $cat.mv1").count() === 3)

    // churn: append into a and a NEW group d; delete ALL of b (vanishes)
    Seq(("a", 100L), ("d", 7L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    spark.sql(s"DELETE FROM $cat.src1 WHERE g = 'b'")
    val r2 = spark.sql(s"CALL $cat.system.refresh_mview('mv1')").collect()(0)
    assert(r2.getString(0) === "incremental")
    assert(r2.getLong(2) === 1L, "b vanished")
    assert(mvRows(mvDir) === recompute(srcDir))
    assert(!mvRows(mvDir).contains("b"))
    assert(mvRows(mvDir)("a") === ((3L, 103L)))

    // idempotent: at the head, refresh is a no-op
    val r3 = spark.sql(s"CALL $cat.system.refresh_mview('mv1')").collect()(0)
    assert(r3.getString(0) === "noop")
  }

  test("refresh is O(churn): delta scan reads only changed files") {
    catBase
    val srcDir = s"$catBase/src2"
    val mvDir = s"$catBase/mv2"
    // 8 base files via repartition, then one small churn commit
    spark.range(0, 8000)
      .select((col("id") % 16).cast("string").as("g"), col("id").as("v"))
      .repartition(8).write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, sum(v) AS s FROM $cat.src2 GROUP BY g")
    Seq(("0", 1L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    val before = GraftStoreFormat.scannedFileSlices.sum()
    val (mode, _, _, _) = GraftMview.refresh(spark, mvDir)
    val opened = GraftStoreFormat.scannedFileSlices.sum() - before
    assert(mode === "incremental")
    // the delta pass opens the ONE churned file + the small MV's files —
    // a full recompute would open all 8 base files and fail this bound
    assert(opened < 8, s"refresh opened $opened file slices — not churn-proportional")
    val full = spark.read.format("graft-store").load(srcDir)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(spark.read.format("graft-store").load(mvDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap === full)
  }

  test("refresh commit is atomic: rows + watermark in ONE snapshot") {
    catBase
    val srcDir = s"$catBase/src3"
    val mvDir = s"$catBase/mv3"
    Seq(("a", 1L), ("b", 2L)).toDF("g", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, sum(v) AS s FROM $cat.src3 GROUP BY g")
    Seq(("a", 5L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    val snapsBefore = GraftStoreOps.history(spark, mvDir).size
    GraftMview.refresh(spark, mvDir)
    assert(GraftStoreOps.history(spark, mvDir).size === snapsBefore + 1,
      "incremental refresh must be exactly one commit")
    assert(GraftStoreOps.tableProps(spark, mvDir)("graft.mv.watermark").toInt === 1)
  }

  test("watermark expiry falls back to full recompute; MOR source churn works") {
    catBase
    val srcDir = s"$catBase/src4"
    val mvDir = s"$catBase/mv4"
    Seq(("a", 1L), ("b", 2L), ("b", 4L)).toDF("g", "v")
      .write.format("graft-store").option("dmlMode", "mor")
      .mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, sum(v) AS s FROM $cat.src4 GROUP BY g")
    // MOR churn: upsert-style eq-delta ingest on the source
    GraftStoreOps.upsertMor(spark, srcDir,
      Seq(("c", 9L)).toDF("g", "v"), Seq("g", "v"))
    spark.sql(s"DELETE FROM $cat.src4 WHERE v = 4")
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(mvRows(mvDir) === Map("a" -> ((1L, 1L)), "b" -> ((1L, 2L)), "c" -> ((1L, 9L))))
    // expire history past the watermark -> refresh detects and recomputes
    Seq(("d", 3L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    GraftStoreOps.expireSnapshots(spark, srcDir, keepLast = 1)
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "full")
    assert(mvRows(mvDir) === Map("a" -> ((1L, 1L)), "b" -> ((1L, 2L)),
      "c" -> ((1L, 9L)), "d" -> ((1L, 3L))))
  }

  test("streamRefresh maintains the view continuously; restart replays nothing") {
    catBase
    val srcDir = s"$catBase/src6"
    val mvDir = s"$catBase/mv6"
    val ckpt = Files.createTempDirectory("graft-mv-ck").toString
    Seq(("a", 1L), ("b", 2L)).toDF("g", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, sum(v) AS s FROM $cat.src6 GROUP BY g")
    def run(appends: Seq[Seq[(String, Long)]]): Unit = {
      val q = GraftMview.streamRefresh(spark, mvDir, ckpt)
      try {
        q.processAllAvailable()
        appends.foreach { batch =>
          batch.toDF("g", "v").write.format("graft-store")
            .mode("append").save(srcDir)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    run(Seq(Seq(("a", 10L)), Seq(("c", 5L), ("a", 100L))))
    assert(mvRows(mvDir) === Map("a" -> ((3L, 111L)), "b" -> ((1L, 2L)),
      "c" -> ((1L, 5L))))
    assert(GraftStoreOps.tableProps(spark, mvDir)("graft.mv.watermark").toInt === 2)
    // restart with the same checkpoint: no replay, no double-count
    run(Seq(Seq(("b", 8L))))
    assert(mvRows(mvDir) === Map("a" -> ((3L, 111L)), "b" -> ((2L, 10L)),
      "c" -> ((1L, 5L))))
  }

  test("streamRefresh maintains a JOIN view: either side's commits trigger refresh") {
    catBase
    val factDir = s"$catBase/sjfact"
    val dimDir = s"$catBase/sjdim"
    val mvDir = s"$catBase/sjmv"
    val ckpt = Files.createTempDirectory("graft-mv-jck").toString
    Seq((1L, 2L), (2L, 10L)).toDF("fk", "v")
      .write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("pk", "seg")
      .write.format("graft-store").mode("overwrite").save(dimDir)
    GraftMview.create(spark, mvDir,
      "SELECT seg, count(*) AS n, sum(v) AS s " +
        s"FROM $cat.sjfact JOIN $cat.sjdim ON fk = pk GROUP BY seg")
    val q = GraftMview.streamRefresh(spark, mvDir, ckpt)
    try {
      q.processAllAvailable()
      // FACT-side commit triggers a refresh
      Seq((3L, 7L)).toDF("fk", "v")
        .write.format("graft-store").mode("append").save(factDir)
      q.processAllAvailable()
      assert(mvRows(mvDir) === Map("a" -> ((2L, 9L)), "b" -> ((1L, 10L))))
      // DIM-side commit (group mass moves) triggers a refresh too
      spark.sql(s"UPDATE $cat.sjdim SET seg = 'c' WHERE pk = 2")
      q.processAllAvailable()
      assert(mvRows(mvDir) === Map("a" -> ((2L, 9L)), "c" -> ((1L, 10L))))
    } finally q.stop()
  }

  test("streamRefresh maintains a LEFT OUTER view through dim null transitions") {
    catBase
    val factDir = s"$catBase/slfact"
    val dimDir = s"$catBase/sldim"
    val mvDir = s"$catBase/slmv"
    val ckpt = Files.createTempDirectory("graft-mv-lck").toString
    // fk=3 starts UNMATCHED (null-extended)
    Seq((1L, 2L), (2L, 10L), (3L, 7L)).toDF("fk", "v")
      .write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, "a"), (2L, "b")).toDF("pk", "seg")
      .write.format("graft-store").mode("overwrite").save(dimDir)
    GraftMview.create(spark, mvDir,
      "SELECT seg, count(*) AS n, sum(v) AS s " +
        s"FROM $cat.slfact LEFT JOIN $cat.sldim ON fk = pk GROUP BY seg")
    def rows(): Map[String, (Long, Long)] =
      spark.read.format("graft-store").load(mvDir).collect()
        .map(r => (if (r.isNullAt(0)) "(null)" else r.getString(0)) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    val q = GraftMview.streamRefresh(spark, mvDir, ckpt)
    try {
      q.processAllAvailable()
      assert(rows() === Map("a" -> ((1L, 2L)), "b" -> ((1L, 10L)),
        "(null)" -> ((1L, 7L))))
      // dim INSERT: fk=3 transitions null-extended → matched, and the
      // commit alone (dim side) must trigger the continuous refresh
      Seq((3L, "a")).toDF("pk", "seg")
        .write.format("graft-store").mode("append").save(dimDir)
      q.processAllAvailable()
      assert(rows() === Map("a" -> ((2L, 9L)), "b" -> ((1L, 10L))),
        "a dim insert under continuous refresh must retract the null group")
      // dim DELETE: fk=2 transitions matched → null-extended
      spark.sql(s"DELETE FROM $cat.sldim WHERE pk = 2")
      q.processAllAvailable()
      assert(rows() === Map("a" -> ((2L, 9L)), "(null)" -> ((1L, 10L))),
        "a dim delete under continuous refresh must re-create the null group")
      // fact-side commit still triggers too
      Seq((9L, 100L)).toDF("fk", "v")
        .write.format("graft-store").mode("append").save(factDir)
      q.processAllAvailable()
      assert(rows() === Map("a" -> ((2L, 9L)), "(null)" -> ((2L, 110L))))
    } finally q.stop()
  }

  test("streamRefresh maintains a FULL OUTER view through both-side flips") {
    catBase
    val faDir = s"$catBase/sffa"
    val fbDir = s"$catBase/sffb"
    val mvDir = s"$catBase/sfmv"
    val ckpt = Files.createTempDirectory("graft-mv-fck").toString
    Seq((1L, 2L), (2L, 10L)).toDF("ka", "va")
      .write.format("graft-store").mode("overwrite").save(faDir)
    Seq((1L, "p"), (3L, "q")).toDF("kb", "h")
      .write.format("graft-store").mode("overwrite").save(fbDir)
    GraftMview.create(spark, mvDir,
      "SELECT h, count(*) AS n, sum(va) AS s " +
        s"FROM $cat.sffa FULL OUTER JOIN $cat.sffb ON ka = kb GROUP BY h")
    def rows(): Map[String, (Long, Option[Long])] =
      spark.read.format("graft-store").load(mvDir).collect()
        .map(r => (if (r.isNullAt(0)) "(null)" else r.getString(0)) ->
          ((r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    val q = GraftMview.streamRefresh(spark, mvDir, ckpt)
    try {
      q.processAllAvailable()
      // ka=1⋈kb=1 → p; ka=2 unmatched → (null); kb=3 unmatched → q
      assert(rows() === Map("p" -> ((1L, Some(2L))), "(null)" -> ((1L, Some(10L))),
        "q" -> ((1L, None))))
      // A-side commit flips B's waiting row: ka=3 arrives → q matches
      Seq((3L, 7L)).toDF("ka", "va")
        .write.format("graft-store").mode("append").save(faDir)
      q.processAllAvailable()
      assert(rows() === Map("p" -> ((1L, Some(2L))), "(null)" -> ((1L, Some(10L))),
        "q" -> ((1L, Some(7L)))))
      // B-side commit flips A's matched row back: kb=1 leaves
      spark.sql(s"DELETE FROM $cat.sffb WHERE kb = 1")
      q.processAllAvailable()
      assert(rows() === Map("(null)" -> ((2L, Some(12L))),
        "q" -> ((1L, Some(7L)))))
    } finally q.stop()
  }

  test("min/max maintain: insert fast path; removals rescan only their groups") {
    catBase
    val srcDir = s"$catBase/src7"
    val mvDir = s"$catBase/mv7"
    Seq(("a", 1L), ("a", 9L), ("b", 5L), ("b", 7L)).toDF("g", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, min(v) AS mn, max(v) AS mx FROM $cat.src7 GROUP BY g")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows() === Map("a" -> ((2L, 1L, 9L)), "b" -> ((2L, 5L, 7L))))
    // pure inserts: the fast least/greatest path (new extreme + new group)
    Seq(("a", 100L), ("c", 3L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(rows() === Map("a" -> ((3L, 1L, 100L)), "b" -> ((2L, 5L, 7L)),
      "c" -> ((1L, 3L, 3L))))
    // removal of a's MAX: only a rescans; b/c keep their stored values
    spark.sql(s"DELETE FROM $cat.src7 WHERE v = 100")
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(rows() === Map("a" -> ((2L, 1L, 9L)), "b" -> ((2L, 5L, 7L)),
      "c" -> ((1L, 3L, 3L))))
    // removal that empties a group drops it despite min/max columns
    spark.sql(s"DELETE FROM $cat.src7 WHERE g = 'c'")
    GraftMview.refresh(spark, mvDir)
    assert(rows() === Map("a" -> ((2L, 1L, 9L)), "b" -> ((2L, 5L, 7L))))
    // and it all still equals a recompute
    val full = spark.read.format("graft-store").load(srcDir)
      .groupBy("g").agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows() === full)
  }

  test("unmaintainable shapes are refused with guidance") {
    catBase
    val srcDir = s"$catBase/src5"
    Seq(("a", 1L)).toDF("g", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception](GraftMview.create(spark, s"$catBase/mvx", sql))
      assert(e.getMessage.contains(frag), s"message '${e.getMessage}' lacks '$frag'")
    }
    refuse(s"SELECT g, sum(v) AS s FROM $cat.src5 GROUP BY g", "count(*)")
    // count(DISTINCT col) is a FEATURE now (dup-count companion); other
    // distinct aggregates still refuse with guidance
    refuse("SELECT g, sum(DISTINCT v) AS s, count(*) AS n " +
      s"FROM $cat.src5 GROUP BY g", "count(DISTINCT col)")
    // (GROUP BY upper(g) is now a supported expression key — see the
    // calendar tests; aggregates over expressions still refuse)
    refuse(s"SELECT g, sum(v + 1) AS s, count(*) AS n FROM $cat.src5 GROUP BY g",
      "plain columns")
    refuse(s"SELECT count(*) AS n FROM $cat.src5", "group")
    refuse(s"SELECT g, count(*) AS __n_x FROM $cat.src5 GROUP BY g", "reserved")
  }

  test("NULL group key merges with its stored row (null-safe maintenance joins)") {
    catBase
    val srcDir = s"$catBase/src8"
    val mvDir = s"$catBase/mv8"
    Seq(Some("a") -> 1L, None -> 10L, None -> 20L, Some("b") -> 5L)
      .map { case (g, v) => (g.orNull, v) }.toDF("g", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, sum(v) AS s, min(v) AS mn FROM $cat.src8 GROUP BY g")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("g", "n", "s", "mn").collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows()(None) === ((2L, 30L, 10L)))
    // churn the NULL group: insert + remove its stored min
    Seq((null.asInstanceOf[String], 7L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    spark.sql(s"DELETE FROM $cat.src8 WHERE v = 10")
    val (m, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m === "incremental")
    // stored count/sum MERGE with the delta (2+1-1, 30+7-10) and the
    // removal-touched NULL group rescans its exact min — never a reset
    assert(rows() === Map(Option("a") -> ((1L, 1L, 1L)),
      Option("b") -> ((1L, 5L, 5L)), None -> ((2L, 27L, 7L))))
  }

  test("sum over all-NULL inputs publishes NULL, through churn (SQL semantics)") {
    catBase
    val srcDir = s"$catBase/src9"
    val mvDir = s"$catBase/mv9"
    Seq(("a", Some(1L)), ("a", Some(2L)), ("n", None), ("one", Some(4L)))
      .map { case (g, v) => (g, v.map(Long.box).orNull) }.toDF("g", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, sum(v) AS s, count(v) AS nn FROM $cat.src9 GROUP BY g")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("g", "n", "s", "nn").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toMap
    assert(rows()("n") === ((1L, None, 0L)), "all-NULL group sums to NULL at create")
    // churn: the all-NULL group gains another NULL (stays NULL — the old
    // coalesce-to-zero bug published 0 here); 'one' loses its only
    // non-null value but keeps a NULL row (sum must BECOME NULL)
    Seq(("n", None), ("one", None)).map { case (g, v: Option[Long]) =>
      (g, v.map(Long.box).orNull) }.toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    spark.sql(s"DELETE FROM $cat.src9 WHERE v = 4")
    val (m, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m === "incremental")
    assert(rows() === Map("a" -> ((2L, Some(3L), 2L)),
      "n" -> ((2L, None, 0L)), "one" -> ((1L, None, 0L))))
    // and it all equals a recompute
    val full = spark.read.format("graft-store").load(srcDir)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("s"), count("v").as("nn"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toMap
    assert(rows() === full)
  }

  test("JOIN view: delta rule maintains fact-churn AND dim-churn incrementally") {
    catBase
    val fact = s"$catBase/jf"
    val dim = s"$catBase/jd"
    val mvDir = s"$catBase/jmv"
    // fact(fk, v), dim(pk, region): classic key-FK rollup by region
    Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L), (9L, 99L)) // 9 has no dim row
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(fact)
    Seq((1L, "east"), (2L, "west"), (3L, "east"))
      .toDF("pk", "region").write.format("graft-store").mode("overwrite").save(dim)
    val (n0, _) = GraftMview.create(spark, mvDir,
      s"SELECT region, count(*) AS n, sum(v) AS s, avg(v) AS a FROM $cat.jf " +
        s"JOIN $cat.jd ON fk = pk GROUP BY region")
    assert(n0 === 2)
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("region", "n", "s", "a").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def recompute() = {
      val f = spark.read.format("graft-store").load(fact)
      val dm = spark.read.format("graft-store").load(dim)
      f.join(dm, f("fk") === dm("pk")).groupBy("region")
        .agg(count(lit(1)).as("n"), sum("v").as("s"), avg("v").as("a"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    }
    assert(rows() === Map("east" -> ((3L, 37L, 37.0 / 3)), "west" -> ((1L, 5L, 5.0))))
    // FACT churn: append rows (incl. one joining the dim row added below
    // AFTER this watermark — must NOT appear until the dim side commits)
    Seq((2L, 100L), (4L, 50L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(rows() === recompute())
    assert(!rows().contains("north") && rows()("west") === ((2L, 105L, 52.5)))
    // DIM churn: key 4 gains a region (its waiting fact row joins in);
    // key 3 changes region east->west (group mass MOVES between groups)
    Seq((4L, "north")).toDF("pk", "region")
      .write.format("graft-store").mode("append").save(dim)
    spark.sql(s"UPDATE $cat.jd SET region = 'west' WHERE pk = 3")
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(rows() === recompute())
    assert(rows()("north") === ((1L, 50L, 50.0)))
    // BOTH sides churn between refreshes; a dim delete vanishes a group
    spark.sql(s"DELETE FROM $cat.jd WHERE region = 'north'")
    Seq((1L, 3L)).toDF("fk", "v").write.format("graft-store").mode("append").save(fact)
    val (m3, _, vanished, _) = GraftMview.refresh(spark, mvDir)
    assert(m3 === "incremental" && vanished === 1L)
    assert(rows() === recompute())
    // no churn: noop; dim watermark expiry falls back to full
    assert(GraftMview.refresh(spark, mvDir)._1 === "noop")
    Seq((5L, "south")).toDF("pk", "region")
      .write.format("graft-store").mode("append").save(dim)
    GraftStoreOps.expireSnapshots(spark, dim, keepLast = 1)
    val (m4, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m4 === "full")
    assert(rows() === recompute())
  }

  test("JOIN view refresh is churn-proportional on the fact side") {
    catBase
    val fact = s"$catBase/jf2"
    val dim = s"$catBase/jd2"
    val mvDir = s"$catBase/jmv2"
    spark.range(0, 8000)
      .select((col("id") % 100).as("fk"), col("id").as("v"))
      .repartition(8).write.format("graft-store").mode("overwrite").save(fact)
    spark.range(0, 100).select(col("id").as("pk"),
        concat(lit("g"), col("id") % 8).as("grp"))
      .write.format("graft-store").mode("overwrite").save(dim)
    GraftMview.create(spark, mvDir,
      s"SELECT grp, count(*) AS n, sum(v) AS s FROM $cat.jf2 " +
        s"JOIN $cat.jd2 ON fk = pk GROUP BY grp")
    Seq((0L, 1L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    val before = GraftStoreFormat.scannedFileSlices.sum()
    val (mode, _, _, _) = GraftMview.refresh(spark, mvDir)
    val opened = GraftStoreFormat.scannedFileSlices.sum() - before
    assert(mode === "incremental")
    // the fact side reads ONLY its churn file: 1 churned + 1 dim + MV
    // files — a recompute would open all 8 fact files and fail the bound
    assert(opened < 8, s"join refresh opened $opened slices — not churn-proportional")
    val full = {
      val f = spark.read.format("graft-store").load(fact)
      val dm = spark.read.format("graft-store").load(dim)
      f.join(dm, f("fk") === dm("pk")).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(spark.read.format("graft-store").load(mvDir)
      .select("grp", "n", "s").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap === full)
  }

  test("N-way (3-table) view: per-side delta terms maintain through churn") {
    catBase
    val fact = s"$catBase/n3f"
    val d1 = s"$catBase/n3c"
    val d2 = s"$catBase/n3n"
    val mvDir = s"$catBase/n3mv"
    // snowflake: fact(fk,v) → cust(pk,nk) → nat(nk2,nname)
    spark.range(0, 8000)
      .select(col("id").as("rid"), (col("id") % 100).as("fk"), col("id").as("v"))
      .repartitionByRange(16, col("rid")).drop("rid")
      .write.format("graft-store").mode("overwrite").save(fact)
    spark.range(0, 100).select(col("id").as("pk"), (col("id") % 10).as("nk"))
      .write.format("graft-store").mode("overwrite").save(d1)
    spark.range(0, 10).select(col("id").as("nk2"),
        concat(lit("n"), col("id")).as("nname"))
      .write.format("graft-store").mode("overwrite").save(d2)
    val (n0, _) = GraftMview.create(spark, mvDir,
      s"SELECT nname, count(*) AS n, sum(v) AS s FROM $cat.n3f " +
        s"JOIN $cat.n3c ON fk = pk JOIN $cat.n3n ON nk = nk2 GROUP BY nname")
    assert(n0 === 10)
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("nname", "n", "s").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def recompute() = {
      val f = spark.read.format("graft-store").load(fact)
      val c = spark.read.format("graft-store").load(d1)
      val nt = spark.read.format("graft-store").load(d2)
      f.join(c, f("fk") === c("pk")).join(nt, c("nk") === nt("nk2"))
        .groupBy("nname").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rows() === recompute())
    // FACT-only churn: the unchurned dims contribute NO delta term, so
    // the 8-file fact base is never rescanned — slice-count proof
    Seq((0L, 1L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    val before = GraftStoreFormat.scannedFileSlices.sum()
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    val opened = GraftStoreFormat.scannedFileSlices.sum() - before
    assert(m1 === "incremental")
    assert(opened < 16, s"3-way fact refresh opened $opened slices — an " +
      "unchurned side must contribute no pinned-fact term (fact base is 16 files)")
    assert(rows() === recompute())
    // MIDDLE-dim churn: UPDATE moves group mass across nations
    spark.sql(s"UPDATE $cat.n3c SET nk = (nk + 1) % 10 WHERE pk % 7 = 0")
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(rows() === recompute())
    // LEAF-dim churn: a nation vanishes (its group leaves the view)
    spark.sql(s"DELETE FROM $cat.n3n WHERE nk2 = 9")
    val (m3, _, vanished, _) = GraftMview.refresh(spark, mvDir)
    assert(m3 === "incremental" && vanished >= 1L)
    assert(rows() === recompute() && !rows().contains("n9"))
    // TWO sides churn between refreshes: one term per churned side
    Seq((5L, 1000L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    Seq((100L, 3L)).toDF("pk", "nk")
      .write.format("graft-store").mode("append").save(d1)
    val (m4, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m4 === "incremental")
    assert(rows() === recompute())
    assert(GraftMview.refresh(spark, mvDir)._1 === "noop")
  }

  test("N-way refusals: disconnected join graph; legacy 2-table key format decodes") {
    catBase
    Seq((1L, 1L)).toDF("ak", "av")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/dga")
    Seq((1L, "x")).toDF("bk", "bg")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/dgb")
    Seq((1L, 2L)).toDF("ck", "cv")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/dgc")
    // c's ON re-pairs a and b: every key is a valid cross-table pair but
    // no key path reaches c — some delta term would be a cartesian, so
    // creation refuses rather than refresh exploding later
    val e = intercept[Exception](GraftMview.create(spark, s"$catBase/dgmv",
      s"SELECT bg, count(*) AS n, sum(cv) AS s FROM $cat.dga " +
        s"JOIN $cat.dgb ON ak = bk JOIN $cat.dgc ON ak = bk GROUP BY bg"))
    assert(e.getMessage.contains("disconnected"), e.getMessage)
    // a same-table "pair" is refused at the key level
    val e2 = intercept[Exception](GraftMview.create(spark, s"$catBase/dgmv",
      s"SELECT bg, count(*) AS n, sum(cv) AS s FROM $cat.dga " +
        s"JOIN $cat.dgb ON ak = bk JOIN $cat.dgc ON bk = bk GROUP BY bg"))
    assert(e2.getMessage.contains("two different tables"), e2.getMessage)
    // legacy 2-table "a:b" key property decodes to side indices (0,1) —
    // views stored before the N-way format keep refreshing unmigrated
    val legacy = GraftMview.decodeSource(Map(
      "graft.mv.source" -> "/p/fact", "graft.mv.source2" -> "/p/dim",
      "graft.mv.keys" -> "fk:pk"))
    assert(legacy === GraftMview.JoinSrc(Seq("/p/fact", "/p/dim"),
      Seq((0, "fk", 1, "pk")), Set.empty))
    // the legacy all-left marker decodes to every dim side
    assert(GraftMview.decodeSource(Map(
      "graft.mv.source" -> "/p/f", "graft.mv.source2" -> "/p/d",
      "graft.mv.keys" -> "fk:pk", "graft.mv.jointype" -> "left"))
      === GraftMview.JoinSrc(Seq("/p/f", "/p/d"),
        Seq((0, "fk", 1, "pk")), Set(1)))
  }

  test("LEFT OUTER view: null-extension transitions maintain through churn") {
    catBase
    val fact = s"$catBase/lof"
    val dim = s"$catBase/lod"
    val mvDir = s"$catBase/lomv"
    // fk=9 has no dim row: it lives in the NULL-region group of the view
    Seq((1L, 10L), (1L, 20L), (2L, 5L), (9L, 99L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(fact)
    Seq((1L, "east"), (2L, "west"))
      .toDF("pk", "region").write.format("graft-store").mode("overwrite").save(dim)
    val (n0, _) = GraftMview.create(spark, mvDir,
      s"SELECT region, count(*) AS n, sum(v) AS s FROM $cat.lof " +
        s"LEFT JOIN $cat.lod ON fk = pk GROUP BY region")
    assert(n0 === 3) // east, west, NULL
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("region", "n", "s").collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    def recompute() = {
      val f = spark.read.format("graft-store").load(fact)
      val dm = spark.read.format("graft-store").load(dim)
      f.join(dm, f("fk") === dm("pk"), "left_outer").groupBy("region")
        .agg(count(lit(1)).as("n"), sum("v").as("s")).collect()
        .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rows() === Map(Some("east") -> ((2L, 30L)), Some("west") -> ((1L, 5L)),
      None -> ((1L, 99L))))
    // (a) FACT append: one matched row, one null-extended row
    Seq((2L, 100L), (8L, 50L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(rows() === recompute() && rows()(None) === ((2L, 149L)))
    // (b) DIM insert: key 9 gains a row — its null-extended fact rows
    // must CONVERT to matched (the +new/−old pair retracts the NULL rows)
    Seq((9L, "north")).toDF("pk", "region")
      .write.format("graft-store").mode("append").save(dim)
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(rows() === recompute())
    assert(rows()(Some("north")) === ((1L, 99L)) && rows()(None) === ((1L, 50L)))
    // (c) DIM delete: key 1 loses its LAST match — east's rows convert
    // BACK to null-extended and the east group vanishes entirely. Run
    // this leg under a configured RELIABLE checkpoint dir (the dim-side
    // refresh materializes its key/fact frames through IterGuard).
    val ckpt = Files.createTempDirectory("graft-mv-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", ckpt)
    try {
      spark.sql(s"DELETE FROM $cat.lod WHERE pk = 1")
      val (m3, _, vanished, _) = GraftMview.refresh(spark, mvDir)
      assert(m3 === "incremental" && vanished === 1L)
      assert(rows() === recompute())
      assert(!rows().contains(Some("east")) && rows()(None) === ((3L, 80L)))
    } finally spark.conf.unset("spark.graft.checkpointDir")
    // (d) dim UPDATE moves mass between groups; fact DELETE in same round
    spark.sql(s"UPDATE $cat.lod SET region = 'south' WHERE pk = 2")
    spark.sql(s"DELETE FROM $cat.lof WHERE fk = 8")
    val (m4, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m4 === "incremental")
    assert(rows() === recompute())
    assert(rows()(Some("south")) === ((2L, 105L)) && rows()(None) === ((2L, 30L)))
    assert(GraftMview.refresh(spark, mvDir)._1 === "noop")
  }

  test("LEFT OUTER chain (3-way snowflake): every side's churn maintains incl. null transitions") {
    catBase
    val fact = s"$catBase/lc3f"
    val d1 = s"$catBase/lc3c"
    val d2 = s"$catBase/lc3n"
    val mvDir = s"$catBase/lc3mv"
    // snowflake chain: fact(fk,v) ⟕ cust(pk,nk) ⟕ nat(nk2,nname) —
    // the reference's chained pandas-merge shape. fk=9 has no cust row;
    // cust pk=3 has nk=77 with no nation row (null-extends at level 2)
    Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L), (9L, 99L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(fact)
    Seq((1L, 0L), (2L, 1L), (3L, 77L))
      .toDF("pk", "nk").write.format("graft-store").mode("overwrite").save(d1)
    Seq((0L, "east"), (1L, "west"))
      .toDF("nk2", "nname").write.format("graft-store").mode("overwrite").save(d2)
    val (n0, _) = GraftMview.create(spark, mvDir,
      s"SELECT nname, count(*) AS n, sum(v) AS s FROM $cat.lc3f " +
        s"LEFT JOIN $cat.lc3c ON fk = pk LEFT JOIN $cat.lc3n ON nk = nk2 " +
        "GROUP BY nname")
    assert(n0 === 3) // east, west, NULL (fk=9 + pk=3's dangling nk)
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("nname", "n", "s").collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    def recompute() = {
      val f = spark.read.format("graft-store").load(fact)
      val c = spark.read.format("graft-store").load(d1)
      val nt = spark.read.format("graft-store").load(d2)
      f.join(c, f("fk") === c("pk"), "left_outer")
        .join(nt, c("nk") === nt("nk2"), "left_outer")
        .groupBy("nname").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rows() === Map(Some("east") -> ((2L, 30L)), Some("west") -> ((1L, 5L)),
      None -> ((2L, 106L))))
    // FACT churn: matched + unmatched rows appended
    Seq((2L, 100L), (8L, 50L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(rows() === recompute())
    // MIDDLE (cust) churn: fk=9 gains its cust row (level-1 null
    // transition), and pk=1 moves nation east→west (mass moves)
    Seq((9L, 1L)).toDF("pk", "nk")
      .write.format("graft-store").mode("append").save(d1)
    spark.sql(s"UPDATE $cat.lc3c SET nk = 1 WHERE pk = 1")
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(rows() === recompute())
    assert(rows()(Some("west")) === ((5L, 234L)))
    // LEAF (nation) churn: nk=77 gains its nation row — pk=3's fact
    // rows convert from level-2 null-extended to matched; then west
    // vanishes when its nation row is deleted (matched → null-extended;
    // east already left at m2 when its last cust row moved away)
    Seq((77L, "north")).toDF("nk2", "nname")
      .write.format("graft-store").mode("append").save(d2)
    val (m3, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m3 === "incremental")
    assert(rows() === recompute())
    assert(rows()(Some("north")) === ((1L, 7L)))
    assert(!rows().contains(Some("east")))
    spark.sql(s"DELETE FROM $cat.lc3n WHERE nname = 'west'")
    val (m4, _, vanished, _) = GraftMview.refresh(spark, mvDir)
    assert(m4 === "incremental" && vanished >= 1L)
    assert(rows() === recompute() && !rows().contains(Some("west")))
    // TWO sides churn between refreshes; then noop at head
    Seq((3L, 1000L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    spark.sql(s"DELETE FROM $cat.lc3c WHERE pk = 2")
    val (m5, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m5 === "incremental")
    assert(rows() === recompute())
    assert(GraftMview.refresh(spark, mvDir)._1 === "noop")
    // the REWRITE serves the same chain shape — and only when fresh
    def q() = spark.sql(
      s"SELECT nname, count(*) AS n, sum(v) AS s FROM $cat.lc3f " +
        s"LEFT JOIN $cat.lc3c ON fk = pk LEFT JOIN $cat.lc3n ON nk = nk2 " +
        "GROUP BY nname")
    assert(q().queryExecution.optimizedPlan.toString.contains(mvDir))
    assert(q().collect().map(r => Option(r.getString(0)) ->
      (r.getLong(1), r.getLong(2))).toMap === recompute())
    Seq((12L, 1L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    assert(!q().queryExecution.optimizedPlan.toString.contains(mvDir))
  }

  test("LEFT OUTER chain (3-way star): both dims key off the fact") {
    catBase
    val fact = s"$catBase/ls3f"
    val d1 = s"$catBase/ls3a"
    val d2 = s"$catBase/ls3b"
    val mvDir = s"$catBase/ls3mv"
    Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L), (1L, 40L, 100L))
      .toDF("k1", "v", "k2")
      .withColumn("k2", when(col("k2") =!= 300L, col("k2"))) // fk 3: NULL k2
      .write.format("graft-store").mode("overwrite").save(fact)
    Seq((1L, "a1"), (2L, "a2")).toDF("ak", "alab")
      .write.format("graft-store").mode("overwrite").save(d1)
    Seq((100L, "b1")).toDF("bk", "blab")
      .write.format("graft-store").mode("overwrite").save(d2)
    GraftMview.create(spark, mvDir,
      s"SELECT alab, blab, count(*) AS n, sum(v) AS s FROM $cat.ls3f " +
        s"LEFT JOIN $cat.ls3a ON k1 = ak LEFT JOIN $cat.ls3b ON k2 = bk " +
        "GROUP BY alab, blab")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("alab", "blab", "n", "s").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        (r.getLong(2), r.getLong(3))).toMap
    def recompute() = {
      val f = spark.read.format("graft-store").load(fact)
      val a = spark.read.format("graft-store").load(d1)
      val b = spark.read.format("graft-store").load(d2)
      f.join(a, f("k1") === a("ak"), "left_outer")
        .join(b, f("k2") === b("bk"), "left_outer")
        .groupBy("alab", "blab").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
          (r.getLong(2), r.getLong(3))).toMap
    }
    assert(rows() === recompute())
    assert(rows()((Some("a1"), Some("b1"))) === ((2L, 50L)))
    // churn EACH side: fact append; d2 gains 200 (conversion); d1 loses a2
    Seq((2L, 7L, 200L)).toDF("k1", "v", "k2")
      .write.format("graft-store").mode("append").save(fact)
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental" && rows() === recompute())
    Seq((200L, "b2")).toDF("bk", "blab")
      .write.format("graft-store").mode("append").save(d2)
    spark.sql(s"DELETE FROM $cat.ls3a WHERE alab = 'a2'")
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(rows() === recompute())
    assert(rows()((None, Some("b2"))) === ((2L, 27L)))
    assert(GraftMview.refresh(spark, mvDir)._1 === "noop")
  }

  test("MIXED chain (INNER + LEFT OUTER steps): both orders maintain through churn") {
    catBase
    // shape A: F ⋈ D1 ⟕ D2 — required dim then optional dim
    val fa = s"$catBase/mxaf"
    val da1 = s"$catBase/mxa1"
    val da2 = s"$catBase/mxa2"
    val mvA = s"$catBase/mxamv"
    Seq((1L, 10L), (1L, 20L), (2L, 5L), (9L, 99L)) // fk=9: no D1 → dropped
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(fa)
    Seq((1L, 100L), (2L, 200L)) // ek=200 has no D2 row → null-extends
      .toDF("pk", "ek").write.format("graft-store").mode("overwrite").save(da1)
    Seq((100L, "x")).toDF("ek2", "lab")
      .write.format("graft-store").mode("overwrite").save(da2)
    GraftMview.create(spark, mvA,
      s"SELECT lab, count(*) AS n, sum(v) AS s FROM $cat.mxaf " +
        s"JOIN $cat.mxa1 ON fk = pk LEFT JOIN $cat.mxa2 ON ek = ek2 " +
        "GROUP BY lab")
    def rowsA() = spark.read.format("graft-store").load(mvA)
      .select("lab", "n", "s").collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    def recomputeA() = {
      val f = spark.read.format("graft-store").load(fa)
      val d1 = spark.read.format("graft-store").load(da1)
      val d2 = spark.read.format("graft-store").load(da2)
      f.join(d1, f("fk") === d1("pk"))
        .join(d2, d1("ek") === d2("ek2"), "left_outer")
        .groupBy("lab").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rowsA() === Map(Option("x") -> ((2L, 30L)), None -> ((1L, 5L))))
    // churn every side: fact append; D1 gains fk=9's row (INNER gate
    // opens); D2 gains ek=200 (null-extended → matched)
    Seq((2L, 50L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fa)
    assert(GraftMview.refresh(spark, mvA)._1 === "incremental")
    assert(rowsA() === recomputeA())
    Seq((9L, 200L)).toDF("pk", "ek")
      .write.format("graft-store").mode("append").save(da1)
    assert(GraftMview.refresh(spark, mvA)._1 === "incremental")
    assert(rowsA() === recomputeA() && rowsA()(None) === ((3L, 154L)))
    Seq((200L, "y")).toDF("ek2", "lab")
      .write.format("graft-store").mode("append").save(da2)
    assert(GraftMview.refresh(spark, mvA)._1 === "incremental")
    assert(rowsA() === recomputeA())
    assert(rowsA()(Option("y")) === ((3L, 154L)) && !rowsA().contains(None))
    // REWRITE: the mixed shape serves only its exact type sequence
    def qMixed() = spark.sql(
      s"SELECT lab, count(*) AS n, sum(v) AS s FROM $cat.mxaf " +
        s"JOIN $cat.mxa1 ON fk = pk LEFT JOIN $cat.mxa2 ON ek = ek2 " +
        "GROUP BY lab")
    assert(qMixed().queryExecution.optimizedPlan.toString.contains(mvA))
    assert(qMixed().collect().map(r => Option(r.getString(0)) ->
      (r.getLong(1), r.getLong(2))).toMap === recomputeA())
    val qAllLeft = spark.sql(
      s"SELECT lab, count(*) AS n, sum(v) AS s FROM $cat.mxaf " +
        s"LEFT JOIN $cat.mxa1 ON fk = pk LEFT JOIN $cat.mxa2 ON ek = ek2 " +
        "GROUP BY lab")
    assert(!qAllLeft.queryExecution.optimizedPlan.toString.contains(mvA),
      "an all-left query must not read the mixed view")

    // shape B: F ⟕ D1 ⋈ D2 — the INNER after the LEFT drops fact rows
    // whose D1 is null-extended (NULL key never inner-matches)
    val fb = s"$catBase/mxbf"
    val db1 = s"$catBase/mxb1"
    val db2 = s"$catBase/mxb2"
    val mvB = s"$catBase/mxbmv"
    Seq((1L, 10L), (2L, 5L), (9L, 99L))
      .toDF("bk", "w").write.format("graft-store").mode("overwrite").save(fb)
    Seq((1L, 100L), (2L, 200L))
      .toDF("bpk", "bek").write.format("graft-store").mode("overwrite").save(db1)
    Seq((100L, "p"), (200L, "q")).toDF("bek2", "blab")
      .write.format("graft-store").mode("overwrite").save(db2)
    GraftMview.create(spark, mvB,
      s"SELECT blab, count(*) AS n, sum(w) AS s FROM $cat.mxbf " +
        s"LEFT JOIN $cat.mxb1 ON bk = bpk JOIN $cat.mxb2 ON bek = bek2 " +
        "GROUP BY blab")
    def rowsB() = spark.read.format("graft-store").load(mvB)
      .select("blab", "n", "s").collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    def recomputeB() = {
      val f = spark.read.format("graft-store").load(fb)
      val d1 = spark.read.format("graft-store").load(db1)
      val d2 = spark.read.format("graft-store").load(db2)
      f.join(d1, f("bk") === d1("bpk"), "left_outer")
        .join(d2, d1("bek") === d2("bek2"))
        .groupBy("blab").agg(count(lit(1)).as("n"), sum("w").as("s"))
        .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rowsB() === Map(Option("p") -> ((1L, 10L)), Option("q") -> ((1L, 5L))))
    // churn: D1 delete makes bk=2 null-extended → the INNER D2 step then
    // DROPS it; D2 delete kills a lab group
    spark.sql(s"DELETE FROM $cat.mxb1 WHERE bpk = 2")
    assert(GraftMview.refresh(spark, mvB)._1 === "incremental")
    assert(rowsB() === recomputeB() && !rowsB().contains(Option("q")))
    Seq((9L, 100L)).toDF("bpk", "bek")
      .write.format("graft-store").mode("append").save(db1)
    spark.sql(s"DELETE FROM $cat.mxb2 WHERE blab = 'p'")
    assert(GraftMview.refresh(spark, mvB)._1 === "incremental")
    assert(rowsB() === recomputeB())
    assert(rowsB().isEmpty) // no D2 rows survive for any matched bek
    assert(GraftMview.refresh(spark, mvB)._1 === "noop")
  }

  test("LEFT OUTER view refresh is churn-proportional on dim-side churn") {
    catBase
    val fact = s"$catBase/lof2"
    val dim = s"$catBase/lod2"
    val mvDir = s"$catBase/lomv2"
    spark.range(0, 8000)
      .select((col("id") % 200).as("fk"), col("id").as("v"))
      .repartitionByRange(8, col("fk"))
      .write.format("graft-store").mode("overwrite").save(fact)
    // keys 100..199 have no dim row: a standing null-extended population
    spark.range(0, 100).select(col("id").as("pk"),
        concat(lit("g"), col("id") % 8).as("grp"))
      .write.format("graft-store").mode("overwrite").save(dim)
    GraftMview.create(spark, mvDir,
      s"SELECT grp, count(*) AS n, sum(v) AS s FROM $cat.lof2 " +
        s"LEFT JOIN $cat.lod2 ON fk = pk GROUP BY grp")
    // dim churn: ONE key converts from null-extended to matched. The
    // refresh must scope its fact rescans to that key, not the corpus —
    // stats pruning keeps opened slices below the 8-file fact base.
    Seq((150L, "gNEW")).toDF("pk", "grp")
      .write.format("graft-store").mode("append").save(dim)
    val before = GraftStoreFormat.scannedFileSlices.sum()
    val (mode, _, _, _) = GraftMview.refresh(spark, mvDir)
    val opened = GraftStoreFormat.scannedFileSlices.sum() - before
    assert(mode === "incremental")
    // the fact side is range-laid-out on fk: the churned key's rescans
    // prune to its one file via min/max stats — never the 8-file base
    assert(opened < 8, s"left-outer dim refresh opened $opened slices")
    val full = {
      val f = spark.read.format("graft-store").load(fact)
      val dm = spark.read.format("graft-store").load(dim)
      f.join(dm, f("fk") === dm("pk"), "left_outer").groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(spark.read.format("graft-store").load(mvDir)
      .select("grp", "n", "s").collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap === full)
    assert(full(Some("gNEW")) === ((40L, 162000L)))
  }

  test("JOIN view with WHERE: the predicate gates both batch and delta paths") {
    catBase
    val fact = s"$catBase/jw1"
    val dim = s"$catBase/jw2"
    val mvDir = s"$catBase/jwmv"
    Seq((1L, 10L), (1L, -5L), (2L, 20L), (3L, 30L)).toDF("fk", "v")
      .write.format("graft-store").mode("overwrite").save(fact)
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("pk", "grp")
      .write.format("graft-store").mode("overwrite").save(dim)
    GraftMview.create(spark, mvDir,
      s"SELECT grp, count(*) AS n, sum(v) AS s FROM $cat.jw1 JOIN $cat.jw2 " +
        "ON fk = pk WHERE v > 0 GROUP BY grp")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("grp", "n", "s").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows() === Map("a" -> ((2L, 40L)), "b" -> ((1L, 20L))))
    // churn both sides: a negative row (filtered), a positive one, and a
    // dim flip that moves ONLY the rows passing the predicate
    Seq((2L, -100L), (2L, 7L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    spark.sql(s"UPDATE $cat.jw2 SET grp = 'b' WHERE pk = 3")
    val (m, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m === "incremental")
    assert(rows() === Map("a" -> ((1L, 10L)), "b" -> ((3L, 57L))))
  }

  test("transparent rewrite: fresh MV serves the base-table aggregate; staleness opts out") {
    catBase
    val srcDir = s"$catBase/rwsrc"
    val mvDir = s"$catBase/rwmv"
    Seq(("a", 1L), ("a", 2L), ("b", 10L), (null.asInstanceOf[String], 5L))
      .toDF("g", "v").write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, sum(v) AS s, avg(v) AS a FROM $cat.rwsrc GROUP BY g")
    def q() = spark.read.format("graft-store").load(srcDir)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("s"), avg("v").as("am"))
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val expect0 = Map(Option("a") -> ((2L, 3L, 1.5)),
      Option("b") -> ((1L, 10L, 10.0)), None -> ((1L, 5L, 5.0)))
    // FRESH: the aggregate over the BASE table reads the MV
    assert(servedFromMv(q()), "fresh MV must serve the base-table aggregate")
    assert(rows(q()) === expect0)
    // the proof is physical too: the query opens the MV's files, and a
    // row-shape check — counts are exact, avg = internal sum/count
    // STALE: churn the source without refreshing — NO rewrite, and the
    // answer reflects the new data (never the stale view)
    Seq(("b", 90L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    assert(!servedFromMv(q()), "a stale MV must never serve the query")
    assert(rows(q())(Option("b")) === ((2L, 100L, 50.0)))
    // refresh restores freshness — rewrite resumes with the new numbers
    GraftMview.refresh(spark, mvDir)
    assert(servedFromMv(q()))
    assert(rows(q())(Option("b")) === ((2L, 100L, 50.0)))
    // a shape the MV cannot answer is untouched (different grouping;
    // an aggregate the MV lacks; a filtered query)
    assert(!servedFromMv(spark.read.format("graft-store").load(srcDir)
      .groupBy("v").agg(count(lit(1)).as("n"))))
    assert(!servedFromMv(spark.read.format("graft-store").load(srcDir)
      .groupBy("g").agg(min("v").as("mn"))))
    assert(!servedFromMv(spark.read.format("graft-store").load(srcDir)
      .filter(col("v") > 1).groupBy("g").agg(count(lit(1)).as("n"))))
    // the conf gate opts out
    spark.conf.set("spark.graft.mv.rewrite", "false")
    try assert(!servedFromMv(q()))
    finally spark.conf.unset("spark.graft.mv.rewrite")
    // SQL path through the catalog rewrites too
    val sqlDf = spark.sql(
      s"SELECT g, count(*) AS n, sum(v) AS s FROM $cat.rwsrc GROUP BY g")
    assert(sqlDf.queryExecution.optimizedPlan.toString.contains(mvDir))
    assert(sqlDf.collect().map(_.getLong(1)).sum === 5L)
  }

  test("left-shape rewrite: a left view serves left queries, inner serves inner, never crossed") {
    catBase
    val fact = s"$catBase/lrf"
    val dim = s"$catBase/lrd"
    val leftMv = s"$catBase/lrmvL"
    val innerMv = s"$catBase/lrmvI"
    // fk=9 unmatched: the left shape has a NULL-region group the inner lacks
    Seq((1L, 10L), (1L, 20L), (2L, 5L), (9L, 99L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(fact)
    Seq((1L, "east"), (2L, "west"))
      .toDF("pk", "region").write.format("graft-store").mode("overwrite").save(dim)
    GraftMview.create(spark, leftMv,
      s"SELECT region, count(*) AS n, sum(v) AS s FROM $cat.lrf " +
        s"LEFT JOIN $cat.lrd ON fk = pk GROUP BY region")
    GraftMview.create(spark, innerMv,
      s"SELECT region, count(*) AS n, sum(v) AS s FROM $cat.lrf " +
        s"JOIN $cat.lrd ON fk = pk GROUP BY region")
    def f() = spark.read.format("graft-store").load(fact)
    def dm() = spark.read.format("graft-store").load(dim)
    def qLeft() = { val a = f(); val b = dm()
      a.join(b, a("fk") === b("pk"), "left_outer")
        .groupBy("region").agg(count(lit(1)).as("n"), sum("v").as("s")) }
    def qInner() = { val a = f(); val b = dm()
      a.join(b, a("fk") === b("pk"))
        .groupBy("region").agg(count(lit(1)).as("n"), sum("v").as("s")) }
    def servedFrom(df: org.apache.spark.sql.DataFrame, dir: String): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    // each shape serves from ITS OWN view — never the other (the left
    // view carries null-extended rows an inner query must not see; the
    // inner view lacks the NULL group a left query needs)
    assert(servedFrom(qLeft(), leftMv) && !servedFrom(qLeft(), innerMv))
    assert(servedFrom(qInner(), innerMv) && !servedFrom(qInner(), leftMv))
    assert(rows(qLeft()) === Map(Option("east") -> ((2L, 30L)),
      Option("west") -> ((1L, 5L)), None -> ((1L, 99L))))
    assert(rows(qInner()) === Map(Option("east") -> ((2L, 30L)),
      Option("west") -> ((1L, 5L))))
    // ROLLUP from the left view: the global aggregate re-aggregates the
    // stored groups (the NULL group's mass included)
    val gl = { val a = f(); val b = dm()
      a.join(b, a("fk") === b("pk"), "left_outer")
        .agg(count(lit(1)).as("n"), sum("v").as("s")) }
    assert(servedFrom(gl, leftMv))
    assert(gl.collect()(0).getLong(0) === 4L)
    // ORIENTATION: dim LEFT JOIN fact is a different relation — refuses
    val flipped = { val a = f(); val b = dm()
      b.join(a, a("fk") === b("pk"), "left_outer")
        .groupBy("region").agg(count(lit(1)).as("n")) }
    assert(!servedFrom(flipped, leftMv) && !servedFrom(flipped, innerMv))
    // a filter UNDER the right side changes null-extension — refuses
    val rightFiltered = { val a = f()
      val b = dm().filter(col("region") =!= "west")
      a.join(b, a("fk") === b("pk"), "left_outer")
        .groupBy("region").agg(count(lit(1)).as("n")) }
    assert(!servedFrom(rightFiltered, leftMv))
    // STALE left view never serves; refresh restores
    Seq((2L, 100L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    assert(!servedFrom(qLeft(), leftMv))
    assert(rows(qLeft())(Option("west")) === ((2L, 105L)))
    GraftMview.refresh(spark, leftMv)
    assert(servedFrom(qLeft(), leftMv))
    assert(rows(qLeft())(Option("west")) === ((2L, 105L)))
    // SQL path serves the left shape too
    GraftMview.refresh(spark, innerMv)
    val sqlDf = spark.sql("SELECT region, count(*) AS n, sum(v) AS s " +
      s"FROM $cat.lrf LEFT JOIN $cat.lrd ON fk = pk GROUP BY region")
    assert(sqlDf.queryExecution.optimizedPlan.toString.contains(leftMv))
    assert(rows(sqlDf)(None) === ((1L, 99L)))
  }

  test("HAVING and aggregate FILTER serve from the view; collapsed-column FILTER refuses") {
    catBase
    val srcDir = s"$catBase/hfsrc"
    val mvDir = s"$catBase/hfmv"
    Seq(("a", "x", 1L), ("a", "x", 2L), ("a", "y", 10L),
        ("b", "x", 5L), ("b", "y", 7L), ("c", "y", 20L))
      .toDF("g1", "g2", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g1, g2, count(*) AS n, sum(v) AS s FROM $cat.hfsrc GROUP BY g1, g2")
    def served(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    // HAVING is a Filter ABOVE the aggregate: the rollup serves, the
    // predicate applies to served rows — no extra machinery
    val having = spark.sql(s"SELECT g1, sum(v) AS s FROM $cat.hfsrc " +
      "GROUP BY g1 HAVING sum(v) > 10")
    assert(served(having), "HAVING rollup must serve from the view")
    assert(having.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("a" -> 13L, "b" -> 12L, "c" -> 20L))
    // HAVING over an aggregate NOT in the select list (analyzer plants a
    // hidden output) serves too
    val having2 = spark.sql(s"SELECT g1, sum(v) AS s FROM $cat.hfsrc " +
      "GROUP BY g1 HAVING count(*) > 1")
    assert(served(having2))
    assert(having2.collect().map(_.getString(0)).toSet === Set("a", "b"))
    // FILTER over a view GROUP column, rolled up: the predicate attaches
    // to the internal re-aggregations over stored rows
    val filtered = spark.sql(
      "SELECT g1, count(*) AS n, sum(v) FILTER (WHERE g2 = 'x') AS sx " +
        s"FROM $cat.hfsrc GROUP BY g1")
    assert(served(filtered), "group-column FILTER must serve")
    assert(filtered.collect()
      .map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      === Map("a" -> ((3L, 3L)), "b" -> ((2L, 5L)), "c" -> ((1L, -1L))))
    // FILTER at the EXACT group set forces the re-aggregation form
    val exactF = spark.sql(
      "SELECT g1, g2, count(*) FILTER (WHERE g2 = 'x') AS nx " +
        s"FROM $cat.hfsrc GROUP BY g1, g2")
    assert(served(exactF))
    assert(exactF.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      === Map(("a", "x") -> 2L, ("a", "y") -> 0L, ("b", "x") -> 1L,
        ("b", "y") -> 0L, ("c", "y") -> 0L))
    // FILTER over a COLLAPSED (non-group) column cannot be expressed
    // against stored rows — refuses, and the base-table answer is right
    val collapsed = spark.sql(
      "SELECT g1, sum(v) FILTER (WHERE v > 2) AS sv " +
        s"FROM $cat.hfsrc GROUP BY g1")
    assert(!served(collapsed), "collapsed-column FILTER must refuse")
    assert(collapsed.collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      === Map("a" -> 10L, "b" -> 12L, "c" -> 20L))
  }

  test("rollup rewrite: coarser and GLOBAL aggregates re-aggregate the finer view") {
    catBase
    val srcDir = s"$catBase/rusrc"
    val mvDir = s"$catBase/rumv"
    Seq(("a", "x", 2.0), ("a", "x", 4.0), ("a", "y", 9.0),
      ("b", "x", 5.0), ("b", "y", 7.0), ("b", "y", 11.0))
      .toDF("g", "h", "v").write.format("graft-store").mode("overwrite").save(srcDir)
    // FINER view: grouped by (g, h) with every recombinable aggregate
    GraftMview.create(spark, mvDir,
      "SELECT g, h, count(*) AS n, sum(v) AS s, avg(v) AS a, min(v) AS mn, " +
        s"max(v) AS mx, stddev_samp(v) AS sd FROM $cat.rusrc GROUP BY g, h")
    def base() = spark.read.format("graft-store").load(srcDir)
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    // COARSER grouping (g only): counts sum, sums sum, avg and stddev
    // recombine from the stored moment columns, min/max nest
    val coarse = base().groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("s"),
      avg("v").as("a"), min("v").as("mn"), max("v").as("mx"),
      stddev_samp("v").as("sd"))
    assert(servedFromMv(coarse), "coarser grouping must roll up from the view")
    val want = Map(
      "a" -> ((3L, 15.0, 5.0, 2.0, 9.0), math.sqrt((4+16+81 - 15.0*15/3) / 2)),
      "b" -> ((3L, 23.0, 23.0 / 3, 5.0, 11.0), math.sqrt((25+49+121 - 23.0*23/3) / 2)))
    coarse.collect().foreach { r =>
      val (t, sd) = want(r.getString(0))
      assert((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5)) === t)
      assert(math.abs(r.getDouble(6) - sd) < 1e-9)
    }
    // GLOBAL aggregate (no GROUP BY): the empty subset rolls up too
    val global = base().agg(count(lit(1)).as("n"), sum("v").as("s"), avg("v").as("a"))
    assert(servedFromMv(global), "a global aggregate must roll up from the view")
    val gr = global.collect()(0)
    assert(gr.getLong(0) === 6L && gr.getDouble(1) === 38.0 &&
      math.abs(gr.getDouble(2) - 38.0 / 6) < 1e-12)
    // staleness still gates rollups
    Seq(("c", "z", 1.0)).toDF("g", "h", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    assert(!servedFromMv(base().groupBy("g").agg(count(lit(1)).as("n"))))
    assert(base().groupBy("g").agg(count(lit(1)).as("n")).collect().length === 3)
  }

  test("filtered rewrite: WHERE over group columns serves; non-group WHERE opts out") {
    catBase
    val srcDir = s"$catBase/fgsrc"
    val mvDir = s"$catBase/fgmv"
    Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 10L), ("c", "x", 5L))
      .toDF("g", "h", "v").write.format("graft-store").mode("overwrite").save(srcDir)
    // UNFILTERED view at (g, h) grain
    GraftMview.create(spark, mvDir,
      s"SELECT g, h, count(*) AS n, sum(v) AS s FROM $cat.fgsrc GROUP BY g, h")
    def base() = spark.read.format("graft-store").load(srcDir)
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    // residual WHERE on a group column + ROLLUP to (g): stored rows
    // filter to h='x' then re-aggregate
    val q1 = base().filter($"h" === "x").groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    assert(servedFromMv(q1), "WHERE on a group column must serve from the view")
    assert(q1.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("a" -> ((1L, 1L)), "b" -> ((1L, 10L)), "c" -> ((1L, 5L))))
    // residual WHERE + EXACT grain
    val q2 = base().filter($"g" === "a").groupBy("g", "h")
      .agg(count(lit(1)).as("n"))
    assert(servedFromMv(q2))
    assert(q2.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet === Set(("a", "x", 1L), ("a", "y", 1L)))
    // WHERE over a NON-group column cannot apply to stored rows
    assert(!servedFromMv(base().filter($"v" > 1).groupBy("g")
      .agg(count(lit(1)).as("n"))))
    // a PINNED (time-travel) read must never be served from the view:
    // freshness speaks only for the head
    assert(!servedFromMv(spark.read.format("graft-store")
      .option("snapshot", 0).load(srcDir)
      .groupBy("g", "h").agg(count(lit(1)).as("n"))))
  }

  test("filtered rewrite: a filtered view serves its exact WHERE; mismatches opt out") {
    catBase
    val srcDir = s"$catBase/fvsrc"
    val mvDir = s"$catBase/fvmv"
    Seq(("a", 1L), ("a", 7L), ("b", 10L), ("b", 2L), ("c", 9L))
      .toDF("g", "v").write.format("graft-store").mode("overwrite").save(srcDir)
    // FILTERED view: WHERE over a non-group column
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, sum(v) AS s FROM $cat.fvsrc WHERE v > 5 GROUP BY g")
    def base() = spark.read.format("graft-store").load(srcDir)
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    // the query's WHERE matches the view's WHERE (post-coercion: the int
    // literal 5 folds to the bigint the stored text carries)
    val q1 = base().filter($"v" > 5).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    assert(servedFromMv(q1), "the view's own WHERE must match the query's")
    assert(q1.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("a" -> ((1L, 7L)), "b" -> ((1L, 10L)), "c" -> ((1L, 9L))))
    // matching WHERE plus a residual group-column conjunct
    val q2 = base().filter($"v" > 5 && $"g" === "b").groupBy("g")
      .agg(sum("v").as("s"))
    assert(servedFromMv(q2))
    assert(q2.collect().map(_.getLong(1)).toSeq === Seq(10L))
    // a LOOSER bound — and even NO WHERE at all — now serves as the
    // MIXED plan: the view's slice plus a complement base scan of only
    // the rows the view filtered away (r13; previously refused)
    val q3 = base().filter($"v" > 4).groupBy("g").agg(count(lit(1)).as("n"))
    assert(servedFromMv(q3), "a looser bound must serve as the mixed plan")
    assert(q3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
    val q4 = base().groupBy("g").agg(count(lit(1)).as("n"))
    assert(servedFromMv(q4), "the unfiltered aggregate must serve as the mixed plan")
    assert(q4.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    // a query wanting ONLY the complement gets nothing from the view —
    // refused (also the mixed plan's own idempotence guard)
    assert(!servedFromMv(base().filter($"v" <= 5).groupBy("g")
      .agg(count(lit(1)).as("n"))))
    // staleness still gates filtered serves
    Seq(("d", 100L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    assert(!servedFromMv(base().filter($"v" > 5).groupBy("g")
      .agg(count(lit(1)).as("n"))))
  }

  test("range implication: a tighter WHERE on a group column serves from a wider view") {
    catBase
    val srcDir = s"$catBase/risrc"
    val mvDir = s"$catBase/rimv"
    Seq((5, 1L), (10, 2L), (15, 4L), (20, 8L), (3, 99L))
      .toDF("day", "v").write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT day, count(*) AS n, sum(v) AS s FROM $cat.risrc " +
        "WHERE day >= 5 GROUP BY day")
    def base() = spark.read.format("graft-store").load(srcDir)
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    // day >= 15 implies the view's day >= 5; the tighter bound applies
    // to stored rows as a residual (day is a group column)
    val q1 = base().filter($"day" >= 15).groupBy("day")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    assert(servedFromMv(q1), "a tighter range on a group column must serve")
    assert(q1.collect().map(r => r.getInt(0) -> r.getLong(2)).toMap ===
      Map(15 -> 4L, 20 -> 8L))
    // strict > with an equal bound implies >=; an equality point inside
    // the range implies it too
    assert(servedFromMv(base().filter($"day" > 5).groupBy("day")
      .agg(count(lit(1)).as("n"))))
    val qe = base().filter($"day" === 20).groupBy("day").agg(sum("v").as("s"))
    assert(servedFromMv(qe))
    assert(qe.collect().map(_.getLong(1)).toSeq === Seq(8L))
    // a WIDER range serves as the MIXED plan (r13; previously refused):
    // the view's slice plus a complement scan that brings in day=3
    val wide = base().filter($"day" >= 3).groupBy("day").agg(sum("v").as("s"))
    assert(servedFromMv(wide), "a wider range must serve as the mixed plan")
    assert(wide.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      Map(3 -> 99L, 5 -> 1L, 10 -> 2L, 15 -> 4L, 20 -> 8L))
    // integer successor arithmetic is still NOT assumed: day > 4
    // (≡ day >= 5 over ints) serves through the mixed plan with an
    // empty complement slice instead of a semantic gamble
    val succ = base().filter($"day" > 4).groupBy("day")
      .agg(count(lit(1)).as("n"))
    assert(servedFromMv(succ))
    assert(succ.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      Map(5 -> 1L, 10 -> 1L, 15 -> 1L, 20 -> 1L))
    // the pure complement is refused (nothing to serve from the view)
    assert(!servedFromMv(base().filter($"day" < 5).groupBy("day")
      .agg(count(lit(1)).as("n"))))
  }

  test("join rewrite: a fresh two-table view serves the same join aggregate") {
    catBase
    val factDir = s"$catBase/jrfact"
    val dimDir = s"$catBase/jrdim"
    val mvDir = s"$catBase/jrmv"
    Seq((1L, 2L), (1L, 4L), (2L, 10L), (3L, 7L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, "a"), (2L, "b"), (3L, "a"))
      .toDF("pk", "seg").write.format("graft-store").mode("overwrite").save(dimDir)
    GraftMview.create(spark, mvDir,
      "SELECT seg, count(*) AS n, sum(v) AS s " +
        s"FROM $cat.jrfact JOIN $cat.jrdim ON fk = pk GROUP BY seg")
    def fact() = spark.read.format("graft-store").load(factDir)
    def dim() = spark.read.format("graft-store").load(dimDir)
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def joinAgg(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame,
        cond: org.apache.spark.sql.Column) =
      l.join(r, cond, "inner").groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
    // the same join, served from the view
    val q1 = joinAgg(fact(), dim(), $"fk" === $"pk")
    assert(servedFromMv(q1), "a fresh join view must serve the same join aggregate")
    assert(q1.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("a" -> ((3L, 13L)), "b" -> ((1L, 10L))))
    // either join order serves
    assert(servedFromMv(joinAgg(dim(), fact(), $"pk" === $"fk")))
    // a GLOBAL rollup over the join serves from the view too
    val g = fact().join(dim(), $"fk" === $"pk", "inner")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    assert(servedFromMv(g))
    assert(g.collect()(0).getLong(0) === 4L)
    // different join keys are a different join
    assert(!servedFromMv(joinAgg(fact(), dim(), $"v" === $"pk")))
    // churn on ONE side stales the view for serving; refresh restores
    Seq((2L, 20L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(factDir)
    val stale = joinAgg(fact(), dim(), $"fk" === $"pk")
    assert(!servedFromMv(stale), "a stale join view must never serve")
    assert(stale.collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("a" -> 13L, "b" -> 30L))
    GraftMview.refresh(spark, mvDir)
    val fresh = joinAgg(fact(), dim(), $"fk" === $"pk")
    assert(servedFromMv(fresh))
    assert(fresh.collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("a" -> 13L, "b" -> 30L))
  }

  test("join-back rewrite: a fact-side MV serves the fact-dim join aggregate") {
    catBase
    val factDir = s"$catBase/jbfact"
    val dimDir = s"$catBase/jbdim"
    val mvDir = s"$catBase/jbmv"
    Seq((Option(1L), 2L), (Option(1L), 4L), (Option(2L), 10L), (Option(3L), 7L),
      (Option.empty[Long], 100L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(factDir)
    // the dim deliberately carries a column NAMED like the fact measure:
    // aggregate mapping must go by exprId, never by name
    Seq((1L, "a", 500L), (2L, "b", 600L), (3L, "a", 700L))
      .toDF("pk", "seg", "v").write.format("graft-store").mode("overwrite").save(dimDir)
    GraftMview.create(spark, mvDir,
      s"SELECT fk, count(*) AS n, sum(v) AS s FROM $cat.jbfact GROUP BY fk")
    def fact() = spark.read.format("graft-store").load(factDir)
    def dim() = spark.read.format("graft-store").load(dimDir)
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def q() = {
      val f = fact(); val dd = dim()
      f.join(dd, f("fk") === dd("pk"), "inner").groupBy("seg")
        .agg(count(lit(1)).as("n"), sum(f("v")).as("s"))
    }
    // fact⋈dim served as MV⋈dim; the NULL-fk fact row drops on both paths
    val q1 = q()
    assert(servedFromMv(q1), "a fresh fact-side MV must serve the join aggregate")
    assert(q1.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("a" -> ((3L, 13L)), "b" -> ((1L, 10L))))
    // mixed grouping: dim column + fact group column
    val f2 = fact(); val d2 = dim()
    val q2 = f2.join(d2, f2("fk") === d2("pk"), "inner").groupBy("seg", "fk")
      .agg(sum(f2("v")).as("s"))
    assert(servedFromMv(q2))
    assert(q2.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap === Map(("a", 1L) -> 6L, ("b", 2L) -> 10L, ("a", 3L) -> 7L))
    // a dim-side aggregate cannot come from fact partials — even when the
    // dim column's NAME collides with the tracked fact measure
    val f3 = fact(); val d3 = dim()
    val qd = f3.join(d3, f3("fk") === d3("pk"), "inner").groupBy("seg")
      .agg(sum(d3("v")).as("s"))
    assert(!servedFromMv(qd), "a name-colliding dim measure must never serve")
    assert(qd.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 1700L, "b" -> 600L))
    // a join key outside the MV's group set refuses
    val f4 = fact(); val d4 = dim()
    assert(!servedFromMv(f4.join(d4, f4("v") === d4("pk"), "inner")
      .groupBy("seg").agg(count(lit(1)).as("n"))))
    // DIM churn does NOT stale: the dim side is read live through the
    // query's own relation — a segment correction shows up immediately
    spark.sql(s"UPDATE $cat.jbdim SET seg = 'c' WHERE pk = 2")
    val q3 = q()
    assert(servedFromMv(q3), "dim churn must not stale a fact-side MV")
    assert(q3.collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("a" -> 13L, "c" -> 10L))
    // FACT churn stales; refresh restores
    Seq((Option(2L), 20L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(factDir)
    val q4 = q()
    assert(!servedFromMv(q4), "a stale fact-side MV must never serve")
    assert(q4.collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("a" -> 13L, "c" -> 30L))
    GraftMview.refresh(spark, mvDir)
    val q5 = q()
    assert(servedFromMv(q5))
    assert(q5.collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("a" -> 13L, "c" -> 30L))
  }

  test("multi-dim join-back: snowflake chain serves; cross-dim conjunct lands above the join") {
    catBase
    val factDir = s"$catBase/jb2fact"
    val d1Dir = s"$catBase/jb2d1"
    val d2Dir = s"$catBase/jb2d2"
    val mvDir = s"$catBase/jb2mv"
    Seq((1L, 2L), (1L, 4L), (2L, 10L), (3L, 7L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(factDir)
    // d1 snowflakes to d2: fact.fk -> d1.pk, d1.nk -> d2.nk2
    Seq((1L, 10L, 5L), (2L, 20L, 6L), (3L, 10L, 7L))
      .toDF("pk", "nk", "w").write.format("graft-store").mode("overwrite").save(d1Dir)
    Seq((10L, "north", 5L), (20L, "south", 99L))
      .toDF("nk2", "region", "w2").write.format("graft-store").mode("overwrite").save(d2Dir)
    GraftMview.create(spark, mvDir,
      s"SELECT fk, count(*) AS n, sum(v) AS s FROM $cat.jb2fact GROUP BY fk")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def fact() = spark.read.format("graft-store").load(factDir)
    def d1() = spark.read.format("graft-store").load(d1Dir)
    def d2() = spark.read.format("graft-store").load(d2Dir)
    // the snowflaked 3-table aggregate serves from the fact MV
    val (f1, a1, b1) = (fact(), d1(), d2())
    val q1 = f1.join(a1, f1("fk") === a1("pk"), "inner")
      .join(b1, a1("nk") === b1("nk2"), "inner")
      .groupBy("region").agg(count(lit(1)).as("n"), sum(f1("v")).as("s"))
    assert(servedFromMv(q1), "the fact MV must serve the snowflaked join")
    assert(q1.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("north" -> ((3L, 13L)), "south" -> ((1L, 10L))))
    // a cross-dim conjunct (d1.w = d2.w2) commutes with the inner joins
    // and lands above the rebuilt join: north keeps only d1.pk=1 (w=5)
    val (f2, a2, b2) = (fact(), d1(), d2())
    val q2 = f2.join(a2, f2("fk") === a2("pk"), "inner")
      .join(b2, a2("nk") === b2("nk2"), "inner")
      .filter(a2("w") === b2("w2"))
      .groupBy("region").agg(sum(f2("v")).as("s"))
    assert(servedFromMv(q2), "a cross-dim conjunct must not refuse")
    assert(q2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("north" -> 6L))
    // a conjunct mixing fact and dim sides refuses
    val (f3, a3, b3) = (fact(), d1(), d2())
    assert(!servedFromMv(f3.join(a3, f3("fk") === a3("pk"), "inner")
      .join(b3, a3("nk") === b3("nk2"), "inner")
      .filter(f3("v") > a3("w"))
      .groupBy("region").agg(sum(f3("v")).as("s"))))
  }

  test("partial-join rewrite: join MV inside a wider join; key mismatch and non-group outbound refuse") {
    catBase
    val factDir = s"$catBase/pjfact"
    val custDir = s"$catBase/pjcust"
    val natDir = s"$catBase/pjnat"
    val mvDir = s"$catBase/pjmv"
    Seq((1L, 2L), (1L, 4L), (2L, 10L), (3L, 7L))
      .toDF("ck", "v").write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, 10L, 1L), (2L, 20L, 2L), (3L, 10L, 3L))
      .toDF("pk", "nk", "alt").write.format("graft-store").mode("overwrite").save(custDir)
    Seq((10L, "north"), (20L, "south"))
      .toDF("nk2", "region").write.format("graft-store").mode("overwrite").save(natDir)
    GraftMview.create(spark, mvDir,
      s"SELECT nk, count(*) AS n, sum(v) AS s FROM $cat.pjfact " +
        s"JOIN $cat.pjcust ON ck = pk GROUP BY nk")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def fact() = spark.read.format("graft-store").load(factDir)
    def cust() = spark.read.format("graft-store").load(custDir)
    def nat() = spark.read.format("graft-store").load(natDir)
    def q() = {
      val (f, c, n) = (fact(), cust(), nat())
      f.join(c, f("ck") === c("pk"), "inner")
        .join(n, c("nk") === n("nk2"), "inner")
        .groupBy("region").agg(count(lit(1)).as("n"), sum(f("v")).as("s"))
    }
    val q1 = q()
    assert(servedFromMv(q1), "the covered join must serve inside the wider join")
    assert(q1.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("north" -> ((3L, 13L)), "south" -> ((1L, 10L))))
    // the query joins the covered tables on a DIFFERENT key: refused
    val (f2, c2, n2) = (fact(), cust(), nat())
    assert(!servedFromMv(f2.join(c2, f2("ck") === c2("alt"), "inner")
      .join(n2, c2("nk") === n2("nk2"), "inner")
      .groupBy("region").agg(sum(f2("v")).as("s"))),
      "an internal key mismatch must refuse")
    // the outbound key is NOT a stored group column: refused
    val (f3, c3, n3) = (fact(), cust(), nat())
    assert(!servedFromMv(f3.join(c3, f3("ck") === c3("pk"), "inner")
      .join(n3, c3("alt") === n3("nk2"), "inner")
      .groupBy("region").agg(sum(f3("v")).as("s"))),
      "an outbound key outside the group set must refuse")
    // churn on the covered DIM side stales (both watermarks gate)
    spark.sql(s"UPDATE $cat.pjcust SET nk = 20 WHERE pk = 3")
    assert(!servedFromMv(q()), "covered-dim churn must stale the join MV")
    GraftMview.refresh(spark, mvDir)
    val q4 = q()
    assert(servedFromMv(q4))
    assert(q4.collect().map(r => r.getString(0) -> r.getLong(2)).toMap ===
      Map("north" -> 6L, "south" -> 17L))
  }

  test("IN implication + DISTINCT rollup: subset/member serve, superset/non-group refuse") {
    catBase
    val srcDir = s"$catBase/indsrc"
    val mvDir = s"$catBase/indmv"
    Seq((1, "x", 10L), (2, "x", 20L), (3, "y", 30L), (4, "y", 40L), (6, "z", 60L))
      .toDF("k", "g", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, k, count(*) AS n, sum(v) AS s FROM $cat.indsrc " +
        "WHERE k IN (1, 2, 3, 4) GROUP BY g, k")
    def base() = spark.read.format("graft-store").load(srcDir)
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    // IN-subset implies the view's IN; the subset filters stored rows
    val q1 = base().filter($"k".isin(1, 2)).groupBy("g").agg(sum("v").as("s"))
    assert(servedFromMv(q1), "a subset IN-list must serve")
    assert(q1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("x" -> 30L))
    // point equality inside the list implies it
    assert(servedFromMv(base().filter($"k" === 3).groupBy("g")
      .agg(count(lit(1)).as("n"))))
    // a SUPERSET serves as the MIXED plan (r13; previously refused): the
    // view's slice plus a complement scan bringing in k=6
    val sup = base().filter($"k".isin(1, 2, 3, 4, 6)).groupBy("g")
      .agg(count(lit(1)).as("n"))
    assert(servedFromMv(sup), "a superset IN must serve as the mixed plan")
    assert(sup.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("x" -> 2L, "y" -> 2L, "z" -> 1L))
    // the pure complement is refused (nothing to serve from the view)
    assert(!servedFromMv(base().filter(!$"k".isin(1, 2, 3, 4)).groupBy("g")
      .agg(count(lit(1)).as("n"))))
    // DISTINCT over a view GROUP column rolls up (stored combinations
    // are unique; DISTINCT dedupes anyway); over a collapsed column
    // it refuses
    val qd = base().filter($"k".isin(1, 2, 3, 4)).groupBy("g")
      .agg(countDistinct($"k").as("d"))
    assert(servedFromMv(qd), "count(DISTINCT group-col) must roll up")
    assert(qd.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("x" -> 2L, "y" -> 2L))
    assert(!servedFromMv(base().filter($"k".isin(1, 2, 3, 4)).groupBy("g")
      .agg(countDistinct($"v").as("d"))))
  }

  test("expression group keys: calendar MV maintains through churn; matches recompute") {
    catBase
    val srcDir = s"$catBase/calsrc"
    val mvDir = s"$catBase/calmv"
    def writeRows(rows: Seq[(String, Long)], mode: String): Unit =
      rows.toDF("d", "v").select(to_timestamp($"d").as("ts"), $"v")
        .write.format("graft-store").mode(mode).save(srcDir)
    writeRows(Seq(("2024-01-03", 1L), ("2024-01-17", 2L), ("2024-02-05", 10L),
      ("2024-02-20", 20L), ("2024-03-09", 7L)), "overwrite")
    GraftMview.create(spark, mvDir,
      "SELECT date_trunc('month', ts) AS mon, count(*) AS n, sum(v) AS s, " +
        s"min(v) AS lo FROM $cat.calsrc GROUP BY date_trunc('month', ts)")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select(date_format($"mon", "yyyy-MM").as("m"), $"n", $"s", $"lo")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows() === Map("2024-01" -> ((2L, 3L, 1L)), "2024-02" -> ((2L, 30L, 10L)),
      "2024-03" -> ((1L, 7L, 7L))))
    // churn: inserts into two buckets, a delete that moves Feb's min
    writeRows(Seq(("2024-01-25", 4L), ("2024-04-01", 100L)), "append")
    GraftStoreOps.deleteWhere(spark, srcDir, $"v" === 10L)
    val (mode, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(mode === "incremental")
    assert(rows() === Map("2024-01" -> ((3L, 7L, 1L)), "2024-02" -> ((1L, 20L, 20L)),
      "2024-03" -> ((1L, 7L, 7L)), "2024-04" -> ((1L, 100L, 100L))))
    // a bucket whose count reaches zero leaves the view
    GraftStoreOps.deleteWhere(spark, srcDir, $"v" === 7L)
    GraftMview.refresh(spark, mvDir)
    assert(!rows().contains("2024-03"))
  }

  test("expression group keys: refusals (non-deterministic, key not selected)") {
    catBase
    val srcDir = s"$catBase/calrefsrc"
    Seq(("2024-01-03", 1L)).toDF("d", "v")
      .select(to_timestamp($"d").as("ts"), $"v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        GraftMview.create(spark, s"$catBase/calrefmv", sql)
      }
      assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
    }
    refuse(s"SELECT count(*) AS n FROM $cat.calrefsrc GROUP BY rand()",
      "non-deterministic GROUP BY expression")
    refuse(s"SELECT count(*) AS n FROM $cat.calrefsrc " +
      "GROUP BY date_trunc('month', ts)",
      "must appear in the SELECT")
  }

  test("calendar rewrite: bucket expression serves exact + residual; different bucket refuses") {
    catBase
    val srcDir = s"$catBase/calrwsrc"
    val mvDir = s"$catBase/calrwmv"
    Seq(("2024-01-03", "a", 1L), ("2024-01-17", "b", 2L), ("2024-02-05", "a", 10L),
      ("2024-02-20", "b", 20L), ("2024-03-09", "a", 7L))
      .toDF("d", "g", "v")
      .select(to_timestamp($"d").as("ts"), $"g", $"v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      "SELECT date_trunc('month', ts) AS mon, g, count(*) AS n, sum(v) AS s " +
        s"FROM $cat.calrwsrc GROUP BY date_trunc('month', ts), g")
    def base() = spark.read.format("graft-store").load(srcDir)
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    // EXACT group set (bucket + g)
    val q1b = base().groupBy(date_trunc("month", $"ts").as("mon"), $"g")
      .agg(sum($"v").as("s"))
    assert(servedFromMv(q1b), "exact expression group set must serve")
    // ROLLUP to the bucket alone
    val q2 = base().groupBy(date_trunc("month", $"ts").as("mon"))
      .agg(count(lit(1)).as("n"))
    assert(servedFromMv(q2), "bucket-only rollup must serve")
    assert(q2.collect().map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 2L))
    // residual WHERE naming the bucket expression filters stored rows
    val q3 = base()
      .filter(date_trunc("month", $"ts") === to_timestamp(lit("2024-02-01")))
      .groupBy($"g").agg(sum($"v").as("s"))
    assert(servedFromMv(q3), "a residual WHERE on the bucket must serve")
    assert(q3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 10L, "b" -> 20L))
    // a coarser-by-FD bucket (year over the month key) SERVES since
    // round 14 — the coarsening rollup (see GraftMviewServeExtSpec for
    // the full differential family); value-pinned here
    val q4 = base().groupBy(date_trunc("year", $"ts").as("y"))
      .agg(count(lit(1)).as("n"))
    assert(servedFromMv(q4), "a coarser-by-FD bucket must serve (coarsening)")
    assert(q4.collect().map(_.getLong(1)).toSeq === Seq(5L))
    // an UNRELATED bucket column (no stored key derives it) still refuses
    val q5 = base().groupBy(date_trunc("year", $"v".cast("timestamp")).as("y"))
      .agg(count(lit(1)).as("n"))
    assert(!servedFromMv(q5), "a bucket over a non-key column must refuse")
  }

  test("hll approx-distinct: union fast path, removal rescan, rollup + join-back re-union") {
    catBase
    val srcDir = s"$catBase/hllsrc"
    val dimDir = s"$catBase/hlldim"
    val mvDir = s"$catBase/hllmv"
    def write(rows: Seq[(String, java.lang.Long, Long)], mode: String): Unit =
      rows.toDF("g", "u", "k")
        .write.format("graft-store").mode(mode).save(srcDir)
    write(Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 1L, 3L), ("b", 5L, 4L),
      ("b", null, 5L)), "overwrite")
    Seq((1L, "x"), (2L, "y")).toDF("pk", "seg")
      .write.format("graft-store").mode("overwrite").save(dimDir)
    GraftMview.create(spark, mvDir,
      "SELECT g, u, count(*) AS n, " +
        "hll_sketch_estimate(hll_sketch_agg(k, 12)) AS dk " +
        s"FROM $cat.hllsrc GROUP BY g, u")
    def mv() = spark.read.format("graft-store").load(mvDir)
      .select($"g", $"u", $"dk").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1)) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    def recompute() = spark.read.format("graft-store").load(srcDir)
      .groupBy($"g", $"u")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 12))").as("dk"))
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1)) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(mv() === recompute())
    // insert churn (NULL group key included): the union fast path
    write(Seq(("a", 1L, 10L), ("b", null, 11L), ("c", 7L, 12L)), "append")
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(mv() === recompute())
    // removal churn: the rescan path (and a vanished group leaves)
    GraftStoreOps.deleteWhere(spark, srcDir, $"k" === 2L || $"k" === 12L)
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(mv() === recompute())
    assert(!mv().contains(("c", 7L)))
    // rollup: the g-grain estimate re-unions stored sketches EXACTLY
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def base() = spark.read.format("graft-store").load(srcDir)
    val roll = base().groupBy($"g")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 12))").as("dk"))
    assert(servedFromMv(roll), "the sketch rollup must re-union stored sketches")
    // compare served values against a rewrite-off run
    spark.conf.set("spark.graft.mv.rewrite", "false")
    val off = try base().groupBy($"g")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 12))").as("dk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    finally spark.conf.set("spark.graft.mv.rewrite", "true")
    assert(roll.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === off)
    // join-back: replication cannot inflate a register-max structure
    val f = base(); val dd = spark.read.format("graft-store").load(dimDir)
    val jb = f.join(dd, f("u") === dd("pk"), "inner").groupBy("seg")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 12))").as("dk"))
    assert(servedFromMv(jb), "join-back must serve the sketch re-union")
    spark.conf.set("spark.graft.mv.rewrite", "false")
    val jbOff = try {
      val f2 = base(); val d2 = spark.read.format("graft-store").load(dimDir)
      f2.join(d2, f2("u") === d2("pk"), "inner").groupBy("seg")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 12))").as("dk"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    } finally spark.conf.set("spark.graft.mv.rewrite", "true")
    assert(jb.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === jbOff)
    // a different lgConfigK must refuse (different registers)
    assert(!servedFromMv(base().groupBy($"g")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 13))").as("dk"))))
    // refusal: bare sketch output
    val e1 = intercept[IllegalArgumentException] {
      GraftMview.create(spark, s"$catBase/hllbad1",
        "SELECT g, count(*) AS n, hll_sketch_agg(k) AS sk " +
          s"FROM $cat.hllsrc GROUP BY g")
    }
    assert(e1.getMessage.contains("wrap it"))
    // hll over a JOIN view is a FEATURE since round 14 (the removal
    // rescan rebuilds the join): create, churn both sides, stay exact
    val jmv = s"$catBase/hlljmv"
    GraftMview.create(spark, jmv,
      "SELECT seg, count(*) AS n, " +
        "hll_sketch_estimate(hll_sketch_agg(k, 12)) AS dk " +
        s"FROM $cat.hllsrc JOIN $cat.hlldim ON u = pk GROUP BY seg")
    def jmvRows() = spark.read.format("graft-store").load(jmv)
      .select($"seg", $"dk").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def jmvRecompute() = {
      val f2 = base(); val d2 = spark.read.format("graft-store").load(dimDir)
      f2.join(d2, f2("u") === d2("pk"), "inner").groupBy("seg")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 12))").as("dk"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(jmvRows() === jmvRecompute())
    write(Seq(("d", 2L, 30L), ("d", 1L, 31L)), "append") // insert fast path
    assert(GraftMview.refresh(spark, jmv)._1 === "incremental")
    assert(jmvRows() === jmvRecompute())
    GraftStoreOps.deleteWhere(spark, srcDir, $"k" === 31L) // rescan path
    assert(GraftMview.refresh(spark, jmv)._1 === "incremental")
    assert(jmvRows() === jmvRecompute())
  }

  test("concurrent MV registration is lossless (one sidecar file per dependent)") {
    catBase
    val srcDir = s"$catBase/regsrc"
    Seq((1L, 1L)).toDF("k", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    val conf = spark.sparkContext.hadoopConfiguration
    // 8 registrations race: one file per dependent means no
    // read-modify-write, so none can be lost
    val threads = (0 until 8).map { i =>
      new Thread(() => GraftStoreFormat.addMvDep(srcDir, conf, s"/mv/path-$i"))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val deps = GraftStoreFormat.readMvDeps(srcDir, conf)
    assert(deps.toSet === (0 until 8).map(i => s"/mv/path-$i").toSet)
    // re-registering is idempotent
    GraftStoreFormat.addMvDep(srcDir, conf, "/mv/path-3")
    assert(GraftStoreFormat.readMvDeps(srcDir, conf).size === 8)
    // a legacy single-file `_mvdeps` still reads, merged with the dir
    val legacy = new org.apache.hadoop.fs.Path(srcDir, "_mvdeps")
    val out = legacy.getFileSystem(conf).create(legacy, true)
    out.write(GraftStoreFormat.escStat("/mv/legacy").getBytes("UTF-8")); out.close()
    assert(GraftStoreFormat.readMvDeps(srcDir, conf).contains("/mv/legacy"))
  }

  test("JOIN view refusals: nested outer joins, duplicate names, self-join") {
    catBase
    Seq((1L, 1L)).toDF("fk", "v")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/jr1")
    Seq((1L, "x")).toDF("pk", "grp")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/jr2")
    Seq((1L, 2L, "x")).toDF("pk", "v", "grp") // 'v' collides with jr1
      .write.format("graft-store").mode("overwrite").save(s"$catBase/jr3")
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception](GraftMview.create(spark, s"$catBase/jmvx", sql))
      assert(e.getMessage.contains(frag), s"message '${e.getMessage}' lacks '$frag'")
    }
    // LEFT OUTER (2 plain tables) and 2-table FULL OUTER are FEATURES,
    // and RIGHT OUTER flip-normalizes — the remaining join-type refusals
    // are NESTED full-outer shapes and outer shapes with nested joins
    refuse(s"SELECT a.grp, count(*) AS n FROM $cat.jr1 FULL OUTER JOIN " +
      s"(SELECT b.pk, b.grp FROM $cat.jr2 b JOIN $cat.jr3 c ON b.pk = c.pk) a " +
      "ON fk = a.pk GROUP BY a.grp", "two plain graft tables")
    Seq((1L, 5L)).toDF("pk2", "w")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/jr4")
    // left-deep LEFT chains are a FEATURE; the refusals are a nested
    // join on a RIGHT side, an INNER join inside the chain, and an ON
    // keying the new table to more than one earlier table
    refuse(s"SELECT grp, count(*) AS n FROM $cat.jr1 " +
      s"LEFT JOIN (SELECT pk, grp FROM $cat.jr2 JOIN $cat.jr4 ON pk = pk2) " +
      "ON fk = pk GROUP BY grp", "right side")
    // INNER steps inside a chain are a FEATURE (mixed chains), and a
    // RIGHT step flips into one; FULL steps inside a chain still refuse
    refuse(s"SELECT grp, count(*) AS n FROM $cat.jr1 " +
      s"FULL JOIN $cat.jr2 ON fk = pk " +
      s"LEFT JOIN $cat.jr4 ON pk = pk2 GROUP BY grp",
      "INNER or LEFT OUTER steps")
    refuse(s"SELECT grp, count(*) AS n FROM $cat.jr1 " +
      s"LEFT JOIN $cat.jr2 ON fk = pk " +
      s"LEFT JOIN $cat.jr4 ON pk = pk2 AND fk = pk2 GROUP BY grp",
      "exactly ONE earlier table")
    // min/max over a join view is a FEATURE since round 14 (the removal
    // rescan rebuilds the join for touched groups) — see
    // GraftMviewServeExtSpec; no refusal here anymore
    refuse(s"SELECT grp, count(*) AS n FROM $cat.jr1 JOIN $cat.jr3 " +
      "ON fk = pk GROUP BY grp", "more than one side")
    refuse(s"SELECT a.fk AS k, count(*) AS n FROM $cat.jr1 a JOIN $cat.jr1 b " +
      "ON a.fk = b.fk GROUP BY a.fk", "self-join")
  }

  test("exact count(DISTINCT) maintains via dup-count companion through churn") {
    catBase
    val srcDir = s"$catBase/ddsrc"
    val mvDir = s"$catBase/ddmv"
    Seq((1L, "a", 1L), (2L, "a", 1L), (3L, "a", 2L), (4L, "b", 1L),
        (5L, "b", -1L), (6L, "c", 3L))
      .toDF("id", "g", "u").withColumn("u",
        when(col("u") >= 0, col("u"))) // -1 → NULL (never counts)
      .write.format("graft-store").mode("overwrite").save(srcDir)
    val (n0, _) = GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, count(DISTINCT u) AS d FROM $cat.ddsrc GROUP BY g")
    assert(n0 === 3)
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("g", "n", "d").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def recompute() = spark.read.format("graft-store").load(srcDir)
      .groupBy("g").agg(count(lit(1)).as("n"), countDistinct(col("u")).as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows() === Map("a" -> ((3L, 2L)), "b" -> ((2L, 1L)), "c" -> ((1L, 1L))))
    // INSERTS: a dup (no d change), a new value, a new group
    Seq((7L, "a", 2L), (8L, "a", 9L), (9L, "d", 5L)).toDF("id", "g", "u")
      .write.format("graft-store").mode("append").save(srcDir)
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(rows() === recompute() && rows()("a") === ((5L, 3L)))
    // DELETES: one of a's two u=1 rows (a keeps the value — dup-count);
    // b's only u=1 row (the value VANISHES from b while SURVIVING in a);
    // all of c (the whole group leaves)
    spark.sql(s"DELETE FROM $cat.ddsrc WHERE id IN (2, 4, 6)")
    val (m2, _, vanished, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental" && vanished === 1L)
    assert(rows() === recompute())
    assert(rows()("a") === ((4L, 3L)), "dup removal must not drop the value")
    assert(rows()("b") === ((1L, 0L)), "last-copy removal must drop b's value")
    assert(!rows().contains("c"))
    // MIXED round: update moves a value between groups; noop at head
    spark.sql(s"UPDATE $cat.ddsrc SET g = 'd' WHERE id = 8")
    Seq((10L, "b", 5L)).toDF("id", "g", "u")
      .write.format("graft-store").mode("append").save(srcDir)
    val (m3, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m3 === "incremental")
    assert(rows() === recompute())
    assert(rows()("d") === ((2L, 2L)) && rows()("b") === ((2L, 1L)))
    assert(GraftMview.refresh(spark, mvDir)._1 === "noop")
    // REWRITE: the stored exact distinct serves the same call at the
    // exact group set; stale never serves
    def q() = spark.sql(
      s"SELECT g, count(*) AS n, count(DISTINCT u) AS d FROM $cat.ddsrc GROUP BY g")
    assert(q().queryExecution.optimizedPlan.toString.contains(mvDir))
    assert(q().collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      === recompute().map { case (k, (_, dd)) => k -> dd })
    Seq((11L, "b", 6L)).toDF("id", "g", "u")
      .write.format("graft-store").mode("append").save(srcDir)
    assert(!q().queryExecution.optimizedPlan.toString.contains(mvDir))
    // watermark EXPIRY falls back to a full rebuild — companion included
    GraftStoreOps.expireSnapshots(spark, srcDir, keepLast = 1)
    val (m4, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m4 === "full")
    assert(rows() === recompute())
    Seq((12L, "b", 7L)).toDF("id", "g", "u")
      .write.format("graft-store").mode("append").save(srcDir)
    val (m5, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m5 === "incremental", "companion must resume incrementally after rebuild")
    assert(rows() === recompute())
  }

  test("exact count(DISTINCT) over a JOIN view maintains through both-side churn") {
    catBase
    val fact = s"$catBase/djf"
    val dim = s"$catBase/djd"
    val mvDir = s"$catBase/djmv"
    Seq((1L, 10L), (1L, 20L), (2L, 10L), (3L, 30L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(fact)
    Seq((1L, "east"), (2L, "west"), (3L, "east"))
      .toDF("pk", "region").write.format("graft-store").mode("overwrite").save(dim)
    GraftMview.create(spark, mvDir,
      s"SELECT region, count(*) AS n, count(DISTINCT v) AS dv FROM $cat.djf " +
        s"JOIN $cat.djd ON fk = pk GROUP BY region")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("region", "n", "dv").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def recompute() = {
      val f = spark.read.format("graft-store").load(fact)
      val dm = spark.read.format("graft-store").load(dim)
      f.join(dm, f("fk") === dm("pk")).groupBy("region")
        .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("dv"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rows() === Map("east" -> ((3L, 3L)), "west" -> ((1L, 1L))))
    // fact churn: a dup of 10 in east (via fk=3? no — fk=3 is east, v=10 dup)
    Seq((3L, 10L), (2L, 99L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(rows() === recompute() && rows()("east") === ((4L, 3L)))
    // dim churn: pk=3 moves east→west (v=30 and the dup'd 10 move with it)
    spark.sql(s"UPDATE $cat.djd SET region = 'west' WHERE pk = 3")
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(rows() === recompute())
    assert(rows()("east") === ((2L, 2L)) && rows()("west") === ((4L, 3L)))
  }

  test("CREATE/REFRESH/DROP MATERIALIZED VIEW DDL drives the full lifecycle") {
    catBase
    val srcDir = s"$catBase/ddlsrc"
    val mvDir = s"$catBase/ddlmv"
    Seq(("a", 1L), ("a", 2L), ("b", 10L))
      .toDF("g", "v").write.format("graft-store").mode("overwrite").save(srcDir)
    // CREATE: standard DDL text, no CALL-procedure string nesting
    val created = spark.sql(s"CREATE MATERIALIZED VIEW $cat.ddlmv AS " +
      s"SELECT g, count(*) AS n, sum(v) AS s FROM $cat.ddlsrc GROUP BY g")
      .collect()(0)
    assert(created.getLong(0) === 2) // rows_materialized
    assert(spark.sql(s"SELECT * FROM $cat.ddlmv").count() === 2)
    // IF NOT EXISTS is a no-op; a bare re-CREATE refuses
    assert(spark.sql(s"CREATE MATERIALIZED VIEW IF NOT EXISTS $cat.ddlmv AS " +
      s"SELECT g, count(*) AS n FROM $cat.ddlsrc GROUP BY g").collect().isEmpty)
    val dup = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW $cat.ddlmv AS " +
        s"SELECT g, count(*) AS n FROM $cat.ddlsrc GROUP BY g"))
    assert(dup.getMessage.contains("already exists"))
    // REFRESH: incremental through churn; FULL forces a rebuild
    Seq(("a", 100L), ("c", 5L)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    val r1 = spark.sql(s"REFRESH MATERIALIZED VIEW $cat.ddlmv").collect()(0)
    assert(r1.getString(0) === "incremental")
    assert(spark.read.format("graft-store").load(mvDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      === Map("a" -> ((3L, 103L)), "b" -> ((1L, 10L)), "c" -> ((1L, 5L))))
    val r2 = spark.sql(s"REFRESH MATERIALIZED VIEW $cat.ddlmv FULL").collect()(0)
    assert(r2.getString(0) === "full")
    // the DDL-created view serves the transparent rewrite like any other
    val q = spark.sql(
      s"SELECT g, count(*) AS n, sum(v) AS s FROM $cat.ddlsrc GROUP BY g")
    assert(q.queryExecution.optimizedPlan.toString.contains(mvDir))
    // DROP: the view dies AND its dep pointer leaves the source (no
    // stale-probe tax on future queries); IF EXISTS tolerates the gap,
    // a bare DROP not
    spark.sql(s"DROP MATERIALIZED VIEW $cat.ddlmv")
    assert(intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.ddlmv").collect()) != null)
    assert(!GraftStoreFormat.readMvDeps(srcDir,
      spark.sparkContext.hadoopConfiguration).contains(mvDir),
      "DROP must deregister the dep pointer from the source")
    assert(spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $cat.ddlmv")
      .collect().isEmpty)
    val gone = intercept[Exception](
      spark.sql(s"DROP MATERIALIZED VIEW $cat.ddlmv"))
    assert(gone.getMessage.contains("no materialized view"))
    // a non-graft name falls through to the stock parser, which parses
    // the MATERIALIZED grammar but refuses to execute it — Spark's own
    // error, never our command
    intercept[Exception](
      spark.sql("CREATE MATERIALIZED VIEW spark_catalog.default.x AS SELECT 1"))
    // and DROP TABLE-style misuse on a plain table refuses with guidance
    val plain = intercept[Exception](
      spark.sql(s"DROP MATERIALIZED VIEW $cat.ddlsrc"))
    assert(plain.getMessage.contains("plain table"))
  }

  test("count(DISTINCT) over a LEFT OUTER view: companion tracks null transitions") {
    catBase
    val fact = s"$catBase/dlf"
    val dim = s"$catBase/dld"
    val mvDir = s"$catBase/dlmv"
    Seq((1L, 10L), (1L, 10L), (2L, 20L), (9L, 10L)) // fk=9 null-extends
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(fact)
    Seq((1L, "east"), (2L, "west"))
      .toDF("pk", "region").write.format("graft-store").mode("overwrite").save(dim)
    GraftMview.create(spark, mvDir,
      s"SELECT region, count(*) AS n, count(DISTINCT v) AS dv FROM $cat.dlf " +
        s"LEFT JOIN $cat.dld ON fk = pk GROUP BY region")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("region", "n", "dv").collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    def recompute() = {
      val f = spark.read.format("graft-store").load(fact)
      val dm = spark.read.format("graft-store").load(dim)
      f.join(dm, f("fk") === dm("pk"), "left_outer").groupBy("region")
        .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("dv"))
        .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rows() === Map(Option("east") -> ((2L, 1L)), Option("west") -> ((1L, 1L)),
      None -> ((1L, 1L))))
    // dim insert: fk=9's v=10 MOVES from the NULL group's value set to
    // north's — the companion retracts the (NULL, 10) pair and adds
    // (north, 10); east keeps its own 10 (same value, different group)
    Seq((9L, "north")).toDF("pk", "region")
      .write.format("graft-store").mode("append").save(dim)
    assert(GraftMview.refresh(spark, mvDir)._1 === "incremental")
    assert(rows() === recompute() && !rows().contains(None))
    // dim delete: east's rows fall back to NULL — value 10 re-enters the
    // NULL group's set (already counted there? no: north holds 10, NULL
    // group is fresh) and east vanishes
    spark.sql(s"DELETE FROM $cat.dld WHERE pk = 1")
    assert(GraftMview.refresh(spark, mvDir)._1 === "incremental")
    assert(rows() === recompute())
    assert(rows()(None) === ((2L, 1L)) && !rows().contains(Option("east")))
    // fact churn: dup of 20 in west (dv unchanged) + a fresh value
    Seq((2L, 20L), (2L, 30L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(fact)
    assert(GraftMview.refresh(spark, mvDir)._1 === "incremental")
    assert(rows() === recompute())
    assert(rows()(Option("west")) === ((3L, 2L)))
  }

  test("variance family maintains as (n, sum, sumsq); matches recompute through churn") {
    catBase
    val srcDir = s"$catBase/vsrc"
    val mvDir = s"$catBase/vmv"
    Seq(("a", 2.0), ("a", 4.0), ("a", 9.0), ("b", 5.0), ("b", 5.0), ("c", 7.0))
      .toDF("g", "v").write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      "SELECT g, count(*) AS n, var_samp(v) AS vs, var_pop(v) AS vp, " +
        s"stddev_samp(v) AS ds, stddev_pop(v) AS dp FROM $cat.vsrc GROUP BY g")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("g", "n", "vs", "vp", "ds", "dp").collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        (2 to 5).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))).toMap
    def recompute() = {
      val f = spark.read.format("graft-store").load(srcDir)
      f.groupBy("g").agg(count(lit(1)).as("n"), var_samp("v").as("vs"),
          var_pop("v").as("vp"), stddev_samp("v").as("ds"), stddev_pop("v").as("dp"))
        .collect().map(r => r.getString(0) -> (r.getLong(1),
          (2 to 5).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))).toMap
    }
    def close(a: Map[String, (Long, Seq[Option[Double]])],
        b: Map[String, (Long, Seq[Option[Double]])]): Unit = {
      assert(a.keySet === b.keySet)
      a.foreach { case (k, (n, vs)) =>
        assert(n === b(k)._1)
        vs.zip(b(k)._2).foreach {
          case (Some(x), Some(y)) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
              s"$k: $x vs $y")
          case (x, y) => assert(x === y, s"$k: $x vs $y")
        }
      }
    }
    close(rows(), recompute())
    // single-value group: samp forms NULL, pop forms 0
    assert(rows()("c")._2 === Seq(None, Some(0.0), None, Some(0.0)))
    // churn: insert into a, delete b's duplicate (b becomes single-value),
    // new group d — all maintained from signed (n, sum, sumsq) deltas
    Seq(("a", 1.0), ("d", 3.0), ("d", 8.0)).toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    spark.sql(s"DELETE FROM $cat.vsrc WHERE g = 'b' AND v = 5.0")
    val (m, _, vanished, _) = GraftMview.refresh(spark, mvDir)
    assert(m === "incremental" && vanished === 1L, "b vanished (both rows matched)")
    close(rows(), recompute())
    // the transparent rewrite serves stddev from the stored column
    val q = spark.read.format("graft-store").load(srcDir)
      .groupBy("g").agg(count(lit(1)).as("n"), stddev_samp("v").as("ds"))
    assert(q.queryExecution.optimizedPlan.toString.contains(mvDir),
      "fresh variance MV must serve the base-table stddev aggregate")
    close(q.collect().map(r => r.getString(0) ->
        (r.getLong(1), Seq(if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap,
      recompute().map { case (k, (n, vs)) => k -> (n, Seq(vs(2))) })
  }

  test("avg maintains as internal sum+count; NULL when no non-null input") {
    catBase
    val srcDir = s"$catBase/src10"
    val mvDir = s"$catBase/mv10"
    Seq(("a", Some(2.0)), ("a", Some(4.0)), ("b", Some(10.0)), ("z", None))
      .map { case (g, v) => (g, v.map(Double.box).orNull) }.toDF("g", "v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      s"SELECT g, count(*) AS n, avg(v) AS a FROM $cat.src10 GROUP BY g")
    def rows() = spark.read.format("graft-store").load(mvDir)
      .select("g", "n", "a").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rows() === Map("a" -> ((2L, Some(3.0))), "b" -> ((1L, Some(10.0))),
      "z" -> ((1L, None))))
    // the stored table carries the decomposition: __s_a / __n_a
    val sch = spark.read.format("graft-store").load(mvDir).schema.fieldNames
    assert(sch.contains("__s_a") && sch.contains("__n_a"))
    // churn: inserts shift a's mean; delete b's only row (group vanishes);
    // z gains a value (NULL avg -> defined)
    Seq(("a", Some(9.0)), ("z", Some(7.0))).map { case (g, v) =>
      (g, v.map(Double.box).orNull) }.toDF("g", "v")
      .write.format("graft-store").mode("append").save(srcDir)
    spark.sql(s"DELETE FROM $cat.src10 WHERE g = 'b'")
    val (m, _, vanished, _) = GraftMview.refresh(spark, mvDir)
    assert(m === "incremental")
    assert(vanished === 1L)
    assert(rows() === Map("a" -> ((3L, Some(5.0))), "z" -> ((2L, Some(7.0)))))
  }

  test("left-shape join-back: inner-grain fact MV serves LEFT JOIN dim queries") {
    catBase
    val factDir = s"$catBase/ljfact"
    val dimDir = s"$catBase/ljdim"
    val d1Dir = s"$catBase/ljd1"
    val d2Dir = s"$catBase/ljd2"
    val mvDir = s"$catBase/ljmv"
    // fk=3 has no dim match; the NULL fk never matches — both null-extend
    Seq((Option(1L), 2L), (Option(1L), 4L), (Option(2L), 10L), (Option(3L), 7L),
      (Option.empty[Long], 100L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, "a", 500L), (2L, "b", 600L))
      .toDF("pk", "seg", "w").write.format("graft-store").mode("overwrite").save(dimDir)
    Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("pk1", "nk").write.format("graft-store").mode("overwrite").save(d1Dir)
    Seq((10L, "north"), (20L, "south"))
      .toDF("nk2", "region").write.format("graft-store").mode("overwrite").save(d2Dir)
    GraftMview.create(spark, mvDir,
      s"SELECT fk, count(*) AS n, sum(v) AS s FROM $cat.ljfact GROUP BY fk")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def fact() = spark.read.format("graft-store").load(factDir)
    def dim() = spark.read.format("graft-store").load(dimDir)
    def d1() = spark.read.format("graft-store").load(d1Dir)
    def d2() = spark.read.format("graft-store").load(d2Dir)
    def segKey(r: org.apache.spark.sql.Row): String =
      if (r.isNullAt(0)) "(null)" else r.getString(0)
    // fact ⟕ dim: unmatched and NULL-key fact rows land in the NULL group
    val f1 = fact(); val dd1 = dim()
    val q1 = f1.join(dd1, f1("fk") === dd1("pk"), "left_outer")
      .groupBy("seg").agg(count(lit(1)).as("n"), sum(f1("v")).as("s"))
    assert(servedFromMv(q1), "an inner-grain fact MV must serve the left join")
    assert(q1.collect().map(r => segKey(r) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("a" -> ((2L, 6L)), "b" -> ((1L, 10L)),
        "(null)" -> ((2L, 107L))))
    // a WHERE on the LEFT dim stays ABOVE the join: seg='a' keeps only
    // matched-a rows (pushing it into the dim leaf would null-extend
    // fk=2 into the survivors — wrong by two groups)
    val f2 = fact(); val dd2 = dim()
    val q2 = f2.join(dd2, f2("fk") === dd2("pk"), "left_outer")
      .filter(dd2("seg") === "a")
      .groupBy("seg").agg(sum(f2("v")).as("s"))
    assert(servedFromMv(q2), "a held left-dim conjunct must not refuse")
    assert(q2.collect().map(r => segKey(r) -> r.getLong(1)).toMap ===
      Map("a" -> 6L))
    // a user-written IS NOT NULL on the dim key is a REAL predicate under
    // a left join (it converts the join to inner): kept, held above
    val f3 = fact(); val dd3 = dim()
    val q3 = f3.join(dd3, f3("fk") === dd3("pk"), "left_outer")
      .filter(dd3("pk").isNotNull)
      .groupBy("seg").agg(sum(f3("v")).as("s"))
    assert(servedFromMv(q3))
    assert(q3.collect().map(r => segKey(r) -> r.getLong(1)).toMap ===
      Map("a" -> 6L, "b" -> 10L))
    // mixed chain fact ⋈ d1 ⟕ d2: the inner step gates, the left step
    // null-extends (nk=30 has no region)
    val f4 = fact(); val a4 = d1(); val b4 = d2()
    val q4 = f4.join(a4, f4("fk") === a4("pk1"), "inner")
      .join(b4, a4("nk") === b4("nk2"), "left_outer")
      .groupBy("region").agg(sum(f4("v")).as("s"))
    assert(servedFromMv(q4), "the mixed chain must serve from the fact MV")
    assert(q4.collect().map(r => segKey(r) -> r.getLong(1)).toMap ===
      Map("north" -> 6L, "south" -> 10L, "(null)" -> 7L))
    // REFUSAL: the covered side on the null-PRODUCING side (dim ⟕ fact)
    // would need null-extended fact rows the MV lacks
    val f5 = fact(); val dd5 = dim()
    val q5 = dd5.join(f5, dd5("pk") === f5("fk"), "left_outer")
      .groupBy("seg").agg(sum(f5("v")).as("s"))
    assert(!servedFromMv(q5), "a preserved-side dim must refuse")
    assert(q5.collect().map(r => segKey(r) -> r.getLong(1)).toMap ===
      Map("a" -> 6L, "b" -> 10L))
  }

  test("a LEFT OUTER view never join-backs (superset query with matching left sets)") {
    catBase
    val factDir = s"$catBase/lvfact"
    val xDir = s"$catBase/lvx"
    val dimDir = s"$catBase/lvdim"
    val mvDir = s"$catBase/lvmv"
    Seq((Option(1L), 2L), (Option(1L), 4L), (Option(2L), 10L), (Option(3L), 7L),
      (Option.empty[Long], 100L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, 111L)).toDF("xk", "xv")
      .write.format("graft-store").mode("overwrite").save(xDir)
    Seq((1L, "a"), (2L, "b"))
      .toDF("pk", "seg").write.format("graft-store").mode("overwrite").save(dimDir)
    // the VIEW is fact ⟕ dim (left, null-extended groups stored)
    GraftMview.create(spark, mvDir,
      s"SELECT fk, count(*) AS n, sum(v) AS s FROM $cat.lvfact " +
        s"LEFT JOIN $cat.lvdim ON fk = pk GROUP BY fk")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    // the QUERY is fact ⟕ x ⋈ dim: its positional left-index SET ({1})
    // equals the view's, but the left step is a DIFFERENT pair and the
    // covered (fact, dim) pair is INNER in the query — serving from the
    // left view's null-extended groups under inner rebuild would be
    // wrong. Must refuse.
    val f = spark.read.format("graft-store").load(factDir)
    val x = spark.read.format("graft-store").load(xDir)
    val d = spark.read.format("graft-store").load(dimDir)
    val q = f.join(x, f("fk") === x("xk"), "left_outer")
      .join(d, f("fk") === d("pk"), "inner")
      .groupBy("seg").agg(sum(f("v")).as("s"))
    assert(!servedFromMv(q), "a left view must never serve through join-back")
    assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 6L, "b" -> 10L))
    // the view still serves its OWN exact left shape
    val f2 = spark.read.format("graft-store").load(factDir)
    val d2 = spark.read.format("graft-store").load(dimDir)
    val q2 = f2.join(d2, f2("fk") === d2("pk"), "left_outer")
      .groupBy("fk").agg(count(lit(1)).as("n"), sum(f2("v")).as("s"))
    assert(servedFromMv(q2), "the exact left shape must still serve")
  }

  test("RIGHT OUTER view flips into the left chain; maintains both churn directions") {
    catBase
    val factDir = s"$catBase/rofact"
    val dimDir = s"$catBase/rodim"
    val mvDir = s"$catBase/romv"
    Seq((Option(1L), 2L), (Option(1L), 4L), (Option(2L), 10L), (Option(3L), 7L),
      (Option.empty[Long], 100L))
      .toDF("fk", "v").write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, "a"), (2L, "b"))
      .toDF("pk", "seg").write.format("graft-store").mode("overwrite").save(dimDir)
    // written RIGHT JOIN (fact preserved) — recognized as fact ⟕ dim
    GraftMview.create(spark, mvDir,
      s"SELECT seg, count(*) AS n, sum(v) AS s FROM $cat.rodim " +
        s"RIGHT JOIN $cat.rofact ON pk = fk GROUP BY seg")
    def expect(): Map[String, (Long, Long)] = {
      val f = spark.read.format("graft-store").load(factDir)
      val dd = spark.read.format("graft-store").load(dimDir)
      f.join(dd, f("fk") === dd("pk"), "left_outer")
        .groupBy("seg").agg(count(lit(1)).as("n"), sum(f("v")).as("s"))
        .collect().map(r => (if (r.isNullAt(0)) "(null)" else r.getString(0)) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    }
    def got(): Map[String, (Long, Long)] =
      spark.read.format("graft-store").load(mvDir).select("seg", "n", "s")
        .collect().map(r => (if (r.isNullAt(0)) "(null)" else r.getString(0)) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    assert(got() === expect())
    // fact-direction churn (preserved side)
    Seq((Option(2L), 20L), (Option(9L), 1L)).toDF("fk", "v")
      .write.format("graft-store").mode("append").save(factDir)
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(got() === expect())
    // dim-direction churn: insert matches waiting rows (fk=3 null →
    // matched), delete null-extends matched rows (fk=2 matched → null)
    Seq((3L, "c")).toDF("pk", "seg")
      .write.format("graft-store").mode("append").save(dimDir)
    spark.sql(s"DELETE FROM $cat.rodim WHERE pk = 2")
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(got() === expect())
    // a RIGHT JOIN query flips inside the rewrite rule and serves
    val f3 = spark.read.format("graft-store").load(factDir)
    val d3 = spark.read.format("graft-store").load(dimDir)
    val q3 = d3.join(f3, d3("pk") === f3("fk"), "right_outer")
      .groupBy("seg").agg(count(lit(1)).as("n"), sum(f3("v")).as("s"))
    assert(q3.queryExecution.optimizedPlan.toString.contains(mvDir),
      "a right-join query must serve from the flip-normalized view")
  }

  test("count(DISTINCT) rolls up through the dup-count companion") {
    catBase
    val srcDir = s"$catBase/dcrsrc"
    val mvDir = s"$catBase/dcrmv"
    // z's only value is NULL: its coarse row must still publish 0
    Seq(("a", "x", Option(1L)), ("a", "x", Option(2L)), ("a", "y", Option(2L)),
      ("b", "x", Option(5L)), ("z", "x", Option.empty[Long]))
      .map { case (g, h, u) => (g, h, u.map(Long.box).orNull) }
      .toDF("g", "h", "u")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      "SELECT g, h, count(*) AS n, count(DISTINCT u) AS dc " +
        s"FROM $cat.dcrsrc GROUP BY g, h")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def src() = spark.read.format("graft-store").load(srcDir)
    // coarser grouping: re-summing stored dc would double-count a's 2
    // (it lives in both (a,x) and (a,y)); the companion re-distinct is 2
    val q1 = src().groupBy("g").agg(countDistinct(col("u")).as("dc"))
    assert(servedFromMv(q1), "the coarse distinct must serve from the companion")
    assert(q1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 2L, "b" -> 1L, "z" -> 0L))
    // the GLOBAL distinct serves too
    val q2 = src().agg(countDistinct(col("u")).as("dc"))
    assert(servedFromMv(q2), "the global distinct must serve from the companion")
    assert(q2.collect()(0).getLong(0) === 3L)
    // a residual WHERE on a group column scopes the companion join
    val q3 = src().filter(col("h") === "x")
      .groupBy("g").agg(countDistinct(col("u")).as("dc"))
    assert(servedFromMv(q3))
    assert(q3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 2L, "b" -> 1L, "z" -> 0L))
    // MIXED aggregates refuse (count(*) would inflate per companion pair)
    val qm = src().groupBy("g")
      .agg(count(lit(1)).as("n"), countDistinct(col("u")).as("dc"))
    assert(!servedFromMv(qm), "mixed aggregates must not serve from the companion")
    assert(qm.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("a" -> ((3L, 2L)), "b" -> ((1L, 1L)), "z" -> ((1L, 0L))))
    // churn: value moves between groups, a group vanishes; the refreshed
    // companion keeps serving the rollup exactly
    Seq(("z", "x", 9L), ("c", "y", 1L)).toDF("g", "h", "u")
      .write.format("graft-store").mode("append").save(srcDir)
    spark.sql(s"DELETE FROM $cat.dcrsrc WHERE g = 'b'")
    val (m, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m === "incremental")
    val q4 = src().groupBy("g").agg(countDistinct(col("u")).as("dc"))
    assert(servedFromMv(q4), "the refreshed companion must keep serving")
    assert(q4.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 2L, "c" -> 1L, "z" -> 1L))
  }

  test("count(DISTINCT) rolls up through a JOIN view's companion") {
    catBase
    val factDir = s"$catBase/dcjfact"
    val dimDir = s"$catBase/dcjdim"
    val mvDir = s"$catBase/dcjmv"
    // u=2 lives under both segs of dim — re-summing stored dc would
    // double-count it at the coarser (seg-less) grain
    Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 5L), (3L, 7L))
      .toDF("fk", "u").write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, "a"), (2L, "b"), (3L, "a"))
      .toDF("pk", "seg").write.format("graft-store").mode("overwrite").save(dimDir)
    GraftMview.create(spark, mvDir,
      "SELECT seg, fk, count(*) AS n, count(DISTINCT u) AS dc " +
        s"FROM $cat.dcjfact JOIN $cat.dcjdim ON fk = pk GROUP BY seg, fk")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def q(groupSeg: Boolean) = {
      val f = spark.read.format("graft-store").load(factDir)
      val dd = spark.read.format("graft-store").load(dimDir)
      val j = f.join(dd, f("fk") === dd("pk"), "inner")
      if (groupSeg) j.groupBy("seg").agg(countDistinct(col("u")).as("dc"))
      else j.agg(countDistinct(col("u")).as("dc"))
    }
    // coarser grouping over the SAME join shape serves from the companion
    val q1 = q(groupSeg = true)
    assert(servedFromMv(q1), "the join-view companion must serve the rollup")
    assert(q1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 3L, "b" -> 2L)) // a: {1,2,7}; b: {2,5}
    val q2 = q(groupSeg = false)
    assert(servedFromMv(q2))
    assert(q2.collect()(0).getLong(0) === 4L) // {1,2,5,7}
    // churn on EITHER side stales until refresh re-stamps the companion
    Seq((3L, 5L)).toDF("fk", "u")
      .write.format("graft-store").mode("append").save(factDir)
    assert(!servedFromMv(q(groupSeg = true)), "fact churn must stale")
    GraftMview.refresh(spark, mvDir)
    val q3 = q(groupSeg = true)
    assert(servedFromMv(q3), "the refreshed companion must serve again")
    assert(q3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 4L, "b" -> 2L)) // a: {1,2,7,5}
  }

  test("mixed rollup: MV slice ∪ complement base scan serves a wider WHERE") {
    catBase
    val srcDir = s"$catBase/mxsrc"
    val mvDir = s"$catBase/mxmv"
    // covered range (day < 10) in FOUR files; the complement in one more
    Seq(("a", Option(1L), 2L), ("a", Option(2L), 4L), ("b", Option(3L), 10L),
      ("b", Option(5L), 20L))
      .map { case (g, d, v) => (g, d.map(Long.box).orNull, v) }
      .toDF("g", "day", "v").repartition(4)
      .write.format("graft-store").mode("overwrite").save(srcDir)
    GraftMview.create(spark, mvDir,
      "SELECT g, day, count(*) AS n, sum(v) AS s, avg(v) AS av " +
        s"FROM $cat.mxsrc WHERE day < 10 GROUP BY g, day")
    // complement rows: day in [10, 20), one beyond the query range, one
    // NULL day (in neither the view nor a day < 20 query — 3-valued)
    Seq(("a", Option(15L), 7L), ("c", Option(12L), 5L), ("b", Option(25L), 99L),
      ("d", Option.empty[Long], 8L))
      .map { case (g, d, v) => (g, d.map(Long.box).orNull, v) }
      .toDF("g", "day", "v").coalesce(1)
      .write.format("graft-store").mode("append").save(srcDir)
    GraftMview.refresh(spark, mvDir) // absorb the append (day<10: no-op rows)
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def src() = spark.read.format("graft-store").load(srcDir)
    // the wider WHERE: view covers day<10, query wants day<20
    val before = GraftStoreFormat.scannedFileSlices.sum()
    val q1 = src().filter(col("day") < 20)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("s"),
        avg("v").as("av"))
    assert(servedFromMv(q1), "the mixed plan must serve the wider WHERE")
    val got = q1.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val opened = GraftStoreFormat.scannedFileSlices.sum() - before
    assert(got === Map("a" -> ((3L, 13L, 13.0 / 3)), "b" -> ((2L, 30L, 15.0)),
      "c" -> ((1L, 5L, 5.0))))
    // the PUSHABLE complement (day >= 10 OR day IS NULL) must skip the
    // four covered-range base files: MV slice + 1 complement file
    assert(opened < 4,
      s"mixed plan opened $opened slices — the complement scan is not " +
        "skipping the covered files")
    // distinct over a view group key: the base side groups by that key,
    // so the union dedupes real values
    val q2 = src().filter(col("day") < 20)
      .groupBy("g").agg(countDistinct(col("day")).as("dd"))
    assert(servedFromMv(q2))
    assert(q2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    // the GLOBAL rollup over the mixed union
    val q3 = src().filter(col("day") < 20).agg(count(lit(1)).as("n"))
    assert(servedFromMv(q3))
    assert(q3.collect()(0).getLong(0) === 6L)
    // a residual on a group column rides the view side AND the base side
    val q4 = src().filter(col("day") < 20 && col("g") =!= "b")
      .groupBy("g").agg(sum("v").as("s"))
    assert(servedFromMv(q4))
    assert(q4.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 13L, "c" -> 5L))
    // a non-group, non-implied conjunct refuses (cannot slice the view)
    val q5 = src().filter(col("day") < 20 && col("v") > 3)
      .groupBy("g").agg(sum("v").as("s"))
    assert(!servedFromMv(q5), "a collapsed-column conjunct must refuse")
    assert(q5.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> ((4L + 7L)), "b" -> 30L, "c" -> 5L))
  }

  test("mixed rollup over a JOIN view: wider WHERE unions the complement join") {
    catBase
    val factDir = s"$catBase/mjfact"
    val dimDir = s"$catBase/mjdim"
    val mvDir = s"$catBase/mjmv"
    Seq((1L, 3L, 2L), (1L, 8L, 4L), (2L, 12L, 10L), (3L, 3L, 7L), (3L, 25L, 1L))
      .toDF("fk", "day", "v")
      .write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, "a"), (2L, "b"), (3L, "a"))
      .toDF("pk", "seg").write.format("graft-store").mode("overwrite").save(dimDir)
    // join view covering day < 10 only
    GraftMview.create(spark, mvDir,
      s"SELECT seg, day, count(*) AS n, sum(v) AS s FROM $cat.mjfact " +
        s"JOIN $cat.mjdim ON fk = pk WHERE day < 10 GROUP BY seg, day")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def q() = {
      val f = spark.read.format("graft-store").load(factDir)
      val dd = spark.read.format("graft-store").load(dimDir)
      f.join(dd, f("fk") === dd("pk"), "inner").filter(col("day") < 20)
        .groupBy("seg").agg(count(lit(1)).as("n"), sum(f("v")).as("s"))
    }
    // the wider WHERE over the SAME join shape: view slice ∪ complement
    // join of only day ∈ [10, 20)
    val q1 = q()
    assert(servedFromMv(q1), "the join-shape mixed plan must serve")
    assert(q1.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("a" -> ((3L, 13L)), "b" -> ((1L, 10L))))
    // fact churn stales; refresh restores the mixed serve
    Seq((2L, 15L, 100L)).toDF("fk", "day", "v")
      .write.format("graft-store").mode("append").save(factDir)
    assert(!servedFromMv(q()), "a stale view must not serve the mixed plan")
    GraftMview.refresh(spark, mvDir)
    val q2 = q()
    assert(servedFromMv(q2))
    assert(q2.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("a" -> ((3L, 13L)), "b" -> ((2L, 110L))))
  }

  test("mixed rollup with a calendar expression key: complement recomputes the bucket") {
    catBase
    val srcDir = s"$catBase/cmxsrc"
    val mvDir = s"$catBase/cmxmv"
    Seq(("2024-01-03", 10L), ("2024-01-17", 150L), ("2024-02-05", 20L),
      ("2024-02-20", 250L), ("2024-03-09", 30L))
      .toDF("d", "v").select(to_timestamp($"d").as("ts"), $"v")
      .write.format("graft-store").mode("overwrite").save(srcDir)
    // calendar-keyed view covering v < 100 only
    GraftMview.create(spark, mvDir,
      "SELECT date_trunc('month', ts) AS mon, count(*) AS n, sum(v) AS s " +
        s"FROM $cat.cmxsrc WHERE v < 100 GROUP BY date_trunc('month', ts)")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    // wider WHERE: the complement side must group by the re-parsed
    // EXPRESSION key (date_trunc over the base ts) — keyForOut's isExpr
    // path — and union with the stored buckets
    val q1 = spark.read.format("graft-store").load(srcDir)
      .filter($"v" < 200)
      .groupBy(date_trunc("month", $"ts").as("mon"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .select(date_format($"mon", "yyyy-MM").as("m"), $"n", $"s")
    assert(servedFromMv(q1), "the calendar mixed plan must serve")
    assert(q1.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap === Map("2024-01" -> ((2L, 160L)), "2024-02" -> ((1L, 20L)),
        "2024-03" -> ((1L, 30L))))
  }

  test("mixed rollup over a LEFT OUTER view: complement rebuilds the chain") {
    catBase
    val factDir = s"$catBase/mlfact"
    val dimDir = s"$catBase/mldim"
    val mvDir = s"$catBase/mlmv"
    // fk=3 never matches; fk=2's day-25 row sits beyond every WHERE
    Seq((1L, 3L, 2L), (1L, 15L, 4L), (2L, 12L, 10L), (3L, 3L, 7L),
      (2L, 25L, 99L))
      .toDF("fk", "day", "v")
      .write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, "a"), (2L, "b"))
      .toDF("pk", "seg").write.format("graft-store").mode("overwrite").save(dimDir)
    // LEFT OUTER view covering day < 10 only
    GraftMview.create(spark, mvDir,
      s"SELECT seg, day, count(*) AS n, sum(v) AS s FROM $cat.mlfact " +
        s"LEFT JOIN $cat.mldim ON fk = pk WHERE day < 10 GROUP BY seg, day")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    val f = spark.read.format("graft-store").load(factDir)
    val dd = spark.read.format("graft-store").load(dimDir)
    // the wider WHERE over the SAME left shape: the complement side
    // rebuilds fact ⟕ dim in chain order (null-extension preserved)
    val q1 = f.join(dd, f("fk") === dd("pk"), "left_outer")
      .filter(col("day") < 20)
      .groupBy("seg").agg(count(lit(1)).as("n"), sum(f("v")).as("s"))
    assert(servedFromMv(q1), "the left-shape mixed plan must serve")
    assert(q1.collect().map(r =>
      (if (r.isNullAt(0)) "(null)" else r.getString(0)) ->
        ((r.getLong(1), r.getLong(2)))).toMap ===
      Map("a" -> ((2L, 6L)), "b" -> ((1L, 10L)), "(null)" -> ((1L, 7L))))
  }

  test("mixed join-back: wider covered-side WHERE unions complement partials below the dim join") {
    catBase
    val factDir = s"$catBase/mbfact"
    val dimDir = s"$catBase/mbdim"
    val mvDir = s"$catBase/mbmv"
    Seq((1L, 1L, 2L), (1L, 15L, 4L), (2L, 3L, 10L), (3L, 12L, 7L),
      (2L, 25L, 99L), (4L, 5L, 6L))
      .toDF("fk", "day", "v")
      .write.format("graft-store").mode("overwrite").save(factDir)
    Seq((1L, "a"), (2L, "b"), (3L, "a"))
      .toDF("pk", "seg").write.format("graft-store").mode("overwrite").save(dimDir)
    // fact-grain MV covering day < 10 only (fk is the outbound group key)
    GraftMview.create(spark, mvDir,
      s"SELECT fk, day, count(*) AS n, sum(v) AS s FROM $cat.mbfact " +
        "WHERE day < 10 GROUP BY fk, day")
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    def fact() = spark.read.format("graft-store").load(factDir)
    def dim() = spark.read.format("graft-store").load(dimDir)
    // wider WHERE + dim join: [MV slice ∪ complement fact partials] ⋈ dim
    val f1 = fact(); val d1 = dim()
    val q1 = f1.join(d1, f1("fk") === d1("pk"), "inner")
      .filter(col("day") < 20)
      .groupBy("seg").agg(count(lit(1)).as("n"), sum(f1("v")).as("s"))
    assert(servedFromMv(q1), "the mixed join-back must serve the wider WHERE")
    assert(q1.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === Map("a" -> ((3L, 13L)), "b" -> ((1L, 10L))))
    // the LEFT-shape variant composes: unmatched fk=4 lands in NULL seg
    val f2 = fact(); val d2 = dim()
    val q2 = f2.join(d2, f2("fk") === d2("pk"), "left_outer")
      .filter(col("day") < 20)
      .groupBy("seg").agg(sum(f2("v")).as("s"))
    assert(servedFromMv(q2), "the left-shape mixed join-back must serve")
    assert(q2.collect().map(r =>
      (if (r.isNullAt(0)) "(null)" else r.getString(0)) -> r.getLong(1))
      .toMap === Map("a" -> 13L, "b" -> 10L, "(null)" -> 6L))
    // a pure-complement query gets nothing from the view: refused
    val f3 = fact(); val d3 = dim()
    assert(!servedFromMv(f3.join(d3, f3("fk") === d3("pk"), "inner")
      .filter(col("day") >= 10)
      .groupBy("seg").agg(sum(f3("v")).as("s"))),
      "a complement-only query must refuse")
  }

  test("FULL OUTER view: symmetric ± maintenance through all null transitions") {
    catBase
    val faDir = s"$catBase/fofa"
    val fbDir = s"$catBase/fofb"
    val mvDir = s"$catBase/fomv"
    def writeA(rows: Seq[(Option[Long], String, Long)], mode: String): Unit =
      rows.map { case (k, g, v) => (k.map(Long.box).orNull, g, v) }
        .toDF("ka", "g", "va")
        .write.format("graft-store").mode(mode).save(faDir)
    def writeB(rows: Seq[(Option[Long], String, Long)], mode: String): Unit =
      rows.map { case (k, h, w) => (k.map(Long.box).orNull, h, w) }
        .toDF("kb", "h", "wb")
        .write.format("graft-store").mode(mode).save(fbDir)
    writeA(Seq((Some(1L), "x", 10L), (Some(2L), "x", 20L), (Some(5L), "y", 50L),
      (None, "y", 99L)), "overwrite")
    writeB(Seq((Some(1L), "p", 1L), (Some(3L), "q", 3L), (None, "q", 7L)),
      "overwrite")
    GraftMview.create(spark, mvDir,
      "SELECT g, h, count(*) AS n, sum(va) AS sa, sum(wb) AS sb " +
        s"FROM $cat.fofa FULL OUTER JOIN $cat.fofb ON ka = kb GROUP BY g, h")
    def expect(): Set[(String, String, Long, Option[Long], Option[Long])] = {
      val fa = spark.read.format("graft-store").load(faDir)
      val fb = spark.read.format("graft-store").load(fbDir)
      fa.join(fb, fa("ka") === fb("kb"), "full_outer")
        .groupBy("g", "h")
        .agg(count(lit(1)).as("n"), sum("va").as("sa"), sum("wb").as("sb"))
        .collect().map(r => (
          if (r.isNullAt(0)) "(null)" else r.getString(0),
          if (r.isNullAt(1)) "(null)" else r.getString(1),
          r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
    }
    def got(): Set[(String, String, Long, Option[Long], Option[Long])] =
      spark.read.format("graft-store").load(mvDir)
        .select("g", "h", "n", "sa", "sb")
        .collect().map(r => (
          if (r.isNullAt(0)) "(null)" else r.getString(0),
          if (r.isNullAt(1)) "(null)" else r.getString(1),
          r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
    assert(got() === expect())
    // side-A churn that flips a B row: ka=3 arrives — fb's kb=3 row
    // transitions null-extended → matched (the OTHER side flips)
    writeA(Seq((Some(3L), "x", 30L)), "append")
    val (m1, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m1 === "incremental")
    assert(got() === expect(), "B-side flip via A churn diverged")
    // side-B churn that flips an A row: kb=1 leaves — fa's ka=1 row
    // transitions matched → null-extended
    spark.sql(s"DELETE FROM $cat.fofb WHERE kb = 1")
    val (m2, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m2 === "incremental")
    assert(got() === expect(), "A-side flip via B churn diverged")
    // NULL-key churn on BOTH sides: pure null-extended linear terms
    writeA(Seq((None, "x", 7L)), "append")
    writeB(Seq((Some(9L), "z", 4L), (None, "z", 5L)), "append")
    val (m3, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m3 === "incremental")
    assert(got() === expect(), "NULL-key churn diverged")
    // delete a NULL-key row (removal through the linear term)
    spark.sql(s"DELETE FROM $cat.fofa WHERE ka IS NULL AND va = 99")
    val (m4, _, _, _) = GraftMview.refresh(spark, mvDir)
    assert(m4 === "incremental")
    assert(got() === expect(), "NULL-key removal diverged")
    // rewrite: the full-outer query serves — in either table order —
    // and the rollup re-aggregates; the INNER shape must not serve
    def servedFromMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(mvDir)
    val fa2 = spark.read.format("graft-store").load(faDir)
    val fb2 = spark.read.format("graft-store").load(fbDir)
    val qf = fa2.join(fb2, fa2("ka") === fb2("kb"), "full_outer")
      .groupBy("g", "h").agg(count(lit(1)).as("n"), sum("va").as("sa"))
    assert(servedFromMv(qf), "the exact full-outer shape must serve")
    val fa3 = spark.read.format("graft-store").load(faDir)
    val fb3 = spark.read.format("graft-store").load(fbDir)
    val qr = fb3.join(fa3, fb3("kb") === fa3("ka"), "full_outer")
      .groupBy("g").agg(sum("wb").as("sb"))
    assert(servedFromMv(qr), "full outer is symmetric: reversed order serves")
    val fa4 = spark.read.format("graft-store").load(faDir)
    val fb4 = spark.read.format("graft-store").load(fbDir)
    assert(!servedFromMv(fa4.join(fb4, fa4("ka") === fb4("kb"), "inner")
      .groupBy("g").agg(count(lit(1)).as("n"))),
      "an inner query must never read the full-outer view")
  }
}
