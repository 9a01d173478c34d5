package graft

import graft.sources.{ScrapeIngest, Sinks}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("permissive CSV ingestion quarantines malformed rows, keeps clean ones") {
    import graft.sources.ScrapeIngest
    val dir = Fixture.dir()
    val lines = Seq(
      "id,score,name",
      "1,2.5,alpha",
      "2,not_a_number,beta", // unparseable double under the typed schema
      "3,4.5,gamma")
    spark.createDataset(lines).coalesce(1).write.mode("overwrite").text(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val (clean, quarantine) = ScrapeIngest.splitCorrupt(
      ScrapeIngest.readCsvPermissive(spark, dir, schema))
    val got = clean.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got === Set((1L, 2.5, "alpha"), (3L, 4.5, "gamma")))
    val bad = quarantine.collect().map(_.getString(0))
    assert(bad.length === 1)
    assert(bad(0).contains("not_a_number"))
    assert(!clean.columns.contains("_corrupt"))
  }

  test("upsert: inserts new keys, newest version wins, update beats existing on tie") {
    val existing = Seq(("a", "old", 1), ("b", "keep", 5)).toDF("k", "v", "version")
    val updates = Seq(("a", "new", 2), ("b", "stale", 1), ("c", "ins", 1), ("b", "tie", 5))
      .toDF("k", "v", "version")
    val got = Sinks.upsert(existing, updates, Seq("k"), "version")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "new", "b" -> "tie", "c" -> "ins"))
  }

  test("latestByKey dedups append-only history") {
    val hist = Seq(("a", 1, "v1"), ("a", 2, "v2"), ("b", 1, "w1")).toDF("k", "version", "v")
    val got = Sinks.latestByKey(hist, Seq("k"), "version")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got === Map("a" -> "v2", "b" -> "w1"))
  }

  test("guardedWrite rejects non-whitelisted tables (GameSpider.py:193-196)") {
    val df = Seq(1).toDF("x")
    val dir = Fixture.dir()
    intercept[IllegalArgumentException] {
      Sinks.guardedWrite(df, "evil", Set("team_list", "game_record"), dir)
    }
    Sinks.guardedWrite(df, "team_list", Set("team_list"), dir)
    assert(spark.read.parquet(s"$dir/team_list").count() === 1)
  }

  test("csv sink round-trips with header") {
    val df = Seq((1, "x"), (2, "y")).toDF("id", "name")
    val dir = Fixture.dir()
    Sinks.csvSink(df, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.columns.toSeq === Seq("id", "name"))
    assert(back.count() === 2)
  }

  test("J4 replacement: live/initial odds join by keys, not row position") {
    val live = Seq(("g1", "CompA", "2.1"), ("g1", "CompB", "3.0"))
      .toDF("id", "odds_company", "live_win")
    val initial = Seq(("g1", "CompB", "2.9"), ("g1", "CompA", "2.0")) // reordered!
      .toDF("id", "odds_company", "init_win")
    val got = ScrapeIngest.joinLiveInitial(live, initial)
      .collect().map(r => r.getAs[String]("odds_company") ->
        (r.getAs[String]("live_win"), r.getAs[String]("init_win"))).toMap
    assert(got === Map("CompA" -> ("2.1", "2.0"), "CompB" -> ("3.0", "2.9")))
  }

  test("P10: row-arity guard keeps only complete scraped rows") {
    val rows = Seq("a b c", "a b", "x y z").toDF("line")
      .withColumn("parts", split(col("line"), " "))
    val kept = ScrapeIngest.filterValidRows(rows, "parts", 3)
      .select("line").collect().map(_.getString(0))
    assert(kept.toSeq === Seq("a b c", "x y z"))
  }

  test("F5: match-id regex extraction from analysis URLs") {
    val df = Seq("http://site/analysis/1646984.html", "http://site/other/x")
      .toDF("analysis_page")
    val got = ScrapeIngest.withMatchId(df, "analysis_page")
      .select("match_id").collect().map(_.getString(0))
    assert(got.toSeq === Seq("1646984", ""))
  }
}
