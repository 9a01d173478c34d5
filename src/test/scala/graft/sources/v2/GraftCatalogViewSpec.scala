package graft.sources.v2

import graft.Fixture

import org.scalatest.funsuite.AnyFunSuite

/** SQL views through the catalog's [[org.apache.spark.sql.connector
  * .catalog.ViewCatalog]] face: CREATE/DROP/SHOW/RENAME/ALTER VIEW
  * persisted as files under `<base>/_views`, resolved by Spark's own
  * V2 view resolution (the analyzer replays the stored query under the
  * view's DEFINING catalog+namespace). */
class GraftCatalogViewSpec extends AnyFunSuite with graft.SparkTestBase {

  private lazy val catBase: String = {
    val base = Fixture.dir()
    spark.conf.set("spark.sql.catalog.vcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.vcat.base", base)
    base
  }

  private def seed(t: String): Unit =
    spark.range(0, 100).selectExpr("id", "id % 5 as g", "id * 2 as v")
      .write.format("graft-store").mode("overwrite").save(s"$catBase/$t")

  test("CREATE VIEW / query through / SHOW / DROP") {
    catBase
    seed("t1")
    spark.sql("CREATE VIEW vcat.v1 AS SELECT g, sum(v) AS sv FROM vcat.t1 GROUP BY g")
    val got = spark.sql("SELECT g, sv FROM vcat.v1 ORDER BY g").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = (0L until 100L).groupBy(_ % 5).toSeq.sortBy(_._1)
      .map { case (g, ids) => (g, ids.map(_ * 2).sum) }
    assert(got.toSeq === want)
    // the view composes like any relation: filter + join through it
    assert(spark.sql("SELECT sv FROM vcat.v1 WHERE g = 3").collect()(0).getLong(0)
      === (0L until 100L).filter(_ % 5 == 3).map(_ * 2).sum)
    assert(spark.sql("SHOW VIEWS IN vcat").collect().map(_.getString(1))
      .contains("v1"))
    spark.sql("DROP VIEW vcat.v1")
    intercept[Exception](spark.sql("SELECT * FROM vcat.v1").collect())
  }

  test("views persist: a FRESH catalog instance over the same base serves them") {
    catBase
    seed("t2")
    spark.sql("CREATE VIEW vcat.v2 AS SELECT count(*) AS n FROM vcat.t2 WHERE g <> 4")
    // a different catalog name = a brand-new GraftCatalog instance with no
    // shared state — only the files under <base>/_views connect them,
    // which is exactly what a session restart replays
    spark.conf.set("spark.sql.catalog.vcat2", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.vcat2.base", catBase)
    try {
      assert(spark.sql("SELECT n FROM vcat2.v2").collect()(0).getLong(0)
        === (0L until 100L).count(_ % 5 != 4))
    } finally {
      spark.conf.unset("spark.sql.catalog.vcat2")
      spark.conf.unset("spark.sql.catalog.vcat2.base")
    }
  }

  test("view over view; CREATE OR REPLACE; duplicate create refuses") {
    catBase
    seed("t3")
    spark.sql("CREATE VIEW vcat.v3a AS SELECT g, v FROM vcat.t3 WHERE id < 50")
    spark.sql("CREATE VIEW vcat.v3b AS SELECT g, sum(v) AS sv FROM vcat.v3a GROUP BY g")
    assert(spark.sql("SELECT sum(sv) FROM vcat.v3b").collect()(0).getLong(0)
      === (0L until 50L).map(_ * 2).sum)
    intercept[Exception](
      spark.sql("CREATE VIEW vcat.v3a AS SELECT 1 AS one"))
    spark.sql("CREATE OR REPLACE VIEW vcat.v3a AS SELECT g, v FROM vcat.t3 WHERE id < 10")
    assert(spark.sql("SELECT sum(sv) FROM vcat.v3b").collect()(0).getLong(0)
      === (0L until 10L).map(_ * 2).sum, "the dependent view sees the new definition")
  }

  test("RENAME and ALTER ... SET TBLPROPERTIES") {
    catBase
    seed("t4")
    spark.sql("CREATE VIEW vcat.v4 AS SELECT max(id) AS mx FROM vcat.t4")
    spark.sql("ALTER VIEW vcat.v4 RENAME TO v4r")
    assert(spark.sql("SELECT mx FROM vcat.v4r").collect()(0).getLong(0) === 99L)
    intercept[Exception](spark.sql("SELECT * FROM vcat.v4").collect())
    spark.sql("ALTER VIEW vcat.v4r SET TBLPROPERTIES ('note'='curated')")
    val cat = spark.sessionState.catalogManager.catalog("vcat")
      .asInstanceOf[GraftCatalog]
    val v = cat.loadView(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "v4r"))
    assert(v.properties().get("note") === "curated")
    assert(spark.sql("SELECT mx FROM vcat.v4r").collect()(0).getLong(0) === 99L)
  }

  test("namespaced views; name collisions with tables refuse") {
    catBase
    seed("t5")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vcat.reports")
    spark.sql("CREATE VIEW vcat.reports.daily AS SELECT g, count(*) AS n FROM vcat.t5 GROUP BY g")
    assert(spark.sql("SELECT sum(n) FROM vcat.reports.daily").collect()(0).getLong(0) === 100L)
    assert(spark.sql("SHOW VIEWS IN vcat.reports").collect().map(_.getString(1))
      .contains("daily"))
    // a view may not shadow an existing table, nor a table an existing view
    intercept[Exception](
      spark.sql("CREATE VIEW vcat.t5 AS SELECT 1 AS one"))
    intercept[Exception](
      spark.sql("CREATE TABLE vcat.reports.daily (x INT)"))
  }

  test("CTE shadowing is scope-aware: a subquery's CTE must not hide the view outside it") {
    catBase
    seed("t6")
    spark.sql("CREATE VIEW vcat.v6 AS SELECT g, count(*) AS n FROM vcat.t6 GROUP BY g")
    try {
      // the derived-table arm declares its OWN cte named v6; the outer arm
      // still means the graft view — a global shadow pre-collect would
      // leave the outer v6 unexpanded and the query unresolvable
      val rows = spark.sql(
        """SELECT q.k, v.n FROM
          |  (WITH v6 AS (SELECT 3 AS k) SELECT k FROM v6) q
          |  JOIN vcat.v6 v ON v.g = q.k""".stripMargin).collect()
      assert(rows.length === 1 && rows(0).getLong(1) === 20L)
      // inside the WITH, the cte wins (SQL scoping): one row, not 5 groups
      assert(spark.sql(
        "WITH v6 AS (SELECT 1 AS one) SELECT count(*) AS c FROM v6")
        .collect()(0).getLong(0) === 1L)
      // a view referenced INSIDE a cte definition expands there too
      assert(spark.sql(
        "WITH w AS (SELECT n FROM vcat.v6 WHERE g = 0) SELECT sum(n) AS s FROM w")
        .collect()(0).getLong(0) === 20L)
    } finally spark.sql("DROP VIEW vcat.v6")
  }

  test("write statements refuse a view target with a clean error") {
    catBase
    seed("t7")
    spark.sql("CREATE VIEW vcat.v7 AS SELECT g, v FROM vcat.t7")
    try {
      val e1 = intercept[Exception](
        spark.sql("INSERT INTO vcat.v7 VALUES (1, 2)"))
      assert(e1.getMessage.contains("read-only"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql("DELETE FROM vcat.v7 WHERE g = 1"))
      assert(e2.getMessage.contains("read-only"), e2.getMessage)
      val e3 = intercept[Exception](
        spark.sql("UPDATE vcat.v7 SET v = 0 WHERE g = 1"))
      assert(e3.getMessage.contains("read-only"), e3.getMessage)
      val e4 = intercept[Exception](
        spark.sql("""MERGE INTO vcat.v7 t USING vcat.t7 s ON t.g = s.g
                    |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
      assert(e4.getMessage.contains("read-only"), e4.getMessage)
      // and a MERGE whose SOURCE is a view still expands + runs
      spark.range(0, 5).selectExpr("id", "id % 5 as g", "id * 2 as v")
        .write.format("graft-store").mode("overwrite").save(s"$catBase/t7b")
      spark.sql("""MERGE INTO vcat.t7b t USING (SELECT g, max(v) AS v
                  |  FROM vcat.v7 GROUP BY g) s ON t.g = s.g
                  |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
      assert(spark.sql("SELECT sum(v) FROM vcat.t7b").collect()(0).getLong(0) > 0L)
    } finally spark.sql("DROP VIEW vcat.v7")
  }
}
