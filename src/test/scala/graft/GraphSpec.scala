package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected components on graph shapes the dedup pipeline never
  * produces: long chains (diameter >> 3), cycles, isolated vertices; the
  * public path, the distributed rounds and the driver hand-off are each
  * compared against a min-label reference. */
class GraphSpec extends AnyFunSuite with SparkTestBase {

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.unpersist()
    m
  }

  /** Reference components by min-label propagation on the driver: every
    * vertex starts labelled with its own id and takes the smallest label
    * among itself and its neighbours until no label changes. Every edge
    * endpoint must be a vertex. */
  private def minLabels(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var labels = vertices.map(v => v -> v).toMap
    var changed = true
    while (changed) {
      val next = labels.map { case (v, l) =>
        v -> nbrs.getOrElse(v, Nil).foldLeft(l)((m, u) => m min labels(u))
      }
      changed = next != labels
      labels = next
    }
    labels
  }

  /** The star rounds with the local finish off: every round runs
    * distributed, to the fixed point. */
  private def distributedStars(vertices: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame, maxIters: Int = 20) =
    Graph.starComponents(vertices, edges, maxIters, localFinishEdges = 0)

  test("chain, cycle, clique and isolated vertices all label to component min") {
    import spark.implicits._
    // chain 0-1-2-3-4; cycle 10-11-12-10; clique 20,21,22; isolated 30
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val vertices = (Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 22L, 30L))
      .toDF("id")
    val got = labelsOf(Graph.connectedComponents(vertices, edges))
    assert(got === Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L))
  }

  test("large-star/small-star labels every shape to the component min") {
    import spark.implicits._
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val vertices = Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 22L, 30L).toDF("id")
    val got = labelsOf(distributedStars(vertices, edges))
    assert(got === Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L))
  }

  test("large-star/small-star closes a 200-node chain in O(log n) rounds") {
    import spark.implicits._
    val n = 200
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val vertices = (0L until n).toDF("id")
    // a 200-diameter chain needs ~200 label-propagation iterations; the
    // edge-rewriting form must land inside a log-ish round budget
    val got = labelsOf(distributedStars(vertices, edges, maxIters = 12))
    assert(got.values.toSet === Set(0L), got.filter(_._2 != 0L).take(5).toString)
  }

  test("large-star/small-star agrees with label propagation on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val n = 2000
    val pairs = (0 until 2500)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val edges = pairs.toDF("src", "dst")
    val vertices = (0L until n.toLong).toDF("id")
    val labels = minLabels(0L until n.toLong, pairs)
    assert(labelsOf(distributedStars(vertices, edges, maxIters = 30)) === labels)
    // ~2500 edges sit far under the bound: the local finish runs no round
    assert(labelsOf(Graph.connectedComponents(vertices, edges)) === labels)
    // hand-off: start over the bound; the fixed point (one star edge per
    // non-minimum vertex) sits under it, so some round hands off first
    val initial = pairs.map { case (a, b) => (a max b, a min b) }.distinct.size
    val stars = labels.count { case (v, c) => v != c }
    val bound = (initial + stars) / 2
    assert(initial > bound && bound > stars, s"$initial > $bound > $stars")
    assert(labelsOf(Graph.starComponents(vertices, edges, 30, bound)) === labels)
  }

  test("edge direction is irrelevant (symmetrized internally)") {
    import spark.implicits._
    val fwd = Seq((5L, 1L), (1L, 9L)).toDF("src", "dst")
    val rev = Seq((1L, 5L), (9L, 1L)).toDF("src", "dst")
    val vertices = Seq(1L, 5L, 9L).toDF("id")
    assert(labelsOf(Graph.connectedComponents(vertices, fwd))
      === labelsOf(Graph.connectedComponents(vertices, rev)))
  }

  test("large-star/small-star local finish: self loops, duplicates, reversals, isolated vertices") {
    import spark.implicits._
    // int ids: the local relation must come back typed like the input
    val edges = Seq((1, 2), (2, 1), (1, 2), (3, 2), (9, 9), (7, 5), (5, 6), (6, 7))
      .toDF("src", "dst")
    val vertices = Seq(1, 2, 3, 5, 6, 7, 9, 30).toDF("id")
    val local = Graph.connectedComponents(vertices, edges)
    val distributed = distributedStars(vertices, edges)
    assert(local.schema === distributed.schema)
    def intLabels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val want = Map(1 -> 1, 2 -> 1, 3 -> 1, 5 -> 5, 6 -> 5, 7 -> 5, 9 -> 9, 30 -> 30)
    assert(intLabels(local) === want)
    assert(intLabels(distributed) === want)
  }

  test("large-star/small-star keeps string ids on the distributed rounds") {
    import spark.implicits._
    // the local finish orders ids as Long; other id types run every round
    val edges = Seq(("b", "c"), ("c", "d"), ("x", "y")).toDF("src", "dst")
    val vertices = Seq("b", "c", "d", "x", "y", "z").toDF("id")
    val got = Graph.connectedComponents(vertices, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("b" -> "b", "c" -> "b", "d" -> "b", "x" -> "x", "y" -> "x", "z" -> "z"))
  }

  test("large-star/small-star round budget: local finish under the bound, error over it") {
    import spark.implicits._
    // a path keeps its edge count every round; the 6-clique beside it
    // contracts to a 5-edge star, so one round takes 7 + 15 edges to 12
    val path = (1L until 8L).map(i => (i, i + 1))
    val clique = for (a <- 20L to 25L; b <- a + 1 to 25L) yield (a, b)
    val edges = (path ++ clique).toDF("src", "dst")
    val vertices = ((1L to 8L) ++ (20L to 25L)).toDF("id")
    val want = (1L to 8L).map(_ -> 1L).toMap ++ (20L to 25L).map(_ -> 20L)
    // one round cannot also confirm a fixed point: only the hand-off at
    // 12 edges lets this return
    assert(labelsOf(Graph.starComponents(vertices, edges, maxIters = 1,
      localFinishEdges = 12)) === want)
    val err = intercept[IllegalStateException] {
      Graph.starComponents(vertices, edges, maxIters = 1, localFinishEdges = 11)
    }
    assert(err.getMessage.contains("after 1 rounds"), err.getMessage)
  }

  test("pagerank: star hub out-ranks leaves; mass conserved on a cycle") {
    import spark.implicits._
    // star: every leaf points at the hub
    val star = (1L to 9L).map(i => (i, 0L)).toDF("src", "dst")
    val starV = (0L to 9L).toDF("id")
    val ranks = Graph.pageRank(starV, star, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(0L) > ranks(1L) * 5, "hub must dominate leaves")
    assert((1L to 9L).map(ranks).distinct.size === 1, "leaves are symmetric")
    // cycle: perfectly symmetric, every vertex keeps exactly 1/n — and the
    // total mass is conserved (no dangling vertices)
    val n = 6L
    val cyc = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val cycV = (0L until n).toDF("id")
    val cr = Graph.pageRank(cycV, cyc, iters = 4)
      .collect().map(_.getDouble(1))
    assert(cr.forall(r => math.abs(r - 1.0 / n) < 1e-12))
    assert(math.abs(cr.sum - 1.0) < 1e-9)
  }

  test("reliable-checkpoint mode (spark.graft.checkpointDir) yields identical results") {
    import spark.implicits._
    // a 100 TB fixpoint must survive executor loss: with a durable
    // checkpoint dir configured, every round materializes via
    // checkpoint(eager) instead of executor-storage localCheckpoint.
    // Same inputs, both modes, identical labels and ranks.
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 9L)).toDF("src", "dst")
    val vertices = (1L to 9L).toDF("id")
    val localStars = labelsOf(distributedStars(vertices, edges))
    val localPr = Graph.pageRank(vertices, edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dir = Fixture.dir()
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      assert(labelsOf(distributedStars(vertices, edges)) === localStars)
      val pr = Graph.pageRank(vertices, edges, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(pr === localPr)
      // the rounds really went through the reliable dir
      def rddFiles(d: java.io.File): Int =
        if (!d.isDirectory) 0
        else d.listFiles.map(f => if (f.isDirectory) rddFiles(f)
          else if (f.getName.startsWith("part-")) 1 else 0).sum
      assert(rddFiles(new java.io.File(dir)) > 0,
        "no checkpoint files written under the configured dir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("reliable-mode stars convergence is content-sensitive (path graph)") {
    import spark.implicits._
    // A path graph contracts over several star rounds whose edge COUNT
    // stays constant while the edge SET changes (round 1 of 1-2-…-8
    // rewrites 7 chain edges into 7 different star edges). Convergence
    // must therefore compare edge-set CONTENT, not just size.
    // Regression guard: reliable checkpoint(eager) executes the plan
    // twice, so an Observation riding the checkpoint merges both
    // executions — the xxhash64 bit_xor fingerprint XOR-cancelled to 0
    // every round, convergence degraded to count-only equality, and this
    // graph silently stopped after round 1 with wrong components.
    val n = 8L
    val path = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val vs = (1L to n).toDF("id")
    val dir = Fixture.dir()
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val got = labelsOf(distributedStars(vs, path))
      assert(got === (1L to n).map(_ -> 1L).toMap,
        "path graph must contract to a single component rooted at 1")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}
