package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Plan-growth guard for ITERATIVE loops (CC/PageRank fixpoints, near-dup
  * clustering): every round must truncate the logical plan or it grows
  * exponentially (each round references the previous frame 2-3×).
  *
  * Two materialization modes, selected by `spark.graft.checkpointDir`:
  *
  *   - UNSET (default): `localCheckpoint(eager)` — fastest, blocks live in
  *     executor storage. The failure trade: one lost executor mid-fixpoint
  *     loses lineage-truncated blocks that cannot be recomputed, killing
  *     the job. Fine on local[] and short loops.
  *   - SET to a (durable, e.g. HDFS/S3) directory: `checkpoint(eager)` —
  *     each round persists to the reliable store, so a 100 TB fixpoint
  *     survives executor loss at the cost of one write+read of the
  *     (label-sized, not corpus-sized) frame per round. Set
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true` to reclaim
  *     round files as their frames go out of scope.
  */
object IterGuard {
  @volatile private var appliedDir: Option[String] = None

  def apply(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    session.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty) match {
      case Some(dir) =>
        // setCheckpointDir appends a per-app UUID subdir — track the
        // user-supplied value ourselves instead of comparing resolved paths
        if (!appliedDir.contains(dir)) synchronized {
          if (!appliedDir.contains(dir)) {
            session.sparkContext.setCheckpointDir(dir)
            appliedDir = Some(dir)
          }
        }
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
  }
}

/** Distributed connected components over an arbitrary edge frame —
  * iterative min-label propagation run to FIXPOINT, the general operator
  * behind near-dup clustering ([[graft.ext.Dedup.nearDupClusters]]), entity
  * resolution, and householding.
  *
  * Algorithm per iteration (labels start as the vertex id):
  *   1. neighbor step: label(v) := min(label(v), min over neighbors u of
  *      label(u)) — one co-partitioned join + aggregation;
  *   2. optional pointer jumping (`shortcut`): label(v) := min(label(v),
  *      label(label(v))) — labels are vertex ids, so the lookup is a self
  *      join; this contracts label chains and drops convergence from
  *      O(diameter) to O(log diameter) iterations, the Large-Star/
  *      Small-Star idea in two joins.
  * Convergence is detected from a flag computed IN the propagation pass
  * (no extra old-vs-new join). Every iteration `localCheckpoint`s: persist
  * alone does NOT truncate the ANALYZED plan (cache substitution happens
  * at physical planning), so each iteration would reference the previous
  * labels twice (neighbor join + update join — and the jump SELF-join
  * doubles it again), growing the logical plan exponentially until plan
  * stringification itself OOMs. Checkpointing replaces the plan with the
  * materialized RDD — O(1) plan size per iteration, the same reason GraphX
  * checkpoints Pregel state. On a cluster, swap local for reliable
  * checkpoints (executor loss kills local-checkpoint blocks).
  *
  * Scale notes: label frames are a few bytes per vertex — orders of
  * magnitude below the edge data — so the label loop and PageRank cap the
  * shuffle partitions at 8 (sized to label volume) and restore them
  * after. Near-clique graphs (dedup) converge in 2-3 iterations and should
  * pass `shortcut = false` (the jump join costs more than it saves at
  * diameter ≤ 3); long-chain graphs keep the default.
  * [[connectedComponentsStars]] runs distributed rounds only while its
  * edge set is over [[LocalFinishEdges]] and then finishes with
  * union-find on the driver, so the small graphs dedup produces cost one
  * collect instead of several rounds of jobs; it leaves the session conf
  * alone.
  */
object Graph {

  /** Component labels for every vertex: `(id, cluster_id)` with cluster_id
    * = the component's minimum vertex id. `edges` is treated as undirected
    * (symmetrized internally). Returns an already-materialized frame
    * (eagerly checkpointed — unpersist is not required). */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 20, shortcut: Boolean = true): DataFrame = {
    val session = vertices.sparkSession
    val prevParts = session.conf.get("spark.sql.shuffle.partitions")
    try {
      session.conf.set("spark.sql.shuffle.partitions",
        math.min(8, prevParts.toInt).toString)
      val sym = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .transform(IterGuard.apply)
      var labels = vertices.select(col("id")).distinct()
        .withColumn("cluster_id", col("id"))
        .transform(IterGuard.apply)
      var iter = 0
      var changed = 1L
      while (iter < maxIters && changed > 0) {
        val nbrMin = sym
          .join(labels.select(col("id").as("dst"), col("cluster_id").as("nbr_label")), "dst")
          .groupBy("src").agg(min("nbr_label").as("nbr_min"))
        val stepped = labels
          .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
          .select(col("id"), col("cluster_id").as("_old"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("mid"))
          .transform(IterGuard.apply) // checkpoint BEFORE the self join below
        val jumped =
          if (shortcut)
            stepped.join(
              stepped.select(col("id").as("mid"), col("mid").as("_jump")),
              Seq("mid"), "left")
              .select(col("id"), col("_old"),
                least(col("mid"), coalesce(col("_jump"), col("mid"))).as("cluster_id"))
          else stepped.withColumnRenamed("mid", "cluster_id")
        // the changed count rides the checkpoint job as an OBSERVED metric
        // (CollectMetricsExec accumulator) instead of a separate count()
        // job over the materialized frame — one action per iteration
        val obs = new org.apache.spark.sql.Observation(s"cc_changed_$iter")
        val next = jumped
          .select(col("id"), col("cluster_id"),
            (col("cluster_id") < col("_old")).as("_improved"))
          .observe(obs, sum(when(col("_improved"), 1L).otherwise(0L)).as("changed"))
          .transform(IterGuard.apply)
        changed = obs.get.get("changed").flatMap(Option(_))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        labels = next
        iter += 1
      }
      // already materialized by the eager checkpoint — the projection is a
      // free plan over the checkpointed RDD (ContextCleaner reclaims loop
      // blocks once the intermediate frames go out of scope)
      labels.select("id", "cluster_id")
    } finally session.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** PAGERANK over a directed edge frame, fixed iteration count — the
    * link-analysis centrality used by web-scale curation pipelines to
    * weight documents by their position in the reference graph (the
    * quality signal behind "rank hosts by link authority").
    *
    * Per iteration: rank flows along edges as `rank(u)/outdeg(u)`,
    * aggregates per target (one co-partitioned join + partial-aggregated
    * shuffle sized to the VERTEX frame, not the corpus), and the teleport
    * term `(1-d)/N` re-seeds every vertex via a LEFT join so sinks and
    * sources keep a rank. Dangling mass (vertices with no out-edges) is
    * not redistributed — the simple formulation; both the engine and any
    * oracle must agree on one convention and this is the documented one.
    * The per-iteration `localCheckpoint` is the same plan-growth guard as
    * the component loops above. `vertices.count()` is one bounded scalar
    * (the teleport denominator), the GraphX convention. */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val session = vertices.sparkSession
    val prevParts = session.conf.get("spark.sql.shuffle.partitions")
    try {
      session.conf.set("spark.sql.shuffle.partitions",
        math.min(8, prevParts.toInt).toString)
      val v = vertices.select(col("id")).distinct().transform(IterGuard.apply)
      val n = v.count()
      val e = edges.select(col("src"), col("dst")).distinct().transform(IterGuard.apply)
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).transform(IterGuard.apply)
      var ranks = v.withColumn("rank", lit(1.0 / n))
      for (_ <- 0 until iters) {
        val inflow = e
          .join(ranks.withColumnRenamed("id", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("id"), (col("rank") / col("outdeg")).as("c"))
          .groupBy("id").agg(sum("c").as("inflow"))
        ranks = v.join(inflow, Seq("id"), "left")
          .select(col("id"),
            (lit((1.0 - damping) / n)
              + lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"))
          .transform(IterGuard.apply)
      }
      ranks
    } finally session.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Edge count at or under which [[connectedComponentsStars]] stops the
    * distributed rounds and finishes on the driver. The bound is driver
    * memory: 2^20 edges have at most 2^21 endpoints, so union-find needs
    * two 16 MB `Long` arrays and one 8 MB `Int` array; the collected rows
    * and the (vertex, root) local relation are transient on top of that.
    * Under it, a Spark round costs more in per-job overhead than in data;
    * over it, only the distributed rounds can run. */
  private[graft] val LocalFinishEdges: Long = 1L << 20

  /** Connected components by Large-Star / Small-Star EDGE REWRITING
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC '14) — the alternative to
    * [[connectedComponents]]'s label propagation for HIGH-DIAMETER graphs.
    *
    * Instead of carrying a (vertex → label) frame and joining it against
    * the edges every iteration, each round REWRITES the edge set itself:
    *
    *   - large-star: every node u connects its LARGER neighbors to
    *     m = min(Γ(u) ∪ {u})   — emit (v, m) for v ∈ Γ(u), v > u;
    *   - small-star: orient edges toward the larger endpoint, then every
    *     node u connects its smaller neighbors AND ITSELF to
    *     m = min(Γ≤(u) ∪ {u}) — emit (w, m) for w ∈ Γ≤(u) ∪ {u}, w ≠ m.
    *
    * Each operation is one aggregation + one co-partitioned join on the
    * CURRENT edge set — no vertex-table join — and the edge set contracts
    * toward star graphs centered at component minima in O(log n) rounds
    * regardless of diameter (label propagation needs O(diameter) without
    * pointer jumping, and its jump join still touches every vertex every
    * iteration). At 100 TB-scale graphs the shuffle volume per round is
    * the (shrinking) edge set — the better trade when edges ≪ vertices ×
    * iterations, i.e. sparse wide graphs. Both operations preserve every
    * component and keep every non-isolated vertex on some edge, so ANY
    * round's edge set has the input's components.
    *
    * Hybrid finish: rounds run only while the edge set is over
    * [[LocalFinishEdges]]. Once it fits (often before the first round),
    * the frame is collected once and union-find on the driver labels each
    * vertex with its component minimum; at that size a round is all
    * per-job overhead. The edge count is the `n` of the (count, xxhash64)
    * signature each checkpoint job already observes, so the check costs
    * no job. An edge set that never fits runs to the fixed point — the
    * canonical edge multiset stops changing — detected by that same
    * signature, no edge-set diff join. If `maxIters` rounds pass with the
    * edge set still over the bound and not at its fixed point, this throws
    * rather than return unconverged labels. Vertex ids of a non-integral
    * type always take the distributed rounds (the local finish orders ids
    * as `Long`). The same per-round `localCheckpoint` discipline as the
    * label loop applies (each round references the previous edge frame
    * 2-3×; an uncheckpointed plan grows exponentially). */
  def connectedComponentsStars(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 20): DataFrame =
    starComponents(vertices, edges, maxIters, LocalFinishEdges)

  /** [[connectedComponentsStars]] with the local-finish bound as a
    * parameter: tests pass 0 to run every distributed round. */
  private[graft] def starComponents(vertices: DataFrame, edges: DataFrame,
      maxIters: Int, localFinishEdges: Long): DataFrame = {
    // the (count, xxhash64-xor) edge-set fingerprint rides each round's
    // checkpoint job as OBSERVED metrics (bit_xor fold: order-independent,
    // overflow-free ANSI-safe; distinct() upstream guarantees multiset ==
    // set) instead of a separate aggregate-collect job per round
    var obsId = 0
    def observedSig(df: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
      obsId += 1
      val obs = new org.apache.spark.sql.Observation(s"stars_sig_$obsId")
      (df.observe(obs, count(lit(1)).as("n"),
        bit_xor(xxhash64(col("src"), col("dst"))).as("h")), obs)
    }
    def sigOf(obs: org.apache.spark.sql.Observation): (Long, Long) = {
      val m = obs.get
      (m.get("n").flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L),
        m.get("h").flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L))
    }

    // canonical orientation (bigger, smaller); self loops dropped
    val (e0, obs0) = observedSig(edges
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var e = IterGuard(e0)
    var sig = sigOf(obs0)
    val bound = e.schema("src").dataType match {
      case ByteType | ShortType | IntegerType | LongType => localFinishEdges
      case _ => -1L
    }
    var iter = 0
    var converged = false
    while (!converged && sig._1 > bound) {
      if (iter >= maxIters) throw new IllegalStateException(
        s"connectedComponentsStars: ${sig._1} edges after $maxIters rounds, " +
          s"not at a fixed point and over the local-finish bound $bound")
      // large-star over the SYMMETRIZED neighborhood
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mFull = sym.groupBy("src").agg(min("dst").as("_mn"))
        .select(col("src"), least(col("src"), col("_mn")).as("m"))
      val large = sym.filter(col("dst") > col("src"))
        .join(mFull, "src")
        .select(col("dst").as("src"), col("m").as("dst")) // v > u ≥ m ⇒ no self loop
        .distinct()
        .transform(IterGuard.apply)
      // small-star over the larger-endpoint orientation (already canonical)
      val mSmall = large.groupBy("src").agg(min("dst").as("m"))
      val (small0, obsI) = observedSig(large.join(mSmall, "src")
        .select(col("dst").as("src"), col("m").as("dst")) // smaller nbr → m
        .filter(col("src") =!= col("dst"))
        .unionByName(mSmall.select(col("src"), col("m").as("dst"))) // u itself → m
        .distinct())
      val small = IterGuard(small0)
      val nextSig = sigOf(obsI)
      converged = nextSig == sig
      sig = nextSig
      e = small
      iter += 1
    }
    // (vertex, component min) for every non-minimum vertex on an edge:
    // converged edges are already such stars; a small edge set gets them
    // from union-find on the driver
    val roots =
      if (converged) e.groupBy(col("src").as("id")).agg(min("dst").as("_m"))
      else localRoots(e)
    // min vertices and isolated vertices label themselves
    vertices.select(col("id")).distinct()
      .join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("_m"), col("id")).as("cluster_id"))
      .transform(IterGuard.apply)
  }

  /** Union-find over a collected integral edge frame, uniting toward the
    * smaller id so each root is its component's minimum; returns
    * `(id, _m)` as a local relation typed like the edge columns. */
  private def localRoots(e: DataFrame): DataFrame = {
    val rows = e.collect()
    val ends = new Array[Long](rows.length * 2)
    var i = 0
    while (i < rows.length) {
      ends(2 * i) = rows(i).getAs[Number](0).longValue
      ends(2 * i + 1) = rows(i).getAs[Number](1).longValue
      i += 1
    }
    // dense indices in id order, so "smaller index" is "smaller id"
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var nIds = 0
    i = 0
    while (i < ids.length) {
      if (nIds == 0 || ids(i) != ids(nIds - 1)) { ids(nIds) = ids(i); nIds += 1 }
      i += 1
    }
    val parent = Array.range(0, nIds)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    i = 0
    while (i < ends.length) {
      val a = find(java.util.Arrays.binarySearch(ids, 0, nIds, ends(i)))
      val b = find(java.util.Arrays.binarySearch(ids, 0, nIds, ends(i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    val pairs = (0 until nIds).iterator.map(v => (v, find(v)))
      .collect { case (v, r) if r != v => (ids(v), ids(r)) }.toVector
    val session = e.sparkSession
    import session.implicits._
    pairs.toDF("id", "_m").select(
      col("id").cast(e.schema("src").dataType).as("id"),
      col("_m").cast(e.schema("dst").dataType).as("_m"))
  }
}
