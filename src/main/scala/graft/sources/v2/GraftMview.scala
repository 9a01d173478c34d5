package graft.sources.v2

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, StddevPop, StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** MATERIALIZED VIEWS with CDC-driven INCREMENTAL refresh.
  *
  * An MV is a REAL graft-store table (reads hit the precomputed rows
  * through the ordinary catalog/scan path — the materialized fast path by
  * construction, no resolution magic) whose manifest carries the view
  * metadata in user properties (`#props=`): the definition, the source
  * table, and the REFRESH WATERMARK — the source snapshot the contents
  * are exactly as-of.
  *
  * The definition must be the canonical maintainable shape
  * `SELECT g..., count(*)/count(1) AS n [, sum(x)/count(x)/avg(x)/
  * min(x)/max(x) ...] FROM t [WHERE p] GROUP BY g...` — single source
  * table, grouping on plain columns or deterministic scalar EXPRESSIONS
  * over them (calendar buckets: `GROUP BY date_trunc('month', ts)`),
  * DISTRIBUTIVE or ALGEBRAIC-over-distributive aggregates. One `count(*)` is REQUIRED: it
  * is the group-liveness column (a group whose count reaches zero leaves
  * the view — the standard IVM device; without it, deletions could strand
  * empty groups). `avg` maintains as INTERNAL sum+count companion columns
  * (`__s_<out>`, `__n_<out>` — stored in the table, after the public
  * columns) and publishes `sum / count` with SQL semantics (NULL when no
  * non-null input survives). `sum` and `count(col)` carry a non-null
  * input count so an all-NULL group publishes NULL, exactly like a
  * recompute — never a fabricated 0. The VARIANCE family
  * (var_samp/var_pop/stddev_samp/stddev_pop) maintains as (n, sum x,
  * sum x^2) companions, sign-maintained like sum, published through one
  * shared zero-clamped formula. min/max: groups that saw only
  * inserts since the watermark maintain via least/greatest against the
  * stored value; groups touched by any removal RESCAN from the (pinned)
  * source scoped to just those group keys — churn-groups cost, never
  * table cost. `count(DISTINCT col)` is EXACT, maintained through a
  * per-(group, value) dup-count companion table (see [[DCountCol]]);
  * other distinct aggregates are refused with guidance.
  *
  * GROUP BY over a NULLable column is ordinary SQL: every group-key
  * equation in the maintenance joins (delta merge, rescan scoping,
  * replace-by-key) is NULL-SAFE (`<=>`), so the NULL group merges with
  * its stored row like any other group instead of silently resetting.
  *
  * JOIN views: the definition may be an INNER equi-join of N graft
  * tables (`FROM f JOIN d1 ON … JOIN d2 ON …` — any connected equi-key
  * graph) with distributive aggregates (count/sum/count(col)/avg —
  * min/max refused). Refresh uses the classic N-way IVM delta rule: one
  * term per CHURNED side, Δi = R1_old ⋈ … ⋈ ΔRi ⋈ … ⋈ Rn_new (sides
  * before the churn pinned OLD, after it pinned NEW — telescoping makes
  * the sum exact), so each term is churn⋈dims-sized, an unchurned side
  * contributes nothing, and a fact-only refresh never rescans the fact
  * corpus. Every source carries its own watermark; any expiring falls
  * back to a full (pinned, atomic) recompute.
  *
  * LEFT OUTER views (`FROM f LEFT JOIN d1 ON … LEFT JOIN d2 ON …` — a
  * LEFT-DEEP CHAIN of any length, the reference's chained pandas-merge
  * feature joins, `XGBoost/Predictor.py:47,74`; each ON keys the new
  * table to exactly ONE earlier side): fact churn maintains linearly
  * (ΔF ⟕ dims_new — a left join is row-local in its left argument); dim
  * churn exploits PER-KEY LOCALITY — only chain rows whose key for the
  * churned side is among its churned keys K can flip between matched
  * and null-extended, so their contribution is recomputed as a ± pair
  * of the full chain with that side at new vs old, every scan scoped to
  * K by value-based semi-joins propagated down the parent path (plus
  * the bounded compile-time IN for file skipping). Null-extension
  * transitions at EVERY level (a dim insert matching waiting rows, a
  * leaf-dim delete null-extending a middle dim's matches) fall out of
  * the ± pair. Chains MIX freely with INNER steps (`F ⋈ D1 ⟕ D2` — a
  * required dim then an optional one): an INNER-entered side stays
  * (bi)linear in the chain even under downstream LEFT steps, so its
  * churn uses a plain Δ term; LEFT-entered sides keep the ± pair.
  *
  * Refresh is O(churn), not O(table): [[GraftStoreOps.signedChanges]]
  * yields +1/-1 row deltas reading only files whose membership or delete
  * coverage changed between the watermark and the head — no keyed join,
  * no key column needed, because distributive aggregation cancels
  * carried-identical rows by algebra. Deltas aggregate to per-group
  * adjustments; the adjusted groups merge with their CURRENT stored
  * values; and [[GraftStoreOps.replaceByKeyMor]] publishes changed-group
  * rows, vanished-group deletes, AND the advanced watermark as ONE
  * merge-on-read commit — a torn refresh cannot exist, and a crash
  * before the commit leaves the old view fully intact. Initial
  * materialization and refresh both PIN the source snapshot first and
  * compute against it (`snapshot` read option), so a concurrent source
  * commit can never make the stamped watermark lie.
  *
  * At 100 TB this is the difference between re-running a full aggregation
  * pipeline per refresh and paying for the day's churn: the refresh cost
  * tracks ingest volume, not table size. */
object GraftMview {

  /** Row bound under which a refresh keeps its churn-sized frames on the
    * driver: the netted churn of each source, the per-group deltas and the
    * merged groups are each collected once into a LocalRelation instead of
    * checkpointed, and everything that reads them (key predicates, key
    * frames, the commit's key dedupe) then runs without a Spark job. The
    * choice comes from [[GraftStoreOps.signedChangeRowEstimate]], a
    * manifest-only upper bound, so no frame is ever computed twice. The
    * bound is driver memory: 2^16 rows of a wide fact row (about 100
    * bytes as an UnsafeRow) are under 10 MB per frame, and a refresh holds
    * at most the churn of each source plus the deltas and merged frames at
    * once. The large churn class of a 150k-row table (5%, about 7.5k rows)
    * fits with room to spare. */
  private[graft] val LocalFrameRows: Long = 1L << 16

  /** [[LocalFrameRows]] as the refresh reads it: tests run a refresh
    * under `withValue(0)` to take the checkpoint path for every frame. */
  private[graft] val localFrameRows = new scala.util.DynamicVariable[Long](LocalFrameRows)

  /** One output column of the view: a group key or an aggregate. */
  private[v2] sealed trait ColSpec { def out: String }

  /** A group
    * key is a plain source column, or — `isExpr` — a deterministic scalar
    * EXPRESSION over source columns stored as unqualified SQL text (the
    * calendar-MV shape: `GROUP BY date_trunc('month', ts)`). Expression
    * keys re-parse by name against the maintenance frames, the same
    * device as the stored WHERE text; timezone-sensitive functions
    * evaluate under the session timezone at each refresh, so keep the
    * session timezone stable across refreshes (document-level contract,
    * as for any externally-parsed SQL). */
  private[v2] case class GroupCol(src: String, out: String,
      isExpr: Boolean = false) extends ColSpec
  private[v2] case class CountCol(out: String) extends ColSpec
  private[v2] case class CountNNCol(src: String, out: String) extends ColSpec
  private[v2] case class SumCol(src: String, out: String) extends ColSpec
  private[v2] case class AvgCol(src: String, out: String) extends ColSpec
  /** kind: vs=var_samp vp=var_pop ds=stddev_samp dp=stddev_pop. */
  private[v2] case class VarCol(src: String, out: String, kind: String) extends ColSpec
  private[v2] case class MinCol(src: String, out: String) extends ColSpec
  private[v2] case class MaxCol(src: String, out: String) extends ColSpec
  /** EXACT COUNT(DISTINCT src): maintained through a PER-(GROUP, VALUE)
    * DUP-COUNT COMPANION table (`<mv>/_dck_<out>`, schema group outs +
    * `__dv` value + `__dc` count). The companion absorbs the same signed
    * churn the view does — per-pair counts add the churn's ±1s, pairs
    * hitting zero DELETE — and the published distinct count is the
    * companion's surviving-pair count per group, read back scoped to the
    * churned groups. Exact under inserts AND deletes (a value vanishing
    * from one group while surviving another is just two pair rows), at
    * churn-proportional refresh cost; the companion commits its own
    * watermark atomically with its rows, so a crash between companion
    * and view commits cannot double-apply churn. */
  private[v2] case class DCountCol(src: String, out: String) extends ColSpec
  /** APPROX-DISTINCT via a DataSketches HLL sketch: the view publishes
    * `hll_sketch_estimate(hll_sketch_agg(src, lgk))` and stores the
    * SKETCH ITSELF as an internal binary companion (`__h_<out>`). The
    * sketch is a register-max structure: union is idempotent,
    * commutative, and replication-insensitive, so insert-only churn
    * maintains by `hll_union(stored, delta)`, rollups and join-back
    * re-aggregate by `hll_union_agg` over stored sketches, and the
    * published estimate is IDENTICAL to a full rebuild (same registers).
    * Removals cannot retract registers — removal-touched groups RESCAN
    * from the pinned head, exactly the min/max device. */
  private[v2] case class HllCol(src: String, out: String, lgk: Int) extends ColSpec

  /** INTERNAL companion columns stored after the public ones: the
    * non-null input count that makes sum's NULL semantics exact, and
    * avg's sum+count decomposition. Deterministic names derived from the
    * public output name — part of the MV table's schema on disk. */
  private[v2] def internalsOf(c: ColSpec): Seq[String] = c match {
    case SumCol(_, o) => Seq(s"__nn_$o")
    case AvgCol(_, o) => Seq(s"__s_$o", s"__n_$o")
    case VarCol(_, o, _) => Seq(s"__s_$o", s"__q_$o", s"__n_$o")
    case HllCol(_, o, _) => Seq(s"__h_$o")
    case _ => Seq.empty
  }
  private[v2] def internals(cols: Seq[ColSpec]): Seq[String] =
    cols.flatMap(internalsOf)

  /** The group key as a Column against a maintenance frame: the plain
    * column, or the stored expression text re-parsed (resolving by name
    * against the frame, exactly like the stored WHERE text). */
  private def groupKey(g: GroupCol): Column =
    if (g.isExpr) expr(g.src) else col(g.src)

  private def enc(s: String): String = GraftStoreFormat.escStat(s)
  private def dec(s: String): String = GraftStoreFormat.unescStat(s)

  private[v2] def encodeCols(cols: Seq[ColSpec]): String = cols.map {
    case GroupCol(s, o, ie) => s"${if (ie) "ge" else "g"}:${enc(s)}:${enc(o)}"
    case CountCol(o) => s"c::${enc(o)}"
    case CountNNCol(s, o) => s"k:${enc(s)}:${enc(o)}"
    case SumCol(s, o) => s"s:${enc(s)}:${enc(o)}"
    case AvgCol(s, o) => s"a:${enc(s)}:${enc(o)}"
    case VarCol(s, o, k) => s"$k:${enc(s)}:${enc(o)}"
    case MinCol(s, o) => s"m:${enc(s)}:${enc(o)}"
    case MaxCol(s, o) => s"x:${enc(s)}:${enc(o)}"
    case DCountCol(s, o) => s"d:${enc(s)}:${enc(o)}"
    // lgk rides after the escaped name ('|' is escaped by enc)
    case HllCol(s, o, lgk) => s"hl:${enc(s)}:${enc(o)}|$lgk"
  }.mkString(";")

  private[v2] def decodeCols(s: String): Seq[ColSpec] =
    s.split(";", -1).toSeq.map { p =>
      val Array(k, a, b) = p.split(":", 3)
      k match {
        case "g" => GroupCol(dec(a), dec(b))
        case "ge" => GroupCol(dec(a), dec(b), isExpr = true)
        case "c" => CountCol(dec(b))
        case "k" => CountNNCol(dec(a), dec(b))
        case "s" => SumCol(dec(a), dec(b))
        case "a" => AvgCol(dec(a), dec(b))
        case vk @ ("vs" | "vp" | "ds" | "dp") => VarCol(dec(a), dec(b), vk)
        case "m" => MinCol(dec(a), dec(b))
        case "x" => MaxCol(dec(a), dec(b))
        case "d" => DCountCol(dec(a), dec(b))
        case "hl" =>
          val i = b.lastIndexOf('|')
          HllCol(dec(a), dec(b.substring(0, i)), b.substring(i + 1).toInt)
      }
    }

  /** The recognized definition: a single table; an INNER equi-join of N
    * tables (the key-FK IVM shape — one delta term per churned side,
    * telescoping across pinned snapshots of the others); or a 2-table
    * LEFT OUTER equi-join (the pandas-merge shape the reference's own
    * feature joins use — `XGBoost/Predictor.py:47,74`), maintained with
    * null-extension transitions (see [[refresh]]). */
  private[v2] sealed trait MvSource
  private[v2] case class SingleSrc(path: String) extends MvSource
  /** `keys`: (sideA, colA, sideB, colB) equi-pairs with sideA < sideB,
    * sides indexing `paths`. `leftSides` lists the sides that enter the
    * left-deep chain via LEFT OUTER (empty = a pure INNER view, which
    * may use an arbitrary connected key graph; nonempty = a chain where
    * each side keys to exactly one earlier side and sides NOT listed
    * enter via INNER — the mixed `F ⋈ D1 ⟕ D2` family included). */
  private[v2] case class JoinSrc(paths: Seq[String],
      keys: Seq[(Int, String, Int, String)],
      leftSides: Set[Int] = Set.empty) extends MvSource
  /** 2-table FULL OUTER equi-join (`A FULL JOIN B ON …`): BOTH sides
    * null-extend, so churn on either side can flip the OTHER side's rows
    * between matched and null-extended — maintained with symmetric ±
    * pairs (see [[refresh]]). Symmetric by nature: no orientation. */
  private[v2] case class FullSrc(paths: Seq[String],
      keys: Seq[(Int, String, Int, String)]) extends MvSource

  /** The analyzer (PullOutNondeterministic) and optimizer
    * (PullOutGroupingExpressions) pull complex grouping expressions into
    * an alias-bearing Project under the Aggregate; inline those aliases
    * back so grouping/output expressions show their real shape. */
  private[v2] def inlineGroupingProjects(agg0: Aggregate): Aggregate = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    var child = agg0.child
    var gs: Seq[Expression] = agg0.groupingExpressions
    var as: Seq[NamedExpression] = agg0.aggregateExpressions
    var done = false
    while (!done) child match {
      case Project(pl, c) if pl.exists(_.isInstanceOf[Alias]) &&
          pl.forall(x => x.isInstanceOf[AttributeReference] ||
            x.isInstanceOf[Alias]) =>
        val m = pl.collect { case al @ Alias(e, _) => al.exprId -> e }.toMap
        def sub(e: Expression): Expression = e.transformUp {
          case a: Attribute if m.contains(a.exprId) => m(a.exprId)
        }
        gs = gs.map(sub)
        as = as.map { x =>
          sub(x) match {
            case ne: NamedExpression => ne
            case other => Alias(other, x.name)(exprId = x.exprId)
          }
        }
        child = c
      case _ => done = true
    }
    Aggregate(gs, as, child)
  }

  /** Recognize the maintainable shape on the ANALYZED plan; loud,
    * actionable errors otherwise. Returns (source, filter SQL,
    * ordered column specs).
    *
    * RIGHT OUTER normalizes by FLIP before recognition: `A RIGHT JOIN B`
    * IS `B LEFT JOIN A` (the equi-ON is symmetric; all column resolution
    * here is by name/exprId, so operand order is irrelevant) — right-join
    * definitions ride the existing left-chain maintenance machinery.
    * FULL OUTER keeps refusing. */
  private def recognize(plan0: LogicalPlan): (MvSource, Option[String], Seq[ColSpec]) = {
    val plan = plan0.transformUp {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.RightOuter =>
        j.copy(left = j.right, right = j.left,
          joinType = org.apache.spark.sql.catalyst.plans.LeftOuter)
    }
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"graft mview: $why — the maintainable shape is SELECT <group cols>, " +
        "count(*) AS n [, sum/count/avg/min/max(col) ...] FROM <graft table> " +
        "[INNER|LEFT JOIN <graft table> ON <plain equi-keys> ...] " +
        "[WHERE p] GROUP BY <group cols>")
    val agg = plan match {
      case a: Aggregate => inlineGroupingProjects(a)
      case _ => fail("the definition must be a single GROUP BY aggregate")
    }
    def relOf(p: LogicalPlan): Option[DataSourceV2Relation] = p match {
      case SubqueryAlias(_, c) => relOf(c)
      case r: DataSourceV2Relation => Some(r)
      case _ => None
    }
    def pathOf(rel: DataSourceV2Relation): String = rel.table match {
      case _: GraftStoreTable => rel.table.properties().get("location")
      case t => fail(s"source ${t.name()} is not a graft-store table")
    }
    // child chain: Filter? over a relation, or Filter? over Join(rel, rel)
    def source(p: LogicalPlan, cond: Option[Expression])
        : (Option[Expression], MvSource, Seq[AttributeReference]) = p match {
      case SubqueryAlias(_, c) => source(c, cond)
      case Filter(c2, c) =>
        if (cond.isDefined) fail("more than one WHERE layer")
        source(c, Some(c2))
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        val leftOuter =
          j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter
        val fullOuter =
          j.joinType == org.apache.spark.sql.catalyst.plans.FullOuter
        if (!leftOuter && !fullOuter &&
            j.joinType != org.apache.spark.sql.catalyst.plans.Inner)
          fail(s"${j.joinType} join (INNER, LEFT OUTER, or 2-table FULL " +
            "OUTER equi-joins only)")
        // flatten an N-way INNER tree — or, for LEFT OUTER, a LEFT-DEEP
        // CHAIN (fact ⟕ d1 ⟕ d2 ⟕ …, the pandas-merge shape chained):
        // every join in the chain LEFT OUTER, every right side a plain
        // table, each ON keying the NEW table to exactly ONE earlier side
        // (the per-key locality the delta rule scopes by — see refresh)
        def flat(p2: LogicalPlan): (Seq[DataSourceV2Relation], Seq[Expression]) =
          p2 match {
            case SubqueryAlias(_, c) => flat(c)
            case jj: org.apache.spark.sql.catalyst.plans.logical.Join =>
              if (jj.joinType != org.apache.spark.sql.catalyst.plans.Inner)
                fail(s"nested ${jj.joinType} join (INNER only below the top level)")
              if (jj.condition.isEmpty) fail("join without an ON condition")
              val (lr, lc) = flat(jj.left)
              val (rr, rc) = flat(jj.right)
              (lr ++ rr, lc ++ rc ++ jj.condition.toSeq)
            case r: DataSourceV2Relation => (Seq(r), Nil)
            case other => fail(s"join input ${other.nodeName} (plain graft " +
              "tables only)")
          }
        // left-deep chain walk (used when the tree contains ANY LEFT
        // OUTER): collects rels in chain order, the ON of each step
        // (step x introduces side x+1), and each step's entry type —
        // INNER and LEFT OUTER steps mix freely (F ⋈ D1 ⟕ D2 etc.)
        def chainWalk(p2: LogicalPlan)
            : (Seq[DataSourceV2Relation], Seq[Expression], Seq[Boolean]) =
          p2 match {
            case SubqueryAlias(_, c) => chainWalk(c)
            case jj: org.apache.spark.sql.catalyst.plans.logical.Join =>
              val lo =
                jj.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter
              if (!lo && jj.joinType != org.apache.spark.sql.catalyst.plans.Inner)
                fail(s"${jj.joinType} join inside a LEFT OUTER chain " +
                  "(INNER or LEFT OUTER steps only)")
              if (jj.condition.isEmpty) fail("join without an ON condition")
              val (lr, lc, lt) = chainWalk(jj.left)
              val rr = relOf(jj.right).getOrElse(fail(
                "a LEFT OUTER chain joins a plain table on each right side " +
                  "(no nested joins on the right)"))
              (lr :+ rr, lc :+ jj.condition.get, lt :+ lo)
            case r: DataSourceV2Relation => (Seq(r), Nil, Nil)
            case other => fail(s"join input ${other.nodeName} (plain graft " +
              "tables only)")
          }
        def containsLeft(p2: LogicalPlan): Boolean = p2 match {
          case SubqueryAlias(_, c) => containsLeft(c)
          case jj: org.apache.spark.sql.catalyst.plans.logical.Join =>
            jj.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter ||
              containsLeft(jj.left) || containsLeft(jj.right)
          case _ => false
        }
        if (j.condition.isEmpty) fail("join without an ON condition")
        val chainMode = !fullOuter && containsLeft(j)
        val (rels, conds, stepTypes) =
          if (fullOuter) {
            // FULL OUTER: exactly two plain tables (both sides
            // null-extend — there is no sound chain discipline to nest)
            val ra = relOf(j.left).getOrElse(fail(
              "FULL OUTER joins two plain graft tables (no nesting)"))
            val rb = relOf(j.right).getOrElse(fail(
              "FULL OUTER joins two plain graft tables (no nesting)"))
            (Seq(ra, rb), Seq(j.condition.get), Seq.empty[Boolean])
          } else if (chainMode) chainWalk(j)
          else {
            val (lrels, lconds) = flat(j.left)
            val (rrels, rconds) = flat(j.right)
            (lrels ++ rrels, lconds ++ rconds ++ j.condition.toSeq,
              Seq.empty[Boolean])
          }
        val paths = rels.map(pathOf)
        if (paths.distinct.size != paths.size) fail("self-join of one table")
        // ALL column names must be globally disjoint: every maintenance
        // frame is the physical join of the schemas, resolved by name
        val dup = rels.flatMap(_.output.map(_.name))
          .groupBy(identity).collect { case (n2, vs) if vs.size > 1 => n2 }
        if (dup.nonEmpty) fail(s"column name(s) ${dup.mkString(", ")} exist " +
          "on more than one side (rename via the table schemas; the " +
          "maintained view resolves columns by name)")
        val sideOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Int] =
          rels.zipWithIndex.flatMap { case (r, i) =>
            r.output.map(_.exprId -> i) }.toMap
        def eqKeys(e: Expression): Seq[(Int, String, Int, String)] = e match {
          case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
            eqKeys(a) ++ eqKeys(b)
          case org.apache.spark.sql.catalyst.expressions.EqualTo(
              a: AttributeReference, b: AttributeReference) =>
            (sideOf.get(a.exprId), sideOf.get(b.exprId)) match {
              case (Some(i), Some(j2)) if i != j2 =>
                if (i < j2) Seq((i, a.name, j2, b.name))
                else Seq((j2, b.name, i, a.name))
              case _ => fail("join keys must pair columns from two " +
                "different tables")
            }
          case other => fail(s"join condition '${other.sql}' (plain column " +
            "equality conjunctions only)")
        }
        val keys = conds.flatMap(eqKeys)
        if (chainMode) {
          // per-step discipline: step x's ON must key the side it
          // introduces (x) to exactly ONE earlier side — the delta rule
          // propagates churn keys parent-by-parent along this tree
          conds.zipWithIndex.foreach { case (c, x) =>
            val ks = eqKeys(c)
            ks.foreach { case (a2, _, b2, _) =>
              if (b2 != x + 1 || a2 > x) fail("the ON of each LEFT JOIN " +
                "must key the table it introduces to earlier tables")
            }
            if (ks.map(_._1).distinct.size != 1)
              fail("each LEFT JOIN must key its new table to exactly ONE " +
                "earlier table")
          }
        }
        // the key graph must CONNECT every table, or some delta term would
        // be a cartesian product — refuse at creation, not at refresh
        var reach = Set(0)
        var grew = true
        while (grew) {
          grew = false
          keys.foreach { case (i, _, j2, _) =>
            if (reach(i) != reach(j2)) { reach = reach + i + j2; grew = true }
          }
        }
        if (reach.size != rels.size)
          fail("the join graph is disconnected (every table needs an " +
            "equi-key path to the others)")
        val leftSides = stepTypes.zipWithIndex
          .collect { case (true, x) => x + 1 }.toSet
        val msrc =
          if (fullOuter) FullSrc(paths, keys)
          else JoinSrc(paths, keys, leftSides)
        (cond, msrc, rels.flatMap(_.output))
      case r: DataSourceV2Relation => (cond, SingleSrc(pathOf(r)), r.output.toSeq)
      case other => fail(s"unsupported input ${other.nodeName} (one graft " +
        "table or one inner equi-join of two, optional WHERE only)")
    }
    val (cond, src, outAttrs) = source(agg.child, None)
    cond.foreach { c =>
      if (!c.deterministic) fail("non-deterministic WHERE predicate")
      if (c.references.exists(a => !outAttrs.exists(_.exprId == a.exprId)))
        fail("WHERE references columns outside the source tables")
    }
    // group keys: plain columns, or deterministic scalar EXPRESSIONS over
    // source columns (the calendar-MV shape — date_trunc, year, bucket
    // arithmetic); expressions serialize as unqualified SQL text and
    // re-parse by name against the maintenance frames, like the WHERE
    val groupIds = agg.groupingExpressions.collect {
      case a: AttributeReference => a.exprId
    }.toSet
    val groupExprKeys: Seq[Expression] = agg.groupingExpressions.filterNot(
        _.isInstanceOf[AttributeReference]).map { e =>
      if (!e.deterministic) fail(s"non-deterministic GROUP BY expression '${e.sql}'")
      if (e.exists(_.isInstanceOf[AggregateExpression]))
        fail(s"aggregate inside GROUP BY expression '${e.sql}'")
      if (e.references.exists(a => !outAttrs.exists(_.exprId == a.exprId)))
        fail(s"GROUP BY expression '${e.sql}' references columns outside the source")
      e
    }
    def unqSql(e: Expression): String = e.transform {
      case a: AttributeReference => a.withQualifier(Seq.empty)
    }.sql
    def stripCast(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => stripCast(c)
      case _ => e
    }
    val cols = agg.aggregateExpressions.map {
      case a: AttributeReference if groupIds.contains(a.exprId) =>
        GroupCol(a.name, a.name)
      case Alias(a: AttributeReference, nm) if groupIds.contains(a.exprId) =>
        GroupCol(a.name, nm)
      case Alias(e, nm) if groupExprKeys.exists(_.semanticEquals(e)) =>
        GroupCol(unqSql(e), nm, isExpr = true)
      case Alias(org.apache.spark.sql.catalyst.expressions.HllSketchEstimate(
          ae: AggregateExpression), nm) =>
        if (ae.isDistinct) fail(s"DISTINCT aggregate in '$nm'")
        if (ae.filter.isDefined) fail(s"FILTER clause in aggregate '$nm'")
        ae.aggregateFunction match {
          case h: org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg =>
            stripCast(h.left) match {
              case a: AttributeReference => HllCol(a.name, nm, h.lgConfigK)
              case other => fail(s"hll_sketch_agg over expression " +
                s"'${other.sql}' in '$nm' (plain columns only)")
            }
          case other => fail(s"hll_sketch_estimate over ${other.prettyName} " +
            s"in '$nm' (hll_sketch_agg only)")
        }
      case Alias(ae: AggregateExpression, nm) =>
        if (ae.filter.isDefined) fail(s"FILTER clause in aggregate '$nm'")
        def plainCol(child: Expression, what: String): String =
          stripCast(child) match {
            case a: AttributeReference => a.name
            case other => fail(s"$what over expression '${other.sql}' in '$nm' " +
              "(plain columns only)")
          }
        if (ae.isDistinct) ae.aggregateFunction match {
          // exact count(DISTINCT col): maintained via the dup-count
          // companion relation — see [[DCountCol]]
          case c: Count if c.children.size == 1 =>
            DCountCol(plainCol(c.children.head, "count(DISTINCT)"), nm)
          case other => fail(s"DISTINCT ${other.prettyName} in '$nm' " +
            "(count(DISTINCT col) is the maintainable distinct form; " +
            "approximate alternatives: hll_sketch_estimate(hll_sketch_agg(col)))")
        } else ae.aggregateFunction match {
          case c: Count if c.children.forall(_.foldable) => CountCol(nm)
          case c: Count if c.children.size == 1 =>
            CountNNCol(plainCol(c.children.head, "count"), nm)
          case c: Count => fail(s"multi-argument count in '$nm'")
          case s: Sum => SumCol(plainCol(s.child, "sum"), nm)
          case a: Average => AvgCol(plainCol(a.child, "avg"), nm)
          // the variance family is ALGEBRAIC over (n, sum x, sum x**2):
          // sign-maintainable like sum, published through one shared
          // formula in both batch and incremental paths
          case v: VarianceSamp => VarCol(plainCol(v.child, "var_samp"), nm, "vs")
          case v: VariancePop => VarCol(plainCol(v.child, "var_pop"), nm, "vp")
          case v: StddevSamp => VarCol(plainCol(v.child, "stddev_samp"), nm, "ds")
          case v: StddevPop => VarCol(plainCol(v.child, "stddev_pop"), nm, "dp")
          // min/max are NOT sign-maintainable under removals, but they ARE
          // under pure inserts (least/greatest against the stored value);
          // refresh takes the fast path when a group saw only inserts and
          // RESCANS just the removal-touched groups otherwise
          case m: Min => MinCol(plainCol(m.child, "min"), nm)
          case m: Max => MaxCol(plainCol(m.child, "max"), nm)
          case _: org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg =>
            fail(s"bare hll_sketch_agg in '$nm' (wrap it: " +
              "hll_sketch_estimate(hll_sketch_agg(col)) — the view " +
              "publishes the estimate and keeps the sketch internally)")
          case other => fail(s"aggregate ${other.prettyName} in '$nm'")
        }
      case other => fail(s"unsupported select item '${other.sql}' (every " +
        "aggregate needs an alias; group columns may be renamed)")
    }
    // every group key must be STORED: a grouping column or expression
    // missing from the SELECT would make the maintained view silently
    // coarser than the definition
    val selectedAttrIds = agg.aggregateExpressions.collect {
      case a: AttributeReference => a.exprId
      case Alias(a: AttributeReference, _) => a.exprId
    }.toSet
    if (!groupIds.subsetOf(selectedAttrIds))
      fail("every GROUP BY column must appear in the SELECT (the view stores its keys)")
    val selectedAliased = agg.aggregateExpressions.collect { case Alias(e, _) => e }
    if (!groupExprKeys.forall(k => selectedAliased.exists(_.semanticEquals(k))))
      fail("every GROUP BY expression must appear in the SELECT (the view stores its keys)")
    if (!cols.exists(_.isInstanceOf[GroupCol])) fail("at least one group column required")
    if (!cols.exists(_.isInstanceOf[CountCol]))
      fail("a count(*) column is required (the group-liveness column)")
    val reserved = cols.filter(c => c.out.startsWith("__"))
    if (reserved.nonEmpty) fail(s"output name '${reserved.head.out}' uses the " +
      "reserved internal-column prefix '__'")
    // min/max/hll over a JOIN view maintain through the same removal-
    // rescan device as a single table, with the rescan target being the
    // REBUILT join pinned at the new heads ([[pinnedFrame]]) — the scan
    // is still scoped to removal-touched groups (null-safe semi-join +
    // bounded compile-time key pushdown), but each touched group pays a
    // keyed re-JOIN rather than a keyed re-scan. That is the honest cost
    // of an exact post-removal extreme over a join ("latest price per
    // key" shapes); pure-insert churn keeps the linear least/greatest
    // fast path on every shape.
    // serialize the predicate UNQUALIFIED: it re-applies by name to the
    // delta frame, where the defining catalog.table qualifier means nothing
    (src, cond.map(_.transform {
      case a: AttributeReference => a.withQualifier(Seq.empty)
    }.sql), cols)
  }

  /** The variance family from its algebraic decomposition (n, Σx, Σx²):
    * Σ(x−μ)² = Σx² − (Σx)²/n, clamped at zero (floating-point cancellation
    * on near-constant groups must not surface as sqrt(−ε) = NaN). ONE
    * formula serves batch materialization and the incremental merge, so
    * both paths publish bit-comparable values; SQL NULL semantics:
    * var_samp/stddev_samp need n ≥ 2, the _pop forms n ≥ 1. */
  private def varPublish(kind: String, s: Column, q: Column, n: Column): Column = {
    val m2 = greatest(q - (s * s) / n, lit(0.0))
    kind match {
      case "vs" => when(n > 1L, m2 / (n - lit(1L)))
      case "vp" => when(n > 0L, m2 / n)
      case "ds" => when(n > 1L, sqrt(m2 / (n - lit(1L))))
      case "dp" => when(n > 0L, sqrt(m2 / n))
    }
  }

  /** The view's aggregation, built from the RECOGNIZED specs (never by
    * re-executing user SQL — the recognized form IS the definition).
    * Emits the public columns in definition order, then the internal
    * companions — exactly the MV table's stored schema. avg publishes as
    * `sum / count` (NULL when count is 0) so the batch form and the
    * incremental merge are the SAME formula — bit-identical results. */
  private def aggregate(src: DataFrame, filterSql: Option[String],
      cols: Seq[ColSpec]): DataFrame = {
    val filtered = filterSql.fold(src)(f => src.filter(expr(f)))
    val groups = cols.collect { case g: GroupCol => groupKey(g).as(g.out) }
    val aggs: Seq[Column] = cols.flatMap {
      case _: GroupCol => Seq.empty[Column]
      case CountCol(o) => Seq(count(lit(1)).as(o))
      case CountNNCol(s, o) => Seq(count(col(s)).as(o))
      case SumCol(s, o) => Seq(sum(col(s)).as(o), count(col(s)).as(s"__nn_$o"))
      case AvgCol(s, o) =>
        Seq(sum(col(s)).as(s"__s_$o"), count(col(s)).as(s"__n_$o"))
      case VarCol(s, o, _) =>
        val x = col(s).cast("double")
        Seq(sum(x).as(s"__s_$o"), sum(x * x).as(s"__q_$o"),
          count(col(s)).as(s"__n_$o"))
      case MinCol(s, o) => Seq(min(col(s)).as(o))
      case MaxCol(s, o) => Seq(max(col(s)).as(o))
      case DCountCol(s, o) => Seq(countDistinct(col(s)).as(o))
      // the sketch stores BASE64-encoded (the store codec speaks strings;
      // sketches are <= a few KB, so the 4/3 overhead is noise)
      case HllCol(s, o, lgk) =>
        Seq(base64(hll_sketch_agg(col(s), lgk)).as(s"__h_$o"))
    }
    val agged = filtered.groupBy(groups: _*).agg(aggs.head, aggs.tail: _*)
    val publics = cols.map {
      case AvgCol(_, o) =>
        when(col(s"__n_$o") > 0L, col(s"__s_$o") / col(s"__n_$o")).as(o)
      case VarCol(_, o, kind) =>
        varPublish(kind, col(s"__s_$o"), col(s"__q_$o"), col(s"__n_$o")).as(o)
      case HllCol(_, o, _) =>
        when(col(s"__h_$o").isNotNull,
          hll_sketch_estimate(unbase64(col(s"__h_$o")))).as(o)
      case c => col(c.out)
    }
    agged.select(publics ++ internals(cols).map(col): _*)
  }

  /** Watermark property suffix for source index i: "" / "2" / "3" / … —
    * the 2-table layout is byte-identical to the pre-N-way format, so
    * existing views keep refreshing without migration. */
  private def sfx(i: Int): String = if (i == 0) "" else (i + 1).toString

  private def wmProps(src: MvSource, filterSql: Option[String], cols: Seq[ColSpec],
      sql: String, wms: Seq[(Int, String)]): Map[String, String] = {
    val base = Map("graft.mv" -> "true",
      "graft.mv.cols" -> encodeCols(cols), "graft.mv.query" -> sql,
      "graft.mv.watermark" -> wms.head._1.toString,
      "graft.mv.wmname" -> wms.head._2) ++
      filterSql.map("graft.mv.filter" -> _)
    def joinProps(paths: Seq[String], keys: Seq[(Int, String, Int, String)],
        typeProps: Seq[(String, String)]): Map[String, String] = {
      val srcs = paths.zipWithIndex.map { case (p, i) =>
        s"graft.mv.source${sfx(i)}" -> p
      }
      val wmRest = wms.zipWithIndex.drop(1).flatMap { case ((w, nm), i) =>
        Seq(s"graft.mv.watermark${sfx(i)}" -> w.toString,
          s"graft.mv.wmname${sfx(i)}" -> nm)
      }
      // the classic 2-table chain keeps the legacy "a:b" key format;
      // anything else records explicit side indices
      val keyProp =
        if (paths.size == 2 && keys.forall(k => k._1 == 0 && k._3 == 1))
          "graft.mv.keys" -> keys.map { case (_, a, _, b) =>
            s"${enc(a)}:${enc(b)}" }.mkString(";")
        else
          "graft.mv.keysn" -> keys.map { case (i, a, j, b) =>
            s"$i:${enc(a)}:$j:${enc(b)}" }.mkString(";")
      base ++ srcs ++ wmRest + keyProp ++ typeProps
    }
    src match {
      case SingleSrc(p) => base + ("graft.mv.source" -> p)
      case JoinSrc(paths, keys, leftSides) =>
        joinProps(paths, keys,
          if (leftSides.isEmpty) Seq.empty
          else if (leftSides == (1 until paths.size).toSet)
            Seq("graft.mv.jointype" -> "left") // legacy all-left format
          else Seq("graft.mv.jointype" -> "mixed",
            "graft.mv.lefts" -> leftSides.toSeq.sorted.mkString(",")))
      case FullSrc(paths, keys) =>
        joinProps(paths, keys, Seq("graft.mv.jointype" -> "full"))
    }
  }

  private[v2] def decodeSource(props: Map[String, String]): MvSource = {
    if (!props.contains("graft.mv.source2"))
      return SingleSrc(props("graft.mv.source"))
    val paths = Seq(props("graft.mv.source")) ++
      Iterator.from(2).map(i => props.get(s"graft.mv.source$i"))
        .takeWhile(_.isDefined).map(_.get)
    val keys = props.get("graft.mv.keysn") match {
      case Some(kn) => kn.split(";", -1).toSeq.map { kv =>
        val Array(i, a, j, b) = kv.split(":", 4)
        (i.toInt, dec(a), j.toInt, dec(b))
      }
      case None => props("graft.mv.keys").split(";", -1).toSeq.map { kv =>
        val Array(a, b) = kv.split(":", 2); (0, dec(a), 1, dec(b))
      }
    }
    props.get("graft.mv.jointype") match {
      case Some("full") => FullSrc(paths, keys)
      case Some("left") => JoinSrc(paths, keys, (1 until paths.size).toSet)
      case Some("mixed") => JoinSrc(paths, keys,
        props("graft.mv.lefts").split(",").map(_.toInt).toSet)
      case _ => JoinSrc(paths, keys)
    }
  }

  /** Bounded compile-time key predicate — the [[pruneByChurnKeys]] device
    * for non-join scans: when the key frame's distinct rows number ≤ cap
    * (1000), build a pushable per-column predicate over the target
    * columns — In over the non-null values, OR'd with IsNull where NULL
    * appears in the key set. None when over cap; callers keep their exact
    * (null-safe) semi-join either way, this only prunes files. */
  private[v2] def boundedKeyPred(keys: DataFrame, keyCols: Seq[String],
      targetCols: Seq[String]): Option[Column] = {
    val sel = keys.select(keyCols.map(col): _*)
    // a driver-local key frame is read without a job (duplicate rows
    // would only repeat IN values; they are dropped for the cap count)
    val rows =
      if (GraftLocal.rows(sel).isDefined) sel.collect().distinct.take(1001)
      else sel.distinct().limit(1001).collect()
    // an EMPTY key set is the strongest predicate, not the weakest: every
    // caller pairs this with an exact (semi-)join on the same keys, whose
    // output is empty for empty keys — `false` skips the scan entirely
    // instead of falling back to a full one
    if (rows.isEmpty) return Some(lit(false))
    // over-cap churn: degrade GRACEFULLY to a per-column [min, max]
    // range instead of abandoning pruning — min/max file skipping still
    // participates, and the caller's exact join keeps semantics
    if (rows.length > 1000) return rangeKeyPred(keys, keyCols, targetCols)
    Some(targetCols.zipWithIndex.map { case (tc, i) =>
      val vs = rows.map(_.get(i)).distinct
      val nonNull = vs.filter(_ != null)
      val base =
        if (nonNull.isEmpty) lit(false)
        else col(tc).isin(nonNull.toIndexedSeq: _*)
      if (vs.contains(null)) base || col(tc).isNull else base
    }.reduce(_ && _))
  }

  /** OVER-CAP fallback for [[boundedKeyPred]]/[[pruneByChurnKeys]]: a
    * per-column `[min, max]` range over the key frame (OR IS NULL where
    * NULL appears) — a SUPERSET of the exact key set, so every caller's
    * exact (null-safe) join keeps semantics while min/max file-stat
    * skipping still prunes the scan. Costs ONE bounded aggregation of
    * the (churn-sized) key frame and transfers one driver row — the
    * graceful half of the pruning cliff: churn past 1000 distinct keys
    * loses IN precision, never all pruning. None for unorderable key
    * types (the caller stays conservative, exactly as before). */
  private def rangeKeyPred(keys: DataFrame, keyCols: Seq[String],
      targetCols: Seq[String]): Option[Column] =
    try {
      val aggs = keyCols.flatMap(k => Seq(min(col(k)), max(col(k)),
        max(when(col(k).isNull, 1).otherwise(0))))
      val r = keys.agg(aggs.head, aggs.tail: _*).collect()(0)
      Some(targetCols.zipWithIndex.map { case (tc, i) =>
        val lo = r.get(3 * i)
        val hi = r.get(3 * i + 1)
        val hasNull = !r.isNullAt(3 * i + 2) && r.getInt(3 * i + 2) == 1
        val base =
          if (lo == null) lit(false) // all-NULL key column: no equi-match
          else col(tc) >= lit(lo) && col(tc) <= lit(hi)
        if (hasNull) base || col(tc).isNull else base
      }.reduce(_ && _))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Materialize a bounded churn KEY FRAME for reuse. A frame derived
    * from a driver-local churn frame is already a LOCAL relation and is
    * returned as is, with no job. Any other frame is collected once here
    * (≤ cap+1 rows — it derives from an already-materialized netted-churn
    * frame, so the collect is a cheap cached-read job): within the cap it
    * is re-issued as a LOCAL relation,
    * so the downstream [[boundedKeyPred]] collect becomes driver-local (no
    * job), the exact semi-joins broadcast it without a scan job, and the
    * former eager-checkpoint job disappears — three fewer Spark jobs per
    * key frame on the refresh path. Over the cap it degrades to the usual
    * [[graft.operators.IterGuard]] checkpoint: identical frames, identical
    * semantics, churn-proportional exactly as before. */
  private def materializeKeys(df: DataFrame): DataFrame =
    if (GraftLocal.rows(df).isDefined) df // already on the driver: no job
    else {
      val rows = df.limit(1001).collect()
      if (rows.length <= 1000)
        df.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
      else graft.operators.IterGuard(df)
    }

  /** [[materializeKeys]] of the DISTINCT rows of `df`: a driver-local
    * frame dedupes on the driver, with no job. */
  private def materializeDistinctKeys(df: DataFrame): DataFrame =
    GraftLocal.distinct(df).getOrElse(materializeKeys(df.distinct()))

  /** Collapse carried-identical ± pairs down to NET row churn: a
    * rewritten file re-emits its unchanged rows as -1/+1 pairs (a 1-row
    * MOR update of a 250-row file yields 500 signed rows), which the
    * aggregation algebra cancels — but only AFTER the pairs have inflated
    * every delta term, join, and churn-key set to file size. Grouping by
    * the full row and summing signs is exact for every consumer here
    * (the refresh treats deltas as a signed multiset; magnitudes ±k ride
    * in _sign) and shrinks delta volume and the pushed-down key sets to
    * TRUE churn size. Frames with unorderable (map) columns skip the
    * collapse — grouping would refuse — and just stay conservative. */
  private def netChurn(df: DataFrame): DataFrame = {
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case st: org.apache.spark.sql.types.StructType => st.exists(f => hasMap(f.dataType))
      case at: org.apache.spark.sql.types.ArrayType => hasMap(at.elementType)
      case _ => false
    }
    if (df.schema.exists(f => hasMap(f.dataType))) return df
    val cols0 = df.columns.filterNot(_ == "_sign").toSeq
    df.groupBy(cols0.map(col): _*)
      .agg(sum(col("_sign")).cast(LongType).as("_sign"))
      .filter(col("_sign") =!= 0L)
  }

  /** Bounded key-pushdown along the join graph OUTWARD from the churned
    * side: every frame adjacent to an already-pruned frame gains a
    * COMPILE-TIME In filter on its join column when the pruned side's
    * distinct key set is small (cap 1000). DPP cannot prune these scans —
    * the build side is a computed delta with no selective predicate — so
    * without this every dim-churn delta term rescans the pinned fact
    * corpus; with it the term's scans are churn-key-scoped and min/max
    * file skipping participates (lay the fact out by join key to cash
    * this in). The cascade is transitive (Δnation prunes customer, the
    * pruned customer's keys prune the fact); an over-cap side stops the
    * cascade along its branch — the join itself stays exact either way,
    * and the driver transfer is always ≤ cap+1 rows per hop. */
  private[v2] def pruneByChurnKeys(frames0: Seq[DataFrame],
      keys: Seq[(Int, String, Int, String)], churned: Int): Seq[DataFrame] = {
    val cap = 1000
    val frames = frames0.toArray
    val visited = scala.collection.mutable.Set(churned)
    val queue = scala.collection.mutable.Queue(churned)
    while (queue.nonEmpty) {
      val cur = queue.dequeue()
      keys.foreach { case (sa, ca, sb, cb) =>
        val hop =
          if (sa == cur && !visited(sb)) Some((ca, sb, cb))
          else if (sb == cur && !visited(sa)) Some((cb, sa, ca))
          else None
        hop.foreach { case (curCol, other, otherCol) =>
          // NULL keys never equi-match: dropping them keeps the IN exact;
          // a driver-local churn frame is read without a job
          val sel = frames(cur).select(col(curCol)).na.drop()
          val vals =
            if (GraftLocal.rows(sel).isDefined)
              sel.collect().map(_.get(0)).distinct.take(cap + 1)
            else sel.distinct().limit(cap + 1).collect().map(_.get(0))
          visited += other
          if (vals.length <= cap) {
            frames(other) = frames(other)
              .filter(col(otherCol).isin(vals.toIndexedSeq: _*))
            queue += other // the pruned frame cascades further out
          } else {
            // over-cap churn: fall back to a [min, max] range — still a
            // superset of the key set (join stays exact) and still
            // file-stat-skippable, instead of rescanning the corpus.
            // The cascade stops here: deriving further key sets would
            // mean a distinct-scan of the range-pruned corpus frame.
            rangeKeyPred(frames(cur), Seq(curCol), Seq(otherCol))
              .foreach(p => frames(other) = frames(other).filter(p))
          }
        }
      }
    }
    frames.toIndexedSeq
  }

  /** Join per-source frames along the recognized equi-key graph: greedy
    * by connectivity from side 0 (recognize() proved the graph connected);
    * a redundant cycle pair becomes a post-join equality filter. Names are
    * globally disjoint, so conditions resolve unambiguously by name. */
  private def joinFrames(frames: Seq[DataFrame],
      keys: Seq[(Int, String, Int, String)],
      leftSides: Set[Int]): DataFrame = {
    if (leftSides.nonEmpty) {
      // left-deep chain in declaration order: side i joins the
      // accumulated prefix — LEFT OUTER or INNER per its entry type —
      // on every key pairing it with an earlier side (keys are
      // normalized parent-first, so k._3 == i selects them; names are
      // globally disjoint, so prefix resolution is by name)
      var cur = frames.head
      for (i <- 1 until frames.size) {
        val nf = frames(i)
        val cond = keys.collect { case (_, pa, b, cb) if b == i =>
          cur(pa) === nf(cb) }.reduce(_ && _)
        cur = cur.join(nf, cond,
          if (leftSides(i)) "left_outer" else "inner")
      }
      return cur
    }
    var included = Set(0)
    var cur = frames(0)
    var pending = keys.toList
    while (included.size < frames.size) {
      val next = frames.indices.find(i => !included(i) && pending.exists {
        case (x, _, y, _) => (included(x) && y == i) || (included(y) && x == i)
      }).getOrElse(throw new IllegalStateException(
        "graft mview: disconnected join graph (recognize should have refused)"))
      val (here, later) = pending.partition { case (x, _, y, _) =>
        (included(x) && y == next) || (included(y) && x == next)
      }
      val nf = frames(next)
      val cond = here.map { case (x, a, _, b) =>
        if (x == next) nf(a) === cur(b) else cur(a) === nf(b)
      }.reduce(_ && _)
      cur = cur.join(nf, cond, "inner")
      included += next
      pending = later
    }
    if (pending.isEmpty) cur
    else cur.filter(pending.map { case (_, a, _, b) => col(a) === col(b) }
      .reduce(_ && _))
  }

  /** The maintained relation pinned at the given snapshot(s): the table
    * itself, or the recognized join of all sources. */
  private def pinnedFrame(spark: SparkSession, src: MvSource,
      heads: Seq[Int]): DataFrame = src match {
    case SingleSrc(p) =>
      spark.read.format("graft-store").option("snapshot", heads.head).load(p)
    case JoinSrc(paths, keys, leftSides) =>
      joinFrames(paths.indices.map(i => spark.read.format("graft-store")
        .option("snapshot", heads(i)).load(paths(i))), keys, leftSides)
    case FullSrc(paths, keys) =>
      val fa = spark.read.format("graft-store")
        .option("snapshot", heads(0)).load(paths(0))
      val fb = spark.read.format("graft-store")
        .option("snapshot", heads(1)).load(paths(1))
      fa.join(fb, keys.map { case (_, a, _, b) => fa(a) === fb(b) }
        .reduce(_ && _), "full_outer")
  }

  /** Dup-count companion table location for a [[DCountCol]] output. A
    * SUBDIRECTORY of the view: scans are manifest-driven and orphan
    * removal is name-anchored, so the nested table is invisible to the
    * view's own lifecycle and dies with it on drop. */
  private def dckPath(mvPath: String, out: String): String =
    s"$mvPath/_dck_$out"

  /** The companion's own watermark property value: the same (snapshot,
    * manifest-name) pairs the view stamps, so the companion can tell
    * "already absorbed this churn" from "behind by one refresh" from
    * "unrecognizable — rebuild". */
  private def dckWm(wms: Seq[(Int, String)]): String =
    wms.map { case (w, nm) => s"$w:${enc(nm)}" }.mkString(",")

  /** Full (re)build of one dup-count companion from the pinned source
    * frame: one row per surviving (group…, value) pair. */
  private def writeCompanion(spark: SparkSession, cp: String, pf: DataFrame,
      filterSql: Option[String], cols: Seq[ColSpec], src0: String,
      wmProp: String): Unit = {
    val groupOuts = cols.collect { case g: GroupCol => g }
    val filtered = filterSql.fold(pf)(f => pf.filter(expr(f)))
    filtered.filter(col(src0).isNotNull)
      .groupBy(groupOuts.map(g => groupKey(g).as(g.out)) :+
        col(src0).as("__dv"): _*)
      .agg(count(lit(1)).cast(LongType).as("__dc"))
      // range-cluster on the group keys: refresh-time key-scoped reads
      // of the (distinct-pairs-sized) companion skip files via stats
      .repartitionByRange(groupOuts.map(g => col(g.out)) :+ col("__dv"): _*)
      .write.format("graft-store").option("dmlMode", "mor")
      .option("setProps", s"${enc("graft.dck.wms")}:${enc(wmProp)}")
      .mode("overwrite").save(cp)
  }

  private def writeFull(spark: SparkSession, mvPath: String, src: MvSource,
      filterSql: Option[String], cols: Seq[ColSpec], wms2: Seq[(Int, String)],
      props: Map[String, String]): Long = {
    val heads = wms2.map(_._1)
    val pf = pinnedFrame(spark, src, heads)
    // the aggregate executes exactly once (this write); the row count
    // comes from the committed manifest. The former IterGuard + count()
    // pair cost two extra Spark jobs per full (re)build for a number the
    // write already knows — and a plain write recomputes from the pinned
    // source on task retry, so no checkpoint is needed for reliability.
    aggregate(pf, filterSql, cols)
      .write.format("graft-store").option("dmlMode", "mor")
      .option("setProps", props.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${enc(k)}:${enc(v)}" }.mkString(","))
      .mode("overwrite").save(mvPath)
    val n = GraftStoreFormat
      .readLatestManifest(mvPath, spark.sparkContext.hadoopConfiguration)
      .map(_.files.map(_.rows).sum).getOrElse(0L)
    cols.foreach {
      case DCountCol(s0, o) =>
        writeCompanion(spark, dckPath(mvPath, o), pf, filterSql, cols, s0,
          dckWm(wms2))
      case _ => ()
    }
    n
  }

  private def srcPaths(src: MvSource): Seq[String] = src match {
    case SingleSrc(p) => Seq(p)
    case JoinSrc(ps, _, _) => ps
    case FullSrc(ps, _) => ps
  }

  /** CREATE: recognize, pin the source head(s), materialize at those
    * snapshots, and publish table + metadata + watermark(s) as the
    * creating commit. Returns (rows materialized, watermark snapshot of
    * the first source). */
  def create(spark: SparkSession, mvPath: String, sql: String): (Long, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(GraftStoreFormat.readLatestManifest(mvPath, conf).isEmpty,
      s"graft mview: a table already exists at $mvPath")
    val (src, filterSql, cols) =
      recognize(spark.sql(sql).queryExecution.analyzed)
    val wms = srcPaths(src).map { p =>
      val ms = GraftStoreFormat.listManifests(p, conf)
      require(ms.nonEmpty, s"graft mview: source $p has no snapshots")
      (ms.size - 1, ms.last.getName)
    }
    val n = writeFull(spark, mvPath, src, filterSql, cols, wms,
      wmProps(src, filterSql, cols, sql, wms))
    // register the dependent on its SOURCE(s) (the `_mvdeps.d` sidecar —
    // NOT a commit: registering must not advance the source's history,
    // which would stale the view it just created): the
    // transparent-rewrite rule ([[GraftMviewRewriteRule]]) follows these
    // pointers instead of enumerating any catalog. Join views register
    // on BOTH sides — the rule validates the full join shape from the
    // view's own metadata whichever side it discovers it through.
    srcPaths(src).foreach(p => GraftStoreFormat.addMvDep(p, conf, mvPath))
    (n, wms.head._1)
  }

  /** CONTINUOUS maintenance: a Structured Streaming TRIGGER that runs an
    * incremental [[refresh]] after every micro-batch of new source
    * commits. The stream carries no state of its own — each refresh
    * reads the churn between the DURABLE watermark and the source head
    * and publishes atomically, so a replayed batch (restart, crash) is a
    * no-op by construction: exactly-once effect without touching the
    * checkpoint's semantics. The batch DataFrame itself is never
    * executed — the stream is pure commit-notification plumbing; the
    * refresh does its own (churn-proportional) reads. */
  def streamRefresh(spark: SparkSession, mvPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val props = GraftStoreOps.tableProps(spark, mvPath)
    require(props.get("graft.mv").contains("true"),
      s"graft mview: $mvPath is not a materialized view")
    // the trigger stream: the source's commits — or, for a JOIN view,
    // the UNION of BOTH sides' commit streams (each normalized to a
    // 1-column tick frame: the schemas differ and the rows are never
    // read anyway), so a commit on EITHER side runs the delta-rule
    // refresh. Dim corrections reach the view as fast as fact ingest.
    val ticks = srcPaths(decodeSource(props)).map { p =>
      spark.readStream.format("graft-store").load(p).select(lit(1).as("tick"))
    }.reduce(_ union _)
    ticks.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        refresh(spark, mvPath); ()
      }
      .start()
  }

  /** REFRESH: no-op if the watermark is the head; INCREMENTAL (signed
    * deltas -> changed-group merge -> one replace-by-key commit) when the
    * watermark snapshot is still retained; FULL recompute (overwrite,
    * still pinned + atomically stamped) when it expired or on
    * `forceFull`. Returns (mode, groups changed, groups deleted, new
    * watermark). */
  def refresh(spark: SparkSession, mvPath: String,
      forceFull: Boolean = false): (String, Long, Long, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val props = GraftStoreOps.tableProps(spark, mvPath)
    require(props.get("graft.mv").contains("true"),
      s"graft mview: $mvPath is not a materialized view")
    val src = decodeSource(props)
    val filterSql = props.get("graft.mv.filter")
    val cols = decodeCols(props("graft.mv.cols"))
    val paths = srcPaths(src)
    val wms = paths.indices.map { i =>
      (props(s"graft.mv.watermark${sfx(i)}").toInt,
        props(s"graft.mv.wmname${sfx(i)}"))
    }
    val msAll = paths.map { p =>
      val ms = GraftStoreFormat.listManifests(p, conf)
      require(ms.nonEmpty, s"graft mview: source $p has no snapshots")
      ms
    }
    val heads = msAll.map(_.size - 1)
    // a stored watermark is valid iff the manifest it indexed is STILL
    // the same file (expiry renumbers nothing, it deletes — a vanished or
    // shifted name means the delta base is gone)
    val wmValid = wms.zip(msAll).forall { case ((w, nm), ms) =>
      w < ms.size && ms(w).getName == nm
    }
    val atHead = wms.map(_._1) == heads
    if (wmValid && atHead && !forceFull) return ("noop", 0L, 0L, wms.head._1)
    val newProps = wmProps(src, filterSql, cols, props("graft.mv.query"),
      heads.zip(msAll).map { case (h, ms) => (h, ms(h).getName) })
    val mvSchema = spark.read.format("graft-store").load(mvPath).schema
    // an MV stored before the companion-column format self-heals here: a
    // full recompute rewrites it in the current shape
    val legacy = !internals(cols).forall(mvSchema.fieldNames.contains)
    if (forceFull || !wmValid || legacy) {
      val n = writeFull(spark, mvPath, src, filterSql, cols,
        heads.zip(msAll).map { case (h, ms) => (h, ms(h).getName) }, newProps)
      return ("full", n, 0L, heads.head)
    }
    // ---- incremental ----
    // every maintenance frame below is churn-sized, not corpus-sized: the
    // manifest-level churn row estimate (a driver-side metadata read, no
    // job) decides which of them stay on the driver (see
    // [[LocalFrameRows]])
    val localBound = localFrameRows.value
    val estimates = paths.indices.map { i =>
      if (wms(i)._1 == heads(i)) 0L
      else GraftStoreOps.signedChangeRowEstimate(spark, paths(i), wms(i)._1, heads(i))
    }
    // the signed churn of source i, its carried ± pairs collapsed when its
    // reads can produce any (appends and grown masks cannot)
    def churnAt(p: String, i: Int): DataFrame = {
      val signed = GraftStoreOps.signedChanges(spark, p, wms(i)._1, heads(i))
      if (GraftStoreOps.signedChangesMayCarry(spark, p, wms(i)._1, heads(i)))
        netChurn(signed)
      else signed
    }
    // one collect onto the driver when the frame's rows are bounded by
    // `rows` ≤ the local bound, else the usual checkpoint
    def materialize(df: DataFrame, rows: Long): DataFrame =
      if (rows <= localBound) GraftLocal.collect(df)
      else graft.operators.IterGuard(df)
    // the signed churn of the MAINTAINED RELATION. Single table: the
    // source's own +1/-1 deltas. Join: the delta rule
    //   Δ(R⋈S) = ΔR ⋈ S_new  ∪  R_old ⋈ ΔS
    // (exact by telescoping: ΔR⋈S_new covers ΔR⋈S_old + ΔR⋈ΔS), each term
    // carrying its delta side's sign — churn-side volume joins against
    // ONE pinned snapshot of the other side, never corpus × corpus.
    def pinnedAt(i: Int, snap: Int): DataFrame =
      spark.read.format("graft-store").option("snapshot", snap).load(paths(i))
    // materialize the requested sides' netted churn ONCE each, submitting
    // the independent collect or eager-checkpoint jobs CONCURRENTLY (guide
    // §2.6: actions are only sequential because the driver calls them
    // sequentially): each job is churn-sized and tiny, so overlapping
    // them hides the per-action driver gap (planning + scheduling —
    // scheduler latency on a real cluster) that dominates refresh cost.
    // Identical frames to the sequential form; order-independent.
    def churnedDeltasAt(paths2: Seq[String], idx: Seq[Int]): Map[Int, DataFrame] = {
      def one(i: Int) = materialize(churnAt(paths2(i), i), estimates(i))
      if (idx.size <= 1) idx.map(i => i -> one(i)).toMap
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        idx.map(i => i -> Future(one(i)))
          .map { case (i, f) => i -> Await.result(f, Duration.Inf) }.toMap
      }
    }
    val hasDCount = cols.exists(_.isInstanceOf[DCountCol])
    val signed = src match {
      case SingleSrc(p) =>
        // read twice (deltas and the dup-count churn) only with a
        // COUNT(DISTINCT) column: then a driver-sized churn is collected
        // once; otherwise the deltas' one job reads it directly
        val net = churnAt(p, 0)
        if (hasDCount && estimates.head <= localBound) GraftLocal.collect(net) else net
      case JoinSrc(paths2, keys, ls) if ls.isEmpty =>
        // N-WAY delta rule, one term per CHURNED side i:
        //   Δi = R1_old ⋈ … ⋈ R(i-1)_old ⋈ ΔRi ⋈ R(i+1)_new ⋈ … ⋈ Rn_new
        // Telescoping makes the sum exactly new-join − old-join, and an
        // UNCHURNED side contributes no term at all — the common
        // fact-only refresh stays churn⋈dims-sized. Each term joins the
        // churn against PINNED snapshots, so a concurrent commit cannot
        // skew any term.
        // netted churn is materialized BEFORE pruneByChurnKeys (its
        // per-edge driver collects and the delta term itself would
        // otherwise re-execute the signedChanges scan per hop) — all
        // churned sides' checkpoint jobs submitted concurrently
        val diAt = churnedDeltasAt(paths2,
          paths2.indices.filter(i => wms(i)._1 != heads(i)))
        val terms = paths2.indices.flatMap { i =>
          if (wms(i)._1 == heads(i)) None
          else {
            val di = diAt(i)
            val frames = paths2.indices.map { j =>
              if (j == i) di
              else if (j < i) pinnedAt(j, wms(j)._1)
              else pinnedAt(j, heads(j))
            }
            // scope the pinned sides to the churn's keys (see
            // [[pruneByChurnKeys]]) — a dim-churn term must never rescan
            // the fact corpus
            Some(joinFrames(pruneByChurnKeys(frames, keys, i), keys,
              Set.empty))
          }
        }
        if (terms.isEmpty) throw new IllegalStateException(
          "graft mview: unreachable — noop returned above when all at head")
        terms.reduce(_.unionByName(_))
      case FullSrc(paths2, keys) =>
        // 2-TABLE FULL OUTER delta rule (the symmetric completion of the
        // Larson & Zhou ICDE'07 outer-join IVM): BOTH sides null-extend,
        // so churn on either side can flip the OTHER side's rows between
        // matched and null-extended. Telescope old→new one side at a
        // time — side 0 flips against side-1 OLD, side 1 against side-0
        // NEW — and each churned side contributes:
        //   ± pair: the full join with that side at new vs old, BOTH
        //   sides restricted to the side's churned (non-NULL) key
        //   combos K — per-key locality holds exactly as for left
        //   chains, and unchurned/NULL-key rows cancel identically in
        //   the two variants, so excluding them from both is exact;
        //   linear NULL-key term: a churned row with any NULL key
        //   component never equi-matches — in a FULL join it is exactly
        //   ONE null-extended output row, added with its own sign (the
        //   one term a left-style K restriction would miss, because on
        //   the null-PRODUCING side such rows still contribute).
        val myKeys2 = keys.map(k => (k._2, k._4)) // (colA, colB)
        val diAt = churnedDeltasAt(paths2,
          paths2.indices.filter(i => wms(i)._1 != heads(i)))
        def fullTerm(i: Int): Option[DataFrame] =
          if (wms(i)._1 == heads(i)) None
          else {
            val di = diAt(i)
            val ownKeyCols =
              if (i == 0) myKeys2.map(_._1) else myKeys2.map(_._2)
            val othKeyCols =
              if (i == 0) myKeys2.map(_._2) else myKeys2.map(_._1)
            val kf = di.select(ownKeyCols.zipWithIndex.map { case (c, x) =>
                col(c).as(s"__jk_$x") }: _*)
              .na.drop("any")
              .transform(materializeDistinctKeys)
            // NOT eagerly checkpointed: the restricted frame is a
            // churn-key-scoped scan (bounded IN for file skipping +
            // broadcast semi-join against the bounded key frame) — cheap
            // enough that re-executing it inside the single signed-delta
            // job beats paying a separate materialization action per side
            // (the per-action driver gap was the measured refresh floor)
            def restrictTo(f0: DataFrame, cols2: Seq[String]): DataFrame = {
              val pre = boundedKeyPred(kf,
                cols2.indices.map(x => s"__jk_$x"), cols2).fold(f0)(f0.filter)
              pre.join(kf, cols2.zipWithIndex.map { case (c2, x) =>
                  pre(c2) === kf(s"__jk_$x") }.reduce(_ && _), "left_semi")
            }
            // telescoping state of the OTHER side in THIS term
            val otherSnap = if (i == 0) wms(1)._1 else heads(0)
            val other = restrictTo(pinnedAt(1 - i, otherSnap), othKeyCols)
            def variant(snap: Int, sign: Long): DataFrame = {
              val own = restrictTo(pinnedAt(i, snap), ownKeyCols)
              val (fa, fb) = if (i == 0) (own, other) else (other, own)
              fa.join(fb, myKeys2.map { case (ca, cb) =>
                  fa(ca) === fb(cb) }.reduce(_ && _), "full_outer")
                .withColumn("_sign", lit(sign))
            }
            val pair = variant(heads(i), 1L)
              .unionByName(variant(wms(i)._1, -1L))
            // NULL-key churn: pad the other side's columns with NULLs
            val nullRows = di.filter(
              ownKeyCols.map(c => col(c).isNull).reduce(_ || _))
            val otherSchema = pinnedAt(1 - i, otherSnap).schema
            val padded = otherSchema.fields.foldLeft(nullRows) { (df, f) =>
              df.withColumn(f.name, lit(null).cast(f.dataType))
            }
            Some(pair.unionByName(padded))
          }
        Seq(fullTerm(0), fullTerm(1)).flatten match {
          case Seq() => throw new IllegalStateException(
            "graft mview: unreachable — noop returned above when all at head")
          case ts => ts.reduce(_.unionByName(_))
        }
      case JoinSrc(paths2, keys, leftSides) =>
        // LEFT-DEEP LEFT OUTER CHAIN delta rule (n ≥ 2 sides; n = 2 is
        // the classic Larson & Zhou ICDE'07 outer-join IVM shape).
        // Telescope the states old→new flipping ONE side per term — dims
        // in chain order first, the fact LAST:
        //   fact term: ΔF ⟕ d1_new ⟕ … ⟕ dn_new — linear, because a
        //   left join is row-local in its LEFT argument;
        //   dim term i: ± pair of the FULL chain with side i at new vs
        //   old, every other side pinned at this telescoping step's
        //   state (dims j<i NEW, dims j>i OLD, fact OLD).
        // Left joins are PER-KEY LOCAL: a chain row's side-i columns
        // depend only on the side-i rows sharing its key, so the ± pair
        // cancels identically for every prefix row whose side-i key is
        // unchurned — and the null-extension transitions (a key gaining
        // its first match retracts its null-extended rows; a key losing
        // its last match re-creates them) fall out of the pair without
        // any persistent match-count companion. Both variants restrict
        // IDENTICALLY to the churned keys: side i by key ∈ K_i, and
        // every side on the parent path down to the fact by the key
        // VALUES that can reach K_i — value-based semi-joins (plus the
        // bounded compile-time IN for file skipping), so a currently
        // unmatched row with a churned key still participates, and every
        // scan in a dim term is churn-key-scoped, never corpus-sized.
        // Cancellation stays exact under the restriction because rows
        // excluded on one side are excluded on both.
        val n = paths2.size
        val parentOf: Map[Int, Int] = (1 until n).map { i =>
          i -> keys.filter(_._3 == i).map(_._1).head }.toMap
        val t0: Option[DataFrame] =
          if (wms.head._1 == heads.head) None
          else {
            val d0 = churnAt(paths2.head, 0)
            Some(joinFrames(
              d0 +: (1 until n).map(j => pinnedAt(j, heads(j))),
              keys, leftSides))
          }
        // INNER-entered churned dims are materialized (pruneByChurnKeys'
        // per-edge collects and the term itself re-read the churn),
        // concurrently across sides; a LEFT-entered dim's churn feeds
        // ONLY its bounded key collect, so materializing it was one pure
        // waste action per churned left dim — the collect now executes
        // the netted-churn plan directly
        val diAt = churnedDeltasAt(paths2, (1 until n)
          .filter(i => wms(i)._1 != heads(i) && !leftSides(i)))
        val dimTerms: Seq[DataFrame] = (1 until n).flatMap { i =>
          if (wms(i)._1 == heads(i)) None
          else {
            val di = if (leftSides(i)) churnAt(paths2(i), i) else diAt(i)
            val myKeys = keys.filter(_._3 == i) // (parent, pcol, i, icol)
            // the state each OTHER side is pinned at in THIS term
            def pin(j: Int): DataFrame = pinnedAt(j,
              if (j > 0 && j < i) heads(j) else wms(j)._1)
            if (!leftSides(i)) {
              // an INNER-entered side is (bi)linear in the chain even
              // under downstream LEFT steps (a left join is row-local in
              // its LEFT argument, and the signed multiset distributes):
              // the term is simply the chain with Δi at position i,
              // scans scoped by the bounded key cascade
              val frames = (0 until n).map(j => if (j == i) di else pin(j))
              Some(joinFrames(pruneByChurnKeys(frames, keys, i),
                keys, leftSides))
            } else {
            // K_i: churned key combos (NULL components never equi-match)
            val kf0 = di.select(myKeys.zipWithIndex.map { case (k, x) =>
                col(k._4).as(s"__jk_$x") }: _*)
              .na.drop("any")
              .transform(materializeDistinctKeys)
            // value-based restriction: bounded compile-time IN (file
            // skipping) + exact semi-join against the key frame
            def restrict(f0: DataFrame, cols2: Seq[String],
                kf: DataFrame): DataFrame = {
              val pre = boundedKeyPred(kf,
                cols2.indices.map(x => s"__jk_$x"), cols2)
                .fold(f0)(f0.filter)
              pre.join(kf, cols2.zipWithIndex.map { case (c2, x) =>
                  pre(c2) === kf(s"__jk_$x") }.reduce(_ && _), "left_semi")
            }
            // walk the parent path i → … → 0, restricting each side to
            // the key values that can reach K_i. Walk frames stay
            // eagerly checkpointed: each is consumed up to 3× (the next
            // hop's key collect + both ± variants' broadcasts — every
            // broadcast exchange is its own job that would re-execute
            // an uncheckpointed scan; measured as a 1.18× regression on
            // the left-chain fixture when dropped). The single-use
            // per-variant side-i frames below are NOT checkpointed —
            // their one broadcast job executes the scan directly,
            // saving the materialization action.
            val restricted = scala.collection.mutable.Map.empty[Int, DataFrame]
            var kf = kf0
            var child = i
            while (child != 0) {
              val par = parentOf(child)
              val childKeys = keys.filter(_._3 == child)
              val fj = graft.operators.IterGuard(
                restrict(pin(par), childKeys.map(_._2), kf))
              restricted(par) = fj
              if (par != 0) {
                val parKeys = keys.filter(_._3 == par)
                kf = fj.select(parKeys.zipWithIndex.map { case (k, x) =>
                    col(k._4).as(s"__jk_$x") }: _*)
                  .na.drop("any")
                  .transform(materializeDistinctKeys)
              }
              child = par
            }
            def variant(newSide: Boolean, sign: Long): DataFrame = {
              val fi = restrict(
                pinnedAt(i, if (newSide) heads(i) else wms(i)._1),
                myKeys.map(_._4), kf0)
              val frames = (0 until n).map { j =>
                if (j == i) fi else restricted.getOrElse(j, pin(j))
              }
              joinFrames(frames, keys, leftSides)
                .withColumn("_sign", lit(sign))
            }
            Some(variant(newSide = true, 1L)
              .unionByName(variant(newSide = false, -1L)))
            }
          }
        }
        (t0.toSeq ++ dimTerms) match {
          case Seq() => throw new IllegalStateException(
            "graft mview: unreachable — noop returned above when all at head")
          case ts => ts.reduce(_.unionByName(_))
        }
    }
    val d0 = filterSql.fold(signed)(f => signed.filter(expr(f)))
    // a single source's signed rows are exactly its churn reads, so their
    // tasks follow the estimate (~256k rows each, at most the session's
    // shuffle partitions): a small batch does not pay a task per local
    // slice or file for a few rows. A join's signed rows also scan pinned
    // sides, which keep their file-split parallelism.
    val d = src match {
      case SingleSrc(_) => d0.coalesce(math.max(1L, math.min(
        spark.conf.get("spark.sql.shuffle.partitions").toLong,
        estimates.head / 262144L + 1L)).toInt)
      case _ => d0
    }
    val groupOuts = cols.collect { case g: GroupCol => g }
    val liveOut = cols.collectFirst { case CountCol(o) => o }.get
    // min/max/hll share the rescan device: not sign-maintainable under
    // removals, maintained fast under pure inserts
    val hasRescan = cols.exists(c => c.isInstanceOf[MinCol] ||
      c.isInstanceOf[MaxCol] || c.isInstanceOf[HllCol])
    // signed non-null input count: +1/-1 per non-null value of the column
    def nnSigned(c2: String): Column =
      sum(when(col(c2).isNotNull, col("_sign")).otherwise(lit(0L)))
    val deltaAggs: Seq[Column] = cols.flatMap {
      case _: GroupCol => Seq.empty[Column]
      // exact distinct maintains through its companion, not a delta agg
      case _: DCountCol => Seq.empty[Column]
      case CountCol(o) => Seq(sum(col("_sign")).as(s"${o}_d"))
      case CountNNCol(c2, o) => Seq(nnSigned(c2).as(s"${o}_d"))
      case SumCol(c2, o) => Seq(sum(col(c2) * col("_sign")).as(s"${o}_d"),
        nnSigned(c2).as(s"${o}_nnd"))
      case AvgCol(c2, o) => Seq(sum(col(c2) * col("_sign")).as(s"${o}_sd"),
        nnSigned(c2).as(s"${o}_nd"))
      case VarCol(c2, o, _) =>
        val x = col(c2).cast("double")
        Seq(sum(x * col("_sign")).as(s"${o}_sd"),
          sum(x * x * col("_sign")).as(s"${o}_qd"),
          nnSigned(c2).as(s"${o}_nd"))
      // extremes over the INSERTED rows only: the fast least/greatest
      // path's input (removal-touched groups rescan instead)
      case MinCol(c2, o) => Seq(min(when(col("_sign") > 0, col(c2))).as(s"${o}_i"))
      case MaxCol(c2, o) => Seq(max(when(col("_sign") > 0, col(c2))).as(s"${o}_i"))
      // the inserted rows' sketch — union fast path input
      case HllCol(c2, o, lgk) =>
        Seq(hll_sketch_agg(when(col("_sign") > 0, col(c2)), lgk).as(s"${o}_i"))
    } ++ (if (!hasRescan) Seq.empty else Seq(
      // did ANY row leave this group? (carried-identical rows in rewritten
      // files appear as -1/+1 pairs and flag conservatively — correct,
      // just a wider rescan on mask-churned files)
      max(when(col("_sign") < 0, 1).otherwise(0)).as("_rm")))
    // delta group keys carry a reserved prefix so every downstream join is
    // an EXPLICIT null-safe condition, never a by-name equality that drops
    // the NULL group
    val deltas0 = d
      .groupBy(groupOuts.map(g => groupKey(g).as(s"__dk_${g.out}")): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    // one row per churned group. A single source's churn estimate bounds
    // it; a join's churn can fan out, so its deltas are checkpointed and
    // their row count observed by that same job, which sizes `merged`
    // (one row per delta row) below
    val (deltas, deltaRows) = src match {
      case SingleSrc(_) if estimates.head <= localBound =>
        val l = GraftLocal.collect(deltas0)
        (l, GraftLocal.rows(l).get.size.toLong)
      case _ =>
        val obs = new org.apache.spark.sql.Observation()
        val c = graft.operators.IterGuard(deltas0.observe(obs, count(lit(1)).as("n")))
        val metrics = obs.get
        (c, metrics("n").asInstanceOf[Long])
    }
    // the CHURNED GROUP-KEY frame: driver-local deltas already are one
    // (no job); checkpointed deltas are collected once (bounded — one
    // cheap cached-read job) and re-issued as a LocalRelation. Either
    // way every consumer below — the dup-count companion reads, the
    // MV-side merge scan — gets driver-local file pruning
    // (boundedKeyPred without a collect job) and broadcast semi-joins
    // without a scan job. Over the cap it degrades to the checkpointed
    // frame, same semantics.
    val gkAll = materializeKeys(
      deltas.select(groupOuts.map(g => col(s"__dk_${g.out}")): _*))
    // EXACT COUNT(DISTINCT): route the same signed churn through each
    // per-(group, value) dup-count companion, then read the new per-group
    // surviving-pair counts back, scoped to the churned groups. The
    // companion publishes rows + its OWN watermark in one commit
    // (replaceByKeyMor), so a crash between the companion commit and the
    // view commit cannot double-apply: an already-at-head companion skips
    // straight to the read-back.
    val dcNew: Seq[(String, DataFrame)] = cols.collect { case DCountCol(s0, o) =>
      val cp = dckPath(mvPath, o)
      val expectBefore = dckWm(wms)
      val expectAfter = dckWm(heads.zip(msAll).map { case (h, ms) =>
        (h, ms(h).getName) })
      val at = GraftStoreOps.tableProps(spark, cp).getOrElse("graft.dck.wms", "")
      if (at != expectAfter) {
        if (at == expectBefore) {
          // signed (group…, value) churn; NULL values never count
          val vd = d.filter(col(s0).isNotNull)
            .groupBy(groupOuts.map(g => groupKey(g).as(s"__dk_${g.out}")) :+
              col(s0).as("__dv"): _*)
            .agg(sum(col("_sign")).cast(LongType).as("__cd"))
            .filter(col("__cd") =!= 0L)
            .transform(graft.operators.IterGuard(_))
          val stored0 = spark.read.format("graft-store").load(cp)
          // churned pairs are bounded: push them into the companion scan
          val stored = boundedKeyPred(vd,
            groupOuts.map(g => s"__dk_${g.out}") :+ "__dv",
            groupOuts.map(_.out) :+ "__dv").fold(stored0)(stored0.filter)
          val cond = (groupOuts.map(g =>
            stored(g.out) <=> vd(s"__dk_${g.out}")) :+
            (stored("__dv") <=> vd("__dv"))).reduce(_ && _)
          // right-outer on the churn: only churned PAIRS participate
          val mergedC = stored.join(vd, cond, "right_outer")
            .select(groupOuts.map(g => col(s"__dk_${g.out}").as(g.out)) ++ Seq(
              vd("__dv"),
              (coalesce(stored("__dc"), lit(0L)) + col("__cd"))
                .cast(LongType).as("__dc")): _*)
            .transform(graft.operators.IterGuard(_))
          val keyCols = groupOuts.map(_.out) :+ "__dv"
          // pairs reaching zero are in keys but not survivors: deleted
          GraftStoreOps.replaceByKeyMor(spark, cp,
            mergedC.filter(col("__dc") > 0L)
              .select((keyCols :+ "__dc").map(col): _*),
            keyCols, mergedC.select(keyCols.map(col): _*),
            Map("graft.dck.wms" -> expectAfter))
        } else {
          // unrecognized companion state (e.g. a view stored before this
          // feature, or an interrupted migration): rebuild from the heads
          writeCompanion(spark, cp, pinnedFrame(spark, src, heads),
            filterSql, cols, s0, expectAfter)
        }
      }
      val gk = gkAll
      val fresh0 = spark.read.format("graft-store").load(cp)
      val fresh = boundedKeyPred(gk, groupOuts.map(g => s"__dk_${g.out}"),
        groupOuts.map(_.out)).fold(fresh0)(fresh0.filter)
      val semi = groupOuts.map(g =>
        fresh(g.out) <=> gk(s"__dk_${g.out}")).reduce(_ && _)
      o -> fresh.join(gk, semi, "left_semi")
        .groupBy(groupOuts.map(g => col(g.out).as(s"__nk_${o}_${g.out}")): _*)
        .agg(count(lit(1)).as(s"${o}_dn"))
    }
    // RESCAN the removal-touched groups from the PINNED head(s): the only
    // exact source of a post-removal extreme. Scoped by a NULL-SAFE semi
    // join on the group keys — churn-groups cost, with layout/stats/bloom
    // pruning participating like any keyed scan. For a JOIN view the
    // rescan target is the maintained relation itself — the join rebuilt
    // at the new heads — and the bounded key predicate below filters the
    // JOINED frame, which Catalyst pushes into whichever side owns each
    // plain key column (a removal-touched group pays a keyed re-join).
    val rescanned: Option[DataFrame] =
      if (!hasRescan) None
      else {
        // bounded + re-issued local (deltas is one row per churned group,
        // so the frame is already distinct): boundedKeyPred below becomes
        // driver-local and the semi-join broadcasts without a scan job
        val keys = materializeKeys(deltas.filter(col("_rm") === 1)
          .select(groupOuts.map(g =>
            col(s"__dk_${g.out}").as(s"__k_${g.out}")): _*))
        val mmAggs: Seq[Column] = cols.collect {
          case MinCol(c2, o) => min(col(c2)).as(s"${o}_r")
          case MaxCol(c2, o) => max(col(c2)).as(s"${o}_r")
          case HllCol(c2, o, lgk) => hll_sketch_agg(col(c2), lgk).as(s"${o}_r")
        }
        // bounded IN-pushdown for PLAIN-COLUMN group keys: the semi-join
        // alone never prunes files, so a small removal-touched key set is
        // also pushed compile-time; expression keys stay semi-join-only
        // (no storable stats to skip on)
        val plainKeys = groupOuts.filter(!_.isExpr)
        val pinned2 = src match {
          // INNER-join source with plain group keys: the post-join filter
          // alone prunes only the side(s) OWNING the group columns — the
          // other sides' rescan scans stayed corpus-shaped (at 100 TB the
          // pinned fact re-read every min/max refresh). Restrict each
          // owning side at its scan, then cascade the restriction OUTWARD
          // along the join graph (pruneByChurnKeys: bounded IN per hop,
          // range fallback over cap) — exact for inner joins, because a
          // row whose join key cannot reach a rescan group contributes
          // nothing to the semi-joined aggregate below.
          case JoinSrc(paths2, keys2, ls)
              if ls.isEmpty && plainKeys.nonEmpty =>
            val frames0 = paths2.indices.map(i =>
              spark.read.format("graft-store")
                .option("snapshot", heads(i)).load(paths2(i)))
            val bySide = plainKeys.groupBy(g =>
              frames0.indexWhere(_.columns.contains(g.src)))
            var frames: Seq[DataFrame] = frames0
            val restrictedSides = scala.collection.mutable.Set.empty[Int]
            bySide.foreach { case (side, gs) =>
              if (side >= 0)
                boundedKeyPred(keys, gs.map(g => s"__k_${g.out}"),
                    gs.map(_.src))
                  .foreach { p =>
                    frames = frames.updated(side, frames(side).filter(p))
                    restrictedSides += side
                  }
            }
            restrictedSides.foreach { side =>
              frames = pruneByChurnKeys(frames, keys2, side)
            }
            // a group key living on NO single side (shouldn't happen for
            // plain columns) keeps the post-join filter for safety
            val joinedP = joinFrames(frames, keys2, ls)
            if (bySide.contains(-1))
              boundedKeyPred(keys, plainKeys.map(g => s"__k_${g.out}"),
                plainKeys.map(_.src)).fold(joinedP)(joinedP.filter)
            else joinedP
          case _ =>
            // single table: the pred prunes the only scan directly.
            // LEFT/FULL-outer sources: a value-based cascade is NOT
            // row-exact for null-extended rows, so only the post-join
            // filter applies (Catalyst still pushes it to the side
            // owning the column where that is semantics-preserving).
            val pinned = pinnedFrame(spark, src, heads)
            if (plainKeys.isEmpty) pinned
            else boundedKeyPred(keys, plainKeys.map(g => s"__k_${g.out}"),
              plainKeys.map(_.src)).fold(pinned)(pinned.filter)
        }
        val scoped = filterSql.fold(pinned2)(f => pinned2.filter(expr(f)))
        val semiCond = groupOuts.map(g => groupKey(g) <=> keys(s"__k_${g.out}"))
          .reduce(_ && _)
        Some(scoped.join(keys, semiCond, "left_semi")
          .groupBy(groupOuts.map(g => groupKey(g).as(s"__rk_${g.out}")): _*)
          .agg(mmAggs.head, mmAggs.tail: _*))
      }
    def zero(dt: DataType) = lit(0).cast(dt)
    // churn-scope the MERGE's view-side scan: the right-outer join below
    // keeps only churned groups anyway, so restricting the stored view to
    // the churned key set (a per-column superset predicate — IN/range +
    // IS NULL where the key set holds NULL; the exact null-safe join
    // keeps semantics) turns the O(view) base scan into O(churn) with
    // min/max file skipping — the same device the companion read uses.
    // At 100 TB the view itself can be corpus-sized; without this the
    // merge rescans it every refresh.
    val base0 = spark.read.format("graft-store").load(mvPath)
    val base = boundedKeyPred(gkAll, groupOuts.map(g => s"__dk_${g.out}"),
      groupOuts.map(_.out)).fold(base0)(base0.filter)
    // right-outer on the delta side: only CHANGED groups participate —
    // the merge is O(changed groups), the rest of the view is untouched.
    // Null-safe key equations: the NULL group is a group like any other.
    val joinCond = groupOuts.map(g => base(g.out) <=> deltas(s"__dk_${g.out}"))
      .reduce(_ && _)
    val joined0 = base.join(deltas, joinCond, "right_outer")
    val joined1 = rescanned.fold(joined0) { r =>
      val c = groupOuts.map(g => joined0(s"__dk_${g.out}") <=> r(s"__rk_${g.out}"))
        .reduce(_ && _)
      joined0.join(r, c, "left_outer")
    }
    // churned groups with no surviving pair get no dn row: count is 0
    val joined = dcNew.foldLeft(joined1) { case (j, (o, dn)) =>
      val c = groupOuts.map(g => j(s"__dk_${g.out}") <=> dn(s"__nk_${o}_${g.out}"))
        .reduce(_ && _)
      j.join(dn, c, "left_outer")
    }
    // merged non-null input count for a sum/avg column: stored + signed
    def mergedNN(stored: String, delta: String): Column =
      (coalesce(col(stored), lit(0L)) + coalesce(col(delta), lit(0L))).cast(LongType)
    // sum with SQL NULL semantics: NULL unless some non-null input remains
    def mergedSum(nn: Column, stored: String, delta: String, dt: DataType): Column =
      when(nn > 0L,
        coalesce(col(stored), zero(dt)) + coalesce(col(delta).cast(dt), zero(dt)))
    val merged = joined
      .select(groupOuts.map(g => col(s"__dk_${g.out}").as(g.out)) ++ cols.flatMap {
        case _: GroupCol => Seq.empty[Column]
        case CountCol(o) =>
          Seq((coalesce(col(o), lit(0L)) + coalesce(col(s"${o}_d"), lit(0L)))
            .cast(LongType).as(o))
        case CountNNCol(_, o) =>
          Seq(mergedNN(o, s"${o}_d").as(o))
        case SumCol(_, o) =>
          val nn = mergedNN(s"__nn_$o", s"${o}_nnd")
          Seq(mergedSum(nn, o, s"${o}_d", mvSchema(o).dataType)
            .cast(mvSchema(o).dataType).as(o), nn.as(s"__nn_$o"))
        case AvgCol(_, o) =>
          val st = mvSchema(s"__s_$o").dataType
          val n = mergedNN(s"__n_$o", s"${o}_nd")
          val s = mergedSum(n, s"__s_$o", s"${o}_sd", st).cast(st)
          Seq(when(n > 0L, s / n).cast(mvSchema(o).dataType).as(o),
            s.as(s"__s_$o"), n.as(s"__n_$o"))
        case VarCol(_, o, kind) =>
          val dbl = org.apache.spark.sql.types.DoubleType
          val n = mergedNN(s"__n_$o", s"${o}_nd")
          val s = mergedSum(n, s"__s_$o", s"${o}_sd", dbl).cast(dbl)
          val q = mergedSum(n, s"__q_$o", s"${o}_qd", dbl).cast(dbl)
          Seq(varPublish(kind, s, q, n).as(o),
            s.as(s"__s_$o"), q.as(s"__q_$o"), n.as(s"__n_$o"))
        // removal-touched group: the rescanned exact extreme; otherwise
        // least/greatest(stored, inserted) — both skip nulls, so new
        // groups (no stored) and no-insert groups fall out right
        case DCountCol(_, o) =>
          Seq(coalesce(col(s"${o}_dn"), lit(0L))
            .cast(mvSchema(o).dataType).as(o))
        case MinCol(_, o) =>
          Seq(when(col("_rm") === 1, col(s"${o}_r"))
            .otherwise(least(col(o), col(s"${o}_i")))
            .cast(mvSchema(o).dataType).as(o))
        case MaxCol(_, o) =>
          Seq(when(col("_rm") === 1, col(s"${o}_r"))
            .otherwise(greatest(col(o), col(s"${o}_i")))
            .cast(mvSchema(o).dataType).as(o))
        // removal-touched group: the rescanned sketch; otherwise the
        // register-max union of stored and inserted (either side NULL
        // passes the other through — new groups, no-insert groups)
        case HllCol(_, o, _) =>
          val stored = unbase64(col(s"__h_$o"))
          val ins = col(s"${o}_i")
          val sk = when(col("_rm") === 1, col(s"${o}_r"))
            .otherwise(when(col(s"__h_$o").isNull, ins)
              .when(ins.isNull, stored)
              .otherwise(hll_union(stored, ins)))
          Seq(when(sk.isNotNull, hll_sketch_estimate(sk))
            .cast(mvSchema(o).dataType).as(o), base64(sk).as(s"__h_$o"))
      }: _*)
      .transform(materialize(_, deltaRows))
    val storedCols = cols.map(_.out) ++ internals(cols)
    val survivors = merged.filter(col(liveOut) > 0L)
      .select(storedCols.map(col): _*)
    val keys = merged.select(groupOuts.map(g => col(g.out)): _*)
    val (nUp, nKeys) = GraftStoreOps.replaceByKeyMor(
      spark, mvPath, survivors, groupOuts.map(_.out), keys, newProps)
    // nKeys == 0 (no effective churn): replaceByKeyMor still stamped the
    // advanced watermark as a metadata-only commit. merged is one row per
    // churned group (every input to it is per-group), so the vanished
    // count (live <= 0) is exactly nKeys − nUp — the former separate
    // count() job re-derived a number the commit already knows.
    ("incremental", nUp, nKeys - nUp, heads.head)
  }
}
