package graft.sources.v2

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedSubqueryColumnAliases, UnresolvedTableOrView, UnresolvedView, ViewAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{CreateView, DeleteFromTable, DropView, InsertIntoStatement, LogicalPlan, MergeIntoTable, RenameTable, SetViewProperties, ShowViews, SubqueryAlias, UnresolvedWith, UpdateTable}
import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructType}

/** SQL surface for graft-catalog VIEWS, implemented at the PARSER boundary
  * (`SparkSessionExtensions.injectParser` — the Iceberg-extensions
  * pattern): Spark 4.1's OSS analyzer never consumes the V2 [[org.apache
  * .spark.sql.connector.catalog.ViewCatalog]] API (`ResolveSessionCatalog`
  * throws MISSING_CATALOG_ABILITY for any non-session catalog, and no rule
  * calls `loadView` — probed against the 4.1.2 jars), so both the DDL and
  * the read path are rewritten here, BEFORE any analyzer ordering can
  * interfere:
  *
  *   - `CREATE [OR REPLACE] VIEW cat.v AS ...` / `DROP VIEW` /
  *     `SHOW VIEWS` / `ALTER VIEW ... RENAME TO / SET TBLPROPERTIES`
  *     targeting a [[GraftCatalog]] become driver-side commands against
  *     its ViewCatalog face;
  *   - a relation reference that names a stored graft view EXPANDS in
  *     place: the stored query text re-parses, its single-part relation
  *     names qualify under the view's DEFINING catalog+namespace (so the
  *     view keeps meaning what its author saw), nested views expand
  *     recursively (cycle-checked), and the result lands under a
  *     SubqueryAlias carrying declared column aliases.
  *
  * Everything else passes through verbatim — a plan with no graft-view
  * reference is returned untouched. Temp views and CTE names shadow view
  * names (checked before substitution), matching SQL scoping rules. */
class GraftViewParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    // MATERIALIZED VIEW DDL is not in the OSS grammar at all — intercept
    // the TEXT before the delegate can throw a ParseException; anything
    // not matching (or not naming a graft catalog) falls through verbatim
    GraftViewSql.parseMaterializedDdl(spark, delegate, sqlText).getOrElse(
      GraftViewSql.rewrite(spark, delegate, delegate.parsePlan(sqlText)))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    GraftViewSql.rewrite(spark, delegate, delegate.parseQuery(sqlText))
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

private[v2] object GraftViewSql {

  // ---- MATERIALIZED VIEW DDL (parser-level: the OSS grammar has no
  // MATERIALIZED rule, so these arrive as raw text) -------------------
  //   CREATE MATERIALIZED VIEW [IF NOT EXISTS] cat.mv AS <query>
  //   DROP MATERIALIZED VIEW [IF EXISTS] cat.mv
  //   REFRESH MATERIALIZED VIEW cat.mv [FULL]
  // The name must resolve to a graft catalog; the query text is handed
  // to [[GraftMview.create]] verbatim (same contract as the
  // `system.create_mview` procedure it supersedes).
  private val createMvRe =
    ("(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w.`]+)\\s+AS\\s+(.+?)\\s*;?\\s*$").r
  private val dropMvRe =
    ("(?is)^\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+" +
      "(IF\\s+EXISTS\\s+)?([\\w.`]+)\\s*;?\\s*$").r
  private val refreshMvRe =
    ("(?is)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+" +
      "([\\w.`]+)(\\s+FULL)?\\s*;?\\s*$").r

  def parseMaterializedDdl(spark: SparkSession, parser: ParserInterface,
      sqlText: String): Option[LogicalPlan] = {
    def resolve(name: String): Option[(GraftCatalog, Identifier)] =
      graftIdent(spark, parser.parseMultipartIdentifier(name))
        .map { case (_, g, ident) => (g, ident) }
    sqlText match {
      case createMvRe(ifNot, name, query) => resolve(name).map { case (g, id) =>
        GraftCreateMviewCommand(g, id, query, ifNot != null)
      }
      case dropMvRe(ifEx, name) => resolve(name).map { case (g, id) =>
        GraftDropMviewCommand(g, id, ifEx != null)
      }
      case refreshMvRe(name, full) => resolve(name).map { case (g, id) =>
        GraftRefreshMviewCommand(g, id, full != null)
      }
      case _ => None
    }
  }

  /** Resolve `parts` to (catalog name, GraftCatalog, ident) iff the name
    * targets a registered graft catalog — explicitly (`cat.ns.v`) or via
    * the session's current catalog. Anything else: None (untouched). */
  private def graftIdent(spark: SparkSession, parts: Seq[String])
      : Option[(String, GraftCatalog, Identifier)] = {
    val cm = graftshim.catalogManager(spark)
    val (catName, rest) =
      if (parts.length > 1 && cm.isCatalogRegistered(parts.head))
        (parts.head, parts.tail)
      else (cm.currentCatalog.name(), parts)
    if (rest.isEmpty) return None
    (try cm.catalog(catName) catch { case _: Exception => null }) match {
      case g: GraftCatalog =>
        Some((catName, g, Identifier.of(rest.init.toArray, rest.last)))
      case _ => None
    }
  }

  def rewrite(spark: SparkSession, parser: ParserInterface,
      plan: LogicalPlan): LogicalPlan = {
    // ---- DDL interception (top-level commands only) ----
    val ddl = plan match {
      case cv: CreateView => cv.child match {
        case UnresolvedIdentifier(parts, _) => graftIdent(spark, parts).map {
          case (_, g, ident) =>
            val aliases = cv.userSpecifiedColumns.map(_._1)
            // "" = no comment: raw nulls would NPE TreeNode's display
            // formatting when the eager command execution logs the plan
            val comments = cv.userSpecifiedColumns.map(_._2.getOrElse(""))
            GraftCreateViewCommand(g, ident,
              cv.originalText.getOrElse(throw new IllegalArgumentException(
                "graft views: CREATE VIEW requires the query's SQL text")),
              aliases, comments, cv.comment, cv.properties,
              cv.allowExisting, cv.replace,
              rewrite(spark, parser, cv.query)) // nested views expand for schema analysis
        }
        case _ => None
      }
      case dv: DropView => dv.child match {
        case UnresolvedIdentifier(parts, _) => graftIdent(spark, parts).map {
          case (_, g, ident) => GraftDropViewCommand(g, ident, dv.ifExists)
        }
        case _ => None
      }
      case sv: ShowViews => sv.child match {
        case UnresolvedNamespace(parts, _) =>
          // `SHOW VIEWS IN cat[.ns]`: parts lead with the catalog name
          val cm = graftshim.catalogManager(spark)
          val (catName, ns) =
            if (parts.nonEmpty && cm.isCatalogRegistered(parts.head))
              (parts.head, parts.tail)
            else (cm.currentCatalog.name(), parts)
          (try cm.catalog(catName) catch { case _: Exception => null }) match {
            case g: GraftCatalog =>
              Some(GraftShowViewsCommand(g, ns, sv.pattern, sv.output))
            case _ => None
          }
        case _ => None
      }
      case rt: RenameTable if rt.isView => rt.child match {
        case UnresolvedTableOrView(parts, _, _) => graftIdent(spark, parts).map {
          case (_, g, ident) =>
            // RENAME TO takes a name in the SAME namespace (Spark contract)
            GraftRenameViewCommand(g, ident,
              Identifier.of(ident.namespace(), rt.newName.last))
        }
        case _ => None
      }
      case sp: SetViewProperties => sp.child match {
        case UnresolvedView(parts, _, _, _) => graftIdent(spark, parts).map {
          case (_, g, ident) => GraftSetViewPropertiesCommand(g, ident, sp.properties)
        }
        case _ => None
      }
      case _ => None
    }
    ddl.getOrElse(substitute(spark, parser, plan, Set.empty))
  }

  /** Expand every relation reference that names a stored graft view.
    *
    * Scoping is EXPLICIT recursion, not a whole-tree transform, for two
    * reasons: (1) a CTE name shadows a view only INSIDE the `WITH` that
    * declares it (scope-aware — a subquery's CTE must not hide a
    * same-named view in a sibling arm), and (2) `UnresolvedWith` keeps
    * its CTE definitions as innerChildren, which `transformUp` never
    * visits — views referenced inside a CTE body only expand because the
    * walk descends into `cteRelations` by hand. Write-statement TARGETS
    * are never substituted: writing to a view fails with a clean error
    * instead of a bewildering expansion. `seen` breaks definition
    * cycles. */
  private def substitute(spark: SparkSession, parser: ParserInterface,
      plan: LogicalPlan, seen: Set[String]): LogicalPlan = {
    def failWrite(target: LogicalPlan, op: String): Unit = target match {
      case SubqueryAlias(_, c) => failWrite(c, op) // "MERGE INTO v AS t"
      case u: UnresolvedRelation =>
        graftIdent(spark, u.multipartIdentifier) match {
          case Some((_, g, ident)) if g.viewExists(ident) =>
            throw new UnsupportedOperationException(
              s"graft views: cannot $op view " +
                s"'${u.multipartIdentifier.mkString(".")}' — views are read-only")
          case _ => ()
        }
      case _ => ()
    }
    def go(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      case w: UnresolvedWith =>
        // every name declared here is in scope for the main body AND the
        // definitions (recursive CTEs reference themselves; conservatively
        // shadowing forward references matches "never expand a declared
        // name" — the analyzer owns ordering errors)
        val inScope = ctes ++ w.cteRelations.map(_._1.toLowerCase)
        w.copy(child = go(w.child, inScope),
          cteRelations = w.cteRelations.map { case (n, sq, o) =>
            (n, go(sq, inScope).asInstanceOf[SubqueryAlias], o)
          })
      case i: InsertIntoStatement =>
        failWrite(i.table, "INSERT into")
        i.copy(query = go(i.query, ctes))
      case dml: DeleteFromTable =>
        failWrite(dml.table, "DELETE from"); dml
      case dml: UpdateTable =>
        failWrite(dml.table, "UPDATE"); dml
      case m: MergeIntoTable =>
        failWrite(m.targetTable, "MERGE into")
        m.withNewChildren(Seq(m.targetTable, go(m.sourceTable, ctes)))
      case u: UnresolvedRelation if !u.isStreaming =>
        val parts = u.multipartIdentifier
        val shadowed =
          (parts.length == 1 && ctes.contains(parts.head.toLowerCase)) ||
            (try graftshim.isTempView(spark, parts) catch { case _: Exception => false })
        if (shadowed) u
        else graftIdent(spark, parts) match {
          case Some((catName, g, ident)) if g.viewExists(ident) =>
            val key = (catName +: ident.namespace() :+ ident.name()).mkString(".")
            if (seen.contains(key)) throw new IllegalArgumentException(
              s"graft views: recursive view definition through $key")
            val v = g.loadView(ident).asInstanceOf[GraftView]
            val body = parser.parsePlan(v.query)
            // the stored text resolves under its DEFINING context: bare
            // names qualify with the view's catalog+namespace, explicit
            // catalog-led names stay as written. Same scope-aware walk —
            // only the body's own in-scope CTE names stay unqualified.
            val cm = graftshim.catalogManager(spark)
            def qualify(q: LogicalPlan, bctes: Set[String]): LogicalPlan = q match {
              case w: UnresolvedWith =>
                val inScope = bctes ++ w.cteRelations.map(_._1.toLowerCase)
                w.copy(child = qualify(w.child, inScope),
                  cteRelations = w.cteRelations.map { case (n, sq, o) =>
                    (n, qualify(sq, inScope).asInstanceOf[SubqueryAlias], o)
                  })
              case r: UnresolvedRelation
                  if r.multipartIdentifier.length == 1 &&
                    !bctes.contains(r.multipartIdentifier.head.toLowerCase) =>
                r.copy(multipartIdentifier =
                  (v.viewCatalog +: v.viewNamespace.toSeq) :+ r.multipartIdentifier.head)
              case r: UnresolvedRelation
                  if r.multipartIdentifier.length > 1 &&
                    !cm.isCatalogRegistered(r.multipartIdentifier.head) =>
                r.copy(multipartIdentifier = v.viewCatalog +: r.multipartIdentifier)
              case other => other.mapChildren(qualify(_, bctes))
            }
            val expanded =
              substitute(spark, parser, qualify(body, Set.empty), seen + key)
            val aliased =
              if (v.aliases.isEmpty) expanded
              else UnresolvedSubqueryColumnAliases(v.aliases.toSeq, expanded)
            SubqueryAlias(ident.name(), aliased)
          case _ => u
        }
      case other => other.mapChildren(go(_, ctes))
    }
    go(plan, Set.empty)
  }
}

/** `CREATE [OR REPLACE] VIEW` against a graft catalog: analyzes the
  * (already view-expanded) query ONLY to derive the declared schema, then
  * persists the ORIGINAL text — reads re-expand it, so a replaced nested
  * view is seen by its dependents. */
private[v2] case class GraftCreateViewCommand(catalog: GraftCatalog,
    ident: Identifier, sql: String, aliases: Seq[String], comments: Seq[String],
    comment: Option[String], properties: Map[String, String],
    allowExisting: Boolean, replace: Boolean, query: LogicalPlan)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    val exists = catalog.viewExists(ident)
    if (exists && allowExisting) return Seq.empty
    if (exists && !replace) throw new ViewAlreadyExistsException(ident)
    val schema = graftshim.ofRows(spark, query).schema
    require(aliases.isEmpty || aliases.length == schema.length,
      s"graft views: ${aliases.length} column names for a " +
        s"${schema.length}-column query")
    val cm = graftshim.catalogManager(spark)
    import scala.jdk.CollectionConverters._
    val props = comment.map(c => Map("comment" -> c)).getOrElse(Map.empty) ++ properties
    val info = new ViewInfo(ident, sql, cm.currentCatalog.name(),
      cm.currentNamespace, schema, schema.fieldNames,
      aliases.toArray, comments.toArray, props.asJava)
    if (exists) catalog.dropView(ident) // OR REPLACE
    catalog.createView(info)
    Seq.empty
  }
}

private[v2] case class GraftDropViewCommand(catalog: GraftCatalog,
    ident: Identifier, ifExists: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!catalog.dropView(ident) && !ifExists) throw new NoSuchViewException(ident)
    Seq.empty
  }
}

private[v2] case class GraftShowViewsCommand(catalog: GraftCatalog,
    namespace: Seq[String], pattern: Option[String],
    override val output: Seq[Attribute])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val re = pattern.map(p => p.toLowerCase.replace("*", ".*").r)
    catalog.listViews(namespace: _*)
      .filter(id => re.forall(_.pattern.matcher(id.name().toLowerCase).matches()))
      .sortBy(_.name())
      .map(id => Row(id.namespace().mkString("."), id.name(), false)).toSeq
  }
}

private[v2] object GraftShowViewsCommand {
  /** Output schema matching Spark's SHOW VIEWS contract. */
  def output: Seq[Attribute] = Seq(
    AttributeReference("namespace", StringType, nullable = false)(),
    AttributeReference("viewName", StringType, nullable = false)(),
    AttributeReference("isTemporary", BooleanType, nullable = false)())
}

private[v2] case class GraftRenameViewCommand(catalog: GraftCatalog,
    from: Identifier, to: Identifier)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    catalog.renameView(from, to)
    Seq.empty
  }
}

private[v2] case class GraftSetViewPropertiesCommand(catalog: GraftCatalog,
    ident: Identifier, properties: Map[String, String])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    catalog.alterView(ident,
      properties.toSeq.map { case (k, v2) => ViewChange.setProperty(k, v2) }: _*)
    Seq.empty
  }
}

private[v2] case class GraftCreateMviewCommand(catalog: GraftCatalog,
    ident: Identifier, query: String, ifNotExists: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rows_materialized",
      org.apache.spark.sql.types.LongType, nullable = false)(),
    AttributeReference("watermark",
      org.apache.spark.sql.types.IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = catalog.tablePath(ident)
    val conf = spark.sparkContext.hadoopConfiguration
    if (GraftStoreFormat.readLatestManifest(path, conf).isDefined) {
      if (ifNotExists) return Seq.empty
      throw new IllegalArgumentException(
        s"graft mview: a table already exists at $path (IF NOT EXISTS to skip)")
    }
    val (n, wm) = GraftMview.create(spark, path, query)
    Seq(Row(n, wm))
  }
}

private[v2] case class GraftDropMviewCommand(catalog: GraftCatalog,
    ident: Identifier, ifExists: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val path = catalog.tablePath(ident)
    val conf = spark.sparkContext.hadoopConfiguration
    GraftStoreFormat.readLatestManifest(path, conf) match {
      case None =>
        if (!ifExists) throw new IllegalArgumentException(
          s"graft mview: no materialized view at $path (IF EXISTS to skip)")
      case Some(m) =>
        require(m.props.get("graft.mv").contains("true"),
          s"graft mview: $path is a plain table, not a materialized view " +
            "(DROP TABLE instead)")
        // deregister the dep pointer from every source FIRST: stale
        // pointers are tolerated, but each would cost every future query
        // on the source one wasted manifest probe
        val srcs = GraftMview.decodeSource(m.props) match {
          case GraftMview.SingleSrc(p0) => Seq(p0)
          case GraftMview.JoinSrc(ps, _, _) => ps
          case GraftMview.FullSrc(ps, _) => ps
        }
        srcs.foreach(p0 =>
          try GraftStoreFormat.removeMvDep(p0, conf, path)
          catch { case scala.util.control.NonFatal(_) => () })
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf).delete(p, true)
    }
    Seq.empty
  }
}

private[v2] case class GraftRefreshMviewCommand(catalog: GraftCatalog,
    ident: Identifier, forceFull: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mode", StringType, nullable = false)(),
    AttributeReference("groups_changed",
      org.apache.spark.sql.types.LongType, nullable = false)(),
    AttributeReference("groups_deleted",
      org.apache.spark.sql.types.LongType, nullable = false)(),
    AttributeReference("watermark",
      org.apache.spark.sql.types.IntegerType, nullable = false)(),
    AttributeReference("slices_opened",
      org.apache.spark.sql.types.LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (mode, changed, deleted, wm, slices) =
      GraftMview.refresh(spark, catalog.tablePath(ident), forceFull)
    Seq(Row(mode, changed, deleted, wm, slices))
  }
}
