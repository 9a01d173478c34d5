package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL MAINTENANCE PROCEDURES — `CALL cat.system.<proc>(...)`, the
  * Iceberg procedure surface on Spark 4's `ProcedureCatalog` API: every
  * table-maintenance operation the engine exposes programmatically
  * becomes callable from pure SQL, so the operational loop at 100 TB
  * (expire, compact, purge, vacuum — scheduled, audited, access-
  * controlled) needs no Scala entry point. Each procedure resolves its
  * `table` argument against the catalog base, runs the corresponding
  * [[GraftStoreOps]] op, and returns its counts as a one-row result
  * (planned as a driver-local scan — no job for the summary row). */
private[v2] class GraftProcedures(base: String) {

  private def pathOf(table: String): String =
    (base +: table.split("\\.").toSeq).mkString("/")

  /** One procedure: parameters bind positionally/by name through Spark's
    * resolver (defaults supported); `run` gets the resolved argument row. */
  private case class Proc(procName: String, desc: String,
      procParams: Seq[ProcedureParameter],
      run: (SparkSession, InternalRow) => (StructType, Seq[InternalRow]))
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = procParams.toArray
    // maintenance mutates table state — never cacheable
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (schema, rows) = run(SparkSession.active, input)
      java.util.List.of[Scan](GraftLocalAggScan(schema, rows.toArray)).iterator()
    }
  }

  private def p(n: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(n, dt).build()
  private def pd(n: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(n, dt).defaultValue(default).build()

  private def oneRow(fields: (String, DataType, Any)*): (StructType, Seq[InternalRow]) =
    (StructType(fields.map { case (n, dt, _) => StructField(n, dt, nullable = false) }),
      Seq(InternalRow.fromSeq(fields.map(_._3))))

  private val all: Map[String, Proc] = Seq(
    Proc("expire_snapshots",
      "drop old snapshots and unreferenced files (count- or time-based retention)",
      Seq(p("table", StringType),
        pd("keep_last", IntegerType, "-1"),
        pd("older_than_ms", LongType, "-1L")),
      (s, in) => {
        val path = pathOf(in.getUTF8String(0).toString)
        val keepLast = in.getInt(1)
        val olderThan = in.getLong(2)
        require((keepLast >= 0) ^ (olderThan >= 0),
          "expire_snapshots: pass exactly one of keep_last / older_than_ms")
        val (ms, fs) =
          if (keepLast >= 0) GraftStoreOps.expireSnapshots(s, path, keepLast)
          else GraftStoreOps.expireOlderThan(s, path, olderThan)
        oneRow(("expired_manifests", IntegerType, ms),
          ("removed_files", IntegerType, fs))
      }),
    Proc("compact",
      "rewrite into target-sized files (masks applied, layout kept); " +
        "`where` scopes the rewrite to matching files (one partition, " +
        "one key range) — the rest of the table carries with zero I/O",
      Seq(p("table", StringType),
        pd("target_bytes", LongType, s"${64L << 20}"),
        pd("where", StringType, "''")),
      (s, in) => {
        val path = pathOf(in.getUTF8String(0).toString)
        val where = in.getUTF8String(2).toString
        val (rw, carried) =
          if (where.isEmpty)
            (GraftStoreOps.compactSnapshot(s, path, in.getLong(1)), 0)
          else GraftStoreOps.compactWhere(
            s, path, org.apache.spark.sql.functions.expr(where), in.getLong(1))
        oneRow(("compacted_files", IntegerType, rw),
          ("carried_files", IntegerType, carried))
      }),
    Proc("compact_small_files",
      "binpack ONLY under-threshold files; right-sized files carry zero-I/O",
      Seq(p("table", StringType),
        pd("small_bytes", LongType, s"${8L << 20}"),
        pd("target_bytes", LongType, s"${64L << 20}")),
      (s, in) => {
        val (rw, carried) = GraftStoreOps.compactSmallFiles(
          s, pathOf(in.getUTF8String(0).toString), in.getLong(1), in.getLong(2))
        oneRow(("rewritten_files", IntegerType, rw),
          ("carried_files", IntegerType, carried))
      }),
    Proc("purge_deletes",
      "rewrite files covered by position deletes and drop the masks (read-debt repayment)",
      Seq(p("table", StringType)),
      (s, in) => {
        val (rw, carried) = GraftStoreOps.purgeDeletes(
          s, pathOf(in.getUTF8String(0).toString))
        oneRow(("rewritten_files", IntegerType, rw),
          ("carried_files", IntegerType, carried))
      }),
    Proc("remove_orphans",
      "delete files no manifest references (crash debris), honoring a grace period",
      Seq(p("table", StringType), p("older_than_ms", LongType)),
      (s, in) => {
        val (data, scratch) = GraftStoreOps.removeOrphans(
          s, pathOf(in.getUTF8String(0).toString), in.getLong(1))
        oneRow(("removed_files", IntegerType, data),
          ("removed_scratch", IntegerType, scratch))
      }),
    Proc("rewrite_old_spec_files",
      "re-route files written under old partition specs to the current one (restores SPJ)",
      Seq(p("table", StringType)),
      (s, in) => {
        val (rw, carried) = GraftStoreOps.rewriteOldSpecFiles(
          s, pathOf(in.getUTF8String(0).toString))
        oneRow(("rewritten_files", IntegerType, rw),
          ("carried_files", IntegerType, carried))
      }),
    Proc("resort",
      "re-sort ONLY the files whose cluster-key ranges overlap (restores range pruning)",
      Seq(p("table", StringType)),
      (s, in) => {
        val (rw, carried) = GraftStoreOps.resortOverlapping(
          s, pathOf(in.getUTF8String(0).toString))
        oneRow(("rewritten_files", IntegerType, rw),
          ("carried_files", IntegerType, carried))
      }),
    Proc("create_tag",
      "name a retained snapshot (VERSION AS OF 'name'; pins it through expiry)",
      Seq(p("table", StringType), p("name", StringType), p("snapshot", IntegerType)),
      (s, in) => {
        val name = in.getUTF8String(1).toString
        GraftStoreOps.tagSnapshot(s, pathOf(in.getUTF8String(0).toString),
          name, in.getInt(2))
        oneRow(("tag", StringType, UTF8String.fromString(name)),
          ("snapshot", IntegerType, in.getInt(2)))
      }),
    Proc("fast_forward",
      "land a branch's staged commits on the main line as one metadata-only commit",
      Seq(p("table", StringType), p("branch", StringType)),
      (s, in) => {
        val added = GraftStoreOps.fastForward(
          s, pathOf(in.getUTF8String(0).toString), in.getUTF8String(1).toString)
        oneRow(("added_files", IntegerType, added))
      }),
    Proc("create_mview",
      "materialize a GROUP BY count/sum view as a table with a refresh watermark",
      Seq(p("name", StringType), p("query", StringType)),
      (s, in) => {
        val (n, wm) = GraftMview.create(s,
          pathOf(in.getUTF8String(0).toString), in.getUTF8String(1).toString)
        oneRow(("rows_materialized", LongType, n),
          ("watermark", IntegerType, wm))
      }),
    Proc("refresh_mview",
      "advance a materialized view to the source head (incremental: O(churn) " +
        "signed deltas; one atomic commit carries rows + watermark); " +
        "slices_opened = graft-store data-file slices the refresh's plans opened",
      Seq(p("name", StringType), pd("force_full", BooleanType, "false")),
      (s, in) => {
        val (mode, changed, deleted, wm, slices) = GraftMview.refresh(s,
          pathOf(in.getUTF8String(0).toString), in.getBoolean(1))
        oneRow(("mode", StringType, UTF8String.fromString(mode)),
          ("groups_changed", LongType, changed),
          ("groups_deleted", LongType, deleted),
          ("watermark", IntegerType, wm),
          ("slices_opened", LongType, slices))
      })
  ).map(pr => pr.procName -> pr).toMap

  def list: Array[String] = all.keys.toArray.sorted
  def load(name: String): Option[UnboundProcedure] = all.get(name)
}
