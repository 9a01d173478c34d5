package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE cat.tbl SET ... WHERE ...` and `MERGE INTO cat.tbl USING
  * ...` through Spark's GROUP-BASED row-level operation API
  * (`SupportsRowLevelOperations` → `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` → `ReplaceData`) — the honest DSv2 wiring, not
  * a parser hack:
  *
  *   - Spark rewrites the command into "read every row of the affected
  *     GROUPS, apply the modification in a projection (update) or join
  *     (merge), write the groups back in full";
  *   - our group = one data file. The command's condition reaches the
  *     operation's scan as pushed filters used for STATS PRUNING ONLY
  *     (`GroupBasedRowLevelOperationScanPlanning` deliberately ignores
  *     residuals — a group read must return all its rows), so a selective
  *     UPDATE reads and rewrites the handful of may-match files, exactly
  *     the [[GraftStoreOps.updateWhere]] economics;
  *   - scan and write of one command share ONE [[GraftRowLevelOperation]]
  *     instance — the API's designed rendezvous: at commit the write
  *     replaces exactly the files the plan read (head − scanned + new),
  *     OCC-retried, with the same concurrent-overwrite abort as the
  *     programmatic COW kernel;
  *   - the table's declared layout (identity/bucket routing) is re-applied
  *     through the rewrite via the shared writer factory, and the CHECK
  *     constraint is compiled and enforced row-by-row, so SQL DML cannot
  *     corrupt a layout or dodge a constraint.
  *
  * SQL MERGE pushes no static condition (the match condition references
  * source attributes) — RUNTIME GROUP FILTERING ([[GraftRowLevelScan]],
  * `SupportsRuntimeV2Filtering`) closes that gap: the dynamic subquery
  * over matching rows delivers their key values back as an IN predicate
  * before partitions are planned, so a selective merge (or a
  * non-translatable UPDATE predicate) rewrites only the may-match files.
  * SQL row-level commits carry no `_cdc` change store (the group rewrite
  * has no key notion to pair images with); the CDC stream fails loudly on
  * them, `changesBetween` still diffs them. */
private[v2] class GraftRowLevelOperation(path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** The scan Spark built for this command — captured at build() so
    * commit() can replace exactly the file set the plan read. */
  @volatile private var captured: Option[GraftStoreScan] = None
  private[v2] def scannedFiles: Seq[String] = captured match {
    case Some(s) => s.selectedFileNames
    case None => throw new IllegalStateException(
      "graft-store: row-level write committed before its scan was planned")
  }
  /** The manifest the operation's scan was planned against — the commit's
    * entry-time view for the merge-on-read delete race guard. */
  private[v2] def scanManifest: GraftManifest = captured match {
    case Some(s) => s.manifest
    case None => throw new IllegalStateException(
      "graft-store: row-level write committed before its scan was planned")
  }

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-store row-level $cmd $path"

  /** `_file` must ride through the rewritten plan for runtime group
    * filtering to resolve it (the dynamic-pruning rule resolves filter
    * attributes against the relation OUTPUT, and metadata columns only
    * join it when the operation requires them — the Iceberg wiring).
    * Declaring metadata also flips Spark to the metadata writing task,
    * which projects data rows properly before handing them to the
    * writer. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftFileColumn.Name))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    new GraftStoreScanBuilder(path, conf, options) {
      // the rewrite plan consumes this scan's ROWS — a manifest-only
      // aggregate result would starve it
      override protected def aggregatesAllowed: Boolean = false
      override protected def newScan(path: String, manifest: GraftManifest,
          required: org.apache.spark.sql.types.StructType,
          pushed: Array[org.apache.spark.sql.sources.Filter],
          conf: SerializableHadoopConf): GraftStoreScan = {
        val s = new GraftRowLevelScan(path, manifest, required, pushed, conf)
        captured = Some(s)
        s
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = {
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      val m = GraftStoreFormat.readLatestManifest(path, conf)
        .getOrElse(throw new IllegalArgumentException(
          s"graft-store: no manifest at $path"))
      val schema = info.schema()
      val layout = m.partitionCol.map(GraftLayout.parse)
      val clusterBy = m.clusterCols
        .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty[String])
      val check = m.check.map(GraftCheck.compile(schema, _))
      new Write with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
        private def orders: Array[SortOrder] =
          clusterBy.map(c => Expressions.sort(
            Expressions.identity(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
        // same discipline as the main write builder: a partition layout
        // demands value clustering (one file per key combination), a sort
        // clustering demands a range sort so rewritten files stay
        // range-disjoint and prunable
        override def requiredDistribution(): Distribution = layout match {
          case Some(l) =>
            Distributions.clustered(l.columns.map(c =>
              Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
          case None =>
            if (clusterBy.isEmpty) Distributions.unspecified()
            else Distributions.ordered(orders)
        }
        override def requiredOrdering(): Array[SortOrder] = orders
        override def requiredNumPartitions(): Int = 0
        override def toBatch: BatchWrite =
          new GraftRowLevelBatchWrite(path, schema, conf,
            GraftRowLevelOperation.this, layout, check)
      }
    }
  }
}

/** DELTA-BASED row-level operations ([[SupportsDelta]] → `WriteDelta`) —
  * the merge-on-read dual of [[GraftRowLevelOperation]]'s group rewrite,
  * planned automatically when the table declares `dmlMode=mor`:
  *
  *   - Spark rewrites UPDATE / MERGE / (non-metadata) DELETE into a plan
  *     emitting PER-ROW deltas tagged delete/update/insert, with the row
  *     id `(_file, _pos)` — exactly the stable physical row id the MOR
  *     read path defines — instead of re-reading and rewriting whole
  *     groups;
  *   - the writer turns removed row versions into POSITION-DELETE store
  *     rows and new row versions into ordinary routed data files, so a
  *     selective SQL UPDATE on a 100 TB table commits churn-sized delete
  *     files + churn-sized new files — never file-sized rewrites (the
  *     group-based path's cost), with [[GraftStoreOps.purgeDeletes]] as
  *     the read-debt repayment;
  *   - the commit APPENDS to the head listing (files + masks), so
  *     concurrent appends ride along; a concurrent overwrite/rewrite or
  *     DELTA commit touching a scanned file aborts loudly (recorded
  *     positions and scan-time masks would be stale);
  *   - CDC needs no change store: the feed resolves the commit's delete
  *     refs from still-listed targets and tags added files as inserts, so
  *     SQL UPDATE / MERGE on a MOR table STREAM (as delete+insert pairs,
  *     the net-change form) — the group-based COW SQL path cannot (no key
  *     to pair images with; it fails the feed loudly by design).
  *
  * The scan is the same [[GraftRowLevelScan]] (masks applied — an
  * already-deleted row can never re-match). Probed: Spark 4.1's
  * RowLevelOperationRuntimeGroupFiltering matches ONLY ReplaceData, so a
  * delta MERGE reads every file the STATIC stats pruning keeps (UPDATE/
  * DELETE conditions prune; merge conditions don't) — acceptable because
  * the read is the only table-sized cost, the WRITE stays churn-sized
  * (the group path pays both). The declared CHECK constraint is compiled
  * and enforced on every inserted row version. Updates arrive as
  * update(id, row) and are written as delete+insert; the row-id
  * projections are position-stable because the plan reads `_file`/`_pos`
  * straight from the scan. */
private[v2] class GraftDeltaOperation(path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation with SupportsDelta {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  @volatile private var captured: Option[GraftStoreScan] = None
  private[v2] def scannedFiles: Seq[String] = captured match {
    case Some(s) => s.selectedFileNames
    case None => throw new IllegalStateException(
      "graft-store: delta write committed before its scan was planned")
  }
  private[v2] def scanManifest: GraftManifest = captured match {
    case Some(s) => s.manifest
    case None => throw new IllegalStateException(
      "graft-store: delta write committed before its scan was planned")
  }

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-store delta $cmd $path"

  /** The row id IS the MOR read path's stable physical address. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftFileColumn.Name),
      Expressions.column(GraftPosColumn.Name))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    new GraftStoreScanBuilder(path, conf, options) {
      // see the group-based builder: the delta rewrite needs rows
      override protected def aggregatesAllowed: Boolean = false
      override protected def newScan(path: String, manifest: GraftManifest,
          required: org.apache.spark.sql.types.StructType,
          pushed: Array[org.apache.spark.sql.sources.Filter],
          conf: SerializableHadoopConf): GraftStoreScan = {
        val s = new GraftRowLevelScan(path, manifest, required, pushed, conf)
        captured = Some(s)
        s
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val conf = SparkSession.active.sparkContext.hadoopConfiguration
        val m = GraftStoreFormat.readLatestManifest(path, conf)
          .getOrElse(throw new IllegalArgumentException(
            s"graft-store: no manifest at $path"))
        val schema = info.schema()
        val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
          new IllegalStateException(
            "graft-store: delta write planned without a row-id schema"))
        // a pure-DELETE delta plan carries NO data columns (info.schema()
        // is empty — only row ids flow), so nothing can be inserted:
        // layout routing and the CHECK constraint are moot, and compiling
        // either against the empty schema would fail
        val isDelete = cmd == RowLevelOperation.Command.DELETE
        val layout = if (isDelete) None else m.partitionCol.map(GraftLayout.parse)
        val clusterBy =
          if (isDelete) Array.empty[String]
          else m.clusterCols
            .map(_.split(",").map(_.trim).filter(_.nonEmpty))
            .getOrElse(Array.empty[String])
        val check = if (isDelete) None else m.check.map(GraftCheck.compile(schema, _))
        new DeltaWrite with RequiresDistributionAndOrdering {
          import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
          import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder}
          private def orders: Array[SortOrder] =
            clusterBy.map(c => Expressions.sort(
              Expressions.identity(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
          /** A pure-DELETE plan carries no data columns, so the TABLE
            * layout is unresolvable — but its output is position-delete
            * stores whose `[minTarget, maxTarget]` covering range decides
            * how many stores a later read must open. Range-distributing
            * the delete rows by the `_file` row-id column (+ `_pos` order
            * within) hands each task a CONTIGUOUS, DISJOINT slice of the
            * target-file name space, so per-task stores cover narrow
            * ranges and a read of any one file opens ~one store instead
            * of all of them (the same tight-range discipline the
            * programmatic deleteWhereMor path enforces by repartitioning
            * on target file). UPDATE/MERGE keep the table's write
            * discipline so new row versions land value-clustered /
            * range-sorted; delta rows whose layout columns are null (the
            * delete legs of a merge) all cluster together — acceptable
            * skew for DML churn. */
          private def deleteOrders: Array[SortOrder] = Array(
            Expressions.sort(Expressions.identity(GraftFileColumn.Name),
              SortDirection.ASCENDING, NullOrdering.NULLS_FIRST),
            Expressions.sort(Expressions.identity(GraftPosColumn.Name),
              SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
          override def requiredDistribution(): Distribution =
            if (cmd == RowLevelOperation.Command.DELETE)
              Distributions.ordered(deleteOrders)
            else layout match {
              case Some(l) =>
                Distributions.clustered(l.columns.map(c =>
                  Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
              case None =>
                if (clusterBy.isEmpty) Distributions.unspecified()
                else Distributions.ordered(orders)
            }
          override def requiredOrdering(): Array[SortOrder] =
            if (cmd == RowLevelOperation.Command.DELETE) deleteOrders else orders
          override def requiredNumPartitions(): Int = 0
          override def toBatch: DeltaBatchWrite =
            new GraftDeltaBatchWrite(path, schema, rowIdSchema, conf,
              GraftDeltaOperation.this, layout, check)
        }
      }
    }
}

/** Commit message of one delta task: data-file entries (new row versions)
  * + delete-store entries (removed row versions). */
private[v2] case class GraftDeltaCommitMessage(data: Seq[GraftCommitEntry],
    dels: Seq[GraftCommitEntry]) extends WriterCommitMessage

/** The APPEND-deltas commit: new data files and new position-delete files
  * join the head listing in one OCC-retried manifest publish — no file is
  * ever replaced. Concurrency contract: concurrent appends ride along; a
  * concurrent overwrite/rewrite that removed any SCANNED file aborts
  * loudly (our recorded positions would point at dead files); a concurrent
  * delete/delta commit that masked a scanned file after our scan aborts
  * loudly (this command matched rows against stale masks — proceeding
  * could re-delete or resurrect a concurrently-changed row version). */
private[v2] class GraftDeltaBatchWrite(path: String, schema: StructType,
    rowIdSchema: StructType, conf: Configuration, op: GraftDeltaOperation,
    layout: Option[GraftLayout],
    check: Option[org.apache.spark.sql.catalyst.expressions.Expression])
    extends DeltaBatchWrite {
  private val writeId = UUID.randomUUID().toString.take(8)
  // two scratch roots: data files under writeId, delete stores under
  // writeId+"d" (the task writers derive file names from their writeId,
  // so the suffix keeps the two streams collision-free)
  private def dataTmp = new Path(path, s"_tmp/$writeId")
  private def delTmp = new Path(path, s"_tmp/${writeId}d")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(path, writeId, schema, rowIdSchema,
      new SerializableHadoopConf(conf), GraftRoute.forLayout(layout, schema), check)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftStoreFormat.fs(path, conf)
    val msgs = messages.map(_.asInstanceOf[GraftDeltaCommitMessage])
    val dataCommitted = msgs.flatMap(_.data).filter(_.rows > 0L).toSeq
    val delCommitted = msgs.flatMap(_.dels).filter(_.rows > 0L).toSeq
    if (dataCommitted.isEmpty && delCommitted.isEmpty) {
      // nothing matched and nothing inserted: no new snapshot
      fs.delete(dataTmp, true); fs.delete(delTmp, true)
      return
    }
    GraftStoreFormat.moveLive(fs, path,
      dataCommitted.map(m => new Path(dataTmp, m.file)) ++
        delCommitted.map(m => new Path(delTmp, m.file)),
      { fs.delete(dataTmp, true); fs.delete(delTmp, true) })
    val newEntries = dataCommitted.map(m =>
      GraftFileEntry(m.file, m.rows, GraftStoreFormat.statsFromString(m.stats),
        GraftStoreFormat.partValsFromString(m.partVals),
        nullCounts = GraftStoreFormat.nullsFromString(m.nulls),
        blocks = GraftStoreFormat.blocksFromString(m.blocks)))
    val delEntries = delCommitted.map { m =>
      // the delete store's col-0 (target name) min/max stats ARE the
      // covering range; names are short so writer stats always exist
      val (mn, mx) = GraftStoreFormat.statsFromString(m.stats).getOrElse(0,
        throw new IllegalStateException(
          s"graft-store: delta delete store ${m.file} has no target-name stats"))
      GraftDeleteEntry(m.file, m.rows, mn, mx)
    }
    val scanned = op.scannedFiles.toSet
    var done = false
    while (!done) {
      val head = GraftStoreFormat.listManifests(path, conf)
      val headM = GraftStoreFormat.readHead(path, conf, head)
        .getOrElse(throw new IllegalStateException(
          s"graft-store: no manifest at $path"))
      if (!scanned.subsetOf(headM.files.map(_.name).toSet))
        throw new java.util.ConcurrentModificationException(
          "graft-store: table was overwritten/rewritten concurrently with a " +
            "delta operation; re-run the statement against the new head")
      // pure-DELETE plans carry an empty data schema — nothing to compare
      require(schema.isEmpty || GraftStoreFormat.sameCols(headM.schema, schema),
        "graft-store: concurrent schema change during a delta operation")
      val entryDels = op.scanManifest.deletes.map(_.name).toSet
      if (headM.deletes.exists(d => !entryDels.contains(d.name) &&
          scanned.exists(d.covers)))
        throw new java.util.ConcurrentModificationException(
          "graft-store: a concurrent delete masked a file this delta " +
            "operation scanned; re-run the statement against the new head")
      // same contract for concurrent EQUALITY deletes over scanned files
      val entryEq = op.scanManifest.eqDeletes.map(_.name).toSet
      val scannedEntries = headM.files.filter(e => scanned.contains(e.name))
      if (headM.eqDeletes.exists(q => !entryEq.contains(q.name) &&
          scannedEntries.exists(q.covers)))
        throw new java.util.ConcurrentModificationException(
          "graft-store: a concurrent equality delete masked a file this " +
            "delta operation scanned; re-run the statement against the new head")
      val seq = GraftStoreFormat.nextSeq(head)
      val stamped = GraftStoreFormat.stampLayout(headM.fieldMeta, headM.schema, schema,
        GraftStoreFormat.stampNew(headM.partitionSpecs, seq, newEntries))
      done = GraftStoreFormat.commitManifest(path, conf,
        headM.copy(files = headM.files ++ stamped,
          deletes = headM.deletes ++ delEntries, txn = None, cdc = None, dropCdc = Seq.empty),
        seq)
    }
    fs.delete(dataTmp, true); fs.delete(delTmp, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftStoreFormat.fs(path, conf)
    fs.delete(dataTmp, true); fs.delete(delTmp, true)
  }
}

private[v2] class GraftDeltaWriterFactory(path: String, writeId: String,
    schema: StructType, rowIdSchema: StructType, conf: SerializableHadoopConf,
    route: GraftRoute, check: Option[org.apache.spark.sql.catalyst.expressions.Expression])
    extends DeltaWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    // two inner task writers sharing the machinery of an ordinary write:
    // new row versions route through the table layout with the CHECK
    // enforced; removed row versions stream into a (file, pos) delete
    // store whose writer-computed col-0 stats become the covering range
    val dataWriter = new GraftStoreDataWriter(path, writeId, partitionId, taskId,
      schema, conf.value, route, check)
    val delWriter = new GraftStoreDataWriter(path, s"${writeId}d", partitionId,
      taskId, GraftStoreFormat.DeleteSchema, conf.value)
    val fileIdx = rowIdSchema.fieldIndex(GraftFileColumn.Name)
    val posIdx = rowIdSchema.fieldIndex(GraftPosColumn.Name)
    new DeltaWriter[InternalRow] {
      private val delRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)

      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        // `_file` arrives as the absolute path the reader served; the
        // delete store keys by NAME (manifest entries are names, and the
        // short-string guarantee is what keeps covering stats existent)
        val abs = id.getUTF8String(fileIdx).toString
        delRow.update(0,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            abs.substring(abs.lastIndexOf('/') + 1)))
        delRow.update(1, id.getLong(posIdx))
        delWriter.write(delRow)
      }
      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        delete(metadata, id)
        insert(row)
      }
      override def insert(row: InternalRow): Unit = dataWriter.write(row)

      override def commit(): WriterCommitMessage = {
        val d = dataWriter.commit().asInstanceOf[GraftCommitMessage]
        val x = delWriter.commit().asInstanceOf[GraftCommitMessage]
        GraftDeltaCommitMessage(d.entries, x.entries)
      }
      override def abort(): Unit = { dataWriter.abort(); delWriter.abort() }
      override def close(): Unit = { dataWriter.close(); delWriter.close() }
    }
  }
}

/** The row-level operation's scan: a normal stats-pruned graft-store scan
  * plus RUNTIME GROUP FILTERING (`SupportsRuntimeV2Filtering` — the
  * Iceberg copy-on-write mechanism). Spark's
  * RowLevelOperationRuntimeGroupFiltering rule plans a subquery over the
  * MATCHING rows of the command (for MERGE: the join with the source) and
  * delivers the distinct values of our filter attributes back through
  * `filter(...)` as IN predicates before partitions are planned — so a
  * SQL MERGE whose condition pushes nothing statically (the match key
  * references source attributes) still rewrites only the files whose
  * stats may hold a matching key, and a non-translatable UPDATE predicate
  * prunes at runtime instead of rewriting every file.
  *
  * Key-grouped reporting is deliberately OFF here: a ReplaceData read
  * gains nothing from SPJ grouping, and a runtime filter narrowing the
  * file set mid-execution must never contradict a partitioning claimed at
  * plan time — per-file partitions, unknown partitioning, always safe. */
private[v2] class GraftRowLevelScan(path: String, manifest: GraftManifest,
    required: StructType, pushed: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf)
    extends GraftStoreScan(path, manifest, required, pushed, conf)
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(selected.size)

  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
    selected.map { e =>
      GraftFilePartition(sliceOf(e))
        : org.apache.spark.sql.connector.read.InputPartition
    }.toArray

  /** The `_file` metadata column, exactly one (Iceberg's design, for two
    * reasons probed empirically): several attributes make Spark build the
    * dynamic predicate as an IN over a named_struct, which has no V1
    * conversion and silently prunes nothing; and collecting matching FILE
    * PATHS makes the pruning EXACT — only files physically containing a
    * matching row are rewritten, independent of stats quality, overlap,
    * or which data column would have pruned best. (The named_struct shape
    * is CONFINED to this command-level group filtering: ordinary
    * composite-key JOINS get one DPP subquery PER key — independent
    * single-column INs the cartesian tuple-bucket pruner consumes; probed
    * in GraftStoreMultiAttrRuntimeSpec.) */
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftFileColumn.Name))

  /** Runtime predicates arrive as V2 INs over the matching rows' values;
    * the V1 conversion feeds the same manifest-stats skipper the static
    * pushdown uses. Unconvertible shapes drop out (conservative: more
    * files rewritten, never a missed row). */
  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    setRuntimeFilters(org.apache.spark.sql.graftshim.predicatesToV1(predicates))
}

/** The REPLACE-groups commit: files the operation's scan selected are
  * swapped for the rewrite's output in one OCC-retried manifest publish.
  * Concurrency contract mirrors the programmatic COW kernel: a concurrent
  * APPEND's files ride along untouched (they were not scanned, so the
  * command's semantics never applied to them); a concurrent overwrite/
  * rewrite that removed any scanned file aborts loudly (committing would
  * resurrect replaced rows); a concurrent schema change aborts loudly. */
private[v2] class GraftRowLevelBatchWrite(path: String, schema: StructType,
    conf: Configuration, op: GraftRowLevelOperation, layout: Option[GraftLayout],
    check: Option[org.apache.spark.sql.catalyst.expressions.Expression])
    extends BatchWrite {
  private val writeId = UUID.randomUUID().toString.take(8)
  private def tmpDir = new Path(path, s"_tmp/$writeId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftRowLevelWriterFactory(
      new GraftStoreWriterFactory(path, writeId, schema, new SerializableHadoopConf(conf),
        GraftRoute.forLayout(layout, schema), check), schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftStoreFormat.fs(path, conf)
    val committed = messages.flatMap(_.asInstanceOf[GraftCommitMessage].entries)
      .filter(_.rows > 0L).toSeq
    GraftStoreFormat.moveLive(fs, path, committed.map(m => new Path(tmpDir, m.file)),
      fs.delete(tmpDir, true))
    val newEntries = committed.map(m =>
      GraftFileEntry(m.file, m.rows, GraftStoreFormat.statsFromString(m.stats),
        GraftStoreFormat.partValsFromString(m.partVals),
        nullCounts = GraftStoreFormat.nullsFromString(m.nulls),
        blocks = GraftStoreFormat.blocksFromString(m.blocks)))
    val replaced = op.scannedFiles.toSet
    var done = false
    while (!done) {
      val head = GraftStoreFormat.listManifests(path, conf)
      val headM = GraftStoreFormat.readHead(path, conf, head)
        .getOrElse(throw new IllegalStateException(
          s"graft-store: no manifest at $path"))
      if (!replaced.subsetOf(headM.files.map(_.name).toSet))
        throw new java.util.ConcurrentModificationException(
          "graft-store: table was overwritten/rewritten concurrently with a " +
            "row-level operation; re-run the statement against the new head")
      require(GraftStoreFormat.sameCols(headM.schema, schema),
        "graft-store: concurrent schema change during a row-level operation")
      // a merge-on-read delete that landed on a scanned file after the scan
      // was planned would be silently undone by this rewrite (the rewrite
      // applied only the scan-time masks) — abort loudly, like COW
      val entryDels = op.scanManifest.deletes.map(_.name).toSet
      if (headM.deletes.exists(d => !entryDels.contains(d.name) &&
          replaced.exists(d.covers)))
        throw new java.util.ConcurrentModificationException(
          "graft-store: a merge-on-read delete landed on a file this " +
            "row-level operation rewrites; re-run against the new head")
      // same contract for concurrent EQUALITY deletes over scanned files
      val entryEq = op.scanManifest.eqDeletes.map(_.name).toSet
      val replacedEntries = headM.files.filter(e => replaced.contains(e.name))
      if (headM.eqDeletes.exists(q => !entryEq.contains(q.name) &&
          replacedEntries.exists(q.covers)))
        throw new java.util.ConcurrentModificationException(
          "graft-store: an equality delete landed on a file this " +
            "row-level operation rewrites; re-run against the new head")
      val carried = headM.files.filterNot(e => replaced.contains(e.name))
      // rewritten groups had their masks applied — drop dead delete entries
      // (rewritten files' fresh addedSeq also outruns every eq delete)
      val liveDels = headM.deletes.filter(d => carried.exists(e => d.covers(e.name)))
      val liveEq = headM.eqDeletes.filter(q => carried.exists(q.covers))
      // evolved table: replacement files were routed under the CURRENT spec
      // (and stamp the current layout on field-id tables)
      val seq = GraftStoreFormat.nextSeq(head)
      val stamped = GraftStoreFormat.stampLayout(headM.fieldMeta, headM.schema, schema,
        GraftStoreFormat.stampNew(headM.partitionSpecs, seq, newEntries))
      done = GraftStoreFormat.commitManifest(path, conf,
        GraftManifest(headM.schema, carried ++ stamped,
          partitionCol = headM.partitionCol, clusterCols = headM.clusterCols,
          check = headM.check, partitionSpecs = headM.partitionSpecs,
          deletes = liveDels, dml = headM.dml, eqDeletes = liveEq,
          fieldMeta = headM.fieldMeta, refs = headM.refs,
          bloomCols = headM.bloomCols, blooms = headM.blooms,
          props = headM.props),
        seq)
    }
    fs.delete(tmpDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftStoreFormat.fs(path, conf)
    fs.delete(tmpDir, true) // manifest untouched: the old snapshot stays live
  }
}

/** Adapter for the ReplaceData row contract: when the operation declares no
  * `requiredMetadataAttributes`, Spark's plain writing task hands the
  * writer the RAW rewrite rows — `[__row_operation int, <table columns>]`
  * — WITHOUT applying the row projection (`ReplaceDataExec.writingTask`
  * only projects on the metadata path). This wrapper strips the leading
  * marker: `WRITE` / `WRITE_WITH_METADATA` rows project to the table
  * columns (offset 1), any other marker is a loud error (ReplaceData
  * emits only to-be-written rows), and a row already shaped to the write
  * schema passes through untouched (future-proofing against Spark
  * projecting upstream). */
private[v2] class GraftRowLevelWriterFactory(delegate: DataWriterFactory,
    schema: StructType) extends DataWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val inner = delegate.createWriter(partitionId, taskId)
    new DataWriter[InternalRow] {
      import org.apache.spark.sql.catalyst.util.RowDeltaUtils
      private val proj = new org.apache.spark.sql.catalyst.ProjectingInternalRow(
        schema, (1 to schema.length).toIndexedSeq)
      override def write(row: InternalRow): Unit =
        if (row.numFields == schema.length) inner.write(row)
        else {
          val op = row.getInt(0)
          require(op == RowDeltaUtils.WRITE_OPERATION ||
              op == RowDeltaUtils.WRITE_WITH_METADATA_OPERATION,
            s"graft-store: unexpected row operation marker $op in a group-based rewrite")
          proj.project(row)
          inner.write(proj)
        }
      // the metadata writing task (engaged because the operation requires
      // `_file`) hands metadata and data as separate pre-projected rows;
      // the replace commit works at file granularity and needs no per-row
      // metadata — write the data row
      override def write(metadata: InternalRow, row: InternalRow): Unit =
        write(row)
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}
