package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, ObjectInputStream, ObjectOutputStream}
import java.util
import java.util.{OptionalLong, UUID}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 read+WRITE source (`graft-store`) — the write half of the
  * custom-source tier, demonstrating the full DSv2 commit protocol.
  *
  * Storage model (manifest-committed row files):
  *   - data files `part-<writeId>-<partition>-<task>.gsf` hold length-framed
  *     binary rows; every task attempt writes a UNIQUE file under
  *     `_tmp/<writeId>/`, so speculative / retried tasks never collide;
  *   - only `commit()` (driver, exactly once, with the commit messages of
  *     the SUCCESSFUL attempts) moves files live and publishes a NEW
  *     versioned manifest `_manifest-<millis>-<uuid>` listing exactly the
  *     committed files with their row counts and per-field min/max stats;
  *   - readers resolve the lexicographically-latest manifest and read ONLY
  *     files it lists: uncommitted stragglers, aborted writes and
  *     not-yet-cleaned old files are invisible — a reader always sees one
  *     consistent snapshot, and there is no missing-manifest window because
  *     publication is a single file CREATE, never delete+rename;
  *   - superseded manifests are RETAINED as the snapshot history: reads can
  *     pin `snapshot`/`asOfMillis` (time travel), and physical cleanup is
  *     the explicit [[GraftStoreOps.expireSnapshots]] step;
  *   - pushed filters prune whole files against the manifest's min/max
  *     stats at plan time (data skipping) and are re-applied row-by-row in
  *     surviving files.
  *
  * Why this matters at 100 TB: job-level atomicity on an object store
  * cannot come from renames of thousands of task files (non-atomic, O(n)
  * metadata ops at the commit point); it comes from making the COMMIT a
  * single manifest publication, which is exactly the mechanism here (the
  * same one table formats like Iceberg/Delta build on). Concurrency:
  * MULTIPLE writers are supported via optimistic concurrency — a commit
  * claims the next `_manifest-<seq>` with an exclusive create (the CAS;
  * see [[GraftStoreFormat.manifestName]] and `commitManifest`), losers
  * re-read table state and retry. Exercised by GraftStoreOccSpec's
  * 4-thread contention suite; the only caveat is RawLocalFileSystem's
  * check-then-create window, documented at the commit site.
  *
  * The scan reports EXACT statistics (rows from the manifest, bytes from
  * file status) via `SupportsReportStatistics`, so Catalyst can e.g. pick a
  * broadcast join for a small graft-store table without a config hint.
  * Column pruning reaches the DECODER, not just the output: being a row
  * format every field must still be ADVANCED past, but pruned fields are
  * seeked byte-wise ([[GraftStoreFormat.readRowPruned]] — strings skip
  * their UTF-8 body without materializing, fixed-width fields seek), so a
  * narrow projection of a wide store pays decode CPU only for the columns
  * it asked for. (Skipping the I/O itself would need a columnar layout —
  * parquet's job, not this format's.)
  *
  * Supported field types: long, int, double, float, boolean, string,
  * date (int days), timestamp (long micros).
  */
class GraftStore extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-store"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-store requires a path"))
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    // honor time-travel options: an old snapshot may predate a schema change
    val t = GraftStoreFormat.selectManifest(path, conf, options)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-store: no manifest at $path (write first, or pass a schema)"))
      .schema
    // `readChangeFeed=true`: the relation's schema is the CDC shape
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      GraftCdc.cdcSchema(t)
    else t
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftStoreTable(properties.get("path"), schema)
}

// ------------------------------------------------------------------ format

/** One committed data file: name, row count, and per-field min/max stats
  * (keyed by field INDEX in the table schema; values kept as exact decimal
  * strings so long stats never round-trip through doubles). Stats are
  * optional per field — a field with only nulls (or NaNs) has none.
  *
  * `partVals` (partitioned tables, manifest v3+): the file's EXPLICIT
  * partition-key values, one per layout column, `None` = SQL NULL. Written
  * by the routing writer, so the scan's KeyGroupedPartitioning no longer
  * has to INFER the value from min==max stats — which made all-null and
  * long-string (>64 char) partition values degrade the whole table to
  * UnknownPartitioning — and bucket layouts (where the partition value is
  * a computed bucket id, not any column's stats) become possible at all.
  *
  * `ncols` (manifest v4+): how many leading columns of the TABLE schema
  * this file physically holds — the additive-schema-evolution hook. The
  * row codec writes fields in schema order, so a file written before an
  * ADD COLUMN is exactly a PREFIX of the evolved schema: the reader
  * decodes `ncols` fields and nulls the rest, no data rewrite. `None` =
  * the file matches the manifest schema in full (every pre-evolution
  * manifest and every freshly written file). */
/** `specId` (manifest v6+, partition-spec evolution): index into the
  * manifest's spec history (`#specs=`) identifying the layout this file
  * was WRITTEN under. `None` on unevolved tables (single implicit spec).
  * Invariant: a manifest carrying `#specs=` stamps EVERY file. */
/** `addedSeq` (manifest v8+): the snapshot sequence of the commit that
  * ADDED this file — the Iceberg data-sequence-number analogue that scopes
  * EQUALITY deletes: an equality delete masks rows of files with strictly
  * smaller addedSeq, so a single upsert commit (equality delete + new row
  * versions, both at the same seq) deletes old versions without touching
  * its own. Absent on pre-v8 entries = -1 (older than every delete). */
/** `nullCounts` (manifest v10+): exact per-column null counts keyed by the
  * file's PHYSICAL column index, SPARSE (missing key = zero nulls).
  * `None` = written before null counts existed → unknown, every consumer
  * declines. Serve `count(col)` pushdown and `IS [NOT] NULL` skipping;
  * [[GraftStoreFormat.logicalStatsView]] re-keys them to logical indices
  * and DENSIFIES (every physically-present live column gets an entry, so
  * "no entry" unambiguously means "column not in this file" there). */
private[v2] case class GraftFileEntry(name: String, rows: Long,
    stats: Map[Int, (String, String)], partVals: Option[Seq[Option[String]]] = None,
    ncols: Option[Int] = None, specId: Option[Int] = None,
    addedSeq: Option[Long] = None, layoutId: Option[Int] = None,
    nullCounts: Option[Map[Int, Long]] = None,
    blocks: Option[Seq[(Long, Long)]] = None,
    sorted: Boolean = false) {
  def seqOrOld: Long = addedSeq.getOrElse(-1L)
}

/** FIELD-ID metadata (manifest v9+, Iceberg's schema-evolution design):
  * present only on tables that evolved beyond additive-at-end (RENAME /
  * DROP COLUMN). Columns are identified by immutable numeric ids, never
  * by name or position:
  *
  *   - `fields`: every field EVER created — `(id, lastName, type)` in
  *     creation order, append-only (a dropped field stays listed: its
  *     TYPE is what lets the reader seek past its bytes in old files;
  *     ids are never reused, so `max(id)+1` is always fresh);
  *   - `ids`: the CURRENT logical schema's field ids, positionally
  *     parallel to the manifest's schema DDL line;
  *   - `layouts`: the PHYSICAL-LAYOUT history — each entry is the id
  *     list of one historical write schema, in the positional order rows
  *     of that era encode fields. Append-only; the LAST entry always
  *     equals `ids` (writers write the current logical order). A file's
  *     [[GraftFileEntry.layoutId]] indexes this list; a file WITHOUT one
  *     predates materialization and reads as ids `0..ncols-1` (ids are
  *     assigned as ordinals of the schema current at materialization, so
  *     every pre-materialization file is an ordinal prefix by
  *     construction — alterTable stamps `ncols` on all files then).
  *
  * RENAME is then a pure DDL edit (ids and layouts untouched — decode
  * positions never depended on names); DROP removes the id from `ids`,
  * appends the shrunk layout, and touches ZERO data files: readers skip
  * the dropped field's bytes via the prune-skipping decoder. Per-file
  * stats stay keyed by PHYSICAL position (the writer's indices);
  * [[GraftStoreFormat.logicalStatsView]] re-keys them to current logical
  * indices for skipping and aggregate pushdown. */
/** One NAMED REF (manifest v11 `#refs=`): `seq` is the snapshot it points
  * at. A TAG (`branch = false`) is immutable — a retention pin and a
  * `VERSION AS OF 'name'` anchor. A BRANCH (`branch = true`) is a movable
  * pointer whose lineage is STAGED (`#wap=`-marked) commits invisible to
  * the main line; `forkSeq` records the MAIN snapshot it forked from —
  * what [[GraftStoreOps.fastForward]] checks to guarantee the branch's
  * content strictly extends main before swapping it in. Both kinds pin
  * their snapshots (and a branch its whole staged lineage tip) through
  * [[GraftStoreOps.expireSnapshots]]. */
private[v2] case class GraftRef(seq: Long, branch: Boolean = false,
    forkSeq: Long = -1L)

/** `layoutTypes` (manifest v16+, TYPE WIDENING — Iceberg's safe-promotion
  * set, int→bigint and float→double): per-layout WRITTEN-TYPE overrides,
  * positionally parallel to `layouts` (sparse both ways: a missing trailing
  * entry, or a missing id inside one, means "the field's current type in
  * `fields`"). The `fields` table always carries the CURRENT logical type
  * (what `schema` declares and new writers encode); a widening ALTER stamps
  * the OLD type onto every pre-existing layout containing the field —
  * those eras' bytes really are 4-byte ints/floats — and re-records the
  * current id list as a fresh layout so post-widening files resolve to an
  * override-free entry. Readers decode each file at its layout's WRITTEN
  * types and widen values to the logical type ([[GraftColRemap]]); the
  * commit touches zero data files. */
/** `defaults` (manifest v17+, `ADD COLUMN ... DEFAULT`): per-field-id
  * DEFAULT VALUE, stored as the manifest string of the evaluated LITERAL
  * at the field's current type ([[GraftStoreFormat.defaultToString]]).
  * Readers substitute it where the column is physically ABSENT from a
  * file (null-extension generalized — Iceberg's initial-default /
  * SQL EXISTS_DEFAULT semantics), so a defaulted add is backfill-free:
  * zero files rewritten, old rows read the default. Null-count skipping
  * and count(col) pushdown DECLINE for files missing a defaulted column
  * ("absent" no longer means "all null" — see [[GraftStoreFormat
  * .logicalStatsView]]). A widening ALTER re-encodes the default at the
  * wide type. */
private[v2] case class GraftFieldMeta(fields: Seq[(Int, String, DataType)],
    ids: Seq[Int], layouts: Seq[Seq[Int]],
    layoutTypes: Seq[Map[Int, DataType]] = Seq.empty,
    defaults: Map[Int, String] = Map.empty) {
  def typeOf: Map[Int, DataType] = fields.map(f => f._1 -> f._3).toMap
  def nextId: Int = fields.map(_._1).max + 1
  /** The PHYSICAL type field `id`'s bytes were encoded at in files of
    * layout `layoutIdx` — the override if the era predates a widening of
    * this field, the current logical type otherwise. */
  def writtenTypeAt(layoutIdx: Int, id: Int): DataType =
    layoutTypes.lift(layoutIdx).flatMap(_.get(id)).getOrElse(typeOf(id))
}

/** One POSITION-DELETE file (manifest v7+, merge-on-read): a data file in
  * the table directory holding sorted `(file string, pos long)` rows — the
  * Iceberg positional-delete shape — where `file` is the target data
  * file's NAME and `pos` its 0-based physical row ordinal. A read of data
  * file F applies every delete file whose `[minTarget, maxTarget]` name
  * range covers F (the range is the writer's min/max stats on the `file`
  * column; delete writes cluster by target file, so ranges stay tight).
  * Deleting never rewrites data: a MOR DELETE commits churn-sized delete
  * files + one manifest, and reads merge them back out — the economics
  * that make frequent small deletes viable at 100 TB. Delete files are
  * dropped when maintenance rewrites their targets ([[GraftStoreOps
  * .purgeDeletes]], compaction) and positions are keyed by exact file
  * NAME, so a stale entry can never touch a rewritten file (fresh names). */
private[v2] case class GraftDeleteEntry(name: String, rows: Long,
    minTarget: String, maxTarget: String) {
  /** Coverage compares in UTF8String BINARY order — the same ordering the
    * writer's min/max stats on the `file` column were computed in. Java
    * String (UTF-16) ordering diverges from UTF-8 byte ordering for
    * supplementary characters, which would silently exclude targets from
    * coverage and resurrect deleted rows; generated names are pure ASCII
    * today (the orderings agree), but coverage is a correctness boundary,
    * so it uses the stats' own ordering rather than trusting that
    * invariant. */
  def covers(fileName: String): Boolean = {
    val f = UTF8String.fromString(fileName)
    UTF8String.fromString(minTarget).compareTo(f) <= 0 &&
      f.compareTo(UTF8String.fromString(maxTarget)) <= 0
  }
}

/** One EQUALITY-DELETE file (manifest v8+, merge-on-read): a data file in
  * the table directory holding the KEY VALUES of deleted rows (schema =
  * the named key columns, in order, at their table types) — the Iceberg
  * equality-delete shape. A row is masked iff its key tuple appears in an
  * equality delete whose `seq` is STRICTLY greater than the row's file's
  * `addedSeq` (null key fields match null, structural equality). This is
  * the ZERO-READ delete: committing one never scans the table — the
  * mechanics of streaming upserts ([[GraftStoreOps.upsertMor]], the
  * Flink→Iceberg CDC-ingest mode), where each batch commits delete-by-key
  * + new versions at one seq and old versions die by the strict-< rule.
  * Read debt = a hash probe per row; [[GraftStoreOps.purgeDeletes]] /
  * compaction repay it. */
private[v2] case class GraftEqDeleteEntry(name: String, rows: Long,
    seq: Long, keyCols: Seq[String]) {
  def covers(e: GraftFileEntry): Boolean = e.seqOrOld < seq
}

/** One BLOOM SIDECAR file (manifest v13+, `~bloom` lines): a text file in
  * the table directory holding per-(data file, column) bloom filters for
  * the table's declared `bloomCols` (see [[GraftBloomFilter]]). Written
  * task-side at data-write time — the driver's commit only records the
  * name and the `[minFile, maxFile]` data-file-NAME range the sidecar
  * covers, so commit metadata stays O(tasks). A scan loads a sidecar ONLY
  * when (a) an equality predicate on a bloom column survives to file
  * selection and (b) the sidecar's range covers a still-candidate file —
  * point lookups on a million-file table touch a handful of sidecars, and
  * full scans / range queries never open one. Entries are keyed by exact
  * file NAME (fresh names on rewrite ⇒ stale entries can never match a
  * live file); an entry whose range covers no live file is dropped at the
  * next manifest render. Name ordering is UTF8/byte order, same as
  * [[GraftDeleteEntry]] — generated names are ASCII so it equals the
  * writer's String min/max. */
private[v2] case class GraftBloomSidecarEntry(name: String,
    minFile: String, maxFile: String) {
  def covers(fileName: String): Boolean = {
    val f = UTF8String.fromString(fileName)
    UTF8String.fromString(minFile).compareTo(f) <= 0 &&
      f.compareTo(UTF8String.fromString(maxFile)) <= 0
  }
}

/** `cdc` (manifest v5+): id of the change-data store under `_cdc/<id>`
  * recorded by the COW DML commit that PUBLISHED this snapshot — the
  * writer-emitted row-level change log (Delta CDF's `_change_data` files).
  * Strictly PER-COMMIT metadata, never a table property: every other
  * commit path (append, overwrite, truncate, restore, compaction) must
  * leave it None. */
/** `partitionSpecs` (manifest v6+): the table's ordered PARTITION-SPEC
  * HISTORY ("" = unpartitioned), Iceberg's spec-versioning. The LAST entry
  * is always the current spec (== `partitionCol`); files reference their
  * spec by index ([[GraftFileEntry.specId]]). `None` on unevolved tables. */
/** `deletes` (manifest v7+): the snapshot's live POSITION-DELETE files
  * ([[GraftDeleteEntry]]). `dml` (v7+): the table's row-level DML storage
  * mode — `None`/`"cow"` = copy-on-write (default), `"mor"` = merge-on-read
  * (DELETE/UPDATE/MERGE write position deletes + new data files instead of
  * rewriting groups). A table PROPERTY like check/clusterCols: declared at
  * overwrite (`dmlMode` option) or ALTER TABLE, inherited by appends. */
private[v2] case class GraftManifest(schema: StructType, files: Seq[GraftFileEntry],
    millis: Long = 0L, partitionCol: Option[String] = None,
    txn: Option[String] = None, clusterCols: Option[String] = None,
    check: Option[String] = None, cdc: Option[String] = None,
    partitionSpecs: Option[Seq[String]] = None,
    deletes: Seq[GraftDeleteEntry] = Seq.empty, dml: Option[String] = None,
    eqDeletes: Seq[GraftEqDeleteEntry] = Seq.empty,
    fieldMeta: Option[GraftFieldMeta] = None,
    refs: Map[String, GraftRef] = Map.empty, wap: Option[String] = None,
    bloomCols: Option[String] = None,
    blooms: Seq[GraftBloomSidecarEntry] = Seq.empty,
    dropCdc: Seq[String] = Seq.empty,
    // user-defined table properties (`#props=`, v18): arbitrary key/value
    // state persisted WITH the table and stamped atomically inside any
    // commit — `ALTER TABLE SET TBLPROPERTIES` durability, and the slot
    // refresh watermarks (materialized views) ride so data + watermark
    // publish as ONE snapshot
    props: Map[String, String] = Map.empty) {
  def isMor: Boolean = dml.contains("mor")
  def hasDeletes: Boolean = deletes.nonEmpty || eqDeletes.nonEmpty
  /** Physical layout (field ids, positional) of one file's rows; None =
    * the table never evolved beyond prefixes (plain `ncols` semantics). */
  def layoutIdsOf(e: GraftFileEntry): Option[Seq[Int]] = fieldMeta.map { fm =>
    e.layoutId match {
      case Some(li) => fm.layouts(li)
      // no layoutId = ordinal-prefix file: either pre-materialization
      // (alterTable stamped ncols on every file then) or written under a
      // pure-ordinal-prefix schema (resolveLayout's fallback, which also
      // stamps ncols) — ids are ordinals by construction either way
      case None => 0 until e.ncols.getOrElse(fm.layouts.head.length)
    }
  }
}

private[v2] object GraftStoreFormat {
  /** Manifest file body: optional `#millis=<epoch>` header (v2 — publication
    * time, kept strictly increasing across snapshots), then schema DDL, then
    * one `file\trows\tstats` line per committed data file.
    *
    * The NAME is the snapshot SEQUENCE NUMBER, zero-padded so lexicographic
    * listing order == commit order. The name doubles as the optimistic-
    * concurrency token: a commit claims `_manifest-{seq}` with an EXCLUSIVE
    * create (overwrite=false — atomic on HDFS/object-store committers;
    * check-then-create on RawLocalFileSystem, a documented local-only
    * window), so of two writers that both read snapshot seq-1, exactly one
    * wins seq and the loser must re-read table state and retry
    * ([[commitManifest]] returning false). Pre-OCC tables (millis-named
    * manifests, no header) stay readable: millis falls back to the name. */
  def manifestName(seq: Long): String = f"_manifest-$seq%020d"

  /** Sequence number embedded in a manifest name. (For a pre-OCC manifest
    * this yields its publication millis — still monotone in commit order,
    * so `nextSeq` on a mixed table keeps sorting after the old names.) */
  def manifestSeq(p: Path): Long =
    p.getName.stripPrefix("_manifest-").takeWhile(_ != '-').toLong

  def nextSeq(ms: Seq[Path]): Long = ms.lastOption.map(manifestSeq(_) + 1L).getOrElse(0L)

  def fs(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf)

  def listManifests(path: String, conf: Configuration): Seq[Path] = {
    val dir = new Path(path)
    val f = fs(path, conf)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("_manifest-")).sortBy(_.getName).toSeq
  }

  /** Stat values are percent-encoded so STRING min/max can ride the same
    * `i:mn:mx|...` wire format as numerics: the structural bytes
    * (`%`, `:`, `|`, tab, newline/CR — plus `,` and `;`, the `#fields=`
    * header's separators) become %XX. Numeric stats contain none of them,
    * so pre-string manifests decode unchanged (decoding a plain number is
    * the identity); widening the escaped set only changes what NEW
    * manifests emit — unescStat decodes any %XX regardless of vintage. */
  private[v2] def escStat(v: String): String = v.flatMap {
    case c @ ('%' | ':' | '|' | '\t' | '\n' | '\r' | ',' | ';') => f"%%${c.toInt}%02X"
    case c => c.toString
  }
  private[v2] def unescStat(v: String): String = {
    if (!v.contains('%')) return v
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      if (v.charAt(i) == '%' && i + 2 < v.length) {
        sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(v.charAt(i)); i += 1 }
    }
    sb.toString
  }

  def statsToString(stats: Map[Int, (String, String)]): String =
    stats.toSeq.sortBy(_._1)
      .map { case (i, (mn, mx)) => s"$i:${escStat(mn)}:${escStat(mx)}" }.mkString("|")

  /** Partition-value list wire format (4th manifest field): values joined
    * by `|`; NULL is the bare marker `~`, a value is `=` + percent-escaped
    * text. The `=` prefix keeps a literal value "~" unambiguous, and
    * escStat already escapes the joiner. Empty string = field absent
    * (unpartitioned file / pre-v3 manifest). */
  def partValsToString(vs: Seq[Option[String]]): String =
    vs.map { case None => "~"; case Some(v) => "=" + escStat(v) }.mkString("|")

  def partValsFromString(s: String): Option[Seq[Option[String]]] =
    if (s == null || s.isEmpty) None
    else Some(s.split("\\|", -1).toSeq.map {
      case "~" => None
      case v => Some(unescStat(v.stripPrefix("=")))
    })

  /** Default split-block granularity: writers record a row-aligned byte
    * offset every ~32 MiB, so an oversized file (a compaction output, an
    * external bulk load) scans as PARALLEL slices instead of one
    * straggler task. Small files record nothing. */
  val SplitBlockBytes: Long = 32L << 20

  /** Split-block wire format (10th manifest field): `row:byteOffset`
    * pairs joined by `|` — each a ROW-ALIGNED slice start (`row` rows
    * precede the offset). Empty = unsplittable listing (small file or
    * pre-v15 manifest); readers then take the whole file as one slice. */
  def blocksToString(bs: Seq[(Long, Long)]): String =
    bs.map { case (r, b) => s"$r:$b" }.mkString("|")

  def blocksFromString(s: String): Option[Seq[(Long, Long)]] =
    if (s == null || s.isEmpty) None
    else Some(s.split("\\|", -1).toSeq.map { p =>
      val i = p.indexOf(':')
      (p.substring(0, i).toLong, p.substring(i + 1).toLong)
    })

  def statsFromString(s: String): Map[Int, (String, String)] =
    if (s == null || s.isEmpty) Map.empty
    else s.split('|').map { part =>
      // limit -1 keeps empty min/max fields (an empty string is a valid stat)
      val Array(i, mn, mx) = part.split(":", -1)
      i.toInt -> (unescStat(mn), unescStat(mx))
    }.toMap

  /** Per-file NULL-COUNT wire format (v10, per-file 9th field): sparse
    * `i:count|...` over the file's PHYSICAL column indices — zero counts
    * are omitted, and a file with no nulls at all writes the sentinel `-`
    * (an empty string must keep meaning "pre-null-count manifest", i.e.
    * unknown). Exact counts, maintained by the writer cell-by-cell; they
    * serve `count(col)` aggregate pushdown and `IS [NOT] NULL` file
    * skipping. */
  def nullsToString(nulls: Map[Int, Long]): String = {
    val nz = nulls.filter(_._2 > 0L)
    if (nz.isEmpty) "-"
    else nz.toSeq.sortBy(_._1).map { case (i, c) => s"$i:$c" }.mkString("|")
  }

  def nullsFromString(s: String): Option[Map[Int, Long]] =
    if (s == null || s.isEmpty) None
    else if (s == "-") Some(Map.empty)
    else Some(s.split('|').map { part =>
      val Array(i, c) = part.split(":", -1)
      i.toInt -> c.toLong
    }.toMap)

  /** Positional name+type schema equality — nullability-INSENSITIVE, the
    * append-compatibility notion: writing non-null values into a nullable
    * column is always safe, and declared nullability only ever widens. */
  def sameCols(a: StructType, b: StructType): Boolean =
    a.length == b.length && a.fields.zip(b.fields).forall { case (x, y) =>
      x.name == y.name && x.dataType == y.dataType
    }

  /** DEFAULT-VALUE wire codec: a column default's INTERNAL value ↔ its
    * manifest string at the column type (same discipline as partition
    * values — rendered from the internal value, parsed back to it;
    * numeric toString/parse round-trips exactly, incl. doubles). */
  def defaultToString(dt: DataType, v: Any): String = dt match {
    case StringType => v.asInstanceOf[UTF8String].toString
    case _ => v.toString
  }
  def defaultFromString(dt: DataType, s: String): Any = dt match {
    case LongType | TimestampType => s.toLong
    case IntegerType | DateType   => s.toInt
    case DoubleType               => s.toDouble
    case FloatType                => s.toFloat
    case BooleanType              => s.toBoolean
    case StringType               => UTF8String.fromString(s)
    case dt: DecimalType =>
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(s), dt.precision, dt.scale)
    case other => throw new UnsupportedOperationException(
      s"graft-store: unsupported default type $other")
  }

  /** WIDE-DECIMAL wire codec (precision 19..38): 16-byte two's-complement
    * big-endian UNSCALED value, sign-extended — Iceberg's fixed(16)
    * decimal form. Fixed width keeps the prune-skip/seek arithmetic of
    * the 8-byte path; one shared scale per column keeps unscaled-integer
    * order == decimal order, so BigInteger stats text compares exactly
    * like the narrow path's longs. */
  def wideDecimalBytes(d: org.apache.spark.sql.types.Decimal): Array[Byte] = {
    val bi = d.toJavaBigDecimal.unscaledValue()
    val raw = bi.toByteArray
    require(raw.length <= 16,
      s"graft-store: decimal unscaled value $bi exceeds the 16-byte codec")
    val out = new Array[Byte](16)
    if (bi.signum() < 0) java.util.Arrays.fill(out, 0, 16 - raw.length, -1: Byte)
    System.arraycopy(raw, 0, out, 16 - raw.length, raw.length)
    out
  }
  def wideDecimalOf(b: Array[Byte], off: Int, p: Int,
      s: Int): org.apache.spark.sql.types.Decimal =
    org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal(new java.math.BigInteger(b, off, 16), s), p, s)

  /** One parse for decimal STATS text (the unscaled integer at the
    * column's scale): long-backed for p<=18, BigInteger for wide. */
  def statDecimal(uns: String, dt: DecimalType): org.apache.spark.sql.types.Decimal =
    if (dt.precision <= 18)
      org.apache.spark.sql.types.Decimal.createUnsafe(uns.toLong, dt.precision, dt.scale)
    else org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal(new java.math.BigInteger(uns), dt.scale),
      dt.precision, dt.scale)

  /** The manifest's column defaults re-keyed to CURRENT LOGICAL indices —
    * what readers substitute where a file physically lacks the column. */
  def logicalDefaults(m: GraftManifest): Map[Int, String] =
    m.fieldMeta.map(fm => fm.defaults.flatMap { case (id, s) =>
      val l = fm.ids.indexOf(id)
      if (l >= 0) Some(l -> s) else None
    }).getOrElse(Map.empty)

  /** Types the file writer tracks min/max stats for — the columns runtime
    * group filtering can usefully collect values of. */
  def statsCapable(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | IntegerType | DateType |
         DoubleType | FloatType | StringType => true
    // decimal rides the integral machinery: all values of a column share
    // one scale, so unscaled-integer min/max ARE decimal min/max
    // (Iceberg's representation) — an 8-byte long for p <= 18, a 16-byte
    // two's complement + BigInteger stats text for wide decimals
    case _: DecimalType => true
    case _ => false
  }

  /** Types the row codec can encode at all (stats-capable plus boolean). */
  def codecSupports(dt: DataType): Boolean =
    statsCapable(dt) || dt == BooleanType

  /** Schema of a position-delete store file: target data-file NAME (not
    * path — names are short enough that writer stats always exist, which
    * is what makes the per-entry `[minTarget, maxTarget]` covering range
    * work) and the 0-based physical row ordinal. */
  val DeleteSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Move a commit's written files from scratch into the table directory
    * `path`, each under its own name, BEFORE the manifest that lists them
    * publishes. `rename` reports failure by returning false on some
    * filesystems, so a false fails the commit like an exception does: the
    * files already moved are deleted again (no manifest lists them yet),
    * `cleanup` drops the scratch, and nothing publishes. */
  def moveLive(f: FileSystem, path: String, files: Seq[Path], cleanup: => Unit): Unit = {
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    try files.foreach { src =>
      val dst = new Path(path, src.getName)
      if (!f.rename(src, dst))
        throw new java.io.IOException(s"graft-store: could not move $src to $dst")
      moved += dst
    } catch { case t: Throwable =>
      moved.foreach(p => try f.delete(p, false) catch { case _: Throwable => () })
      try cleanup catch { case _: Throwable => () }
      throw t
    }
  }

  /** ABSOLUTE paths of the delete files a read of `fileName` must apply. */
  def coveringDeletes(path: String, m: GraftManifest, fileName: String): Seq[String] =
    if (m.deletes.isEmpty) Nil
    else m.deletes.filter(_.covers(fileName))
      .map(d => new Path(path, d.name).toString)

  /** Stamp entries with the CURRENT spec id when the table has an evolved
    * spec history — ONE definition of the "specs defined ⇒ every file
    * stamped" invariant, shared by every commit path (batch, streaming,
    * COW, row-level). */
  /** Stamp NEW entries with the commit's identity: the current partition
    * spec id (when the table has an evolved spec history) and the commit's
    * snapshot sequence (`addedSeq` — the equality-delete scope; see
    * [[GraftEqDeleteEntry]]). ONE definition shared by every commit path,
    * called inside the OCC loop with that attempt's candidate seq. */
  def stampNew(specs: Option[Seq[String]], seq: Long,
      entries: Seq[GraftFileEntry]): Seq[GraftFileEntry] = {
    val specced = specs.map(_.length - 1)
      .fold(entries)(id => entries.map(_.copy(specId = Some(id))))
    specced.map(_.copy(addedSeq = Some(seq)))
  }

  /** Stamp NEW entries with the physical-layout id their rows were written
    * under — the field-id dual of [[stampNew]]'s spec stamping, a no-op on
    * tables without [[GraftFieldMeta]]. `writeSchema` is the schema the
    * writing tasks encoded rows with (the logical schema the operation
    * planned against); it resolves to field ids against the HEAD manifest
    * being committed — by name+type, so a concurrent RENAME/DROP between
    * plan time and this commit attempt fails LOUDLY instead of stamping a
    * layout the bytes don't have. A write schema that is an ordinal
    * prefix but matches no historical layout (a pre-materialization write
    * racing the materializing ALTER) falls back to `ncols` semantics,
    * which the reader interprets as ids `0..ncols-1` — exactly what an
    * ordinal-prefix file is. */
  def stampLayout(fieldMeta: Option[GraftFieldMeta], tableSchema: StructType,
      writeSchema: StructType,
      entries: Seq[GraftFileEntry]): Seq[GraftFileEntry] = fieldMeta match {
    case None => entries
    case Some(fm) =>
      val ids: Seq[Int] = writeSchema.fields.toSeq.map { f =>
        val t = tableSchema.fieldNames.indexOf(f.name)
        if (t < 0 || tableSchema.fields(t).dataType != f.dataType)
          throw new java.util.ConcurrentModificationException(
            s"graft-store: column '${f.name}' of this write's schema is " +
              "missing or retyped in the committed table (a concurrent " +
              "RENAME/DROP COLUMN?); re-run the write against the new schema")
        fm.ids(t)
      }
      // LAST occurrence: a widening re-records the current id list as a
      // fresh (override-free) layout, so the same id sequence can appear
      // twice with different written types — new files must stamp the
      // newest entry (the one whose types match what they encoded)
      fm.layouts.lastIndexOf(ids) match {
        case -1 if ids == (0 until ids.length) =>
          entries.map(e => e.copy(ncols = e.ncols.orElse(Some(ids.length))))
        case -1 => throw new IllegalStateException(
          s"graft-store: write layout $ids matches no recorded layout " +
            s"history ${fm.layouts} — manifest corruption?")
        case li => entries.map(_.copy(layoutId = Some(li)))
      }
  }

  /** Streaming tails and CDC feeds pin a fixed POSITIONAL schema at start
    * and decode files against it by width alone — a file written under a
    * rename/drop-evolved layout (non-ordinal field ids) cannot be decoded
    * that way and must fail LOUDLY rather than misalign. Ordinal-prefix
    * layouts — the only kind on never-evolved tables, and everything
    * before the first DROP (RENAME keeps ids ordinal) — pass. */
  def requireOrdinalLayout(m: GraftManifest, e: GraftFileEntry, what: String,
      pinned: StructType): Unit = {
    def widened(): Nothing = throw new IllegalStateException(
      s"graft-store: $what ${e.name} was written across a column-type " +
        "widening from this feed's pinned schema; streams/feeds pin a " +
        "fixed positional schema — restart the feed at a snapshot at " +
        "or after the widening")
    m.fieldMeta match {
      case Some(fm) =>
        val lids = m.layoutIdsOf(e).get
        if (lids != (0 until lids.length))
          throw new IllegalStateException(
            s"graft-store: $what ${e.name} was written under a rename/drop-" +
              "evolved layout; streams/feeds pin a fixed positional schema — " +
              "restart the feed at a snapshot at or after the evolution")
        // same contract for TYPE WIDENING: the file's WRITTEN types must
        // match the PINNED schema position-by-position — bytes written on
        // either side of a widening (narrow file under a post-widening
        // pin, or wide file under a pre-widening pin) would mis-decode —
        // fail loudly, don't misalign
        val li = e.layoutId.getOrElse(0)
        lids.zipWithIndex.foreach { case (id, p) =>
          if (p < pinned.length &&
              fm.writtenTypeAt(li, id) != pinned.fields(p).dataType)
            widened()
        }
      case None =>
        // pre-evolution era manifest: written types are its own schema's —
        // a feed pinned AFTER a widening walking this era must also fail
        // loudly (int bytes cannot decode under a long pin)
        val w = math.min(e.ncols.getOrElse(m.schema.length),
          math.min(m.schema.length, pinned.length))
        (0 until w).foreach { p =>
          if (m.schema.fields(p).dataType != pinned.fields(p).dataType)
            widened()
        }
    }
  }

  /** A file entry's stats re-keyed from PHYSICAL (writer) column indices
    * to CURRENT LOGICAL indices — what manifest-stats skipping and
    * aggregate pushdown compare against. Min/max stats stay SPARSE
    * (identity on tables without field-id metadata; entries for dropped
    * fields fall out). Null counts additionally DENSIFY: in the returned
    * view every live column the file PHYSICALLY holds has an entry (the
    * on-disk form omits zeros), so a missing key unambiguously means
    * "column not in this file — every row null-extends", which is what
    * lets IS NOT NULL skip such files and count(col) score them 0. */
  def logicalStatsView(m: GraftManifest, e: GraftFileEntry): GraftFileEntry = {
    // physical position -> current logical index (identity prefix when the
    // table never renamed/dropped)
    val physToLogical: Int => Int = m.layoutIdsOf(e) match {
      case Some(lids) =>
        val fm = m.fieldMeta.get
        (p: Int) => if (p >= lids.length) -1 else fm.ids.indexOf(lids(p))
      case None =>
        val w = e.ncols.getOrElse(m.schema.length)
        (p: Int) => if (p < w && p < m.schema.length) p else -1
    }
    val physWidth = m.layoutIdsOf(e).map(_.length)
      .getOrElse(math.min(e.ncols.getOrElse(m.schema.length), m.schema.length))
    val stats2 =
      if (m.fieldMeta.isEmpty) e.stats
      else e.stats.flatMap { case (phys, mnmx) =>
        val logical = physToLogical(phys)
        if (logical < 0) None else Some(logical -> mnmx)
      }
    val nulls2 = e.nullCounts.map { nc =>
      (0 until physWidth).flatMap { p =>
        val logical = physToLogical(p)
        if (logical < 0) None else Some(logical -> nc.getOrElse(p, 0L))
      }.toMap
    }
    // DEFAULTED columns break the dense view's contract: "no entry" is
    // read as "column not in this file — every row null-extends", but a
    // file missing a column with a (non-null) DEFAULT serves the default
    // instead. Declare the null counts UNKNOWN for such files — IS [NOT]
    // NULL skipping and count(col) pushdown decline rather than lie.
    val nulls3 = m.fieldMeta match {
      case Some(fm) if fm.defaults.nonEmpty =>
        val present = (0 until physWidth).map(physToLogical).filter(_ >= 0).toSet
        val missingDefaulted = fm.defaults.keys.exists { id =>
          val l = fm.ids.indexOf(id); l >= 0 && !present.contains(l)
        }
        if (missingDefaulted) None else nulls2
      case _ => nulls2
    }
    e.copy(stats = stats2, nullCounts = nulls3)
  }

  /** PARSED-MANIFEST CACHE. Manifest files are write-once per name
    * (commitManifest's CAS never overwrites), so a parsed [[GraftManifest]]
    * is reusable for as long as the file exists — the key's (length,
    * mtime) from one cheap getFileStatus guards the only mutation path
    * that exists (deleting the whole table directory and recreating it).
    * Every consumer benefits: repeated/interactive scans, the OCC commit
    * loop's head re-reads, stream polls, catalog loads. Bounded LRU — at
    * a million files a parsed manifest is tens of MB, so the bound is
    * entries-not-bytes by design: the cached tables are the ones being
    * actively queried. */
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), GraftManifest](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), GraftManifest]): Boolean =
        size() > 32
    })

  /** PARSED-SEGMENT CACHE, keyed by (table path, segment name). Segments
    * are content-addressed (`_seg-<md5>`), so a name can never mean two
    * different listings — no validation read needed at all. This is what
    * makes the head-advance case O(churn): the next commit's manifest
    * re-references mostly the same chunks, and only the new ones parse. */
  private val segmentCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String), Seq[GraftFileEntry]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Seq[GraftFileEntry]]): Boolean =
        size() > 256
    })

  /** Drop every cached parsed manifest of `path`. The (length, mtime) key
    * guard has a hole on coarse-mtime filesystems (seconds on some object
    * stores): delete the table directory, recreate a same-named manifest
    * of the same length within the granularity window, and the key
    * collides. Manifest names are otherwise write-once (CAS rename), so
    * the ONLY births of a reusable name are table creation (seq-0 commit)
    * and catalog DROP — both call this, closing the hole for every
    * same-JVM drop+recreate regardless of filesystem timestamp
    * resolution. (Parsed segments stay: `_seg-<md5>` names are
    * content-addressed — a recreated same name IS the same listing.) */
  def invalidateTable(path: String): Unit = {
    invalidateMvProbe(path)
    val dir = new Path(path).toUri.getPath
    manifestCache.synchronized {
      val it = manifestCache.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        val kp = new Path(k._1).getParent
        if (kp != null && kp.toUri.getPath == dir) it.remove()
      }
    }
  }

  /** REWRITE-PROBE CACHE: the MV-rewrite rule must decide, per Aggregate
    * node AT PLANNING TIME, "does this table have dependent views, and
    * what is its current head?" — a readMvDeps (exists + listStatus + one
    * open per dep file) plus a listManifests (exists + listStatus) per
    * probe. Locally that is microseconds; on an object store a hot
    * dashboard issuing hundreds of aggregates per second pays 2+ metadata
    * round-trips per query for an answer that almost never changes. This
    * cache keys the probe result (dep list, head-manifest name, and the
    * head's parsed manifest, filled lazily) on the table path with two
    * complementary invalidation devices:
    *
    *   - SAME-JVM writes invalidate IMMEDIATELY: every successful
    *     [[commitManifest]] (the single choke point all writes go
    *     through), every [[addMvDep]] registration, and every
    *     [[invalidateTable]] (table birth / catalog DROP) purge the
    *     path's entry — a local commit flips rewrite freshness on the
    *     very next query, no window at all;
    *   - CROSS-PROCESS writes are seen within the TTL
    *     (`spark.graft.mv.probeCacheMs`, default 2000 ms; 0 disables the
    *     cache): within it, a remote commit may be served from the MV's
    *     pre-commit snapshot — the same bounded-staleness contract as any
    *     snapshot-isolated read that began just before the commit, and
    *     the same device as catalog metadata caching in Iceberg/HMS
    *     deployments. The dep list needs no TTL for CORRECTNESS (a stale
    *     dep fails candidate validation and is skipped; a missing new dep
    *     only forgoes an optimization), but it rides the same entry.
    */
  private case class MvProbe(at: Long, deps: Seq[String], head: Option[String]) {
    @volatile var manifest: Option[GraftManifest] = null // lazily filled
  }
  private val mvProbeCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, MvProbe](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, MvProbe]): Boolean = size() > 64
    })

  def invalidateMvProbe(path: String): Unit = mvProbeCache.remove(path)

  /** The rewrite rule's per-table probe: (registered dependent MV paths,
    * current head-manifest name). Served from [[mvProbeCache]] within
    * `ttlMs`; `ttlMs <= 0` bypasses the cache entirely. */
  def probeMv(path: String, conf: Configuration, ttlMs: Long)
      : (Seq[String], Option[String]) = {
    val now = System.currentTimeMillis()
    if (ttlMs > 0) {
      val hit = mvProbeCache.get(path)
      if (hit != null && now - hit.at <= ttlMs) return (hit.deps, hit.head)
    }
    val deps = readMvDeps(path, conf)
    val head = listManifests(path, conf).lastOption.map(_.getName)
    if (ttlMs > 0) mvProbeCache.put(path, MvProbe(now, deps, head))
    (deps, head)
  }

  /** The head manifest of `path` through the probe cache: zero filesystem
    * calls on a warm entry (the parsed manifest rides the probe entry —
    * not even the manifest cache's validating getFileStatus). Falls back
    * to [[readLatestManifest]] when the cache is off. */
  def probeLatestManifest(path: String, conf: Configuration, ttlMs: Long)
      : Option[GraftManifest] = {
    if (ttlMs <= 0) return readLatestManifest(path, conf)
    probeMv(path, conf, ttlMs) // ensure a live entry
    val e = mvProbeCache.get(path)
    if (e == null) return readLatestManifest(path, conf) // concurrent evict
    if (e.manifest == null) {
      // a vanished head (dropped MV behind a stale dep) caches as None —
      // repeated probes of a dangling pointer stay free too
      e.manifest = e.head.flatMap { h =>
        try Some(readManifestFile(path, conf, new Path(path, h)))
        catch { case _: java.io.FileNotFoundException => None }
      }
    }
    e.manifest
  }

  /** MV-dependents REGISTRY sidecar (`_mvdeps.d/dep-<md5(mvPath)>`, ONE
    * FILE PER DEPENDENT, each holding its escStat'd MV path): how the
    * transparent-rewrite rule finds candidate views for a source table
    * without enumerating any catalog. Deliberately NOT a manifest
    * commit — registering a view must not advance the source's snapshot
    * history (that would stale the view it just created). One file per
    * dependent makes registration a single create with NO
    * read-modify-write, so concurrent CREATE MATERIALIZED VIEWs on the
    * same source can never lose each other's registration (the flaw of a
    * single appended file). The registry is advisory: a stale entry
    * after an MV drop costs a failed lookup, never a wrong result (the
    * rule re-validates every candidate's own metadata). A legacy
    * single-file `_mvdeps` (pre-round-9 layout) still reads. */
  def readMvDeps(path: String, conf: Configuration): Seq[String] = {
    val f = fs(path, conf)
    val legacy = new Path(path, "_mvdeps")
    val legacyDeps = if (!f.exists(legacy)) Seq.empty[String] else {
      val in = f.open(legacy)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      body.split("\n").toSeq.filter(_.nonEmpty).map(unescStat)
    }
    val dir = new Path(path, "_mvdeps.d")
    val perDep = if (!f.exists(dir)) Seq.empty[String] else {
      f.listStatus(dir).toSeq.filter(st => st.isFile &&
        st.getPath.getName.startsWith("dep-")).map { st =>
        val in = f.open(st.getPath)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        unescStat(body.trim)
      }
    }
    (legacyDeps ++ perDep).distinct.sorted
  }

  def addMvDep(path: String, conf: Configuration, mvPath: String): Unit = {
    val f = fs(path, conf)
    val name = java.security.MessageDigest.getInstance("MD5")
      .digest(mvPath.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = new Path(path, "_mvdeps.d")
    f.mkdirs(dir)
    val target = new Path(dir, s"dep-$name")
    if (f.exists(target)) return // idempotent: same name = same content
    val tmp = new Path(path, s"_tmp/mvdeps-${UUID.randomUUID().toString.take(12)}")
    val out = f.create(tmp, true)
    try out.write(escStat(mvPath).getBytes("UTF-8")) finally out.close()
    // losing this rename race is fine: the winner wrote identical content
    if (!f.rename(tmp, target)) f.delete(tmp, false)
    invalidateMvProbe(path) // a new dependent must be probe-visible at once
  }

  /** Deregister a dependent's pointer file from a source table (DROP
    * MATERIALIZED VIEW). A stale pointer is always TOLERATED (the rewrite
    * rule's probe just fails the lookup), so this is pure hygiene: it
    * stops every future query on the source paying one wasted manifest
    * probe per dropped view. */
  def removeMvDep(path: String, conf: Configuration, mvPath: String): Unit = {
    val f = fs(path, conf)
    val name = java.security.MessageDigest.getInstance("MD5")
      .digest(mvPath.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val target = new Path(new Path(path, "_mvdeps.d"), s"dep-$name")
    if (f.exists(target)) f.delete(target, false)
    invalidateMvProbe(path)
  }

  def readManifestFile(path: String, conf: Configuration, p: Path): GraftManifest = {
    val fsys = fs(path, conf)
    val st = fsys.getFileStatus(p)
    val key = (p.toString, st.getLen, st.getModificationTime)
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    val in = fsys.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val m = parseManifest(path, conf, p, body)
    manifestCache.put(key, m)
    m
  }

  /** One file line → entry. Third field (stats) and fourth (partition
    * values) are optional: pre-stats / pre-partition-value manifests stay
    * readable. */
  private def parseFileEntry(l: String): GraftFileEntry = {
    val parts = l.split("\t", -1)
    GraftFileEntry(parts(0), parts(1).toLong,
      if (parts.length > 2) statsFromString(parts(2)) else Map.empty,
      if (parts.length > 3) partValsFromString(parts(3)) else None,
      if (parts.length > 4 && parts(4).nonEmpty) Some(parts(4).toInt) else None,
      if (parts.length > 5 && parts(5).nonEmpty) Some(parts(5).toInt) else None,
      if (parts.length > 6 && parts(6).nonEmpty) Some(parts(6).toLong) else None,
      if (parts.length > 7 && parts(7).nonEmpty) Some(parts(7).toInt) else None,
      if (parts.length > 8) nullsFromString(parts(8)) else None,
      if (parts.length > 9) blocksFromString(parts(9)) else None,
      parts.length > 10 && parts(10) == "s")
  }

  private def parseManifest(path: String, conf: Configuration, p: Path,
      body: String): GraftManifest = {
    val all = body.split("\n").filter(_.nonEmpty)
    // `#millis=` header is optional: pre-OCC manifests carried millis in the
    // file NAME instead — fall back to it so old tables stay time-travelable
    val (millis, rest) =
      if (all.head.startsWith("#millis=")) (all.head.stripPrefix("#millis=").toLong, all.tail)
      else (manifestSeq(p), all)
    // `#partition=` header (optional, comma-separated): the table is
    // identity-partitioned on these columns — every data file holds exactly
    // ONE value combination, which is what lets the scan report
    // KeyGroupedPartitioning for shuffle-free joins
    val (partCol, rest2) =
      if (rest.head.startsWith("#partition="))
        (Some(rest.head.stripPrefix("#partition=")), rest.tail)
      else (None, rest)
    // `#specs=` header (optional, `;`-joined, "" = unpartitioned): the
    // partition-spec HISTORY (Iceberg spec-versioning); last entry = the
    // current spec. Present only on tables that evolved their layout
    val (specs, rest2a) =
      if (rest2.head.startsWith("#specs="))
        (Some(rest2.head.stripPrefix("#specs=").split(";", -1).toSeq), rest2.tail)
      else (None, rest2)
    // `#fields=` / `#fieldids=` / `#layouts=` (v9, always together): the
    // field-id metadata of rename/drop schema evolution (see
    // [[GraftFieldMeta]])
    val (fieldMeta, rest2b) =
      if (rest2a.head.startsWith("#fields=")) {
        val fields = rest2a.head.stripPrefix("#fields=").split(",", -1).toSeq.map { p =>
          val Array(id, n, t) = p.split(":", 3)
          // type strings are escStat'd since v18 (decimal(p,s) carries a
          // comma and parens); unescStat is identity on pre-v18 plain types
          (id.toInt, unescStat(n), DataType.fromDDL(unescStat(t)))
        }
        val ids = rest2a(1).stripPrefix("#fieldids=").split(",").toSeq.map(_.toInt)
        val layouts = rest2a(2).stripPrefix("#layouts=").split(";", -1).toSeq
          .map(_.split(",").toSeq.map(_.toInt))
        // `#layouttypes=` (v16, optional): per-layout written-type
        // overrides — `;`-joined parallel to `#layouts=`, each entry a
        // comma-joined `id:type` list ("" = no overrides, current types)
        val (layoutTypes, used) =
          if (rest2a.length > 3 && rest2a(3).startsWith("#layouttypes="))
            (rest2a(3).stripPrefix("#layouttypes=").split(";", -1).toSeq.map { e =>
              if (e.isEmpty) Map.empty[Int, DataType]
              else e.split(",").toSeq.map { p =>
                val Array(id, t) = p.split(":", 2)
                id.toInt -> DataType.fromDDL(unescStat(t))
              }.toMap
            }, 4)
          else (Seq.empty[Map[Int, DataType]], 3)
        // `#fielddefaults=` (v17, optional): per-field-id default values —
        // comma-joined `id:esc(value)` at the field's current type
        val (defaults, used2) =
          if (rest2a.length > used && rest2a(used).startsWith("#fielddefaults="))
            (rest2a(used).stripPrefix("#fielddefaults=").split(",", -1).toSeq
              .map { p =>
                val Array(id, v) = p.split(":", 2)
                id.toInt -> unescStat(v)
              }.toMap, used + 1)
          else (Map.empty[Int, String], used)
        (Some(GraftFieldMeta(fields, ids, layouts, layoutTypes, defaults)),
          rest2a.drop(used2))
      } else (None, rest2a)
    // `#cluster=` header (optional, comma-separated): the table's DECLARED
    // sort clustering (range/Z-order layouts) — advisory, like Iceberg's
    // sort-order property: per-file min/max stats stay correct either way,
    // but compaction and COW rewrites re-apply this ordering so the
    // disjoint-range pruning the layout was built for survives maintenance
    val (clusterCols, rest3) =
      if (rest2b.head.startsWith("#cluster="))
        (Some(rest2b.head.stripPrefix("#cluster=")), rest2b.tail)
      else (None, rest2b)
    // `#check=` header (optional, percent-escaped SQL text): the table's
    // CHECK constraint — a table property enforced row-by-row on every
    // write, batch, streaming, and COW rewrite alike
    val (check, rest4) =
      if (rest3.head.startsWith("#check="))
        (Some(unescStat(rest3.head.stripPrefix("#check="))), rest3.tail)
      else (None, rest3)
    // `#cdc=` header (optional): id of the change-data store under
    // `_cdc/<id>` holding this COMMIT's writer-emitted row-level changes
    // (see [[GraftManifest.cdc]])
    val (cdc, rest5) =
      if (rest4.head.startsWith("#cdc="))
        (Some(rest4.head.stripPrefix("#cdc=")), rest4.tail)
      else (None, rest4)
    // `#dropcdc=` header (optional, v14): data files this DELETE commit
    // removed from the listing METADATA-ONLY — the predicate provably
    // covered every row (stats / partition-value proof), so nothing was
    // read or rewritten. The files stay on disk for older snapshots; the
    // CDC feed resolves their live rows as delete pre-images reader-side
    // (see [[GraftCdc]]). Per-commit metadata like `#cdc=`, never inherited
    val (dropCdc, rest5z) =
      if (rest5.head.startsWith("#dropcdc="))
        (rest5.head.stripPrefix("#dropcdc=").split(",").toSeq, rest5.tail)
      else (Seq.empty[String], rest5)
    // `#dml=` header (optional): row-level DML storage mode ("mor" =
    // merge-on-read; absent/"cow" = copy-on-write)
    val (dml, rest5b) =
      if (rest5z.head.startsWith("#dml="))
        (Some(rest5z.head.stripPrefix("#dml=")), rest5z.tail)
      else (None, rest5z)
    // `#refs=` header (optional, v11): named snapshot refs — TAGS pinning
    // a snapshot SEQ for `VERSION AS OF '<name>'` and expiry retention
    val (refs, rest5c) =
      if (rest5b.head.startsWith("#refs="))
        (rest5b.head.stripPrefix("#refs=").split(",", -1).toSeq.map { p =>
          // `name:seq` (tag) or `name:seq:b<forkSeq>` (branch); name is
          // escStat'd so its own ':' never splits
          val parts = p.split(":")
          val name2 = unescStat(parts.dropRight(
            if (parts.last.startsWith("b")) 2 else 1).mkString(":"))
          if (parts.last.startsWith("b"))
            name2 -> GraftRef(parts(parts.length - 2).toLong, branch = true,
              forkSeq = parts.last.drop(1).toLong)
          else name2 -> GraftRef(parts.last.toLong)
        }.toMap, rest5b.tail)
      else (Map.empty[String, GraftRef], rest5b)
    // `#wap=` header (optional, v11): this snapshot is a STAGED
    // write-audit-publish commit — invisible to head resolution until
    // published (Iceberg's WAP flow)
    val (wap, rest5d) =
      if (rest5c.head.startsWith("#wap="))
        (Some(rest5c.head.stripPrefix("#wap=")), rest5c.tail)
      else (None, rest5c)
    // `#bloomcols=` header (optional, v13): the table's declared bloom-
    // index columns (a property inherited by appends, like #cluster)
    val (bloomCols, rest5e0) =
      if (rest5d.head.startsWith("#bloomcols="))
        (Some(rest5d.head.stripPrefix("#bloomcols=")), rest5d.tail)
      else (None, rest5d)
    // `#props=` header (optional, v18): user table properties —
    // comma-joined `esc(k):esc(v)` pairs, inherited by every commit
    val (uprops, rest5e) =
      if (rest5e0.head.startsWith("#props="))
        (rest5e0.head.stripPrefix("#props=").split(",", -1).toSeq.map { p =>
          val Array(k, v) = p.split(":", 2)
          unescStat(k) -> unescStat(v)
        }.toMap, rest5e0.tail)
      else (Map.empty[String, String], rest5e0)
    // `#txn=` header (optional): the streaming-epoch token of the commit
    // that published this snapshot — the idempotency check a replayed
    // epoch commit is deduplicated against
    val (txn, lines) =
      if (rest5e.head.startsWith("#txn="))
        (Some(rest5e.head.stripPrefix("#txn=")), rest5e.tail)
      else (None, rest5e)
    // `~del` (v7+) / `~eqdel` (v8+) lines carry position- and equality-
    // delete files; the `~` sigil can never open a data-file name (those
    // are `part-…`)
    val (tildeLines, fileLines0) = lines.tail.toSeq.partition(_.startsWith("~"))
    // `@seg` refs (v12, segmented manifests): expand each referenced
    // content-addressed segment in place — order preserved. Uncached
    // segments fetch CONCURRENTLY (bounded pool): a manifest listing a
    // large table references many chunks, and on an object store their
    // latency would otherwise serialize into the driver's planning time.
    // Cached segments (the common case after any prior scan — commits
    // re-reference unchanged chunks) contribute ZERO reads and ZERO parse:
    // the cache holds PARSED entries, so a head advance re-parses only the
    // churned chunks.
    val entries: Seq[GraftFileEntry] =
      if (!fileLines0.exists(_.startsWith("@seg\t"))) fileLines0.map(parseFileEntry)
      else {
        val fsys = fs(path, conf)
        def readSeg(segName: String): Seq[GraftFileEntry] = {
          val sin = fsys.open(new Path(path, segName))
          val segBody =
            try scala.io.Source.fromInputStream(sin, "UTF-8").mkString
            finally sin.close()
          segBody.split("\n").filter(_.nonEmpty).toSeq.map(parseFileEntry)
        }
        val segNames = fileLines0.collect {
          case l if l.startsWith("@seg\t") => l.split("\t")(1)
        }
        val toFetch = segNames.filter(n => !segmentCache.containsKey((path, n)))
        val fetched: Map[String, Seq[GraftFileEntry]] =
          if (toFetch.size <= 2) toFetch.map(n => n -> readSeg(n)).toMap
          else {
            import scala.concurrent.{Await, ExecutionContext, Future}
            import scala.concurrent.duration.Duration
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(8, toFetch.size))
            implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
            try Await.result(
              Future.sequence(toFetch.map(n => Future(n -> readSeg(n)))),
              Duration.Inf).toMap
            finally pool.shutdown()
          }
        fetched.foreach { case (n, es) => segmentCache.put((path, n), es) }
        fileLines0.flatMap { l =>
          if (!l.startsWith("@seg\t")) Seq(parseFileEntry(l))
          else {
            val n = l.split("\t")(1)
            fetched.getOrElse(n, {
              val c = segmentCache.get((path, n))
              if (c != null) c else readSeg(n) // evicted between probe and use
            })
          }
        }
      }
    val (bloomLines, tildeRest) = tildeLines.partition(_.startsWith("~bloom\t"))
    val (eqLines, delLines) = tildeRest.partition(_.startsWith("~eqdel\t"))
    GraftManifest(
      StructType.fromDDL(lines.head),
      entries,
      millis, partCol, txn, clusterCols, check, cdc, specs,
      delLines.map { l =>
        val parts = l.split("\t", -1)
        GraftDeleteEntry(parts(1), parts(2).toLong,
          unescStat(parts(3)), unescStat(parts(4)))
      }, dml,
      eqLines.map { l =>
        val parts = l.split("\t", -1)
        GraftEqDeleteEntry(parts(1), parts(2).toLong, parts(3).toLong,
          unescStat(parts(4)).split(",").toSeq)
      }, fieldMeta, refs, wap,
      bloomCols,
      bloomLines.map { l =>
        val parts = l.split("\t", -1)
        GraftBloomSidecarEntry(parts(1), unescStat(parts(2)), unescStat(parts(3)))
      },
      dropCdc, uprops)
  }

  /** The table's HEAD: the newest manifest that is NOT a staged
    * write-audit-publish commit (`#wap=` — invisible until published).
    * Walks back from the end; the loop body almost never runs twice (a
    * staged head exists only between stage and publish/expiry). */
  def readHead(path: String, conf: Configuration, ms: Seq[Path]): Option[GraftManifest] = {
    var i = ms.length - 1
    while (i >= 0) {
      val m = readManifestFile(path, conf, ms(i))
      if (m.wap.isEmpty) return Some(m)
      i -= 1
    }
    None
  }

  def readLatestManifest(path: String, conf: Configuration): Option[GraftManifest] =
    readHead(path, conf, listManifests(path, conf))

  /** Publication millis of a manifest: the `#millis=` header, or (pre-OCC
    * manifests) the millis embedded in the name. Reads ONLY the first
    * header line — `asOfMillis` time travel scans every retained
    * manifest's millis, and paying a full file-listing parse per snapshot
    * would make a timestamp lookup O(snapshots × files). */
  def manifestMillis(path: String, conf: Configuration, p: Path): Long = {
    val in = fs(path, conf).open(p)
    val first =
      try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    if (first != null && first.startsWith("#millis=")) first.stripPrefix("#millis=").toLong
    else manifestSeq(p)
  }

  /** Time travel: resolve the manifest a read should see. Every manifest is
    * a FULL file listing, so any retained one is a complete, consistent
    * snapshot on its own — selection is just picking a file.
    *   - `snapshot`   read option: 0-based snapshot index in publication
    *     order (0 = oldest retained);
    *   - `asOfMillis` read option: latest snapshot published at or before
    *     the given epoch-millis;
    *   - neither: the latest snapshot (normal read). */
  def selectManifest(path: String, conf: Configuration,
      options: CaseInsensitiveStringMap): Option[GraftManifest] = {
    val ms = listManifests(path, conf)
    if (ms.isEmpty) return None
    val chosen = (Option(options.get("snapshot")), Option(options.get("asOfMillis")),
        Option(options.get("ref"))) match {
      case (Some(i), _, _) =>
        // an EXPLICIT index may target a staged (wap) snapshot — that IS
        // the audit read of write-audit-publish
        require(i.toInt >= 0 && i.toInt < ms.size,
          s"graft-store: snapshot $i out of range [0, ${ms.size})")
        ms(i.toInt)
      case (_, Some(t), _) =>
        val atOrBefore = ms.filter(p => manifestMillis(path, conf, p) <= t.toLong)
        require(atOrBefore.nonEmpty,
          s"graft-store: no snapshot at or before $t " +
            s"(oldest is ${manifestMillis(path, conf, ms.head)})")
        // a staged commit is not table history — walk back past it
        return readHead(path, conf, atOrBefore)
      case (_, _, Some(r)) =>
        // named ref (tag): resolved against the HEAD's ref table to a
        // snapshot SEQ (stable across expiry, unlike indices)
        val refs = readHead(path, conf, ms).map(_.refs).getOrElse(Map.empty)
        val seq = refs.getOrElse(r, throw new NoSuchElementException(
          s"graft-store: no ref '$r' (known: ${refs.keys.toSeq.sorted.mkString(", ")})")).seq
        ms.find(p => manifestSeq(p) == seq).getOrElse(
          throw new IllegalStateException(
            s"graft-store: ref '$r' points at expired snapshot seq $seq"))
      case _ => return readHead(path, conf, ms)
    }
    Some(readManifestFile(path, conf, chosen))
  }

  /** Optimistic-concurrency commit: publish `m` as snapshot `expectedSeq`.
    * The body is first written COMPLETELY to a uniquely-named temp file,
    * then RENAMED (no-overwrite) onto the seq name — the rename is both
    * the CAS claim and the publication, and because rename is atomic a
    * concurrent reader (or the CAS loser's re-read) can never observe a
    * partially-written manifest; a create-then-write publication would
    * expose an empty/truncated head mid-write, which for the loser's
    * read-merge-retry means a silently LOST winner file. Rename-without-
    * overwrite is atomic on HDFS; on RawLocalFileSystem the
    * exists-then-rename is a documented local-only window (same caveat the
    * exclusive-create CAS had). Returns false when a concurrent writer
    * already claimed the seq — the caller must re-read table state (the
    * winner may have added files) and retry against the new head.
    * Publication millis is pinned strictly above the previous snapshot's
    * so `asOfMillis` time travel stays a total order even for commits
    * inside one millisecond. Superseded manifests are RETAINED (snapshot
    * history); [[GraftStoreOps.expireSnapshots]] is the explicit
    * retention/vacuum step. */
  /** SEGMENTED MANIFESTS (v12): above this file count, the per-file lines
    * move out of the manifest body into content-addressed SEGMENT files
    * (`_seg-<md5>`), referenced by `@seg` lines — Iceberg's manifest-file
    * layer. The point is COMMIT COST AT SCALE: a full inline listing makes
    * every commit O(total files) metadata, which at 100 TB file counts is
    * the real bottleneck; with segments a commit writes only the chunks
    * its churn touched (content-addressing skips every unchanged chunk —
    * no diffing against the previous manifest needed, reuse falls out of
    * identical bytes hashing identically).
    *
    * Chunk boundaries are CONTENT-DEFINED: a file line starts a new chunk
    * iff a hash of its NAME hits the boundary mask (expected chunk ≈ 64
    * entries, hard cap 4096). Boundaries depend only on the lines
    * themselves, so an append (lines added at the END of the
    * insertion-ordered listing) or a COW rewrite (lines removed/added
    * mid-list) re-chunks only the neighborhoods it touched; every other
    * chunk re-hashes identically and is reused. Losers of the commit CAS
    * may orphan freshly-written segments — content-addressed and tiny,
    * they are reused by the retry or collected by [[GraftStoreOps
    * .expireSnapshots]] (which drops segments no retained manifest
    * references). */
  val SegmentThreshold = 64
  private val SegBoundaryMask = 63
  private val SegMaxChunk = 4096

  private[v2] def renderFileLine(e: GraftFileEntry): String = {
    val base = s"${e.name}\t${e.rows}\t${statsToString(e.stats)}"
    // trailing optional fields: partVals (4th), ncols (5th), specId (6th),
    // addedSeq (7th), layoutId (8th), nullCounts (9th), split blocks
    // (10th, v15) — written only through the LAST present one, so
    // pre-evolution manifests stay byte-stable
    val opts = Seq(
      e.partVals.map(partValsToString).getOrElse(""),
      e.ncols.fold("")(_.toString),
      e.specId.fold("")(_.toString),
      e.addedSeq.fold("")(_.toString),
      e.layoutId.fold("")(_.toString),
      e.nullCounts.fold("")(nullsToString),
      e.blocks.fold("")(blocksToString),
      if (e.sorted) "s" else "")
    (base +: opts.reverse.dropWhile(_.isEmpty).reverse).mkString("\t")
  }

  /** Render the per-file section: inline below the threshold, `@seg`
    * references above it (writing any segment that does not already
    * exist). */
  private def renderFileSection(path: String, f: FileSystem,
      lines: Seq[String]): String = {
    if (lines.size <= SegmentThreshold) return lines.mkString("\n")
    // content-defined chunking on the insertion-ordered lines
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[String]
    lines.foreach { l =>
      val name = l.substring(0, l.indexOf('\t'))
      if (cur.nonEmpty &&
          ((name.hashCode & SegBoundaryMask) == 0 || cur.size >= SegMaxChunk)) {
        chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty[String]
      }
      cur += l
    }
    if (cur.nonEmpty) chunks += cur.toSeq
    chunks.map { c =>
      val bytes = (c.mkString("\n") + "\n").getBytes("UTF-8")
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      val hex = md.map("%02x".format(_)).mkString
      val segName = s"_seg-$hex"
      val seg = new Path(path, segName)
      if (!f.exists(seg)) {
        val tmp = new Path(path, s"_tmp/seg-${UUID.randomUUID().toString.take(12)}")
        val o = f.create(tmp, true)
        try o.write(bytes) finally o.close()
        // a racing writer of the SAME content loses the rename harmlessly
        try { if (!f.rename(tmp, seg)) f.delete(tmp, false) }
        catch { case _: Throwable => try f.delete(tmp, false) catch { case _: Throwable => () } }
      }
      s"@seg\t$segName\t${c.size}"
    }.mkString("\n")
  }

  /** Segment names referenced by one manifest's raw body (for expiry's
    * segment garbage collection) — cheap header-free scan. */
  def manifestSegmentRefs(path: String, conf: Configuration, p: Path): Seq[String] = {
    val in = fs(path, conf).open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    body.split("\n").filter(_.startsWith("@seg\t")).map(_.split("\t")(1)).toSeq
  }

  def commitManifest(path: String, conf: Configuration, m0: GraftManifest,
      expectedSeq: Long): Boolean = {
    // drop bloom sidecar entries whose covering range intersects no live
    // file — after a compaction/rewrite cycle replaces every covered file
    // (fresh names), the entry can never match again and carrying it would
    // grow the manifest without bound. The sidecar FILE stays on disk for
    // older snapshots that still reference it (expiry reclaims it).
    val m =
      if (m0.blooms.isEmpty) m0
      else m0.copy(blooms = m0.blooms.filter(b => m0.files.exists(e => b.covers(e.name))))
    val f = fs(path, conf)
    val target = new Path(path, manifestName(expectedSeq))
    if (f.exists(target)) return false // fast-path CAS check before any I/O
    val prevMillis = listManifests(path, conf).lastOption
      .map(manifestMillis(path, conf, _)).getOrElse(0L)
    val millis = math.max(System.currentTimeMillis(), prevMillis + 1L)
    val tmp = new Path(path, s"_tmp/manifest-${UUID.randomUUID().toString.take(12)}")
    val out = f.create(tmp, true)
    try out.write(
      (s"#millis=$millis\n" +
        m.partitionCol.map(c => s"#partition=$c\n").getOrElse("") +
        m.partitionSpecs.map(ss => s"#specs=${ss.mkString(";")}\n").getOrElse("") +
        m.fieldMeta.map(fm =>
          s"#fields=${fm.fields.map { case (id, n, t) =>
            s"$id:${escStat(n)}:${escStat(t.catalogString)}" }.mkString(",")}\n" +
          s"#fieldids=${fm.ids.mkString(",")}\n" +
          s"#layouts=${fm.layouts.map(_.mkString(",")).mkString(";")}\n" +
          (if (fm.layoutTypes.forall(_.isEmpty)) "" else
            s"#layouttypes=${fm.layouts.indices.map(i =>
              fm.layoutTypes.lift(i).getOrElse(Map.empty[Int, DataType]).toSeq
                .sortBy(_._1).map { case (id, t) => s"$id:${escStat(t.catalogString)}" }
                .mkString(",")).mkString(";")}\n") +
          (if (fm.defaults.isEmpty) "" else
            s"#fielddefaults=${fm.defaults.toSeq.sortBy(_._1)
              .map { case (id, v) => s"$id:${escStat(v)}" }
              .mkString(",")}\n")).getOrElse("") +
        m.clusterCols.map(c => s"#cluster=$c\n").getOrElse("") +
        m.check.map(c => s"#check=${escStat(c)}\n").getOrElse("") +
        m.cdc.map(c => s"#cdc=$c\n").getOrElse("") +
        (if (m.dropCdc.isEmpty) "" else s"#dropcdc=${m.dropCdc.mkString(",")}\n") +
        m.dml.map(d => s"#dml=$d\n").getOrElse("") +
        (if (m.refs.isEmpty) "" else
          s"#refs=${m.refs.toSeq.sortBy(_._1).map { case (n2, r) =>
            if (r.branch) s"${escStat(n2)}:${r.seq}:b${r.forkSeq}"
            else s"${escStat(n2)}:${r.seq}" }.mkString(",")}\n") +
        m.wap.map(w => s"#wap=$w\n").getOrElse("") +
        m.bloomCols.map(b => s"#bloomcols=$b\n").getOrElse("") +
        (if (m.props.isEmpty) "" else
          s"#props=${m.props.toSeq.sortBy(_._1).map { case (k, v) =>
            s"${escStat(k)}:${escStat(v)}" }.mkString(",")}\n") +
        m.txn.map(t => s"#txn=$t\n").getOrElse("") +
        m.schema.toDDL + "\n" +
        m.blooms.map(b =>
          s"~bloom\t${b.name}\t${escStat(b.minFile)}\t${escStat(b.maxFile)}\n")
          .mkString +
        m.deletes.map(d =>
          s"~del\t${d.name}\t${d.rows}\t${escStat(d.minTarget)}\t${escStat(d.maxTarget)}\n")
          .mkString +
        m.eqDeletes.map(d =>
          s"~eqdel\t${d.name}\t${d.rows}\t${d.seq}\t${escStat(d.keyCols.mkString(","))}\n")
          .mkString +
        renderFileSection(path, f, m.files.map(renderFileLine)))
        .getBytes("UTF-8"))
    finally out.close()
    // atomic publication: rename(tmp -> seq name) without overwrite.
    // A seq-0 commit is a table BIRTH: purge any cached manifests a
    // previous same-path incarnation left behind (see invalidateTable).
    try {
      if (f.exists(target) || !f.rename(tmp, target)) {
        f.delete(tmp, false); false
      } else {
        if (expectedSeq == 0) invalidateTable(path)
        // the head advanced: the rewrite probe's cached head name for this
        // table is stale NOW — purge it so a same-JVM commit flips MV
        // freshness on the very next planned query
        invalidateMvProbe(path)
        true
      }
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        f.delete(tmp, false); false
      case e: java.io.IOException if f.exists(target) =>
        f.delete(tmp, false); false
    }
  }

  /** Last-wins publish for callers whose manifest does NOT depend on the
    * previous snapshot's content (overwrite/truncate): retry the CAS with a
    * fresh seq until it lands. Content-dependent commits (append's
    * read-merge) must NOT use this — they re-merge per attempt in
    * [[GraftStoreBatchWrite.commit]]. */
  def writeManifest(path: String, conf: Configuration, m: GraftManifest): Unit = {
    var done = false
    while (!done) done = commitManifest(path, conf, m, nextSeq(listManifests(path, conf)))
  }

  /** Data skipping: a file survives only if NO pushed filter proves its
    * [min,max] range disjoint from the predicate. Conservative by
    * construction — unknown filter shapes, non-numeric fields, null
    * semantics and NaN-poisoned stats all answer "may match". Integral
    * stats compare in exact Long math (a 2^53+ key would round in doubles
    * and could skip a matching file). Shared by the scan's pushed-filter
    * pruning and [[GraftStoreOps.deleteWhere]]'s rewrite-set planning. */
  def mayMatch(schema: StructType, e: GraftFileEntry,
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def rng(c: String): Option[(String, String, DataType)] = {
      val idx = schema.fieldNames.indexOf(c)
      if (idx < 0) None
      else e.stats.get(idx).map { case (mn, mx) =>
        (mn, mx, schema.fields(idx).dataType)
      }
    }
    def test(c: String, v: Any)(longOk: (Long, Long, Long) => Boolean,
        dblOk: (Double, Double, Double) => Boolean): Boolean =
      rng(c) match {
        case Some((mn, mx, LongType | IntegerType)) => v match {
          case num: java.lang.Number => longOk(mn.toLong, mx.toLong, num.longValue())
          case _ => true
        }
        case Some((mn, mx, DoubleType | FloatType)) => v match {
          case num: java.lang.Number => dblOk(mn.toDouble, mx.toDouble, num.doubleValue())
          case _ => true
        }
        // decimal stats are UNSCALED longs at the column's scale; the
        // filter value compares in exact BigDecimal math, collapsed to
        // sign space like strings (one comparator serves every order)
        case Some((mn, mx, dt: DecimalType)) =>
          val x: java.math.BigDecimal = v match {
            case bd: java.math.BigDecimal => bd
            case bd: scala.math.BigDecimal => bd.bigDecimal
            case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
            case num: java.lang.Number => new java.math.BigDecimal(num.toString)
            case _ => null
          }
          if (x == null) true
          else {
            def dec(uns: String) = new java.math.BigDecimal(
              new java.math.BigInteger(uns), dt.scale)
            longOk(math.signum(dec(mn).compareTo(x)).toLong,
              math.signum(dec(mx).compareTo(x)).toLong, 0L)
          }
        case Some((mn, mx, StringType)) => v match {
          // compare in UTF8 BINARY order — the exact order the writer
          // tracked min/max in (UTF8String.compareTo), NOT Java's UTF-16
          // code-unit order, which diverges on supplementary characters.
          // The Long comparator is reused by collapsing the string ordering
          // to sign space: with x' = 0, mn' = sign(mn - x), mx' = sign(mx - x),
          // every order relation r satisfies (x' r mn') ⇔ (x r mn) and
          // (x' r mx') ⇔ (x r mx) — and longOk only ever compares x against
          // the bounds, never the bounds against each other.
          case str: String =>
            val x = UTF8String.fromString(str)
            longOk(
              math.signum(UTF8String.fromString(mn).compareTo(x)).toLong,
              math.signum(UTF8String.fromString(mx).compareTo(x)).toLong,
              0L)
          case _ => true
        }
        case _ => true
      }
    f match {
      case And(l, r) => mayMatch(schema, e, l) && mayMatch(schema, e, r)
      case Or(l, r) => mayMatch(schema, e, l) || mayMatch(schema, e, r)
      case EqualTo(c, v) => test(c, v)((mn, mx, x) => x >= mn && x <= mx,
        (mn, mx, x) => x >= mn && x <= mx)
      case GreaterThan(c, v) => test(c, v)((_, mx, x) => mx > x, (_, mx, x) => mx > x)
      case GreaterThanOrEqual(c, v) => test(c, v)((_, mx, x) => mx >= x, (_, mx, x) => mx >= x)
      case LessThan(c, v) => test(c, v)((mn, _, x) => mn < x, (mn, _, x) => mn < x)
      case LessThanOrEqual(c, v) => test(c, v)((mn, _, x) => mn <= x, (mn, _, x) => mn <= x)
      case In(c, vs) => vs.isEmpty || vs.exists(v => mayMatch(schema, e, EqualTo(c, v)))
      // null-count skipping (v10 stats, via logicalStatsView's DENSE view):
      // IS NULL skips files proven all-non-null (tracked count == 0);
      // IS NOT NULL skips files proven all-null (count == rows, or the
      // column physically absent — every row null-extends). Safe under
      // merge-on-read masks: deletes only REMOVE rows, which cannot create
      // a null in a no-null file or a value in an all-null one.
      case IsNull(c) =>
        val idx = schema.fieldNames.indexOf(c)
        idx < 0 || e.nullCounts.forall(nc => nc.get(idx).forall(_ > 0L))
      case IsNotNull(c) =>
        val idx = schema.fieldNames.indexOf(c)
        idx < 0 || e.nullCounts.forall(nc => nc.get(idx).exists(_ < e.rows))
      case _ => true
    }
  }

  // --- row codec: per row one 0x01 marker byte, then per field a null byte
  //     + the value; strings are UTF-8 length-prefixed. EOF = clean row end.
  def writeRow(out: DataOutputStream, row: InternalRow, schema: StructType): Unit = {
    out.writeByte(1)
    var i = 0
    while (i < schema.length) {
      if (row.isNullAt(i)) out.writeByte(1)
      else {
        out.writeByte(0)
        schema.fields(i).dataType match {
          case LongType | TimestampType => out.writeLong(row.getLong(i))
          case IntegerType | DateType   => out.writeInt(row.getInt(i))
          case DoubleType               => out.writeDouble(row.getDouble(i))
          case FloatType                => out.writeFloat(row.getFloat(i))
          case BooleanType              => out.writeBoolean(row.getBoolean(i))
          case StringType =>
            val b = row.getUTF8String(i).getBytes
            out.writeInt(b.length); out.write(b)
          case dt: DecimalType if dt.precision <= 18 =>
            out.writeLong(row.getDecimal(i, dt.precision, dt.scale).toUnscaledLong)
          case dt: DecimalType =>
            out.write(wideDecimalBytes(row.getDecimal(i, dt.precision, dt.scale)))
          case other => throw new UnsupportedOperationException(
            s"graft-store: unsupported type $other")
        }
      }
      i += 1
    }
  }

  /** Reads one row of `schema`, returns null at EOF. */
  def readRow(in: DataInputStream, schema: StructType): Array[Any] = {
    val marker = in.read()
    if (marker == -1) return null
    require(marker == 1, s"graft-store: corrupt row marker $marker")
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      if (in.readByte() == 1) vals(i) = null
      else vals(i) = schema.fields(i).dataType match {
        case LongType | TimestampType => in.readLong()
        case IntegerType | DateType   => in.readInt()
        case DoubleType               => in.readDouble()
        case FloatType                => in.readFloat()
        case BooleanType              => in.readBoolean()
        case StringType =>
          val b = new Array[Byte](in.readInt()); in.readFully(b)
          UTF8String.fromBytes(b)
        case dt: DecimalType if dt.precision <= 18 =>
          org.apache.spark.sql.types.Decimal.createUnsafe(
            in.readLong(), dt.precision, dt.scale)
        case dt: DecimalType =>
          val b = new Array[Byte](16); in.readFully(b)
          wideDecimalOf(b, 0, dt.precision, dt.scale)
        case other => throw new UnsupportedOperationException(
          s"graft-store: unsupported type $other")
      }
      i += 1
    }
    vals
  }

  /** `skipBytes` contract-safe full skip (it may skip fewer — loop, and a
    * short skip at stream end is a truncated row, not a clean EOF). */
  private def skipFully(in: DataInputStream, n: Int): Unit = {
    var left = n
    while (left > 0) {
      val k = in.skipBytes(left)
      if (k <= 0) throw new EOFException(
        "graft-store: truncated row while skipping a pruned field")
      left -= k
    }
  }

  /** Reads one row of `schema` decoding ONLY the fields whose index is set
    * in `wanted`; every other non-null field is advanced BYTE-WISE — fixed
    * width types seek past their payload, strings read the length prefix
    * and skip the UTF-8 body without materializing it. This is the row
    * format's prune-skipping decode: column pruning used to be honored
    * only in the OUTPUT (every field was still decoded to advance the
    * stream); now a 2-column projection of a wide store pays decode CPU
    * for 2 columns plus a seek per pruned field. `wanted` may be longer
    * than `schema` (prefix-evolved files). Returns null at EOF; pruned
    * entries of the returned array stay null — callers must only index
    * positions they asked for (or the metadata pseudo-columns). The
    * skipped payload bytes add to `tally`, the calling reader's counts. */
  def readRowPruned(in: DataInputStream, schema: StructType,
      wanted: Array[Boolean], tally: GraftScanTally): Array[Any] = {
    val marker = in.read()
    if (marker == -1) return null
    require(marker == 1, s"graft-store: corrupt row marker $marker")
    val vals = new Array[Any](schema.length)
    var skipped = 0L
    var i = 0
    while (i < schema.length) {
      if (in.readByte() == 1) () // null field: nothing on the wire
      else if (wanted(i)) vals(i) = schema.fields(i).dataType match {
        case LongType | TimestampType => in.readLong()
        case IntegerType | DateType   => in.readInt()
        case DoubleType               => in.readDouble()
        case FloatType                => in.readFloat()
        case BooleanType              => in.readBoolean()
        case StringType =>
          val b = new Array[Byte](in.readInt()); in.readFully(b)
          UTF8String.fromBytes(b)
        case dt: DecimalType if dt.precision <= 18 =>
          org.apache.spark.sql.types.Decimal.createUnsafe(
            in.readLong(), dt.precision, dt.scale)
        case dt: DecimalType =>
          val b = new Array[Byte](16); in.readFully(b)
          wideDecimalOf(b, 0, dt.precision, dt.scale)
        case other => throw new UnsupportedOperationException(
          s"graft-store: unsupported type $other")
      } else {
        schema.fields(i).dataType match {
          case LongType | TimestampType | DoubleType => skipFully(in, 8); skipped += 8
          case dt: DecimalType if dt.precision <= 18 => skipFully(in, 8); skipped += 8
          case _: DecimalType                        => skipFully(in, 16); skipped += 16
          case IntegerType | DateType | FloatType    => skipFully(in, 4); skipped += 4
          case BooleanType                           => skipFully(in, 1); skipped += 1
          case StringType =>
            val len = in.readInt(); skipFully(in, len); skipped += len
          case other => throw new UnsupportedOperationException(
            s"graft-store: unsupported type $other")
        }
      }
      i += 1
    }
    tally.skipped += skipped
    vals
  }

  /** Compact per-column type codes for the hot decode loop — collapses the
    * per-field DataType pattern match into a byte switch:
    * 0=long 1=int 2=double 3=float 4=bool 5=string 6=decimal(p<=18)
    * 7=wide decimal (16-byte two's complement). */
  def typeCodes(schema: StructType): Array[Byte] = schema.fields.map(_.dataType match {
    case LongType | TimestampType => 0: Byte
    case IntegerType | DateType   => 1: Byte
    case DoubleType               => 2: Byte
    case FloatType                => 3: Byte
    case BooleanType              => 4: Byte
    case StringType               => 5: Byte
    case dt: DecimalType if dt.precision <= 18 => 6: Byte
    case _: DecimalType           => 7: Byte
    case other => throw new UnsupportedOperationException(
      s"graft-store: unsupported type $other")
  })
}

/** BUFFERED row ENCODER — the write-side twin of
  * [[GraftBufferedRowReader]]. `writeRow` through a DataOutputStream pays
  * two synchronized BufferedOutputStream calls plus a DataType pattern
  * match per field; this encoder appends into a local growable byte
  * buffer with a byte-switch over precomputed type codes and drains to
  * the file stream in 64 KiB slabs. Byte layout is IDENTICAL to
  * [[GraftStoreFormat.writeRow]] (big-endian, marker/null bytes,
  * length-prefixed UTF-8 strings) — the reader cannot tell them apart. */
private[v2] final class GraftRowEncoder(schema: StructType) {
  private val codes = GraftStoreFormat.typeCodes(schema)
  // per-field (precision, scale) for decimal columns (code 6)
  private val precs = schema.fields.map {
    case StructField(_, d: DecimalType, _, _) => d.precision; case _ => 0 }
  private val scales = schema.fields.map {
    case StructField(_, d: DecimalType, _, _) => d.scale; case _ => 0 }
  private val n = schema.length
  private var buf = new Array[Byte](1 << 16)
  private var len = 0
  private var drained = 0L

  /** Bytes encoded since creation (buffered + drained) — the rolling
    * trigger's size signal. */
  def bytesWritten: Long = drained + len

  private def ensure(more: Int): Unit =
    if (len + more > buf.length) {
      var cap = buf.length
      while (cap < len + more) cap <<= 1
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  private def putLong(v: Long): Unit = {
    val p = len
    buf(p) = (v >>> 56).toByte; buf(p + 1) = (v >>> 48).toByte
    buf(p + 2) = (v >>> 40).toByte; buf(p + 3) = (v >>> 32).toByte
    buf(p + 4) = (v >>> 24).toByte; buf(p + 5) = (v >>> 16).toByte
    buf(p + 6) = (v >>> 8).toByte; buf(p + 7) = v.toByte
    len += 8
  }
  private def putInt(v: Int): Unit = {
    val p = len
    buf(p) = (v >>> 24).toByte; buf(p + 1) = (v >>> 16).toByte
    buf(p + 2) = (v >>> 8).toByte; buf(p + 3) = v.toByte
    len += 4
  }

  def encode(row: InternalRow): Unit = {
    ensure(2 + n) // marker + null bytes (values ensure as they go)
    buf(len) = 1; len += 1
    var i = 0
    while (i < n) {
      if (row.isNullAt(i)) { ensure(1); buf(len) = 1; len += 1 }
      else {
        ensure(9)
        buf(len) = 0; len += 1
        codes(i) match {
          case 0 => putLong(row.getLong(i))
          case 1 => putInt(row.getInt(i))
          case 2 => putLong(java.lang.Double.doubleToLongBits(row.getDouble(i)))
          case 3 => putInt(java.lang.Float.floatToIntBits(row.getFloat(i)))
          case 4 => buf(len) = if (row.getBoolean(i)) 1 else 0; len += 1
          case 6 => putLong(row.getDecimal(i, precs(i), scales(i)).toUnscaledLong)
          case 7 =>
            val b = GraftStoreFormat.wideDecimalBytes(
              row.getDecimal(i, precs(i), scales(i)))
            ensure(16)
            System.arraycopy(b, 0, buf, len, 16)
            len += 16
          case _ =>
            val b = row.getUTF8String(i).getBytes
            ensure(4 + b.length)
            putInt(b.length)
            System.arraycopy(b, 0, buf, len, b.length)
            len += b.length
        }
      }
      i += 1
    }
  }

  def maybeDrain(out: java.io.OutputStream): Unit =
    if (len >= (1 << 16)) drain(out)
  def drain(out: java.io.OutputStream): Unit = {
    if (len > 0) { out.write(buf, 0, len); drained += len; len = 0 }
  }
}

/** BUFFERED row decoder — the data reader's hot path. The stream-based
  * [[GraftStoreFormat.readRowPruned]] pays two synchronized
  * BufferedInputStream calls plus a DataType pattern match PER FIELD; at
  * scan speed that is the bottleneck, not I/O. This decoder works off the
  * whole file read into one array (task-sized files — the same buffering
  * discipline as a Parquet row group): absolute ByteBuffer reads
  * (intrinsified, big-endian like the writer), a byte-switch on
  * precomputed type codes, ZERO-COPY strings (`UTF8String.fromBytes`
  * wraps the buffer region — safe: the buffer is read-only and Spark
  * copies rows on materialization), and pruned fields advance by pure
  * cursor arithmetic. Contract matches the stream decoder: clean EOF
  * exactly at buffer end, loud failure mid-row. Pruned payload bytes add
  * to `tally`, the owning reader's counts. */
private[v2] final class GraftBufferedRowReader(buf: Array[Byte], codes: Array[Byte],
    tally: GraftScanTally,
    precs: Array[Int] = Array.empty, scales: Array[Int] = Array.empty) {
  private val bb = java.nio.ByteBuffer.wrap(buf)
  private var pos = 0

  /** Decode the next row's `wanted` fields into `vals` (pruned slots are
    * nulled); false at clean EOF. `vals` is caller-owned and reused — the
    * values it holds are invalidated by the next call. */
  def readPruned(wanted: Array[Boolean], vals: Array[Any]): Boolean = {
    if (pos >= buf.length) return false
    require(buf(pos) == 1, s"graft-store: corrupt row marker ${buf(pos)}")
    pos += 1
    var i = 0
    while (i < codes.length) {
      if (buf(pos) == 1) { vals(i) = null; pos += 1 }
      else {
        pos += 1
        if (wanted(i)) codes(i) match {
          case 0 => vals(i) = bb.getLong(pos); pos += 8
          case 1 => vals(i) = bb.getInt(pos); pos += 4
          case 2 => vals(i) = bb.getDouble(pos); pos += 8
          case 3 => vals(i) = bb.getFloat(pos); pos += 4
          case 4 => vals(i) = buf(pos) != 0; pos += 1
          case 6 =>
            vals(i) = org.apache.spark.sql.types.Decimal.createUnsafe(
              bb.getLong(pos), precs(i), scales(i)); pos += 8
          case 7 =>
            vals(i) = GraftStoreFormat.wideDecimalOf(
              buf, pos, precs(i), scales(i)); pos += 16
          case _ =>
            val len = bb.getInt(pos); pos += 4
            vals(i) = UTF8String.fromBytes(buf, pos, len); pos += len
        } else {
          vals(i) = null
          codes(i) match {
            case 0 | 2 | 6 => pos += 8; tally.skipped += 8
            case 7 => pos += 16; tally.skipped += 16
            case 1 | 3 => pos += 4; tally.skipped += 4
            case 4 => pos += 1; tally.skipped += 1
            case _ => val len = bb.getInt(pos); pos += 4 + len; tally.skipped += len
          }
        }
      }
      i += 1
    }
    true
  }

  /** UNSAFE fast path: decode the next row STRAIGHT into an
    * [[org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter]]
    * — zero boxing (the generic path allocates a `java.lang.Long` per
    * bigint cell), and downstream codegen reads the produced UnsafeRow
    * with direct memory accesses instead of unboxing an `Array[Any]`
    * slot. `outOf(phys)` = output ordinal (-1 = pruned); the caller owns
    * reset()/zeroOutNullBytes() per row and any metadata ordinals.
    * Variable-length writes at arbitrary ordinals are fine — the writer
    * appends bytes and records (offset, len) in the fixed slot. False at
    * clean EOF. */
  def readRowUnsafe(outOf: Array[Int],
      w: org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter): Boolean = {
    if (pos >= buf.length) return false
    require(buf(pos) == 1, s"graft-store: corrupt row marker ${buf(pos)}")
    pos += 1
    var i = 0
    while (i < codes.length) {
      val out = outOf(i)
      if (buf(pos) == 1) {
        pos += 1
        if (out >= 0) w.setNullAt(out)
      } else {
        pos += 1
        if (out >= 0) codes(i) match {
          case 0 => w.write(out, bb.getLong(pos)); pos += 8
          case 1 => w.write(out, bb.getInt(pos)); pos += 4
          case 2 => w.write(out, bb.getDouble(pos)); pos += 8
          case 3 => w.write(out, bb.getFloat(pos)); pos += 4
          case 4 => w.write(out, buf(pos) != 0); pos += 1
          case 6 =>
            w.write(out, org.apache.spark.sql.types.Decimal.createUnsafe(
              bb.getLong(pos), precs(i), scales(i)), precs(i), scales(i))
            pos += 8
          case 7 =>
            w.write(out, GraftStoreFormat.wideDecimalOf(
              buf, pos, precs(i), scales(i)), precs(i), scales(i))
            pos += 16
          case _ =>
            val len = bb.getInt(pos); pos += 4
            w.write(out, UTF8String.fromBytes(buf, pos, len)); pos += len
        } else codes(i) match {
          case 0 | 2 | 6 => pos += 8; tally.skipped += 8
          case 7 => pos += 16; tally.skipped += 16
          case 1 | 3 => pos += 4; tally.skipped += 4
          case 4 => pos += 1; tally.skipped += 1
          case _ => val len = bb.getInt(pos); pos += 4 + len; tally.skipped += len
        }
      }
      i += 1
    }
    true
  }

  /** Advance past one whole row with NO decode — how position-masked rows
    * are skipped on the unsafe path (a deleted row's bytes never
    * materialize). False at clean EOF. */
  def skipRow(): Boolean = {
    if (pos >= buf.length) return false
    require(buf(pos) == 1, s"graft-store: corrupt row marker ${buf(pos)}")
    pos += 1
    var i = 0
    while (i < codes.length) {
      if (buf(pos) == 1) pos += 1
      else {
        pos += 1
        codes(i) match {
          case 0 | 2 | 6 => pos += 8
          case 7 => pos += 16
          case 1 | 3 => pos += 4
          case 4 => pos += 1
          case _ => pos += 4 + bb.getInt(pos)
        }
      }
      i += 1
    }
    true
  }
}

/** Hadoop Configuration is not Serializable; standard wrapper (same shape
  * as Spark's private[spark] SerializableConfiguration). */
private[v2] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
  }
}

// ------------------------------------------------------------------- table

/** V1 Filter → Column reconstruction for the SQL `DELETE FROM` surface:
  * Spark's DSv2 [[SupportsDelete]] hands the WHERE clause over as exact
  * V1 filters; the supported shapes rebuild into a Column and run through
  * the same COW [[GraftStoreOps.deleteWhere]] kernel. `canDeleteWhere`
  * answers false for anything unconvertible, so Spark fails the statement
  * loudly instead of deleting the wrong rows. */
private[v2] object FilterToColumn {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._
  def convert(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for { a <- convert(l); b <- convert(r) } yield a && b
    case Or(l, r) => for { a <- convert(l); b <- convert(r) } yield a || b
    case Not(c) => convert(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** The `_file` metadata column (Iceberg/parquet `_metadata.file_path`
  * parity): absolute path of the data file each row came from — scan-level
  * lineage on the native format, and the EXACT-pruning currency of runtime
  * group filtering (collecting matching FILE NAMES beats collecting key
  * values: no dependence on stats or attribute choice). Zero-cost: the
  * reader already knows its file. */
private[v2] object GraftFileColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  val Name = "_file"
  override def name(): String = Name
  override def dataType(): org.apache.spark.sql.types.DataType = StringType
  override def isNullable: Boolean = false
  override def comment(): String = "absolute path of the row's data file"
}

/** The `_pos` metadata column (Iceberg `_pos` parity): 0-based PHYSICAL row
  * ordinal within the row's data file — counted over all stored rows,
  * including ones masked by position deletes, so (`_file`, `_pos`) is a
  * stable row id on immutable files. Zero-cost (the reader counts rows it
  * already decodes); together with `_file` it is the row id the
  * merge-on-read delta write path deletes/updates by. */
private[v2] object GraftPosColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  val Name = "_pos"
  override def name(): String = Name
  override def dataType(): org.apache.spark.sql.types.DataType = LongType
  override def isNullable: Boolean = false
  override def comment(): String = "0-based physical row ordinal within _file"
}

private[v2] class GraftStoreTable(path: String, schema0: StructType,
    pinned: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftFileColumn, GraftPosColumn)

  /** SQL `UPDATE` / `MERGE INTO` (and non-filter-convertible `DELETE`)
    * via Spark's row-level operation API, with the STRATEGY picked by the
    * table's declared DML mode: copy-on-write tables get the group-based
    * ReplaceData rewrite ([[GraftRowLevelOperation]]); `dmlMode=mor`
    * tables get DELTA-BASED WriteDelta ([[GraftDeltaOperation]] —
    * position deletes + appended row versions, churn-sized commits).
    * Simple DELETEs still collapse to the [[SupportsDelete]] metadata
    * path via Spark's OptimizeMetadataOnlyDeleteFromTable (which itself
    * routes by mode in deleteWhere). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      val mor = GraftStoreFormat.readLatestManifest(path,
        SparkSession.active.sparkContext.hadoopConfiguration).exists(_.isMor)
      if (mor) new GraftDeltaOperation(path, info.command())
      else new GraftRowLevelOperation(path, info.command())
    }

  /** SQL `TRUNCATE TABLE <catalog>.<table>`: publishes an EMPTY snapshot —
    * a metadata-only commit, mirroring every other graft-store operation:
    * the data files stay on disk for the retained history (pre-truncate
    * snapshots remain time-travelable; restoreSnapshot undoes it), and
    * physical deletion stays the explicit expireSnapshots step. */
  override def truncateTable(): Boolean = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    if (GraftStoreFormat.readLatestManifest(path, conf).isEmpty) return false
    var done = false
    while (!done) {
      // re-read the HEAD manifest inside the retry loop: a concurrent
      // commit that wins the CAS between our read and our publish (an
      // evolving append's widened schema, a new CHECK, a layout change)
      // must not be reverted by republishing a stale metadata copy
      val head = GraftStoreFormat.listManifests(path, conf)
      val m = GraftStoreFormat.readHead(path, conf, head)
        .getOrElse(return false)
      done = GraftStoreFormat.commitManifest(path, conf,
        m.copy(files = Seq.empty, txn = None, cdc = None, dropCdc = Seq.empty, deletes = Seq.empty,
          eqDeletes = Seq.empty),
        GraftStoreFormat.nextSeq(head))
    }
    true
  }

  /** SQL `DELETE FROM <catalog>.<table> WHERE ...`: Spark calls these with
    * the WHERE clause as exact V1 filters; the conjunction routes through
    * the table's declared DML mode — the stats-pruned COW rewrite
    * (default) or the merge-on-read position-delete commit (`dmlMode=mor`:
    * data files untouched, churn-sized delete files published). */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(FilterToColumn.convert(_).isDefined)
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = SparkSession.active
    val cond = filters.flatMap(FilterToColumn.convert(_))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true)) // bare DELETE FROM t
    val mor = GraftStoreFormat.readLatestManifest(
      path, spark.sparkContext.hadoopConfiguration).exists(_.isMor)
    if (mor) GraftStoreOps.deleteWhereMor(spark, path, cond)
    else GraftStoreOps.deleteWhere(spark, path, cond)
    ()
  }
  override def name(): String = s"graft_store($path)"
  override def schema(): StructType = schema0

  /** Table properties for DESCRIBE EXTENDED / SHOW TBLPROPERTIES: the
    * manifest-stored table state, read-only through this surface (ALTER
    * TABLE / write options mutate it). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("provider", "graft-store")
    m.put("location", path)
    GraftStoreFormat.readLatestManifest(
        path, SparkSession.active.sparkContext.hadoopConfiguration).foreach { mf =>
      // user properties first: derived state below wins a (refused-at-set,
      // but defense-in-depth) key collision
      mf.props.foreach { case (k, v) => m.put(k, v) }
      mf.partitionCol.foreach(m.put("partition", _))
      mf.clusterCols.foreach(m.put("clusterBy", _))
      mf.check.foreach(m.put("check", _))
      mf.dml.foreach(m.put("dmlMode", _))
      mf.bloomCols.foreach(m.put("bloomCols", _))
      m.put("numFiles", mf.files.size.toString)
      m.put("numRows", mf.files.map(_.rows).sum.toString)
      if (mf.refs.nonEmpty) m.put("refs", mf.refs.keys.toSeq.sorted.mkString(","))
    }
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      // `MERGE WITH SCHEMA EVOLUTION INTO ...`: the analyzer
      // (ResolveMergeIntoSchemaEvolution, gated on THIS capability via
      // DataSourceV2Relation.autoSchemaEvolution — probed in the 4.1.2
      // jars) derives AddColumn/UpdateColumnType changes from the merge
      // SOURCE and applies them through catalog.alterTable before
      // planning the row-level write; the field-ID evolution layer makes
      // both additions and safe widenings metadata-only
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** The table's declared partition transforms, translated from the
    * manifest layout — what makes `INSERT OVERWRITE ... PARTITION (k=v)`
    * resolve through SQL and DESCRIBE show the layout. Read-lenient like
    * the scan: an unparseable header reports unpartitioned, never errors. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    GraftStoreFormat.readLatestManifest(path, conf).flatMap(_.partitionCol)
      .flatMap(c => scala.util.Try(GraftLayout.parse(c)).toOption)
      .map(_.specs.map {
        case IdentitySpec(c) => Expressions.identity(c)
        case BucketSpec(n, cs) => Expressions.bucket(n, cs: _*)
        case TemporalSpec("years", c) => Expressions.years(c)
        case TemporalSpec("months", c) => Expressions.months(c)
        case TemporalSpec("days", c) => Expressions.days(c)
        case TemporalSpec("hours", c) => Expressions.hours(c)
        case TemporalSpec(u, c) => Expressions.apply(u, Expressions.column(c))
        case TruncateSpec(w, c) =>
          Expressions.apply("truncate", Expressions.literal(w), Expressions.column(c))
      }.toArray[org.apache.spark.sql.connector.expressions.Transform])
      .getOrElse(Array.empty)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // `pinned` carries snapshot options resolved at catalog loadTable time
    // (SQL VERSION AS OF / TIMESTAMP AS OF); it wins over reader options so
    // a time-travel relation cannot be silently re-pointed at the head
    val merged =
      if (pinned.isEmpty) options
      else {
        val m = new util.HashMap[String, String](options)
        pinned.foreach { case (k, v) => m.put(k, v) }
        new CaseInsensitiveStringMap(m)
      }
    if (Option(merged.get("readChangeFeed")).exists(_.toBoolean))
      new GraftStoreCdcScanBuilder(path,
        SparkSession.active.sparkContext.hadoopConfiguration, merged)
    else new GraftStoreScanBuilder(path,
      SparkSession.active.sparkContext.hadoopConfiguration, merged)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftStoreWriteBuilder(path, info.schema(),
      SparkSession.active.sparkContext.hadoopConfiguration, truncate = false,
      clusterBy = Option(info.options.get("clusterBy"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty),
      clusterFiles = Option(info.options.get("clusterFiles")).map(_.toInt).getOrElse(0),
      partitionBy = Option(info.options.get("partitionBy")),
      queryId = info.queryId(),
      mergeSchema = Option(info.options.get("mergeSchema")).exists(_.toBoolean),
      checkOption = Option(info.options.get("check")),
      dmlMode = Option(info.options.get("dmlMode")),
      wapId = Option(info.options.get("wapId")),
      branch = Option(info.options.get("branch")),
      bloomColsOpt = Option(info.options.get("bloomCols")),
      bloomBits = Option(info.options.get("bloomBits")).map(_.toInt)
        .getOrElse(GraftBloomFilter.DefaultBits),
      targetFileBytes = Option(info.options.get("targetFileBytes")).map(_.toLong),
      splitBlockBytes = Option(info.options.get("splitBlockBytes")).map(_.toLong)
        .getOrElse(GraftStoreFormat.SplitBlockBytes),
      // `setProps` (write option, `esc(k):esc(v),...`): user properties
      // stamped INSIDE this write's commit — data + property state publish
      // as one snapshot (the materialized-view refresh watermark rides
      // here; a separate property commit could be torn from its data)
      setProps = Option(info.options.get("setProps"))
        .map(_.split(",").toSeq.map { p =>
          val Array(k, v) = p.split(":", 2)
          GraftStoreFormat.unescStat(k) -> GraftStoreFormat.unescStat(v)
        }.toMap).getOrElse(Map.empty))
}

// ------------------------------------------------------------------- write

/** `clusterBy` (write option, comma-separated columns) turns a write into a
  * RANGE-CLUSTERED write via DSv2 [[RequiresDistributionAndOrdering]]: the
  * sink demands an ORDERED distribution + in-partition sort on the cluster
  * keys, and Spark itself plans the range exchange (sampled boundaries,
  * AQE-sized) before rows reach the writer — the engine declares WHAT
  * layout it needs and Catalyst owns HOW. Files then hold DISJOINT sorted
  * key ranges (a hash-clustered layout would leave every file's [min,max]
  * spanning the key space, pruning nothing), so the manifest skipper
  * prunes equality / range / IN predicates on the cluster columns down to
  * the few files that actually hold them — Hive-style partition pruning
  * without the directory-per-value small-files explosion: low-cardinality
  * neighbours share a file, and stats, not paths, carry the pruning
  * information.
  *
  * File sizing: by default the exchange is AQE-sized (at toy volumes AQE
  * coalesces everything into ONE file — correct for the data size, useless
  * for demonstrating pruning); `clusterFiles=N` pins the partition count
  * via `requiredNumPartitions`, the knob a production table sets from its
  * target file size instead. */
private[v2] object GraftCheck {
  /** Parse + analyze a CHECK constraint against a write schema (type
    * coercion included) and BIND it positionally — evaluable straight on
    * writer InternalRows. Shared by the batch/streaming write builder and
    * the row-level (SQL UPDATE/MERGE) write. */
  def compile(schema: StructType, text: String)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
    val spark = SparkSession.active
    val parsed = spark.sessionState.sqlParser.parseExpression(text)
    val attrs = schema.fields.toSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    val analyzed = spark.sessionState.analyzer.execute(LFilter(parsed, LocalRelation(attrs)))
    val cond = analyzed.collectFirst { case f: LFilter => f.condition }
      .getOrElse(throw new IllegalArgumentException(
        s"graft-store: cannot analyze check constraint '$text'"))
    BindReferences.bindReference(cond, attrs)
  }
}

private[v2] class GraftStoreWriteBuilder(path: String, schema: StructType,
    conf: Configuration, truncate: Boolean, clusterBy: Array[String] = Array.empty,
    clusterFiles: Int = 0, partitionBy: Option[String] = None, queryId: String = "",
    mergeSchema: Boolean = false, checkOption: Option[String] = None,
    dmlMode: Option[String] = None, wapId: Option[String] = None,
    branch: Option[String] = None, bloomColsOpt: Option[String] = None,
    bloomBits: Int = GraftBloomFilter.DefaultBits,
    targetFileBytes: Option[Long] = None,
    overwriteFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None,
    dynamicOverwrite: Boolean = false,
    splitBlockBytes: Long = GraftStoreFormat.SplitBlockBytes,
    setProps: Map[String, String] = Map.empty)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  require(splitBlockBytes >= 65536,
    s"graft-store: splitBlockBytes must be >= 65536, got $splitBlockBytes")
  targetFileBytes.foreach(t => require(t >= 1024,
    s"graft-store: targetFileBytes must be >= 1024, got $t"))
  private def replaceMode: Boolean = overwriteFilters.isDefined || dynamicOverwrite
  require(overwriteFilters.isEmpty || !dynamicOverwrite,
    "graft-store: filter and dynamic-partition overwrite are mutually exclusive")
  require(!replaceMode || !truncate,
    "graft-store: a scoped overwrite cannot also truncate")
  require(wapId.isEmpty || (!truncate && !replaceMode),
    "graft-store: write-audit-publish stages APPENDS; an overwrite cannot be staged")
  require(branch.isEmpty || (!truncate && !replaceMode),
    "graft-store: branch writes are APPENDS; an overwrite cannot target a branch")
  require(branch.isEmpty || wapId.isEmpty,
    "graft-store: branch and wapId are mutually exclusive staging modes")
  require(clusterBy.isEmpty || partitionBy.isEmpty,
    "graft-store: clusterBy and partitionBy are mutually exclusive layouts")
  dmlMode.foreach(m => require(m == "cow" || m == "mor",
    s"graft-store: dmlMode must be 'cow' or 'mor', got '$m'"))
  // parse once: validates bucket syntax/count at plan time, and the
  // canonical `render` form is what the manifest header and the append
  // layout guard compare, so `bucket( 8 , k )` and `bucket(8,k)` unify
  private val layout: Option[GraftLayout] = partitionBy.map(GraftLayout.parse)

  /** Non-truncate writes INHERIT the table's layout when no partitionBy
    * option is given — the Delta/Iceberg discipline (layout is a TABLE
    * property; writers route by it automatically): `INSERT INTO` a
    * partitioned catalog table routes correctly with zero options, and a
    * replace write stays partition-exact (dynamic overwrite could not even
    * know its written partitions otherwise). Only a truncating overwrite
    * redeclares layout from its own explicit options. */
  private lazy val effectiveLayout: Option[GraftLayout] =
    layout.orElse(
      if (truncate) None
      else GraftStoreFormat.readLatestManifest(path, conf).flatMap(_.partitionCol)
        .flatMap(c => scala.util.Try(GraftLayout.parse(c)).toOption))

  /** CHECK constraint in force for this write (Delta constraint
    * semantics): an overwrite (re)declares it from the `check` option; an
    * append INHERITS the table's stored constraint — it may declare one
    * on a table that has none, but changing an existing constraint
    * requires an overwrite (it is a table property, not a write knob). */
  private lazy val effectiveCheck: Option[String] = {
    val stored =
      if (truncate) None
      else GraftStoreFormat.readLatestManifest(path, conf).flatMap(_.check)
    checkOption.foreach { c =>
      require(stored.forall(_ == c),
        s"graft-store: check option '$c' conflicts with the table " +
          s"constraint '${stored.get}'; overwrite to change constraints")
    }
    stored.orElse(checkOption)
  }

  /** The constraint parsed, analyzed against the write schema (type
    * coercion included) and BOUND positionally — evaluable straight on
    * the writer's InternalRows, shipped to tasks as a serialized
    * expression. SQL CHECK semantics downstream: only FALSE rejects. */
  private lazy val compiledCheck: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    effectiveCheck.map(GraftCheck.compile(schema, _))

  /** Bloom-index columns in force for this write — a table property with
    * the same declare/inherit discipline as CHECK: an overwrite
    * (re)declares from the `bloomCols` option, an append inherits the
    * stored property (or declares one on a table that has none). Columns
    * validated against the write schema and [[GraftBloomFilter]]'s
    * hashable types — a typo'd bloom column that silently indexed nothing
    * would read as "no skipping" forever. */
  private lazy val effectiveBloomCols: Option[String] = {
    val stored =
      if (truncate) None
      else GraftStoreFormat.readLatestManifest(path, conf).flatMap(_.bloomCols)
    val effective = if (truncate) bloomColsOpt else bloomColsOpt.orElse(stored)
    effective.foreach { bc =>
      bc.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
        val i = schema.fieldNames.indexOf(c)
        require(i >= 0, s"graft-store: bloomCols column '$c' not in write schema")
        require(GraftBloomFilter.supports(schema.fields(i).dataType),
          s"graft-store: bloomCols unsupported for type " +
            s"${schema.fields(i).dataType.simpleString} (column '$c')")
      }
    }
    effective
  }

  override def truncate(): WriteBuilder =
    new GraftStoreWriteBuilder(path, schema, conf, truncate = true, clusterBy,
      clusterFiles, partitionBy, queryId, mergeSchema, checkOption, dmlMode, wapId,
      branch, bloomColsOpt, bloomBits, targetFileBytes,
      splitBlockBytes = splitBlockBytes, setProps = setProps)

  /** SCOPED OVERWRITE (`INSERT INTO ... REPLACE WHERE` / `INSERT OVERWRITE
    * ... PARTITION (k=v)` / `writeTo.overwrite(cond)`): atomically replace
    * the rows matching the filter with the incoming data — ONE commit,
    * delete and insert visible together. The removal side is METADATA-ONLY
    * (the [[GraftStoreScan.mustMatch]] full-coverage proof); a filter that
    * matches only PART of a file fails loudly (Iceberg's overwrite
    * contract: align to partition boundaries, or use DELETE/MERGE). The
    * idempotent-backfill economics at 100 TB: re-materialize one day as a
    * manifest edit plus the new files, nothing read, nothing rewritten. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder =
    if (filters.length == 1 && filters.head == org.apache.spark.sql.sources.AlwaysTrue())
      truncate() // full-table overwrite — the existing truncate path
    else new GraftStoreWriteBuilder(path, schema, conf, truncate = false, clusterBy,
      clusterFiles, partitionBy, queryId, mergeSchema, checkOption, dmlMode, wapId,
      branch, bloomColsOpt, bloomBits, targetFileBytes, Some(filters),
      splitBlockBytes = splitBlockBytes, setProps = setProps)

  /** DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic` /
    * `writeTo.overwritePartitions()`): replace exactly the partitions the
    * incoming data contains — discovered from the written files' explicit
    * partition values at commit time, removal again metadata-only. */
  override def overwriteDynamicPartitions(): WriteBuilder =
    new GraftStoreWriteBuilder(path, schema, conf, truncate = false, clusterBy,
      clusterFiles, partitionBy, queryId, mergeSchema, checkOption, dmlMode, wapId,
      branch, bloomColsOpt, bloomBits, targetFileBytes, None, dynamicOverwrite = true,
      splitBlockBytes = splitBlockBytes, setProps = setProps)

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
    private def orders: Array[SortOrder] =
      clusterBy.map(c => Expressions.sort(
        Expressions.identity(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
    override def requiredDistribution(): Distribution = effectiveLayout match {
      // identity/bucket layouts demand a CLUSTERED (hash) distribution on
      // the layout COLUMNS: a partition-key value (combination) then never
      // spans two tasks, and the DataWriter splits each task's rows into
      // one file per value (identity) / per bucket id (bucket —
      // value-level clustering refines bucket-level, and identity(col)
      // stays resolvable on the path-based write where no FunctionCatalog
      // exists to resolve a bucket transform).
      //
      // MONOTONE transforms (temporal, truncate) take a RANGE (ordered)
      // distribution on the raw columns instead: the transform is
      // non-decreasing in the source value, so each partition VALUE's rows
      // land in one (boundary: two) contiguous task and file count tracks
      // value count. Hash-clustering the RAW column would scatter a day's
      // many distinct timestamps across every task — tasks × days files, a
      // 16× file-count blowup measured at the 10× probe (q183: 4800 files
      // for 300 days). Range resolves without a FunctionCatalog too.
      case Some(l) if l.specs.exists(s =>
          s.isInstanceOf[TemporalSpec] || s.isInstanceOf[TruncateSpec]) =>
        Distributions.ordered(l.columns.map(c => Expressions.sort(
          Expressions.identity(c), SortDirection.ASCENDING,
          NullOrdering.NULLS_FIRST)).toArray)
      case Some(l) =>
        Distributions.clustered(l.columns.map(c =>
          Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
      case None =>
        if (clusterBy.isEmpty) Distributions.unspecified()
        else Distributions.ordered(orders)
    }
    override def requiredOrdering(): Array[SortOrder] = orders
    override def requiredNumPartitions(): Int = if (clusterBy.isEmpty) 0 else clusterFiles
    override def toBatch: BatchWrite =
      new GraftStoreBatchWrite(path, schema, conf, truncate, effectiveLayout, clusterBy,
        mergeSchema, effectiveCheck, compiledCheck, dmlMode, wapId, branch,
        effectiveBloomCols, bloomBits, targetFileBytes, overwriteFilters,
        dynamicOverwrite, splitBlockBytes, setProps)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStoreStreamingWrite(path, schema, conf, queryId, compiledCheck,
        effectiveCheck, effectiveLayout)
  }
}

/** Native STREAMING SINK (`writeStream.format("graft-store")`, append
  * mode): every micro-batch epoch commits as one table SNAPSHOT through
  * the same manifest protocol as batch appends — so a stream lands as a
  * time-travelable, OCC-serialized sequence of snapshots with no
  * foreachBatch glue (contrast q93, the hand-rolled form).
  *
  * Exactly-once: epoch commits REPLAY after failures (Spark re-runs the
  * epoch from the checkpointed offset), so the commit is made idempotent
  * with a transaction token `queryId-epochId` recorded in the manifest
  * header (`#txn=`) — a replayed commit that finds its own token in the
  * retained history drops its files instead of appending twice. The Delta
  * txnAppId/txnVersion mechanism in miniature; the token includes the
  * queryId so two different streams appending to one table never collide
  * on epoch numbers. (Caveat, documented: expiring ALL of a stream's
  * snapshots past its last commit would forget the token and a very late
  * replay could double-append — keep retention above checkpoint lag, the
  * same rule the streaming SOURCE already imposes.) */
private[v2] class GraftStoreStreamingWrite(path: String, schema: StructType,
    conf: Configuration, queryId: String,
    check: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
    checkText: Option[String] = None,
    layout: Option[GraftLayout] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
  private val writeId = UUID.randomUUID().toString.take(8)
  private def tmpDir = new Path(path, s"_tmp/$writeId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStoreStreamingWriterFactory(path, writeId, schema,
      new SerializableHadoopConf(conf), check,
      // streamed files route by the table's (inherited) layout exactly
      // like batch appends: per-value files with explicit partVals, so
      // SPJ and layout-value pruning survive streaming ingest — no
      // compaction needed to restore them
      GraftRoute.forLayout(layout, schema))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftStoreFormat.fs(path, conf)
    val token = s"$queryId-$epochId"
    val committed = messages.flatMap(_.asInstanceOf[GraftCommitMessage].entries)
      .filter(_.rows > 0L).toSeq
    var done = false
    while (!done) {
      val head = GraftStoreFormat.listManifests(path, conf)
      // idempotency: if ANY retained snapshot carries this epoch's token,
      // the epoch already committed — a replay must be a no-op
      val alreadyCommitted = head.exists(p =>
        GraftStoreFormat.readManifestFile(path, conf, p).txn.contains(token))
      if (alreadyCommitted) {
        fs.delete(tmpDir, true)
        return
      }
      committed.foreach { m =>
        val live = new Path(path, m.file)
        if (!fs.exists(live)) fs.rename(new Path(tmpDir, m.file), live)
      }
      val prevManifest = GraftStoreFormat.readHead(path, conf, head)
      prevManifest.foreach { m =>
        require(GraftStoreFormat.sameCols(m.schema, schema),
          s"graft-store: streaming append schema ${schema.toDDL} does not " +
            s"match table schema ${m.schema.toDDL}")
        // mixed layouts would break the one-value-per-file invariant: a
        // stream may inherit (no option — effectiveLayout already matches)
        // or declare the SAME layout, never a different one
        m.partitionCol.map(c => GraftLayout.parse(c).render).foreach { tbl =>
          layout.map(_.render).foreach(l => require(l == tbl,
            s"graft-store: streaming partitionBy=$l does not match table " +
              s"partition $tbl; overwrite to change layout"))
        }
      }
      val prev = prevManifest.map(_.files).getOrElse(Seq.empty)
      val newEntries = committed.map(m =>
        GraftFileEntry(m.file, m.rows, GraftStoreFormat.statsFromString(m.stats),
        GraftStoreFormat.partValsFromString(m.partVals),
        nullCounts = GraftStoreFormat.nullsFromString(m.nulls),
        blocks = GraftStoreFormat.blocksFromString(m.blocks)))
      // layout headers CARRY THROUGH a streaming append (dropping them
      // would silently strip the table's declared layout), and streamed
      // files ROUTE by it (per-value files, explicit partVals — see
      // createStreamingWriterFactory), so SPJ and layout pruning survive
      // streaming ingest; a stream into a legacy unrouted table still
      // degrades conservatively to UnknownPartitioning
      // declared nullability only ever WIDENS (mirror of the batch path):
      // a stream whose schema marks a column nullable can legally write
      // nulls, so republishing the stored non-null contract unchanged would
      // let the optimizer simplify IsNotNull over data that now holds nulls
      val tableSchema = prevManifest match {
        case Some(m) =>
          StructType(m.schema.fields.zip(schema.fields).map { case (o, n) =>
            o.copy(nullable = o.nullable || n.nullable)
          })
        case _ => schema
      }
      // evolved table: streamed files stamp the current spec id so the
      // "specs defined => every file stamped" invariant holds (their
      // partVals are positional in that spec, like any routed write)
      val specs = prevManifest.flatMap(_.partitionSpecs)
      val seq = GraftStoreFormat.nextSeq(head)
      val stamped0 = GraftStoreFormat.stampNew(specs, seq, newEntries)
      // field-id tables: streamed files carry the current layout id (the
      // stream's schema passed sameCols above, so names resolve)
      val fieldMeta = prevManifest.flatMap(_.fieldMeta)
      val stamped = GraftStoreFormat.stampLayout(fieldMeta, tableSchema, schema, stamped0)
      done = GraftStoreFormat.commitManifest(path, conf,
        GraftManifest(tableSchema,
          prev ++ stamped, txn = Some(token),
          // a stream CREATING a partitioned table must persist the layout
          // it routed by (files already carry partVals); on an existing
          // table the stored header wins — effectiveLayout inherited it,
          // so option and table can never silently diverge
          partitionCol = prevManifest.flatMap(_.partitionCol)
            .orElse(layout.map(_.render)),
          clusterCols = prevManifest.flatMap(_.clusterCols),
          // a stream DECLARING a constraint on a fresh table must persist
          // it, not just enforce it in-memory for this query's lifetime
          check = prevManifest.flatMap(_.check).orElse(checkText),
          partitionSpecs = specs,
          // table properties/state carry through a streaming append like a
          // batch append: live deletes (both kinds) and the DML mode
          deletes = prevManifest.map(_.deletes).getOrElse(Seq.empty),
          dml = prevManifest.flatMap(_.dml),
          eqDeletes = prevManifest.map(_.eqDeletes).getOrElse(Seq.empty),
          fieldMeta = fieldMeta,
          refs = prevManifest.map(_.refs).getOrElse(Map.empty),
          // bloom sidecars carry like deletes (streamed files simply are
          // not indexed — they never skip, never lie)
          bloomCols = prevManifest.flatMap(_.bloomCols),
          blooms = prevManifest.map(_.blooms).getOrElse(Seq.empty),
          props = prevManifest.map(_.props).getOrElse(Map.empty)),
        seq)
    }
    fs.delete(tmpDir, true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftStoreFormat.fs(path, conf)
    fs.delete(tmpDir, true) // manifest untouched: the old snapshot stays live
  }
}

private[v2] class GraftStoreStreamingWriterFactory(path: String, writeId: String,
    schema: StructType, conf: SerializableHadoopConf,
    check: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
    route: GraftRoute = NoRoute)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    // epoch folded into the attempt id: a replayed epoch's files never
    // collide with the originals' names
    new GraftStoreDataWriter(path, writeId, partitionId,
      taskId ^ (epochId * 2654435761L), schema, conf.value, route, check)
}

/** One finished task file: (name, rows, encoded stats, encoded partition
  * values — "" when unpartitioned). A task emits ONE entry normally, one
  * PER PARTITION VALUE (identity) / PER BUCKET (bucket) under
  * `partitionBy`. */
private[v2] case class GraftCommitEntry(file: String, rows: Long, stats: String,
    partVals: String = "", nulls: String = "", blocks: String = "")
/** `bloomSidecar`: (name, minFile, maxFile) of the task's bloom sidecar
  * (one per TASK, not per file — commit metadata stays O(tasks)). */
private[v2] case class GraftCommitMessage(entries: Seq[GraftCommitEntry],
    bloomSidecar: Option[(String, String, String)] = None)
    extends WriterCommitMessage

private[v2] class GraftStoreBatchWrite(path: String, schema: StructType,
    conf: Configuration, truncate: Boolean, layout: Option[GraftLayout] = None,
    clusterBy: Array[String] = Array.empty, mergeSchema: Boolean = false,
    checkText: Option[String] = None,
    check: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
    dmlMode: Option[String] = None, wapId: Option[String] = None,
    branch: Option[String] = None, bloomCols: Option[String] = None,
    bloomBits: Int = GraftBloomFilter.DefaultBits,
    targetFileBytes: Option[Long] = None,
    overwriteFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None,
    dynamicOverwrite: Boolean = false,
    splitBlockBytes: Long = GraftStoreFormat.SplitBlockBytes,
    setProps: Map[String, String] = Map.empty)
    extends BatchWrite {
  private val writeId = UUID.randomUUID().toString.take(8)
  private def tmpDir = new Path(path, s"_tmp/$writeId")
  private val partitionBy: Option[String] = layout.map(_.render)
  private val declaredCluster: Option[String] =
    if (clusterBy.isEmpty) None else Some(clusterBy.mkString(","))
  private val bloomSpec: Option[GraftBloomWriteSpec] =
    bloomCols.map { bc =>
      GraftBloomWriteSpec(bc.split(",").map(_.trim).filter(_.nonEmpty)
        .map(c => schema.fieldNames.indexOf(c)).filter(_ >= 0), bloomBits)
    }.filter(_.colIdx.nonEmpty)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftStoreWriterFactory(path, writeId, schema, new SerializableHadoopConf(conf),
      GraftRoute.forLayout(layout, schema), check, bloomSpec, targetFileBytes,
      splitBlockBytes)

  /** Driver-side, exactly once, only with messages of successful attempts:
    * move the committed attempts' files live, publish the new manifest.
    *
    * Concurrency: append is a READ-MERGE commit (new manifest = head's
    * files + ours), so it runs the full OCC loop — read head, merge,
    * attempt the seq CAS, and on loss re-read the NEW head and re-merge
    * before retrying. Two concurrent appenders thus serialize: the loser's
    * retry folds the winner's files in, and no snapshot is lost. Only the
    * manifest merge repeats on conflict; data files were already moved
    * live and are referenced unchanged by whichever attempt lands. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftStoreFormat.fs(path, conf)
    // empty task files are dropped at the commit point (their bytes die with
    // _tmp below): a clustered/skewed write leaves empty partitions, and an
    // empty file has no stats, so it could NEVER be pruned — committing it
    // would tax every future scan with a guaranteed-useless file open
    val committed = messages.flatMap(_.asInstanceOf[GraftCommitMessage].entries)
      .filter(_.rows > 0L).toSeq
    // task-written bloom sidecars ride the same move; the manifest records
    // name + covering data-file range only (commit metadata stays O(tasks))
    val sidecars = messages
      .flatMap(_.asInstanceOf[GraftCommitMessage].bloomSidecar).toSeq
    GraftStoreFormat.moveLive(fs, path,
      committed.map(m => new Path(tmpDir, m.file)) ++
        sidecars.map { case (n, _, _) => new Path(tmpDir, n) },
      fs.delete(tmpDir, true))
    val newBlooms = sidecars.map { case (n, mn, mx) => GraftBloomSidecarEntry(n, mn, mx) }
    val newEntries = committed.map(m =>
      GraftFileEntry(m.file, m.rows, GraftStoreFormat.statsFromString(m.stats),
        GraftStoreFormat.partValsFromString(m.partVals),
        nullCounts = GraftStoreFormat.nullsFromString(m.nulls),
        blocks = GraftStoreFormat.blocksFromString(m.blocks),
        // the write REQUESTED an ordered distribution on the cluster keys
        // (RequiresDistributionAndOrdering) — these files are sorted, the
        // fact SupportsReportOrdering's sort elision stands on
        sorted = clusterBy.nonEmpty))
    var done = false
    while (!done) {
      val head = GraftStoreFormat.listManifests(path, conf)
      // a BRANCH append merges against the BRANCH head (resolved through
      // the MAIN head's ref table), commits `#wap=`-staged (invisible to
      // the main line), and moves the branch ref afterwards
      val branchRef: Option[(String, GraftRef)] = branch.map { b =>
        val mainHead = GraftStoreFormat.readHead(path, conf, head)
          .getOrElse(throw new IllegalArgumentException(
            s"graft-store: no manifest at $path — create the table before branching"))
        val r = mainHead.refs.getOrElse(b, throw new NoSuchElementException(
          s"graft-store: no branch '$b' (createBranch first; known refs: " +
            s"${mainHead.refs.keys.toSeq.sorted.mkString(", ")})"))
        require(r.branch, s"graft-store: ref '$b' is a tag, not a branch")
        b -> r
      }
      val prevManifest =
        if (truncate) None
        else branchRef match {
          case Some((b, r)) =>
            val p = head.find(GraftStoreFormat.manifestSeq(_) == r.seq)
              .getOrElse(throw new IllegalStateException(
                s"graft-store: branch '$b' head (seq ${r.seq}) expired"))
            Some(GraftStoreFormat.readManifestFile(path, conf, p))
          case None => GraftStoreFormat.readHead(path, conf, head)
        }
      prevManifest.foreach { m =>
        // one schema governs a manifest's files EXCEPT through additive
        // evolution: `mergeSchema=true` lets an append ADD trailing
        // nullable columns — old files become PREFIXES of the new schema
        // and are re-listed with their physical column count (`ncols`),
        // which the reader null-extends. Anything non-additive (rename,
        // retype, drop, reorder, non-null add) still fails loudly — the
        // row codec is positional and those would decode old files
        // wrongly. Overwrite (truncate) may change the schema freely.
        require(GraftStoreFormat.sameCols(m.schema, schema) ||
            (mergeSchema && additiveSuperset(m.schema, schema)),
          s"graft-store: append schema ${schema.toDDL} does not match " +
            s"table schema ${m.schema.toDDL}; overwrite to change schemas, " +
            "or mergeSchema=true for additive (trailing nullable) evolution")
        // same discipline for the partition layout: mixed layouts would
        // silently break the one-value-per-file invariant SPJ relies on.
        // Both sides normalize through parse→render so a header written
        // with whitespace (e.g. "a, b") still matches its canonical form
        require(m.partitionCol.map(c => GraftLayout.parse(c).render) == partitionBy,
          s"graft-store: append partitionBy=$partitionBy does not match " +
            s"table partition ${m.partitionCol}; overwrite to change layout")
      }
      // evolving append: carried files record their physical width (kept
      // through further evolutions — the FIRST recording wins), and the
      // TABLE schema marks every added column nullable (old rows hold no
      // value for it) while keeping the prefix's declared nullability,
      // widened if the append relaxes it
      val evolving = prevManifest.exists(m => m.schema.length != schema.length)
      val tableSchema = prevManifest match {
        case Some(m) =>
          StructType(
            m.schema.fields.zip(schema.fields).map { case (o, n) =>
              o.copy(nullable = o.nullable || n.nullable)
            } ++ schema.fields.drop(m.schema.length).map(_.copy(nullable = true)))
        case _ => schema
      }
      // REPLACE modes (`INSERT INTO ... REPLACE WHERE` / `INSERT OVERWRITE
      // PARTITION` / writeTo.overwrite / overwritePartitions): the files
      // this commit removes from the listing, each PROVEN fully covered —
      // static filters via the mustMatch proof (a partial match fails
      // loudly: Iceberg's overwrite contract — align the filter to
      // partition boundaries or use DELETE/MERGE), dynamic via EXACT
      // partition-tuple equality with the written files' partVals. Removal
      // is metadata-only either way; with the new files it is ONE atomic
      // commit — the idempotent-backfill economics. Recomputed per OCC
      // retry (overwrite-as-of-commit: a concurrently appended matching
      // file is replaced too, never silently kept).
      val removedNames: Set[String] = prevManifest match {
        case None => Set.empty
        case Some(m) => overwriteFilters match {
          case Some(ofs) =>
            import org.apache.spark.sql.{sources => sf}
            val fAnd = ofs.map(GraftStoreScan.nnf)
              .reduceOption(sf.And(_, _)).getOrElse(sf.AlwaysTrue())
            val layoutOk = GraftStoreScan.layoutPruner(m, GraftStoreScan.conjuncts(fAnd))
            val may = m.files.filter { e =>
              val eL = GraftStoreFormat.logicalStatsView(m, e)
              layoutOk(e) && GraftStoreFormat.mayMatch(m.schema, eL, fAnd)
            }
            val (full, partial) = may.partition(e => GraftStoreScan.mustMatch(m, e, fAnd))
            if (partial.nonEmpty) throw new IllegalArgumentException(
              s"graft-store: overwrite filter matches some but not all rows of " +
                s"${partial.size} file(s) (e.g. ${partial.head.name}); align the " +
                "filter to partition/file boundaries, or use DELETE + append / MERGE")
            full.map(_.name).toSet
          case None if dynamicOverwrite =>
            require(m.partitionCol.isDefined,
              "graft-store: dynamic partition overwrite requires a partitioned table")
            // exact tuple comparison needs ONE spec interpretation — a
            // mixed-spec listing would compare values across different
            // transforms; re-unify the layout first
            val curSpec = m.partitionSpecs.map(_.length - 1)
            require(m.partitionSpecs.isEmpty || m.files.forall(_.specId == curSpec),
              "graft-store: dynamic overwrite on a mixed-spec table is not exact; " +
                "rewriteOldSpecFiles first")
            val written = committed.map(_.partVals).filter(_.nonEmpty).toSet
            m.files.filter(e => e.partVals.exists(vs =>
              written.contains(GraftStoreFormat.partValsToString(vs))))
              .map(_.name).toSet
          case None => Set.empty
        }
      }
      val prev = prevManifest.map { m =>
        val live =
          if (removedNames.isEmpty) m.files
          else m.files.filterNot(e => removedNames.contains(e.name))
        if (!evolving) live
        else live.map(e => e.copy(ncols = e.ncols.orElse(Some(m.schema.length))))
      }.getOrElse(Seq.empty)
      // declared clustering is a TABLE PROPERTY (advisory, Iceberg
      // sort-order style): an overwrite (re)declares it from the writer's
      // clusterBy; an append keeps the table's — an unclustered append
      // only makes its own files less prunable, maintenance re-sorts
      val cluster =
        if (truncate) declaredCluster
        else prevManifest.flatMap(_.clusterCols).orElse(declaredCluster)
      // like clusterCols, the CHECK constraint re-derives from the freshly
      // read head on every OCC retry: a constraint declared concurrently by
      // another writer between plan time and this commit must survive an
      // append (an overwrite may still redeclare/clear it)
      val effCheck =
        if (truncate) checkText
        else prevManifest.flatMap(_.check).orElse(checkText)
      // bloom-index columns: same property discipline; an append also
      // carries the table's accumulated sidecar entries forward
      val effBloomCols =
        if (truncate) bloomCols
        else prevManifest.flatMap(_.bloomCols).orElse(bloomCols)
      val prevBlooms =
        if (truncate) Seq.empty[GraftBloomSidecarEntry]
        else prevManifest.map(_.blooms).getOrElse(Seq.empty)
      // partition-spec evolution: an append on an evolved table carries the
      // spec history and stamps its files with the CURRENT spec id; an
      // overwrite resets history (a fresh table state declares layout anew)
      val specs = if (truncate) None else prevManifest.flatMap(_.partitionSpecs)
      val seq = GraftStoreFormat.nextSeq(head)
      val stamped = GraftStoreFormat.stampNew(specs, seq, newEntries)
      // merge-on-read: an append carries the table's live deletes (position
      // masks key older files by NAME; equality masks scope by addedSeq,
      // and the appended files' fresh seq outruns every retained eq
      // delete); an overwrite starts clean. The DML mode is a table
      // property: overwrite (re)declares it from the `dmlMode` option,
      // append inherits (declaring on a fresh table is fine)
      val dels0 = if (truncate) Seq.empty[GraftDeleteEntry]
                  else prevManifest.map(_.deletes).getOrElse(Seq.empty)
      // replace modes: delete entries left covering ONLY removed files are
      // dead (fresh names can never be covered by an old entry)
      val dels = if (removedNames.isEmpty) dels0
                 else dels0.filter(d => prev.exists(e => d.covers(e.name)))
      val eqDels = if (truncate) Seq.empty[GraftEqDeleteEntry]
                   else prevManifest.map(_.eqDeletes).getOrElse(Seq.empty)
      val dml = if (truncate) dmlMode
                else prevManifest.flatMap(_.dml).orElse(dmlMode)
      // field-id metadata: an overwrite resets it (all data rewritten
      // under the fresh schema — plain prefix semantics again); an append
      // carries it, and a mergeSchema append EXTENDS it — fresh never-used
      // ids for the added columns, the widened id list becoming the new
      // current layout
      val fieldMeta: Option[GraftFieldMeta] =
        if (truncate) None
        else prevManifest.flatMap(_.fieldMeta).map { fm =>
          val addedCols = schema.fields.drop(prevManifest.get.schema.length)
          if (addedCols.isEmpty) fm
          else {
            val newFields = addedCols.zipWithIndex.map { case (f, i) =>
              (fm.nextId + i, f.name, f.dataType)
            }.toSeq
            val newIds = fm.ids ++ newFields.map(_._1)
            fm.copy(fields = fm.fields ++ newFields, ids = newIds,
              layouts = fm.layouts :+ newIds)
          }
        }
      val layoutStamped =
        GraftStoreFormat.stampLayout(fieldMeta, tableSchema, schema, stamped)
      // named refs are TABLE-level metadata (tags pin retained history):
      // they survive every commit, including an overwrite — which must
      // read the head it is replacing just for them
      val refs: Map[String, GraftRef] =
        if (truncate)
          GraftStoreFormat.readHead(path, conf, head).map(_.refs).getOrElse(Map.empty)
        else prevManifest.map(_.refs).getOrElse(Map.empty)
      // user properties are table-level metadata like refs: they survive
      // every commit, including an overwrite replacing all data
      val uprops: Map[String, String] =
        (if (truncate)
          GraftStoreFormat.readHead(path, conf, head).map(_.props).getOrElse(Map.empty)
        else prevManifest.map(_.props).getOrElse(Map.empty)) ++ setProps
      done = GraftStoreFormat.commitManifest(path, conf,
        GraftManifest(tableSchema, prev ++ layoutStamped, partitionCol = partitionBy,
          clusterCols = cluster, check = effCheck, partitionSpecs = specs,
          deletes = dels, dml = dml, eqDeletes = eqDels, fieldMeta = fieldMeta,
          refs = refs, wap = wapId.orElse(branch.map(b => s"branch:$b")),
          bloomCols = effBloomCols, blooms = prevBlooms ++ newBlooms,
          props = uprops,
          // replaced files ride `#dropcdc=`: their live rows are deletes,
          // the new files inserts — INSERT OVERWRITE is CDC-streamable
          dropCdc = removedNames.toSeq.sorted),
        seq)
      // branch write landed: MOVE the ref on the main line (its own OCC
      // loop; a concurrent write to the SAME branch loses loudly — branch
      // lineage is linear, like any table's)
      if (done) branchRef.foreach { case (b, r) =>
        var moved = false
        while (!moved) {
          val ms2 = GraftStoreFormat.listManifests(path, conf)
          val mh = GraftStoreFormat.readHead(path, conf, ms2).get
          val cur = mh.refs.getOrElse(b, throw new IllegalStateException(
            s"graft-store: branch '$b' was dropped during this write"))
          if (cur.seq != r.seq)
            throw new java.util.ConcurrentModificationException(
              s"graft-store: branch '$b' advanced concurrently " +
                s"(${r.seq} -> ${cur.seq}); re-run this write against the new tip")
          moved = GraftStoreFormat.commitManifest(path, conf,
            mh.copy(refs = mh.refs + (b -> r.copy(seq = seq)),
              txn = None, cdc = None, dropCdc = Seq.empty),
            GraftStoreFormat.nextSeq(ms2))
        }
      }
    }
    // NO data-file cleanup here, even on truncate: superseded files are
    // still referenced by RETAINED snapshot manifests (time travel).
    // Physical deletion is the explicit GraftStoreOps.expireSnapshots step.
    fs.delete(tmpDir, true)
  }

  /** Additive-evolution check: the old schema must be a PREFIX of the new
    * one by name and type (the codec is positional). Nullability is NOT
    * compared — writing non-null values into a nullable column is always
    * safe, and the commit widens the table's declared nullability instead
    * of rejecting; added columns become nullable in the table schema
    * regardless (old rows have no value for them). */
  private def additiveSuperset(old: StructType, next: StructType): Boolean =
    next.length > old.length &&
      old.fields.zip(next.fields).forall { case (o, n) =>
        o.name == n.name && o.dataType == n.dataType
      }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftStoreFormat.fs(path, conf)
    fs.delete(tmpDir, true) // manifest untouched: the old snapshot stays live
  }
}

/** Task-side row routing under `partitionBy`: none, or one file per
  * partition-KEY combination, where each key element is the column value
  * (identity transform, `buckets(j) == 0`) or its murmur3 bucket id
  * (bucket transform, `buckets(j) = n`). */
/** Task-side bloom-index instructions: which column ordinals to index and
  * the per-filter bit width (see [[GraftBloomFilter]]). */
private[v2] case class GraftBloomWriteSpec(colIdx: Array[Int], bits: Int)
    extends Serializable {
  def words: Int = (bits + 63) / 64
}

private[v2] sealed trait GraftRoute extends Serializable
private[v2] case object NoRoute extends GraftRoute
/** Per-spec routing: `idx(j)` = the spec's column indices (identity /
  * transforms: one; bucket: 1+), `kinds(j)` = transform code (0=identity,
  * 1=bucket, 2=years, 3=months, 4=days, 5=hours, 6=truncate), `args(j)` =
  * bucket count / truncate width (0 otherwise). */
private[v2] case class SpecRoute(idx: Array[Array[Int]], kinds: Array[Int],
    args: Array[Long]) extends GraftRoute

private[v2] object SpecKind {
  val Identity = 0; val Bucket = 1; val Years = 2; val Months = 3
  val Days = 4; val Hours = 5; val Truncate = 6
  def of(s: PartSpec): Int = s match {
    case _: IdentitySpec => Identity
    case _: BucketSpec => Bucket
    case TemporalSpec("years", _) => Years
    case TemporalSpec("months", _) => Months
    case TemporalSpec("days", _) => Days
    case TemporalSpec("hours", _) => Hours
    case _: TemporalSpec => throw new IllegalArgumentException(s.render)
    case _: TruncateSpec => Truncate
  }
  def unitOf(kind: Int): String = kind match {
    case Years => "years"; case Months => "months"
    case Days => "days"; case Hours => "hours"
  }
}

private[v2] object GraftRoute {
  /** Writer-side routing spec for a declared partition layout. Shared by
    * the batch write and the row-level (SQL UPDATE/MERGE) write. */
  def forLayout(layout: Option[GraftLayout], schema: StructType): GraftRoute =
    layout match {
      case None => NoRoute
      case Some(l) =>
        val idx = l.specs.map(_.cols.map(schema.fieldIndex).toArray).toArray
        def dtOf(c: String) = schema.fields(schema.fieldIndex(c)).dataType
        val kinds = l.specs.map(SpecKind.of).toArray
        val args = l.specs.map {
          case IdentitySpec(_) => 0L
          case BucketSpec(n, cs) =>
            cs.foreach { c =>
              require(GraftBucket.supports(dtOf(c)),
                s"graft-store: bucket layout unsupported for " +
                  s"${dtOf(c).simpleString} column $c")
            }
            n.toLong
          case TemporalSpec(u, c) =>
            require(GraftTransform.supportsTemporal(u, dtOf(c)),
              s"graft-store: $u() layout unsupported for " +
                s"${dtOf(c).simpleString} column $c (date/timestamp only; " +
                "hours() needs a timestamp)")
            0L
          case TruncateSpec(w, c) =>
            require(GraftTransform.supportsTruncate(dtOf(c)),
              s"graft-store: truncate layout unsupported for " +
                s"${dtOf(c).simpleString} column $c")
            w
        }.toArray
        SpecRoute(idx, kinds, args)
    }
}

private[v2] class GraftStoreWriterFactory(path: String, writeId: String,
    schema: StructType, conf: SerializableHadoopConf,
    route: GraftRoute = NoRoute,
    check: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
    bloom: Option[GraftBloomWriteSpec] = None,
    targetFileBytes: Option[Long] = None,
    splitBlockBytes: Long = GraftStoreFormat.SplitBlockBytes)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftStoreDataWriter(path, writeId, partitionId, taskId, schema, conf.value,
      route, check, bloom, targetFileBytes, splitBlockBytes)
}

/** Task-side writer. Normally one file per task attempt; under `partitionBy`
  * rows are ROUTED to one file per distinct partition value seen by the
  * task (identity layout — the Hive dynamic-partition writer shape) or one
  * file per bucket id (bucket layout), and each file's commit entry carries
  * its EXPLICIT partition values — the write-side half of the
  * one-value-per-file invariant that lets the scan report
  * KeyGroupedPartitioning for storage-partitioned joins. The distribution
  * contract (clustered on the layout columns) keeps any value inside one
  * task, so per-task routing yields per-TABLE uniqueness for identity;
  * buckets may span tasks (several values, one bucket), which is fine —
  * the scan groups all of a bucket's files into one input partition.
  * Open-file count = the task's distinct values, capped to fail loudly
  * rather than exhaust descriptors on a mis-chosen high-cardinality key
  * (bucket layouts are bounded by n and are the high-cardinality answer). */
private[v2] class GraftStoreDataWriter(path: String, writeId: String,
    partitionId: Int, taskId: Long, schema: StructType, conf: Configuration,
    route: GraftRoute = NoRoute,
    check: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
    bloom: Option[GraftBloomWriteSpec] = None,
    targetFileBytes: Option[Long] = None,
    splitBlockBytes: Long = GraftStoreFormat.SplitBlockBytes)
    extends DataWriter[InternalRow] {
  private val fs = GraftStoreFormat.fs(path, conf)
  private val n = schema.length

  /** One open output file + its inline min/max stats. Integral types in
    * exact Long math; floating in Double with NaN poisoning the column's
    * stats (skipping must stay conservative); strings in UTF8 BINARY order
    * (the same order the skipper compares in). */
  private class FileSink(suffix: String, partVals: String = "") {
    // taskId distinguishes attempts: a speculative twin writes its own file,
    // and only the attempt whose commit message reaches the driver is published
    val file = s"part-$writeId-$partitionId-$taskId$suffix.gsf"
    val out = fs.create(new Path(new Path(path, s"_tmp/$writeId"), file), true)
    // buffered encoder: rows append into a local slab drained in 64 KiB
    // writes — same bytes as GraftStoreFormat.writeRow, none of the
    // per-field synchronized stream calls
    private val enc = new GraftRowEncoder(schema)
    def bytesWritten: Long = enc.bytesWritten
    var rows = 0L
    val lMin = Array.fill(n)(Long.MaxValue)
    val lMax = Array.fill(n)(Long.MinValue)
    val dMin = Array.fill(n)(Double.PositiveInfinity)
    val dMax = Array.fill(n)(Double.NegativeInfinity)
    val sMin = new Array[UTF8String](n)
    val sMax = new Array[UTF8String](n)
    // wide decimals (p > 18): unscaled BigInteger extremes — integer order
    // at the shared scale IS decimal order, same as the long-backed path
    val wMin = new Array[java.math.BigInteger](n)
    val wMax = new Array[java.math.BigInteger](n)
    val seen = new Array[Boolean](n)
    val sawNaN = new Array[Boolean](n)
    // exact per-column null counts (one increment per null cell) — the
    // stat behind count(col) pushdown and IS [NOT] NULL file skipping
    val nullCnt = new Array[Long](n)
    // per-bloom-column filter bits (empty when the table declares none)
    val bloomWords: Array[Array[Long]] =
      bloom.map(b => Array.fill(b.colIdx.length)(new Array[Long](b.words)))
        .getOrElse(Array.empty)
    // SPLIT BLOCKS: row-aligned byte offsets every ~splitBlockBytes, so a
    // scan can read this file as parallel slices if it grows large (a
    // compaction output, a bulk load). Small files record nothing; the
    // check is one long compare per row.
    private val splitEvery: Long = splitBlockBytes
    private var nextBlockAt: Long = splitEvery
    private val blockOffsets = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

    def write(record: InternalRow): Unit = {
      enc.encode(record); enc.maybeDrain(out); rows += 1
      if (enc.bytesWritten >= nextBlockAt) {
        // `rows` rows precede this offset; the NEXT row starts here
        blockOffsets += ((rows, enc.bytesWritten))
        nextBlockAt = enc.bytesWritten + splitEvery
      }
      bloom.foreach { b =>
        var j = 0
        while (j < b.colIdx.length) {
          val ci = b.colIdx(j)
          if (!record.isNullAt(ci)) {
            val dt = schema.fields(ci).dataType
            val v: Any = dt match {
              case LongType | TimestampType => Long.box(record.getLong(ci))
              case IntegerType | DateType => Int.box(record.getInt(ci))
              case StringType => record.getUTF8String(ci)
              case _ => null
            }
            if (v != null) GraftBloomFilter.hashes(v, dt)
              .foreach(GraftBloomFilter.set(bloomWords(j), _))
          }
          j += 1
        }
      }
      var i = 0
      while (i < n) {
        if (record.isNullAt(i)) nullCnt(i) += 1
        if (!record.isNullAt(i)) schema.fields(i).dataType match {
          case LongType | TimestampType =>
            val v = record.getLong(i)
            if (v < lMin(i)) lMin(i) = v; if (v > lMax(i)) lMax(i) = v; seen(i) = true
          case IntegerType | DateType =>
            val v = record.getInt(i).toLong
            if (v < lMin(i)) lMin(i) = v; if (v > lMax(i)) lMax(i) = v; seen(i) = true
          case dt: DecimalType if dt.precision <= 18 =>
            val v = record.getDecimal(i, dt.precision, dt.scale).toUnscaledLong
            if (v < lMin(i)) lMin(i) = v; if (v > lMax(i)) lMax(i) = v; seen(i) = true
          case dt: DecimalType =>
            val v = record.getDecimal(i, dt.precision, dt.scale)
              .toJavaBigDecimal.unscaledValue()
            if (wMin(i) == null || v.compareTo(wMin(i)) < 0) wMin(i) = v
            if (wMax(i) == null || v.compareTo(wMax(i)) > 0) wMax(i) = v
            seen(i) = true
          case DoubleType | FloatType =>
            val v = if (schema.fields(i).dataType == FloatType) record.getFloat(i).toDouble
                    else record.getDouble(i)
            if (java.lang.Double.isNaN(v)) sawNaN(i) = true
            else {
              if (v < dMin(i)) dMin(i) = v; if (v > dMax(i)) dMax(i) = v; seen(i) = true
            }
          case StringType =>
            // clone: an UnsafeRow's UTF8String points into a reused buffer
            val v = record.getUTF8String(i)
            if (sMin(i) == null || v.compareTo(sMin(i)) < 0) sMin(i) = v.clone()
            if (sMax(i) == null || v.compareTo(sMax(i)) > 0) sMax(i) = v.clone()
            seen(i) = true
          case _ => ()
        }
        i += 1
      }
    }

    def entry(): GraftCommitEntry = {
      enc.drain(out)
      out.close()
      val stats = (0 until n).flatMap { i =>
        if (!seen(i) || sawNaN(i)) None
        else schema.fields(i).dataType match {
          case LongType | TimestampType | IntegerType | DateType =>
            Some(i -> (lMin(i).toString, lMax(i).toString))
          case d: DecimalType if d.precision <= 18 =>
            Some(i -> (lMin(i).toString, lMax(i).toString))
          case _: DecimalType =>
            Some(i -> (wMin(i).toString, wMax(i).toString))
          case DoubleType | FloatType =>
            Some(i -> (dMin(i).toString, dMax(i).toString))
          case StringType =>
            // long strings are dropped rather than truncated: a truncated MAX
            // is not an upper bound (Iceberg solves this by incrementing the
            // last byte; a 64-char cap keeps manifests small with no such
            // subtlety — skipping just degrades to "may match")
            if (sMin(i).numChars <= 64 && sMax(i).numChars <= 64)
              Some(i -> (sMin(i).toString, sMax(i).toString))
            else None
          case _ => None
        }
      }.toMap
      GraftCommitEntry(file, rows, GraftStoreFormat.statsToString(stats), partVals,
        GraftStoreFormat.nullsToString((0 until n).map(i => i -> nullCnt(i)).toMap),
        // a boundary recorded exactly at EOF would make an empty slice
        GraftStoreFormat.blocksToString(
          blockOffsets.filter(_._2 < enc.bytesWritten).toSeq))
    }

    def abort(): Unit = {
      try out.close() catch { case _: Throwable => () }
      try fs.delete(new Path(new Path(path, s"_tmp/$writeId"), file), false)
      catch { case _: Throwable => () }
    }
  }

  // lazy + touched flag: a task that fails before its first write must not
  // have abort() CREATE the file just to delete it — if the filesystem is
  // the failure cause, the create would throw from inside abort and mask
  // the original task error
  private var singleTouched = false
  private var singleSink: FileSink = _
  private def single: FileSink = {
    if (singleSink == null) { singleTouched = true; singleSink = new FileSink("") }
    singleSink
  }
  private val byValue = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], FileSink]
  private object NullKey

  // TARGET-FILE-SIZE ROLLING (`targetFileBytes` write option — Iceberg's
  // write.target-file-size-bytes): once a sink crosses the target it is
  // finalized and a fresh file opens for the same route key, so file
  // sizes stay bounded regardless of task skew. Bounded files are what
  // keep the READ side healthy at 100 TB: whole-file read buffers stay
  // modest, scan parallelism tracks data volume (a 50 GB task no longer
  // produces one unsplittable 50 GB file), and compaction/rewrite units
  // stay retryable. Rolled files keep their partVals — identity layouts
  // already tolerate several files per value (the scan groups them).
  private val rolledSinks = scala.collection.mutable.ArrayBuffer.empty[FileSink]
  private val rolledEntries = scala.collection.mutable.ArrayBuffer.empty[GraftCommitEntry]
  private var rolls = 0
  private def maybeRoll(key: Option[Seq[Any]]): Unit =
    targetFileBytes.foreach { t =>
      val sink = key match {
        case None => singleSink
        case Some(k) => byValue(k)
      }
      if (sink.bytesWritten >= t) {
        rolledEntries += sink.entry()
        rolledSinks += sink
        rolls += 1
        val fresh = key match {
          case None =>
            val s = new FileSink(s"-r$rolls"); singleSink = s; s
          case Some(k) =>
            val s = new FileSink(s"-r$rolls", renderKey(k)); byValue(k) = s; s
        }
        fresh
      }
    }

  private def typedValue(record: InternalRow, idx: Int): Any =
    schema.fields(idx).dataType match {
      case LongType | TimestampType => record.getLong(idx)
      case IntegerType | DateType => record.getInt(idx)
      case StringType => record.getUTF8String(idx).clone()
      case other => throw new UnsupportedOperationException(
        s"graft-store: partitionBy unsupported for type $other")
    }

  private def partitionKey(record: InternalRow): Seq[Any] = route match {
    case SpecRoute(idx, kinds, args) =>
      // nulls get a dedicated key element (no value / no bucket / no
      // derived unit) for every single-column transform: equi-joins never
      // match null, so a null partition has nothing to co-locate with.
      // Multi-column buckets hash null elements to a sentinel instead
      // (ofTuple) — a per-combination null-partition grid would explode,
      // and a composite equi-join never matches a null element either way
      idx.indices.map { j =>
        val cols = idx(j)
        kinds(j) match {
          case SpecKind.Identity =>
            val i = cols(0)
            if (record.isNullAt(i)) NullKey else typedValue(record, i)
          case SpecKind.Bucket if cols.length == 1 =>
            val i = cols(0)
            if (record.isNullAt(i)) NullKey
            else GraftBucket.of(typedValue(record, i),
              schema.fields(i).dataType, args(j).toInt)
          case SpecKind.Bucket =>
            GraftBucket.ofTuple(cols.toSeq.map { i =>
              if (record.isNullAt(i)) None
              else Some((typedValue(record, i), schema.fields(i).dataType))
            }, args(j).toInt)
          case SpecKind.Truncate =>
            val i = cols(0)
            if (record.isNullAt(i)) NullKey
            else schema.fields(i).dataType match {
              case StringType =>
                GraftTransform.truncString(record.getUTF8String(i), args(j)).clone()
              case LongType => Long.box(GraftTransform.truncLong(record.getLong(i), args(j)))
              case _ => Long.box(GraftTransform.truncLong(record.getInt(i).toLong, args(j)))
            }
          case temporal =>
            val i = cols(0)
            if (record.isNullAt(i)) NullKey
            else Long.box(GraftTransform.temporal(SpecKind.unitOf(temporal),
              schema.fields(i).dataType, typedValue(record, i)))
        }
      }
    case NoRoute => Seq.empty
  }

  /** Manifest-encoded partition values for a routed file — what the scan
    * groups on, instead of re-deriving values from min/max stats. */
  private def renderKey(key: Seq[Any]): String =
    GraftStoreFormat.partValsToString(key.map {
      case NullKey => None
      case v => Some(v.toString)
    })

  /** SQL CHECK semantics: a row is rejected only when the constraint
    * evaluates to FALSE — NULL (unknown) passes, as in every SQL engine.
    * Throwing here fails the task, the job, and the write; abort() runs
    * and the manifest is never touched — constraint violations can never
    * partially commit. */
  private def enforceCheck(record: InternalRow): Unit =
    check.foreach { c =>
      val r = c.eval(record)
      if (r != null && !r.asInstanceOf[Boolean])
        throw new IllegalArgumentException(
          s"graft-store: CHECK constraint violated by row " +
            s"${InternalRow.fromSeq((0 until schema.length).map(i =>
              if (record.isNullAt(i)) null else typedValueForError(record, i)))}")
    }

  private def typedValueForError(record: InternalRow, i: Int): Any =
    try schema.fields(i).dataType match {
      case LongType | TimestampType => record.getLong(i)
      case IntegerType | DateType => record.getInt(i)
      case DoubleType => record.getDouble(i)
      case FloatType => record.getFloat(i)
      case BooleanType => record.getBoolean(i)
      case StringType => record.getUTF8String(i)
      case dt: DecimalType => record.getDecimal(i, dt.precision, dt.scale)
      case _ => "?"
    } catch { case _: Throwable => "?" }

  private var distinctKeys = 0
  override def write(record: InternalRow): Unit = {
    enforceCheck(record)
    if (route == NoRoute) {
      single.write(record)
      maybeRoll(None)
    } else {
      val key = partitionKey(record)
      val sink = byValue.getOrElseUpdate(key, {
        require(distinctKeys < 1000,
          "graft-store: partitionBy key exceeds 1000 distinct values per task " +
            "— identity partitioning needs a low-cardinality key (use bucket(n,col))")
        distinctKeys += 1
        new FileSink(s"-v${distinctKeys - 1}", renderKey(key))
      })
      sink.write(record)
      maybeRoll(Some(key))
    }
  }

  override def commit(): WriterCommitMessage = {
    val open: Seq[FileSink] =
      if (route == NoRoute) Seq(single) else byValue.values.toSeq
    val entries = rolledEntries.toSeq ++ open.map(_.entry())
    val sinks: Seq[FileSink] = rolledSinks.toSeq ++ open
    // one sidecar per TASK holding every non-empty file's per-column bloom
    // bits; the message carries only its name + covering data-file range
    // (generated names are pure ASCII, so String min/max == byte order)
    val sidecar = bloom.flatMap { b =>
      val indexed = sinks.filter(_.rows > 0L)
      if (indexed.isEmpty) None
      else {
        val name = s"bloom-$writeId-$partitionId-$taskId.gsb"
        val out = new DataOutputStream(new BufferedOutputStream(
          fs.create(new Path(new Path(path, s"_tmp/$writeId"), name), true), 1 << 16))
        try indexed.foreach { sk =>
          var j = 0
          while (j < b.colIdx.length) {
            out.write((s"${schema.fields(b.colIdx(j)).name}\t${sk.file}\t" +
              s"${GraftBloomFilter.K}\t${GraftBloomFilter.toBase64(sk.bloomWords(j))}\n")
              .getBytes("UTF-8"))
            j += 1
          }
        } finally out.close()
        val names = indexed.map(_.file)
        Some((name, names.min, names.max))
      }
    }
    GraftCommitMessage(entries, sidecar)
  }
  override def abort(): Unit = {
    rolledSinks.foreach(_.abort())
    if (route == NoRoute) { if (singleTouched) singleSink.abort() }
    else byValue.values.foreach(_.abort())
  }
  override def close(): Unit = ()
}

// -------------------------------------------------------------------- read

private[v2] class GraftStoreScanBuilder(path: String, conf: Configuration,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {
  private val manifest = {
    val m = GraftStoreFormat.selectManifest(path, conf, options)
      .getOrElse(GraftManifest(new StructType(), Seq.empty))
    // `files` read option: restrict the scan to a named subset of the
    // snapshot's files — the surgical-read surface deleteWhere uses to
    // rewrite only affected files (and a debugging aid)
    Option(options.get("files")) match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        m.copy(files = m.files.filter(e => keep.contains(e.name)))
      case None => m
    }
  }
  private var required: StructType = manifest.schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  /** Filters are accepted for FILE SKIPPING only (manifest min/max stats),
    * so every filter is also returned as a residual for Spark to
    * re-evaluate row-by-row — skipping prunes whole files, rows inside a
    * surviving file still get the exact predicate. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = { pushed = filters; filters }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** METADATA-ONLY AGGREGATES (Iceberg's `COUNT(*)`-from-manifest trick):
    * an unfiltered global `count(*)` / `min(col)` / `max(col)` is answered
    * entirely from the manifest's row counts and per-file min/max stats —
    * the scan plans as a driver-local one-row result and reads ZERO data
    * files. At 100 TB that turns the most common sanity queries from a
    * full-table scan into a manifest read.
    *
    * GROUP BY pushes too when every group expression is an IDENTITY
    * partition column of the current spec (files carry explicit
    * partVals): the manifest partitions the file set EXACTLY by group
    * key, so `GROUP BY day` over 100 TB is a driver-local manifest fold —
    * one row per partition, zero data files opened.
    *
    * The pushdown is EXACT or declined — never approximate:
    *   - declined when any filter is pushed (our filters are always
    *     returned as residuals, so Spark never plans aggregate pushdown
    *     under a WHERE anyway — this guard is defense in depth), when a
    *     GROUP BY is not identity-partition-aligned as above, or on the
    *     row-level DML scan;
    *   - declined when the snapshot carries live position/equality deletes
    *     (merge-on-read masks falsify manifest row counts and may mask the
    *     extreme value; `purgeDeletes`/compaction restore pushdown);
    *   - `min`/`max` require EVERY selected file with rows to carry stats
    *     for the column. Writers drop stats exactly when they cannot be
    *     trusted as exact bounds (>64-char strings, NaN floats) or when the
    *     column was all-null / not yet born (schema evolution null-extends),
    *     and those cases are indistinguishable in the manifest — so a
    *     single stats-less file declines the whole pushdown;
    *   - `count(col)` is declined outright (per-file null counts are not
    *     recorded), as is anything DISTINCT. */
  private var aggResult: Option[(StructType, Array[InternalRow])] = None
  /** The row-level DML scan must keep producing rows for the rewrite plan. */
  protected def aggregatesAllowed: Boolean = true
  /** Spark probes `supportCompletePushDown` and then calls
    * `pushAggregation` with the SAME Aggregation instance; the manifest
    * reduction runs once and the second call reuses it (reference-keyed —
    * a different instance just recomputes, still correct). */
  private var aggMemo: (AnyRef, Option[(StructType, Array[InternalRow])]) = null
  private def computeAggMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow])] = {
    val m = aggMemo
    if (m != null && (m._1 eq agg)) m._2
    else { val r = computeAgg(agg); aggMemo = (agg, r); r }
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    computeAggMemo(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = computeAggMemo(agg)
    aggResult.isDefined
  }

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (!aggregatesAllowed || pushed.nonEmpty || manifest.hasDeletes) return None
    // GROUP BY pushdown: exact iff every group-by expression is a
    // single-part reference to an IDENTITY element of the current spec
    // and every file was written under that spec with explicit partVals
    // — the manifest then partitions the file set exactly by group key,
    // and `GROUP BY day` over 100 TB plans as a manifest fold (one row
    // per partition, zero data files opened; beyond what Iceberg's
    // count(*) trick covers). Anything else declines.
    val groupSpecPos: Option[Seq[(Int, Int)]] = // (spec element pos, col idx)
      if (agg.groupByExpressions.isEmpty) Some(Seq.empty)
      else manifest.partitionCol
        .flatMap(c => scala.util.Try(GraftLayout.parse(c)).toOption)
        .flatMap { l =>
          val identPos: Map[String, Int] = l.specs.zipWithIndex.collect {
            case (IdentitySpec(c), i) => c -> i
          }.toMap
          val refs = agg.groupByExpressions.toSeq.map {
            case nr: NamedReference if nr.fieldNames.length == 1 =>
              val col = nr.fieldNames.head
              identPos.get(col).map(p => p -> manifest.schema.fieldNames.indexOf(col))
            case _ => None
          }
          val curSpecOk = manifest.partitionSpecs.forall(ss =>
            manifest.files.forall(_.specId.contains(ss.length - 1)))
          val pvOk = manifest.files.forall(_.partVals.exists(_.length == l.specs.length))
          if (refs.exists(r => r.isEmpty || r.exists(_._2 < 0)) || !curSpecOk || !pvOk) None
          else Some(refs.flatten)
        }
    if (groupSpecPos.isEmpty) return None
    // a partition value string decodes back to the column's internal
    // value (it was rendered FROM the internal value); None = null
    // partition → a null group key, like the real aggregation produces
    def decodeKey(dt: DataType, v: Option[String]): Option[Any] = v match {
      case None => Some(null)
      case Some(s) => dt match {
        case LongType | TimestampType =>
          scala.util.Try(java.lang.Long.valueOf(s.toLong): Any).toOption
        case IntegerType | DateType =>
          scala.util.Try(java.lang.Integer.valueOf(s.toInt): Any).toOption
        case StringType => Some(UTF8String.fromString(s): Any)
        case _ => None // undecodable group type → decline
      }
    }
    // field-id-evolved tables serve min/max from stats re-keyed to current
    // logical indices; a file whose layout lacks the column (dropped /
    // born later) simply has no stat for it → declined, exact-or-nothing
    val allFiles = manifest.files.map(e => GraftStoreFormat.logicalStatsView(manifest, e))

    // column index for a single-part reference into the TABLE schema
    // (metadata columns like `_file` have no stats and fall out here)
    def colIdx(e: org.apache.spark.sql.connector.expressions.Expression): Option[Int] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          val i = manifest.schema.fieldNames.indexOf(nr.fieldNames.head)
          if (i >= 0) Some(i) else None
        case _ => None
      }

    /** The aggregate columns over ONE file set (the whole table, or one
      * partition group). Exact-or-None, per the class doc. */
    def aggOver(files: Seq[GraftFileEntry]): Option[Seq[(StructField, Any)]] = {
      // exact file-level bound, decoded to the column's INTERNAL value;
      // None = file has rows but no stats for the column → decline
      def bound(idx: Int, wantMin: Boolean): Option[Seq[Any]] = {
        val dt = manifest.schema.fields(idx).dataType
        val vs = files.filter(_.rows > 0).map { e =>
          e.stats.get(idx).map { case (mn, mx) =>
            val raw = if (wantMin) mn else mx
            dt match {
              case LongType | TimestampType => java.lang.Long.valueOf(raw.toLong): Any
              case IntegerType | DateType => java.lang.Integer.valueOf(raw.toInt): Any
              case DoubleType => java.lang.Double.valueOf(raw.toDouble): Any
              case FloatType => java.lang.Float.valueOf(raw.toFloat): Any
              case StringType => UTF8String.fromString(raw): Any
              // decimal stats are unscaled integers at the column's scale
              case d: DecimalType => GraftStoreFormat.statDecimal(raw, d): Any
              case _ => null // unsupported type → treated as missing stats
            }
          }.filter(_ != null)
        }
        if (vs.exists(_.isEmpty)) None else Some(vs.flatten)
      }

      def extreme(idx: Int, wantMin: Boolean): Option[Any] =
        bound(idx, wantMin).map { vs =>
          if (vs.isEmpty) null // only empty files → SQL min/max of nothing
          else vs.reduce { (a, b) =>
            val c = (a, b) match {
              case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
              case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
              case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
              case (x: java.lang.Float, y: java.lang.Float) => x.compareTo(y)
              case (x: UTF8String, y: UTF8String) => x.compareTo(y)
              case (x: org.apache.spark.sql.types.Decimal,
                    y: org.apache.spark.sql.types.Decimal) => x.compareTo(y)
              case _ => 0
            }
            if ((c <= 0) == wantMin) a else b
          }
        }

      val out = agg.aggregateExpressions.map {
        case _: CountStar =>
          Some((StructField("count_star", LongType, nullable = false),
            java.lang.Long.valueOf(files.map(_.rows).sum): Any))
        // count(col) = Σ (rows − nulls): exact iff EVERY file carries null
        // counts (v10 writers). The logical view is dense, so a file that
        // physically lacks the column scores rows − rows = 0 — precisely
        // the null-extension semantics the real scan would produce.
        case c: org.apache.spark.sql.connector.expressions.aggregate.Count
            if !c.isDistinct =>
          colIdx(c.column).flatMap { i =>
            val per = files.map { e =>
              if (e.rows == 0) Some(0L)
              else e.nullCounts.map(nc => e.rows - nc.getOrElse(i, e.rows))
            }
            if (per.exists(_.isEmpty)) None
            else Some((StructField(s"count_$i", LongType, nullable = false),
              java.lang.Long.valueOf(per.flatten.sum): Any))
          }
        case m: Min =>
          colIdx(m.column).flatMap(i => extreme(i, wantMin = true).map(v =>
            (StructField(s"min_$i", manifest.schema.fields(i).dataType), v)))
        case m: Max =>
          colIdx(m.column).flatMap(i => extreme(i, wantMin = false).map(v =>
            (StructField(s"max_$i", manifest.schema.fields(i).dataType), v)))
        case _ => None
      }
      if (out.exists(_.isEmpty)) None else Some(out.flatten.toSeq)
    }

    groupSpecPos.get match {
      case Seq() => // global aggregate: one row over all files
        aggOver(allFiles).map(pairs =>
          (StructType(pairs.map(_._1)),
            Array(InternalRow.fromSeq(pairs.map(_._2)))))
      case gcols =>
        // one row per distinct partition-key tuple; the output schema is
        // group columns FIRST then aggregate columns — the contract
        // V2ScanRelationPushDown expects of a completely pushed GROUP BY
        val groupFields = gcols.map { case (_, ci) =>
          val f = manifest.schema.fields(ci)
          StructField(f.name, f.dataType, f.nullable)
        }
        val grouped = allFiles.zip(manifest.files).groupBy { case (_, orig) =>
          gcols.map { case (specPos, _) => orig.partVals.get(specPos) }
        }.toSeq
        val rows = grouped.map { case (keyVals, fs) =>
          val key = keyVals.zip(gcols).map { case (v, (_, ci)) =>
            decodeKey(manifest.schema.fields(ci).dataType, v)
          }
          for {
            k <- if (key.exists(_.isEmpty)) None else Some(key.flatten)
            pairs <- aggOver(fs.map(_._1))
          } yield (k, pairs)
        }
        if (rows.exists(_.isEmpty)) None
        else {
          val rs = rows.flatten
          val aggFields = rs.headOption.map(_._2.map(_._1))
            .getOrElse {
              // zero groups (empty table): derive the agg schema from an
              // empty fold so the plan still type-checks
              aggOver(Seq.empty).map(_.map(_._1)).getOrElse(Seq.empty)
            }
          if (rs.isEmpty && aggFields.isEmpty) None
          else Some((StructType(groupFields ++ aggFields),
            rs.map { case (k, pairs) =>
              InternalRow.fromSeq(k ++ pairs.map(_._2))
            }.toArray))
        }
    }
  }

  override def build(): Scan = aggResult match {
    case Some((aggSchema, rows)) => GraftLocalAggScan(aggSchema, rows)
    case None =>
      val s = newScan(path, manifest, required, pushed, new SerializableHadoopConf(conf))
      s.streamMaxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
      s.streamMaxRows = Option(options.get("maxRowsPerTrigger")).map(_.toLong)
      s
  }
  /** Scan factory — the row-level operation's builder overrides this to
    * produce a [[GraftRowLevelScan]] (runtime group filtering). */
  protected def newScan(path: String, manifest: GraftManifest, required: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter],
      conf: SerializableHadoopConf): GraftStoreScan =
    new GraftStoreScan(path, manifest, required, pushed, conf)
}

/** One-row driver-local scan carrying a completely pushed aggregation's
  * result ([[org.apache.spark.sql.connector.read.LocalScan]] — Spark plans
  * it as a LocalTableScan; no file is opened, no task is launched). */
private[v2] case class GraftLocalAggScan(aggSchema: StructType,
    result: Array[InternalRow]) extends LocalScan {
  override def readSchema(): StructType = aggSchema
  override def rows(): Array[InternalRow] = result
  override def description(): String =
    s"graft-store manifest-only aggregate ${aggSchema.fieldNames.mkString(",")}"
}

/** Layout-value file pruning: partVals are EXACT (explicit per-file in the
  * manifest), so equality predicates on layout columns prune STRUCTURALLY —
  * identity elements by the value itself (works where min/max stats are
  * capped away, e.g. >64-char strings), bucket elements by the predicate
  * values' COMPUTED bucket ids, where min/max over hash-scattered values
  * prunes nothing at all. The same machinery serves pushed (static) and
  * runtime (join-driven) filters. */
private[v2] object GraftStoreScan {
  import org.apache.spark.sql.sources._

  /** Top-level conjunct equality sets: column → the only values a kept row
    * can take there (EqualTo / non-null In values; two conjuncts on one
    * column intersect). Null values drop out — equality never matches null,
    * and a file's null partition is handled at the probe site. */
  def eqSets(fs: Seq[Filter]): Map[String, Set[Any]] = {
    val m = scala.collection.mutable.Map.empty[String, Set[Any]]
    def add(c: String, vs: Set[Any]): Unit =
      m(c) = m.get(c).map(_.intersect(vs)).getOrElse(vs)
    fs.foreach {
      case EqualTo(c, v) if v != null => add(c, Set(v))
      case In(c, vs) if vs.exists(_ != null) =>
        add(c, vs.filter(_ != null).toSet)
      case _ => ()
    }
    m.toMap
  }

  /** External (filter-side) value → the INTERNAL representation the writer
    * hashed / rendered: the exact types [[GraftBucket]] and the partition
    * router consume. Unknown combinations answer None — the element then
    * never prunes (conservative). */
  private def internalOf(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (LongType, n: java.lang.Number) => Some(n.longValue)
    case (IntegerType, n: java.lang.Number) => Some(n.intValue)
    case (StringType, s: String) => Some(UTF8String.fromString(s))
    case (DateType, d: java.sql.Date) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay.toInt)
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case (TimestampType, t: java.time.Instant) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case _ => None
  }

  /** For one spec under one conjunct-equality map: per element, the
    * partVal strings a surviving row could land in (None = element
    * unconstrained / unresolvable — never prunes). A file then survives
    * iff every element's partVal is admissible: one hash probe per
    * element, independent of predicate width. */
  def admissibleOf(schema: StructType, l: GraftLayout,
      eqs: Map[String, Set[Any]]): Seq[Option[Set[String]]] = {
    def dtOf(c: String): Option[DataType] = {
      val i = schema.fieldNames.indexOf(c)
      if (i < 0) None else Some(schema.fields(i).dataType)
    }
    l.specs.map {
      case IdentitySpec(c) =>
        for {
          dt <- dtOf(c)
          vs <- eqs.get(c)
          rendered <- traverse(vs.toSeq)(v => internalOf(dt, v).map(_.toString))
        } yield rendered.toSet
      case BucketSpec(n, cs) if cs.length == 1 =>
        val c = cs.head
        for {
          dt <- dtOf(c)
          vs <- eqs.get(c)
          ids <- traverse(vs.toSeq)(v =>
            internalOf(dt, v).map(iv => GraftBucket.of(iv, dt, n).toString))
        } yield ids.toSet
      case TemporalSpec(u, c) =>
        for {
          dt <- dtOf(c)
          vs <- eqs.get(c)
          units <- traverse(vs.toSeq)(v =>
            internalOf(dt, v).map(iv => GraftTransform.temporal(u, dt, iv).toString))
        } yield units.toSet
      case TruncateSpec(w, c) =>
        for {
          dt <- dtOf(c)
          vs <- eqs.get(c)
          ts <- traverse(vs.toSeq)(v => internalOf(dt, v).map {
            case l: java.lang.Long => GraftTransform.truncLong(l, w).toString
            case i: java.lang.Integer => GraftTransform.truncLong(i.toLong, w).toString
            case s: UTF8String => GraftTransform.truncString(s, w).toString
            case other => other.toString // unreachable: internalOf is typed
          })
        } yield ts.toSet
      case BucketSpec(n, cs) =>
        // multi-column bucket: per-column eq sets are INDEPENDENT, so the
        // admissible ids come from their cartesian product — a SUPERSET of
        // the true tuple set, hence conservative. Bounded to keep the
        // driver's work trivial; wider products just skip pruning.
        val colSets = traverse(cs)(c =>
          for {
            dt <- dtOf(c)
            vs <- eqs.get(c)
            ivs <- traverse(vs.toSeq)(v => internalOf(dt, v).map(iv => (iv, dt)))
          } yield ivs)
        colSets.filter(_.map(_.size.toLong).product <= 256L).map { sets =>
          sets.foldLeft(Seq(Seq.empty[(Any, DataType)])) { (acc, set) =>
            acc.flatMap(prefix => set.map(prefix :+ _))
          }.map(tuple =>
            GraftBucket.ofTuple(tuple.map(Some(_)), n).toString).toSet
        }
    }
  }

  /** Conjunct RANGE bounds per column in INTEGRAL internal ordering
    * (long/int/date/timestamp; strings and doubles stay with the stats
    * skipper): inclusive [lo, hi] from >,>=,<,<= conjuncts. The layout
    * consumer projects them through MONOTONIC transforms — `ts >= A AND
    * ts < B` prunes a `days(ts)` table to [days(A), days(B)] by partition
    * VALUE, exactly Iceberg's predicate projection. */
  def rangeBounds(schema: StructType,
      fs: Seq[Filter]): Map[String, (Option[Long], Option[Long])] = {
    def intOf(c: String, v: Any): Option[Long] = {
      val i = schema.fieldNames.indexOf(c)
      if (i < 0) None
      else schema.fields(i).dataType match {
        case LongType | IntegerType | DateType | TimestampType =>
          internalOf(schema.fields(i).dataType, v).map {
            case l: java.lang.Long => l.longValue
            case n: java.lang.Integer => n.longValue
            case other => return None
          }
        case _ => None
      }
    }
    val m = scala.collection.mutable.Map.empty[String, (Option[Long], Option[Long])]
    def tighten(c: String, lo: Option[Long], hi: Option[Long]): Unit = {
      val (l0, h0) = m.getOrElse(c, (None, None))
      m(c) = (Seq(l0, lo).flatten.reduceOption(_ max _),
        Seq(h0, hi).flatten.reduceOption(_ min _))
    }
    fs.foreach {
      case GreaterThan(c, v) => intOf(c, v).foreach(x => tighten(c, Some(x + 1), None))
      case GreaterThanOrEqual(c, v) => intOf(c, v).foreach(x => tighten(c, Some(x), None))
      case LessThan(c, v) => intOf(c, v).foreach(x => tighten(c, None, Some(x - 1)))
      case LessThanOrEqual(c, v) => intOf(c, v).foreach(x => tighten(c, None, Some(x)))
      case _ => ()
    }
    m.toMap
  }

  /** For one spec under conjunct range bounds: per element, the inclusive
    * [lo, hi] window the DERIVED partition value must fall in (None =
    * unconstrained). Only monotonic numeric transforms participate. */
  def rangeAdmissibleOf(schema: StructType, l: GraftLayout,
      ranges: Map[String, (Option[Long], Option[Long])])
      : Seq[Option[(Option[Long], Option[Long])]] = {
    def dtOf(c: String): Option[DataType] = {
      val i = schema.fieldNames.indexOf(c)
      if (i < 0) None else Some(schema.fields(i).dataType)
    }
    def proj(c: String)(f: Long => Long): Option[(Option[Long], Option[Long])] =
      ranges.get(c).filter(r => r._1.isDefined || r._2.isDefined)
        .map { case (lo, hi) => (lo.map(f), hi.map(f)) }
    l.specs.map {
      case IdentitySpec(c) =>
        dtOf(c).filter {
          case LongType | IntegerType | DateType | TimestampType => true
          case _ => false
        }.flatMap(_ => proj(c)(identity))
      case TemporalSpec(u, c) =>
        dtOf(c).filter(GraftTransform.supportsTemporal(u, _))
          .flatMap(dt => proj(c)(v => GraftTransform.temporal(u, dt,
            dt match {
              case DateType => Int.box(v.toInt)
              case _ => Long.box(v)
            })))
      case TruncateSpec(w, c) =>
        dtOf(c).filter {
          case LongType | IntegerType => true
          case _ => false
        }.flatMap(_ => proj(c)(GraftTransform.truncLong(_, w)))
      case _: BucketSpec => None // hash transforms never project ranges
    }
  }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val ys = xs.map(f)
    if (ys.exists(_.isEmpty)) None else Some(ys.flatten)
  }

  /** Dual of [[GraftStoreFormat.mayMatch]]: TRUE only when the manifest
    * PROVES every physical row of the file satisfies `f` — the currency of
    * METADATA-ONLY DELETE (Iceberg's partition-drop economics: a predicate
    * that provably covers a whole file drops it from the listing with zero
    * reads). Sound by construction, deliberately incomplete:
    *
    *   - stats proofs require the column proven NULL-FREE (v10 null
    *     counts): a null never satisfies an equality/range predicate, so
    *     one unknown null defeats the proof;
    *   - string stats are EXACT when present (>64-char values drop the
    *     stat rather than truncate — a truncated max would fake a proof);
    *   - identity partition values prove equality and IS [NOT] NULL even
    *     where stats are capped away (explicit per-file partVals; the null
    *     partition proves IS NULL);
    *   - `Not(g)` is proven by `!mayMatch(g)` PLUS null-freedom of every
    *     column g references (a row where g is NULL makes NOT g NULL, not
    *     TRUE — three-valued logic would otherwise fake the proof);
    *   - anything unknown answers false — the file takes the normal
    *     rewrite path, never a wrong drop.
    *
    * Masked rows (position/equality deletes) need no special care: masks
    * only REMOVE rows, so "every physical row matches" covers every live
    * row a fortiori, and dropping the file deletes exactly the live ones. */
  def mustMatch(m: GraftManifest, e0: GraftFileEntry, f: Filter): Boolean = {
    val schema = m.schema
    val e = GraftStoreFormat.logicalStatsView(m, e0)
    def idxOf(c: String): Int = schema.fieldNames.indexOf(c)
    // v10 DENSE null view: tracked 0 proves null-free; tracked == rows (or
    // the column physically absent — every row null-extends) proves
    // all-null. Pre-v10 files (no counts) prove neither.
    def noNulls(i: Int): Boolean =
      e.nullCounts.exists(nc => nc.get(i).contains(0L))
    def allNulls(i: Int): Boolean =
      e.nullCounts.exists(nc => nc.get(i).fold(true)(_ == e.rows))
    // identity-layout elements of the file's OWN spec (spec evolution:
    // partVals are positional in the spec the file was written under) —
    // column name -> its explicit partition value (None = null partition)
    lazy val identVals: Map[String, Option[String]] = {
      val specStr = m.partitionSpecs match {
        case Some(hist) => e0.specId.flatMap(hist.lift).filter(_.nonEmpty)
        case None => m.partitionCol
      }
      (for {
        s <- specStr.toSeq
        l <- scala.util.Try(GraftLayout.parse(s)).toOption.toSeq
        vs <- e0.partVals.toSeq if vs.length == l.specs.length
        (sp, v) <- l.specs.zip(vs)
        c <- sp match { case IdentitySpec(c0) => Seq(c0); case _ => Seq.empty }
      } yield c -> v).toMap
    }
    // identity partVal Some(p) proves all rows have c == p AND non-null
    // (nulls route to the null partition, partVal None)
    def identEq(c: String, v: Any): Boolean = {
      val i = idxOf(c)
      v != null && i >= 0 && identVals.get(c).exists(_.exists(p =>
        internalOf(schema.fields(i).dataType, v).exists(_.toString == p)))
    }
    def bound(c: String, v: Any)(longOk: (Long, Long, Long) => Boolean): Boolean = {
      val i = idxOf(c)
      i >= 0 && noNulls(i) && e.stats.get(i).exists { case (mn, mx) =>
        (schema.fields(i).dataType, v) match {
          case (LongType | IntegerType | DateType, n: java.lang.Number) =>
            longOk(mn.toLong, mx.toLong, n.longValue())
          case (DoubleType | FloatType, n: java.lang.Number) =>
            // NaN-poisoned stats are never written (the writer drops them),
            // so present double stats are exact bounds. Collapse to sign
            // space like strings so one comparator serves every type.
            val x = n.doubleValue()
            longOk(math.signum(mn.toDouble.compareTo(x)).toLong,
              math.signum(mx.toDouble.compareTo(x)).toLong, 0L)
          case (d: DecimalType, v2) =>
            // decimal stats are unscaled longs; EXACT BigDecimal compare
            // collapsed to sign space — must-proofs cannot round
            val x: java.math.BigDecimal = v2 match {
              case bd: java.math.BigDecimal => bd
              case bd: scala.math.BigDecimal => bd.bigDecimal
              case dd: org.apache.spark.sql.types.Decimal => dd.toJavaBigDecimal
              case n: java.lang.Number => new java.math.BigDecimal(n.toString)
              case _ => null
            }
            x != null && {
              def dec(uns: String) = new java.math.BigDecimal(
                new java.math.BigInteger(uns), d.scale)
              longOk(math.signum(dec(mn).compareTo(x)).toLong,
                math.signum(dec(mx).compareTo(x)).toLong, 0L)
            }
          case (StringType, s: String) =>
            // UTF8 binary order — the stats' own ordering (see mayMatch)
            val x = UTF8String.fromString(s)
            longOk(math.signum(UTF8String.fromString(mn).compareTo(x)).toLong,
              math.signum(UTF8String.fromString(mx).compareTo(x)).toLong, 0L)
          case _ => false
        }
      }
    }
    f match {
      case And(l, r) => mustMatch(m, e0, l) && mustMatch(m, e0, r)
      // every row satisfies l, or every row satisfies r — either proves
      // the disjunction (incomplete for per-row mixtures, and sound)
      case Or(l, r) => mustMatch(m, e0, l) || mustMatch(m, e0, r)
      case Not(g) =>
        g.references.forall(c => { val i = idxOf(c); i >= 0 && noNulls(i) }) &&
          !GraftStoreFormat.mayMatch(schema, e, g)
      case EqualTo(c, v) =>
        identEq(c, v) || bound(c, v)((mn, mx, x) => mn == x && mx == x)
      case GreaterThan(c, v) => bound(c, v)((mn, _, x) => mn > x)
      case GreaterThanOrEqual(c, v) => bound(c, v)((mn, _, x) => mn >= x)
      case LessThan(c, v) => bound(c, v)((_, mx, x) => mx < x)
      case LessThanOrEqual(c, v) => bound(c, v)((_, mx, x) => mx <= x)
      case In(c, vs) => vs.nonEmpty && vs.exists(v => mustMatch(m, e0, EqualTo(c, v)))
      case IsNull(c) =>
        val i = idxOf(c)
        i >= 0 && (allNulls(i) || identVals.get(c).exists(_.isEmpty))
      case IsNotNull(c) =>
        val i = idxOf(c)
        i >= 0 && (noNulls(i) || identVals.get(c).exists(_.isDefined))
      case AlwaysTrue() => true
      case _ => false
    }
  }

  /** Split a V1 filter tree into its top-level conjuncts — the shape
    * [[eqSets]]/[[rangeBounds]] consume (they match conjunct LEAVES, not
    * And nodes). */
  def conjuncts(f: Filter): Seq[Filter] = f match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Push negations to the leaves (negation normal form) preserving the
    * TRUE-set — the only semantics filter planning needs (a row is kept/
    * deleted iff the predicate is TRUE; FALSE and NULL act alike). Under
    * three-valued logic `NOT(a AND b)` is TRUE iff a is FALSE or b is
    * FALSE, i.e. `NOT a OR NOT b` — De Morgan holds for TRUE-sets — and
    * `NOT(c > v)` is TRUE iff c is non-null and c <= v, i.e. exactly
    * `c <= v`'s TRUE-set. Negated comparisons against a NULL constant are
    * never TRUE (NULL in, NULL out) — they normalize to AlwaysFalse.
    * Leaves the un-normalizable (`Not(EqualTo)`, `Not(In)`) in place. */
  def nnf(f: Filter): Filter = f match {
    case Not(Not(g)) => nnf(g)
    // null-safe equality (`<=>` — how Spark encodes static PARTITION
    // values in INSERT OVERWRITE): TRUE-set-identical to plain equality
    // for a non-null constant, and to IS NULL for a null one
    case EqualNullSafe(c, v) => if (v == null) IsNull(c) else EqualTo(c, v)
    case Not(EqualNullSafe(c, v)) if v == null => IsNotNull(c)
    case Not(And(l, r)) => Or(nnf(Not(l)), nnf(Not(r)))
    case Not(Or(l, r)) => And(nnf(Not(l)), nnf(Not(r)))
    case Not(GreaterThan(c, v)) => if (v == null) AlwaysFalse() else LessThanOrEqual(c, v)
    case Not(GreaterThanOrEqual(c, v)) => if (v == null) AlwaysFalse() else LessThan(c, v)
    case Not(LessThan(c, v)) => if (v == null) AlwaysFalse() else GreaterThanOrEqual(c, v)
    case Not(LessThanOrEqual(c, v)) => if (v == null) AlwaysFalse() else GreaterThan(c, v)
    case Not(IsNull(c)) => IsNotNull(c)
    case Not(IsNotNull(c)) => IsNull(c)
    case Not(AlwaysTrue()) => AlwaysFalse()
    case Not(AlwaysFalse()) => AlwaysTrue()
    case And(l, r) => And(nnf(l), nnf(r))
    case Or(l, r) => Or(nnf(l), nnf(r))
    case other => other
  }

  /** Layout-value admissibility probe under conjunct filters, factored for
    * reuse by BOTH the scan's selection and the COW/MOR DML planners: a
    * DELETE on one identity partition must not rewrite sibling partitions
    * just because their string stats are capped away — partVals are
    * explicit and exact where stats are not. Returns a per-file predicate;
    * admissible-set resolution runs ONCE, each file costs one hash probe +
    * one long compare (independent of predicate width). */
  def layoutPruner(m: GraftManifest, fs: Seq[Filter]): GraftFileEntry => Boolean = {
    val eqs = eqSets(fs)
    val ranges = rangeBounds(m.schema, fs)
    if (eqs.isEmpty && ranges.isEmpty) return (_: GraftFileEntry) => true
    val admCache = scala.collection.mutable.Map.empty[String,
      Option[(Seq[Option[Set[String]]], Seq[Option[(Option[Long], Option[Long])]])]]
    // the file's OWN spec (partition-spec evolution: partVals are
    // positional in the spec the file was written under)
    def specStrOf(e: GraftFileEntry): Option[String] = m.partitionSpecs match {
      case Some(hist) => e.specId.flatMap(hist.lift).filter(_.nonEmpty)
      case None => m.partitionCol
    }
    (e: GraftFileEntry) => specStrOf(e) match {
      case Some(spec) =>
        admCache.getOrElseUpdate(spec,
          scala.util.Try(GraftLayout.parse(spec)).toOption
            .map(l => (admissibleOf(m.schema, l, eqs),
              rangeAdmissibleOf(m.schema, l, ranges)))) match {
          case Some((adm, radm)) => e.partVals match {
            case Some(vs) if vs.length == adm.length =>
              vs.lazyZip(adm).lazyZip(radm).forall { (pv, set, rng) =>
                (set, rng) match {
                  case (None, None) => true
                  case _ => pv match {
                    // a null partition value can never match an
                    // equality OR satisfy a range predicate
                    case None => false
                    case Some(v) =>
                      set.forall(_.contains(v)) && rng.forall { case (lo, hi) =>
                        scala.util.Try(v.toLong).toOption.forall(d =>
                          lo.forall(d >= _) && hi.forall(d <= _))
                      }
                  }
                }
              }
            case _ => true
          }
          case None => true
        }
      case None => true
    }
  }

  /** A runtime IN can carry thousands of build-side join keys; probing
    * every value against every file's min/max is O(files × keys) driver
    * work. For the per-file STATS check a wide IN collapses to its value
    * RANGE — same skipping power on clustered/range-sorted columns, O(1)
    * per file. Exact membership still applies through layout pruning
    * (which probes a hash set) and, of course, through the join itself.
    * Strings compare in UTF8 binary order — the order the stats are in. */
  def collapseWideIn(f: Filter): Filter = f match {
    // `_file` INs (runtime group filtering) are probed EXACTLY against
    // each file's path, never against stats — collapsing would turn exact
    // pruning into no pruning
    case In(c, vs) if vs.length > 64 && c != GraftFileColumn.Name =>
      val nn = vs.filter(_ != null)
      if (nn.isEmpty) f
      else if (nn.forall(v => v.isInstanceOf[java.lang.Integer] || v.isInstanceOf[java.lang.Long])) {
        val ls = nn.map(_.asInstanceOf[java.lang.Number].longValue)
        And(GreaterThanOrEqual(c, ls.min), LessThanOrEqual(c, ls.max))
      } else if (nn.forall(_.isInstanceOf[String])) {
        val us = nn.map(s => UTF8String.fromString(s.asInstanceOf[String]))
        val mn = us.reduce((a, b) => if (a.compareTo(b) <= 0) a else b)
        val mx = us.reduce((a, b) => if (a.compareTo(b) >= 0) a else b)
        And(GreaterThanOrEqual(c, mn.toString), LessThanOrEqual(c, mx.toString))
      } else f
    case other => other
  }
}

private[v2] class GraftStoreScan(protected val path: String,
    protected[v2] val manifest: GraftManifest,
    required: StructType, pushed: Array[org.apache.spark.sql.sources.Filter],
    protected val conf: SerializableHadoopConf)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** Per-partition output ordering ([[SupportsReportOrdering]]): a
    * clustered table's files were written SORTED on the cluster keys
    * (the write demanded an ordered distribution), each scan partition is
    * ONE file (or one byte-slice of one — still sorted), and masks only
    * REMOVE rows — so the scan declares the sort and Spark elides
    * per-partition SortExecs above it (window/sortWithinPartitions over
    * the cluster key on a 100 TB table: zero re-sort). Reported ONLY when
    * every selected file carries the per-file `sorted` flag (a plain
    * unordered append clears the guarantee until resort/compaction
    * restores it) and the scan is not key-grouped (a keyed group
    * CONCATENATES files: sorted pieces, unsorted whole). */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    manifest.clusterCols match {
      case Some(cl) if keyedGroups.isEmpty && selected.nonEmpty &&
          selected.forall(_.sorted) =>
        import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
        cl.split(",").map(_.trim).filter(_.nonEmpty).map(c =>
          Expressions.sort(Expressions.identity(c),
            SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
      case _ => Array.empty
    }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-store $path files=${selected.size}/${manifest.files.size} " +
      s"cols=${required.fieldNames.mkString(",")} skipBy=[${pushed.mkString(",")}]" +
      (if (runtimeFilters.nonEmpty) s" runtimeSkipBy=[${runtimeFilters.mkString(",")}]" else "")

  private def mayMatch(e: GraftFileEntry, f: org.apache.spark.sql.sources.Filter): Boolean =
    GraftStoreFormat.mayMatch(manifest.schema, e, f)

  // RUNTIME filters (set post-planning by `filter` below, or by
  // [[GraftRowLevelScan.filter]]'s `_file` group filtering) participate in
  // file skipping exactly like pushed filters; setting them invalidates the
  // cached selection AND the keyed-group cache so planInputPartitions —
  // which Spark re-invokes after runtime filtering — sees the narrowed set
  // (for a key-grouped scan the re-grouped keys are a SUBSET of the ones
  // reported at planning, which BatchScanExec accepts and back-fills with
  // empty partitions).
  @volatile private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  @volatile private var runtimeStatsFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  @volatile private var selectedCache: Seq[GraftFileEntry] = null
  protected def setRuntimeFilters(fs: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    runtimeFilters = fs
    runtimeStatsFilters = fs.map(GraftStoreScan.collapseWideIn)
    selectedCache = null
    keyedGroupsCache = null
  }

  /** Runtime (join-driven) FILE skipping — `SupportsRuntimeV2Filtering` on
    * the regular scan, the analogue of Iceberg's runtime filtering /
    * dynamic partition pruning for the native format. Declared attributes
    * are the table's layout columns (identity partition + bucket sources)
    * plus its declared cluster columns: for `fact JOIN dim` on one of
    * them, Spark's DPP rule plans an IN subquery over dim's join keys
    * (free when dim broadcasts — the exchange is reused) and BatchScanExec
    * feeds the values here before planInputPartitions re-runs. Identity /
    * bucket elements then prune STRUCTURALLY via partVals (`k IN (…)` on a
    * `bucket(64, k)` table reads only the keys' buckets); cluster columns
    * prune by per-file min/max. At 100 TB this is the difference between
    * scanning the fact table and scanning the handful of files that can
    * hold the dim's keys. Scans with neither layout nor cluster columns
    * declare nothing — Spark never plans a useless subquery against them. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val layoutCols = layout.toSeq.flatMap(_.specs.flatMap(_.cols))
    val cluster = manifest.clusterCols.toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    // bloom-indexed columns prune runtime INs too (hash-probe per file)
    val bloomIdx = manifest.bloomCols.toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    (layoutCols ++ cluster ++ bloomIdx).distinct
      .filter(manifest.schema.fieldNames.contains)
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.column(c))
      .toArray
  }
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    setRuntimeFilters(org.apache.spark.sql.graftshim.predicatesToV1(predicates))

  protected def selected: Seq[GraftFileEntry] = {
    var s = selectedCache
    if (s == null) {
      // equality sets AND range bounds over layout columns (pushed ∧
      // runtime conjuncts) resolve to admissible partVal windows ONCE per
      // selection, keyed by each file's own spec (partition-spec
      // evolution) — then every file is one hash probe + one long
      // compare, independent of predicate width. Ranges project through
      // MONOTONIC transforms: `ts >= A AND ts < B` prunes a `days(ts)`
      // table by partition value, Iceberg's predicate projection.
      val layoutSurvives =
        GraftStoreScan.layoutPruner(manifest, (pushed ++ runtimeFilters).toSeq)
      val eqs = GraftStoreScan.eqSets(pushed ++ runtimeFilters)
      s = manifest.files.filter { e =>
        lazy val abs = new Path(path, e.name).toString
        // stats skip against the file's stats RE-KEYED to current logical
        // indices (identity on never-evolved tables)
        lazy val eL = GraftStoreFormat.logicalStatsView(manifest, e)
        layoutSurvives(e) && (pushed ++ runtimeStatsFilters).forall {
          // `_file` filters prune EXACTLY (runtime group filtering
          // collects matching files' paths); stats know nothing of them
          case org.apache.spark.sql.sources.In(GraftFileColumn.Name, vs) =>
            vs.contains(abs)
          case org.apache.spark.sql.sources.EqualTo(GraftFileColumn.Name, v) =>
            v == abs
          case f => mayMatch(eL, f)
        }
      }
      s = bloomPrune(s, eqs)
      selectedCache = s
    }
    s
  }

  // ---- bloom sidecar probing (see [[GraftBloomSidecarEntry]]) ----------
  // loaded lazily and ONLY for sidecars covering still-candidate files:
  // a point lookup on a million-file table touches a handful of sidecars,
  // a full scan or range query never opens one
  private val bloomCache =
    scala.collection.mutable.Map.empty[String, Map[(String, String), Array[Long]]]
  private def bloomPrune(files: Seq[GraftFileEntry],
      eqs: Map[String, Set[Any]]): Seq[GraftFileEntry] = {
    val cols = manifest.bloomCols.toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    if (files.isEmpty || manifest.blooms.isEmpty || cols.isEmpty || eqs.isEmpty)
      return files
    // per constrained bloom column: the values' probe hashes. Bounded —
    // probing a massive runtime IN against every candidate would cost more
    // driver time than the reads it saves
    val probes: Map[String, Seq[(Int, Int)]] = cols.flatMap { c =>
      val idx = manifest.schema.fieldNames.indexOf(c)
      if (idx < 0) None
      else eqs.get(c).filter(_.size <= 1024).flatMap { vs =>
        val dt = manifest.schema.fields(idx).dataType
        val hs = vs.toSeq.map(v => GraftBloomFilter.hashes(v, dt))
        if (hs.exists(_.isEmpty)) None else Some(c -> hs.flatten)
      }
    }.toMap
    if (probes.isEmpty) return files
    val needed = manifest.blooms.filter(b => files.exists(e => b.covers(e.name)))
    needed.foreach(b =>
      if (!bloomCache.contains(b.name)) bloomCache(b.name) = loadBloomSidecar(b.name))
    files.filter { e =>
      probes.forall { case (c, hs) =>
        // first sidecar carrying (file, col) wins; none recorded = keep
        // (files written before the index was declared never skip)
        needed.iterator.filter(_.covers(e.name))
          .flatMap(b => bloomCache(b.name).get((e.name, c)))
          .nextOption() match {
          case Some(bits) => hs.exists(h => GraftBloomFilter.mightContain(bits, h))
          case None => true
        }
      }
    }
  }
  private def loadBloomSidecar(name: String): Map[(String, String), Array[Long]] =
    try {
      val f = GraftStoreFormat.fs(path, conf.value)
      val in = f.open(new Path(path, name))
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      body.split("\n").filter(_.nonEmpty).map { l =>
        val parts = l.split("\t", -1)
        (parts(1), parts(0)) -> GraftBloomFilter.fromBase64(parts(3))
      }.toMap
    } catch {
      // an unreadable sidecar degrades to "no skipping", never to an error
      case _: Throwable => Map.empty
    }

  /** The spec string a FILE was written under: its partVals are positional
    * in THAT spec's elements, not the current one (partition-spec
    * evolution). Spec-history columns can never be renamed or dropped
    * (GraftCatalog.requireUnreferenced), so name-keyed resolution cannot
    * dangle. */
  private def specStrOf(e: GraftFileEntry): Option[String] =
    manifest.partitionSpecs match {
      case Some(hist) => e.specId.flatMap(hist.lift).filter(_.nonEmpty)
      case None => manifest.partitionCol
    }
  /** The stats-pruned file set this scan reads — the "groups" a row-level
    * operation's commit replaces ([[GraftRowLevelBatchWrite]]). */
  private[v2] def selectedFileNames: Seq[String] = selected.map(_.name)
  /** Exact stats from the manifest (post-skipping) — lets Catalyst make
    * size-based planning decisions (e.g. auto-broadcast a small
    * graft-store dimension). */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val bytes: Long = {
      val fs = GraftStoreFormat.fs(path, conf.value)
      selected.map { e =>
        try fs.getFileStatus(new Path(path, e.name)).getLen catch { case _: Throwable => 0L }
      }.sum
    }
    override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
    override def numRows(): OptionalLong = {
      // merge-on-read: subtract the rows masked by delete files covering
      // the selection (an estimate — coverage is a name range — but the
      // full-table case is exact, keeping broadcast decisions honest)
      val masked =
        if (manifest.deletes.isEmpty) 0L
        else manifest.deletes
          .filter(d => selected.exists(e => d.covers(e.name))).map(_.rows).sum
      OptionalLong.of(math.max(0L, selected.map(_.rows).sum - masked))
    }
    /** COLUMN statistics for the cost-based optimizer, folded from the
      * manifest over the SELECTED files (post-skipping) — Spark's
      * FilterEstimation / JoinEstimation then reason about value ranges
      * and null fractions without an ANALYZE pass (which, at 100 TB, is a
      * job nobody runs): min/max when every selected file with rows has
      * stats for the column, null counts when every file tracks them
      * (v10), and an EXACT distinct count for identity partition columns
      * (= distinct explicit partition values — the one-value-per-file
      * invariant makes it free). Statistics are estimates by API contract
      * — live MOR masks may make null/row counts overcount — but every
      * value reported is a true bound of the unmasked data. */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStatsOnce
    // computed ONCE per Statistics instance: Spark consults stats during
    // planning for every query, and the per-column manifest fold should
    // not repeat on each consultation
    private lazy val colStatsOnce: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
      val files = selected.map(e => GraftStoreFormat.logicalStatsView(manifest, e))
      val identPos: Map[String, Int] = manifest.partitionCol
        .flatMap(c => scala.util.Try(GraftLayout.parse(c)).toOption)
        .map(_.specs.zipWithIndex.collect {
          case (IdentitySpec(c), i) => c -> i
        }.toMap).getOrElse(Map.empty)
      manifest.schema.fields.zipWithIndex.foreach { case (f, i) =>
        def internal(raw: String): Any = f.dataType match {
          case LongType | TimestampType => java.lang.Long.valueOf(raw.toLong)
          case IntegerType | DateType => java.lang.Integer.valueOf(raw.toInt)
          case DoubleType => java.lang.Double.valueOf(raw.toDouble)
          case FloatType => java.lang.Float.valueOf(raw.toFloat)
          case StringType => UTF8String.fromString(raw)
          case d: DecimalType => GraftStoreFormat.statDecimal(raw, d)
          case _ => null
        }
        val perFile = files.filter(_.rows > 0).map(_.stats.get(i))
        val mins = perFile.map(_.map(s => internal(s._1)).filter(_ != null))
        val maxs = perFile.map(_.map(s => internal(s._2)).filter(_ != null))
        def fold(vs: Seq[Option[Any]], wantMin: Boolean): Option[Any] =
          if (vs.isEmpty || vs.exists(_.isEmpty)) None
          else Some(vs.flatten.reduce { (a, b) =>
            val c = (a, b) match {
              case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
              case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
              case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
              case (x: java.lang.Float, y: java.lang.Float) => x.compareTo(y)
              case (x: UTF8String, y: UTF8String) => x.compareTo(y)
              case (x: org.apache.spark.sql.types.Decimal,
                    y: org.apache.spark.sql.types.Decimal) => x.compareTo(y)
              case _ => 0
            }
            if ((c <= 0) == wantMin) a else b
          })
        val mn = fold(mins, wantMin = true)
        val mx = fold(maxs, wantMin = false)
        val nulls: Option[Long] = {
          val per = files.map(e =>
            if (e.rows == 0) Some(0L) else e.nullCounts.map(_.getOrElse(i, e.rows)))
          if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
        }
        // distinct count — what actually unlocks FilterEstimation (it
        // declines attributes without one): EXACT for identity partition
        // columns (distinct explicit partition values), and for integral
        // columns the TRUE upper bound min(rows, max−min+1) — a full id
        // column estimates ~rows, a 0/1 flag estimates 2. Non-integral,
        // non-partition columns report none (no defensible number).
        val rowsTotal = files.map(_.rows).sum
        val ndv: Option[Long] = identPos.get(f.name).flatMap { p =>
          val pvs = selected.map(_.partVals.map(_.lift(p).flatten))
          if (pvs.exists(_.isEmpty)) None
          else Some(pvs.flatten.flatten.distinct.size.toLong)
        }.orElse {
          (f.dataType, mn, mx) match {
            case (LongType | IntegerType | DateType, Some(a: Number), Some(b: Number)) =>
              val span = b.longValue() - a.longValue() + 1L
              Some(math.min(rowsTotal, math.max(1L, span)))
            case _ => None
          }
        }
        if (mn.isDefined || mx.isDefined || nulls.isDefined || ndv.isDefined)
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new ColumnStatistics {
              override def min(): java.util.Optional[Object] =
                mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty())
              override def max(): java.util.Optional[Object] =
                mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty())
              override def nullCount(): OptionalLong =
                nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def distinctCount(): OptionalLong =
                ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            })
      }
      out
    }
  }

  /** Identity-partitioned read groups: for a `partitionBy` table, every
    * file holds exactly ONE value of the partition column, recovered from
    * its min==max stats — files sharing the value form one input
    * partition keyed by it ([[HasPartitionKey]]), and the scan reports
    * [[KeyGroupedPartitioning]], which is what lets Spark plan a
    * STORAGE-PARTITIONED JOIN (zero exchange on either side) between two
    * graft-store tables partitioned on their join keys
    * (`spark.sql.sources.v2.bucketing.enabled=true`). `None` when the
    * table isn't partitioned or any surviving file can't prove its single
    * value (all-null or long-string stats) — reporting then stays
    * conservative (unknown partitioning), never wrong. */
  // READS stay lenient: a header this parser cannot understand (written
  // by a different version, hand-edited, empty) degrades the scan to
  // UnknownPartitioning instead of bricking the table; WRITES parse
  // strictly and fail loudly
  private lazy val layout: Option[GraftLayout] =
    manifest.partitionCol.flatMap(c =>
      scala.util.Try(GraftLayout.parse(c)).toOption)

  // cached-var rather than lazy val: runtime filtering narrows `selected`
  // post-planning, and the re-grouping must see the narrowed set (the
  // resulting keys are a subset of the planned ones — Spark back-fills
  // missing keys with empty partitions)
  @volatile private var keyedGroupsCache: Option[Seq[(Seq[Any], Seq[GraftFileEntry])]] = null
  private def keyedGroups: Option[Seq[(Seq[Any], Seq[GraftFileEntry])]] = {
    var g = keyedGroupsCache
    if (g == null) { g = computeKeyedGroups; keyedGroupsCache = g }
    g
  }
  private def computeKeyedGroups: Option[Seq[(Seq[Any], Seq[GraftFileEntry])]] =
    layout.filter(_.specs.forall(s =>
      // key-grouped reporting covers identity/bucket layouts (their keys
      // resolve to SPJ-compatible transforms); temporal/truncate layouts
      // read as UnknownPartitioning — partition-value PRUNING still
      // applies to them in full
      s.isInstanceOf[IdentitySpec] || s.isInstanceOf[BucketSpec])).flatMap { l =>
      // partition-spec evolution: grouping files by partition values is
      // only valid for files written under the CURRENT spec — a selected
      // set containing older-spec files degrades to UnknownPartitioning
      // (stats-based skipping is spec-agnostic and unaffected); compaction
      // re-unifies the layout and restores SPJ capability
      val allCurrentSpec = manifest.partitionSpecs match {
        case Some(ss) => selected.forall(_.specId.contains(ss.length - 1))
        case None => true
      }
      // identity elements need their column's index (to type the key);
      // bucket elements carry COMPUTED ids in partVals — index unused
      val idxs = l.specs.map {
        case IdentitySpec(c) => manifest.schema.fieldNames.indexOf(c)
        case _ => Int.MaxValue // bucket: COMPUTED ids ride partVals, index unused
      }
      if (!allCurrentSpec || idxs.exists(_ < 0)) None
      else grouped(selected.map { e =>
        e.partVals match {
          // explicit manifest partition values (v3+ writers): exact,
          // null-safe, and immune to the >64-char string-stat cap.
          // Identity elements carry the column value (typed by the
          // column); bucket elements carry the COMPUTED bucket id (int)
          case Some(vs) if vs.length == l.specs.length =>
            Some(vs.lazyZip(l.specs).lazyZip(idxs).map { (ov, sp, idx) =>
              ov.map { v =>
                sp match {
                  case IdentitySpec(_) => typedKey(idx, v)
                  case _ => Int.box(v.toInt): Any // bucket (guard upstream)
                }
              }.orNull
            }.toSeq -> e)
          case _ if l.specs.exists(_.isInstanceOf[BucketSpec]) =>
            // bucket ids exist only as explicit values (no column's stats
            // could carry a COMPUTED id) — a bucket layout without them
            // can't prove its keys
            None
          case _ =>
            // legacy identity manifest: prove values via min==max stats
            val vals = idxs.map { idx =>
              e.stats.get(idx) match {
                case Some((mn, mx)) if mn == mx => Some(typedKey(idx, mn))
                case _ => None // can't prove one-value-per-file
              }
            }
            if (vals.exists(_.isEmpty)) None else Some(vals.flatten -> e)
        }
      })
    }

  private def grouped(keyed: Seq[Option[(Seq[Any], GraftFileEntry)]])
      : Option[Seq[(Seq[Any], Seq[GraftFileEntry])]] =
    if (keyed.exists(_.isEmpty)) None
    else Some(keyed.flatten.groupBy(_._1).toSeq
      // deterministic partition order; a null key sorts first (its sort
      // token is "\u0000", never a toString on null)
      .sortBy(_._1.map(v => if (v == null) "\u0000" else "\u0001" + v.toString)
        .mkString("\u0000"))
      .map { case (v, es) => (v, es.map(_._2)) })

  private def typedKey(idx: Int, v: String): Any =
    manifest.schema.fields(idx).dataType match {
      case LongType | TimestampType => v.toLong
      case IntegerType | DateType => v.toInt
      case StringType => UTF8String.fromString(v)
      case _ => v
    }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (layout, keyedGroups) match {
      case (Some(l), Some(groups)) =>
        import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
        // bucket transforms are resolvable (hence SPJ-plannable) only when
        // the relation came through GraftCatalog's FunctionCatalog
        val keys: Array[Expression] = l.specs.map {
          case IdentitySpec(c) => Expressions.identity(c): Expression
          case BucketSpec(n, cs) => Expressions.bucket(n, cs: _*): Expression
          case s => throw new IllegalStateException( // keyedGroups gate
            s"non-SPJ transform in keyed groups: ${s.render}")
        }.toArray
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          keys, groups.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          selected.size)
    }

  protected def widthOf(e: GraftFileEntry): Int =
    e.ncols.getOrElse(manifest.schema.length)

  /** Read unit for one data file: path, width, covering position-delete
    * files, scoping equality-delete stores (merge-on-read — empty on COW
    * tables). */
  protected def sliceOf(e: GraftFileEntry): GraftFileSlice =
    GraftFileSlice(new Path(path, e.name).toString, widthOf(e),
      GraftStoreFormat.coveringDeletes(path, manifest, e.name),
      manifest.eqDeletes.filter(_.covers(e)).map(q =>
        GraftEqSlice(new Path(path, q.name).toString,
          q.keyCols.map(manifest.schema.fieldIndex))),
      // field-id-evolved table: ship the file's physical layout (WRITTEN
      // types in row order — a pre-widening file's int/float, not the
      // current logical long/double) and its physical→current-table map
      manifest.layoutIdsOf(e).map { lids =>
        val fm = manifest.fieldMeta.get
        val li = e.layoutId.getOrElse(0)
        GraftColRemap(lids.map(id => fm.writtenTypeAt(li, id)),
          lids.map(id => fm.ids.indexOf(id)))
      })

  override def planInputPartitions(): Array[InputPartition] =
    keyedGroups match {
      case Some(groups) =>
        // key-grouped (SPJ) scans never split: KeyGroupedPartitioning
        // promises one partition per key — splitting would break it. The
        // split lever is for the general scan; keyed tables bound file
        // sizes with targetFileBytes instead.
        groups.map { case (key, es) =>
          GraftKeyedFilesPartition(es.map(sliceOf),
            InternalRow.fromSeq(key)): InputPartition
        }.toArray
      case None =>
        // SPLIT oversized files into per-block slices (v15 block offsets,
        // recorded row-aligned by the writer every ~32 MiB): a compaction
        // output or bulk load scans as parallel tasks instead of one
        // straggler. Files without offsets read whole, as always.
        selected.flatMap { e =>
          val base = sliceOf(e)
          e.blocks match {
            case Some(bs) if bs.nonEmpty =>
              val starts = (0L, 0L) +: bs
              starts.zipWithIndex.map { case ((r, b), i) =>
                val end = if (i + 1 < starts.length) starts(i + 1)._2 else -1L
                GraftFilePartition(base.copy(
                  byteStart = b, byteEnd = end, rowStart = r)): InputPartition
              }
            case _ => Seq(GraftFilePartition(base): InputPartition)
          }
        }.toArray
    }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStoreReaderFactory(manifest.schema, required, conf,
      GraftStoreFormat.logicalDefaults(manifest))
  override def supportedCustomMetrics(): Array[CustomMetric] = GraftScanMetrics.supported

  // streaming admission-control knobs (read options), injected by the
  // scan builder — plumbing only, the stream owns the semantics
  private[v2] var streamMaxFiles: Option[Int] = None
  private[v2] var streamMaxRows: Option[Long] = None
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftStoreMicroBatchStream(path, manifest.schema, required, conf,
      streamMaxFiles, streamMaxRows, GraftStoreFormat.logicalDefaults(manifest))
}

/** Streaming offset = snapshot SEQUENCE NUMBER (-1 = before the first
  * snapshot). Total order, restart-safe (the seq is durable in manifest
  * names), and trivially JSON-serializable for the checkpoint log. */
/** `part` (admission control, -1 = snapshot fully consumed): how many of
  * snapshot `seq`'s added files (in their stable name-sorted order) the
  * stream has emitted — the sub-snapshot position a rate-limited stream
  * checkpoints mid-backfill. Legacy checkpoints ("12") parse as complete
  * snapshots; complete offsets keep rendering the legacy form, so turning
  * rate limiting on or off never invalidates a checkpoint. */
private[v2] case class GraftSnapshotOffset(seq: Long, part: Long = -1L)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = if (part < 0) seq.toString else s"$seq:$part"
}
private[v2] object GraftSnapshotOffset {
  def parse(json: String): GraftSnapshotOffset = json.split(":") match {
    case Array(s) => GraftSnapshotOffset(s.toLong)
    case Array(s, p) => GraftSnapshotOffset(s.toLong, p.toLong)
    case _ => throw new IllegalArgumentException(s"bad graft-store offset: $json")
  }
}

/** Composite read limit carrying both trigger knobs (Spark's built-in
  * ReadLimit factories are single-dimension). */
private[v2] case class GraftReadLimit(maxFiles: Option[Int], maxRows: Option[Long])
    extends org.apache.spark.sql.connector.read.streaming.ReadLimit

/** graft-store as a STREAMING SOURCE: each micro-batch reads the data
  * files ADDED between two snapshots — incremental snapshot tailing, the
  * Delta-style "table as a stream" surface, built directly on the
  * manifest log:
  *
  *   - offsets are snapshot seqs; every manifest is a full file listing,
  *     so batch (s, e] = files(e) ∖ files(s) — computed from two manifest
  *     reads, no file-system diffing or notification service;
  *   - exactly-once: offsets are committed to the sink's checkpoint, and
  *     a replanned batch (s, e] always yields the same file set (manifests
  *     are immutable) — deterministic replay at the file level;
  *   - appends stream naturally. An OVERWRITE emits its (entirely new)
  *     files and the replaced rows are NOT retracted — append-mode
  *     semantics, the same contract as Delta's streaming reads without
  *     `readChangeData`. Schema is pinned at stream start (the append
  *     guard keeps it stable; streaming across a schema-changing
  *     overwrite is unsupported);
  *   - expireSnapshots past an active stream's committed offset makes the
  *     start manifest unreadable — the stream then conservatively
  *     re-emits the full end snapshot (at-least-once under vacuum, the
  *     standard retention/streaming interaction; keep retention longer
  *     than stream lag). */
private[v2] class GraftStoreMicroBatchStream(path: String, full: StructType,
    required: StructType, conf: SerializableHadoopConf,
    maxFilesPerTrigger: Option[Int] = None, maxRowsPerTrigger: Option[Long] = None,
    defaults: Map[Int, String] = Map.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit,
    ReadMaxFiles, ReadMaxRows}

  maxFilesPerTrigger.foreach(n => require(n >= 1,
    s"graft-store: maxFilesPerTrigger must be >= 1, got $n"))
  maxRowsPerTrigger.foreach(n => require(n >= 1,
    s"graft-store: maxRowsPerTrigger must be >= 1, got $n"))

  private def manifests = GraftStoreFormat.listManifests(path, conf.value)

  // manifests are IMMUTABLE once published — cache reads (bounded FIFO:
  // a tailing stream only revisits a recent window)
  private val mCache = scala.collection.mutable.LinkedHashMap.empty[Long, GraftManifest]
  private def manifestAt(ms: Seq[Path], seq: Long): Option[GraftManifest] =
    mCache.get(seq).orElse {
      val m = ms.find(p => GraftStoreFormat.manifestSeq(p) == seq)
        .map(p => GraftStoreFormat.readManifestFile(path, conf.value, p))
      m.foreach { mm =>
        mCache(seq) = mm
        if (mCache.size > 32) mCache -= mCache.head._1
      }
      m
    }

  /** Added files of snapshot `k` vs the nearest NON-STAGED snapshot before
    * it in the retained listing, name-sorted — the stable sub-snapshot
    * order partial offsets index into. An expired diff base degrades to
    * "everything is new" (the documented at-least-once-under-vacuum
    * contract); a staged (`#wap=`) base is skipped so a published stage's
    * files emit exactly at publish, never early. */
  private def addedOf(ms: Seq[Path], k: Long): Seq[GraftFileEntry] =
    manifestAt(ms, k) match {
      case None => Seq.empty
      case Some(mk) =>
        val baseSeq = ms.map(p => GraftStoreFormat.manifestSeq(p))
          .filter(_ < k).sorted.reverse
          .find(s => manifestAt(ms, s).exists(_.wap.isEmpty))
        val before: Set[String] = baseSeq.flatMap(manifestAt(ms, _))
          .map(_.files.map(_.name).toSet).getOrElse(Set.empty)
        mk.files.filterNot(f => before.contains(f.name)).sortBy(_.name)
    }

  private def slice(m: GraftManifest, f: GraftFileEntry): InputPartition = {
    // the stream's schema is pinned at start: files written AFTER an
    // additive evolution are WIDER than the pinned schema and cannot be
    // decoded under it — fail loudly (restart the stream to pick up the
    // evolved schema); narrower (pre-evolution) files null-extend fine
    val w = f.ncols.getOrElse(m.schema.length)
    require(w <= full.length,
      s"graft-store: file ${f.name} was written under an evolved schema " +
        s"($w cols > pinned ${full.length}); restart the stream to adopt it")
    GraftStoreFormat.requireOrdinalLayout(m, f, "file", full)
    // append-mode semantics: the snapshot-tail stream emits added files
    // as-is and never retracts — position deletes (merge-on-read DML)
    // are NOT applied here, same contract as overwrites
    GraftFilePartition(GraftFileSlice(new Path(path, f.name).toString, w))
  }

  override def initialOffset(): Offset = GraftSnapshotOffset(-1L)
  /** Latest NON-STAGED snapshot: a pending write-audit-publish commit is
    * not table history and must not advance the stream (its files emit
    * once, at publish). Costs one small manifest read per poll only while
    * a stage is actually pending. */
  override def latestOffset(): Offset = {
    val ms = manifests
    var i = ms.length - 1
    while (i >= 0 &&
        GraftStoreFormat.readManifestFile(path, conf.value, ms(i)).wap.isDefined)
      i -= 1
    GraftSnapshotOffset(
      if (i >= 0) GraftStoreFormat.manifestSeq(ms(i)) else -1L)
  }

  /** ADMISSION CONTROL (`maxFilesPerTrigger` / `maxRowsPerTrigger` read
    * options — the Delta/file-source backfill knob): a freshly started
    * stream over a large table, or one resuming after downtime, must not
    * plan the whole backlog as ONE micro-batch (a single giant batch
    * holds checkpoint progress hostage to its slowest task and spikes
    * executor memory; bounded batches give steady progress, retryable
    * units, and a throttle the sink can absorb). The end offset advances
    * snapshot by snapshot until the budget is spent; INSIDE a snapshot it
    * advances file by file (`part` sub-offsets), so even a million-file
    * backfill commit streams in bounded slices. Row budget is
    * manifest-served (exact per-file rows, no file-system I/O); a single
    * file larger than the budget still ships whole — progress is
    * guaranteed, the limit is a target not a straitjacket. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[GraftSnapshotOffset]
    val (mf, mr) = limit match {
      case g: GraftReadLimit => (g.maxFiles, g.maxRows)
      case rm: ReadMaxFiles => (Some(rm.maxFiles()), None)
      case rr: ReadMaxRows => (None, Some(rr.maxRows()))
      case _ => (None, None)
    }
    if (mf.isEmpty && mr.isEmpty) return latestOffset()
    val ms = manifests
    var filesLeft = mf.map(_.toLong).getOrElse(Long.MaxValue)
    var rowsLeft = mr.getOrElse(Long.MaxValue)
    var result: GraftSnapshotOffset = so
    var done = false
    // consume: from `startIdx` into snapshot k's added files, as far as
    // the budget reaches (the budget check ADMITS the first file and
    // subtracts after — oversized single files make progress)
    def take(k: Long, startIdx: Int): Unit = {
      val added = addedOf(ms, k)
      var idx = startIdx
      while (idx < added.length && filesLeft > 0 && rowsLeft > 0) {
        filesLeft -= 1; rowsLeft -= added(idx).rows; idx += 1
      }
      if (idx >= added.length) result = GraftSnapshotOffset(k)
      else {
        if (idx > startIdx || startIdx > 0) result = GraftSnapshotOffset(k, idx.toLong)
        done = true
      }
      if (filesLeft <= 0 || rowsLeft <= 0) done = true
    }
    if (so.part >= 0) take(so.seq, so.part.toInt)
    val newer = ms.map(p => GraftStoreFormat.manifestSeq(p)).filter(_ > so.seq).sorted
    for (k <- newer if !done)
      if (manifestAt(ms, k).exists(_.wap.isEmpty)) take(k, 0)
    result
  }
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger.isEmpty && maxRowsPerTrigger.isEmpty)
      ReadLimit.allAvailable()
    else GraftReadLimit(maxFilesPerTrigger, maxRowsPerTrigger)

  override def deserializeOffset(json: String): Offset =
    GraftSnapshotOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[GraftSnapshotOffset]
    val eo = end.asInstanceOf[GraftSnapshotOffset]
    val ms = manifests
    if (so.part < 0 && eo.part < 0) {
      // legacy whole-snapshot batch: ONE diff, end vs start listing —
      // byte-identical behavior to pre-admission-control checkpoints
      val s = so.seq
      val e = eo.seq
      if (e <= s) return Array.empty
      val before: Set[String] =
        if (s < 0) Set.empty
        else manifestAt(ms, s).map(_.files.map(_.name).toSet).getOrElse(Set.empty)
      val endM = manifestAt(ms, e)
      val added = endM.map(_.files.filterNot(f => before.contains(f.name)))
        .getOrElse(Seq.empty).sortBy(_.name)
      added.map(f => slice(endM.get, f)).toArray
    } else {
      // rate-limited batch: walk non-staged snapshots in (start, end],
      // slicing the boundary snapshots by their sub-offsets. Replay is
      // deterministic: manifests are immutable and the added order is
      // name-sorted.
      if (eo.seq < so.seq || (eo.seq == so.seq && eo.part >= 0 &&
          so.part >= 0 && eo.part <= so.part)) return Array.empty
      val seqs = ms.map(p => GraftStoreFormat.manifestSeq(p))
        .filter(k => k >= so.seq && k <= eo.seq).sorted
      seqs.flatMap { k =>
        val include =
          if (k == so.seq) so.part >= 0 // resume inside a partial snapshot
          else manifestAt(ms, k).exists(_.wap.isEmpty)
        if (!include) Seq.empty
        else {
          val added = addedOf(ms, k)
          val from = if (k == so.seq && so.part >= 0) so.part.toInt else 0
          val until =
            if (k == eo.seq && eo.part >= 0) eo.part.toInt else added.length
          val m = manifestAt(ms, k).get
          added.slice(from, until).map(f => slice(m, f))
        }
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStoreReaderFactory(full, required, conf, defaults)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

// ------------------------------------------------------------------- CDC

/** Row-level change-data-capture read surface (`readChangeFeed=true` —
  * Delta's `readChangeData` analogue), batch AND streaming, built on two
  * complementary mechanisms:
  *
  *   - COW DML commits (delete/update/merge) carry WRITER-EMITTED change
  *     stores (`_cdc/<id>`, stamped `#cdc=` in the manifest): the rewrite
  *     had both row images in hand, so update_preimage/update_postimage
  *     pairs exist physically — which is what a streaming source needs,
  *     since it emits partitions and cannot join;
  *   - pure-append commits need no change files at all: their ADDED data
  *     files ARE the inserts, synthesized reader-side with a constant
  *     `change_type` (Delta does exactly this — CDC files only for DML).
  *
  * A commit that REMOVES files without a change log (overwrite, truncate,
  * restore, compaction) cannot be reconstructed row-level: the feed FAILS
  * LOUDLY there unless `skipChangeCommits=true` (Delta's flag) — silent
  * wrong answers are never on the menu. Output schema = table schema +
  * `change_type` string + `_commit_snapshot` long (the commit's snapshot
  * seq, for ordering/windowing downstream).
  *
  * Scale shape: planning is manifest-only (driver metadata); each batch
  * reads exactly the churn — change files sized by rewritten rows, insert
  * files by appended rows — never the table. */
private[v2] object GraftCdc {
  val TypeCol = "change_type"
  val SnapCol = "_commit_snapshot"

  def cdcSchema(table: StructType): StructType =
    StructType(table.fields :+ StructField(TypeCol, StringType, nullable = false) :+
      StructField(SnapCol, LongType, nullable = false))

  /** Plan the feed for commits with seq in (fromSeq, toSeq]. Walks the
    * retained manifests oldest-first carrying the previous listing. A
    * commit whose PREDECESSOR is unknown (expired past retention) is only
    * emittable when self-contained: a cdc-bearing commit's change store
    * fully describes it; the table's first-ever snapshot (seq 0) diffs
    * against empty. Anything else fails loudly — a partial feed that
    * silently dropped expired history would be a wrong answer. `pinned`
    * is the table schema at stream/scan start: files written under a
    * WIDER (evolved) schema fail loudly, narrower ones null-extend. */
  def planPartitions(path: String, conf: Configuration, pinned: StructType,
      fromSeq: Long, toSeq: Long, skipChangeCommits: Boolean,
      resolveEqDeletes: Boolean = false): Array[InputPartition] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    val ms = GraftStoreFormat.listManifests(path, conf)
      .filter(p => GraftStoreFormat.manifestSeq(p) <= toSeq)
    // seed the previous listing from the manifest AT fromSeq when retained:
    // a steady-state micro-batch then reads O(commits in range) manifests,
    // not O(total history) per batch (the fallback full walk below only
    // runs for from-the-beginning reads or expired starts)
    val startIdx = ms.indexWhere(p => GraftStoreFormat.manifestSeq(p) == fromSeq)
    var prevKnown = startIdx >= 0
    var prevFiles: Set[String] = Set.empty
    var prevDels: Set[String] = Set.empty
    var prevEq: Set[String] = Set.empty
    // the previous manifest in FULL — what resolveEqDeletes probes (it
    // needs the pre-commit file entries and masks, not just names)
    var prevM: Option[GraftManifest] = None
    if (prevKnown) {
      val pm = GraftStoreFormat.readManifestFile(path, conf, ms(startIdx))
      prevFiles = pm.files.map(_.name).toSet
      prevDels = pm.deletes.map(_.name).toSet
      prevEq = pm.eqDeletes.map(_.name).toSet
      prevM = Some(pm)
    }
    for (p <- if (prevKnown) ms.drop(startIdx + 1) else ms) {
      val seq = GraftStoreFormat.manifestSeq(p)
      val m = GraftStoreFormat.readManifestFile(path, conf, p)
      // a STAGED (write-audit-publish) commit is not table history: its
      // rows enter the feed once, at PUBLISH (whose diff vs the prior
      // non-staged state lists them as adds) — skip it entirely, without
      // updating the prev-state trackers
      if (m.wap.isDefined) ()
      else if (seq > fromSeq) {
        // expired-history guard, BOTH branches: a cdc-bearing commit is
        // self-contained only when the caller explicitly starts AT it
        // (fromSeq == seq-1 — e.g. a stream resuming from its checkpoint
        // offset); anything else with an unknown predecessor would
        // silently drop the expired prefix of the feed
        def requireReconstructable(selfContained: Boolean): Unit =
          if (!prevKnown && seq != 0L && !(selfContained && fromSeq == seq - 1))
            throw new IllegalStateException(
              s"graft-store: feed start predates retained history (snapshot " +
                s"$seq's predecessor expired); start the feed at a retained " +
                "snapshot (startSnapshot) or increase retention")
        // METADATA-DROPPED files (`#dropcdc=`): the commit deleted every
        // live row of these files without reading them — but the files are
        // immutable, still on disk (the PREDECESSOR manifest lists them, so
        // expiry retains them while it is retained), and "all live rows
        // deleted" is exactly reconstructable: one partition per dropped
        // file, the predecessor's masks applied, every surviving row a
        // delete pre-image. The exact dual of the pure-append insert
        // synthesis. Cost = the dropped-file bytes, paid by the feed READER
        // — the commit itself stays zero-read.
        def emitDrops(mc: GraftManifest): Unit = if (mc.dropCdc.nonEmpty) {
          val pm = prevM.getOrElse(throw new IllegalStateException(
            s"graft-store: snapshot $seq's predecessor expired; metadata-" +
              "dropped files cannot be resolved without the pre-commit state"))
          mc.dropCdc.sorted.foreach { n =>
            val e = pm.files.find(_.name == n).getOrElse(
              throw new IllegalStateException(
                s"graft-store: snapshot $seq drop-lists $n, which its " +
                  "predecessor does not list"))
            GraftStoreFormat.requireOrdinalLayout(pm, e, "dropped file", pinned)
            val w = e.ncols.getOrElse(pm.schema.length)
            require(w <= pinned.length,
              s"graft-store: dropped file $n was written under an evolved " +
                s"schema ($w cols > pinned ${pinned.length}); restart the feed")
            val priorEq = pm.eqDeletes.filter(_.covers(e)).map(q =>
              (new Path(path, q.name).toString,
                q.keyCols.map(pinned.fieldNames.indexOf(_))))
            require(priorEq.forall(_._2.forall(_ >= 0)),
              s"graft-store: snapshot $seq's prior equality-delete key columns " +
                "are not all in the pinned schema; restart the feed")
            out += GraftCdcDropPartition(
              new Path(path, n).toString, w,
              GraftStoreFormat.coveringDeletes(path, pm, n), priorEq, seq)
          }
        }
        m.cdc match {
          case Some(id) =>
            requireReconstructable(selfContained = true)
            val cdcPath = s"$path/_cdc/$id"
            val cm = GraftStoreFormat.readLatestManifest(cdcPath, conf)
              .getOrElse(throw new IllegalStateException(
                s"graft-store: snapshot $seq references missing change store $id " +
                  "(expired past an active feed? increase retention)"))
            // the change store was written at its era's types: a widening
            // between that era and this feed's pin would mis-decode — same
            // loud-failure contract as the data files (positional compare,
            // name-gated so the trailing change-type column is skipped)
            cm.schema.fields.zipWithIndex.foreach { case (f, p) =>
              if (p < pinned.length && f.name == pinned.fields(p).name)
                require(f.dataType == pinned.fields(p).dataType,
                  s"graft-store: snapshot $seq's change store was written " +
                    "across a column-type widening from this feed's pinned " +
                    "schema; restart the feed")
            }
            cm.files.sortBy(_.name).foreach { e =>
              val w = e.ncols.getOrElse(cm.schema.length)
              require(w - 1 <= pinned.length,
                s"graft-store: change file ${e.name} was written under an evolved " +
                  s"schema (${w - 1} cols > pinned ${pinned.length}); restart the feed")
              out += GraftCdcPartition(
                new Path(cdcPath, e.name).toString, w, null, seq)
            }
            // a MIXED DELETE commit: change store for the rewritten
            // (partial) files, `#dropcdc=` for the proven-full ones
            emitDrops(m)
          case None =>
            requireReconstructable(selfContained = false)
            val added = m.files.filterNot(e => prevFiles.contains(e.name)).sortBy(_.name)
            // `#dropcdc=`-listed removals are reconstructable (emitDrops);
            // only UNEXPLAINED removals (overwrite/truncate/restore/
            // compaction) kill the feed
            val removed = prevFiles.diff(m.files.map(_.name).toSet)
              .diff(m.dropCdc.toSet)
            if (removed.nonEmpty && !skipChangeCommits)
              throw new IllegalStateException(
                s"graft-store: snapshot $seq removed files without a change log " +
                  "(overwrite/truncate/restore/compaction); row-level changes " +
                  "cannot be reconstructed — set skipChangeCommits=true to ignore " +
                  "such commits, or use changesBetween for a net snapshot diff")
            // EQUALITY-delete commits (upsert/delete-by-key) are key-
            // addressed: which rows died is unknowable without probing
            // every scoped file — a table-sized read the feed must not
            // SILENTLY pay. Loud by default; `resolveEqDeletes=true` opts
            // into the probe: one partition per covered PRE-COMMIT file,
            // each applying the file's PRIOR masks and key-probing the
            // commit's new stores, emitting matching (still-live) rows as
            // delete pre-images. Cost = the covered-file bytes, accepted
            // explicitly. Makes the zero-read upsert path fully
            // CDC-streamable (delete pre-images + added-file inserts).
            val newEq = m.eqDeletes.map(_.name).toSet.diff(prevEq)
            if (newEq.nonEmpty && !skipChangeCommits && !resolveEqDeletes)
              throw new IllegalStateException(
                s"graft-store: snapshot $seq committed equality deletes; " +
                  "row-level changes are key-addressed and cannot be " +
                  "reconstructed without scanning the covered files — set " +
                  "resolveEqDeletes=true to accept that read, " +
                  "skipChangeCommits=true to ignore such commits, or use " +
                  "changesBetween for a net snapshot diff")
            if (removed.isEmpty && newEq.nonEmpty && resolveEqDeletes) {
              val pm = prevM.getOrElse(throw new IllegalStateException(
                s"graft-store: snapshot $seq's predecessor expired; equality " +
                  "deletes cannot be resolved without the pre-commit state"))
              val newEqEntries = m.eqDeletes.filter(q => newEq.contains(q.name))
              val keyStores = newEqEntries.map(q =>
                (new Path(path, q.name).toString,
                  q.keyCols.map(pinned.fieldNames.indexOf(_))))
              require(keyStores.forall(_._2.forall(_ >= 0)),
                s"graft-store: snapshot $seq's equality-delete key columns are " +
                  s"not all in the pinned schema; restart the feed")
              val covered = pm.files.filter(e => newEqEntries.exists(_.covers(e)))
              covered.foreach { e =>
                GraftStoreFormat.requireOrdinalLayout(pm, e, "equality-delete target", pinned)
                val w = e.ncols.getOrElse(pm.schema.length)
                require(w <= pinned.length,
                  s"graft-store: equality-delete target ${e.name} was written " +
                    s"under an evolved schema ($w cols > pinned " +
                    s"${pinned.length}); restart the feed")
                out += GraftCdcEqRefPartition(
                  new Path(path, e.name).toString, w, keyStores,
                  GraftStoreFormat.coveringDeletes(path, pm, e.name),
                  pm.eqDeletes.filter(_.covers(e)).map(q =>
                    (new Path(path, q.name).toString,
                      q.keyCols.map(pinned.fieldNames.indexOf(_)))),
                  seq)
              }
            }
            if (removed.isEmpty && (newEq.isEmpty || resolveEqDeletes)) {
              emitDrops(m)
              added.foreach { e =>
                val w = e.ncols.getOrElse(m.schema.length)
                require(w <= pinned.length,
                  s"graft-store: file ${e.name} was written under an evolved schema " +
                    s"($w cols > pinned ${pinned.length}); restart the feed")
                GraftStoreFormat.requireOrdinalLayout(m, e, "file", pinned)
                out += GraftCdcPartition(
                  new Path(path, e.name).toString, w, "insert", seq)
              }
              // MERGE-ON-READ DELETE commits need no change store at all:
              // the commit's delete files record (target, position), and
              // the deleted rows' VALUES are still physically present in
              // the (immutable, still-listed) target files — the feed
              // resolves the refs at read time, one partition per covered
              // target. Each partition walks its target up to the last
              // newly masked position, so the cost is the covered files'
              // bytes up to that row: churn-sized for small files, up to
              // one pass over a compacted table-sized file.
              val newDels = m.deletes.filterNot(d => prevDels.contains(d.name))
                .sortBy(_.name)
              if (newDels.nonEmpty) {
                val covered = m.files.filter(e => newDels.exists(_.covers(e.name)))
                covered.foreach(e =>
                  GraftStoreFormat.requireOrdinalLayout(m, e, "delete target", pinned))
                val widths = covered
                  .map(e => e.name -> e.ncols.getOrElse(m.schema.length)).toMap
                require(widths.values.forall(_ <= pinned.length),
                  s"graft-store: snapshot $seq's delete targets were written " +
                    s"under an evolved schema (> pinned ${pinned.length} cols); " +
                    "restart the feed")
                def abs(name: String) = new Path(path, name).toString
                covered.foreach { e =>
                  // the target's masks from before this commit: positions
                  // they record, and rows their equality stores match,
                  // were already dead and never re-emit
                  val priorEq = m.eqDeletes
                    .filter(q => prevEq.contains(q.name) && q.covers(e))
                    .map(q => (abs(q.name), q.keyCols.map(pinned.fieldNames.indexOf(_))))
                  require(priorEq.forall(_._2.forall(_ >= 0)),
                    s"graft-store: snapshot $seq's prior equality-delete key " +
                      "columns are not all in the pinned schema; restart the feed")
                  out += GraftCdcRefPartition(abs(e.name), widths(e.name),
                    newDels.filter(_.covers(e.name)).map(d => abs(d.name)),
                    m.deletes.filter(d => prevDels.contains(d.name) && d.covers(e.name))
                      .map(d => abs(d.name)),
                    priorEq, seq)
                }
              }
            }
        }
      }
      if (m.wap.isEmpty) {
        prevFiles = m.files.map(_.name).toSet
        prevDels = m.deletes.map(_.name).toSet
        prevEq = m.eqDeletes.map(_.name).toSet
        prevM = Some(m)
        prevKnown = true
      }
    }
    out.toArray
  }
}

/** One CDC read unit. `tag == null`: a change-store file whose LAST column
  * is `change_type` (physical width `ncols` = data prefix + 1); otherwise a
  * plain data file of width `ncols` whose every row is synthesized as
  * `change_type = tag`. `seq` populates `_commit_snapshot`. */
private[v2] case class GraftCdcPartition(file: String, ncols: Int, tag: String,
    seq: Long) extends InputPartition

/** A POSITION-REF read unit: the rows of ONE data file (`target`, physical
  * width `width`) that `newDeletes` newly mask. Its positions are the
  * distinct ones the new position-delete stores record for the target,
  * minus those `priorDeletes` already record; a row that a `priorEq`
  * equality store matches was already dead and is skipped too. The rows
  * are read in one merge-walk that stops after the last such position.
  * The change feed emits them as `change_type = "delete"` (one unit per
  * target a merge-on-read DELETE commit covers), and
  * [[GraftStoreOps.signedChanges]] reads a file whose masks only grew
  * through the same unit. Valid while the snapshots are retained: MOR
  * keeps target files LISTED (only masked), so expiry can't reclaim them
  * before the manifest that references the delete stores. */
private[v2] case class GraftCdcRefPartition(target: String, width: Int,
    newDeletes: Seq[String], priorDeletes: Seq[String],
    priorEq: Seq[(String, Seq[Int])], seq: Long) extends InputPartition

/** An EQUALITY-REF CDC read unit (opt-in `resolveEqDeletes=true`): one
  * covered PRE-COMMIT target file, key-probed against the commit's NEW
  * equality-delete stores. The target's PRIOR masks — position deletes
  * and OLDER equality stores from the pre-commit snapshot — are applied
  * first, so a row that was already dead never re-emits; surviving rows
  * whose key tuple appears in a new store emit as `change_type = "delete"`
  * pre-images. Valid while the commit is retained (targets stay LISTED
  * under merge-on-read, only masked). */
private[v2] case class GraftCdcEqRefPartition(target: String, width: Int,
    keyStores: Seq[(String, Seq[Int])], priorDeletes: Seq[String],
    priorEq: Seq[(String, Seq[Int])], seq: Long) extends InputPartition

/** A METADATA-DROP CDC read unit (`#dropcdc=` commits): one file a DELETE
  * commit removed from the listing on a full-coverage proof, without
  * reading it. The file is immutable and still on disk (the PREDECESSOR
  * manifest lists it, which pins it through expiry); the predecessor's
  * masks are applied and EVERY surviving row emits as a `delete`
  * pre-image — the exact dual of the pure-append insert synthesis. The
  * feed reader pays the file's bytes; the commit itself stayed zero-read. */
private[v2] case class GraftCdcDropPartition(target: String, width: Int,
    priorDeletes: Seq[String], priorEq: Seq[(String, Seq[Int])], seq: Long)
  extends InputPartition

private[v2] class GraftCdcReaderFactory(table: StructType, required: StructType,
    conf: SerializableHadoopConf,
    defaults: Map[Int, String] = Map.empty) extends PartitionReaderFactory {
  /** Decoded column defaults at the pinned-table types — CDC readers
    * substitute them exactly where the data reader does (a column
    * physically absent from the file), so a feed and a batch read agree
    * on a defaulted add. Decoded lazily executor-side. */
  private def decodedDefaults(): Array[Any] = {
    val a = new Array[Any](table.length)
    defaults.foreach { case (i, s) =>
      if (i < table.length)
        a(i) = GraftStoreFormat.defaultFromString(table.fields(i).dataType, s)
    }
    a
  }
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: GraftCdcRefPartition => refReader(p)
      case p: GraftCdcEqRefPartition => eqRefReader(p)
      case p: GraftCdcDropPartition => eqRefReader(
        GraftCdcEqRefPartition(p.target, p.width, Seq.empty,
          p.priorDeletes, p.priorEq, p.seq), emitAll = true)
      case p: GraftCdcPartition => fileReader(p)
    }

  /** The distinct positions, ascending, that the position-delete stores
    * `stores` record for the data file NAMED `name`. */
  private def maskedPositions(stores: Seq[String], name: UTF8String): Array[Long] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    stores.foreach { d =>
      val dfs = new Path(d).getFileSystem(conf.value)
      val din = new DataInputStream(
        new BufferedInputStream(dfs.open(new Path(d)), 1 << 16))
      try {
        var r = GraftStoreFormat.readRow(din, GraftStoreFormat.DeleteSchema)
        while (r != null) {
          if (r(0).asInstanceOf[UTF8String] == name) buf += r(1).asInstanceOf[Long]
          r = GraftStoreFormat.readRow(din, GraftStoreFormat.DeleteSchema)
        }
      } finally din.close()
    }
    buf.distinct.sorted.toArray
  }

  /** The key tuples of one equality-delete store, at the table types of
    * columns `keyIdxs`. */
  private def loadKeys(store: String, keyIdxs: Seq[Int]): java.util.HashSet[Seq[Any]] = {
    val keySchema = StructType(keyIdxs.map(table.fields).toArray)
    val set = new java.util.HashSet[Seq[Any]]()
    val fs = new Path(store).getFileSystem(conf.value)
    val din = new DataInputStream(
      new BufferedInputStream(fs.open(new Path(store)), 1 << 16))
    try {
      var r = GraftStoreFormat.readRow(din, keySchema)
      while (r != null) { set.add(r.toSeq); r = GraftStoreFormat.readRow(din, keySchema) }
    } finally din.close()
    set
  }

  /** Resolve a target's NEWLY masked positions (see
    * [[GraftCdcRefPartition]]) into full rows: a merge-walk against the
    * sorted positions, same discipline as the data reader's skip, that
    * stops reading the target after the last one. A target with no new
    * position is never opened. */
  private def refReader(p: GraftCdcRefPartition): PartitionReader[InternalRow] = {
    val GraftCdcRefPartition(target, width, newDeletes, priorDeletes, priorEq, seq) = p
    val masked: Array[Long] = {
      val name = UTF8String.fromString(target.substring(target.lastIndexOf('/') + 1))
      val prior = maskedPositions(priorDeletes, name)
      maskedPositions(newDeletes, name)
        .filter(q => java.util.Arrays.binarySearch(prior, q) < 0)
    }
    val fileSchema =
      if (width >= table.length) table else StructType(table.fields.take(width))
    // prune-skipping decode set: only columns the projection names, plus
    // the prior equality stores' key columns, are decoded from the target
    // (the rest seek past — same discipline as the data reader)
    val wanted: Array[Boolean] = {
      val w = new Array[Boolean](fileSchema.length)
      required.fieldNames.foreach {
        case GraftCdc.TypeCol | GraftCdc.SnapCol | GraftFileColumn.Name => ()
        case name =>
          val i = table.fieldIndex(name)
          if (i < fileSchema.length) w(i) = true
      }
      priorEq.foreach(_._2.foreach(i => if (i < fileSchema.length) w(i) = true))
      w
    }
    val defaultVals = decodedDefaults()
    new GraftCountedReader {
      private var in: DataInputStream = _
      private lazy val eqMasks = priorEq.map { case (s, ks) => (ks.toArray, loadKeys(s, ks)) }
      private val curFile = UTF8String.fromString(target)
      private var maskIdx = 0
      private var pos = -1L
      private var cur: Array[Any] = _
      private def keyOf(idxs: Array[Int]): Seq[Any] =
        idxs.map(i => if (i < fileSchema.length) cur(i) else defaultVals(i)).toSeq
      override def next(): Boolean = {
        while (maskIdx < masked.length) {
          if (in == null) {
            val abs = new Path(target)
            in = new DataInputStream(new BufferedInputStream(
              abs.getFileSystem(conf.value).open(abs), 1 << 16))
            tally.slices += 1
          }
          cur = GraftStoreFormat.readRowPruned(in, fileSchema, wanted, tally)
          if (cur == null) return false
          pos += 1
          if (masked(maskIdx) == pos) {
            maskIdx += 1
            if (!eqMasks.exists { case (ks, set) => set.contains(keyOf(ks)) }) return true
          }
        }
        false // every newly masked row emitted: the rest is never read
      }
      private val tag = UTF8String.fromString("delete")
      override def get(): InternalRow =
        InternalRow.fromSeq(required.fieldNames.toSeq.map {
          case GraftCdc.TypeCol => tag
          case GraftCdc.SnapCol => seq
          case GraftFileColumn.Name => curFile
          case name =>
            val i = table.fieldIndex(name)
            if (i < fileSchema.length) cur(i) else defaultVals(i)
        })
      override def close(): Unit = if (in != null) { in.close(); in = null }
    }
  }

  /** Opt-in equality-delete resolution: scan ONE covered pre-commit file,
    * apply its prior masks, key-probe the commit's new stores, emit
    * surviving matches as delete pre-images (see
    * [[GraftCdcEqRefPartition]]). */
  private def eqRefReader(p: GraftCdcEqRefPartition,
      emitAll: Boolean = false): PartitionReader[InternalRow] = {
    val GraftCdcEqRefPartition(target, width, keyStores, priorDeletes, priorEq, seq) = p
    val defaultVals = decodedDefaults()
    val fileSchema =
      if (width >= table.length) table else StructType(table.fields.take(width))
    // decode set: projected columns plus every key column any store probes
    val wanted: Array[Boolean] = {
      val w = new Array[Boolean](fileSchema.length)
      required.fieldNames.foreach {
        case GraftCdc.TypeCol | GraftCdc.SnapCol | GraftFileColumn.Name => ()
        case name =>
          val i = table.fieldIndex(name)
          if (i < fileSchema.length) w(i) = true
      }
      (keyStores ++ priorEq).foreach(_._2.foreach(i =>
        if (i < fileSchema.length) w(i) = true))
      w
    }
    new GraftCountedReader {
      private val abs = new Path(target)
      private val fs = abs.getFileSystem(conf.value)
      private val in = new DataInputStream(
        new BufferedInputStream(fs.open(abs), 1 << 16))
      tally.slices = 1
      private val curFile = UTF8String.fromString(target)
      private val newMasks = keyStores.map { case (s, ks) => (ks.toArray, loadKeys(s, ks)) }
      private val oldMasks = priorEq.map { case (s, ks) => (ks.toArray, loadKeys(s, ks)) }
      private val deleted: Array[Long] = maskedPositions(priorDeletes,
        UTF8String.fromString(target.substring(target.lastIndexOf('/') + 1)))
      private var delIdx = 0
      private var pos = -1L
      private var cur: Array[Any] = _
      private def keyOf(idxs: Array[Int]): Seq[Any] =
        idxs.map(i =>
          if (i < fileSchema.length) cur(i)
          else if (i < defaultVals.length) defaultVals(i) else null).toSeq
      override def next(): Boolean = {
        while (true) {
          cur = GraftStoreFormat.readRowPruned(in, fileSchema, wanted, tally)
          if (cur == null) return false
          pos += 1
          // prior position mask, then prior equality masks: rows already
          // dead before this commit never re-emit
          if (delIdx < deleted.length && deleted(delIdx) == pos) delIdx += 1
          // emitAll = metadata-drop synthesis: EVERY row surviving the
          // prior masks is a delete pre-image (no key probe to pass)
          else if (!oldMasks.exists { case (ks, set) => set.contains(keyOf(ks)) } &&
            (emitAll || newMasks.exists { case (ks, set) => set.contains(keyOf(ks)) }))
            return true
        }
        false // unreachable
      }
      private val tag = UTF8String.fromString("delete")
      override def get(): InternalRow =
        InternalRow.fromSeq(required.fieldNames.toSeq.map {
          case GraftCdc.TypeCol => tag
          case GraftCdc.SnapCol => seq
          case GraftFileColumn.Name => curFile
          case name =>
            val i = table.fieldIndex(name)
            if (i < fileSchema.length) cur(i) else defaultVals(i)
        })
      override def close(): Unit = in.close()
    }
  }

  private def fileReader(partition: GraftCdcPartition): PartitionReader[InternalRow] = {
    val GraftCdcPartition(file, ncols, tag, seq) = partition
    // physical decode schema: the table-prefix the file holds, plus the
    // trailing change_type column for change-store files
    val dataWidth = if (tag == null) ncols - 1 else ncols
    val fileSchema = StructType(
      table.fields.take(dataWidth) ++
        (if (tag == null) Array(StructField(GraftCdc.TypeCol, StringType)) else Array.empty[StructField]))
    // output index map: table column i -> decoded i (null-extended), the
    // two CDC columns -> synthesized/last-decoded
    val getters: Array[Array[Any] => Any] = required.fieldNames.map {
      case GraftCdc.TypeCol =>
        if (tag == null) (cur: Array[Any]) => cur(dataWidth)
        else { val t = UTF8String.fromString(tag); (_: Array[Any]) => t }
      case GraftCdc.SnapCol => (_: Array[Any]) => seq
      case GraftFileColumn.Name =>
        val f = UTF8String.fromString(file); (_: Array[Any]) => f
      case name =>
        val i = table.fieldIndex(name)
        if (i < dataWidth) (cur: Array[Any]) => cur(i)
        else { val d = decodedDefaults()(i); (_: Array[Any]) => d }
    }
    // decode only what a getter reads: projected data columns, plus the
    // trailing change_type field of change-store files
    val wanted: Array[Boolean] = {
      val w = new Array[Boolean](fileSchema.length)
      required.fieldNames.foreach {
        case GraftCdc.TypeCol => if (tag == null) w(dataWidth) = true
        case GraftCdc.SnapCol | GraftFileColumn.Name => ()
        case name =>
          val i = table.fieldIndex(name)
          if (i < dataWidth) w(i) = true
      }
      w
    }
    new GraftCountedReader {
      private val fs = new Path(file).getFileSystem(conf.value)
      private val in = new DataInputStream(
        new BufferedInputStream(fs.open(new Path(file)), 1 << 16))
      tally.slices = 1
      private var cur: Array[Any] = _
      override def next(): Boolean = {
        cur = GraftStoreFormat.readRowPruned(in, fileSchema, wanted, tally)
        cur != null
      }
      override def get(): InternalRow =
        InternalRow.fromSeq(getters.toSeq.map(g => g(cur)))
      override def close(): Unit = in.close()
    }
  }
}

/** Scan for `readChangeFeed=true`: batch reads a snapshot-index range
  * (`startSnapshot` inclusive, default 0; `endSnapshot` inclusive, default
  * head), streaming tails the commit log per-commit. */
private[v2] class GraftStoreCdcScanBuilder(path: String, conf: Configuration,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private val pinnedM = GraftStoreFormat.selectManifest(path, conf, options)
    .getOrElse(throw new IllegalArgumentException(
      s"graft-store: no manifest at $path"))
  private val table: StructType = pinnedM.schema
  private var required: StructType = GraftCdc.cdcSchema(table)
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new GraftStoreCdcScan(path, table, required,
    new SerializableHadoopConf(conf), options,
    GraftStoreFormat.logicalDefaults(pinnedM))
}

private[v2] class GraftStoreCdcScan(path: String, table: StructType,
    required: StructType, conf: SerializableHadoopConf,
    options: CaseInsensitiveStringMap,
    defaults: Map[Int, String] = Map.empty) extends Scan with Batch {
  private def skipChangeCommits: Boolean =
    Option(options.get("skipChangeCommits")).exists(_.toBoolean)
  private def resolveEqDeletes: Boolean =
    Option(options.get("resolveEqDeletes")).exists(_.toBoolean)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"graft-store-cdc $path"
  override def supportedCustomMetrics(): Array[CustomMetric] = GraftScanMetrics.supported

  override def planInputPartitions(): Array[InputPartition] = {
    val ms = GraftStoreFormat.listManifests(path, conf.value)
    require(ms.nonEmpty, s"graft-store: no manifest at $path")
    val seqs = ms.map(GraftStoreFormat.manifestSeq)
    def at(opt: String, default: Long, inclusiveFrom: Boolean): Long =
      Option(options.get(opt)) match {
        case Some(i) =>
          require(i.toInt >= 0 && i.toInt < seqs.size,
            s"graft-store: $opt $i outside [0, ${seqs.size})")
          if (inclusiveFrom) seqs(i.toInt) - 1 else seqs(i.toInt)
        case None => default
      }
    GraftCdc.planPartitions(path, conf.value, table,
      at("startSnapshot", -1L, inclusiveFrom = true),
      at("endSnapshot", seqs.last, inclusiveFrom = false), skipChangeCommits,
      resolveEqDeletes)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdcReaderFactory(table, required, conf, defaults)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftStoreCdcMicroBatchStream(path, table, required, conf, skipChangeCommits,
      resolveEqDeletes, defaults)
}

/** The CDC STREAM: offsets are snapshot seqs (exactly like the plain
  * snapshot-tail stream — durable, restart-safe, deterministic replay);
  * each micro-batch replays the per-commit row-level changes in (s, e].
  * Restarting from a checkpoint replays nothing: manifests and change
  * stores are immutable, so batch (s, e] always plans the same files. */
private[v2] class GraftStoreCdcMicroBatchStream(path: String, table: StructType,
    required: StructType, conf: SerializableHadoopConf, skipChangeCommits: Boolean,
    resolveEqDeletes: Boolean = false, defaults: Map[Int, String] = Map.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GraftSnapshotOffset(-1L)
  override def latestOffset(): Offset = GraftSnapshotOffset(
    GraftStoreFormat.listManifests(path, conf.value).lastOption
      .map(GraftStoreFormat.manifestSeq).getOrElse(-1L))
  override def deserializeOffset(json: String): Offset =
    GraftSnapshotOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftSnapshotOffset].seq
    val e = end.asInstanceOf[GraftSnapshotOffset].seq
    if (e <= s) Array.empty
    else GraftCdc.planPartitions(path, conf.value, table, s, e, skipChangeCommits,
      resolveEqDeletes)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdcReaderFactory(table, required, conf, defaults)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Table-maintenance surface for graft-store snapshots — the ops half of
  * time travel (cf. Iceberg's `history` metadata table + `expire_snapshots`).
  *
  * Retention model: every manifest is a self-contained snapshot (full file
  * listing), so history costs only the superseded manifests (bytes) plus
  * whatever data files newer snapshots no longer reference. At 100 TB the
  * discipline is: time-box retention (e.g. keep 7 days), run
  * [[expireSnapshots]] on that schedule, and size the physical overhead by
  * churn rate — append-mostly tables retain near-zero extra data bytes
  * because old snapshots' files are subsets of new ones. */
object GraftStoreOps {

  /** Snapshot history, oldest first: (snapshot index, publication millis,
    * file count, total rows). Driver-side metadata only — the listing is
    * O(#snapshots), never touches data files. */
  def history(spark: SparkSession, path: String): Seq[(Int, Long, Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    GraftStoreFormat.listManifests(path, conf).zipWithIndex.map { case (p, i) =>
      val m = GraftStoreFormat.readManifestFile(path, conf, p)
      (i, m.millis, m.files.size, m.files.map(_.rows).sum)
    }
  }

  /** Compact the CURRENT snapshot into ~`targetBytes`-sized files,
    * published as a NEW snapshot — compaction is just another commit, so it
    * is crash-safe (manifest CREATE), non-blocking for readers (they hold
    * older manifests whose files are retained), and fully time-travelable
    * (the pre-compaction layout stays readable until [[expireSnapshots]]).
    * Returns the new file count. */
  def compactSnapshot(spark: SparkSession, path: String, targetBytes: Long): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = GraftStoreFormat.fs(path, conf)
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    // a partitioned table keeps its layout through compaction (files merge
    // WITHIN a key value, one per value — targetBytes does not apply, and
    // the per-file size scan is skipped) — otherwise the overwrite would
    // silently drop the one-value-per-file invariant and with it SPJ
    // capability
    // compaction is an overwrite, and an overwrite (re)declares table
    // properties — so the CHECK constraint and DML mode must be re-passed
    // explicitly or routine maintenance would silently drop them. (On a
    // merge-on-read table the scan below APPLIES the position deletes, so
    // compaction doubles as the full read-debt repayment — the fresh
    // snapshot carries no delete entries.)
    def withCheck(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) = {
      val w1 = m.check.fold(w)(c => w.option("check", c))
      m.dml.fold(w1)(d => w1.option("dmlMode", d))
    }
    (m.partitionCol, m.clusterCols) match {
      case (Some(c), _) =>
        withCheck(spark.read.format("graft-store").load(path)
          .write.format("graft-store").option("partitionBy", c))
          .mode("overwrite").save(path)
      case (None, Some(cl)) =>
        // a declared sort clustering is re-applied THROUGH compaction:
        // merged files come out range-disjoint on the cluster keys again
        // (streamed/unsorted appends since the layout write get folded
        // back into it — this is the OPTIMIZE step that repairs pruning)
        val bytes = m.files.map { e =>
          try f.getFileStatus(new Path(path, e.name)).getLen catch { case _: Throwable => 0L }
        }.sum
        val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        withCheck(spark.read.format("graft-store").load(path)
          .write.format("graft-store")
          .option("clusterBy", cl).option("clusterFiles", n.toString))
          .mode("overwrite").save(path)
      case (None, None) =>
        val bytes = m.files.map { e =>
          try f.getFileStatus(new Path(path, e.name)).getLen catch { case _: Throwable => 0L }
        }.sum
        val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        withCheck(spark.read.format("graft-store").load(path)
          .repartition(n)
          .write.format("graft-store")).mode("overwrite").save(path)
    }
    GraftStoreFormat.readLatestManifest(path, conf).map(_.files.size).getOrElse(0)
  }

  /** BINPACK small-file compaction (Iceberg `rewriteDataFiles` economics):
    * rewrite ONLY the files under `smallBytes`, coalescing them into
    * ~`targetBytes` outputs, and carry every right-sized file untouched —
    * zero read, zero write for the bulk of the table. This is the routine
    * maintenance shape at 100 TB: streaming/epoch appends and churn-sized
    * DML leave trails of small files, and full-table compaction
    * ([[compactSnapshot]]) pays the whole table to fix a sliver. Runs on
    * the COW kernel, so merge-on-read masks covering the rewritten files
    * are APPLIED (their read debt repaid for that slice), the table's
    * declared layout is preserved, and the swap is one OCC commit with the
    * kernel's concurrency contract. Returns (files rewritten, carried). */
  def compactSmallFiles(spark: SparkSession, path: String,
      smallBytes: Long, targetBytes: Long): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = GraftStoreFormat.fs(path, conf)
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    val sized = m.files.map { e =>
      val len = try f.getFileStatus(new Path(path, e.name)).getLen
                catch { case _: Throwable => 0L }
      (e, len)
    }
    val small = sized.filter(_._2 < smallBytes)
    // one small file has nothing to merge with — unless a mask covers it
    // (then the rewrite also repays its read debt, still worth one file)
    val worthIt = small.size >= 2 || small.exists { case (e, _) =>
      GraftStoreFormat.coveringDeletes(path, m, e.name).nonEmpty ||
        m.eqDeletes.exists(_.covers(e))
    }
    if (!worthIt) return (0, m.files.size)
    val n = math.max(1, math.ceil(
      small.map(_._2).sum.toDouble / targetBytes).toInt)
    cowRewrite(spark, path, org.apache.spark.sql.functions.lit(true),
      df => df.coalesce(n),
      forceWhenEmpty = true,
      affectedOverride = Some(small.map(_._1)))
  }

  /** SCOPED compaction (Iceberg `rewrite_data_files(where => ...)`): merge
    * into ~targetBytes files ONLY where the predicate points — layout-value
    * pruning and min/max stats select the file set exactly like a scan
    * would, so `where = "day = '2026-08-14'"` on a day-partitioned table
    * touches ONE partition and the rest of the 100 TB carries with zero
    * I/O. May-match selection is conservative (a boundary file compacts
    * along — harmless); rows are preserved exactly, masks repaid for the
    * slice, the declared layout re-applied by the COW kernel. Returns
    * (files rewritten, files carried). */
  def compactWhere(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column, targetBytes: Long): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = GraftStoreFormat.fs(path, conf)
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    val df = spark.read.format("graft-store").load(path)
    val resolved = df.filter(cond).queryExecution.analyzed.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter => flt.condition
    }
    // the predicate's ONLY job here is to scope the file set — if no
    // conjunct translates to a skippable filter, "scoped" would silently
    // mean "everything". Refuse loudly instead of rewriting 100 TB: the
    // full-table form is compactSnapshot, by name.
    val v1 = resolved.flatMap(toV1Filter(_))
      .orElse(resolved.flatMap(toV1Filter(_, strict = true)).map(GraftStoreScan.nnf))
    require(v1.isDefined, "graft-store: compactWhere predicate " +
      s"'${resolved.map(_.sql).getOrElse(cond.toString)}' has no file-skippable " +
      "form — it cannot scope the rewrite; use compactSnapshot for full-table " +
      "compaction or a predicate over stats/layout columns")
    val layoutOk = GraftStoreScan.layoutPruner(m,
      v1.toSeq.flatMap(GraftStoreScan.conjuncts))
    val affected = m.files.filter { e =>
      val eL = GraftStoreFormat.logicalStatsView(m, e)
      layoutOk(e) && v1.forall(GraftStoreFormat.mayMatch(m.schema, eL, _))
    }
    // one in-scope file merges with nothing — unless a mask covers it
    // (the rewrite then repays its read debt), same economics as
    // compactSmallFiles
    val worthIt = affected.size >= 2 || affected.exists { e =>
      GraftStoreFormat.coveringDeletes(path, m, e.name).nonEmpty ||
        m.eqDeletes.exists(_.covers(e))
    }
    if (!worthIt) return (0, m.files.size)
    val bytes = affected.map { e =>
      try f.getFileStatus(new Path(path, e.name)).getLen
      catch { case _: Throwable => 0L }
    }.sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    cowRewrite(spark, path, org.apache.spark.sql.functions.lit(true),
      dfr => dfr.coalesce(n),
      affectedOverride = Some(affected))
  }

  /** Incremental CLUSTER maintenance (Iceberg `rewrite_data_files`
    * sort-strategy economics): rewrite ONLY the files whose leading
    * cluster-key ranges OVERLAP — unclustered appends gradually degrade
    * the disjoint-range pruning a clustered layout exists for, and this
    * repays exactly that debt while the already-disjoint bulk carries
    * with zero I/O. Overlap is judged on the LEADING cluster column's
    * [min, max] via a single sweep in min-order; the COW kernel re-applies
    * the declared clustering, so the rewritten slice comes back
    * range-disjoint and a second call is a no-op. Files with no stats on
    * the leading key (>64-char strings) are left alone — rewriting cannot
    * give them stats; compaction is their maintenance path. Tables whose
    * leading key is heavily duplicated may legitimately keep one
    * overlapping boundary (equal keys can span target-sized files).
    * Returns (files rewritten, files carried). */
  def resortOverlapping(spark: SparkSession, path: String): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    val cl = m.clusterCols.getOrElse(throw new IllegalArgumentException(
      s"graft-store: $path declares no clusterBy — nothing to re-sort"))
    val lead = cl.split(",").map(_.trim).filter(_.nonEmpty).head
    val idx = m.schema.fieldNames.indexOf(lead)
    require(idx >= 0, s"graft-store: cluster column '$lead' not in the table schema")
    val dt = m.schema.fields(idx).dataType
    def cmp(a: String, b: String): Int = dt match {
      case LongType | IntegerType | DateType | TimestampType =>
        java.lang.Long.compare(a.toLong, b.toLong)
      // decimal stats are unscaled integers at one shared scale: integer
      // order IS decimal order (BigInteger parse covers both codec widths)
      case _: DecimalType =>
        new java.math.BigInteger(a).compareTo(new java.math.BigInteger(b))
      case DoubleType | FloatType => java.lang.Double.compare(a.toDouble, b.toDouble)
      case StringType =>
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
      case _ => 0
    }
    val statted = m.files.flatMap { e =>
      GraftStoreFormat.logicalStatsView(m, e).stats.get(idx).map {
        case (mn, mx) => (e, mn, mx)
      }
    }.sortWith((x, y) => cmp(x._2, y._2) < 0)
    val overlapping = scala.collection.mutable.LinkedHashSet.empty[GraftFileEntry]
    var curMax: String = null
    var curOwner: GraftFileEntry = null
    statted.foreach { case (e, mn, mx) =>
      if (curMax != null && cmp(mn, curMax) <= 0) {
        overlapping += e; overlapping += curOwner
      }
      if (curMax == null || cmp(mx, curMax) > 0) { curMax = mx; curOwner = e }
    }
    if (overlapping.size < 2) return (0, m.files.size)
    cowRewrite(spark, path, org.apache.spark.sql.functions.lit(true),
      identity, forceWhenEmpty = true,
      affectedOverride = Some(overlapping.toSeq))
  }

  /** Copy-on-write DELETE (`DELETE WHERE cond`, the Delta/Iceberg COW DML
    * shape): files whose min/max stats PROVE they hold no matching row are
    * carried into the new snapshot untouched — zero read, zero write —
    * and only the possibly-affected files are read back (via the `files`
    * scan option) and rewritten without the matching rows. SQL DELETE
    * semantics: a row is removed iff `cond` is TRUE (null-cond rows are
    * kept). Published as a normal snapshot: crash-safe, time-travelable
    * (the pre-delete state remains readable until expireSnapshots), and a
    * partitioned table keeps its layout (the rewrite re-applies
    * `partitionBy`). At 100 TB this is the difference between rewriting a
    * table and rewriting the handful of files a selective predicate
    * touches.
    *
    * Concurrency: the rewrite set is planned against the head read at
    * entry; the OCC publish retries against newer heads by carrying over
    * any files a concurrent APPEND added (they were not scanned, so the
    * predicate does not apply to them — delete-as-of-start semantics).
    * Returns (files rewritten, files carried). */
  def deleteWhere(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column): (Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    // SQL DELETE: a row is removed iff cond is TRUE — null cond keeps it.
    // allowMetaDrop: files the stats/partition values PROVE fully covered
    // drop from the listing metadata-only, zero reads (partition-drop
    // economics); only the genuinely partial files pay the rewrite.
    cowRewrite(spark, path, cond, _.filter(not(coalesce(cond, lit(false)))),
      // change log: exactly the removed rows (of the REWRITTEN files —
      // dropped files' deletes ride `#dropcdc=` reader-side synthesis)
      changes = Some(sub => sub.filter(coalesce(cond, lit(false)))
        .withColumn("change_type", lit("delete"))),
      allowMetaDrop = true)
  }

  /** MERGE-ON-READ DELETE: instead of rewriting the files that hold
    * matching rows (COW), commit POSITION-DELETE files recording
    * `(target file name, row ordinal)` of every matching row — data files
    * untouched, reads merge the masks back out ([[GraftFileSlice]]).
    * The write is churn-sized: stats pruning keeps the scan to may-match
    * files (pushed filters), and the delete store clusters by target file
    * so each delete file's `[minTarget, maxTarget]` covering range stays
    * tight. SQL DELETE semantics: a row is deleted iff `cond` is TRUE.
    *
    * At 100 TB this is the write-amplification trade: COW pays file-sized
    * rewrites per DELETE and keeps reads pristine; MOR pays churn-sized
    * delete files per DELETE and a merge at read time — the right choice
    * for frequent selective deletes, with [[purgeDeletes]]/compaction as
    * the read-debt repayment. Concurrency: the commit OCC-retries; it
    * aborts loudly if any TARGET file left the head listing (its positions
    * would be stale), and rides along with concurrent appends untouched.
    * Returns (rows deleted, delete files added). */
  def deleteWhereMor(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column): (Long, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, substring_index}
    val conf = spark.sparkContext.hadoopConfiguration
    val f = GraftStoreFormat.fs(path, conf)
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    val df = spark.read.format("graft-store").load(path)
    // METADATA-ONLY DROP, same proof as the COW path: a file the strict
    // translation + stats/partition values PROVE fully covered leaves the
    // listing outright — strictly better than position-deleting its every
    // row (a delete store the size of the file, plus the merge debt).
    val resolved = df.filter(cond).queryExecution.analyzed.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter => flt.condition
    }
    val exact = resolved.flatMap(toV1Filter(_, strict = true)).map(GraftStoreScan.nnf)
    val dropped = exact.map(fe =>
      m.files.filter(e => GraftStoreScan.mustMatch(m, e, fe))).getOrElse(Seq.empty)
    val droppedNames = dropped.map(_.name).toSet
    // position-delete id scan: only the may-match files NOT proven fully
    // covered (a dropped file must not also collect position deletes)
    val v1 = resolved.flatMap(toV1Filter(_)).orElse(exact)
    val layoutOk = GraftStoreScan.layoutPruner(m,
      v1.toSeq.flatMap(GraftStoreScan.conjuncts))
    val scanSet = m.files.filter { e =>
      !droppedNames.contains(e.name) && layoutOk(e) && {
        val eL = GraftStoreFormat.logicalStatsView(m, e)
        v1.forall(GraftStoreFormat.mayMatch(m.schema, eL, _))
      }
    }
    // matching rows' ids: (file NAME, physical ordinal) via the metadata
    // columns — the scan is pinned to the partial-file set, and
    // already-deleted rows can't match again (the scan masks them)
    val scratch = s"$path/_rewrite-${UUID.randomUUID().toString.take(12)}"
    val (entries, targets) = if (scanSet.isEmpty) (Seq.empty[GraftDeleteEntry], Set.empty[String]) else {
      val sdf = spark.read.format("graft-store")
        .option("files", scanSet.map(_.name).mkString(",")).load(path)
      val ids = sdf.filter(coalesce(cond, lit(false)))
        .select(
          substring_index(sdf.metadataColumn(GraftFileColumn.Name), "/", -1).as("file"),
          sdf.metadataColumn(GraftPosColumn.Name).as("pos"))
      // cluster by target file and sort: each delete file then covers a
      // narrow name range, so reads of untouched files never open it
      ids.repartition(col("file")).sortWithinPartitions("file", "pos")
        .write.format("graft-store").mode("overwrite").save(scratch)
      val sm = GraftStoreFormat.readLatestManifest(scratch, conf)
        .getOrElse(GraftManifest(GraftStoreFormat.DeleteSchema, Seq.empty))
      val es = sm.files.map { e =>
        // file names are short (< the 64-char stat cap), so min/max stats on
        // the `file` column always exist — they ARE the covering range
        val (mn, mx) = e.stats.getOrElse(0, throw new IllegalStateException(
          s"graft-store: delete store file ${e.name} has no target-name stats"))
        GraftDeleteEntry(e.name, e.rows, mn, mx)
      }
      // exact target set (bounded by the table's file count) for the
      // concurrency guard — read back from the churn-sized store, not by
      // re-running the match
      val ts =
        if (es.isEmpty) Set.empty[String]
        else spark.read.format("graft-store").load(scratch)
          .select("file").distinct().collect().map(_.getString(0)).toSet
      GraftStoreFormat.moveLive(f, path, sm.files.map(e => new Path(scratch, e.name)),
        f.delete(new Path(scratch), true))
      (es, ts)
    }
    if (entries.isEmpty && dropped.isEmpty) { f.delete(new Path(scratch), true); return (0L, 0) }
    // dropped files count their PHYSICAL rows: exact unless prior masks
    // covered some (then an over-count — the honest zero-read trade)
    val deletedRows = entries.map(_.rows).sum + dropped.map(_.rows).sum
    var done = false
    while (!done) {
      val head = GraftStoreFormat.listManifests(path, conf)
      val headM = GraftStoreFormat.readHead(path, conf, head)
        .getOrElse(m)
      val headNames = headM.files.map(_.name).toSet
      // a concurrent rewrite/overwrite that replaced any TARGET file makes
      // these positions meaningless — abort loudly (same contract as COW).
      // Dropped files too: a concurrent compaction would have carried
      // their rows into fresh files this commit would not remove.
      if (!targets.subsetOf(headNames) || !droppedNames.subsetOf(headNames))
        throw new java.util.ConcurrentModificationException(
          "graft-store: a target file was rewritten concurrently with a " +
            "merge-on-read delete; re-run the operation against the new head")
      val remaining = headM.files.filterNot(e => droppedNames.contains(e.name))
      done = GraftStoreFormat.commitManifest(path, conf,
        headM.copy(files = remaining,
          // prune delete entries left covering ONLY dropped files (the new
          // entries target scanSet files, which all remain listed)
          deletes = (headM.deletes ++ entries)
            .filter(d => remaining.exists(e => d.covers(e.name))),
          txn = None, cdc = None, dropCdc = dropped.map(_.name).sorted),
        GraftStoreFormat.nextSeq(head))
    }
    f.delete(new Path(scratch), true)
    (deletedRows, entries.size)
  }

  /** Maintenance: REWRITE the data files position deletes cover (masks
    * applied by the scan) and drop the dead delete entries — Iceberg's
    * `rewrite_position_delete_files` economics: the read-debt repayment
    * costs the COVERED files, not the table (contrast [[compactSnapshot]],
    * which rewrites everything). Layout re-applied, history retained.
    * Returns (files rewritten, files carried). */
  def purgeDeletes(spark: SparkSession, path: String): (Int, Int) = {
    import org.apache.spark.sql.functions.lit
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    if (!m.hasDeletes) return (0, m.files.size)
    // covered = position masks (by name range) ∪ equality masks (by seq
    // scope); the rewrite applies both and its commit drops dead entries
    cowRewrite(spark, path, lit(true), identity,
      affectedOverride = Some(m.files.filter(e =>
        m.deletes.exists(_.covers(e.name)) || m.eqDeletes.exists(_.covers(e)))))
  }

  /** ZERO-READ upsert via EQUALITY deletes (the Flink→Iceberg CDC-ingest
    * mode): ONE commit publishes (a) an equality-delete store holding the
    * source's key tuples and (b) the source rows as new data files, both
    * at the commit's sequence N. Old row versions die by the strict
    * `addedSeq < N` scope rule ([[GraftEqDeleteEntry]]); the new files
    * (addedSeq == N) survive it. The table is NEVER scanned — write cost
    * is O(batch), which is the entire point at 100 TB: a MERGE pays a
    * table-sized read and COW pays file-sized rewrites per batch; the
    * equality upsert pays neither, so a CDC stream can land thousands of
    * batches a day into a petabyte table. Read debt = one hash probe per
    * row per scoping store; [[purgeDeletes]]/compaction repay it.
    * Last-writer-wins at key granularity; duplicate keys within one batch
    * are rejected (ambiguous). The table layout is re-applied to the new
    * files and the CHECK constraint enforced. Returns (rows upserted,
    * key tuples recorded). */
  def upsertMor(spark: SparkSession, path: String,
      source: org.apache.spark.sql.DataFrame, keyCols: Seq[String]): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    require(source.schema.fieldNames.sorted.sameElements(m.schema.fieldNames.sorted),
      s"graft-store: upsert source columns ${source.schema.fieldNames.mkString(",")} " +
        s"must match table columns ${m.schema.fieldNames.mkString(",")}")
    val src = source.select(m.schema.fieldNames.map(col).toSeq: _*)
    require(GraftStoreFormat.sameCols(src.schema, m.schema),
      s"graft-store: upsert source types ${src.schema.simpleString} must match " +
        s"table types ${m.schema.simpleString}")
    // new row versions: written through the table's layout with CHECK
    // enforced — an upsert must not degrade the layout or dodge the gate.
    // The source executes exactly ONCE (this write); the key rows are read
    // BACK from the written scratch files and the row counts come from the
    // scratch manifests, so the former localCheckpoint + two count() jobs
    // (three extra Spark jobs per upsert batch) are gone.
    val dataScratch = s"$path/_rewrite-${UUID.randomUUID().toString.take(12)}"
    val w0 = src.write.format("graft-store").mode("overwrite")
    val w1 = m.check.fold(w0)(c => w0.option("check", c))
    ((m.partitionCol, m.clusterCols) match {
      case (Some(c), _) => w1.option("partitionBy", c)
      case (None, Some(cc)) =>
        w1.option("clusterBy", cc).option("clusterFiles",
          math.max(1, spark.sparkContext.defaultParallelism / 4).toString)
      case _ => w1
    }).save(dataScratch)
    val keysBack = spark.read.format("graft-store").load(dataScratch)
      .select(keyCols.map(col).toSeq: _*).distinct()
    // nk counts DISTINCT keys; n == nk rejects in-batch duplicates exactly
    // as the former count() pair did
    eqDeltaCommit(spark, path, m, keyCols, keysBack, Some(dataScratch),
      requireUniqueKeys = true)
  }

  /** DELETE-BY-KEY without scanning (equality deletes, no new rows): the
    * streaming-deletion dual of [[upsertMor]] — `keys`' columns name the
    * key; every live row whose key tuple appears in `keys` is masked.
    * Null key fields match null (structural equality). Returns the number
    * of key tuples recorded (matching ROWS are unknown by design — that
    * would cost the scan this operation exists to avoid). */
  def deleteByKeyMor(spark: SparkSession, path: String,
      keys: org.apache.spark.sql.DataFrame): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    val keyCols = keys.schema.fieldNames.toSeq
    // the distinct executes once (the key-store write inside the commit);
    // nk comes from the key scratch manifest — no checkpoint/count jobs
    eqDeltaCommit(spark, path, m, keyCols, keys.distinct(), None)._2
  }

  /** Shared equality-delta commit: write the key store (and rename any
    * pre-written data scratch in), then OCC-publish files+masks at one
    * sequence. Returns (data rows added, key tuples recorded), both read
    * from the scratch manifests — no count() jobs. Empty keys degrades to
    * a metadata-only property commit (or a no-op without `setProps`);
    * `requireUniqueKeys` rejects n != nk before anything publishes. Key
    * columns must exist at matching types and be codec-atomic (the
    * equality probe decodes them positionally). */
  private def eqDeltaCommit(spark: SparkSession, path: String, m: GraftManifest,
      keyCols: Seq[String], keyRows: org.apache.spark.sql.DataFrame,
      dataScratch: Option[String],
      setProps: Map[String, String] = Map.empty,
      requireUniqueKeys: Boolean = false): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = GraftStoreFormat.fs(path, conf)
    val keyScratch = s"$path/_rewrite-${UUID.randomUUID().toString.take(12)}k"
    // nothing below publishes until the renames: any validation failure
    // (bad key column, duplicate keys, rows without key coverage, a
    // failed scratch write) must delete BOTH scratch dirs before
    // rethrowing, or every rejected upsert litters _rewrite-* dirs
    // inside the table — a caller may have pre-written `dataScratch`
    def dropScratch(): Unit = {
      try f.delete(new Path(keyScratch), true) catch { case _: Throwable => () }
      dataScratch.foreach(s =>
        try f.delete(new Path(s), true) catch { case _: Throwable => () })
    }
    val (km, dm, n, nk) = try {
      keyCols.foreach { k =>
        require(m.schema.fieldNames.contains(k),
          s"graft-store: equality-delete key column $k is not a table column")
        val dt = m.schema(k).dataType
        require(GraftStoreFormat.codecSupports(dt),
          s"graft-store: equality-delete key $k has unsupported type ${dt.simpleString}")
        require(GraftStoreFormat.sameCols(
            StructType(Seq(keyRows.schema(k))), StructType(Seq(m.schema(k)))),
          s"graft-store: equality-delete key $k type ${keyRows.schema(k).dataType.simpleString} " +
            s"must match table type ${dt.simpleString}")
      }
      GraftLocal.oneSlice(
        keyRows.select(keyCols.map(org.apache.spark.sql.functions.col).toSeq: _*))
        .write.format("graft-store").mode("overwrite").save(keyScratch)
      val km = GraftStoreFormat.readLatestManifest(keyScratch, conf)
        .getOrElse(GraftManifest(new StructType(), Seq.empty))
      val dm = dataScratch.map(s => GraftStoreFormat.readLatestManifest(s, conf)
        .getOrElse(GraftManifest(new StructType(), Seq.empty)))
      // row counts from the scratch MANIFESTS (each file entry carries its
      // row count): the callers' former localCheckpoint + count() pairs were
      // two extra Spark jobs per frame for numbers the write already knows
      val nk = km.files.map(_.rows).sum
      val n = dm.map(_.files.map(_.rows).sum).getOrElse(0L)
      // NOTE: with counts taken post-write, key round-trip fidelity is
      // load-bearing here — the store codec is required to round-trip key
      // values exactly (codec-atomic keys, checked above), so source-
      // distinct keys stay distinct in the scratch read-back
      if (requireUniqueKeys) require(n == nk,
        "graft-store: upsert source has duplicate keys — ambiguous, rejected")
      if (nk == 0L) require(n == 0L,
        "graft-store: replace/upsert rows without key coverage would duplicate")
      (km, dm, n, nk)
    } catch { case t: Throwable => dropScratch(); throw t }
    if (nk == 0L) {
      dropScratch()
      if (setProps.nonEmpty) setTableProps(spark, path, setProps)
      return (0L, 0L)
    }
    // zero-row scratch files (empty write partitions) carry no key tuples
    // and no data: renaming them in would add dead manifest entries that
    // every later scan/probe pays for — leave them behind for the scratch
    // cleanup below
    val liveKeyFiles = km.files.filter(_.rows > 0L)
    val liveDataFiles = dm.map(_.files.filter(_.rows > 0L)).getOrElse(Seq.empty)
    GraftStoreFormat.moveLive(f, path,
      liveKeyFiles.map(e => new Path(keyScratch, e.name)) ++
        dataScratch.toSeq.flatMap(s => liveDataFiles.map(e => new Path(s, e.name))),
      dropScratch())
    var done = false
    while (!done) {
      val head = GraftStoreFormat.listManifests(path, conf)
      val headM = GraftStoreFormat.readHead(path, conf, head)
        .getOrElse(m)
      require(GraftStoreFormat.sameCols(headM.schema, m.schema),
        "graft-store: concurrent schema change during an equality-delete commit")
      val seq = GraftStoreFormat.nextSeq(head)
      val eqEntries = liveKeyFiles.map(e => GraftEqDeleteEntry(e.name, e.rows, seq, keyCols))
      val stamped = GraftStoreFormat.stampLayout(headM.fieldMeta, headM.schema, m.schema,
        GraftStoreFormat.stampNew(headM.partitionSpecs, seq, liveDataFiles))
      done = GraftStoreFormat.commitManifest(path, conf,
        headM.copy(files = headM.files ++ stamped,
          eqDeletes = headM.eqDeletes ++ eqEntries,
          props = headM.props ++ setProps,
          txn = None, cdc = None, dropCdc = Seq.empty),
        seq)
    }
    f.delete(new Path(keyScratch), true)
    dataScratch.foreach(s => f.delete(new Path(s), true))
    (n, nk)
  }

  /** REPLACE-BY-KEY (merge-on-read): one OCC commit that (a) masks every
    * live row whose key tuple appears in `keys` — a SUPERSET of `source`'s
    * keys is allowed, so groups with no surviving row are deleted in the
    * same stroke — (b) appends `source` as the keys' new row versions, and
    * (c) stamps `setProps` into the table properties. The materialized-
    * view refresh kernel: changed-group rows, vanished-group deletes, and
    * the refresh watermark publish as ONE snapshot (a torn refresh cannot
    * exist), at O(batch) cost — no table scan. `source` may be empty
    * (pure keyed delete + property stamp); empty `keys` degrades to a
    * metadata-only property commit. */
  def replaceByKeyMor(spark: SparkSession, path: String,
      source: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      keys: org.apache.spark.sql.DataFrame,
      setProps: Map[String, String] = Map.empty): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    require(source.schema.fieldNames.sorted.sameElements(m.schema.fieldNames.sorted),
      s"graft-store: replace source columns ${source.schema.fieldNames.mkString(",")} " +
        s"must match table columns ${m.schema.fieldNames.mkString(",")}")
    val src = source.select(m.schema.fieldNames.map(col).toSeq: _*)
    require(GraftStoreFormat.sameCols(src.schema, m.schema),
      s"graft-store: replace source types ${src.schema.simpleString} must match " +
        s"table types ${m.schema.simpleString}")
    // source and keys each execute exactly once (their scratch writes);
    // row counts come from the scratch manifests. The former pattern —
    // localCheckpoint + count() on both frames — cost four extra Spark
    // jobs per refresh commit for numbers the writes already produce.
    // (Both call sites pass frames derived from an already-materialized
    // merge frame, so the two executions share no recomputed lineage.)
    // driver-local keys (a churn-sized refresh frame) dedupe on the
    // driver: the key-store write is then their only job
    val keyFrame = keys.select(keyCols.map(col).toSeq: _*)
    val distinctKeys = GraftLocal.distinct(keyFrame).getOrElse(keyFrame.distinct())
    // a DRIVER-provably-empty source (empty LocalRelation after
    // optimization — e.g. a no-op refresh built from collected churn)
    // skips the data-scratch write job entirely: pure keyed delete +
    // property stamp, one job fewer per no-op refresh
    if (GraftLocal.rows(src).exists(_.isEmpty))
      return eqDeltaCommit(spark, path, m, keyCols, distinctKeys, None, setProps)
    val scratch = s"$path/_rewrite-${UUID.randomUUID().toString.take(12)}"
    val w0 = GraftLocal.oneSlice(src).write.format("graft-store").mode("overwrite")
    val w1 = m.check.fold(w0)(c => w0.option("check", c))
    try {
      ((m.partitionCol, m.clusterCols) match {
        case (Some(c), _) => w1.option("partitionBy", c)
        case (None, Some(cc)) =>
          w1.option("clusterBy", cc).option("clusterFiles",
            math.max(1, spark.sparkContext.defaultParallelism / 4).toString)
        case _ => w1
      }).save(scratch)
    } catch { case t: Throwable =>
      try GraftStoreFormat.fs(path, spark.sparkContext.hadoopConfiguration)
        .delete(new Path(scratch), true) catch { case _: Throwable => () }
      throw t
    }
    eqDeltaCommit(spark, path, m, keyCols, distinctKeys, Some(scratch), setProps)
  }

  /** Metadata-only user-property commit (the programmatic `ALTER TABLE
    * SET TBLPROPERTIES`): one OCC commit updating `#props=`, data
    * untouched. */
  def setTableProps(spark: SparkSession, path: String,
      setProps: Map[String, String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    var done = false
    while (!done) {
      val ms = GraftStoreFormat.listManifests(path, conf)
      val head = GraftStoreFormat.readHead(path, conf, ms)
        .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
      done = GraftStoreFormat.commitManifest(path, conf,
        head.copy(props = head.props ++ setProps,
          txn = None, cdc = None, dropCdc = Seq.empty),
        GraftStoreFormat.nextSeq(ms))
    }
  }

  /** The head snapshot's live EQUALITY-DELETE stores as `(name, key
    * tuples, seq, key columns)` — the hash-probe read debt a
    * merge-on-read table carries until purge/compaction. */
  def liveEqDeletes(spark: SparkSession, path: String)
      : Seq[(String, Long, Long, Seq[String])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    GraftStoreFormat.readLatestManifest(path, conf)
      .map(_.eqDeletes.map(d => (d.name, d.rows, d.seq, d.keyCols)))
      .getOrElse(Seq.empty)
  }

  /** Copy-on-write UPDATE (`UPDATE SET col = expr WHERE cond`): same
    * stats-pruned rewrite machinery as [[deleteWhere]] — untouched files
    * carry over with zero I/O; in rewritten files, rows where `cond` is
    * TRUE get the `set` expressions applied, every other row is copied
    * bit-for-bit. The updated values may move a file's min/max, which the
    * rewrite recomputes for free (writer-side stats). Returns
    * (files rewritten, files carried). */
  def updateWhere(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): (Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not, struct, when}
    cowRewrite(spark, path, cond, df =>
      df.select(df.columns.map { c =>
        set.get(c) match {
          // cast to the column's DECLARED type: an uncast wider SET
          // expression (long into int) would coerce the whole projection
          // and publish long-encoded files under an int-declared schema —
          // misaligned row decode, silent garbage (cowRewrite also guards)
          case Some(v) =>
            when(coalesce(cond, lit(false)), v.cast(df.schema(c).dataType))
              .otherwise(col(c)).as(c)
          case None => col(c)
        }
      }.toSeq: _*),
      // change log: pre/post image pairs for rows the condition hit AND the
      // SET actually changed (a no-op assignment is not a change — matching
      // the net-diff semantics of changesBetween). Post values cast to the
      // column's declared type so the change store's schema stays the
      // table's schema exactly.
      changes = Some { sub =>
        val cols = sub.columns.toSeq
        val hit = sub.filter(coalesce(cond, lit(false)))
          .withColumn("_post", struct(cols.map { c =>
            set.get(c).map(_.cast(sub.schema(c).dataType).as(c)).getOrElse(col(c))
          }: _*))
          .filter(not(struct(cols.map(col): _*) <=> col("_post")))
        hit.select(cols.map(col) :+ lit("update_preimage").as("change_type"): _*)
          .unionByName(hit.select(
            cols.map(c => col(s"_post.$c").as(c)) :+
              lit("update_postimage").as("change_type"): _*))
      })
  }

  /** Copy-on-write MERGE (upsert-merge: `MERGE ... WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` — the canonical Delta
    * shape) on the same stats-pruned kernel: the SOURCE's key range (one
    * tiny aggregate) becomes the pruning predicate, so only files that
    * may hold a source key are rewritten; everything else carries over
    * with zero I/O. Inside the rewrite, a full-outer join on the key
    * updates matched rows from the source (including to nulls — a
    * presence flag, not coalesce, decides the side), keeps unmatched
    * target rows bit-identical, and folds source-only rows in as inserts
    * — which is CORRECT against the pruned subset because a carried file
    * provably contains no source key. Source keys must be unique
    * (duplicate-key merges are ambiguous — rejected, the Delta rule);
    * null source keys never match and become inserts. Returns
    * (files rewritten, files carried). */
  def mergeInto(spark: SparkSession, path: String, source: org.apache.spark.sql.DataFrame,
      key: String): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    require(source.schema.fieldNames.sorted.sameElements(m.schema.fieldNames.sorted),
      s"graft-store: merge source columns ${source.schema.fieldNames.mkString(",")} " +
        s"must match table columns ${m.schema.fieldNames.mkString(",")}")
    // a NARROWER source column than the table's widens up-front where the
    // promotion is safe (int→bigint, float→double — the widening ALTER's
    // set): a table whose column was widened keeps accepting the sources
    // that fed it pre-widening. The reverse (long source into int table)
    // still refuses — it would coerce the merge projection and corrupt the
    // positional row codec on read.
    val casted = source.select(m.schema.fields.map { f =>
      val s = col(f.name)
      (source.schema(f.name).dataType, f.dataType) match {
        case (IntegerType, LongType) => s.cast(LongType).as(f.name)
        case (FloatType, DoubleType) => s.cast(DoubleType).as(f.name)
        case (d1: DecimalType, d2: DecimalType)
            if d1.scale == d2.scale && d2.precision > d1.precision =>
          s.cast(d2).as(f.name)
        case _ => s
      }
    }.toSeq: _*)
    // nullability-normalize: the change-log's struct <=> compare needs the
    // source struct to coerce to the (nullable) target struct — a NOT NULL
    // source field (e.g. a literal-built frame) would fail analysis
    val src = spark.createDataFrame(casted.rdd,
      StructType(casted.schema.fields.map(_.copy(nullable = true))))
      .localCheckpoint(true)
    require(GraftStoreFormat.sameCols(src.schema, m.schema),
      s"graft-store: merge source types ${src.schema.simpleString} must match " +
        s"table types ${m.schema.simpleString}")
    val stats = src.agg(min(col(key)), max(col(key)), count(col(key)),
      org.apache.spark.sql.functions.countDistinct(col(key))).collect()(0)
    require(stats.getLong(2) == stats.getLong(3),
      "graft-store: merge source has duplicate keys — ambiguous, rejected")
    val cond =
      if (stats.isNullAt(0)) lit(false) // all-null keys: nothing can match
      else col(key) >= lit(stats.get(0)) && col(key) <= lit(stats.get(1))
    val flagged = src.withColumn("_m", lit(true))
    // forceWhenEmpty: even if NO target file can match a source key, the
    // source-only rows must still be INSERTED — the rewrite then runs
    // against an empty target subset
    cowRewrite(spark, path, cond, t => {
      val joined = t.join(flagged, t(key) === flagged(key), "full_outer")
      joined.select(m.schema.fieldNames.map { c =>
        when(flagged("_m"), flagged(c)).otherwise(t(c)).as(c)
      }.toSeq: _*)
    }, forceWhenEmpty = true,
      // change log: matched-and-changed rows yield pre/post image pairs,
      // source-only rows (including null-key sources, which never match)
      // yield inserts; untouched target rows yield nothing. An identical-
      // valued upsert is a no-op (net-diff semantics, like changesBetween).
      changes = Some { t =>
        import org.apache.spark.sql.functions.{not, struct}
        val cols = m.schema.fieldNames.toSeq
        val joined = t.join(flagged, t(key) === flagged(key), "full_outer")
        val preS = struct(cols.map(c => t(c).as(c)): _*)
        val postS = struct(cols.map(c => flagged(c).as(c)): _*)
        val matched = joined
          .filter(flagged("_m") && t(key).isNotNull && not(preS <=> postS))
        val ins = joined.filter(flagged("_m") && t(key).isNull)
        matched.select(cols.map(c => t(c).as(c)) :+
            lit("update_preimage").as("change_type"): _*)
          .unionByName(matched.select(cols.map(c => flagged(c).as(c)) :+
            lit("update_postimage").as("change_type"): _*))
          .unionByName(ins.select(cols.map(c => flagged(c).as(c)) :+
            lit("insert").as("change_type"): _*))
      })
  }

  /** Shared COW kernel: plan the may-match file set from stats, rewrite
    * ONLY those files through `rewrite`, publish carried ++ new with the
    * OCC retry. See [[deleteWhere]] for the concurrency contract.
    *
    * `changes`: the DML op's row-level change computation over the SAME
    * affected subset (rows = table columns + `change_type`). When present,
    * the kernel writes them as a change-data store under `_cdc/<id>` BEFORE
    * the manifest commit and stamps the committed manifest with `#cdc=<id>`
    * — so by the time a reader can see the snapshot, its change log is
    * already durable (the Delta CDF `_change_data` discipline). Writer-
    * emitted change files are what make a row-level CDC STREAM possible at
    * all: a streaming source emits partitions and cannot join, so
    * update_pre/post pairing must happen at write time, where the rewrite
    * has both images in hand. Cost: one extra pass over the affected subset
    * — proportional to the churn, never the table. */
  private def cowRewrite(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column,
      rewrite: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      forceWhenEmpty: Boolean = false,
      changes: Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = None,
      affectedOverride: Option[Seq[GraftFileEntry]] = None,
      allowMetaDrop: Boolean = false)
      : (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = GraftStoreFormat.fs(path, conf)
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    val df = spark.read.format("graft-store").load(path)
    // resolve cond through the analyzer, then translate to V1 filters for
    // the stats check; an untranslatable predicate yields None -> every
    // file "may match" (conservative: more rewriting, never a missed row)
    val resolved = df.filter(cond).queryExecution.analyzed.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter => flt.condition
    }
    // the STRICT translation (when it exists) is an EXACT TRUE-set
    // representation of cond, normalized so negations reach the leaves —
    // valid for BOTH may-planning (it prunes where the partial translation
    // can't, e.g. NOT predicates) and the must-proofs below
    val exact =
      if (!allowMetaDrop) None
      else resolved.flatMap(toV1Filter(_, strict = true)).map(GraftStoreScan.nnf)
    val v1 = resolved.flatMap(toV1Filter(_)).orElse(exact)
    val afAll = affectedOverride.getOrElse {
      // layout-value pruning participates like it does in the scan: a
      // DELETE on one identity partition must not rewrite siblings whose
      // string stats are capped away (explicit partVals are exact)
      val layoutOk = GraftStoreScan.layoutPruner(m,
        v1.toSeq.flatMap(GraftStoreScan.conjuncts))
      m.files.filter { e =>
        val eL = GraftStoreFormat.logicalStatsView(m, e)
        layoutOk(e) && v1.forall(GraftStoreFormat.mayMatch(m.schema, eL, _))
      }
    }
    // METADATA-ONLY DROP (DELETE only — `allowMetaDrop`): a file whose
    // every row PROVABLY matches the predicate leaves the listing without
    // being read or rewritten (Iceberg's partition-drop economics — at
    // 100 TB, `DELETE WHERE day < X` on a day-partitioned table is a
    // manifest edit, not an I/O job). Requires the EXACT (strict) V1
    // translation: the may-planning translation drops untranslatable
    // conjuncts, and a proof against a weakened predicate proves nothing.
    // The dropped files stay on disk for older snapshots; the commit
    // stamps them `#dropcdc=` so the change feed can resolve their live
    // rows as delete pre-images reader-side.
    val (dropped, affected) = exact match {
      case Some(fe) => afAll.partition(e => GraftStoreScan.mustMatch(m, e, fe))
      case None => (Seq.empty[GraftFileEntry], afAll)
    }
    val droppedNames = dropped.map(_.name).toSet
    val affectedNames = affected.map(_.name).toSet
    if (affected.isEmpty && dropped.isEmpty && !forceWhenEmpty)
      return (0, m.files.size)
    // rewrite ONLY the affected files, into a scratch store under the table
    // path (its manifests are invisible to the table's own listing)
    val scratch = s"$path/_rewrite-${UUID.randomUUID().toString.take(12)}"
    val doRewrite = affected.nonEmpty || forceWhenEmpty
    val (sm, cdcId) = if (!doRewrite) (GraftManifest(m.schema, Seq.empty), None) else {
      val sub = spark.read.format("graft-store")
        .option("files", affected.map(_.name).mkString(","))
        .load(path)
      val kept = rewrite(sub)
      // the rewrite keeps the table's declared layout: identity/bucket
      // routing via partitionBy, or the sort clustering re-applied so the
      // rewritten files stay range-disjoint (clusterFiles pins the rewrite
      // to the original file granularity instead of one AQE-coalesced file)
      val keptWriter = kept.write.format("graft-store").mode("overwrite")
      val withLayout = (m.partitionCol, m.clusterCols) match {
        case (Some(c), _) => keptWriter.option("partitionBy", c)
        case (None, Some(cl)) => keptWriter.option("clusterBy", cl)
          .option("clusterFiles", math.max(1, affected.size).toString)
        case _ => keptWriter
      }
      // the table's CHECK constraint applies to COW rewrites too: an UPDATE
      // that would set a violating value must fail, like Delta's constraints
      m.check.fold(withLayout)(c => withLayout.option("check", c)).save(scratch)
      val sm0 = GraftStoreFormat.readLatestManifest(scratch, conf)
        .getOrElse(GraftManifest(m.schema, Seq.empty))
      // backstop against silent type drift: the rewrite must produce EXACTLY
      // the table's column types — publishing differently-encoded files under
      // the table schema would misalign the positional row decode
      require(sm0.files.isEmpty || GraftStoreFormat.sameCols(sm0.schema, m.schema),
        s"graft-store: COW rewrite changed column types " +
          s"(${sm0.schema.simpleString} vs ${m.schema.simpleString}) — " +
          "cast SET/source expressions to the declared types")
      GraftStoreFormat.moveLive(f, path, sm0.files.map(e => new Path(scratch, e.name)),
        f.delete(new Path(scratch), true))
      // the change log is durable BEFORE the manifest that points at it: a
      // reader that can resolve the new snapshot can always read its changes.
      // A crash here orphans an unreferenced _cdc dir — invisible, reclaimed
      // by expireSnapshots. Dropped files write NO change rows (that would
      // re-read them): their deletes ride `#dropcdc=` reader-side synthesis.
      val id0 = changes.map { chg =>
        val id = UUID.randomUUID().toString.take(12)
        chg(sub).write.format("graft-store").mode("overwrite").save(s"$path/_cdc/$id")
        id
      }
      (sm0, id0)
    }
    var done = false
    while (!done) {
      val head = GraftStoreFormat.listManifests(path, conf)
      val headM = GraftStoreFormat.readHead(path, conf, head)
        .getOrElse(m)
      // a concurrent OVERWRITE (or second rewrite) that removed any of the
      // planned files invalidates this rewrite wholesale: committing would
      // resurrect rows the other writer replaced — abort loudly instead.
      // Dropped files are in the check too: a concurrent COMPACTION that
      // rewrote a to-be-dropped file carried its rows into a fresh file
      // this commit would NOT remove — the deletion would silently miss.
      val headNames = headM.files.map(_.name).toSet
      if (!(affectedNames ++ droppedNames).subsetOf(headNames))
        throw new java.util.ConcurrentModificationException(
          "graft-store: table was overwritten/rewritten concurrently with a " +
            "COW operation; re-run the operation against the new head")
      // a concurrent MERGE-ON-READ DELETE that recorded positions against
      // any affected file is equally fatal: this rewrite applied only the
      // entry-time masks, so committing would resurrect the newly-deleted
      // rows (their positions point at files this commit replaces)
      val entryDels = m.deletes.map(_.name).toSet
      if (headM.deletes.exists(d => !entryDels.contains(d.name) &&
          affected.exists(e => d.covers(e.name))))
        throw new java.util.ConcurrentModificationException(
          "graft-store: a merge-on-read delete landed on a file this COW " +
            "operation rewrites; re-run the operation against the new head")
      // same contract for a concurrent EQUALITY delete scoping any
      // affected file (rewriting applies entry-time masks only)
      val entryEq = m.eqDeletes.map(_.name).toSet
      if (headM.eqDeletes.exists(q => !entryEq.contains(q.name) &&
          affected.exists(q.covers)))
        throw new java.util.ConcurrentModificationException(
          "graft-store: an equality delete landed on a file this COW " +
            "operation rewrites; re-run the operation against the new head")
      // a concurrent ADDITIVE EVOLUTION may have widened the schema: the
      // commit must publish the HEAD's schema (publishing the entry-time
      // schema would decode the evolved full-width files at a stale
      // narrower width — a misaligned row stream), and this rewrite's own
      // files get tagged with the width they were physically written at
      require(GraftStoreFormat.sameCols(
          StructType(headM.schema.fields.take(m.schema.length)), m.schema),
        "graft-store: concurrent incompatible schema change detected")
      val rewritten0 =
        if (headM.schema.length == m.schema.length) sm.files
        else sm.files.map(e => e.copy(ncols = e.ncols.orElse(Some(m.schema.length))))
      val seq = GraftStoreFormat.nextSeq(head)
      // evolved table: rewritten files were routed under the CURRENT spec
      // (and, on field-id tables, written under the entry-time layout)
      val rewritten = GraftStoreFormat.stampLayout(headM.fieldMeta, headM.schema,
        m.schema, GraftStoreFormat.stampNew(headM.partitionSpecs, seq, rewritten0))
      // carry = head's files minus the rewritten originals and the
      // metadata-dropped files (a concurrent append's new files ride along
      // untouched). Concurrent MOR/equality deletes landing on a DROPPED
      // file need no abort (unlike rewrites above): the masked rows are a
      // subset of the rows this drop deletes — the end state is identical,
      // and the feed resolves both against the predecessor's masks.
      val carried = headM.files.filterNot(e =>
        affectedNames.contains(e.name) || droppedNames.contains(e.name))
      // rewritten files have their masks APPLIED (the subset scan merges
      // both delete kinds), so entries covering no remaining live file are
      // dead — drop them; kept entries can never touch the new files
      // (positions key by exact fresh name; eq scopes by fresh addedSeq)
      val liveDels = headM.deletes.filter(d => carried.exists(e => d.covers(e.name)))
      val liveEq = headM.eqDeletes.filter(q => carried.exists(q.covers))
      done = GraftStoreFormat.commitManifest(path, conf,
        GraftManifest(headM.schema, carried ++ rewritten,
          partitionCol = headM.partitionCol.orElse(m.partitionCol),
          clusterCols = headM.clusterCols.orElse(m.clusterCols),
          check = headM.check.orElse(m.check), cdc = cdcId,
          partitionSpecs = headM.partitionSpecs,
          deletes = liveDels, dml = headM.dml.orElse(m.dml),
          eqDeletes = liveEq, fieldMeta = headM.fieldMeta, refs = headM.refs,
          bloomCols = headM.bloomCols, blooms = headM.blooms,
          dropCdc = dropped.map(_.name).sorted, props = headM.props),
        seq)
    }
    f.delete(new Path(scratch), true)
    (affected.size + dropped.size, m.files.size - affected.size - dropped.size)
  }

  /** Catalyst → V1 filter translation for [[deleteWhere]]'s rewrite-set
    * planning — deliberately PARTIAL and conservative: only the shapes the
    * stats skipper understands translate, anything else drops out. In an
    * AND, an untranslatable side may be dropped (widens the may-match set
    * — more files rewritten, never a missed row); in an OR it may not
    * (dropping a disjunct would NARROW the set), so an OR with an unknown
    * side translates to None. This asymmetry is exactly the
    * may-match-planning contract; it would be WRONG for pushdown. */
  private def toV1Filter(e: org.apache.spark.sql.catalyst.expressions.Expression,
      strict: Boolean = false)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.{sources => sf}
    def ext(v: Any): Any = v match {
      case u: UTF8String => u.toString
      case other => other
    }
    // any FOLDABLE side is a constant: evaluating it collapses the casts
    // the analyzer inserts for type coercion (`id < 250` arrives as
    // `id < cast(250 as bigint)` in the analyzed plan)
    object Const {
      def unapply(expr: Expression): Option[Any] =
        if (expr.foldable) Some(ext(expr.eval(null))) else None
    }
    e match {
      case And(l, r) => (toV1Filter(l, strict), toV1Filter(r, strict)) match {
        case (Some(a), Some(b)) => Some(sf.And(a, b))
        // STRICT (exact) mode — the metadata-drop must-proof input: a
        // dropped conjunct weakens the predicate, and a proof against a
        // weakened predicate proves nothing about the real one
        case _ if strict => None
        case (Some(a), None) => Some(a)
        case (None, Some(b)) => Some(b)
        case _ => None
      }
      case Or(l, r) =>
        for { a <- toV1Filter(l, strict); b <- toV1Filter(r, strict) } yield sf.Or(a, b)
      // NOT / null tests / literal TRUE participate only in the STRICT
      // translation: may-planning treats them as always-may anyway, and a
      // PARTIAL inner translation under NOT would flip conservativeness
      // (weaker inner ⇒ stronger negation — the wrong direction)
      case Not(g) if strict => toV1Filter(g, strict).map(sf.Not)
      case IsNull(a: Attribute) if strict => Some(sf.IsNull(a.name))
      case IsNotNull(a: Attribute) if strict => Some(sf.IsNotNull(a.name))
      case Literal(true, BooleanType) if strict => Some(sf.AlwaysTrue())
      case EqualTo(a: Attribute, Const(v)) => Some(sf.EqualTo(a.name, v))
      case EqualTo(Const(v), a: Attribute) => Some(sf.EqualTo(a.name, v))
      case GreaterThan(a: Attribute, Const(v)) => Some(sf.GreaterThan(a.name, v))
      case GreaterThan(Const(v), a: Attribute) => Some(sf.LessThan(a.name, v))
      case GreaterThanOrEqual(a: Attribute, Const(v)) =>
        Some(sf.GreaterThanOrEqual(a.name, v))
      case GreaterThanOrEqual(Const(v), a: Attribute) =>
        Some(sf.LessThanOrEqual(a.name, v))
      case LessThan(a: Attribute, Const(v)) => Some(sf.LessThan(a.name, v))
      case LessThan(Const(v), a: Attribute) => Some(sf.GreaterThan(a.name, v))
      case LessThanOrEqual(a: Attribute, Const(v)) =>
        Some(sf.LessThanOrEqual(a.name, v))
      case LessThanOrEqual(Const(v), a: Attribute) =>
        Some(sf.GreaterThanOrEqual(a.name, v))
      case In(a: Attribute, vs) if vs.forall(_.foldable) =>
        Some(sf.In(a.name, vs.map(v => ext(v.eval(null))).toArray))
      case _ => None
    }
  }

  /** Metadata inspection: (file name, rows, physical column count) of a
    * snapshot's files — `ncols` None = the file matches the snapshot
    * schema in full (see [[GraftFileEntry.ncols]]). Driver-side manifest
    * read only. */
  def snapshotFiles(spark: SparkSession, path: String, snapshot: Int)
      : Seq[(String, Long, Option[Int])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ms = GraftStoreFormat.listManifests(path, conf)
    require(snapshot >= 0 && snapshot < ms.size,
      s"graft-store: snapshot $snapshot outside [0, ${ms.size})")
    GraftStoreFormat.readManifestFile(path, conf, ms(snapshot))
      .files.map(e => (e.name, e.rows, e.ncols))
  }

  /** Metadata inspection: the file names the HEAD commit removed from the
    * listing METADATA-ONLY (the `#dropcdc=` stamp of [[deleteWhere]] /
    * [[deleteWhereMor]]'s full-coverage proof); empty when the head commit
    * was not a proof-dropping DELETE. Driver-side manifest read only. */
  def headDroppedFiles(spark: SparkSession, path: String): Seq[String] =
    GraftStoreFormat.readLatestManifest(
      path, spark.sparkContext.hadoopConfiguration)
      .map(_.dropCdc).getOrElse(Seq.empty)

  /** Metadata inspection: per head file, the COUNT of recorded split-block
    * offsets (v15; 0 = unsplittable small file). Driver-side manifest
    * read only. */
  def headFileBlocks(spark: SparkSession, path: String): Seq[Int] =
    GraftStoreFormat.readLatestManifest(
      path, spark.sparkContext.hadoopConfiguration)
      .map(_.files.map(_.blocks.map(_.size).getOrElse(0))).getOrElse(Seq.empty)

  /** Metadata inspection: each head file's explicit partition values
    * (positional in the file's spec; None element = null partition value;
    * empty seq = no partVals recorded). Driver-side manifest read only —
    * what layout-value file pruning probes (see [[GraftStoreScan]]). */
  def headFilePartVals(spark: SparkSession, path: String): Seq[Seq[Option[String]]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    GraftStoreFormat.readLatestManifest(path, conf)
      .map(_.files.map(_.partVals.getOrElse(Seq.empty)))
      .getOrElse(Seq.empty)
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg spec-versioning): declare a NEW
    * layout for all FUTURE writes as a METADATA-ONLY commit — zero data
    * rewrite. The manifest gains (or extends) a `#specs=` history whose
    * last entry is the new current spec, and every existing file is
    * stamped with the spec id it was WRITTEN under; subsequent appends /
    * COW rewrites route by the new spec and stamp its id.
    *
    * Read semantics on a mixed-spec table: row correctness is untouched
    * (partition values never participate in row decode) and stats-based
    * file skipping is spec-agnostic, so pruning survives; only the scan's
    * KeyGroupedPartitioning degrades to unknown while old-spec files
    * remain selected — SPJ capability returns once compaction (or churn)
    * rewrites everything under the current spec. At 100 TB this is the
    * difference between re-keying a table's layout as one manifest commit
    * and rewriting the table to change `partitionBy`.
    *
    * `newSpec` None = evolve to unpartitioned. Appends must declare the
    * CURRENT spec exactly (same guard as any partitioned table). Returns
    * the new spec id. */
  def evolvePartitionSpec(spark: SparkSession, path: String,
      newSpec: Option[String]): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parsed = newSpec.map(GraftLayout.parse)
    val newRender = parsed.map(_.render).getOrElse("")
    var newId = -1
    var done = false
    var firstRead = true
    while (!done) {
      val head = GraftStoreFormat.listManifests(path, conf)
      val m = GraftStoreFormat.readHead(path, conf, head)
        .getOrElse(throw new IllegalArgumentException(
          s"graft-store: no manifest at $path"))
      // fail FAST on a spec the table cannot satisfy — committing it would
      // brick every future append (the layout guard demands the current
      // spec, but routing would throw resolving its columns)
      parsed.foreach(_.specs.foreach { sp =>
        sp.cols.foreach { c =>
          require(m.schema.fieldNames.contains(c),
            s"graft-store: partition spec column '$c' is not a table column " +
              s"(${m.schema.fieldNames.mkString(",")})")
          sp match {
            case _: BucketSpec =>
              val dt = m.schema(c).dataType
              require(GraftBucket.supports(dt),
                s"graft-store: bucket layout unsupported for ${dt.simpleString} column $c")
            case TemporalSpec(u, _) =>
              val dt = m.schema(c).dataType
              require(GraftTransform.supportsTemporal(u, dt),
                s"graft-store: $u() layout unsupported for ${dt.simpleString} column $c")
            case _: TruncateSpec =>
              val dt = m.schema(c).dataType
              require(GraftTransform.supportsTruncate(dt),
                s"graft-store: truncate layout unsupported for ${dt.simpleString} column $c")
            case _ => ()
          }
        }
      })
      val oldSpecs = m.partitionSpecs.getOrElse(
        Seq(m.partitionCol.map(c => GraftLayout.parse(c).render).getOrElse("")))
      if (oldSpecs.last == newRender) {
        // on the FIRST read this is a caller error (evolving to the spec
        // already in force); on a RETRY it means a concurrent identical
        // evolution won the CAS — the intended end state holds, succeed
        // idempotently with the winner's id
        require(!firstRead,
          s"graft-store: '$newRender' is already the current partition spec")
        return oldSpecs.length - 1
      }
      firstRead = false
      val curId = oldSpecs.length - 1
      newId = oldSpecs.length
      // existing files keep the spec they were written under (first
      // stamping wins through repeated evolutions)
      val files = m.files.map(e => e.copy(specId = e.specId.orElse(Some(curId))))
      done = GraftStoreFormat.commitManifest(path, conf,
        m.copy(files = files,
          partitionCol = if (newRender.isEmpty) None else Some(newRender),
          partitionSpecs = Some(oldSpecs :+ newRender),
          txn = None, cdc = None, dropCdc = Seq.empty),
        GraftStoreFormat.nextSeq(head))
    }
    newId
  }

  /** Spec-aware re-layout (Iceberg `rewrite_data_files` economics): rewrite
    * ONLY the files written under OLD partition specs into the current
    * layout, carrying current-spec files untouched — after an evolution,
    * the cost of restoring full SPJ capability is the OLD data, not the
    * table. Published as one OCC-retried snapshot with the spec history
    * PRESERVED (unlike `compactSnapshot`, whose overwrite resets it) and
    * every file now stamped current. Returns (files rewritten, carried). */
  def rewriteOldSpecFiles(spark: SparkSession, path: String): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = GraftStoreFormat.fs(path, conf)
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    val specs = m.partitionSpecs.getOrElse(return (0, m.files.size))
    val curId = specs.length - 1
    val old = m.files.filterNot(_.specId.contains(curId))
    if (old.isEmpty) return (0, m.files.size)
    val oldNames = old.map(_.name).toSet
    val scratch = s"$path/_rewrite-${UUID.randomUUID().toString.take(12)}"
    val sub = spark.read.format("graft-store")
      .option("files", old.map(_.name).mkString(",")).load(path)
    val writer = sub.write.format("graft-store").mode("overwrite")
    val withLayout = m.partitionCol.fold(writer)(c => writer.option("partitionBy", c))
    m.check.fold(withLayout)(c => withLayout.option("check", c)).save(scratch)
    val sm = GraftStoreFormat.readLatestManifest(scratch, conf)
      .getOrElse(GraftManifest(m.schema, Seq.empty))
    require(sm.files.isEmpty || GraftStoreFormat.sameCols(sm.schema, m.schema),
      "graft-store: re-layout changed column types")
    GraftStoreFormat.moveLive(f, path, sm.files.map(e => new Path(scratch, e.name)),
      f.delete(new Path(scratch), true))
    var done = false
    while (!done) {
      val head = GraftStoreFormat.listManifests(path, conf)
      val headM = GraftStoreFormat.readHead(path, conf, head)
        .getOrElse(m)
      if (!oldNames.subsetOf(headM.files.map(_.name).toSet))
        throw new java.util.ConcurrentModificationException(
          "graft-store: table was rewritten concurrently with a re-layout; re-run")
      require(GraftStoreFormat.sameCols(headM.schema, m.schema),
        "graft-store: concurrent schema change during a re-layout")
      // same merge-on-read race contract as the COW kernel: a delete that
      // landed on a rewritten file after entry would be silently undone
      val entryDels = m.deletes.map(_.name).toSet
      if (headM.deletes.exists(d => !entryDels.contains(d.name) &&
          old.exists(e => d.covers(e.name))))
        throw new java.util.ConcurrentModificationException(
          "graft-store: a merge-on-read delete landed on a file this " +
            "re-layout rewrites; re-run against the new head")
      val entryEq = m.eqDeletes.map(_.name).toSet
      if (headM.eqDeletes.exists(q => !entryEq.contains(q.name) &&
          old.exists(q.covers)))
        throw new java.util.ConcurrentModificationException(
          "graft-store: an equality delete landed on a file this " +
            "re-layout rewrites; re-run against the new head")
      val carried = headM.files.filterNot(e => oldNames.contains(e.name))
      val liveDels = headM.deletes.filter(d => carried.exists(e => d.covers(e.name)))
      val liveEq = headM.eqDeletes.filter(q => carried.exists(q.covers))
      val seq = GraftStoreFormat.nextSeq(head)
      val rewritten = GraftStoreFormat.stampLayout(headM.fieldMeta, headM.schema,
        m.schema, GraftStoreFormat.stampNew(headM.partitionSpecs, seq, sm.files))
      done = GraftStoreFormat.commitManifest(path, conf,
        GraftManifest(headM.schema, carried ++ rewritten,
          partitionCol = headM.partitionCol, clusterCols = headM.clusterCols,
          check = headM.check, partitionSpecs = headM.partitionSpecs,
          deletes = liveDels, dml = headM.dml, eqDeletes = liveEq,
          fieldMeta = headM.fieldMeta, refs = headM.refs,
          bloomCols = headM.bloomCols, blooms = headM.blooms,
          props = headM.props),
        seq)
    }
    f.delete(new Path(scratch), true)
    (old.size, m.files.size - old.size)
  }

  /** Head snapshot's (file name, partition-spec id) pairs plus the spec
    * history — the inspection surface for layout evolution (specId None =
    * unevolved table, single implicit spec). Driver-side manifest read. */
  def fileSpecIds(spark: SparkSession, path: String)
      : (Seq[String], Seq[(String, Option[Int])]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    (m.partitionSpecs.getOrElse(Seq(m.partitionCol.getOrElse(""))),
      m.files.map(e => (e.name, e.specId)))
  }

  /** Head-snapshot files grouped by their manifest PARTITION VALUES
    * (rendered wire string, "" = unpartitioned) — the inspection surface
    * for layout-aware reads: each group can be read back via the `files`
    * scan option tagged with its key. Driver-side manifest read only. */
  def filesByPartition(spark: SparkSession, path: String): Seq[(String, Seq[String])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val m = GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
    m.files.groupBy(_.partVals.map(GraftStoreFormat.partValsToString).getOrElse(""))
      .toSeq.sortBy(_._1)
      .map { case (k, es) => (k, es.map(_.name)) }
  }

  /** Number of retained snapshots — one directory LISTING, no manifest
    * parses (contrast [[history]], which reads every manifest body; use
    * this in refresh loops where only the head index matters). */
  def snapshotCount(spark: SparkSession, path: String): Int =
    GraftStoreFormat.listManifests(path,
      spark.sparkContext.hadoopConfiguration).size

  /** The head snapshot's live POSITION-DELETE files as `(name, masked
    * rows)` — the merge-on-read table's READ DEBT: how many masked rows
    * every scan pays to merge out until [[purgeDeletes]] or compaction
    * repays it. Empty on COW tables. */
  def liveDeletes(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    GraftStoreFormat.readLatestManifest(path, conf)
      .map(_.deletes.map(d => (d.name, d.rows))).getOrElse(Seq.empty)
  }

  /** The head snapshot's declared schema. */
  def tableSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    GraftStoreFormat.readLatestManifest(path, conf)
      .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
      .schema
  }

  /** RESTORE the table head to a retained snapshot (Delta `RESTORE TABLE
    * ... VERSION AS OF` semantics): publishes a NEW snapshot whose file
    * listing is the old snapshot's — a metadata-only commit, zero data
    * I/O, because every manifest is a full listing and the old snapshot's
    * files are still on disk (retention). History is preserved: the
    * rolled-back states stay time-travelable, the restore itself is one
    * more auditable commit (its change feed vs the pre-restore head is
    * exactly the undo), and a concurrent append loses nothing — the OCC
    * loop re-reads the head but intentionally OVERRIDES it with the
    * restored listing (restore wins; that is the command's contract).
    * Returns the new head's snapshot index. */
  /** The table's persisted USER properties (`#props=`) at the head
    * snapshot — the programmatic face of SHOW TBLPROPERTIES. */
  def tableProps(spark: SparkSession, path: String): Map[String, String] =
    GraftStoreFormat.readLatestManifest(
      path, spark.sparkContext.hadoopConfiguration).map(_.props).getOrElse(Map.empty)

  /** TAG a retained snapshot with a name (Iceberg tags): a metadata-only
    * commit adding `name -> seq` to the table's ref table. Tags resolve in
    * SQL via `VERSION AS OF '<name>'` (through [[GraftCatalog]]) or the
    * `ref` read option, and [[expireSnapshots]] RETAINS tagged snapshots
    * regardless of keepLast — a tag is a retention pin, the curation
    * workflow's "this exact training set" anchor. */
  def tagSnapshot(spark: SparkSession, path: String, name: String,
      snapshot: Int): Unit = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"graft-store: ref name '$name' must be non-numeric (numeric VERSION " +
        "AS OF means a snapshot index)")
    val conf = spark.sparkContext.hadoopConfiguration
    val seqOfTarget = {
      val ms = GraftStoreFormat.listManifests(path, conf)
      require(snapshot >= 0 && snapshot < ms.size,
        s"graft-store: snapshot $snapshot outside [0, ${ms.size})")
      GraftStoreFormat.manifestSeq(ms(snapshot))
    }
    var done = false
    while (!done) {
      val ms = GraftStoreFormat.listManifests(path, conf)
      val head = GraftStoreFormat.readHead(path, conf, ms)
        .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
      require(!head.refs.contains(name) || head.refs(name) == GraftRef(seqOfTarget),
        s"graft-store: ref '$name' already points at seq ${head.refs(name).seq}; " +
          "dropRef first to retag")
      done = GraftStoreFormat.commitManifest(path, conf,
        head.copy(refs = head.refs + (name -> GraftRef(seqOfTarget)),
          txn = None, cdc = None, dropCdc = Seq.empty),
        GraftStoreFormat.nextSeq(ms))
    }
  }

  /** Create a BRANCH ref at a retained snapshot (Iceberg branches): a
    * movable pointer whose subsequent writes (`option("branch", name)`)
    * commit as `#wap=`-staged snapshots invisible to the main line — the
    * multi-commit generalization of write-audit-publish. Read the branch
    * with the `ref` option / `VERSION AS OF '<name>'`; land it back with
    * [[fastForward]]. `forkSeq` records the main snapshot forked from. */
  def createBranch(spark: SparkSession, path: String, name: String,
      snapshot: Int): Unit = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"graft-store: branch name '$name' must be non-numeric")
    val conf = spark.sparkContext.hadoopConfiguration
    val seqOfTarget = {
      val ms = GraftStoreFormat.listManifests(path, conf)
      require(snapshot >= 0 && snapshot < ms.size,
        s"graft-store: snapshot $snapshot outside [0, ${ms.size})")
      GraftStoreFormat.manifestSeq(ms(snapshot))
    }
    var done = false
    while (!done) {
      val ms = GraftStoreFormat.listManifests(path, conf)
      val head = GraftStoreFormat.readHead(path, conf, ms)
        .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
      require(!head.refs.contains(name),
        s"graft-store: ref '$name' already exists; dropRef first")
      done = GraftStoreFormat.commitManifest(path, conf,
        head.copy(refs = head.refs +
          (name -> GraftRef(seqOfTarget, branch = true, forkSeq = seqOfTarget)),
          txn = None, cdc = None, dropCdc = Seq.empty),
        GraftStoreFormat.nextSeq(ms))
    }
  }

  /** FAST-FORWARD main to a branch tip (Iceberg's `fast_forward`): allowed
    * only while main still sits at the branch's fork point — the branch's
    * content then strictly EXTENDS main, and the swap is one METADATA-ONLY
    * commit publishing the branch tip's full listing as the new head (the
    * branch ref re-pointing at it as a fresh fork). If main advanced since
    * the fork, this fails loudly — cherry-pick or re-branch instead;
    * silent merges of diverged lines are never on the menu. Returns the
    * number of files the fast-forward added to main. */
  def fastForward(spark: SparkSession, path: String, name: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    var added = 0
    var done = false
    while (!done) {
      val ms = GraftStoreFormat.listManifests(path, conf)
      val mainHead = GraftStoreFormat.readHead(path, conf, ms)
        .getOrElse(throw new IllegalArgumentException(
          s"graft-store: no manifest at $path"))
      val r = mainHead.refs.getOrElse(name, throw new NoSuchElementException(
        s"graft-store: no branch '$name'"))
      require(r.branch, s"graft-store: ref '$name' is a tag, not a branch")
      if (r.seq == r.forkSeq) return 0 // no branch writes — nothing to land
      // divergence is judged on TABLE STATE, not seq position: every
      // branch write advances the main seq with its ref-move commit (a
      // metadata-only main commit), and ref/tag churn must not block a
      // fast-forward. Main has diverged iff anything a branch write could
      // not have seen changed: data files, masks, schema, or declared
      // table properties.
      val fork = ms.find(GraftStoreFormat.manifestSeq(_) == r.forkSeq)
        .map(GraftStoreFormat.readManifestFile(path, conf, _))
        .getOrElse(throw new IllegalStateException(
          s"graft-store: branch '$name''s fork snapshot (seq ${r.forkSeq}) expired"))
      def state(m: GraftManifest) =
        (m.schema, m.files, m.deletes, m.eqDeletes, m.check, m.dml,
          m.partitionCol, m.partitionSpecs, m.clusterCols, m.fieldMeta)
      require(state(mainHead) == state(fork),
        s"graft-store: main changed since branch '$name''s fork " +
          s"(seq ${r.forkSeq}) — the lines diverged; re-branch from the " +
          "new head or publish commits individually")
      val tipPath = ms.find(GraftStoreFormat.manifestSeq(_) == r.seq)
        .getOrElse(throw new IllegalStateException(
          s"graft-store: branch '$name' tip (seq ${r.seq}) expired"))
      val tip = GraftStoreFormat.readManifestFile(path, conf, tipPath)
      added = tip.files.size - mainHead.files.size
      val seq = GraftStoreFormat.nextSeq(ms)
      done = GraftStoreFormat.commitManifest(path, conf,
        tip.copy(refs = mainHead.refs +
          (name -> GraftRef(seq, branch = true, forkSeq = seq)),
          txn = None, cdc = None, dropCdc = Seq.empty, wap = None),
        seq)
    }
    added
  }

  /** Remove a named ref. The snapshot it pinned becomes expirable again. */
  def dropRef(spark: SparkSession, path: String, name: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    var done = false
    while (!done) {
      val ms = GraftStoreFormat.listManifests(path, conf)
      val head = GraftStoreFormat.readHead(path, conf, ms)
        .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
      if (!head.refs.contains(name)) return
      done = GraftStoreFormat.commitManifest(path, conf,
        head.copy(refs = head.refs - name, txn = None, cdc = None, dropCdc = Seq.empty),
        GraftStoreFormat.nextSeq(ms))
    }
  }

  /** PUBLISH a staged write-audit-publish commit (Iceberg's WAP flow,
    * cherry-pick semantics). The stage — `df.write...option("wapId", id)
    * .mode("append")` — committed a REAL snapshot marked `#wap=<id>`,
    * invisible to head resolution, streams, and feeds; its data files
    * live in the table directory but no published snapshot lists them.
    * Audit it via the explicit-snapshot read ([[stagedSnapshot]] returns
    * the index). Publish is METADATA-ONLY: the staged files (diff vs the
    * stage's parent head) join the CURRENT head in one OCC commit, with
    * `addedSeq` restamped to the publish seq (the rows are new AS OF
    * publication — equality-delete scoping follows). Zero data bytes
    * move. Returns the number of files published.
    *
    * Schema changes between stage and publish fail loudly (the staged
    * bytes were written under the stage-time schema); a second publish of
    * the same id fails the already-listed guard. A never-published stage
    * dies with [[expireSnapshots]] like any expired snapshot, its files
    * collected as orphans. */
  def publishWap(spark: SparkSession, path: String, wapId: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ms0 = GraftStoreFormat.listManifests(path, conf)
    val stagedIdx = stagedSnapshot(spark, path, wapId).getOrElse(
      throw new NoSuchElementException(
        s"graft-store: no staged commit with wapId '$wapId'"))
    val staged = GraftStoreFormat.readManifestFile(path, conf, ms0(stagedIdx))
    // the stage merged exactly its parent head's files; the diff is the
    // stage's own additions
    val parent = GraftStoreFormat.readHead(path, conf, ms0.take(stagedIdx))
    val parentNames = parent.map(_.files.map(_.name).toSet).getOrElse(Set.empty)
    val adds = staged.files.filterNot(e => parentNames.contains(e.name))
    var done = false
    while (!done) {
      val ms = GraftStoreFormat.listManifests(path, conf)
      val head = GraftStoreFormat.readHead(path, conf, ms)
        .getOrElse(throw new IllegalArgumentException(s"graft-store: no manifest at $path"))
      require(GraftStoreFormat.sameCols(head.schema, staged.schema),
        "graft-store: table schema changed between stage and publish; " +
          "re-stage against the current schema")
      val headNames = head.files.map(_.name).toSet
      require(!adds.exists(e => headNames.contains(e.name)),
        s"graft-store: wapId '$wapId' is already published")
      val seq = GraftStoreFormat.nextSeq(ms)
      done = GraftStoreFormat.commitManifest(path, conf,
        head.copy(files = head.files ++ adds.map(_.copy(addedSeq = Some(seq))),
          txn = None, cdc = None, dropCdc = Seq.empty),
        seq)
    }
    adds.size
  }

  /** Segment files the HEAD manifest references (empty = inline listing;
    * see the segmented-manifest notes at [[GraftStoreFormat
    * .commitManifest]]) — the public face for verifying chunk reuse. */
  def headSegmentRefs(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ms = GraftStoreFormat.listManifests(path, conf)
    if (ms.isEmpty) Seq.empty
    else GraftStoreFormat.manifestSegmentRefs(path, conf, ms.last)
  }

  /** Snapshot INDEX of the staged commit with the given wapId (for the
    * audit read: `.option("snapshot", idx)`), or None. */
  def stagedSnapshot(spark: SparkSession, path: String, wapId: String): Option[Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ms = GraftStoreFormat.listManifests(path, conf)
    // staged commits are recent by construction — scan from the end
    (ms.indices.reverse).find { i =>
      GraftStoreFormat.readManifestFile(path, conf, ms(i)).wap.contains(wapId)
    }
  }

  def restoreSnapshot(spark: SparkSession, path: String, snapshot: Int): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    var ms = GraftStoreFormat.listManifests(path, conf)
    require(snapshot >= 0 && snapshot < ms.size,
      s"graft-store: snapshot $snapshot outside [0, ${ms.size})")
    val target = GraftStoreFormat.readManifestFile(path, conf, ms(snapshot))
    var done = false
    var committedSeq = -1L
    while (!done) {
      ms = GraftStoreFormat.listManifests(path, conf)
      committedSeq = GraftStoreFormat.nextSeq(ms)
      // refs are TABLE metadata (tags live outside history) — the restored
      // state keeps the CURRENT ref table, and restoring a staged (wap)
      // snapshot publishes it (the marker must not survive into the head)
      val refs = GraftStoreFormat.readHead(path, conf, ms)
        .map(_.refs).getOrElse(target.refs)
      done = GraftStoreFormat.commitManifest(path, conf,
        target.copy(txn = None, cdc = None, dropCdc = Seq.empty, refs = refs, wap = None), committedSeq)
    }
    // index of the seq WE committed — re-listing the head here would race
    // a concurrent commit landing right after ours
    GraftStoreFormat.listManifests(path, conf)
      .indexWhere(p => GraftStoreFormat.manifestSeq(p) == committedSeq)
  }

  /** CHANGE FEED between two retained snapshots (Delta CDF semantics,
    * without a change log): every row of the result is tagged
    * `change_type` ∈ {insert, delete, update_preimage, update_postimage},
    * and the feed is the NET row-level difference `fromSnap → toSnap`
    * (intermediate snapshots don't matter; delete-then-reinsert of an
    * identical row is no change).
    *
    * The scale trick is that manifests are FULL file listings, so the diff
    * starts at the FILE level: files present in both snapshots cannot
    * contribute changes and are never read — only `from∖to` (removed) and
    * `to∖from` (added) files are scanned, which for stats-pruned COW DML
    * is exactly the handful of rewritten files, not the table. Rows
    * identical on both sides (carried through a rewrite) cancel in the
    * full-outer join on `key`; the join itself is sized by the CHANGED
    * file bytes. Requires `key` to be unique per snapshot (the merge
    * rule) and an unchanged schema across the range. */
  def changesBetween(spark: SparkSession, path: String, fromSnap: Int, toSnap: Int,
      key: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, not, struct}
    val conf = spark.sparkContext.hadoopConfiguration
    val ms = GraftStoreFormat.listManifests(path, conf)
    require(fromSnap >= 0 && toSnap < ms.size && fromSnap <= toSnap,
      s"graft-store: snapshot range [$fromSnap, $toSnap] outside [0, ${ms.size})")
    val mFrom = GraftStoreFormat.readManifestFile(path, conf, ms(fromSnap))
    val mTo = GraftStoreFormat.readManifestFile(path, conf, ms(toSnap))
    require(mFrom.schema.toDDL == mTo.schema.toDDL,
      "graft-store: change feed across a schema change is not defined")
    val fromNames = mFrom.files.map(_.name).toSet
    val toNames = mTo.files.map(_.name).toSet
    // merge-on-read: a file present in BOTH snapshots still changed
    // EFFECTIVELY if its covering delete set differs (a MOR DELETE commits
    // masks, not file swaps). Such files are read at both ends — the scan
    // applies each snapshot's masks — and surviving rows cancel in the
    // join. Only changed-coverage files are re-read, but each one whole
    // and twice, so a mask on one compacted table-sized file costs two
    // passes over the table ([[signedChanges]] walks only the newly
    // masked rows instead)
    // the signature includes EQUALITY deletes scoping the file: an upsert
    // makes every older file changed-coverage, so the diff re-reads them
    // all — the honest cost of key-addressed deletion (which rows died is
    // unknowable without the probe)
    def delSig(mf: GraftManifest, e: GraftFileEntry): Seq[String] =
      (mf.deletes.filter(_.covers(e.name)).map(_.name) ++
        mf.eqDeletes.filter(_.covers(e)).map(_.name)).sorted
    val toEntries = mTo.files.map(e => e.name -> e).toMap
    val masked = mFrom.files.filter(e => toNames.contains(e.name))
      .filter(e => delSig(mFrom, e) != delSig(mTo, toEntries(e.name)))
      .map(_.name)
    val removed = mFrom.files.map(_.name).filterNot(toNames) ++ masked
    val added = mTo.files.map(_.name).filterNot(fromNames) ++ masked
    val cols = mFrom.schema.fieldNames.toSeq
    def readSubset(names: Seq[String], snap: Int) =
      if (names.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mFrom.schema)
      else spark.read.format("graft-store").option("snapshot", snap)
        .option("files", names.mkString(",")).load(path)
    val pre = readSubset(removed, fromSnap)
      .select(struct(cols.map(col): _*).as("pre"))
    val post = readSubset(added, toSnap)
      .select(struct(cols.map(col): _*).as("post"))
    // materialize the join once — four classification passes read it below
    // (the persist-before-reuse boundary, not four joins)
    val j = pre.join(post, col(s"pre.$key") === col(s"post.$key"), "full_outer")
      .filter(not(col("pre") <=> col("post"))) // carried-identical rows cancel
      .localCheckpoint(true)
    def tagged(side: String, cond: org.apache.spark.sql.Column, tag: String) =
      j.filter(cond).select(col(s"$side.*")).withColumn("change_type", lit(tag))
    tagged("post", col("pre").isNull, "insert")
      .unionByName(tagged("pre", col("post").isNull, "delete"))
      .unionByName(tagged("pre",
        col("pre").isNotNull && col("post").isNotNull, "update_preimage"))
      .unionByName(tagged("post",
        col("pre").isNotNull && col("post").isNotNull, "update_postimage"))
  }

  /** How [[signedChanges]] reads the churn between two snapshots, decided
    * from the two manifests alone. A file listed at only one end is read
    * whole: `removed` at `from` with sign -1, `added` at `to` with sign +1.
    * A file listed at both ends whose masks only GREW — the same equality
    * stores cover it, and its position-delete stores at `to` include those
    * at `from` — lost exactly its newly masked rows, so it contributes
    * only those, through one [[GraftCdcRefPartition]] walk (`walks`, each
    * with its new stores' summed row count as a bound on its rows). Any
    * other change of a listed file's masks (a store removed by a restore,
    * a changed equality scope, a layout the walk cannot decode
    * positionally) reads the file at both ends, and its carried rows net
    * out downstream. */
  private case class ChurnReads(removed: Seq[String], added: Seq[String],
      walks: Seq[(GraftCdcRefPartition, Long)])

  private def churnReads(path: String, mFrom: GraftManifest,
      mTo: GraftManifest): ChurnReads = {
    val fromNames = mFrom.files.map(_.name).toSet
    val toNames = mTo.files.map(_.name).toSet
    val schema = mTo.schema
    def abs(name: String) = new Path(path, name).toString
    val fromEntries = mFrom.files.map(e => e.name -> e).toMap
    val changed = mTo.files.filter(e => fromNames.contains(e.name)).flatMap { e =>
      val ef = fromEntries(e.name)
      val posFrom = mFrom.deletes.filter(_.covers(e.name))
      val posTo = mTo.deletes.filter(_.covers(e.name))
      val eqFrom = mFrom.eqDeletes.filter(_.covers(ef))
      val eqTo = mTo.eqDeletes.filter(_.covers(e))
      val fromSet = posFrom.map(_.name).toSet
      val toSet = posTo.map(_.name).toSet
      val sameEq = eqFrom.map(_.name).toSet == eqTo.map(_.name).toSet
      if (fromSet == toSet && sameEq) None
      else {
        val width = e.ncols.getOrElse(schema.length)
        val eqKeys = eqTo.map(q => (abs(q.name), q.keyCols.map(schema.fieldNames.indexOf(_))))
        val grown = sameEq && fromSet.subsetOf(toSet) &&
          width <= schema.length && eqKeys.forall(_._2.forall(_ >= 0)) &&
          scala.util.Try(GraftStoreFormat.requireOrdinalLayout(mTo, e, "", schema)).isSuccess
        val fresh = posTo.filterNot(d => fromSet(d.name))
        Some(e.name -> (if (!grown) None else Some((GraftCdcRefPartition(abs(e.name),
          width, fresh.map(d => abs(d.name)), posFrom.map(d => abs(d.name)), eqKeys, 0L),
          fresh.map(_.rows).sum))))
      }
    }
    val reread = changed.collect { case (n, None) => n }
    ChurnReads(
      mFrom.files.map(_.name).filterNot(toNames) ++ reread,
      mTo.files.map(_.name).filterNot(fromNames) ++ reread,
      changed.flatMap(_._2))
  }

  /** The two manifests of a valid, schema-stable range; None otherwise. */
  private def rangeManifests(spark: SparkSession, path: String, fromSnap: Int,
      toSnap: Int): Option[(GraftManifest, GraftManifest)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ms = GraftStoreFormat.listManifests(path, conf)
    if (fromSnap < 0 || toSnap >= ms.size || fromSnap > toSnap) return None
    val mFrom = GraftStoreFormat.readManifestFile(path, conf, ms(fromSnap))
    val mTo = GraftStoreFormat.readManifestFile(path, conf, ms(toSnap))
    if (mFrom.schema.toDDL != mTo.schema.toDDL) None else Some((mFrom, mTo))
  }

  /** SIGNED row deltas between two snapshots: every row leaving the table
    * with `_sign = -1`, every row arriving with `_sign = +1` — the
    * multiset difference [[changesBetween]] classifies, WITHOUT the keyed
    * full-outer join (no key column required, no shuffle): for
    * DISTRIBUTIVE aggregation (count/sum — incremental view maintenance)
    * the algebra cancels carried-identical rows by itself, so classifying
    * them is pure cost. Files whose listing and masks are unchanged are
    * never read. A file whose masks only grew yields just its newly
    * masked rows, from one positional walk that stops after the last of
    * them (see [[churnReads]]), so an append or a merge-on-read
    * DELETE/MERGE costs its added files plus at most one pass over each
    * masked file. Every other change reads the whole file at both ends:
    * departed and arrived files, shrunk masks, changed equality scope.
    * The carried rows of those re-reads come out as ± pairs. */
  def signedChanges(spark: SparkSession, path: String, fromSnap: Int,
      toSnap: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    val ms = GraftStoreFormat.listManifests(path, spark.sparkContext.hadoopConfiguration)
    require(fromSnap >= 0 && toSnap < ms.size && fromSnap <= toSnap,
      s"graft-store: snapshot range [$fromSnap, $toSnap] outside [0, ${ms.size})")
    val range = rangeManifests(spark, path, fromSnap, toSnap)
    require(range.isDefined, "graft-store: change feed across a schema change is not defined")
    val (mFrom, mTo) = range.get
    val r = churnReads(path, mFrom, mTo)
    def readSubset(names: Seq[String], snap: Int) =
      if (names.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mFrom.schema)
      else spark.read.format("graft-store").option("snapshot", snap)
        .option("files", names.mkString(",")).load(path)
    val whole = readSubset(r.removed, fromSnap).withColumn("_sign", lit(-1L))
      .unionByName(readSubset(r.added, toSnap).withColumn("_sign", lit(1L)))
    if (r.walks.isEmpty) whole
    else whole.unionByName(walkedRows(spark, mTo, r.walks.map(_._1))
      .withColumn("_sign", lit(-1L)))
  }

  /** The rows the walk units name, as a frame of the table's schema: one
    * Spark partition per unit, read through the change feed's reader by
    * the DSv2 reader RDD, so the walk's bytes count as scan input and the
    * targets it opens as [[slicesOpened]]. */
  private def walkedRows(spark: SparkSession, m: GraftManifest,
      units: Seq[GraftCdcRefPartition]): org.apache.spark.sql.DataFrame = {
    val factory = new GraftCdcReaderFactory(m.schema, m.schema,
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration),
      GraftStoreFormat.logicalDefaults(m))
    val slices = SQLMetrics.createV2CustomMetric(spark.sparkContext,
      new GraftScanMetrics.SlicesOpenedMetric)
    org.apache.spark.sql.graftshim.internalDataFrame(spark, new GraftWalkRDD(
      spark.sparkContext, units, factory, Map(GraftScanMetrics.SlicesOpened -> slices)),
      m.schema)
  }

  /** Data-file slices that `df`'s graft-store reads opened: the reads'
    * `slicesOpened` SQL metric summed over the executed plan (the final
    * adaptive plan, its stages and subqueries, the walks). Metrics belong
    * to the plan that ran: read this after running `df` itself
    * (`collect()`, a checkpoint), since `df.count()` and `df.write` run a
    * new query. Fails when the plan holds no graft-store read, whose
    * metric would read 0 whether or not it ran. */
  def slicesOpened(df: DataFrame): Long = readMetric(df, GraftScanMetrics.SlicesOpened)

  /** Payload bytes `df`'s graft-store reads seeked past without decoding
    * (pruned columns), read like [[slicesOpened]]. */
  def bytesSkipped(df: DataFrame): Long = readMetric(df, GraftScanMetrics.BytesSkipped)

  private def readMetric(df: DataFrame, name: String): Long = {
    val reads = graftReads(df.queryExecution.executedPlan)
    require(reads.nonEmpty, "graft-store: no graft-store read in the plan to report")
    sumOf(reads, name)
  }

  /** [[slicesOpened]] of a plan that may read no graft-store table (0). */
  private[v2] def slicesOf(df: DataFrame): Long =
    sumOf(graftReads(df.queryExecution.executedPlan), GraftScanMetrics.SlicesOpened)

  // a reused exchange or subquery is its original node: count each metric once
  private def sumOf(reads: Seq[Map[String, SQLMetric]], name: String): Long =
    reads.flatMap(_.get(name)).distinctBy(_.id).map(_.value).sum

  private def graftReads(p: SparkPlan): Seq[Map[String, SQLMetric]] = {
    import org.apache.spark.sql.execution.{CommandResultExec, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    p match {
      case a: AdaptiveSparkPlanExec => graftReads(a.executedPlan)
      case q: QueryStageExec => graftReads(q.plan)
      case c: CommandResultExec => graftReads(c.commandPhysicalPlan)
      case b: BatchScanExec
          if b.scan.isInstanceOf[GraftStoreScan] || b.scan.isInstanceOf[GraftStoreCdcScan] =>
        Seq(b.metrics)
      case r: RDDScanExec => r.rdd match {
        case w: GraftWalkRDD => Seq(w.metrics)
        case _ => Nil
      }
      case other => (other.children ++ other.subqueries).flatMap(graftReads)
    }
  }

  /** True when [[signedChanges]] between two snapshots may return rows
    * present at both ends as -1/+1 pairs: some file is read whole at
    * `from` while others are read at `to` (a rewrite, compaction, restore
    * or changed mask scope). Appends and position deletes that only grew
    * masks never do, so their signed rows are already the net churn.
    * Manifest metadata only; true for an invalid range. */
  def signedChangesMayCarry(spark: SparkSession, path: String, fromSnap: Int,
      toSnap: Int): Boolean =
    rangeManifests(spark, path, fromSnap, toSnap).forall { case (mFrom, mTo) =>
      val r = churnReads(path, mFrom, mTo)
      r.removed.nonEmpty && r.added.nonEmpty
    }

  /** DRIVER-SIDE churn-volume estimate between two snapshots, from
    * manifest metadata alone — no Spark job: the summed row count of the
    * files [[signedChanges]] reads whole, plus, for each file it walks,
    * the row count of the new delete stores covering it. An upper bound
    * on its signed rows (carried-identical rows net out later), which
    * sizes the refresh's frames to the churn. Returns 0 for an invalid
    * range. */
  def signedChangeRowEstimate(spark: SparkSession, path: String,
      fromSnap: Int, toSnap: Int): Long =
    rangeManifests(spark, path, fromSnap, toSnap).fold(0L) { case (mFrom, mTo) =>
      val r = churnReads(path, mFrom, mTo)
      def rows(m: GraftManifest, names: Seq[String]) = {
        val ns = names.toSet
        m.files.filter(e => ns(e.name)).map(_.rows).sum
      }
      rows(mFrom, r.removed) + rows(mTo, r.added) + r.walks.map(_._2).sum
    }

  /** Drop all but the newest `keepLast` snapshots, then delete data files no
    * retained snapshot references. Order matters for crash safety: manifests
    * are deleted FIRST, so a crash mid-way can orphan data files (invisible,
    * re-collected by the next run) but can never leave a live manifest
    * pointing at deleted data. Returns (#manifests, #data files) removed. */
  /** Time-based retention (Iceberg `expire_snapshots(older_than)`): drop
    * snapshots published strictly before `olderThanMillis`, always keeping
    * at least the head (and everything refs pin, like the count-based
    * form). The operational shape at 100 TB: "keep 7 days" as a scheduled
    * job, independent of commit rate. */
  def expireOlderThan(spark: SparkSession, path: String,
      olderThanMillis: Long): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ms = GraftStoreFormat.listManifests(path, conf)
    if (ms.isEmpty) return (0, 0)
    val young = ms.count(p =>
      GraftStoreFormat.manifestMillis(path, conf, p) >= olderThanMillis)
    expireSnapshots(spark, path, math.max(1, young))
  }

  /** ORPHAN-FILE cleanup (Iceberg's `remove_orphan_files` procedure):
    * delete files in the table directory that NO manifest references at
    * all — crash debris. The window is real: a commit moves its data
    * files live BEFORE the manifest publishes, so a driver crash in
    * between leaves live-named files no snapshot will ever list, and
    * abandoned `_tmp/<writeId>` scratch dirs / unstamped `_cdc` stores
    * linger the same way. Unlike [[expireSnapshots]] this drops NO
    * history — every snapshot keeps reading exactly as before; it only
    * reclaims bytes no read could ever touch. The GRACE PERIOD is the
    * correctness boundary (same contract as Iceberg's `older_than`): a
    * file younger than `olderThanMillis` may belong to an IN-FLIGHT
    * commit whose manifest is about to land, so it is never touched —
    * run with hours-to-days of grace. Returns (top-level files removed,
    * scratch dirs removed). */
  def removeOrphans(spark: SparkSession, path: String,
      olderThanMillis: Long): (Int, Int) = {
    require(olderThanMillis >= 0, "olderThanMillis must be >= 0")
    val conf = spark.sparkContext.hadoopConfiguration
    val f = GraftStoreFormat.fs(path, conf)
    val ms = GraftStoreFormat.listManifests(path, conf)
    val all = ms.map(p => GraftStoreFormat.readManifestFile(path, conf, p))
    // referenced by ANY snapshot, staged or published — orphan means
    // unreachable from every manifest that exists
    val referenced = all.flatMap(m =>
      m.files.map(_.name) ++ m.deletes.map(_.name) ++
        m.eqDeletes.map(_.name) ++ m.blooms.map(_.name)).toSet
    val segs = ms.flatMap(p =>
      GraftStoreFormat.manifestSegmentRefs(path, conf, p)).toSet
    val cdcIds = all.flatMap(_.cdc).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    var removed = 0
    f.listStatus(new Path(path)).foreach { st =>
      val n = st.getPath.getName
      val orphan =
        ((n.startsWith("part-") || n.startsWith("bloom-")) && !referenced.contains(n)) ||
          (n.startsWith("_seg-") && !segs.contains(n))
      if (orphan && st.getModificationTime < cutoff)
        try { if (f.delete(st.getPath, false)) removed += 1 }
        catch { case _: Throwable => () }
    }
    var dirs = 0
    val tmp = new Path(path, "_tmp")
    if (f.exists(tmp)) f.listStatus(tmp).foreach { st =>
      if (st.getModificationTime < cutoff)
        try { if (f.delete(st.getPath, true)) dirs += 1 }
        catch { case _: Throwable => () }
    }
    val cdc = new Path(path, "_cdc")
    if (f.exists(cdc)) f.listStatus(cdc).foreach { st =>
      if (!cdcIds.contains(st.getPath.getName) && st.getModificationTime < cutoff)
        try { if (f.delete(st.getPath, true)) dirs += 1 }
        catch { case _: Throwable => () }
    }
    (removed, dirs)
  }

  def expireSnapshots(spark: SparkSession, path: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val conf = spark.sparkContext.hadoopConfiguration
    val f = GraftStoreFormat.fs(path, conf)
    val ms = GraftStoreFormat.listManifests(path, conf)
    // TAGGED snapshots are retention pins: a ref in the head's ref table
    // keeps its snapshot (and therefore its files) alive past keepLast —
    // that is the point of tagging a training-set cut
    // a branch pins its TIP and its FORK (fastForward reads both; the
    // intermediate staged lineage is expirable — manifests are full
    // listings, so the tip alone carries the branch's state)
    val pinned: Set[Long] = GraftStoreFormat.readHead(path, conf, ms)
      .map(_.refs.values.flatMap(r =>
        if (r.branch) Seq(r.seq, r.forkSeq) else Seq(r.seq)).toSet)
      .getOrElse(Set.empty)
    val (drop0, keep0) = ms.splitAt(math.max(0, ms.size - keepLast))
    val (keepPinned, drop) =
      drop0.partition(p => pinned.contains(GraftStoreFormat.manifestSeq(p)))
    val keep = keepPinned ++ keep0
    val keepM = keep.map(p => GraftStoreFormat.readManifestFile(path, conf, p))
    // position- and equality-delete files are `part-` named like data
    // files — a retained snapshot's delete entries are references too
    val referenced =
      keepM.flatMap(m => m.files.map(_.name) ++ m.deletes.map(_.name) ++
        m.eqDeletes.map(_.name)).toSet
    // bloom sidecars (`bloom-` named) referenced by retained snapshots
    // survive; the rest go with the dropped history
    val keptBlooms = keepM.flatMap(_.blooms.map(_.name)).toSet
    // change stores referenced by DROPPED snapshots go with them — but only
    // those (an UNREFERENCED _cdc dir might belong to an in-flight COW
    // commit whose manifest hasn't landed yet; crash orphans linger, tiny
    // and invisible, rather than racing a live writer)
    val keepCdc = keepM.flatMap(_.cdc).toSet
    val dropCdc = drop
      .flatMap(p => GraftStoreFormat.readManifestFile(path, conf, p).cdc)
      .filterNot(keepCdc).distinct
    // manifest SEGMENTS (v12) are content-addressed and shared across
    // snapshots — keep every segment a retained manifest references,
    // collect the rest with the dropped history
    val keptSegs = keep.flatMap(p =>
      GraftStoreFormat.manifestSegmentRefs(path, conf, p)).toSet
    drop.foreach(p => try f.delete(p, false) catch { case _: Throwable => () })
    dropCdc.foreach(id =>
      try f.delete(new Path(path, s"_cdc/$id"), true) catch { case _: Throwable => () })
    val orphans = f.listStatus(new Path(path)).map(_.getPath)
      .filter { p =>
        (p.getName.startsWith("part-") && !referenced.contains(p.getName)) ||
        (p.getName.startsWith("_seg-") && !keptSegs.contains(p.getName)) ||
        (p.getName.startsWith("bloom-") && !keptBlooms.contains(p.getName))
      }
    orphans.foreach(p => try f.delete(p, false) catch { case _: Throwable => () })
    (drop.size, orphans.count(_.getName.startsWith("part-")))
  }
}

/** One EQUALITY-DELETE store a read unit must apply: absolute path of the
  * key-values file plus the key columns' indices in the TABLE schema (the
  * store's decode schema and the row-side key projection both derive from
  * them — key column types can never change, so indices stay valid across
  * additive evolution). */
private[v2] case class GraftEqSlice(store: String, keyIdxs: Seq[Int])

/** Physical→logical column remap of one data file on a field-id-evolved
  * table (RENAME/DROP COLUMN history): `physTypes` is the file's decode
  * schema in the positional order its rows encode fields; `physToTable(p)`
  * is the CURRENT table index serving physical position `p`, or -1 for a
  * field the table since dropped (its bytes are seeked past, never
  * decoded). Absent on never-evolved tables, where physical == a prefix
  * of the table schema (`ncols`). */
private[v2] case class GraftColRemap(physTypes: Seq[DataType], physToTable: Seq[Int])

/** One data file to read: absolute path, physical column width (`ncols` =
  * how many leading table-schema columns it holds — additive schema
  * evolution; the reader decodes that prefix and null-extends the rest),
  * the ABSOLUTE paths of the position-delete files covering it, the
  * equality-delete stores scoping it (merge-on-read; both empty on COW
  * tables — zero overhead), and the field-id remap on rename/drop-evolved
  * tables (overrides `ncols`). */
/** `byteStart`/`byteEnd`/`rowStart` (v15 split blocks): the slice reads
  * bytes [byteStart, byteEnd) — byteEnd -1 = EOF — and its first row has
  * PHYSICAL ordinal rowStart (what keeps `_pos` and position-delete masks
  * exact across splits). Defaults read the whole file. */
private[v2] case class GraftFileSlice(file: String, ncols: Int,
    deletes: Seq[String] = Nil, eqDeletes: Seq[GraftEqSlice] = Nil,
    remap: Option[GraftColRemap] = None,
    byteStart: Long = 0L, byteEnd: Long = -1L, rowStart: Long = 0L)

private[v2] case class GraftFilePartition(slice: GraftFileSlice) extends InputPartition

/** One identity-partition read group: all files holding one partition-key
  * value. `HasPartitionKey` is what Spark's storage-partitioned-join
  * planner consumes. */
private[v2] case class GraftKeyedFilesPartition(files: Seq[GraftFileSlice], key: InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** The SQL metrics of graft-store reads (DSv2 custom sum metrics): each
  * reader reports its own [[GraftScanTally]] through
  * `currentMetricsValues`, and Spark sums the tasks' values into the scan
  * node of the executed plan, where [[GraftStoreOps.slicesOpened]] reads
  * them back. */
private[v2] object GraftScanMetrics {
  val SlicesOpened = "slicesOpened"
  val BytesSkipped = "bytesSkipped"
  class SlicesOpenedMetric extends CustomSumMetric {
    override def name(): String = SlicesOpened
    override def description(): String = "graft-store slices opened"
  }
  class BytesSkippedMetric extends CustomSumMetric {
    override def name(): String = BytesSkipped
    override def description(): String = "graft-store payload bytes skipped by pruned decode"
  }
  def supported: Array[CustomMetric] = Array(new SlicesOpenedMetric, new BytesSkippedMetric)
}

/** One reader's counts: data-file slices it opened and payload bytes its
  * decoder seeked past. Reader-local: counting never contends and never
  * mixes two queries. */
private[v2] final class GraftScanTally { var slices = 0L; var skipped = 0L }

/** A graft-store partition reader reporting its [[GraftScanTally]] as the
  * scan's SQL metrics. Spark hands a task's next reader the values of the
  * reader before it (a keyed group reads several partitions in one task);
  * the counts continue from them. */
private[v2] trait GraftCountedReader extends PartitionReader[InternalRow] {
  protected val tally = new GraftScanTally
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    task(GraftScanMetrics.SlicesOpened, tally.slices),
    task(GraftScanMetrics.BytesSkipped, tally.skipped))
  override def initMetricsValues(ms: Array[CustomTaskMetric]): Unit = ms.foreach { m =>
    if (m.name() == GraftScanMetrics.SlicesOpened) tally.slices += m.value()
    else tally.skipped += m.value()
  }
  private def task(n: String, v: Long) = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

/** The positional walk's reader RDD ([[GraftStoreOps.signedChanges]]),
  * holding its `slicesOpened` metric where a plan walk can find it. */
private[v2] final class GraftWalkRDD(sc: org.apache.spark.SparkContext,
    units: Seq[GraftCdcRefPartition], factory: PartitionReaderFactory,
    val metrics: Map[String, SQLMetric])
    extends org.apache.spark.sql.execution.datasources.v2.DataSourceRDD(
      sc, units.map(Seq(_)), factory, false, metrics)

/** NOTE — columnar read path: probed and REJECTED (measured, not
  * assumed). A `ColumnarBatch`/`OnHeapColumnVector` reader was built and
  * benchmarked against the buffered row reader below: full-width 1.73 →
  * 1.18 M rows/s, narrow 4.36 → 3.03. The format is ROW-major, so staging
  * through column vectors is a pure transpose cost (plus a second string
  * copy, vector→UnsafeRow) with none of the contiguous-column-chunk
  * decode benefits that make Parquet's vectorized reader win. If the
  * format ever gains a columnar page layout, revisit. */
private[v2] class GraftStoreReaderFactory(full: StructType, required: StructType,
    conf: SerializableHadoopConf,
    defaults: Map[Int, String] = Map.empty) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // column DEFAULTS decoded executor-side at the table types: where a
    // file physically lacks column i, readers serve defaultVals(i) —
    // null when no default, i.e. the classic null-extension
    val defaultVals: Array[Any] = {
      val a = new Array[Any](full.length)
      defaults.foreach { case (i, s) =>
        if (i < full.length)
          a(i) = GraftStoreFormat.defaultFromString(full.fields(i).dataType, s)
      }
      a
    }
    val files: Seq[GraftFileSlice] = partition match {
      case GraftFilePartition(s) => Seq(s)
      case GraftKeyedFilesPartition(fs, _) => fs
    }
    // -1 = the `_file` metadata column, -2 = `_pos` (both served from the
    // reader's position, no decode); anything else indexes the decoded row
    val keep: Array[Int] = required.fieldNames.map {
      case GraftFileColumn.Name => -1
      case GraftPosColumn.Name => -2
      case n => full.fieldIndex(n)
    }
    // prune-skipping decode: only projected columns are decoded; the rest
    // are seeked past byte-wise. Residual filters are Spark's (every pushed
    // filter is returned as residual, and Spark folds filter attributes
    // into the required schema), so `required` is the complete decode set —
    // EXCEPT equality-delete key columns, which the mask probe reads from
    // the decoded row even when the projection dropped them (per-slice
    // union below).
    val baseWanted: Array[Boolean] = {
      val w = new Array[Boolean](full.length)
      keep.foreach(i => if (i >= 0) w(i) = true)
      w
    }
    new GraftCountedReader {
      // the slices metric counts every planned slice once, at reader
      // creation (never in the row loop): a scan's file footprint — e.g.
      // an incremental MV refresh opens churn + view files, not the base
      // table
      tally.slices = files.size.toLong
      private var remaining = files
      private var in: DataInputStream = _           // stream fallback (>1 GiB files)
      private var bufr: GraftBufferedRowReader = _  // buffered hot path
      private var vals: Array[Any] = _              // reused decode target
      private var fileSchema: StructType = _
      private var tableToPhys: Array[Int] = _
      private var cur: Array[Any] = _
      private var curFile: UTF8String = _
      // merge-on-read state: sorted deleted positions for the CURRENT file,
      // a cursor into them, the physical row ordinal (counts every stored
      // row, so (_file, _pos) stays a stable row id), and the equality
      // masks scoping the file — (key indices, key-tuple set) pairs
      private var deleted: Array[Long] = Array.emptyLongArray
      private var delIdx = 0
      private var pos = -1L
      private var eqMasks: Seq[(Array[Int], java.util.HashSet[Seq[Any]])] = Nil
      private var wanted: Array[Boolean] = baseWanted
      // an equality store is loaded ONCE per reader even when it scopes
      // every file of a keyed group (the common shape after an upsert)
      private val eqCache =
        scala.collection.mutable.Map.empty[String, java.util.HashSet[Seq[Any]]]
      // UNSAFE fast path (mask-free buffered files — the common case):
      // decode straight into an UnsafeRowWriter, zero boxing, downstream
      // codegen reads direct memory. Equality masks need decoded key
      // values (possibly outside the projection), so eq-scoped files keep
      // the generic path; position masks skip BEFORE decode (skipRow).
      private val unsafeWriter =
        new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(keep.length)
      private val metaFileOrd = keep.indexOf(-1)
      private val metaPosOrd = keep.indexOf(-2)
      private var usingUnsafe = false
      private var outOf: Array[Int] = _          // physical col -> output ordinal
      private var missingOrds: Array[Int] = _    // outputs the file never holds
      // type-widening remaps (pre-widening files): physical positions whose
      // decoded value must widen to the table's logical type before any
      // consumer (projection output OR an equality-mask key probe) sees it.
      // kind 1 = int→long, 2 = float→double
      private var convPos: Array[Int] = Array.emptyIntArray
      private var convKind: Array[Byte] = Array.emptyByteArray
      private var convDec: Array[DecimalType] = Array.empty
      private def openNext(): Boolean = remaining match {
        case s +: rest =>
          remaining = rest
          val fs = new Path(s.file).getFileSystem(conf.value)
          // whole-SLICE buffer (the Parquet row-group buffering
          // discipline): split slices are block-bounded (~32 MiB) by
          // construction; an UNSPLIT pathological >1 GiB file falls back
          // to the stream decoder rather than a 2 GB array
          val fLen = fs.getFileStatus(new Path(s.file)).getLen
          val sliceEnd = if (s.byteEnd >= 0) s.byteEnd else fLen
          val sliceLen = sliceEnd - s.byteStart
          if (sliceLen <= (1L << 30)) {
            val bytes = new Array[Byte](sliceLen.toInt)
            val din = fs.open(new Path(s.file))
            try din.readFully(s.byteStart, bytes) finally din.close()
            in = null
            bufr = null // type codes need fileSchema, set below
            vals = null
            // defer reader construction until fileSchema is known
            pendingBuf = bytes
          } else {
            require(s.byteStart == 0L && s.byteEnd < 0L,
              s"graft-store: split slice of ${s.file} exceeds the buffer cap " +
                "(corrupt block offsets?)")
            pendingBuf = null
            in = new DataInputStream(new BufferedInputStream(fs.open(new Path(s.file)), 1 << 16))
          }
          // a file decodes with its own PHYSICAL schema: on never-evolved
          // tables a prefix of the table schema (columns it never held
          // read as null below); on field-id-evolved tables the remap's
          // layout, with renamed columns re-pointed and dropped columns'
          // positions mapped nowhere (seeked past, never decoded)
          s.remap match {
            case Some(r) =>
              fileSchema = StructType(r.physTypes.zipWithIndex.map {
                case (dt, p) => StructField(s"_c$p", dt)
              }.toArray)
              val t2p = Array.fill(full.length)(-1)
              r.physToTable.zipWithIndex.foreach { case (t, p) => if (t >= 0) t2p(t) = p }
              tableToPhys = t2p
              // pre-widening file: where the written type is narrower than
              // the table's, widen the decoded value in place (int→long,
              // float→double) so projections AND eq-mask probes compare at
              // the logical type
              val cp = scala.collection.mutable.ArrayBuffer.empty[Int]
              val ck = scala.collection.mutable.ArrayBuffer.empty[Byte]
              val cd = scala.collection.mutable.ArrayBuffer.empty[DecimalType]
              r.physToTable.zipWithIndex.foreach { case (t, p) =>
                if (t >= 0) (r.physTypes(p), full.fields(t).dataType) match {
                  case (IntegerType, LongType) => cp += p; ck += 1
                  case (FloatType, DoubleType) => cp += p; ck += 2
                  // decimal precision widening: same scale, same unscaled
                  // bytes — re-wrap at the table's declared precision so
                  // every consumer sees the logical type
                  case (d1: DecimalType, d2: DecimalType) if d1 != d2 =>
                    cp += p; ck += 3; cd += d2
                  case _ => ()
                }
              }
              convPos = cp.toArray; convKind = ck.toArray
              convDec = { val it = cd.iterator
                ck.map(k => if (k == 3) it.next() else null).toArray }
            case None =>
              fileSchema =
                if (s.ncols >= full.length) full
                else StructType(full.fields.take(s.ncols))
              tableToPhys =
                Array.tabulate(full.length)(t => if (t < s.ncols) t else -1)
              convPos = Array.emptyIntArray; convKind = Array.emptyByteArray
              convDec = Array.empty
          }
          curFile = UTF8String.fromString(s.file)
          deleted = loadDeletes(s)
          // split slice: physical ordinals start at rowStart — `_pos`
          // stays a stable row id, and the position-mask cursor advances
          // past deletions that belong to earlier slices
          delIdx = {
            val i = java.util.Arrays.binarySearch(deleted, s.rowStart)
            if (i >= 0) i else -i - 1
          }
          pos = s.rowStart - 1L
          eqMasks = s.eqDeletes.map(q =>
            (q.keyIdxs.toArray, eqCache.getOrElseUpdate(q.store, loadEqKeys(q))))
          // decode set in PHYSICAL positions: projected table columns that
          // this file physically holds, plus eq-mask key columns (the mask
          // probe reads them even when the projection dropped them)
          wanted = {
            val w = new Array[Boolean](fileSchema.length)
            var t = 0
            while (t < full.length) {
              val p = tableToPhys(t)
              if (p >= 0 && baseWanted(t)) w(p) = true
              t += 1
            }
            s.eqDeletes.foreach(_.keyIdxs.foreach { i =>
              if (i < full.length && tableToPhys(i) >= 0) w(tableToPhys(i)) = true
            })
            w
          }
          if (pendingBuf != null) {
            bufr = new GraftBufferedRowReader(pendingBuf,
              GraftStoreFormat.typeCodes(fileSchema), tally,
              fileSchema.fields.map {
                case StructField(_, d: DecimalType, _, _) => d.precision; case _ => 0 },
              fileSchema.fields.map {
                case StructField(_, d: DecimalType, _, _) => d.scale; case _ => 0 })
            vals = new Array[Any](fileSchema.length)
            pendingBuf = null
          }
          // conversions need the boxed generic path (the UnsafeRow decoder
          // writes fixed-width values straight from the wire); only
          // pre-widening files pay this — post-widening and compacted
          // files carry an override-free layout and keep the fast path
          usingUnsafe = bufr != null && eqMasks.isEmpty && convPos.isEmpty
          if (usingUnsafe) {
            val o = Array.fill(fileSchema.length)(-1)
            val miss = scala.collection.mutable.ArrayBuffer.empty[Int]
            var j = 0
            while (j < keep.length) {
              val src = keep(j)
              if (src >= 0) {
                val p = tableToPhys(src)
                if (p >= 0) o(p) = j else miss += j
              }
              j += 1
            }
            outOf = o
            missingOrds = miss.toArray
          }
          true
        case _ => false
      }
      private var pendingBuf: Array[Byte] = _
      /** Key tuples of one equality-delete store, decoded at the key
        * columns' table types (indices into the table schema — key column
        * types never change across additive evolution). */
      private def loadEqKeys(q: GraftEqSlice): java.util.HashSet[Seq[Any]] = {
        val keySchema = StructType(q.keyIdxs.map(full.fields).toArray)
        val set = new java.util.HashSet[Seq[Any]]()
        val fs = new Path(q.store).getFileSystem(conf.value)
        val din = new DataInputStream(
          new BufferedInputStream(fs.open(new Path(q.store)), 1 << 16))
        try {
          var r = GraftStoreFormat.readRow(din, keySchema)
          while (r != null) {
            set.add(r.toSeq)
            r = GraftStoreFormat.readRow(din, keySchema)
          }
        } finally din.close()
        set
      }
      /** Equality-mask check for the decoded current row: masked iff its
        * key tuple appears in ANY scoping store (null fields match null —
        * structural equality, the Iceberg equality-delete contract). */
      private def eqMasked(): Boolean = eqMasks.nonEmpty && eqMasks.exists {
        case (idxs, set) =>
          set.contains(idxs.map { i =>
            val p = if (i < tableToPhys.length) tableToPhys(i) else -1
            if (p >= 0) cur(p)
            else if (i < defaultVals.length) defaultVals(i) else null
          }.toSeq)
      }
      /** Positions of this file's rows masked by its covering delete files:
        * each covering store is scanned once, rows keyed to OTHER targets
        * are skipped, and the result is sorted+deduped (two concurrent MOR
        * deletes may both record the same position) — applied below as a
        * single merge-walk against the naturally increasing read ordinal. */
      private def loadDeletes(s: GraftFileSlice): Array[Long] = {
        if (s.deletes.isEmpty) return Array.emptyLongArray
        val myName = UTF8String.fromString(
          s.file.substring(s.file.lastIndexOf('/') + 1))
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        s.deletes.foreach { d =>
          val fs = new Path(d).getFileSystem(conf.value)
          val din = new DataInputStream(
            new BufferedInputStream(fs.open(new Path(d)), 1 << 16))
          try {
            var r = GraftStoreFormat.readRow(din, GraftStoreFormat.DeleteSchema)
            while (r != null) {
              if (r(0).asInstanceOf[UTF8String] == myName)
                buf += r(1).asInstanceOf[Long]
              r = GraftStoreFormat.readRow(din, GraftStoreFormat.DeleteSchema)
            }
          } finally din.close()
        }
        buf.distinct.sorted.toArray
      }
      override def next(): Boolean = {
        if (in == null && bufr == null && !openNext()) return false
        while (true) {
          if (usingUnsafe) {
            // position-masked rows skip WITHOUT decode; live rows land
            // straight in the UnsafeRow
            if (delIdx < deleted.length && deleted(delIdx) == pos + 1) {
              if (bufr.skipRow()) { pos += 1; delIdx += 1 }
              else { bufr = null; if (!openNext()) return false }
            } else {
              unsafeWriter.reset()
              unsafeWriter.zeroOutNullBytes()
              if (bufr.readRowUnsafe(outOf, unsafeWriter)) {
                pos += 1
                var k = 0
                while (k < missingOrds.length) {
                  val ord = missingOrds(k)
                  val dv = defaultVals(keep(ord))
                  if (dv == null) unsafeWriter.setNullAt(ord)
                  else full.fields(keep(ord)).dataType match {
                    case LongType | TimestampType =>
                      unsafeWriter.write(ord, dv.asInstanceOf[Long])
                    case IntegerType | DateType =>
                      unsafeWriter.write(ord, dv.asInstanceOf[Int])
                    case DoubleType => unsafeWriter.write(ord, dv.asInstanceOf[Double])
                    case FloatType => unsafeWriter.write(ord, dv.asInstanceOf[Float])
                    case BooleanType => unsafeWriter.write(ord, dv.asInstanceOf[Boolean])
                    case StringType =>
                      unsafeWriter.write(ord, dv.asInstanceOf[UTF8String])
                    case d: DecimalType => unsafeWriter.write(ord,
                      dv.asInstanceOf[org.apache.spark.sql.types.Decimal],
                      d.precision, d.scale)
                    case _ => unsafeWriter.setNullAt(ord)
                  }
                  k += 1
                }
                if (metaFileOrd >= 0) unsafeWriter.write(metaFileOrd, curFile)
                if (metaPosOrd >= 0) unsafeWriter.write(metaPosOrd, pos)
                return true
              } else { bufr = null; if (!openNext()) return false }
            }
          } else {
            val got =
              if (bufr != null) {
                if (bufr.readPruned(wanted, vals)) { cur = vals; true }
                else { cur = null; false }
              } else {
                cur = GraftStoreFormat.readRowPruned(in, fileSchema, wanted, tally)
                cur != null
              }
            if (!got) {
              if (in != null) { in.close(); in = null }
              bufr = null
              if (!openNext()) return false
            } else {
              pos += 1
              // widen pre-widening values IN PLACE before any consumer —
              // the eq-mask probe below and get()'s projection both read
              // cur, and both must see the table's logical type
              var c = 0
              while (c < convPos.length) {
                val p = convPos(c)
                val v = cur(p)
                if (v != null) cur(p) = convKind(c) match {
                  case 1 => Long.box(v.asInstanceOf[Int].toLong)
                  case 3 =>
                    val d = convDec(c)
                    val dec = v.asInstanceOf[org.apache.spark.sql.types.Decimal]
                    // long-backed re-wrap when the WRITTEN type was narrow;
                    // wide-to-wider goes through BigDecimal
                    if (dec.precision <= 18)
                      org.apache.spark.sql.types.Decimal.createUnsafe(
                        dec.toUnscaledLong, d.precision, d.scale)
                    else org.apache.spark.sql.types.Decimal(
                      dec.toJavaBigDecimal, d.precision, d.scale)
                  case _ => Double.box(v.asInstanceOf[Float].toDouble)
                }
                c += 1
              }
              // skip rows whose ordinal a covering delete file masks, then
              // rows whose key tuple a scoping equality delete names
              if (delIdx < deleted.length && deleted(delIdx) == pos) delIdx += 1
              else if (!eqMasked()) return true
            }
          }
        }
        false // unreachable
      }
      // reused output row (standard source-reader contract: the returned
      // row is invalidated by the next call to next(); Spark materializes
      // before buffering)
      private val outVals = new Array[Any](keep.length)
      private val outRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(outVals)
      override def get(): InternalRow = {
        if (usingUnsafe) return unsafeWriter.getRow
        var j = 0
        while (j < keep.length) {
          val i = keep(j)
          outVals(j) =
            if (i == -1) curFile
            else if (i == -2) pos
            else {
              val p = tableToPhys(i)
              if (p >= 0) cur(p) else defaultVals(i)
            }
          j += 1
        }
        outRow
      }
      override def close(): Unit = if (in != null) in.close()
    }
  }
}
