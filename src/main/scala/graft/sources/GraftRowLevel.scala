package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriterCommitMessage, WriteBuilder}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetTable}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.VersionedTable

/** SQL row-level DML for the versioned table — `DELETE FROM` /
  * `UPDATE` / `MERGE INTO` through [[GraftCatalog]], no graft API in
  * sight. Two engine paths, chosen by Catalyst exactly as for
  * Delta/Iceberg:
  *
  *   - '''Metadata delete''' (`SupportsDeleteV2` on
  *     [[GraftVersionedTable]]): a `DELETE FROM t WHERE <translatable>`
  *     is optimized back into a table-level delete
  *     (`OptimizeMetadataOnlyDeleteFromTable`) and routed to
  *     [[VersionedTable.deleteWhereDV]] — a DELETION-VECTOR commit
  *     that writes tombstone positions, NOT data files (the q475 pin:
  *     at 100 TB a point delete writes bytes, not gigabytes).
  *   - '''Group-based copy-on-write''' (`SupportsRowLevelOperations`):
  *     UPDATE, MERGE, and non-translatable DELETEs become Catalyst's
  *     `ReplaceData` plan over this operation. The GROUPS are data
  *     files: the row-level scan prunes the file list with the pushed
  *     command condition (manifest band stats + bloom sidecars, shared
  *     with the SELECT path) and records exactly which files it read;
  *     the write stages replacement files with Spark's own distributed
  *     DSv2 parquet writer and commits carried + staged in ONE
  *     manifest swap ([[VersionedTable.commitReplace]]). A table that
  *     moved under the statement aborts loudly at commit.
  *
  * The row-level scan deliberately hands ParquetScan NO row filters:
  * group-based semantics require every unmodified row of a scanned
  * group to SURVIVE into the replacement, so pushed filters may only
  * eliminate whole groups (files), never rows — row-group or page
  * skipping inside a kept file would silently drop live rows. The
  * rewritten query's own condition handles row semantics. DV-carrying
  * snapshots read through the merge-on-read scan (tombstones applied,
  * so the rewrite cannot resurrect deleted rows) and the commit
  * carries the vectors for unscanned files — SQL DELETE-then-UPDATE
  * composes with no OPTIMIZE in between.
  *
  * Scale: the condition's selectivity maps to files touched, not rows
  * scanned twice — a banded `UPDATE ... WHERE day = X` on a clustered
  * 100 TB table rewrites the band's files only, exactly like the
  * library [[VersionedTable.merge]], but driven entirely from SQL.
  */
object GraftRowLevel {

  /** Column-mapped tables refuse the MERGE-ON-READ delta machinery
    * (position-identity scans + DV sidecars keyed by physical file
    * contents are not mapping-aware) — the group COPY-ON-WRITE
    * engine IS (the row-level scan/write translate like the SELECT
    * path), so the refusal points there. Checked at newScanBuilder
    * time, i.e. at scan PUSHDOWN, so a translatable DELETE has
    * already been converted to the mapping-aware deleteWhereDV
    * metadata path.
    */
  private[sources] def refuseColumnMapped(path: String): Unit =
    require(!VersionedTable.mappingNontrivial(
      VersionedTable.readManifest(path,
        VersionedTable.latestVersion(path)).colMap),
      s"merge-on-read row-level rewrite on $path: the table carries " +
        "a non-trivial column mapping (RENAME COLUMN history) — run " +
        "the statement under the default copy-on-write mode (unset " +
        "spark.graft.rowLevel.mode), or OPTIMIZE (compact) to " +
        "materialize the logical schema first")

  /** V1 `Filter` → `Column`, total on the filter algebra the metadata
    * delete accepts; None = not translatable (the caller must refuse,
    * pushing Catalyst to the row-level rewrite instead).
    */
  def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
    case Not(c) => filterToColumn(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }

  /** The conjunction of `predicates` as a Column, when every one
    * translates through the V1 filter algebra.
    */
  def predicatesToColumn(predicates: Array[Predicate]): Option[Column] =
    Bridge.v2ToV1Filters(predicates).flatMap { fs =>
      val cols = fs.map(filterToColumn)
      if (cols.forall(_.isDefined))
        Some(cols.flatten.reduceOption(_ && _).getOrElse(lit(true)))
      else None
    }
}

class GraftRowLevelOperationBuilder(path: String,
                                    info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(path, info.command)
}

/** One SQL statement's row-level operation instance — Catalyst uses
  * the SAME instance for the scan and the write, which is the channel
  * through which the write learns which files (groups) the scan
  * replaced and which snapshot it pinned.
  */
class GraftRowLevelOperation(val path: String,
                             cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Snapshot the scan pinned; the commit aborts if the table moved. */
  @volatile private[sources] var scannedVersion: Int = -1
  /** Exactly the files the scan planned — the groups being replaced. */
  @volatile private[sources] var scannedFiles: Seq[String] = Nil

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftRowLevelScanBuilder(this, SparkSession.active)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftRowLevelWriteBuilder(this, info)

  override def description(): String =
    s"graft_row_level($cmd, $path)"
}

/** The row-level scan: the current snapshot's files, FILE-pruned by the
  * command condition (band stats + blooms) but NEVER row-filtered —
  * see the module doc for why. Records (version, kept files) on the
  * shared operation.
  */
class GraftRowLevelScanBuilder(op: GraftRowLevelOperation,
                               spark: SparkSession)
    extends ScanBuilder with SupportsPushDownFilters {

  private var groupFilters: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    groupFilters = filters
    filters // all residual: rows are judged by the rewrite plan alone
  }

  override def pushedFilters(): Array[Filter] = groupFilters

  override def build(): Scan = {
    val path = op.path
    val v = VersionedTable.latestVersion(path)
    require(v >= 0, s"no graft-versioned table at $path")
    val m = VersionedTable.readManifest(path, v)
    // column-mapped tables: the command condition names LOGICAL
    // columns, the manifest's stats/blooms physical — translate once;
    // the inner scan reads physical names and reports the logical
    // schema (the SELECT-scan discipline)
    val mapped = VersionedTable.mappingNontrivial(m.colMap)
    val keep = GraftVersioned.consultManifest(spark, path, v, m,
      (if (mapped)
        GraftVersioned.physFilters(m.colMap, groupFilters)
      else groupFilters).toSeq)
    op.scannedVersion = v
    op.scannedFiles = keep
    val schema = GraftVersioned.snapshotSchema(spark,
      new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("path", path)))
    val phys =
      if (mapped) GraftVersioned.physSchema(m.colMap, schema) else schema
    val report = if (mapped) Some(schema) else None
    val index = new InMemoryFileIndex(spark,
      keep.map(r => new org.apache.hadoop.fs.Path(
        VersionedTable.absPath(path, r))),
      Map.empty, Some(phys))
    val parquet = ParquetScan(spark,
      spark.sessionState.newHadoopConf(),
      index, phys, phys, new StructType(),
      Array.empty, // NO row filters: unmodified rows must survive
      CaseInsensitiveStringMap.empty())
    if (m.dvs.isEmpty) {
      val exactRows =
        if (keep.forall(m.rowCounts.contains))
          Some(keep.map(m.rowCounts).sum)
        else None
      new GraftVersionedFileScan(parquet, exactRows,
        reportSchema = report)
    } else {
      // DV-carrying snapshot: the group rewrite must read files UNDER
      // their tombstones (a bare scan would resurrect deleted rows
      // into the replacement) — the same merge-on-read scan the
      // SELECT path uses; commitReplace then carries the vectors for
      // unscanned files (entries naming replaced files dangle
      // harmlessly — new file names never match)
      val dvByFile = GraftVersioned.loadDvMap(spark, path, v, m, keep)
      val exactRows =
        if (keep.forall(m.rowCounts.contains))
          Some(keep.map(m.rowCounts).sum -
            dvByFile.values.map(_.length.toLong).sum)
        else None
      new GraftDvAwareScan(parquet, exactRows, dvByFile,
        reportSchema = report)
    }
  }
}

class GraftRowLevelWriteBuilder(op: GraftRowLevelOperation,
                                info: LogicalWriteInfo)
    extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val spark = SparkSession.active
      require(op.scannedVersion >= 0,
        "row-level write built before its scan — no snapshot pinned")
      // UNIQUE staging dir (never version-coupled): a racing writer's
      // data can't clobber committed files; the manifest swap stays
      // the only arbitration point, and a crashed attempt's orphan is
      // vacuum-reclaimed
      val dir = VersionedTable.newAppendDir()
      val staging = s"${op.path}/$dir"
      // Spark's own DSv2 parquet write stack does the distributed file
      // writing (task commit protocol, speculation-safe); this wrapper
      // only adds the manifest swap at job commit. Column-mapped
      // tables stage PHYSICALLY-named files (rows are positional)
      val (writeSchema, physInfo) =
        GraftVersionedWriteBuilder.physicalized(op.path, info)
      val delegate = new ParquetTable("graft_row_level_write",
        spark, CaseInsensitiveStringMap.empty(), Seq(staging),
        Some(writeSchema),
        classOf[org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat])
        .newWriteBuilder(physInfo).build().toBatch
      new GraftReplaceDataBatchWrite(delegate, op, dir, writeSchema)
    }
  }
}

/** Delegates the physical write to Spark's parquet `FileBatchWrite`
  * into the next commit directory, then commits the manifest swap —
  * carried (unscanned) files + staged replacements — atomically via
  * the create-exclusive manifest write. CHECK constraints validate the
  * staged rows BEFORE the swap, so a violating UPDATE/MERGE never
  * becomes visible.
  */
class GraftReplaceDataBatchWrite(delegate: BatchWrite,
                                 op: GraftRowLevelOperation,
                                 stagingDir: String,
                                 dataSchema: StructType) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftStripOpWriterFactory(
      delegate.createBatchWriterFactory(info), dataSchema)

  override def useCommitCoordinator(): Boolean =
    delegate.useCommitCoordinator()

  override def onDataWriterCommit(message: WriterCommitMessage): Unit =
    delegate.onDataWriterCommit(message)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    delegate.commit(messages)
    val spark = SparkSession.active
    val staged = VersionedTable.listStagedFiles(op.path, stagingDir)
    if (staged.nonEmpty)
      VersionedTable.validateAgainstConstraints(op.path,
        VersionedTable.readRels(spark, op.path, staged))
    VersionedTable.commitReplace(op.path, op.scannedVersion,
      op.scannedFiles, staged)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    delegate.abort(messages)
    graft.io.TableFs.deleteRecursive(s"${op.path}/$stagingDir")
  }
}

/** Strips the leading `__row_operation` marker Catalyst's group-based
  * rewrite prepends to every row: Spark's ReplaceDataExec applies its
  * row projection only for connectors that declared metadata
  * attributes (DataAndMetadataWritingSparkTask) — with none declared,
  * the PLAIN writing task hands the marker through, so this factory
  * projects the trailing data columns before the parquet writer sees
  * the row (same ProjectingInternalRow Spark itself uses). Rows that
  * already match the data schema pass through untouched.
  */
class GraftStripOpWriterFactory(delegate: DataWriterFactory,
                                dataSchema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val inner = delegate.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[
      org.apache.spark.sql.catalyst.InternalRow] {
      private var proj: org.apache.spark.sql.catalyst
        .ProjectingInternalRow = _
      override def write(row: org.apache.spark.sql.catalyst
          .InternalRow): Unit = {
        val extra = row.numFields - dataSchema.length
        if (extra == 0) inner.write(row)
        else {
          if (proj == null)
            proj = new org.apache.spark.sql.catalyst.ProjectingInternalRow(
              dataSchema, (extra until row.numFields).toIndexedSeq)
          proj.project(row)
          inner.write(proj)
        }
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}
