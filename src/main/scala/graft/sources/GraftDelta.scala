package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetTable}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.VersionedTable

/** MERGE-ON-READ row-level operations (r12 verdict #4, the Delta 3.x /
  * Iceberg position-delta shape): with
  * `spark.graft.rowLevel.mode = merge-on-read`, SQL UPDATE / MERGE /
  * non-translatable DELETE plan Catalyst's `WriteDelta` over this
  * [[SupportsDelta]] operation instead of the group-based `ReplaceData`
  * copy-on-write — a one-row UPDATE on a huge file writes a TOMBSTONE
  * plus the one replacement row instead of rewriting the file:
  *
  *   - the scan emits every row of the condition-matched files tagged
  *     with its position identity (`__graft_file`, `__graft_pos` —
  *     the table's metadata columns), existing deletion vectors
  *     applied, positions counted in file storage order (the same
  *     ordinal contract every DV consumer uses);
  *   - the writer receives per-row actions: DELETE tombstones
  *     (file, pos) into a staged deletion-vector sidecar, UPDATE
  *     tombstones the old position AND writes the new row, INSERT
  *     writes the row — both sides land through Spark's own
  *     distributed parquet writers (no driver materialization of
  *     anything);
  *   - the commit swaps NOTHING: data files are carried untouched
  *     (their clustering stats stay valid!), the staged sidecars join
  *     `dvs`, the staged rows join `data` —
  *     [[VersionedTable.commitDelta]], aborting loudly if the table
  *     moved past the scanned version;
  *   - reads serve through the existing merge-on-read scan; OPTIMIZE
  *     folds the vectors in, exactly as for metadata DELETEs.
  *
  * Write amplification: bytes ∝ changed rows. Read amplification: the
  * MoR tax until OPTIMIZE. The default mode stays group copy-on-write
  * (`ReplaceData`), pinned by q504.
  */
object GraftDelta {

  val FileCol = "__graft_file"
  val PosCol = "__graft_pos"

  /** The table's metadata columns — position identity for delta ops. */
  def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = FileCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "manifest-relative data file of the row (URI-encoded form)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = PosCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "storage-order row position within the data file"
      })
}

class GraftDeltaOperationBuilder(path: String,
                                 info: org.apache.spark.sql.connector
                                   .write.RowLevelOperationInfo)
    extends org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftDeltaOperation(path, info.command)
}

class GraftDeltaOperation(val path: String,
                          cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  /** Snapshot the scan pinned; the commit aborts if the table moved. */
  @volatile private[sources] var scannedVersion: Int = -1

  override def command(): RowLevelOperation.Command = cmd

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftDelta.FileCol),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftDelta.PosCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    GraftRowLevel.refuseColumnMapped(path)
    new GraftDeltaScanBuilder(this, SparkSession.active)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new GraftDeltaWriteBuilder(this, info)

  override def description(): String =
    s"graft_delta_row_level($cmd, $path)"
}

/** The delta scan: condition-matched files (manifest band stats +
  * blooms, shared consultation), each file ONE offset-ordered
  * partition, rows emitted in storage order under existing deletion
  * vectors with (__graft_file, __graft_pos) appended. NO parquet row
  * filters — position counting needs every physical row observed (the
  * command's own condition applies in the rewrite plan above).
  */
class GraftDeltaScanBuilder(op: GraftDeltaOperation, spark: SparkSession)
    extends ScanBuilder with SupportsPushDownFilters {

  private var groupFilters: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    groupFilters = filters
    filters // all residual: file pruning only
  }

  override def pushedFilters(): Array[Filter] = groupFilters

  override def build(): Scan = {
    val path = op.path
    val v = VersionedTable.latestVersion(path)
    require(v >= 0, s"no graft-versioned table at $path")
    val m = VersionedTable.readManifest(path, v)
    val keep = GraftVersioned.consultManifest(spark, path, v, m,
      groupFilters.toSeq)
    op.scannedVersion = v
    val dataSchema = GraftVersioned.snapshotSchema(spark,
      new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("path", path)))
    val dvByFile =
      if (m.dvs.isEmpty) Map.empty[String, Array[Long]]
      else GraftVersioned.loadDvMap(spark, path, v, m, keep)
    new GraftDeltaScan(spark, path, keep, dataSchema, dvByFile,
      if (keep.forall(m.rowCounts.contains))
        Some(keep.map(m.rowCounts).sum -
          dvByFile.values.map(_.length.toLong).sum)
      else None)
  }
}

/** Position-identity scan: rows of `keep` under existing deletion
  * vectors, storage-order positions, with (__graft_file, __graft_pos)
  * appended. Serves the row-level delta operations AND plain
  * SELECTs that reference the table's metadata columns (`projection`
  * = the pruned schema then; its metadata fields must be TRAILING,
  * which is where Catalyst appends metadataOutput).
  */
class GraftDeltaScan(spark: SparkSession, path: String,
                     keep: Seq[String], dataSchema: StructType,
                     dvByFile: Map[String, Array[Long]],
                     exactRows: Option[Long],
                     projection: Option[StructType] = None,
                     reportSchema: Option[StructType] = None)
    extends Scan with Batch with SupportsReportStatistics {

  private val metaNames = Seq(GraftDelta.FileCol, GraftDelta.PosCol)

  private val outSchema = projection.getOrElse(
    StructType(dataSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(GraftDelta.FileCol,
        StringType, nullable = false),
      org.apache.spark.sql.types.StructField(GraftDelta.PosCol,
        LongType, nullable = false))))

  // the reader appends (file, pos) AFTER the data fields — a pruned
  // schema interleaving them would mis-slot values
  require({
    val names = outSchema.fieldNames.toSeq
    val metaIdx = names.zipWithIndex.filter(t => metaNames.contains(t._1))
      .map(_._2)
    metaIdx.isEmpty || metaIdx.min >= names.length - metaIdx.length
  }, s"metadata columns must trail the schema: $outSchema")

  /** Which of (file, pos) the output carries, in order. */
  private val metaWanted: Seq[String] =
    outSchema.fieldNames.filter(metaNames.contains).toSeq

  private val innerSchema = StructType(
    outSchema.fields.filterNot(f => metaNames.contains(f.name)))

  override def readSchema(): StructType =
    reportSchema.getOrElse(outSchema)

  override def toBatch: Batch = this

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  private lazy val inner: ParquetScan = {
    val index = new InMemoryFileIndex(spark,
      keep.map(r => new org.apache.hadoop.fs.Path(
        VersionedTable.absPath(path, r))),
      Map.empty, Some(dataSchema))
    ParquetScan(spark, spark.sessionState.newHadoopConf(),
      index, dataSchema, innerSchema, new StructType(),
      Array.empty, CaseInsensitiveStringMap.empty())
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // one partition per file, splits offset-sorted: emitted order =
    // storage order, so position tagging is exact
    val byRel = scala.collection.mutable.LinkedHashMap.empty[
      String, scala.collection.mutable.ArrayBuffer[PartitionedFile]]
    inner.toBatch.planInputPartitions().foreach {
      case fp: FilePartition => fp.files.foreach { pf =>
        // ENCODED rel (the input_file_name representation): what the
        // DV sidecars store, so the tombstones this scan's ids produce
        // join the library read path unchanged
        val enc = GraftDvAwareScan.relRe
          .findFirstMatchIn(pf.filePath.toString).map(_.group(1))
          .getOrElse(sys.error(
            s"delta scan: unmappable split ${pf.filePath}"))
        byRel.getOrElseUpdate(enc,
          scala.collection.mutable.ArrayBuffer.empty) += pf
      }
      case other => sys.error(s"delta scan: unexpected partition $other")
    }
    byRel.zipWithIndex.map { case ((enc, splits), i) =>
      val decoded = VersionedTable.percentDecode(enc)
      new GraftDeltaFilePartition(i, splits.sortBy(_.start).toArray,
        enc, dvByFile.getOrElse(decoded, Array.empty)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftDeltaReaderFactory(inner.toBatch.createReaderFactory(),
      metaOrder = metaWanted)

  override def description(): String =
    s"graft_delta_scan($path, files=${keep.length})"

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
    override def numRows(): java.util.OptionalLong =
      exactRows.map(java.util.OptionalLong.of)
        .getOrElse(java.util.OptionalLong.empty())
  }
}

class GraftDeltaFilePartition(
    idx: Int,
    fs: Array[PartitionedFile],
    val encodedRel: String,
    val tombstones: Array[Long])
    extends FilePartition(idx, fs)

class GraftDeltaReaderFactory(delegate: PartitionReaderFactory,
                              metaOrder: Seq[String] =
                                Seq(GraftDelta.FileCol, GraftDelta.PosCol))
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case d: GraftDeltaFilePartition =>
      val inner = delegate.createReader(FilePartition(d.index, d.files))
      val file = UTF8String.fromString(d.encodedRel)
      val tombs = d.tombstones
      // slot each metadata column at its PROJECTED position — a pruned
      // schema may order (pos, file); hardcoding file-at-0 would
      // mis-slot a UTF8String into the long column (r13 ADVICE)
      val width = metaOrder.length
      val fileIdx = metaOrder.indexOf(GraftDelta.FileCol)
      val posIdx = metaOrder.indexOf(GraftDelta.PosCol)
      val tag = new GenericInternalRow(width)
      if (fileIdx >= 0) tag.update(fileIdx, file)
      val joined = new JoinedRow
      new PartitionReader[InternalRow] {
        private var pos = -1L
        private var ti = 0
        override def next(): Boolean = {
          while (inner.next()) {
            pos += 1
            while (ti < tombs.length && tombs(ti) < pos) ti += 1
            if (ti >= tombs.length || tombs(ti) != pos) return true
          }
          false
        }
        override def get(): InternalRow = {
          if (posIdx >= 0) tag.setLong(posIdx, pos)
          if (width == 0) inner.get() else joined(inner.get(), tag)
        }
        override def close(): Unit = inner.close()
      }
    case other => delegate.createReader(other)
  }
}

// ------------------------------------------------------------------ //
// write side

class GraftDeltaWriteBuilder(op: GraftDeltaOperation,
                             info: LogicalWriteInfo)
    extends DeltaWriteBuilder {
  override def build(): DeltaWrite = new DeltaWrite {
    override def toBatch: DeltaBatchWrite = {
      val spark = SparkSession.active
      require(op.scannedVersion >= 0,
        "delta write built before its scan — no snapshot pinned")
      // UNIQUE dirs for both sides: racing statements can never
      // clobber each other's staged files; losers' orphans are
      // vacuum-reclaimed
      val dataDir = VersionedTable.newAppendDir()
      val dvDir = VersionedTable.newAppendDir()
      // a pure DELETE carries an EMPTY row schema (tombstones only) —
      // no data delegate at all (parquet refuses empty schemas)
      val dataDelegate = if (info.schema().isEmpty) null else
        new ParquetTable("graft_delta_write", spark,
          CaseInsensitiveStringMap.empty(), Seq(s"${op.path}/$dataDir"),
          Some(info.schema()),
          classOf[org.apache.spark.sql.execution.datasources.parquet
            .ParquetFileFormat])
          .newWriteBuilder(new LogicalWriteInfo {
            override def options(): CaseInsensitiveStringMap = info.options
            override def queryId(): String = info.queryId
            override def schema(): StructType = info.schema()
            // plain parquet delegate: no delta row-id/metadata schemas
            override def rowIdSchema(): java.util.Optional[StructType] =
              java.util.Optional.empty()
            override def metadataSchema(): java.util.Optional[StructType] =
              java.util.Optional.empty()
          }).build().toBatch
      // rowId field order is the PLAN's, not rowId()'s — bind by name
      val idSchema = info.rowIdSchema.orElseThrow(() =>
        new IllegalStateException("delta write without rowIdSchema"))
      new GraftDeltaBatchWrite(op, dataDelegate, dataDir, dvDir,
        new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf()),
        idSchema.fieldIndex(GraftDelta.FileCol),
        idSchema.fieldIndex(GraftDelta.PosCol))
    }
  }
}

/** One message per task: the data parquet writer's commit plus the
  * name of the task's tombstone sidecar file (None when the task
  * tombstoned nothing). Only message-named sidecars enter the commit,
  * so a speculative duplicate's orphan file is simply never referenced
  * (vacuum reclaims it).
  */
case class GraftDeltaTaskCommit(data: Option[WriterCommitMessage],
                                dvFile: Option[String])
    extends WriterCommitMessage

class GraftDeltaBatchWrite(op: GraftDeltaOperation,
                           dataDelegate: BatchWrite, dataDir: String,
                           dvDir: String,
                           conf: org.apache.spark.util
                             .SerializableConfiguration,
                           fileIdx: Int, posIdx: Int)
    extends DeltaBatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(
      if (dataDelegate == null) null
      else dataDelegate.createBatchWriterFactory(info),
      s"${op.path}/$dvDir", conf, fileIdx, posIdx)

  override def useCommitCoordinator(): Boolean =
    dataDelegate != null && dataDelegate.useCommitCoordinator()

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val split = messages.collect { case m: GraftDeltaTaskCommit => m }
    if (dataDelegate != null)
      dataDelegate.commit(split.flatMap(_.data).toArray)
    val spark = SparkSession.active
    // drop rowless part files: the single-directory writer creates its
    // output eagerly, so scan partitions that produced no replacement
    // rows leave empty files (orphans; vacuum reclaims them)
    val stagedData =
      if (dataDelegate == null) Nil
      else VersionedTable.listStagedFiles(op.path, dataDir)
        .filter(r => VersionedTable.fileRowCount(op.path, r) > 0)
    val stagedDvs = split.flatMap(_.dvFile).toSeq.sorted
      .map(n => s"$dvDir/$n")
    if (stagedData.nonEmpty)
      VersionedTable.validateAgainstConstraints(op.path,
        VersionedTable.readRels(spark, op.path, stagedData))
    VersionedTable.commitDelta(op.path, op.scannedVersion,
      stagedData, stagedDvs)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val split = messages.collect { case m: GraftDeltaTaskCommit => m }
    if (dataDelegate != null)
      dataDelegate.abort(split.flatMap(_.data).toArray)
    graft.io.TableFs.deleteRecursive(s"${op.path}/$dataDir")
    graft.io.TableFs.deleteRecursive(s"${op.path}/$dvDir")
  }
}

class GraftDeltaWriterFactory(dataFactory: org.apache.spark.sql
                                .connector.write.DataWriterFactory,
                              dvDirPath: String,
                              conf: org.apache.spark.util
                                .SerializableConfiguration,
                              fileIdx: Int, posIdx: Int)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaRowWriter(
      if (dataFactory == null) null
      else dataFactory.createWriter(partitionId, taskId),
      dvDirPath, conf.value, partitionId, taskId, fileIdx, posIdx)
}

/** Per-task delta writer. New/updated rows ride the delegated Spark
  * parquet writer (task commit protocol). Tombstones are written by a
  * DIRECT parquet writer into a task-unique sidecar file — NOT a
  * second FileFormatDataWriter, because the output-commit coordinator
  * authorizes ONE commit per partition and a second ask is denied;
  * task-unique names + message-listed references give the same
  * atomicity without a second commit protocol.
  */
class GraftDeltaRowWriter(dataWriter: DataWriter[InternalRow],
                          dvDirPath: String,
                          hadoopConf: org.apache.hadoop.conf.Configuration,
                          partitionId: Int, taskId: Long,
                          fileIdx: Int, posIdx: Int)
    extends DeltaWriter[InternalRow] {

  import org.apache.parquet.example.data.simple.SimpleGroup
  import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}

  private val dvFileName =
    f"dv-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()
      .toString.take(8)}.parquet"

  private val dvSchema = Types.buildMessage()
    .required(PrimitiveType.PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("file")
    .required(PrimitiveType.PrimitiveTypeName.INT64).named("pos")
    .named("graft_dv")

  private var dvWriter: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _

  private def tombstone(id: InternalRow): Unit = {
    if (dvWriter == null)
      dvWriter = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(
          s"$dvDirPath/$dvFileName"))
        .withConf(hadoopConf)
        .withType(dvSchema)
        .build()
    val g = new SimpleGroup(dvSchema)
    g.add("file", id.getUTF8String(fileIdx).toString)
    g.add("pos", id.getLong(posIdx))
    dvWriter.write(g)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    tombstone(id)

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    tombstone(id)
    dataWriter.write(row)
  }

  override def insert(row: InternalRow): Unit = dataWriter.write(row)

  override def commit(): WriterCommitMessage = {
    val dv =
      if (dvWriter == null) None
      else { dvWriter.close(); dvWriter = null; Some(dvFileName) }
    GraftDeltaTaskCommit(Option(dataWriter).map(_.commit()), dv)
  }

  override def abort(): Unit = {
    if (dataWriter != null) dataWriter.abort()
    if (dvWriter != null) { dvWriter.close(); dvWriter = null }
    graft.io.TableFs.deleteFile(s"$dvDirPath/$dvFileName")
  }

  override def close(): Unit = {
    if (dataWriter != null) dataWriter.close()
    if (dvWriter != null) { dvWriter.close(); dvWriter = null }
  }
}
