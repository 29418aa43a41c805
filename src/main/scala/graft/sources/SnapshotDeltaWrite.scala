package graft.sources

import java.nio.file.{Files => JFiles, Path => JPath}

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` on a `delete_mode = 'merge-on-read'`
  * table — the DELTA-BASED row-level operation (Spark's
  * [[SupportsDelta]], the hook Iceberg's merge-on-read writes use;
  * reference semantics per `SURVEY.md` §2.2's DML contract), composing
  * the store's two merge-on-read planes in ONE CAS version:
  *
  *  - every MATCHED row's key publishes as a `#delete` manifest record
  *    (the same per-partition key sidecars a merge-on-read DELETE
  *    mints — `d<V>-<hex8>/<leaf>`), dooming the OLD row everywhere;
  *  - every updated/inserted row appends as an ordinary data row under
  *    an upsert-delta root (`u<V>-<hex8>/<leaf>`), published as
  *    `#upsert` manifest records.
  *
  * Readers serve base dirs anti-filtered by ALL records and each
  * `u<V>` dir anti-filtered only by records with a NEWER stamp
  * ([[SnapshotDeletes.scopeDirs]]) — so a statement's own delta rows
  * survive its own delete records, while a later DELETE or UPDATE
  * reaches them. The result: a small UPDATE commits O(matched rows)
  * bytes — data files of untouched partitions stay byte-identical and
  * even TOUCHED partitions' base files never move (contrast the
  * group-based copy-on-write path, [[SnapshotRowLevelOperation]],
  * which rewrites every partition containing a match). At 100 TB this
  * is the hot-wide-table shape: frequent small UPDATEs cost kilobytes
  * per statement, and `CALL snap.compact` materializes records and
  * delta rows back into clean columnar files when read-amplification
  * warrants.
  *
  * Command routing: UPDATE and MERGE arrive here whenever the table
  * declares merge-on-read; DELETE arrives only with an untranslatable
  * predicate (translatable ones take the metadata door —
  * `canDeleteWhere` → [[SnapshotTxn
  * .snapshotMorDelete]]) and writes records only, no delta rows.
  *
  * The scan is the table's STANDARD read path (record-aware, pruned,
  * filter-pushed): unlike the group-based rewrite, a delta write needs
  * only the MATCHING rows, so full parquet pushdown is both safe and
  * the point. `rowId` declares the key plus the layout's source
  * columns — the key dooms the old row, the source columns route its
  * record to the partition the row lived in (Spark preserves the
  * ORIGINAL values for update rows whose SET touches a rowId column).
  */
final class SnapshotDeltaOperation(
    spark: SparkSession,
    root: JPath,
    version: Int,
    meta: SnapshotMeta.Meta,
    readTable: SnapshotReadFileTable,
    cmd: Command,
    keyCol: String) extends RowLevelOperation with SupportsDelta {

  override def command(): Command = cmd

  override def description(): String =
    s"graft-snapshot-delta($cmd v$version)"

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = readTable.newScanBuilder(options)

  /** The key (the doomed-key file's one column) and every layout
    * SOURCE column (record routing); the key writer finds each by name.
    */
  override def rowId(): Array[NamedReference] = {
    val srcs = meta.partitionSchema.fieldNames.toSeq
      .map(_.stripSuffix("_p")).filterNot(_ == keyCol)
    (keyCol +: srcs).map(Expressions.column).toArray
  }

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new SnapshotDeltaWrite(spark, root, version, meta, keyCol, info,
          writesRows = cmd != Command.DELETE)
    }
}

/** The delta write: tasks stream update/insert rows under a `u<V>`
  * root and doomed keys under a `d<V>` root, each plane through the SAME
  * per-partition parquet task writer as every other v2 write into the
  * store ([[SnapshotReplaceDataWriter]]: hidden `.inprog` files, rename
  * on task commit, each file's entry folded as it is written); the
  * driver commit publishes parent entries VERBATIM plus the two record
  * planes, counted from those entries — one CAS manifest version, zero
  * data files touched or re-read. A CAS loser throws
  * ([[SnapshotTxn.SnapshotConflictException]]) after its roots are
  * deleted: like the group replacement, a delta
  * computed against a stale head cannot be rebased safely (the matched
  * set may have changed). A DELETE (`writesRows = false`) writes the
  * key plane only: its write schema has no data columns to lay out.
  */
final class SnapshotDeltaWrite(
    spark: SparkSession,
    root: JPath,
    version: Int,
    meta: SnapshotMeta.Meta,
    keyCol: String,
    info: LogicalWriteInfo,
    writesRows: Boolean) extends DeltaWrite
  with SnapshotClusteredWrite {

  /** Same write-side clustering as every batch write into the store
    * ([[SnapshotClusteredWrite]]): the delta is rebalance-clustered by
    * the layout transforms over the NEW rows' source columns, so the
    * `u<V>` plane lands O(touched partitions) files, not
    * O(tasks × partitions) — delta-sized shuffles are cheap, unbounded
    * file counts are not. (The `d<V>` key files route by the OLD
    * row's partition, which a new-row clustering cannot pin — their
    * worst case stays bounded by the delta itself.)
    */
  override protected def writeMeta: SnapshotMeta.Meta = meta

  override def description(): String = s"graft-snapshot-delta v$version"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val stamp = java.util.UUID.randomUUID.toString.take(8)
    // named like every attempt root (vacuum's unreferenced-leaf sweep
    // covers aborted or CAS-lost writes); the numeric stamp is the
    // record-scoping version ([[SnapshotDeletes.publishVersionOf]]),
    // exact because a CAS loser never publishes records naming it
    private val uRoot = root.resolve(s"u${version + 1}-$stamp")
    private val dRoot = root.resolve(s"d${version + 1}-$stamp")

    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo)
        : DeltaWriterFactory = {
      // update/insert rows reach the writer op-coded (the task writer
      // drops nothing here — deletes never enter the u-plane), so the
      // INSERT-door mirror discipline applies to MERGE inserts only
      val uFactory = Option.when(writesRows)(SnapshotWriteSupport.factory(
        spark, meta, info.schema(), uRoot, checkMirrors = true))
      // doomed keys: the row ID (key + layout source columns) routes
      // each key to the OLD row's partition, and only the key column
      // lands in the file — the shape the merge-on-read DELETE door
      // writes, so the read plane's key loader serves both unchanged
      val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
        new IllegalStateException(
          "delta write planned without a row ID schema"))
      val keySchema =
        StructType(Seq(rowIdSchema(keyCol).copy(nullable = true)))
      val srcCols = meta.partitionSchema.fields.toSeq.map { mf =>
        val i = rowIdSchema.fieldIndex(mf.name.stripSuffix("_p"))
        (i, rowIdSchema.fields(i).dataType, SnapshotTransforms.of(mf))
      }
      JFiles.createDirectories(dRoot)
      val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
      val dFactory = new SnapshotReplaceWriterFactory(dRoot.toString,
        rowIdSchema, keySchema, meta.partitionSchema.fieldNames.toSeq,
        srcCols, new ParquetFileFormat().prepareWrite(spark, job,
          Map.empty, keySchema), new SerializableConf(job.getConfiguration),
        checkMirrors = false, spark.sessionState.conf.sessionLocalTimeZone)
      new SnapshotDeltaWriterFactory(uFactory, dFactory)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.toSeq.map(_.asInstanceOf[SnapshotDeltaCommit])
      if (ms.forall(m =>
          m.upserts.pvDirs.isEmpty && m.deletes.pvDirs.isEmpty)) {
        // statement matched nothing: legal no-op, no version published
        org.apache.commons.io.FileUtils.deleteQuietly(uRoot.toFile)
        org.apache.commons.io.FileUtils.deleteQuietly(dRoot.toFile)
        return
      }
      // a lost link reclaims both roots (they are the attempt's scratch)
      SnapshotTxn.snapshotMorDeltaCommit(root, version,
        ms.map(_.deletes), ms.map(_.upserts), Seq(uRoot, dRoot))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      org.apache.commons.io.FileUtils.deleteQuietly(uRoot.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(dRoot.toFile)
    }
  }
}

/** Per-task commit: the two planes' task commits. */
private[sources] final case class SnapshotDeltaCommit(
    upserts: SnapshotReplaceCommit,
    deletes: SnapshotReplaceCommit) extends WriterCommitMessage

private[sources] final class SnapshotDeltaWriterFactory(
    uFactory: Option[DataWriterFactory],
    dFactory: DataWriterFactory) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new SnapshotDeltaTaskWriter(
      uFactory.map(_.createWriter(partitionId, taskId)),
      dFactory.createWriter(partitionId, taskId))
}

/** One task's delta writer over two replace-task writers: update/insert
  * rows go op-coded into `uWriter` (absent for a DELETE), and each
  * doomed row's ID goes into `dWriter`, which routes it by the OLD
  * row's partition and keeps the key column.
  */
private[sources] final class SnapshotDeltaTaskWriter(
    uWriter: Option[DataWriter[InternalRow]],
    dWriter: DataWriter[InternalRow]) extends DeltaWriter[InternalRow] {

  private val opRow = new GenericInternalRow(1)
  private val joined = new JoinedRow()
  private def coded(op: Int, row: InternalRow): InternalRow = {
    opRow.setInt(0, op)
    joined(opRow, row)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    dWriter.write(id)

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    dWriter.write(id)
    uWriter.get.write(coded(RowDeltaUtils.UPDATE_OPERATION, row))
  }

  override def insert(row: InternalRow): Unit =
    uWriter.get.write(coded(RowDeltaUtils.INSERT_OPERATION, row))

  override def commit(): WriterCommitMessage = SnapshotDeltaCommit(
    upserts = uWriter.fold(SnapshotReplaceCommit(Nil, Nil))(
      _.commit().asInstanceOf[SnapshotReplaceCommit]),
    deletes = dWriter.commit().asInstanceOf[SnapshotReplaceCommit])

  override def abort(): Unit = {
    dWriter.abort()
    uWriter.foreach(_.abort())
  }

  override def close(): Unit = ()
}
