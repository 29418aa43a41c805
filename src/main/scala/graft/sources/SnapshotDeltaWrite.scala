package graft.sources

import java.nio.file.{Files => JFiles, Path => JPath}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DataWriter, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}
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

  /** Key first (the doomed-key sidecar column), then every layout
    * SOURCE column (record routing); order is what the task writer's
    * bound projections assume.
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
        new SnapshotDeltaWrite(spark, root, version, meta, keyCol, info)
    }
}

/** The delta write: tasks stream update/insert rows through the SAME
  * per-partition parquet task writer as every other v2 write into the
  * store (hidden `.inprog` files, rename on task commit) under a
  * `u<V>` root, and doomed keys into single-column key files under a
  * `d<V>` root; the driver commit publishes parent entries VERBATIM
  * plus the two record planes — one CAS manifest version, zero data
  * files touched. A CAS loser throws ([[SnapshotConflictException]]):
  * like the group replacement, a delta computed against a stale head
  * cannot be rebased safely (the matched set may have changed).
  */
final class SnapshotDeltaWrite(
    spark: SparkSession,
    root: JPath,
    version: Int,
    meta: SnapshotMeta.Meta,
    keyCol: String,
    info: LogicalWriteInfo) extends DeltaWrite
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
      val writeSchema = info.schema()
      // update/insert rows reach the writer op-coded (the task writer
      // drops nothing here — deletes never enter the u-plane), so the
      // INSERT-door mirror discipline applies to MERGE inserts only
      val uFactory = SnapshotWriteSupport.factory(spark, meta,
        writeSchema, uRoot, checkMirrors = true)
      val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
        new IllegalStateException(
          "delta write planned without a row ID schema"))
      val keyIdx = rowIdSchema.fieldIndex(keyCol)
      val keySchema = StructType(Seq(
        rowIdSchema.fields(keyIdx).copy(name = keyCol, nullable = true)))
      val srcCols = meta.partitionSchema.fields.toSeq.map { mf =>
        val c = mf.name.stripSuffix("_p")
        val i = rowIdSchema.fieldIndex(c)
        (i, rowIdSchema.fields(i).dataType, SnapshotTransforms.of(mf))
      }
      JFiles.createDirectories(dRoot)
      val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
      val owf = new ParquetFileFormat().prepareWrite(spark, job,
        Map.empty, keySchema)
      new SnapshotDeltaWriterFactory(uFactory, dRoot.toString, keySchema,
        keyIdx, meta.partitionSchema.fieldNames.toSeq, srcCols, owf,
        new SerializableConf(job.getConfiguration))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.toSeq.map(_.asInstanceOf[SnapshotDeltaCommit])
      // dir per pv is deterministic (shared roots), duplicates collapse
      val uDirs = ms.flatMap(_.uDirs).distinct.sortBy(_._1)
      val dDirs = ms.flatMap(_.dDirs).distinct.sortBy(_._1)
      if (uDirs.isEmpty && dDirs.isEmpty) {
        // statement matched nothing: legal no-op, no version published
        org.apache.commons.io.FileUtils.deleteQuietly(uRoot.toFile)
        org.apache.commons.io.FileUtils.deleteQuietly(dRoot.toFile)
        return
      }
      try SnapshotTxn.snapshotMorDeltaCommit(spark,
        root, version, uDirs, dDirs)
      catch {
        // ONLY a CAS loss may reclaim the roots: nothing references
        // them then. Any other failure could be post-publish (the
        // stats-sidecar write), when the dirs ARE referenced state —
        // leave them; vacuum never sweeps referenced dirs.
        case e: SnapshotTxn.SnapshotConflictException =>
          org.apache.commons.io.FileUtils.deleteQuietly(uRoot.toFile)
          org.apache.commons.io.FileUtils.deleteQuietly(dRoot.toFile)
          throw e
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      org.apache.commons.io.FileUtils.deleteQuietly(uRoot.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(dRoot.toFile)
    }
  }
}

/** Per-task commit: (pv → leaf dir) pairs for the two planes. */
private[sources] final case class SnapshotDeltaCommit(
    uDirs: Seq[(String, String)],
    dDirs: Seq[(String, String)]) extends WriterCommitMessage

private[sources] final class SnapshotDeltaWriterFactory(
    uFactory: org.apache.spark.sql.connector.write.DataWriterFactory,
    dRoot: String,
    keySchema: StructType,
    keyIdxInRowId: Int,
    mirrorNames: Seq[String],
    srcCols: Seq[(Int, org.apache.spark.sql.types.DataType,
      SnapshotTransforms.T)],
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConf) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new SnapshotDeltaTaskWriter(
      uFactory.createWriter(partitionId, taskId)
        .asInstanceOf[DataWriter[InternalRow]],
      dRoot, keySchema, keyIdxInRowId, mirrorNames, srcCols, owf,
      conf.conf, partitionId, taskId)
}

/** One task's delta writer: update/insert rows go op-coded into the
  * shared replace writer (one parquet file per touched partition, the
  * `.inprog`-then-rename task protocol); doomed keys stream into
  * single-column key files per OLD-row partition — the same file shape
  * the merge-on-read DELETE door writes, so the read plane's key
  * loader serves both unchanged.
  */
private[sources] final class SnapshotDeltaTaskWriter(
    uWriter: DataWriter[InternalRow],
    dRoot: String,
    keySchema: StructType,
    keyIdxInRowId: Int,
    mirrorNames: Seq[String],
    srcCols: Seq[(Int, org.apache.spark.sql.types.DataType,
      SnapshotTransforms.T)],
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: Configuration,
    partitionId: Int,
    taskId: Long) extends DeltaWriter[InternalRow] {

  private val ctx = new TaskAttemptContextImpl(new Configuration(conf),
    new TaskAttemptID(new TaskID(new org.apache.hadoop.mapreduce.JobID(
      "graft-delta", 0), TaskType.MAP, partitionId), 0))

  private val opRow = new GenericInternalRow(1)
  private val joined = new JoinedRow()
  private def coded(op: Int, row: InternalRow): InternalRow = {
    opRow.setInt(0, op)
    joined(opRow, row)
  }

  private val dWriters = mutable.HashMap.empty[String, OutputWriter]
  private val dDirs = mutable.HashMap.empty[String, String]
  private val dPending = mutable.Buffer.empty[(JPath, JPath)]

  private lazy val keyProj: UnsafeProjection = UnsafeProjection.create(
    Array(BoundReference(keyIdxInRowId, keySchema.fields(0).dataType,
      nullable = true): Expression))

  /** Record `id`'s key as doomed under the OLD row's partition value
    * (derived from the id's source columns through the layout's
    * transforms — the same routing every store writer uses).
    */
  private def doom(id: InternalRow): Unit = {
    val vals = srcCols.map { case (i, dt, t) =>
      ExternalCatalogUtils.escapePathName(
        SnapshotRowRouting.routedValue(id, i, dt, t))
    }
    val pv = vals.mkString("/")
    val w = dWriters.getOrElseUpdate(pv, {
      val leaf = mirrorNames.zip(vals)
        .map { case (m, v) => s"$m=$v" }.mkString("/")
      val dir = s"$dRoot/$leaf"
      JFiles.createDirectories(java.nio.file.Paths.get(dir))
      dDirs(pv) = dir
      val ext = owf.getFileExtension(ctx)
      val tmp = java.nio.file.Paths.get(
        s"$dir/.inprog-keys-$partitionId-$taskId$ext")
      dPending += tmp -> java.nio.file.Paths.get(
        s"$dir/keys-$partitionId-$taskId$ext")
      owf.newInstance(tmp.toString, keySchema, ctx)
    })
    w.write(keyProj(id))
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    doom(id)

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    doom(id)
    uWriter.write(coded(RowDeltaUtils.UPDATE_OPERATION, row))
  }

  override def insert(row: InternalRow): Unit =
    uWriter.write(coded(RowDeltaUtils.INSERT_OPERATION, row))

  override def commit(): WriterCommitMessage = {
    dWriters.values.foreach(_.close())
    dPending.foreach { case (tmp, fin) =>
      JFiles.move(tmp, fin, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val um = uWriter.commit().asInstanceOf[SnapshotReplaceCommit]
    SnapshotDeltaCommit(um.pvDirs, dDirs.toSeq)
  }

  override def abort(): Unit = {
    dWriters.values.foreach { w =>
      try w.close() catch { case _: Throwable => () }
    }
    dPending.foreach { case (tmp, _) => JFiles.deleteIfExists(tmp) }
    uWriter.abort()
  }

  override def close(): Unit = ()
}
