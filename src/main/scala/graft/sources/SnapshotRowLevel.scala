package graft.sources

import java.nio.file.{Files => JFiles, Path => JPath}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, BoundReference, EqualNullSafe => CEqualNullSafe, EqualTo => CEqualTo, Expression, GreaterThan => CGreaterThan, GreaterThanOrEqual => CGreaterThanOrEqual, In => CIn, IsNotNull => CIsNotNull, LessThan => CLessThan, LessThanOrEqual => CLessThanOrEqual, Literal, Or => COr, Predicate => CPredicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.sources.{AlwaysFalse => FAlwaysFalse, AlwaysTrue => FAlwaysTrue, And => FAnd, EqualNullSafe => FEqualNullSafe, EqualTo => FEqualTo, Filter => V1Filter, GreaterThan => FGreaterThan, GreaterThanOrEqual => FGreaterThanOrEqual, In => FIn, IsNotNull => FIsNotNull, LessThan => FLessThan, LessThanOrEqual => FLessThanOrEqual, Or => FOr}
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, StructType}

/** SQL `UPDATE` / `MERGE INTO` / predicate-`DELETE` on the snapshot
  * store — the GROUP-BASED copy-on-write row-level operation (the
  * Iceberg `SparkCopyOnWriteOperation` shape, rebuilt on the store's
  * manifest plane), where a GROUP is one partition:
  *
  *  1. Spark's `RewriteUpdateTable` / `RewriteMergeIntoTable` /
  *     `RewriteDeleteFromTable` rewrite the statement into
  *     `ReplaceData`: read the FULL rows of every affected partition,
  *     apply the assignment/merge/delete logic per row, write the
  *     result back as the partitions' replacement.
  *  2. Group selection has three narrowing planes, all landing on the
  *     scan's `partitionFilters` (manifest-evaluated, zero listings):
  *     statically pushed partition-mirror conjuncts
  *     ([[SnapshotRowLevelScanBuilder.pushFilters]]), and Spark's
  *     runtime group filter — a subquery computing the DISTINCT
  *     partition values of MATCHED rows, delivered through
  *     `SupportsRuntimeV2Filtering` ([[SnapshotRowLevelScan.filter]]).
  *     An `UPDATE … WHERE o_totalprice > x` therefore rewrites only
  *     the partitions that actually contain matching rows.
  *  3. The write is a real DSv2 `BatchWrite`: tasks stream rows into
  *     per-partition parquet files under a committer-private attempt
  *     root (the store's write-once discipline — racers can never
  *     interleave files), using the stock `ParquetFileFormat` output
  *     writers, so the files are bit-compatible with the door's.
  *  4. The driver commit publishes `parent − replacedGroups ∪
  *     writtenDirs` through the SAME manifest-CAS plane as every
  *     other commit (one version per statement, file-stats sidecar
  *     maintained at O(touched)). A concurrent commit since the scan
  *     fails the CAS loudly: unlike the door's key-based deltas, a
  *     group replacement computed against a stale head cannot be
  *     rebased safely.
  *
  * CORRECTNESS INVARIANT (the one that matters): the replaced-group
  * set and the rows the scan read must agree — a partition dropped
  * from the manifest that the scan never read would be silent data
  * loss. Both sides therefore derive from the SAME expression list:
  * the final `partitionFilters` of the scan instance the engine
  * actually filtered, evaluated against the SAME manifest values the
  * scan's `FileIndex` pruned with ([[SnapshotRowLevelOperation
  * .replacedGroups]]). Pushed filters are reported as fully residual
  * and are used ONLY for partition pruning — letting the update
  * condition reach the parquet reader as a data filter could drop
  * whole row groups of NON-matching rows from a partition that is
  * being rewritten, which is exactly that data-loss shape.
  *
  * Rows may legally MOVE partitions (`SET o_ym = …`): rewritten rows
  * landing in a partition that was NOT part of the replaced set merge
  * with its existing files by hard-linking them into the new dir
  * (write-once files — a link is safe sharing, the same trick
  * time-travel uses), with a copy fallback for filesystems without
  * link support.
  *
  * At 100 TB: a statement costs O(affected partitions) read + write
  * plus one manifest swap — never O(table) unless the predicate
  * really touches every partition; group determination is
  * metadata-plane (manifest values in memory, no listings).
  *
  * Documented limits (both the Delta/Iceberg stance — no table
  * constraints are enforced by rewrites):
  *
  *  - a layout MIRROR column value (`o_ym_p`) supplied by `SET` or a
  *    MERGE INSERT is superseded by the derived layout: mirrors are
  *    computed from their source columns and dropped from the files,
  *    so reads always serve mirror == source (consistent, measured) —
  *    assign the SOURCE column (`o_ym`) to move rows. The writer
  *    cannot refuse a divergent mirror per-row because a legal
  *    source-column move leaves the mirror stale in exactly the same
  *    shape (rows that DO arrive tagged `INSERT_OPERATION` with a
  *    divergent mirror are refused as defense-in-depth, but current
  *    group-based rewrites tag inserts as plain writes).
  *  - `SET` on the store's KEY column is the caller's responsibility:
  *    the rewrite replaces groups verbatim and does not scan
  *    untouched partitions for key collisions (global uniqueness
  *    would cost O(table) per statement). The keyed-upsert semantics
  *    of the INSERT/streaming doors are per-statement semantics, not
  *    an enforced table constraint — the SQL standard's UPDATE with
  *    no PRIMARY KEY declared.
  */
final class SnapshotRowLevelOperation(
    spark: SparkSession,
    root: JPath,
    version: Int,
    meta: SnapshotMeta.Meta,
    readTable: SnapshotReadFileTable,
    cmd: Command) extends RowLevelOperation {

  private[sources] val partSchema: StructType = meta.partitionSchema

  /** Live merge-on-read delete records of the scanned version: the
    * group rewrite MUST read through the anti-filter — a replaced
    * partition's records drop with its dir change, and an unfiltered
    * read would materialize every doomed key back to life.
    */
  private[sources] def deleteState: Option[SnapshotDeletes.State] =
    readTable.deleteState

  /** Every scan built for this operation (the group-read scan and the
    * runtime group-filter subquery's scan are separate instances with
    * identical static narrowing).
    */
  private[sources] val builtScans =
    mutable.Buffer.empty[SnapshotRowLevelScan]

  /** The instance the engine runtime-filtered — the group-read scan. */
  @volatile private[sources] var filteredScan:
    Option[SnapshotRowLevelScan] = None

  override def command(): Command = cmd

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new SnapshotRowLevelScanBuilder(this,
      readTable.newRawScanBuilder(options), readTable.renameChains)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new SnapshotReplaceWrite(SnapshotRowLevelOperation.this, spark,
          root, version, meta, info)
    }

  /** The partitions this statement replaces: the manifest pvs
    * satisfying the group-read scan's FINAL partition filters — the
    * same expressions, evaluated over the same typed manifest values
    * ([[SnapshotPartitionValues]]), that pruned the scan itself.
    */
  private[sources] def replacedGroups(): Set[String] = {
    val scan = filteredScan.orElse(builtScans.lastOption).getOrElse(
      throw new IllegalStateException(
        "row-level write committed with no planned scan"))
    SnapshotRowLevel.matchingPvs(scan.partitionFilters, partSchema,
      SnapshotManifest.read(root, version).keySet)
  }
}

final class SnapshotRowLevelOperationBuilder(
    spark: SparkSession, root: JPath, version: Int,
    meta: SnapshotMeta.Meta, readTable: SnapshotReadFileTable,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new SnapshotRowLevelOperation(spark, root, version, meta, readTable,
      info.command)
}

/** Wraps the stock [[ParquetScanBuilder]]. Pushed filters are used
  * ONLY to extract partition-mirror conjuncts (group pruning) and are
  * reported fully residual — see the data-loss note on
  * [[SnapshotRowLevelOperation]].
  */
final class SnapshotRowLevelScanBuilder(
    op: SnapshotRowLevelOperation,
    inner: ParquetScanBuilder,
    chains: Map[String, Seq[String]] = Map.empty)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var partFilters: Seq[Expression] = Nil

  override def pushFilters(filters: Array[V1Filter]): Array[V1Filter] = {
    partFilters = filters.toSeq.flatMap(f =>
      SnapshotRowLevel.v1ToPartitionExpr(f, op.partSchema))
    filters
  }

  override def pushedFilters(): Array[V1Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // under rename history the footer-facing read needs the former
    // names of every requested renamed field ([[SnapshotRename]])
    inner.pruneColumns(
      if (chains.isEmpty) requiredSchema
      else SnapshotRename.physicalSchema(requiredSchema, chains))

  override def build(): Scan = {
    val base = inner.build().asInstanceOf[ParquetScan]
    val scan = new SnapshotRowLevelScan(op,
      base.copy(partitionFilters = base.partitionFilters ++ partFilters),
      chains)
    op.builtScans += scan
    scan
  }
}

/** The group-read scan: delegates to a [[ParquetScan]] and accepts
  * Spark's runtime group filter, rebuilding the delegate with the
  * narrowed partition filters (the scan's batch is planned lazily, so
  * the narrowing lands before any split enumeration).
  */
final class SnapshotRowLevelScan(
    op: SnapshotRowLevelOperation,
    private var current: ParquetScan,
    chains: Map[String, Seq[String]] = Map.empty)
  extends Scan with SupportsRuntimeV2Filtering {

  private[sources] def partitionFilters: Seq[Expression] =
    current.partitionFilters

  override def readSchema(): StructType =
    if (chains.isEmpty) current.readSchema()
    else SnapshotRename.logicalOf(current.readSchema(), chains)

  override def toBatch: Batch = {
    val base =
      if (chains.isEmpty) current.toBatch
      else new SnapshotRenameBatch(current.toBatch,
        current.readSchema(), chains)
    op.deleteState match {
      case None => base
      case Some(st) =>
        // the rewrite reads FULL rows, so the key is always present —
        // no schema injection; records scoped to the groups this scan
        // actually reads (same filters `replacedGroups` evaluates)
        val pvs = SnapshotRowLevel.matchingPvs(current.partitionFilters,
          op.partSchema, st.records.keySet)
        val dirs = pvs.toSeq.sorted.flatMap(st.records(_)).distinct
        if (dirs.isEmpty) base
        else {
          val rs = readSchema()
          new SnapshotDeleteBatch(base, rs,
            rs.fieldIndex(st.keyField.name), st.keyField.dataType,
            dropInjectedKey = false, dirs, new SerializableConf(
              org.apache.spark.sql.SparkSession.active
                .sparkContext.hadoopConfiguration))
        }
    }
  }

  override def description(): String =
    s"graft-snapshot-row-level(${current.description()})"

  /** ONE attribute, the leading partition column, even on multi-column
    * layouts: Spark builds a single dynamic-pruning subquery over ALL
    * declared attributes, and a multi-key IN-subquery has no V2
    * predicate form — the engine then silently drops the runtime
    * filter and `filter` never fires (measured). A single-key subquery
    * always translates, so a two-column layout still narrows by its
    * leading column (all event types of the matched days) instead of
    * not at all.
    *
    * The declared attribute must exist in the SCAN OUTPUT:
    * `RowLevelOperationRuntimeGroupFiltering` resolves it against the
    * table's rows and FAILS the statement on a miss (not a silent
    * skip). A HIDDEN transform mirror (days/bucket layout) is never
    * in the output, so a hidden-partitioned table declares its first
    * VISIBLE mirror — or none: the rewrite then replaces every
    * statically-matched group, which is correct (the scan read them
    * all) just unnarrowed.
    */
  override def filterAttributes(): Array[NamedReference] = {
    val visible = readSchema().fieldNames.toSet
    op.partSchema.fieldNames.find(visible.contains)
      .map(c => Array(Expressions.column(c)))
      .getOrElse(Array.empty)
  }

  override def filter(predicates: Array[V2Predicate]): Unit = {
    val exprs = predicates.toSeq.flatMap(p =>
      SnapshotRowLevel.v2ToPartitionExpr(p, op.partSchema))
    // untranslatable runtime predicates are legally ignored (the scan
    // reads MORE groups; replacedGroups sees the same filter list, so
    // scan and commit still agree)
    if (exprs.nonEmpty)
      current = current.copy(
        partitionFilters = current.partitionFilters ++ exprs)
    op.filteredScan = Some(this)
  }
}

private[sources] object SnapshotRowLevel {
  private def attr(name: String, schema: StructType): AttributeReference =
    AttributeReference(name, schema(schema.fieldNames.indexOf(name)).dataType)()

  private def isPartCol(name: String, schema: StructType): Boolean =
    schema.fieldNames.contains(name)

  /** The pvs satisfying `filters`, evaluated over the typed manifest
    * values — one predicate bound by NAME against the partition
    * schema, the same evaluation the scan's index pruning performs.
    */
  def matchingPvs(filters: Seq[Expression], partSchema: StructType,
                  pvs: Set[String]): Set[String] =
    if (filters.isEmpty) pvs
    else {
      val bound = filters.reduce(CAnd).transform {
        case a: AttributeReference =>
          val i = partSchema.fieldNames.indexOf(a.name)
          require(i >= 0, s"non-partition filter column ${a.name}")
          BoundReference(i, partSchema.fields(i).dataType, nullable = true)
      }
      val pred = CPredicate.createInterpreted(bound)
      pvs.filter(pv => pred.eval(SnapshotPartitionValues.row(pv, partSchema)))
    }

  /** STRICT v1→partition translation for overwrite scoping: unlike
    * [[v1ToPartitionExpr]] (pruning, where dropping a conjunct is
    * sound), an overwrite's replaced set must match the filter
    * EXACTLY — any untranslatable piece refuses the whole filter
    * (None), which surfaces as `canOverwrite = false`.
    */
  def v1ToPartitionExprStrict(f: V1Filter, ps: StructType)
      : Option[Expression] = f match {
    case FAnd(l, r) =>
      for {
        a <- v1ToPartitionExprStrict(l, ps)
        b <- v1ToPartitionExprStrict(r, ps)
      } yield CAnd(a, b)
    case FOr(l, r) =>
      for {
        a <- v1ToPartitionExprStrict(l, ps)
        b <- v1ToPartitionExprStrict(r, ps)
      } yield COr(a, b)
    case atom =>
      // atoms: the pruning translator is already exact for these (it
      // only weakens inside ANDs/ORs, handled structurally above)
      v1ToPartitionExpr(atom, ps) match {
        case some @ Some(_)
          if atom.references.forall(isPartCol(_, ps)) => some
        case _ => None
      }
  }

  /** V1 filter → partition-pruning expression. Conservative by
    * construction: for AND, any translatable side is a NECESSARY
    * condition (sound to prune with); for OR both sides must
    * translate; anything else drops (no pruning — still correct).
    */
  def v1ToPartitionExpr(f: V1Filter, ps: StructType): Option[Expression] =
    f match {
      case FEqualTo(a, v) if isPartCol(a, ps) =>
        Some(CEqualTo(attr(a, ps), Literal(v)))
      case FEqualNullSafe(a, v) if isPartCol(a, ps) =>
        // the spelling a static PARTITION (col = value) clause arrives in
        Some(CEqualNullSafe(attr(a, ps), Literal(v)))
      case FIn(a, vs) if isPartCol(a, ps) =>
        Some(CIn(attr(a, ps), vs.toIndexedSeq.map(Literal(_))))
      case FGreaterThan(a, v) if isPartCol(a, ps) =>
        Some(CGreaterThan(attr(a, ps), Literal(v)))
      case FGreaterThanOrEqual(a, v) if isPartCol(a, ps) =>
        Some(CGreaterThanOrEqual(attr(a, ps), Literal(v)))
      case FLessThan(a, v) if isPartCol(a, ps) =>
        Some(CLessThan(attr(a, ps), Literal(v)))
      case FLessThanOrEqual(a, v) if isPartCol(a, ps) =>
        Some(CLessThanOrEqual(attr(a, ps), Literal(v)))
      case FIsNotNull(a) if isPartCol(a, ps) =>
        Some(CIsNotNull(attr(a, ps)))
      case _: FAlwaysTrue => Some(Literal(true))
      case _: FAlwaysFalse => Some(Literal(false))
      case FAnd(l, r) =>
        (v1ToPartitionExpr(l, ps), v1ToPartitionExpr(r, ps)) match {
          case (Some(a), Some(b)) => Some(CAnd(a, b))
          case (one, other) => one.orElse(other)
        }
      case FOr(l, r) =>
        for {
          a <- v1ToPartitionExpr(l, ps)
          b <- v1ToPartitionExpr(r, ps)
        } yield COr(a, b)
      case _ => None
    }

  /** Runtime V2 predicate → partition expression. The group filter
    * arrives as `IN`/`=` over a partition column with literal values
    * already in Catalyst internal form.
    */
  def v2ToPartitionExpr(p: V2Predicate, ps: StructType): Option[Expression] = {
    def ref(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 &&
        isPartCol(n.fieldNames.head, ps) => Some(n.fieldNames.head)
      case _ => None
    }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Literal] = e match {
      case l: V2Literal[_] => Some(Literal(l.value, l.dataType))
      case _ => None
    }
    p.name() match {
      case "IN" =>
        val ch = p.children()
        for {
          a <- ref(ch.head)
          vs <- Some(ch.tail.toIndexedSeq.flatMap(lit))
          if vs.length == ch.length - 1
        } yield CIn(attr(a, ps), vs)
      case "=" =>
        val ch = p.children()
        for (a <- ref(ch(0)); v <- lit(ch(1)))
          yield CEqualTo(attr(a, ps), v)
      case "AND" =>
        val ch = p.children().map(_.asInstanceOf[V2Predicate])
        (v2ToPartitionExpr(ch(0), ps), v2ToPartitionExpr(ch(1), ps)) match {
          case (Some(a), Some(b)) => Some(CAnd(a, b))
          case (one, other) => one.orElse(other)
        }
      case _ => None
    }
  }
}

/** The replace-data write: a DSv2 `BatchWrite` whose tasks stream rows
  * into per-partition parquet files under a private attempt root, and
  * whose driver commit swaps the replaced groups in one CAS manifest
  * publish. See [[SnapshotRowLevelOperation]] for the protocol.
  */
final class SnapshotReplaceWrite(
    op: SnapshotRowLevelOperation,
    spark: SparkSession,
    root: JPath,
    version: Int,
    meta: SnapshotMeta.Meta,
    info: LogicalWriteInfo) extends Write
  with SnapshotClusteredWrite {

  override protected def writeMeta: SnapshotMeta.Meta = meta

  override def description(): String = s"graft-snapshot-replace v$version"

  override def toBatch: BatchWrite = new BatchWrite {
    // named exactly like the door's attempt roots (d<V>-<hex8>) so
    // snapshotVacuum's unreferenced-leaf sweep covers aborted or
    // CAS-lost row-level writes too
    private val attemptRoot = root.resolve(
      s"d${version + 1}-${java.util.UUID.randomUUID.toString.take(8)}")

    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo)
        : DataWriterFactory =
      SnapshotWriteSupport.factory(spark, meta, info.schema(),
        attemptRoot, checkMirrors = false)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val newEntries: Map[String, String] = messages.toSeq
        .flatMap(_.asInstanceOf[SnapshotReplaceCommit].pvDirs)
        .toMap // dir per pv is deterministic, duplicates collapse
      val replaced = op.replacedGroups()
      val parent = SnapshotManifest.read(root, version)
      // rows MOVED into a partition outside the replaced set: its
      // existing files must survive — link them into the new dir
      // (write-once files, safe sharing; copy fallback)
      newEntries.foreach { case (pv, dir) =>
        // rows may not MOVE into a partition carrying live
        // merge-on-read delete records: the old files link in
        // verbatim but the records drop with the dir change, and a
        // MERGE-inserted row re-using a doomed key would collide with
        // kept records either way. Rare (a cross-partition move into
        // a deleted-from partition) and loudly fixable: compact first.
        if (!replaced.contains(pv))
          require(!op.deleteState.exists(_.records.contains(pv)),
            s"rows moved into partition $pv, which carries " +
              "merge-on-read delete records — materialize them with " +
              "CALL snap.compact first")
        if (!replaced.contains(pv)) parent.get(pv).foreach { oldDir =>
          SnapshotFiles.listDataFiles(
            spark.sparkContext.hadoopConfiguration, oldDir)
            .foreach { st =>
              val src = java.nio.file.Paths.get(
                st.getPath.toUri.getPath)
              // carry- prefix + fresh uuid: the receiving dir may hold
              // same-named files from an earlier session's row-level
              // write (task ids restart per application), and a name
              // collision would fail the whole statement
              val dst = java.nio.file.Paths.get(dir).resolve(
                s"carry-${java.util.UUID.randomUUID.toString.take(8)}-" +
                  src.getFileName)
              try JFiles.createLink(dst, src)
              catch {
                case _: UnsupportedOperationException =>
                  JFiles.copy(src, dst)
              }
            }
        }
      }
      SnapshotTxn.snapshotReplacePartitions(spark,
        root, version, replaced, newEntries,
        // stats profile under the EFFECTIVE schema: files written after
        // an ADD COLUMN carry the evolved columns, and profiling with
        // the bootstrap schema would leave them permanently unskippable
        StructType(SnapshotManifest
          .effectiveDataSchema(root, meta.dataSchema)
          .fields.map(_.copy(nullable = true))))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(attemptRoot.toFile)
  }
}

/** WRITE-SIDE CLUSTERING, shared by every v2 batch write into the
  * store: require rows hash-clustered by the layout (each mirror as
  * its transform over the source column — [[SnapshotFunctions
  * .clusterExprs]]) and sorted within tasks by (layout, table key).
  * One shuffle buys the file-count bound that matters at 100 TB: each
  * partition value is written by exactly ONE task, so a commit
  * produces O(touched partitions) files instead of up to
  * O(tasks × partitions) — the difference between a manifest that
  * grows with data and one that grows with parallelism. Transform
  * clustering resolves through the catalog's [[SnapshotFunctions]]
  * (the relation's `funCatalog`); on a relation without one (never
  * the case for catalog-served tables) Spark raises a clear analysis
  * error rather than writing unclustered.
  */
private[sources] trait SnapshotClusteredWrite
  extends org.apache.spark.sql.connector.write
    .RequiresDistributionAndOrdering {

  protected def writeMeta: SnapshotMeta.Meta

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    val exprs = SnapshotFunctions.clusterExprs(writeMeta.partitionSchema)
    if (exprs.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions
        .unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions
      .clustered(exprs)
  }

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    SnapshotFunctions.requiredOrdering(writeMeta.partitionSchema,
      writeMeta.keyCol)

  // 0 = let Spark size the shuffle (spark.sql.shuffle.partitions /
  // AQE coalescing); pinning a count here would fight AQE at scale
  override def requiredNumPartitions(): Int = 0

  /** Advisory, not strict: Spark plans a REBALANCE on the clustering
    * keys instead of a hard hash repartition, which lets AQE both
    * coalesce small partitions AND SPLIT a skewed one — a 1 TB hot
    * partition writes through several tasks (several files, each
    * data-sized) instead of one task owning the whole value. File
    * count stays O(data / target-size), never O(tasks × partitions);
    * at test sizes nothing splits, so the one-file-per-partition
    * bound below still pins the clustering.
    */
  override def distributionStrictlyRequired(): Boolean = false
}

/** Shared task-writer construction for every v2 batch write into the
  * store (the row-level replace and the overwrite door).
  */
private[sources] object SnapshotWriteSupport {
  def factory(spark: SparkSession, meta: SnapshotMeta.Meta,
              writeSchema: StructType, attemptRoot: JPath,
              checkMirrors: Boolean): DataWriterFactory = {
    JFiles.createDirectories(attemptRoot)
    val mirrorNames = meta.partitionSchema.fieldNames.toSeq
    val fileSchema = StructType(
      writeSchema.fields.filterNot(f => mirrorNames.contains(f.name)))
    // partition routing reads the SOURCE columns (post-update values —
    // a SET that moves a row's partition routes by the NEW value; the
    // mirrors in the write schema are stale by definition there),
    // deriving the dir value through the mirror's declared TRANSFORM
    // (identity verbatim, days/bucket compute f(source))
    val srcCols = meta.partitionSchema.fields.toSeq.map { mf =>
      val c = mf.name.stripSuffix("_p")
      val i = writeSchema.fieldNames.indexOf(c)
      require(i >= 0, s"partition source column $c missing from write " +
        s"schema ${writeSchema.fieldNames.mkString(",")}")
      (i, writeSchema.fields(i).dataType, SnapshotTransforms.of(mf))
    }
    srcCols.foreach {
      case (_, dt, SnapshotTransforms.Identity) =>
        require(dt == StringType || dt == DateType || dt == IntegerType ||
          dt == LongType, s"unsupported partition column type $dt")
      case (_, dt, SnapshotTransforms.Days | SnapshotTransforms.Months |
                   SnapshotTransforms.Years) =>
        require(dt == DateType ||
          dt == org.apache.spark.sql.types.TimestampType,
          s"days/months/years over unsupported source type $dt")
      case (_, dt, SnapshotTransforms.Hours) =>
        require(dt == org.apache.spark.sql.types.TimestampType,
          s"hours over unsupported source type $dt")
      case (_, dt, SnapshotTransforms.Bucket(_)) =>
        require(dt == StringType || dt == IntegerType || dt == LongType ||
          dt == org.apache.spark.sql.types.ByteType ||
          dt == org.apache.spark.sql.types.ShortType,
          s"bucket over unsupported source type $dt")
      case (_, dt, SnapshotTransforms.Truncate(_)) =>
        require(dt == StringType,
          s"truncate over unsupported source type $dt")
    }
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val owf = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty, fileSchema)
    new SnapshotReplaceWriterFactory(attemptRoot.toString, writeSchema,
      fileSchema, mirrorNames, srcCols, owf,
      new SerializableConf(job.getConfiguration), checkMirrors,
      spark.sessionState.conf.sessionLocalTimeZone)
  }
}

/** Plain `INSERT INTO` as a v2 write: tasks stage the delta as
  * per-partition parquet (hidden-temp protocol, mirror values
  * verified per row — the INSERT-door discipline), and the driver
  * commit reads the staged delta back and hands it to
  * [[SnapshotDoor.commit]] — the SAME keyed-upsert path, CAS retry
  * loop and rebase included, that the DataFrame writer and streaming
  * sink use. The staging round-trip is delta-sized (never
  * table-sized); in exchange the insert query executes exactly once
  * as distributed tasks, and the table needs no V1 write capability
  * (declaring `V1_BATCH_WRITE` would force EVERY write through V1,
  * and the dynamic-overwrite plan has no V1 fallback).
  */
final class SnapshotAppendWrite(
    spark: SparkSession,
    root: JPath,
    meta: SnapshotMeta.Meta,
    doorParams: Map[String, String],
    info: LogicalWriteInfo) extends Write
  with SnapshotClusteredWrite {

  override protected def writeMeta: SnapshotMeta.Meta = meta

  override def description(): String = s"graft-snapshot-append"

  override def toBatch: BatchWrite = new BatchWrite {
    private val staging = root.resolve(
      s".staging-${java.util.UUID.randomUUID.toString.take(8)}")

    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo)
        : DataWriterFactory =
      SnapshotWriteSupport.factory(spark, meta, info.schema(),
        staging, checkMirrors = true)

    override def commit(messages: Array[WriterCommitMessage]): Unit =
      try {
        val dirs = messages.toSeq
          .flatMap(_.asInstanceOf[SnapshotReplaceCommit].pvDirs)
          .map(_._2).distinct
        val mirrorNames = meta.partitionSchema.fieldNames.toSet
        val fileSchema = StructType(
          info.schema().fields.filterNot(f => mirrorNames(f.name)))
        val delta =
          if (dirs.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              fileSchema)
          else spark.read.schema(fileSchema).parquet(dirs: _*)
        // the staged rows are ALREADY leaf-clustered (the v2 writer's
        // RequiresDistributionAndOrdering hashed them on the layout
        // before staging, and the staged read serves them file by
        // file), so the door's default re-distribution would shuffle
        // perfectly-clustered rows for the same file count — measured
        // as a 2× INSERT regression on a days×bucket layout (round 16)
        SnapshotDoor.commit(spark,
          doorParams + ("distribution" -> "none"), delta, txn = None)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        staging.toFile)

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(staging.toFile)
  }
}

/** `INSERT OVERWRITE` as VERSIONED partition replacement — overwrite
  * in a snapshot store never destroys history (that refusal belonged
  * to the pre-versioning door): it publishes one new version whose
  * manifest replaces exactly the overwritten scope, with every prior
  * version still time-travelable.
  *
  *  - STATIC (`overwrite(filters)`, from `INSERT OVERWRITE … PARTITION
  *    (…)` or `writeTo(t).overwrite(cond)`): the filters must
  *    translate EXACTLY onto partition columns
  *    ([[SnapshotRowLevel.v1ToPartitionExprStrict]] — an
  *    over-approximate scope would silently replace extra
  *    partitions); replaced = the matching manifest partitions,
  *    written rows must all land inside that scope, and a matched
  *    partition receiving no rows drops out (the overwrite cleared
  *    it). A bare `INSERT OVERWRITE t SELECT …` arrives as
  *    `AlwaysTrue` = whole-table replacement, still one version.
  *  - DYNAMIC (`overwriteDynamicPartitions()`, under
  *    `spark.sql.sources.partitionOverwriteMode=dynamic`): replaced =
  *    exactly the partitions present in the written data — the Delta
  *    `replaceWhere`-less dynamic overwrite shape.
  *
  * Tasks stream through the same hidden-temp writer protocol as the
  * row-level path (mirror values verified against their sources —
  * these rows carry no op column, so the INSERT-door discipline
  * applies per row), and the commit is one CAS manifest publish at
  * O(replaced + written).
  */
final class SnapshotOverwriteWrite(
    spark: SparkSession,
    root: JPath,
    version: Int,
    meta: SnapshotMeta.Meta,
    info: LogicalWriteInfo,
    staticFilters: Option[Array[V1Filter]]) extends Write
  with SnapshotClusteredWrite {

  override protected def writeMeta: SnapshotMeta.Meta = meta

  override def description(): String =
    s"graft-snapshot-overwrite v$version " +
      staticFilters.map(_.mkString(",")).getOrElse("dynamic")

  override def toBatch: BatchWrite = new BatchWrite {
    private val attemptRoot = root.resolve(
      s"d${version + 1}-${java.util.UUID.randomUUID.toString.take(8)}")

    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo)
        : DataWriterFactory =
      SnapshotWriteSupport.factory(spark, meta, info.schema(),
        attemptRoot, checkMirrors = true)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val newEntries: Map[String, String] = messages.toSeq
        .flatMap(_.asInstanceOf[SnapshotReplaceCommit].pvDirs).toMap
      val ps = meta.partitionSchema
      val manifest = SnapshotManifest.read(root, version)
      val replaced: Set[String] = staticFilters match {
        case None => newEntries.keySet // dynamic: what the data touched
        case Some(fs) =>
          val exprs = fs.toSeq.map(f =>
            SnapshotRowLevel.v1ToPartitionExprStrict(f, ps).getOrElse(
              throw new UnsupportedOperationException(
                s"overwrite filter $f does not translate exactly to " +
                  "partition columns")))
          val inScope =
            SnapshotRowLevel.matchingPvs(exprs, ps, newEntries.keySet)
          require(inScope == newEntries.keySet,
            s"rows written outside the overwritten scope: " +
              s"${(newEntries.keySet -- inScope).mkString(", ")}")
          SnapshotRowLevel.matchingPvs(exprs, ps, manifest.keySet)
      }
      SnapshotTxn.snapshotReplacePartitions(spark,
        root, version, replaced, newEntries,
        // stats profile under the EFFECTIVE schema: files written after
        // an ADD COLUMN carry the evolved columns, and profiling with
        // the bootstrap schema would leave them permanently unskippable
        StructType(SnapshotManifest
          .effectiveDataSchema(root, meta.dataSchema)
          .fields.map(_.copy(nullable = true))))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(attemptRoot.toFile)
  }
}

/** Per-task commit: the (partitionValue → leaf dir) pairs this task
  * wrote files under.
  */
final case class SnapshotReplaceCommit(pvDirs: Seq[(String, String)])
  extends WriterCommitMessage

final class SnapshotReplaceWriterFactory(
    attemptRoot: String,
    writeSchema: StructType,
    fileSchema: StructType,
    mirrorNames: Seq[String],
    srcCols: Seq[(Int, org.apache.spark.sql.types.DataType,
      SnapshotTransforms.T)],
    owf: OutputWriterFactory,
    conf: SerializableConf,
    checkMirrors: Boolean = false,
    timeZoneId: String = "UTC") extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new SnapshotReplaceDataWriter(attemptRoot, writeSchema, fileSchema,
      mirrorNames, srcCols, owf, conf.conf, partitionId, taskId,
      checkMirrors, timeZoneId)
}

/** Streams rows into one parquet file per partition value this task
  * sees (stock [[ParquetFileFormat]] writers — bit-compatible with the
  * door's files). File names carry the task id, so parallel tasks
  * writing the same partition never collide.
  */
final class SnapshotReplaceDataWriter(
    attemptRoot: String,
    writeSchema: StructType,
    fileSchema: StructType,
    mirrorNames: Seq[String],
    srcCols: Seq[(Int, org.apache.spark.sql.types.DataType,
      SnapshotTransforms.T)],
    owf: OutputWriterFactory,
    conf: Configuration,
    partitionId: Int,
    taskId: Long,
    checkMirrors: Boolean = false,
    timeZoneId: String = "UTC") extends DataWriter[InternalRow] {

  private val ctx = new TaskAttemptContextImpl(new Configuration(conf),
    new TaskAttemptID(new TaskID(new org.apache.hadoop.mapreduce.JobID(
      "graft-rl", 0), TaskType.MAP, partitionId), 0))

  /** Physical rows may lead with Spark's `__row_operation` op-code
    * column: `ReplaceDataExec` only applies its row projection when
    * the operation declared metadata attributes (the
    * `DataAndMetadataWritingSparkTask` branch) — with none, the raw
    * rewrite output reaches the writer. Sniffed from the first row's
    * arity and pinned for the task; op-code `DELETE_OPERATION` rows
    * (a MERGE's deleted rows) are dropped, every other code writes.
    */
  private var opOffset: Int = -1

  private def resolveOffset(row: InternalRow): Unit = {
    opOffset = row.numFields - writeSchema.length match {
      case 0 => 0
      case 1 => 1
      case d => throw new IllegalStateException(
        s"row-level write row has ${row.numFields} fields for " +
          s"${writeSchema.length}-column schema (delta $d)")
    }
  }

  // projection to the FILE schema (mirrors dropped — the dir name is
  // the layout, exactly like the door's partitionBy writes)
  private lazy val project: UnsafeProjection = UnsafeProjection.create(
    fileSchema.fieldNames.toIndexedSeq.map { n =>
      val i = writeSchema.fieldNames.indexOf(n)
      BoundReference(i + opOffset, writeSchema.fields(i).dataType,
        nullable = true): Expression
    })

  private val writers = mutable.HashMap.empty[String, OutputWriter]
  private val dirs = mutable.HashMap.empty[String, String]
  // task-commit protocol: stream into HIDDEN .inprog files (invisible
  // to every reader and to the driver commit's dir publish), rename to
  // the visible name only in commit(). A failed or speculative task
  // attempt therefore can never leave a visible partial file in a dir
  // the driver publishes — the same discipline as the mr-out
  // connector's task-temp + rename (task ids are attempt-unique and
  // the commit coordinator admits one attempt per task, so the rename
  // target never collides)
  private val pending = mutable.Buffer.empty[(JPath, JPath)]

  private def partValue(row: InternalRow, i: Int,
                        dt: org.apache.spark.sql.types.DataType): String =
    SnapshotRowRouting.partValue(row, i, dt)

  private def routedValue(row: InternalRow, i: Int,
      dt: org.apache.spark.sql.types.DataType,
      t: SnapshotTransforms.T): String =
    SnapshotRowRouting.routedValue(row, i, dt, t)

  /** The INSERT-door discipline: a supplied layout-mirror value must
    * equal its source column — refused, never silently re-laid-out.
    * The (mirror, source, type) index triples are row-invariant —
    * resolved once per task, not per row.
    */
  private lazy val mirrorChecks
      : Seq[(String, Int, Int, org.apache.spark.sql.types.DataType)] =
    mirrorNames.flatMap { m =>
      val mi = writeSchema.fieldNames.indexOf(m)
      if (mi < 0) None
      else {
        val si = writeSchema.fieldNames.indexOf(m.stripSuffix("_p"))
        Some((m, mi + opOffset, si + opOffset,
          writeSchema.fields(si).dataType))
      }
    }

  private def verifyMirrors(row: InternalRow): Unit =
    mirrorChecks.foreach { case (m, mi, si, dt) =>
      val mv = if (row.isNullAt(mi)) null else partValue(row, mi, dt)
      val sv = partValue(row, si, dt)
      require(mv == sv,
        s"layout mirror $m='$mv' disagrees with source '$sv' — the " +
          "store derives the layout; write the source value")
    }

  override def write(row: InternalRow): Unit = {
    if (opOffset < 0) resolveOffset(row)
    // MERGE deletes arrive as op-coded rows — they simply don't get
    // written (the group rewrite's output replaces the partition)
    val op = if (opOffset == 1) row.getInt(0) else -1
    if (op == org.apache.spark.sql.catalyst.util.RowDeltaUtils
      .DELETE_OPERATION) return
    // an INSERT-coded row (a MERGE's NOT MATCHED branch) that supplies
    // a layout-mirror value disagreeing with its source column is
    // refused like the INSERT door refuses it — a brand-new row has no
    // legal reason to diverge. (An UPDATE that moves a row's SOURCE
    // column legitimately leaves the mirror stale, so update-coded
    // rows can't be checked here; the mirrors are dropped from the
    // files either way and routing always follows the source.)
    if (op == org.apache.spark.sql.catalyst.util.RowDeltaUtils
      .INSERT_OPERATION || (checkMirrors && opOffset == 0))
      verifyMirrors(row)
    val vals = srcCols.map { case (i, dt, t) =>
      ExternalCatalogUtils.escapePathName(
        routedValue(row, i + opOffset, dt, t))
    }
    val pv = vals.mkString("/")
    val w = writers.getOrElseUpdate(pv, {
      val leaf = mirrorNames.zip(vals)
        .map { case (m, v) => s"$m=$v" }.mkString("/")
      val dir = s"$attemptRoot/$leaf"
      JFiles.createDirectories(java.nio.file.Paths.get(dir))
      dirs(pv) = dir
      val ext = owf.getFileExtension(ctx)
      val tmp = java.nio.file.Paths.get(
        s"$dir/.inprog-part-$partitionId-$taskId$ext")
      pending += tmp -> java.nio.file.Paths.get(
        s"$dir/part-$partitionId-$taskId$ext")
      owf.newInstance(tmp.toString, fileSchema, ctx)
    })
    w.write(project(row))
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    pending.foreach { case (tmp, fin) =>
      JFiles.move(tmp, fin, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    SnapshotReplaceCommit(dirs.toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach { w =>
      try w.close() catch { case _: Throwable => () }
    }
    pending.foreach { case (tmp, _) => JFiles.deleteIfExists(tmp) }
  }

  override def close(): Unit = ()
}

/** Executor-side partition routing shared by every task writer into
  * the store (the group-replace writer and the merge-on-read delta
  * writer): one row's dir value through a mirror's declared transform.
  */
private[sources] object SnapshotRowRouting {

  def partValue(row: InternalRow, i: Int,
                dt: org.apache.spark.sql.types.DataType): String = {
    require(!row.isNullAt(i),
      "null partition value in row-level write — the snapshot store " +
        "requires non-null partition values")
    dt match {
      case StringType => row.getUTF8String(i).toString
      case DateType => DateTimeUtils.toJavaDate(row.getInt(i)).toString
      case IntegerType => String.valueOf(row.getInt(i))
      case LongType => String.valueOf(row.getLong(i))
      case other => throw new IllegalStateException(s"unsupported $other")
    }
  }

  /** The dir value a row routes to: the source value through the
    * mirror's declared transform — identity verbatim, days truncates
    * timestamps in UTC (the FIXED zone of [[SnapshotTransforms]]'s
    * Column derivation and literal translation — never the mutable
    * session zone), bucket evaluates the SAME Catalyst XxHash64 as
    * the door's Column expression ([[SnapshotTransforms]]).
    */
  def routedValue(row: InternalRow, i: Int,
      dt: org.apache.spark.sql.types.DataType,
      t: SnapshotTransforms.T): String = t match {
    case SnapshotTransforms.Identity => partValue(row, i, dt)
    case SnapshotTransforms.Days => dt match {
      case DateType => partValue(row, i, dt)
      case org.apache.spark.sql.types.TimestampType =>
        require(!row.isNullAt(i), "null partition source value")
        DateTimeUtils.daysToLocalDate(DateTimeUtils.microsToDays(
          row.getLong(i), java.time.ZoneOffset.UTC)).toString
      case other => throw new IllegalStateException(s"days over $other")
    }
    case SnapshotTransforms.Months =>
      require(!row.isNullAt(i), "null partition source value")
      val days = dt match {
        case DateType => row.getInt(i)
        case org.apache.spark.sql.types.TimestampType =>
          DateTimeUtils.microsToDays(row.getLong(i), java.time.ZoneOffset.UTC)
        case other => throw new IllegalStateException(s"months over $other")
      }
      DateTimeUtils.daysToLocalDate(
        SnapshotTransforms.firstOfMonthDays(days)).toString
    case SnapshotTransforms.Years =>
      require(!row.isNullAt(i), "null partition source value")
      val days = dt match {
        case DateType => row.getInt(i)
        case org.apache.spark.sql.types.TimestampType =>
          DateTimeUtils.microsToDays(row.getLong(i), java.time.ZoneOffset.UTC)
        case other => throw new IllegalStateException(s"years over $other")
      }
      DateTimeUtils.daysToLocalDate(
        SnapshotTransforms.firstOfYearDays(days)).toString
    case SnapshotTransforms.Hours =>
      require(!row.isNullAt(i), "null partition source value")
      dt match {
        case org.apache.spark.sql.types.TimestampType =>
          String.valueOf(
            SnapshotTransforms.epochHourOfMicros(row.getLong(i)))
        case other => throw new IllegalStateException(s"hours over $other")
      }
    case SnapshotTransforms.Truncate(w) =>
      require(!row.isNullAt(i), "null partition source value")
      dt match {
        case StringType =>
          SnapshotTransforms.truncateUtf8(row.getUTF8String(i), w).toString
        case other => throw new IllegalStateException(
          s"truncate over $other")
      }
    case SnapshotTransforms.Bucket(n) =>
      require(!row.isNullAt(i), "null partition source value")
      val b = dt match {
        case StringType =>
          SnapshotTransforms.bucketOfUtf8(row.getUTF8String(i), n)
        case IntegerType =>
          SnapshotTransforms.bucketOfLong(row.getInt(i).toLong, n)
        case LongType => SnapshotTransforms.bucketOfLong(row.getLong(i), n)
        case org.apache.spark.sql.types.ByteType =>
          SnapshotTransforms.bucketOfLong(row.getByte(i).toLong, n)
        case org.apache.spark.sql.types.ShortType =>
          SnapshotTransforms.bucketOfLong(row.getShort(i).toLong, n)
        case other => throw new IllegalStateException(s"bucket over $other")
      }
      String.valueOf(b)
  }
}
