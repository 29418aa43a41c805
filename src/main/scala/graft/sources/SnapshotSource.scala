package graft.sources

import java.nio.file.{Files => JFiles, Path => JPath}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Predicate, XxHash64}
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableCapability}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Manifest reader for the copy-on-write snapshot store
  * ([[SnapshotTxn]], the transaction engine). A manifest is
  * an immutable `v<N>.manifest` file of `partitionValue \t dataDir`
  * lines; the publish protocol (private temp + atomic `link(2)` CAS)
  * lives with the commit path in [[SnapshotTxn.writeManifest]]. This
  * object is the READ half, shared between the relational snapshot
  * queries and the [[SnapshotPartitioningIndex]] read plane.
  *
  * A multi-column partition value is its column values joined by `/`
  * in partition-schema order (mirroring the hive-style nested dir
  * layout `a_p=x/b_p=y`); the column names and types live in the
  * [[SnapshotMeta]] sidecar, not the manifest.
  *
  * Lines beginning with `#` are metadata records, not partition
  * entries (partition values never start with `#`: hive-escaping
  * writes it as `%23`). The one record today is the streaming sink's
  * transaction marker `#txn\t<appId>:<batchId>` — committed INSIDE
  * the manifest's atomic link(2) publish, so a micro-batch and its
  * exactly-once bookkeeping are one atomic unit (the Delta
  * txn-action shape; a sidecar written after the publish would leave
  * a crash window where a replayed batch double-commits). Every
  * manifest also names its version's stats sidecar in a
  * `#files\t<name>` record ([[SnapshotFiles]]), written before the
  * link.
  */
object SnapshotManifest {
  /** Every published version with its manifest's mtime — the atomic
    * publish instant `TIMESTAMP AS OF` and `CALL history` resolve
    * against. Single home for the version-file enumeration.
    */
  def versionsWithMtime(root: JPath): Seq[(Int, Long)] = {
    val mdir = root.resolve("manifests").toFile
    Option(mdir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("v\\d+\\.manifest"))
      .map(f => (f.getName.stripPrefix("v").stripSuffix(".manifest").toInt,
        f.lastModified()))
      .toSeq.sortBy(_._1)
  }

  /** Highest published version, or 0 if none. */
  def head(root: JPath): Int =
    versionsWithMtime(root).foldLeft(0)((m, v) => math.max(m, v._1))

  /** The base a mini-store's RELATIVE paths may reach up to: a branch
    * root's entries legitimately reference the parent table's dirs
    * (fork-shared partitions), so they relativize as `../../<dir>` —
    * still inside the TABLE root, which is what must stay movable as
    * one unit (rename, atomic CTAS publish).
    */
  private[graft] def tableBase(root: JPath): JPath = {
    val abs = root.toAbsolutePath.normalize
    // <table>/.branch/<name> → <table>
    if (abs.getNameCount >= 2 &&
        abs.getName(abs.getNameCount - 2).toString == ".branch")
      abs.getParent.getParent
    else abs
  }

  /** Resolve one stored dir/file path against its manifest root:
    * RELATIVE entries (round 13+ — what makes a table root one movable
    * unit) resolve and normalize; absolute entries (cross-root
    * references) pass through.
    */
  private[graft] def resolvePath(root: JPath, p: String): String =
    if (p.startsWith("/")) p
    else root.toAbsolutePath.resolve(p).normalize.toString

  /** Inverse of [[resolvePath]] at write time: paths under the TABLE
    * base store relative to the manifest root (plain segments inside
    * the mini-store, `../..`-prefixed for a branch's fork-shared
    * dirs); anything else stays absolute verbatim.
    */
  private[graft] def relativizePath(root: JPath, p: String): String = {
    val abs = java.nio.file.Paths.get(p).toAbsolutePath.normalize
    if (abs.startsWith(tableBase(root)))
      root.toAbsolutePath.normalize.relativize(abs).toString
    else p
  }

  /** partitionValue -> data dir for one published version. Stored
    * RELATIVE dirs resolve against the root, so a moved/renamed table
    * (or a staged-CTAS publish) keeps reading without rewrites.
    */
  def read(root: JPath, version: Int): Map[String, String] =
    JFiles
      .readAllLines(root.resolve("manifests").resolve(s"v$version.manifest"))
      .asScala.filterNot(_.startsWith("#")).map { l =>
        val i = l.lastIndexOf('\t')
        l.substring(0, i) -> resolvePath(root, l.substring(i + 1))
      }.toMap

  /** The leading `#`-metadata lines of every published manifest,
    * keyed by version. Streams each file and stops at the first
    * data line — metadata-header cost, not O(partitions) per file —
    * and scans the manifests that EXIST, not 1..head: vacuum deletes
    * old versions' manifests, and a vacuumed store must stay
    * readable and writable across the gaps.
    *
    * CACHED per root, keyed by the manifest set's (version, mtime)
    * fingerprint: this is the hottest metadata fold (every table load,
    * changefeed call, and DDL gate runs it, several times), and
    * re-opening every manifest per call is O(versions) file opens for
    * bytes that are immutable once published. Any publish, restore, or
    * vacuum changes the fingerprint (new/removed version files), so
    * staleness is impossible; the fingerprint read itself is the same
    * single directory listing the uncached path started with.
    */
  private val metaLinesCache =
    TrieMap.empty[String, ((String, Seq[(Int, Long)]), Seq[(Int, Seq[String])])]

  /** The store's BOOTSTRAP identity: the `manifests` directory's
    * filesystem fileKey (device+inode on POSIX). A DROP TABLE followed
    * by re-CREATE at the same root within mtime granularity would
    * otherwise produce an identical (version, mtime) fingerprint and
    * serve the DROPPED store's cached header records to the new table;
    * the re-created directory is a new inode, so this disambiguates
    * for free.
    */
  private def bootstrapIdentity(root: JPath): String =
    try String.valueOf(JFiles.readAttributes(root.resolve("manifests"),
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
    catch { case _: java.io.IOException => "absent" }

  /** Eager invalidation for [[GraftSnapshotCatalog.dropTable]] — the
    * fileKey in the fingerprint covers out-of-band re-creation, but a
    * filesystem MAY hand the re-created directory the dropped one's
    * reused inode; same-JVM drops (the only place this cache lives)
    * don't need to gamble on that.
    */
  private[sources] def invalidateMetaCache(root: JPath): Unit =
    metaLinesCache.remove(root.toAbsolutePath.normalize.toString)

  private def metaLines(root: JPath): Seq[(Int, Seq[String])] = {
    val key = root.toAbsolutePath.normalize.toString
    val fingerprint = (bootstrapIdentity(root), versionsWithMtime(root))
    metaLinesCache.get(key) match {
      case Some((fp, cached)) if fp == fingerprint => cached
      case _ =>
        val mdir = root.resolve("manifests").toFile
        val fresh = Option(mdir.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.matches("v\\d+\\.manifest")).toSeq.map { f =>
            val v = f.getName.stripPrefix("v").stripSuffix(".manifest").toInt
            val in = JFiles.newBufferedReader(f.toPath)
            val lines = try Iterator.continually(in.readLine())
              .takeWhile(l => l != null && l.startsWith("#")).toList
            finally in.close()
            v -> lines
          }
        // headers are tiny (a handful of records per version), but the
        // JVM may touch thousands of short-lived test stores: bound the
        // cache by wholesale reset rather than LRU bookkeeping
        if (metaLinesCache.size >= 512) metaLinesCache.clear()
        metaLinesCache.put(key, (fingerprint, fresh))
        fresh
    }
  }

  /** Highest micro-batch id the named streaming app has committed, or
    * None. Scans every published version's `#txn` records — versions
    * are unordered with respect to ONE app's batches when other
    * writers interleave (a batch-door commit between two micro-batches
    * bumps the version without a txn record), so the max over all
    * records, not the head's, is the replay watermark. App matching is
    * EXACT on the text before the LAST colon — an appId that is a
    * prefix of another ("team" vs "team:ingest") must neither claim
    * the other's batches nor crash parsing them.
    */
  def lastTxnBatch(root: JPath, app: String): Option[Long] = {
    val batches = metaLines(root).flatMap(_._2).collect {
      case l if l.startsWith("#txn\t") =>
        val body = l.stripPrefix("#txn\t")
        val i = body.lastIndexOf(':')
        (body.substring(0, i), body.substring(i + 1))
    }.collect { case (a, b) if a == app => b.toLong }
    if (batches.isEmpty) None else Some(batches.max)
  }

  /** The evolved data schema, if any commit has widened the table: a
    * widening commit publishes the FULL new schema as a `#schema`
    * metadata line inside its winning manifest — atomic with the
    * commit (no sidecar-after-publish crash window) and serialized by
    * the version CAS (a rebased second widener re-reads the effective
    * schema and re-publishes a superset), unlike a read-modify-write
    * of `table.meta`, which is last-writer-wins. The HIGHEST version
    * carrying a record wins; versions without one inherit.
    */
  def evolvedDataSchema(root: JPath): Option[StructType] = {
    val recs = metaLines(root).flatMap { case (v, ls) =>
      ls.find(_.startsWith("#schema\t")).map(l =>
        v -> l.stripPrefix("#schema\t"))
    }
    if (recs.isEmpty) None
    else Some(DataType.fromJson(recs.maxBy(_._1)._2).asInstanceOf[StructType])
  }

  /** The table's LOGICAL data schema: the latest `#schema` record (or
    * the bootstrap meta) with every LATER `#rename` applied in version
    * order, then every `#drop` tombstone subtracted. Rename events at
    * or before the latest schema record are already folded into it —
    * publishers of `#schema` records always publish the then-current
    * logical names — and applying a rename whose old name is absent is
    * a deliberate no-op (replayed normalize/clone records re-walk
    * chains whose early links no longer name a field).
    */
  def effectiveDataSchema(root: JPath, base: StructType): StructType =
    effectiveDataSchema(root, base, Int.MaxValue)

  /** [[effectiveDataSchema]] capped at `upTo`: only records published
    * at or before that version fold in — the PINNED-READ schema
    * (`VERSION AS OF n` serves version n's own shape: a column
    * dropped later is still visible, a widening or rename committed
    * later has not happened yet — the Iceberg time-travel semantics).
    * `upTo = Int.MaxValue` is the head fold, bit-identical to before.
    */
  def effectiveDataSchema(root: JPath, base: StructType,
                          upTo: Int): StructType = {
    // ONE manifest-header sweep serves all three record kinds —
    // metaLines re-opens every manifest per call, and this is the
    // hottest metadata fold (every table load runs it)
    val all = metaLines(root).filter(_._1 <= upTo)
    val recs = all.flatMap { case (v, ls) =>
      ls.find(_.startsWith("#schema\t")).map(l =>
        v -> l.stripPrefix("#schema\t"))
    }
    val (schemaV, schema) =
      if (recs.isEmpty) (0, base)
      else {
        val (v, json) = recs.maxBy(_._1)
        (v, DataType.fromJson(json).asInstanceOf[StructType])
      }
    val renames = all.sortBy(_._1).flatMap { case (v, ls) =>
      ls.collect {
        case l if l.startsWith("#rename\t") && v > schemaV =>
          val body = l.stripPrefix("#rename\t")
          val i = body.indexOf('\t')
          (body.substring(0, i), body.substring(i + 1))
      }
    }
    val renamed = renames.foldLeft(schema) { case (st, (old, nu)) =>
      StructType(st.fields.map(f =>
        if (f.name == old) f.copy(name = nu) else f))
    }
    // `#drop` tombstones subtract last: pre-drop footers keep the
    // column (readers simply never declare it), re-adds are refused,
    // so the set is monotone and order-free against renames
    val dropped = all.flatMap(_._2).collect {
      case l if l.startsWith("#drop\t") => l.stripPrefix("#drop\t")
    }.toSet
    if (dropped.isEmpty) renamed
    else StructType(renamed.fields.filterNot(f => dropped(f.name)))
  }

  /** `#rename\t<old>\t<new>` events, version order (line order within
    * one manifest). A rename is a METADATA-ONLY commit: footers keep
    * their written-time names, readers map them ([[SnapshotRename]]).
    */
  def renameEvents(root: JPath): Seq[(Int, String, String)] =
    metaLines(root).sortBy(_._1).flatMap { case (v, ls) =>
      ls.collect {
        case l if l.startsWith("#rename\t") =>
          val body = l.stripPrefix("#rename\t")
          val i = body.indexOf('\t')
          (v, body.substring(0, i), body.substring(i + 1))
      }
    }

  /** CURRENT logical field name → its former footer names, oldest
    * first — the names under which surviving data files may have been
    * written. a→b then b→c folds to `c -> [a, b]`.
    */
  def renameChains(root: JPath): Map[String, Seq[String]] =
    nameFacts(root)._1

  /** [[renameChains]] capped at `upTo` — the pinned-read fold: a
    * rename committed after the pinned version has not happened for
    * that read, and a chain folded past it would map the pinned
    * schema's names onto footers that never carried them.
    */
  def renameChains(root: JPath, upTo: Int): Map[String, Seq[String]] =
    nameFacts(root, upTo)._1

  /** (rename chains, dropped names) from ONE manifest-header sweep —
    * the consumers that need both (DESCRIBE properties, the re-add
    * refusal set) would otherwise re-open every manifest twice.
    */
  def nameFacts(root: JPath): (Map[String, Seq[String]], Set[String]) =
    nameFacts(root, Int.MaxValue)

  def nameFacts(root: JPath, upTo: Int)
      : (Map[String, Seq[String]], Set[String]) = {
    val all = metaLines(root).filter(_._1 <= upTo).sortBy(_._1)
    val chains = all.flatMap { case (_, ls) =>
      ls.collect {
        case l if l.startsWith("#rename\t") =>
          val body = l.stripPrefix("#rename\t")
          val i = body.indexOf('\t')
          (body.substring(0, i), body.substring(i + 1))
      }
    }.foldLeft(Map.empty[String, Seq[String]]) {
      case (m, (old, nu)) =>
        val formers = m.getOrElse(old, Seq.empty) :+ old
        (m - old) + (nu -> formers)
    }
    val dropped = all.flatMap(_._2).collect {
      case l if l.startsWith("#drop\t") => l.stripPrefix("#drop\t")
    }.toSet
    (chains, dropped)
  }

  /** `#drop\t<name>` events — metadata-only DROP COLUMN tombstones,
    * version order. Re-ADD of a dropped name is refused at every
    * widening door (the dropped set is monotone), so the schema fold
    * subtracts the whole set after the rename fold: a record whose
    * name is already absent (replayed normalize/clone lines, or a
    * later `#schema` publisher that already excluded it) is a no-op.
    */
  def dropEvents(root: JPath): Seq[(Int, String)] =
    metaLines(root).sortBy(_._1).flatMap { case (v, ls) =>
      ls.collect {
        case l if l.startsWith("#drop\t") => v -> l.stripPrefix("#drop\t")
      }
    }

  /** Every logical name ever dropped. */
  def droppedColumns(root: JPath): Set[String] =
    dropEvents(root).map(_._2).toSet

  /** Dropped logical names PLUS the former footer names they were
    * written under — the full set that must stay refused as ADD-COLUMN
    * and RENAME targets: pre-drop footers keep the dropped values, and
    * a new column landing on any of these names would silently
    * resurrect them through footer reads.
    */
  def droppedFooterNames(root: JPath): Set[String] = {
    val (chains, dropped) = nameFacts(root)
    dropped.flatMap(d => (d +: chains.getOrElse(d, Seq.empty)).toSet)
  }

  /** PARTITION-SPEC EVOLUTION (the Iceberg spec-v2 shape, scoped to
    * APPENDED layout columns): the bootstrap spec from `table.meta`
    * plus every `#partspec` record in version order. Each record
    * publishes the FULL new partition schema and must strictly
    * prefix-extend the previous one (enforced at publish), so specs
    * have strictly increasing arity and a manifest ENTRY's spec is
    * identified by its segment count — old entries keep reading (and
    * pruning) under their own spec, new writes lay out under the
    * current one, and a rewrite that touches an old-spec partition
    * migrates it.
    */
  def partitionSpecs(root: JPath, base: StructType): Seq[StructType] = {
    val raw = base +: metaLines(root).sortBy(_._1).flatMap { case (_, ls) =>
      ls.collect {
        case l if l.startsWith("#partspec\t") =>
          DataType.fromJson(l.stripPrefix("#partspec\t"))
            .asInstanceOf[StructType]
      }
    }
    // DEDUPE by arity, first record wins: vacuum's normalize version,
    // clone/branch bases and fastforward all RE-PUBLISH spec records,
    // so the raw fold repeats — and a repeated spec would build a
    // duplicate union-read arm that double-serves every one of its
    // partitions. (Specs strictly prefix-extend at publish, so equal
    // arity ⇒ the same spec.)
    raw.foldLeft(Vector.empty[StructType]) { (acc, sp) =>
      if (acc.exists(_.length == sp.length)) acc else acc :+ sp
    }
  }

  /** The spec a manifest entry was laid out under: its segment count
    * picks the spec (arities are unique — see [[partitionSpecs]]).
    * Single source for clone, fastforward, compact and the union read.
    */
  def specFor(pv: String, specs: Seq[StructType]): Option[StructType] = {
    val arity = pv.split("/", -1).length
    specs.find(_.length == arity)
  }

  /** Every manifest's header lines, one pass — vacuum's record scan
    * (per-version [[headerLines]] would re-read all manifests per
    * version).
    */
  def allHeaderLines(root: JPath): Seq[(Int, Seq[String])] =
    metaLines(root)

  /** `#partspec` events with versions — fastforward republishes the
    * branch-staged suffix to main.
    */
  def partSpecEvents(root: JPath): Seq[(Int, StructType)] =
    metaLines(root).sortBy(_._1).flatMap { case (v, ls) =>
      ls.collect {
        case l if l.startsWith("#partspec\t") =>
          v -> DataType.fromJson(l.stripPrefix("#partspec\t"))
            .asInstanceOf[StructType]
      }
    }

  /** The table's live CHECK constraints: `#check\t<name>\t<sql>` adds
    * and `#checkdrop\t<name>` removals folded in version order (each a
    * metadata-only version, atomic with its manifest and CAS-serialized
    * against every writer — the same commit-coupled discipline as
    * `#schema`; a sidecar would race). Names are tab-free by
    * construction; the SQL text is everything after the second tab.
    * Ordered by add version, oldest first.
    */
  def effectiveChecks(root: JPath): Seq[(String, String)] = {
    val events = metaLines(root).sortBy(_._1).flatMap { case (_, ls) =>
      ls.collect {
        case l if l.startsWith("#check\t") =>
          val body = l.stripPrefix("#check\t")
          val i = body.indexOf('\t')
          Left(body.substring(0, i) -> body.substring(i + 1))
        case l if l.startsWith("#checkdrop\t") =>
          Right(l.stripPrefix("#checkdrop\t"))
      }
    }
    events.foldLeft(Vector.empty[(String, String)]) {
      case (acc, Left(add)) => acc :+ add
      case (acc, Right(name)) => acc.filterNot(_._1 == name)
    }
  }

  /** One version's `#`-metadata header lines (empty if the manifest is
    * gone). Vacuum uses this to detect commit-coupled metadata riding
    * on manifests it is about to expire.
    */
  def headerLines(root: JPath, version: Int): Seq[String] =
    metaLines(root).collectFirst { case (v, ls) if v == version => ls }
      .getOrElse(Nil)

  /** Per-app max committed micro-batch id over ALL published versions —
    * the full replay-watermark map ([[lastTxnBatch]] is the single-app
    * read). Vacuum re-publishes this fold before expiring the
    * manifests that carry the per-batch records.
    */
  def txnWatermarks(root: JPath): Map[String, Long] =
    metaLines(root).flatMap(_._2).collect {
      case l if l.startsWith("#txn\t") =>
        val body = l.stripPrefix("#txn\t")
        val i = body.lastIndexOf(':')
        (body.substring(0, i), body.substring(i + 1).toLong)
    }.groupMapReduce(_._1)(_._2)(math.max)

  /** Every constraint name that appears in any `#check`/`#checkdrop`
    * record of any published version — live or dropped. Vacuum's
    * normalize record drops all of them before re-adding the live set,
    * so a kept old manifest's raw add (e.g. retained by a tag while
    * the drop-version expires) can never resurrect a dropped check.
    */
  /** Live merge-on-read delete records of ONE version:
    * `#delete\t<pv>\t<n>\t<dir>` lines in that version's own manifest
    * — partition value → the key-delete parquet dirs that apply to
    * it, each with its doomed-key count `n` (so plan-time statistics
    * can report exact post-delete cardinality without opening the
    * sidecars). Manifests are SELF-CONTAINED
    * on this plane: every commit carries forward the parent records
    * still in force (same pv, same data dir —
    * [[SnapshotTxn.writeManifest]]), so a pinned
    * `VERSION AS OF` read serves exactly its version's delete state
    * and vacuumed gaps cost nothing. A rewritten partition's records
    * drop with the rewrite (the rewriting read applied the
    * anti-filter — the deletes are materialized in its output).
    */
  def deleteRecordsWithCounts(root: JPath, version: Int)
      : Map[String, Seq[(String, Long)]] =
    morRecordsWithCounts(root, version, "#delete\t")

  def deleteRecords(root: JPath, version: Int): Map[String, Seq[String]] =
    deleteRecordsWithCounts(root, version)
      .view.mapValues(_.map(_._1)).toMap

  /** Live merge-on-read UPSERT records of ONE version:
    * `#upsert\t<pv>\t<n>\t<dir>` lines — partition value → the
    * delta-row parquet dirs (each under a `u<V>-<hex8>` publish root)
    * holding rows that a merge-on-read UPDATE/MERGE appended WITHOUT
    * rewriting the partition, with row count `n`. The rows are
    * ordinary data rows of the partition; readers serve them
    * alongside the base dir, anti-filtering each dir only by `#delete`
    * records published AFTER its `u<V>` stamp
    * ([[SnapshotDeletes.scopeDirs]] — the Iceberg sequence-number
    * rule solved by dir-name version stamps). Carry/materialization
    * follow the `#delete` plane: unchanged base entry carries the
    * records; any rewrite of the partition folds the delta rows in
    * and drops them.
    */
  def upsertRecordsWithCounts(root: JPath, version: Int)
      : Map[String, Seq[(String, Long)]] =
    morRecordsWithCounts(root, version, "#upsert\t")

  def upsertRecords(root: JPath, version: Int): Map[String, Seq[String]] =
    upsertRecordsWithCounts(root, version)
      .view.mapValues(_.map(_._1)).toMap

  /** True when the version carries ANY live merge-on-read record
    * (delete or upsert) — the guard condition for metadata planes
    * that re-home or re-interpret data dirs without a record-aware
    * read behind them.
    */
  def hasLiveMorRecords(root: JPath, version: Int): Boolean =
    headerLines(root, version).exists(l =>
      l.startsWith("#delete\t") || l.startsWith("#upsert\t"))

  /** One merge-on-read record line, `<tag>\t<pv>\t<n>\t<dir>` with
    * `tag` `#delete` or `#upsert` — the encoder [[morRecordsWithCounts]]
    * parses.
    */
  def morRecord(tag: String, pv: String, n: Long, dir: String): String =
    s"$tag\t$pv\t$n\t$dir"

  /** Shared `<pv>\t<n>\t<dir>` record parse for the two merge-on-read
    * planes.
    */
  private def morRecordsWithCounts(root: JPath, version: Int, tag: String)
      : Map[String, Seq[(String, Long)]] =
    headerLines(root, version).collect {
      case l if l.startsWith(tag) =>
        val body = l.stripPrefix(tag)
        val i1 = body.indexOf('\t')
        val i2 = body.indexOf('\t', i1 + 1)
        body.substring(0, i1) -> (resolvePath(root, body.substring(i2 + 1)),
          body.substring(i1 + 1, i2).toLong)
    }.groupMap(_._1)(_._2)

  def checkNamesEverSeen(root: JPath): Set[String] =
    metaLines(root).flatMap(_._2).collect {
      case l if l.startsWith("#check\t") =>
        val body = l.stripPrefix("#check\t")
        body.substring(0, body.indexOf('\t'))
      case l if l.startsWith("#checkdrop\t") =>
        l.stripPrefix("#checkdrop\t")
    }.toSet
}

/** The SAFE type-promotion table (the Iceberg set): the ONE source
  * both the catalog's ALTER gate and the CAS retry loop's
  * re-validation consult — two copies would drift, and the retry copy
  * is the one that matters under races.
  */
object SnapshotWiden {
  def safe(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => false // no-op spelled as DDL: refuse
    case (ByteType | ShortType | IntegerType, LongType) => true
    case (ByteType | ShortType, IntegerType) => true
    case (FloatType, DoubleType) => true
    case (a: DecimalType, b: DecimalType) =>
      b.scale == a.scale && b.precision > a.precision
    case _ => false
  }
}

/** METADATA-ONLY COLUMN RENAME (field-ID-style name mapping — the
  * Iceberg rename shape, solved by names instead of field IDs):
  * `ALTER TABLE … RENAME COLUMN a TO b` publishes one `#rename\ta\tb`
  * manifest record; zero files move. Footers keep their written-time
  * names, so every reader of a table with rename history maps footer
  * names through the fold: the DECLARED read schema carries the
  * current name AND every former name (all nullable — a given file
  * has exactly one of them), and the surfaced value is
  * `coalesce(current, newest former, …, oldest)`.
  *
  * Pushdown soundness: a filter on a renamed column pushed to parquet
  * would evaluate the CURRENT name as all-NULL over pre-rename files
  * (the row-group gate treats a missing column as null) and silently
  * drop their row groups — so filters touching renamed names are
  * WITHHELD from every pushdown plane and evaluated post-scan (Spark
  * re-applies them above the scan; correctness first, old-file
  * skipping forfeited for exactly those predicates). Stats/Bloom
  * skipping degrades the same sound way: old files carry sidecar
  * stats under old names, a lookup by the current name misses, and a
  * missed file is KEPT. All of this machinery activates only when a
  * store has rename history — rename-free stores take the exact
  * pre-rename code paths.
  */
object SnapshotRename {
  /** Rename chains restricted to fields of the given logical schema. */
  def chainsFor(root: JPath, logical: StructType): Map[String, Seq[String]] =
    chainsFor(root, logical, Int.MaxValue)

  /** [[chainsFor]] capped at `upTo` — pinned reads map footers only
    * through renames that existed at the pinned version (a later
    * a→b link would orphan the pinned schema's `a`: the chain would
    * key on `b`, miss the filter, and the coalesce fold would never
    * see pre-rename footers).
    */
  def chainsFor(root: JPath, logical: StructType, upTo: Int)
      : Map[String, Seq[String]] = {
    val names = logical.fieldNames.toSet
    SnapshotManifest.renameChains(root, upTo)
      .filter { case (cur, _) => names(cur) }
  }

  /** Physical (footer-facing) read schema: the logical fields, all
    * nullable, plus each renamed field's former names at its type.
    */
  def physicalSchema(logical: StructType,
      chains: Map[String, Seq[String]]): StructType = {
    val extra = logical.fields.flatMap(f =>
      chains.getOrElse(f.name, Seq.empty).map(n =>
        StructField(n, f.dataType, nullable = true)))
    StructType(logical.fields.map(_.copy(nullable = true)) ++ extra)
  }

  /** Footer-name candidates for one logical field, newest first. */
  def candidates(name: String,
      chains: Map[String, Seq[String]]): Seq[String] =
    name +: chains.getOrElse(name, Seq.empty).reverse

  /** Every name (current or former) whose predicates must not reach
    * any pushdown plane.
    */
  def hotNames(chains: Map[String, Seq[String]]): Set[String] =
    chains.keySet ++ chains.valuesIterator.flatten

  /** Inverse of [[physicalSchema]]: drop the former-name fields a
    * read-schema expansion appended (former names can never collide
    * with user-visible fields — rename validation refuses reusing
    * them), recovering the logical shape a scan must emit.
    */
  def logicalOf(physical: StructType,
      chains: Map[String, Seq[String]]): StructType = {
    val formers = chains.valuesIterator.flatten.toSet
    StructType(physical.fields.filterNot(f => formers(f.name)))
  }

  /** Re-publishable `#rename` lines reproducing the chains verbatim:
    * consecutive pairs per field, oldest link first — vacuum's
    * normalize version, clone and branch bases fold through these.
    */
  def renameLines(chains: Map[String, Seq[String]]): Seq[String] =
    chains.toSeq.sortBy(_._1).flatMap { case (cur, formers) =>
      (formers :+ cur).sliding(2).collect {
        case Seq(a, b) => s"#rename\t$a\t$b"
      }
    }

  /** Declared-schema read of raw data dirs with the rename mapping
    * applied — internal rewrites that read mixed-epoch dirs (upsert
    * kept-rows, compaction, changefeeds) come through here so a
    * pre-rename file's values survive the rewrite.
    */
  def readDirs(s: SparkSession, root: JPath, dirs: Seq[String],
      logical: StructType): DataFrame = {
    val chains = chainsFor(root, logical)
    val declared = StructType(logical.fields.map(_.copy(nullable = true)))
    if (chains.isEmpty) s.read.schema(declared).parquet(dirs: _*)
    else s.read.schema(physicalSchema(logical, chains)).parquet(dirs: _*)
      .select(logical.fields.toSeq.map { f =>
        val cs = candidates(f.name, chains)
        (if (cs.length == 1) col(f.name)
         else coalesce(cs.map(col): _*)).as(f.name)
      }: _*)
  }
}

/** Named immutable version refs (`<root>/refs/<name>` → version int) —
  * the Iceberg TAG shape: `CALL snap.tag('t', 'audited', 3)` pins a
  * human name to a version, `VERSION AS OF 'audited'` resolves through
  * it, and vacuum RETAINS tagged versions (a tag is a promise the
  * snapshot stays readable). Creation is the same link(2) CAS as
  * manifests — racing taggers get exactly one winner, and a tag never
  * silently moves (drop + re-create is the explicit spelling).
  */
object SnapshotTags {
  private def dir(root: JPath): JPath = root.resolve("refs")

  /** Tag names must be filesystem-clean and must not look like a
    * version number — a numeric tag would shadow `VERSION AS OF n`.
    */
  private def validate(name: String): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z][A-Za-z0-9_.-]*"),
      s"tag name must match [A-Za-z][A-Za-z0-9_.-]*: '$name'")
  }

  def create(root: JPath, name: String, version: Int): Unit = {
    validate(name)
    // symmetric with branch creation's tag check: a tag resolves FIRST
    // in VERSION AS OF, so one named after a live branch would silently
    // redirect every audit read off the branch
    require(!SnapshotBranches.exists(root, name),
      s"a branch named '$name' exists — tags and branches share the " +
        "VERSION AS OF namespace")
    require(JFiles.exists(
      root.resolve("manifests").resolve(s"v$version.manifest")),
      s"version $version is not published (or was vacuumed) — " +
        "cannot tag it")
    JFiles.createDirectories(dir(root))
    val tmp = dir(root).resolve(
      s".$name.tmp.${java.util.UUID.randomUUID.toString.take(8)}")
    JFiles.write(tmp, java.util.List.of(version.toString))
    try JFiles.createLink(dir(root).resolve(name), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"tag $name already exists (tags are immutable: " +
            "drop_tag then tag to move it)")
    } finally JFiles.deleteIfExists(tmp)
  }

  def resolve(root: JPath, name: String): Option[Int] = {
    // read-then-catch, not exists-then-read: a concurrent drop_tag
    // between the two reads as tag-absent instead of crashing
    val f = dir(root).resolve(name)
    try Some(JFiles.readAllLines(f).asScala.head.trim.toInt)
    catch { case _: java.nio.file.NoSuchFileException => None }
  }

  /** Every tag and its pinned version. A tag dropped between the
    * directory listing and the per-tag read is simply omitted —
    * `CALL vacuum` builds its retention set through this listing, and
    * a racing drop_tag must not crash it.
    */
  def list(root: JPath): Seq[(String, Int)] = {
    val d = dir(root).toFile
    Option(d.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => resolve(root, f.getName).map(f.getName -> _))
      .toSeq.sortBy(_._1)
  }

  def drop(root: JPath, name: String): Boolean =
    JFiles.deleteIfExists(dir(root).resolve(name))
}

/** BRANCHES — writable forks of a table, the Iceberg branch /
  * write-audit-publish (WAP) staging shape. A branch is a complete
  * mini-store at `<root>/.branch/<name>`: its own manifest chain
  * (starting as a re-published copy of the fork version's partition
  * map, so every door — read, write, SQL DML, row-level, streaming
  * sink — works on it UNCHANGED by treating the branch dir as the
  * table root), its own `table.meta` (the fork-time EFFECTIVE schema
  * folded in) and the fork-time live CHECK constraints re-published
  * in its base manifest. Branch commits write data dirs under the
  * branch root; fork-shared partitions keep pointing at the main
  * table's dirs — [[SnapshotTxn.snapshotVacuum]]
  * counts every branch manifest in the referenced set, so a main
  * vacuum can never reclaim data a branch still reads.
  *
  * This object is only the namespace plumbing; create/fast-forward
  * live with the other commit engines in
  * [[SnapshotTxn]].
  */
object SnapshotBranches {
  def dir(root: JPath): JPath = root.resolve(".branch")

  def root(tableRoot: JPath, name: String): JPath =
    dir(tableRoot).resolve(name)

  /** Same lexical rule as tags — and a branch must not shadow one:
    * `VERSION AS OF '<name>'` resolves tags first.
    */
  def validate(name: String): Unit =
    require(name.nonEmpty && name.matches("[A-Za-z][A-Za-z0-9_.-]*"),
      s"branch name must match [A-Za-z][A-Za-z0-9_.-]*: '$name'")

  def exists(tableRoot: JPath, name: String): Boolean =
    SnapshotManifest.head(root(tableRoot, name)) > 0

  /** Every branch and its fork-point version. */
  def list(tableRoot: JPath): Seq[(String, Int)] = {
    Option(dir(tableRoot).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && SnapshotManifest.head(f.toPath) > 0)
      .flatMap(f => base(tableRoot, f.getName).map(f.getName -> _))
      .toSeq.sortBy(_._1)
  }

  /** The main version the branch forked from; None when absent OR
    * unparseable (a crash mid-`writeBase` must read as half-created,
    * not crash the refs/vacuum listings).
    */
  def base(tableRoot: JPath, name: String): Option[Int] = {
    val f = root(tableRoot, name).resolve("branch.meta")
    if (!JFiles.exists(f)) None
    else JFiles.readAllLines(f).asScala.headOption
      .flatMap(_.trim.toIntOption)
  }

  private[graft] def writeBase(tableRoot: JPath, name: String,
                               version: Int): Unit = {
    val broot = root(tableRoot, name)
    val tmp = broot.resolve(
      s".branch.meta.tmp.${java.util.UUID.randomUUID.toString.take(8)}")
    JFiles.write(tmp, java.util.List.of(version.toString))
    JFiles.move(tmp, broot.resolve("branch.meta"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Remove a branch — its manifests and every data dir its commits
    * created. Always safe after a fast-forward: publishing hard-links
    * branch-resident dirs under main-owned roots, so main never
    * references bytes that live only under the branch.
    */
  def drop(tableRoot: JPath, name: String): Boolean = {
    val r = root(tableRoot, name).toFile
    val existed = r.isDirectory
    org.apache.commons.io.FileUtils.deleteQuietly(r)
    existed
  }
}

/** Table-level metadata sidecar (`<root>/table.meta`, JSON): the
  * partition schema (name + type per layout column) and the data
  * schema. Written once at bootstrap; the Delta `_metadata`/Iceberg
  * table-metadata analog reduced to the two facts the reader needs:
  *
  *  - the connector no longer hardcodes a single `o_ym_p: string`
  *    partition column — any column list/types the bootstrap declared
  *    resolve from here;
  *  - an EMPTY store (a legal zero-row bootstrap) stays readable: the
  *    data schema comes from the sidecar, not from opening a data file
  *    that doesn't exist.
  *
  * A bootstrap writes it before its v1 manifest links
  * ([[SnapshotTxn.Attempt.publish]]), so every published store has
  * one.
  */
object SnapshotMeta {
  /** `keyCol` is the store's upsert/delete key, recorded at bootstrap
    * so the SQL DML door can commit without the caller re-declaring it
    * (the DataFrame door still takes it as an option). `None` on
    * stores bootstrapped before the field existed — DML on those
    * REFUSES until a key is declared (no silent default).
    *
    * `deleteMode` selects the DELETE door's write amplification:
    * `None`/`"copy-on-write"` (the default) rewrites touched
    * partitions; `"merge-on-read"` publishes key-delete sidecars as
    * `#delete` manifest records — O(delta) bytes per DELETE, applied
    * by every reader as an anti-filter and materialized away by
    * `CALL snap.compact` (the Iceberg equality-delete / Delta
    * deletion-vector trade, keyed on the store's upsert key).
    */
  final case class Meta(partitionSchema: StructType, dataSchema: StructType,
                        keyCol: Option[String] = None,
                        deleteMode: Option[String] = None) {
    def mergeOnRead: Boolean = deleteMode.contains("merge-on-read")
  }

  private def file(root: JPath): JPath = root.resolve("table.meta")

  private def json(m: Meta): Array[Byte] = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(
      ("partitionSchema" -> m.partitionSchema.json) ~
        ("dataSchema" -> m.dataSchema.json) ~
        ("keyCol" -> m.keyCol) ~
        ("deleteMode" -> m.deleteMode))).getBytes("UTF-8")
  }

  private def tmpOf(root: JPath): JPath = root.resolve(
    s".table.meta.tmp.${java.util.UUID.randomUUID.toString.take(8)}")

  /** Replace `table.meta` — vacuum's fold of the effective schema. */
  def write(root: JPath, m: Meta): Unit = {
    val tmp = tmpOf(root)
    JFiles.write(tmp, json(m))
    JFiles.move(tmp, file(root),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The bootstrap flavor: place `table.meta` only if the store has
    * none — racing bootstraps may declare DIFFERENT schemas/keys, so a
    * last-writer-wins replace would let a losing one silently clobber
    * the winner's declaration. link(2) refuses on an existing target
    * (`FileAlreadyExistsException`), the same primitive the manifest
    * CAS arbitrates with.
    */
  def writeIfAbsent(root: JPath, m: Meta): Unit = {
    val tmp = tmpOf(root)
    JFiles.write(tmp, json(m))
    try JFiles.createLink(file(root), tmp)
    finally JFiles.deleteIfExists(tmp)
  }

  /** The store's declaration; a root without one throws
    * [[SnapshotMissingFileException]] at its head version.
    */
  def read(root: JPath): Meta = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val f = file(root)
    if (!JFiles.exists(f)) throw new SnapshotMissingFileException(
      root, SnapshotManifest.head(root), "table.meta")
    val j = JsonMethods.parse(new String(JFiles.readAllBytes(f), "UTF-8"))
    def struct(field: String): StructType = (j \ field) match {
      case JString(s) => DataType.fromJson(s).asInstanceOf[StructType]
      case other => throw new IllegalStateException(
        s"table.meta: bad $field: $other")
    }
    def str(field: String): Option[String] = (j \ field) match {
      case JString(s) => Some(s)
      case _ => None
    }
    Meta(struct("partitionSchema"), struct("dataSchema"),
      str("keyCol"), str("deleteMode"))
  }
}

/** A store file every published version carries is missing: its
  * `table.meta` or the stats sidecar its manifest names. The commit
  * plane writes both before the manifest link, so this is a store no
  * commit wrote (or one damaged by hand) — refused, never guessed at.
  */
final class SnapshotMissingFileException(root: JPath, version: Int,
    file: String) extends IllegalStateException(
  s"$root v$version has no $file: a published version always carries " +
    "table.meta and the stats sidecar its manifest names")

/** Per-version FILE manifest sidecar (`manifests/v<N>-<hex>.files`,
  * JSON lines, named by its manifest's `#files` header line): one row
  * per data file — partition value, path, bytes, rows,
  * and per-column min/max for every stats-eligible column. This is the
  * Delta/Iceberg "commit the file list + column stats" shape:
  *
  *  - '''zero-listing planning''': [[SnapshotPartitioningIndex]] serves the
  *    scan's file listing straight from the sidecar — no `listStatus`
  *    call ever runs on the read path (spec-pinned);
  *  - '''any-column range skipping''': a `col >= lit` / `col IN (...)`
  *    data filter drops files whose [min, max] cannot satisfy it
  *    ([[StatsSkipping]]), beyond the single Bloom key.
  *
  * A commit never re-reads what it wrote: each new file's entry is
  * folded row by row inside the task that writes it ([[StatsFold]],
  * the combiner discipline), and returns to the driver with that
  * task's result. Entries for UNTOUCHED partitions are copied from the
  * parent version's sidecar, so sidecar maintenance is O(touched
  * partitions), the same bound as the commit itself. Each attempt
  * writes its sidecar under a name of its own BEFORE the manifest
  * link, and the manifest names it, so the link publishes the file
  * list and its stats as one unit: a version without its sidecar is
  * never visible. A losing attempt's sidecar is deleted with its
  * scratch dirs; vacuum sweeps any sidecar no manifest names.
  */
object SnapshotFiles {
  /** Stats values are stored as Spark `CAST(x AS STRING)` text; min/max
    * longer than this are dropped (a truncated upper bound is unsound
    * without Iceberg-style increment logic, and a 64-char prefix is
    * useless for the long-text columns that exceed it).
    */
  val MaxStatLen = 64

  /** `ndv` carries one base64 HLL sketch (Apache DataSketches — the
    * library Spark's own `hll_sketch_agg` builds on) per
    * sketch-eligible column: per-FILE sketches merge losslessly by
    * union, so plan-time NDV over exactly the pruned file set is one
    * driver-side fold — the column-level distinct counts CBO's
    * filter/join estimation wants at 100 TB, maintained at O(touched
    * files) per commit like the min/max stats.
    */
  final case class FileEntry(pv: String, path: String, bytes: Long,
                             rows: Long, stats: Map[String, (String, String)],
                             ndv: Map[String, String] = Map.empty)

  /** The manifest header line naming a version's sidecar. */
  val HeaderTag = "#files\t"

  /** The sidecar name among one manifest's header lines. */
  def named(headers: Seq[String]): Option[String] =
    headers.collectFirst {
      case l if l.startsWith(HeaderTag) => l.stripPrefix(HeaderTag)
    }

  /** Write `entries` as a new sidecar for `version` under a name no
    * other attempt uses (`v<N>-<hex>.files`) and return that name for
    * the manifest's `#files` line. Nothing reads it until a manifest
    * names it, so a plain write is enough.
    */
  def write(root: JPath, version: Int, entries: Seq[FileEntry]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    // under-root file paths store RELATIVE, like the manifest's dirs
    // (one movable table root — see SnapshotManifest.relativizePath);
    // lines sort by (pv, path), so a version's sidecar bytes do not
    // depend on the order its write tasks finished in
    val lines = entries
      .map(e => e -> SnapshotManifest.relativizePath(root, e.path))
      .sortBy { case (e, stored) => (e.pv, stored) }
      .map { case (e, stored) =>
        JsonMethods.compact(JsonMethods.render(
          ("pv" -> e.pv) ~ ("path" -> stored) ~ ("bytes" -> e.bytes) ~
            ("rows" -> e.rows) ~
            ("stats" -> e.stats.map { case (c, (mn, mx)) => c -> List(mn, mx) }) ~
            ("ndv" -> e.ndv)))
      }
    val mdir = root.resolve("manifests")
    JFiles.createDirectories(mdir)
    val name =
      s"v$version-${java.util.UUID.randomUUID.toString.take(8)}.files"
    JFiles.write(mdir.resolve(name), lines.asJava)
    name
  }

  /** partitionValue -> file entries of a published version; a
    * manifest that names no sidecar, or names one that is gone,
    * throws [[SnapshotMissingFileException]].
    */
  def read(root: JPath, version: Int): Map[String, Seq[FileEntry]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val f = named(SnapshotManifest.headerLines(root, version))
      .map(root.resolve("manifests").resolve(_))
      .filter(JFiles.exists(_))
      .getOrElse(throw new SnapshotMissingFileException(
        root, version, "stats sidecar"))
    JFiles.readAllLines(f).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val j = JsonMethods.parse(l)
      def str(k: String) = (j \ k).asInstanceOf[JString].s
      def lng(k: String) = (j \ k) match {
        case JInt(v) => v.toLong
        case JLong(v) => v
        case other => throw new IllegalStateException(s"${f.getFileName}: $other")
      }
      val stats = (j \ "stats") match {
        case JObject(fields) => fields.collect {
          case (c, JArray(List(JString(mn), JString(mx)))) => c -> (mn, mx)
        }.toMap
        case _ => Map.empty[String, (String, String)]
      }
      val ndv = (j \ "ndv") match {
        case JObject(fields) => fields.collect {
          case (c, JString(b64)) => c -> b64
        }.toMap
        case _ => Map.empty[String, String]
      }
      FileEntry(str("pv"), SnapshotManifest.resolvePath(root, str("path")),
        lng("bytes"), lng("rows"), stats, ndv)
    }.groupBy(_.pv)
  }

  /** Nominal `FileStatus` for a sidecar entry — the listing
    * [[SnapshotPartitioningIndex]] synthesizes. Block size is nominal:
    * local split sizing uses `maxPartitionBytes`, not block boundaries.
    */
  def status(e: FileEntry): FileStatus =
    new FileStatus(e.bytes, false, 1, 128L << 20, 0L, new Path(e.path))

  /** One real dir listing with the shared hidden-file rule (skip
    * `_SUCCESS`/dotfiles): [[requireExact]]'s check of a write and the
    * live listing of `#upsert` delta dirs.
    */
  def listDataFiles(conf: org.apache.hadoop.conf.Configuration,
                    dir: String): Array[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Columns worth per-file min/max: orderable primitives whose text
    * form round-trips (timestamps are excluded — their text form is
    * zone-sensitive and parquet NTZ stats don't reader-prune anyway,
    * the `zorderLayout` finding).
    */
  def statCols(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType | DateType => true
      case _: DecimalType => true
      case _ => false
    })

  /** DataSketches HLL precision for the per-file NDV sketches:
    * lgK = 12 is Spark's own `hll_sketch_agg` default (~1.6% error),
    * and a sketch is at most ~2.5 KB serialized (far less in the
    * low-cardinality list mode most per-file columns hit).
    */
  val NdvLgK = 12

  /** One file's [[FileEntry]], folded row by row inside the task that
    * writes the file — the stats ride with the write instead of a
    * second pass over its output (the Delta
    * `DeltaJobStatisticsTracker` shape). The result is exactly what
    * [[collect]] profiles for the closed file:
    *
    *  - min/max under Catalyst's ordering, as the `min`/`max`
    *    aggregates fold it (NaN sorts highest; of equal values such as
    *    -0.0 and 0.0 the first seen stays), rendered by the same
    *    `CAST(… AS STRING)`;
    *  - the NDV sketch built by Spark's own `HllSketchAgg` over the
    *    cast text, so the sketch bytes match `hll_sketch_agg`'s (its
    *    final merge of one partial sketch into an empty union returns
    *    the partial's bytes; `WriteTimeStatsSpec` pins this in the
    *    sketch's set and HLL modes).
    *
    * Not thread-safe: one fold per file per task.
    */
  final class StatsFold(schema: StructType, timeZoneId: String) {
    private val cols = statCols(schema).toArray
    private val ordinals = cols.map(f => schema.fieldIndex(f.name))
    private val orderings = cols.map(f =>
      org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(f.dataType))
    private val sketchAggs = cols.zip(ordinals).map { case (f, i) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg(
        Cast(BoundReference(i, f.dataType, nullable = true), StringType,
          Some(timeZoneId)), NdvLgK)
    }
    private val sketches = sketchAggs.map(_.createAggregationBuffer())
    private val mins = new Array[Any](cols.length)
    private val maxs = new Array[Any](cols.length)
    private var rows = 0L

    def update(row: InternalRow): Unit = {
      rows += 1
      var k = 0
      while (k < cols.length) {
        val i = ordinals(k)
        if (!row.isNullAt(i)) {
          val v = row.get(i, cols(k).dataType)
          // writers reuse their row buffers: keep copies, never views
          if (mins(k) == null || orderings(k).lt(v, mins(k)))
            mins(k) = InternalRow.copyValue(v)
          if (maxs(k) == null || orderings(k).gt(v, maxs(k)))
            maxs(k) = InternalRow.copyValue(v)
          sketchAggs(k).update(sketches(k), row)
        }
        k += 1
      }
    }

    def entry(pv: String, path: String, bytes: Long): FileEntry = {
      def text(k: Int, v: Any): String =
        Cast(Literal(v, cols(k).dataType), StringType, Some(timeZoneId))
          .eval().toString
      val stats = cols.indices.flatMap { k =>
        if (mins(k) == null) None
        else {
          val (mn, mx) = (text(k, mins(k)), text(k, maxs(k)))
          if (mn.length > MaxStatLen || mx.length > MaxStatLen) None
          else Some(cols(k).name -> (mn, mx))
        }
      }.toMap
      val ndv = cols.indices.map(k =>
        cols(k).name -> java.util.Base64.getEncoder.encodeToString(
          sketchAggs(k).eval(sketches(k)).asInstanceOf[Array[Byte]])).toMap
      FileEntry(pv, path, bytes, rows, stats, ndv)
    }
  }

  /** Stock parquet writes that fold every file's [[FileEntry]] in the
    * writing task ([[StatsFold]]) and hand it back through `files`, an
    * accumulator, so the entries return with the write job's own task
    * results. Entries carry the partition value parsed from the leaf
    * dir names (`pcols` order, still escaped — the manifest form) and
    * the file NAME as `path`; [[SnapshotTxn.writeLeaves]] re-homes
    * them under the committed leaf dirs.
    */
  final class StatsParquetFormat(pcols: Seq[String],
      files: org.apache.spark.util.CollectionAccumulator[FileEntry],
      timeZoneId: String) extends ParquetFileFormat {
    override def prepareWrite(s: SparkSession,
        job: org.apache.hadoop.mapreduce.Job, options: Map[String, String],
        dataSchema: StructType): OutputWriterFactory =
      new StatsWriterFactory(super.prepareWrite(s, job, options, dataSchema),
        pcols, files, timeZoneId)
  }

  private final class StatsWriterFactory(inner: OutputWriterFactory,
      pcols: Seq[String],
      files: org.apache.spark.util.CollectionAccumulator[FileEntry],
      timeZoneId: String) extends OutputWriterFactory {
    override def getFileExtension(
        ctx: org.apache.hadoop.mapreduce.TaskAttemptContext): String =
      inner.getFileExtension(ctx)

    override def newInstance(path: String, dataSchema: StructType,
        ctx: org.apache.hadoop.mapreduce.TaskAttemptContext): OutputWriter = {
      val w = inner.newInstance(path, dataSchema, ctx)
      val fold = new StatsFold(dataSchema, timeZoneId)
      val file = new Path(path)
      val leafNames = Iterator.iterate(file.getParent)(_.getParent)
        .take(pcols.length).map(_.getName).toSeq.reverse
      val pv = pcols.zip(leafNames)
        .map { case (c, d) => d.stripPrefix(s"$c=") }.mkString("/")
      new OutputWriter {
        override def write(row: InternalRow): Unit = {
          w.write(row)
          fold.update(row)
        }
        override def close(): Unit = {
          w.close()
          val bytes = file.getFileSystem(ctx.getConfiguration)
            .getFileStatus(file).getLen
          files.add(fold.entry(pv, file.getName, bytes))
        }
        override def path(): String = w.path()
      }
    }
  }

  /** Refuse a write whose entries do not name exactly the data files
    * the committed write left in each leaf dir (`pv -> dir`): a
    * partial sidecar would hide files from every sidecar-served read.
    */
  def requireExact(conf: org.apache.hadoop.conf.Configuration,
                   leaves: Seq[(String, String)],
                   entries: Seq[FileEntry]): Unit = {
    def names(es: Seq[FileEntry]) = es.map(e => new Path(e.path).getName)
    val byPv = entries.groupBy(_.pv)
    val strays = byPv.keySet -- leaves.map(_._1)
    if (strays.nonEmpty) throw new IllegalStateException(
      s"stats entries for partitions the write left no dir for: " +
        strays.toSeq.sorted.mkString(", "))
    leaves.foreach { case (pv, dir) =>
      val listed = listDataFiles(conf, dir).map(_.getPath.getName).sorted.toSeq
      val named = names(byPv.getOrElse(pv, Nil)).sorted
      if (listed != named) throw new IllegalStateException(
        s"stats entries for $dir name [${named.mkString(", ")}] but the " +
          s"write left [${listed.mkString(", ")}]")
    }
  }

  /** The reference profile of already-written files: one distributed
    * pass over `dirsByPart`'s data dirs -> per-file (bytes, rows,
    * min/max and NDV sketch per stats column). Grouped on
    * `_metadata.file_path`, so cost is a map-side-combined aggregate
    * over exactly the given dirs; the collected result is O(files)
    * driver metadata, the manifest's own class. [[StatsFold]] computes
    * the same entry at write time; `WriteTimeStatsSpec` rebuilds every
    * commit path's sidecar with this and requires equality.
    */
  def collect(s: SparkSession, dirsByPart: Seq[(String, String)],
              schema: StructType): Seq[FileEntry] = {
    if (dirsByPart.isEmpty) return Nil
    val sc = statCols(schema)
    val aggs = (first(col("__bytes")).as("__b") +:
      sc.flatMap(f => Seq(
        min(col(f.name)).cast("string").as(s"mn__${f.name}"),
        max(col(f.name)).cast("string").as(s"mx__${f.name}")))) ++
      // per-file NDV sketches over the CAST-to-string plane: one
      // canonical text form per distinct value for every stats type,
      // so one sketch vocabulary serves them all and file sketches
      // union losslessly at plan time
      sc.map(f => hll_sketch_agg(col(f.name).cast("string"),
        lit(NdvLgK)).as(s"nd__${f.name}"))
    // DECLARED schema: an undeclared read runs a footer-inference job
    // over every file first — measured as a 312-task pre-job on the
    // migrate path (round 16). Nullable overlay so pre-evolution files
    // degrade to null stats (dropped, sound) instead of a read refusal.
    val rows = s.read
      .schema(StructType(schema.fields.map(_.copy(nullable = true))))
      .parquet(dirsByPart.map(_._2): _*)
      .select(col("_metadata.file_path").as("__file") +:
        col("_metadata.file_size").as("__bytes") +:
        sc.map(f => col(f.name)): _*)
      .groupBy(col("__file"))
      .agg(count(lit(1)).as("__rows"), aggs: _*)
      .collect()
    // commit dirs may be caller-relative; _metadata.file_path is always
    // absolute — absolutize (without symlink resolution, matching how
    // Spark qualifies paths) before prefix-matching
    val prefixes = dirsByPart.map { case (pv, d) =>
      val abs = new java.io.File(d).getAbsolutePath
      (SnapshotBloom.fileKey(new Path(abs).toString) + "/") -> pv
    }
    rows.toSeq.map { r =>
      // _metadata.file_path is a URL-ENCODED URI: a '%' in a partition
      // dir name (hive-escaped values — `a:b` → `a%3Ab`) arrives as
      // `%25`, and Path's constructor re-quotes rather than decodes, so
      // fileKey can't round-trip it — decode through URI before
      // canonicalizing, or an escaped-value partition never matches its
      // own commit dir
      val fkey = new java.net.URI(r.getString(0)).getPath
      val pv = prefixes.collectFirst {
        case (p, v) if fkey.startsWith(p) => v
      }.getOrElse(throw new IllegalStateException(
        s"stats row for $fkey matches no commit dir"))
      val stats = sc.zipWithIndex.flatMap { case (f, i) =>
        val mn = r.getString(3 + 2 * i)
        val mx = r.getString(4 + 2 * i)
        if (mn == null || mx == null ||
            mn.length > MaxStatLen || mx.length > MaxStatLen) None
        else Some(f.name -> (mn, mx))
      }.toMap
      val ndvBase = 3 + 2 * sc.length
      val ndv = sc.zipWithIndex.flatMap { case (f, i) =>
        Option(r.getAs[Array[Byte]](ndvBase + i)).map(b =>
          f.name -> java.util.Base64.getEncoder.encodeToString(b))
      }.toMap
      FileEntry(pv, fkey, r.getLong(2), r.getLong(1), stats, ndv)
    }
  }

  /** Union a set of per-file base64 HLL sketches into one NDV
    * estimate — the plan-time fold behind the scan's reported column
    * statistics. Returns None on a decode failure (a foreign or
    * corrupt sidecar must degrade to no-stats, never fail planning).
    */
  def estimateNdv(sketches: Seq[String]): Option[Long] =
    try {
      val u = new org.apache.datasketches.hll.Union(NdvLgK)
      sketches.foreach { b64 =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(
          java.util.Base64.getDecoder.decode(b64)))
      }
      Some(Math.round(u.getEstimate))
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** Compiles a scan's data filters into a per-file keep-predicate over
  * the [[SnapshotFiles]] min/max stats — the range-skipping half of
  * the metadata plane. Only NULL-REJECTING literal comparisons on a
  * bare column are used (`=`, `<`, `<=`, `>`, `>=`, `IN`), each a
  * sound over-approximation: a kept file may still yield no rows
  * (Spark re-applies every filter after the scan), a skipped file
  * provably cannot. Unsupported conjunct shapes contribute nothing.
  */
object StatsSkipping {
  /** `isMin` widens DOUBLE stats to the interval HULL of both parse
    * interpretations: after a float→double TYPE WIDENING
    * (`ALTER COLUMN … TYPE DOUBLE`), a pre-widening file's stored text
    * came from a FLOAT ("1.1" for 1.1f) whose rows now read as the
    * upcast double (1.10000002…) — parsing that text as a plain double
    * would wrongly skip the file for a literal equal to the upcast
    * value. The hull (min of both readings for min, max for max) is
    * sound for pre- AND post-widening files; un-widened doubles lose
    * nothing (the two readings agree wherever the text round-trips).
    */
  private def parseStored(dt: DataType, s: String,
                          isMin: Boolean): Option[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType => s.toLongOption
    // FLOAT must round-trip through float before widening: the stored
    // text of 1.1f is "1.1", which parses to the DOUBLE 1.1 — but the
    // literal side widens the float (1.10000002...), and comparing the
    // two would wrongly skip a file whose rows match exactly
    case FloatType => s.toFloatOption.map(_.toDouble)
    case DoubleType =>
      (s.toDoubleOption, s.toFloatOption.map(_.toDouble)) match {
        case (Some(d), Some(f)) =>
          Some(if (isMin) math.min(d, f) else math.max(d, f))
        case (d, f) => d.orElse(f)
      }
    case _: DecimalType => Try(BigDecimal(s)).toOption
    case StringType => Some(s)
    case DateType =>
      Try(java.time.LocalDate.parse(s).toEpochDay.toInt).toOption
    case _ => None
  }

  private def fromLiteral(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
      Some(n.longValue())
    case (FloatType | DoubleType, n: Number) => Some(n.doubleValue())
    case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
      Some(d.toBigDecimal)
    case (StringType, u: UTF8String) => Some(u.toString)
    case (DateType, i: Int) => Some(i)
    case _ => None
  }

  /** Same ordering Spark uses for the type: binary for strings
    * (UTF8String), numeric otherwise.
    */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case _ => 0
  }

  type Stats = Map[String, (String, String)]

  /** None = no usable conjunct (keep everything, skip the parse cost). */
  def compile(filters: Seq[Expression], schema: StructType)
      : Option[Stats => Boolean] = {
    def field(name: String): Option[StructField] =
      schema.fields.find(_.name == name)
    // keep-predicate for one (attr op literal) conjunct; `op` receives
    // (parsedMin, parsedMax, literal) and answers "can any row match?"
    def mk(a: AttributeReference, v: Any,
           op: (Any, Any, Any) => Boolean): Option[Stats => Boolean] =
      field(a.name).flatMap { f =>
        fromLiteral(f.dataType, v).map { lv => (st: Stats) =>
          st.get(f.name) match {
            case Some((mnS, mxS)) =>
              (parseStored(f.dataType, mnS, isMin = true),
                parseStored(f.dataType, mxS, isMin = false)) match {
                case (Some(mn), Some(mx)) => op(mn, mx, lv)
                case _ => true
              }
            case None => true // no stats for this column: never skip
          }
        }
      }
    val eq = (mn: Any, mx: Any, v: Any) => cmp(v, mn) >= 0 && cmp(v, mx) <= 0
    val gt = (_: Any, mx: Any, v: Any) => cmp(mx, v) > 0
    val ge = (_: Any, mx: Any, v: Any) => cmp(mx, v) >= 0
    val lt = (mn: Any, _: Any, v: Any) => cmp(mn, v) < 0
    val le = (mn: Any, _: Any, v: Any) => cmp(mn, v) <= 0
    val keeps = filters.flatMap {
      case EqualTo(a: AttributeReference, Literal(v, _)) => mk(a, v, eq)
      case EqualTo(Literal(v, _), a: AttributeReference) => mk(a, v, eq)
      case GreaterThan(a: AttributeReference, Literal(v, _)) => mk(a, v, gt)
      case GreaterThan(Literal(v, _), a: AttributeReference) => mk(a, v, lt)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => mk(a, v, ge)
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => mk(a, v, le)
      case LessThan(a: AttributeReference, Literal(v, _)) => mk(a, v, lt)
      case LessThan(Literal(v, _), a: AttributeReference) => mk(a, v, gt)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => mk(a, v, le)
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) => mk(a, v, ge)
      case In(a: AttributeReference, list)
          if list.forall(_.isInstanceOf[Literal]) =>
        val ks = list.map { case Literal(v, _) => v }
        val perKey = ks.map(v => mk(a, v, eq))
        if (perKey.forall(_.isDefined))
          Some((st: Stats) => perKey.flatten.exists(_(st)))
        else None
      case InSet(a: AttributeReference, hset) =>
        val perKey = hset.toSeq.map(v => mk(a, v, eq))
        if (perKey.forall(_.isDefined))
          Some((st: Stats) => perKey.flatten.exists(_(st)))
        else None
      case _ => None
    }
    if (keeps.isEmpty) None
    else Some((st: Stats) => keeps.forall(_(st)))
  }
}

/** Per-file Bloom bitsets for a snapshot table's point-lookup key.
  *
  * The round-8 `source_bloom_lookup` entry proved the IDEA (per-file
  * signatures prune a point lookup on an unclustered key) but its
  * matched-file list was driver-mediated: a Spark join produced the
  * paths, the driver `collect()`ed them (capped in r9) and re-passed
  * them to a second read. Here the same skipping runs INSIDE the
  * planner instead — [[SnapshotPartitioningIndex.listFiles]] consults the
  * bitsets while answering the scan's file-listing call, exactly where
  * Delta/Iceberg evaluate their per-file stats — so there is no
  * second query, no path re-passing, and the plan is one ordinary
  * parquet scan whose input set is already pruned.
  *
  * Sizing: a FIXED 2^15-bit / k=4 bitset per file (4 KiB dense, less
  * sparse) makes the whole index O(files) metadata. Loading is SCOPED:
  * [[SnapshotPartitioningIndex]] asks for bitsets only for partition-pruned
  * survivor files, the membership filter runs INSIDE the Spark plan
  * (no full-index driver collect), and loaded bitsets are cached per
  * index instance — so a 3-month query over a 10⁶-file table moves
  * 3 months' bitsets to the driver, not 4 GB. False positives cost
  * I/O never correctness: Spark re-applies every data filter after the
  * scan, same contract as parquet row-group stats.
  *
  * Both sides derive k positions from ONE `xxhash64` via standard
  * double hashing (Kirsch–Mitzenmacher): h1 = low 32 bits,
  * h2 = high 32 bits forced odd, pos_i = (h1 + i*h2) mod bits. The
  * write side is a Spark Column expression; the probe side evaluates
  * the SAME Catalyst `XxHash64` on the driver, so agreement is by
  * construction, not by re-implementation.
  */
object SnapshotBloom {
  val Bits = 1 << 15
  val K = 4

  /** The index records WHICH COLUMN its bitsets hash (`<out>.key`
    * marker beside the index dir — inside it, a Spark overwrite would
    * delete the marker with the rows). Without it, `CALL
    * build_bloom('t','B')` on a store whose writers/readers pass
    * `bloomKey='A'` leaves readers probing A-key hashes against
    * B-built bitsets — files containing matching rows silently skip.
    * With it: an APPEND under a different column refuses loudly
    * (the door's incremental maintenance can't mix columns into one
    * index), an overwrite REBUILD re-claims the marker (the explicit
    * re-key spelling), and a reader whose `bloomKey` disagrees with
    * the marker gets no skipping (sound) instead of wrong skipping.
    * A markerless index (a build that crashed before its marker) is
    * claimed by the next build and skips nothing until then.
    */
  private def markerPath(out: String): java.nio.file.Path =
    java.nio.file.Paths.get(out + ".key")

  def indexedColumn(out: String): Option[String] =
    try Some(new String(JFiles.readAllBytes(markerPath(out)),
      "UTF-8").trim).filter(_.nonEmpty)
    catch { case _: java.io.IOException => None }

  private def writeMarker(out: String, keyCol: String): Unit = {
    val p = markerPath(out)
    val tmp = p.resolveSibling(
      s".${p.getFileName}.tmp.${java.util.UUID.randomUUID.toString.take(8)}")
    JFiles.createDirectories(p.getParent)
    JFiles.write(tmp, keyCol.getBytes("UTF-8"))
    JFiles.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Canonical file key: scheme-free absolute path, so the index rows
    * (written from `_metadata.file_path`, a `file:///...` URI) and the
    * FileIndex's `FileStatus` paths (`file:/...`) meet on one form.
    */
  def fileKey(p: String): String = new Path(p).toUri.getPath

  /** One map-side pass over the data dirs -> index parquet
    * (file, positions: sorted int array of set bits). `append = true`
    * EXTENDS an existing index with rows for new dirs (a commit's
    * incremental index maintenance — data files are write-once, so old
    * rows never go stale; rows for vacuumed files are dead weight until
    * the index is rebuilt, never a correctness issue).
    */
  def build(s: SparkSession, dataDirs: Seq[String], keyCol: String,
            out: String, append: Boolean = false,
            dataSchema: Option[StructType] = None): Unit = {
    // column-identity gate (see [[markerPath]]): an incremental append
    // must extend an index built over the SAME column — mixed-column
    // bitsets in one index are wrong skipping waiting to happen
    if (append) indexedColumn(out).foreach(existing =>
      require(existing == keyCol,
        s"Bloom index at $out is built over column '$existing' — " +
          s"cannot append '$keyCol' bitsets to it; rebuild with " +
          "CALL build_bloom(table, column) to re-key the index"))
    // hash the key as LONG on both sides: xxhash64 of an IntegerType
    // column hashes 4 bytes while the driver probe hashes a Long
    // literal's 8 — without the cast an int-typed key column would
    // never match its own bloom bits and the lookup would silently
    // skip the right files
    val xx = xxhash64(col(keyCol).cast("long"))
    val h1 = xx.bitwiseAND(lit(0xFFFFFFFFL))
    val h2 = shiftrightunsigned(xx, 32).bitwiseOR(lit(1L))
    val posArr = array((0 until K).map(i =>
      pmod(h1 + lit(i.toLong) * h2, lit(Bits.toLong)).cast("int")): _*)
    // a caller that knows the dirs' schema declares just the key
    // column (the only data column this pass touches) — skipping the
    // footer-inference job an undeclared multi-dir read runs first
    val reader = dataSchema.flatMap(ds =>
        ds.fields.find(_.name == keyCol).map(f =>
          s.read.schema(StructType(Seq(f.copy(nullable = true))))))
      .getOrElse(s.read)
    reader.parquet(dataDirs: _*)
      .select(col("_metadata.file_path").as("file"), explode(posArr).as("pos"))
      .groupBy(col("file"))
      .agg(sort_array(collect_set(col("pos"))).as("positions"))
      .write.mode(if (append) "append" else "overwrite").parquet(out)
    // claim/refresh the column marker AFTER the rows land: a crashed
    // build leaves either the old marker (old rows intact on append)
    // or no marker at all (no skipping), never a marker promising
    // rows that don't exist
    writeMarker(out, keyCol)
  }

  /** Load bitsets for exactly the given file set. The membership
    * filter runs INSIDE the Spark plan — the index rows for every
    * other file are dropped by executors, never collected — so driver
    * transfer is O(requested files), not O(index).
    *
    * Key normalization: the stored `file` column is the raw
    * `_metadata.file_path` URI, which is URL-ENCODED — a hive-escaped
    * partition dir (`a:b` on disk as `o_ym=a%3Ab`) stores as
    * `o_ym=a%253Ab` — while the requested keys are [[fileKey]]'s
    * decoded on-disk form. Matching the two therefore happens AFTER
    * the same `new java.net.URI(p).getPath` decode that
    * [[SnapshotFiles]] canonicalizes through; the in-plan membership
    * filter matches on the FILE NAME only (parquet part names carry no
    * escapable characters, so they read identically on both sides),
    * which keeps driver transfer O(requested files) without asking the
    * plan to URI-decode. Before this, `%`-containing partitions never
    * matched their bitsets — sound (unindexed files are kept) but the
    * skipping the index advertises was silently inert exactly where
    * escaping was hardened elsewhere.
    */
  def load(s: SparkSession, indexPath: String, files: Set[String],
           root: Option[JPath] = None): Map[String, Array[Long]] = {
    if (files.isEmpty) return Map.empty
    val names = files.map(f => f.substring(f.lastIndexOf('/') + 1))
    // index rows were built from `_metadata.file_path` at BUILD time —
    // after a table RENAME (directory move) the stored absolute paths
    // carry the old root, while the requested keys carry the new one.
    // The root-RELATIVE suffix survives the move and is collision-free
    // within one table (dir names carry commit uuids, part names task
    // uuids), so a row also serves a request whose relative form it
    // ends with. Keyed by the REQUESTED path either way.
    val byRel: Map[String, String] = root match {
      case None => Map.empty
      case Some(rt) => files.iterator.map { f =>
        SnapshotManifest.relativizePath(rt, f) -> f
      }.filter { case (rel, f) => rel != f }.toMap
    }
    s.read.parquet(indexPath)
      .where(substring_index(col("file"), "/", -1).isin(names.toSeq: _*))
      .select(col("file"), col("positions"))
      .collect().iterator.flatMap { r =>
        val stored = r.getString(0)
        val fkey =
          try new java.net.URI(stored).getPath
          catch { case _: java.net.URISyntaxException =>
            stored.replaceFirst("^file:/+", "/") }
        val served: Option[String] =
          if (files.contains(fkey)) Some(fkey)
          else byRel.collectFirst {
            case (rel, abs) if fkey.endsWith("/" + rel) => abs
          }
        served.map { abs =>
          val bits = new Array[Long](Bits / 64)
          r.getSeq[Int](1).foreach(p => bits(p >> 6) |= 1L << (p & 63))
          abs -> bits
        }
      }.toMap
  }

  /** Driver-side probe: the same xxhash64 + double-hash positions. */
  def mayContain(bits: Array[Long], key: Long): Boolean = {
    val xx = new XxHash64(Seq(Literal(key, LongType)), 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]
    val h1 = xx & 0xFFFFFFFFL
    val h2 = (xx >>> 32) | 1L
    (0 until K).forall { i =>
      val p = ((h1 + i * h2) % Bits).toInt
      (bits(p >> 6) & (1L << (p & 63))) != 0
    }
  }
}

/** Typed partition rows for manifest values: "v1/v2/..." in
  * partition-schema order, parsed via Catalyst `Cast` so every
  * partition type reads exactly as Spark would parse it.
  */
object SnapshotPartitionValues {
  /** The pv's segments, in partition-schema order, still dir-name
    * (Hive) escaped — exactly as the commit path recorded them.
    */
  def segments(pv: String, n: Int): Seq[String] =
    (if (n == 1) Array(pv) else pv.split("/", -1)).toIndexedSeq

  /** The Hive leaf-dir suffix (`m1=v1/m2=v2`) for a manifest pv. The
    * pv is ALREADY dir-name-escaped, so segments join verbatim — one
    * shared implementation so every rewriter (compact, clone,
    * fastforward) produces byte-identical names to the commit path's
    * `partitionBy`.
    */
  def leafSuffix(mirrors: Seq[String], pv: String): String =
    mirrors.zip(segments(pv, mirrors.length))
      .map { case (m, v) => s"$m=$v" }.mkString("/")

  def row(pv: String, schema: StructType): InternalRow = {
    val raw = if (schema.length == 1) Array(pv) else pv.split("/", -1)
    require(raw.length == schema.length,
      s"partition value '$pv' does not match $schema")
    InternalRow.fromSeq(raw.toIndexedSeq.zip(schema.fields).map {
      case (v, f) =>
        // manifest pvs carry the HIVE-ESCAPED dir-name form (that is
        // what bootstrap's dir walk and the commit path both record);
        // unescape before casting so the LOGICAL value compares against
        // query predicates — Spark's own partition parsing does the same
        val logical = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(v)
        Cast(Literal(UTF8String.fromString(logical), StringType), f.dataType,
          Some("UTC")).eval(InternalRow.empty)
    })
  }
}

/** The DataFrame door's constructors for snapshot-version reads. The
  * store has ONE read plane, the SQL door's DSv2 tables: a read builds
  * the version's [[SnapshotV2Table]] (or, for a version holding
  * entries of an older partition spec, the union-of-specs
  * [[SnapshotEvolvedV2Table]]) and plans it as a `DataSourceV2Relation`,
  * so pruning, stats and Bloom skipping, merge-on-read anti-filtering
  * and rename mapping all run through [[SnapshotPartitioningIndex]] and
  * the SQL door's scans.
  */
object SnapshotTable {
  /** True when the VERSION's manifest holds entries not laid out under
    * the current spec — the condition that actually needs the
    * union-of-specs read. A fully migrated head (CALL migrate_layout)
    * reads as a plain single-layout table again.
    */
  def hasOldSpecEntries(root: JPath, version: Int): Boolean = {
    val specs = SnapshotManifest.partitionSpecs(root,
      SnapshotMeta.read(root).partitionSchema)
    specs.lengthCompare(1) > 0 && SnapshotManifest.read(root, version)
      .keys.exists(_.split("/", -1).length != specs.last.length)
  }

  /** The table serving `version` of the store at `root`, with the data
    * schema folded (`#schema`, `#rename`, `#drop` records) up to
    * `foldAt`. The SQL door folds at the served version; the DataFrame
    * door folds at the head (`Int.MaxValue`) — it is the rewrite plane,
    * and an old version reads under the head's names and types. The
    * partition schema is the CURRENT spec.
    */
  private[sources] def table(s: SparkSession, name: String, root: JPath,
      version: Int, foldAt: Int, pinned: Boolean,
      bloomKey: Option[String] = None): SupportsRead = {
    val meta = SnapshotMeta.read(root)
    val specs = SnapshotManifest.partitionSpecs(root, meta.partitionSchema)
    val folded = meta.copy(dataSchema =
      SnapshotManifest.effectiveDataSchema(root, meta.dataSchema, foldAt))
    // a version spanning two layouts can't be one single-layout
    // relation (one partition schema; null-filling the appended mirror
    // for old-spec files would break pruning exactness): the
    // union-of-specs table plans one parquet arm per spec
    if (hasOldSpecEntries(root, version))
      new SnapshotEvolvedV2Table(name, s, root, version, folded, specs,
        pinned, foldAt, bloomKey)
    else new SnapshotV2Table(name, s, root, version,
      folded.copy(partitionSchema = specs.last), pinned, foldAt, bloomKey)
  }

  /** The DataFrame door's table: a read-only [[SnapshotReadView]] of
    * `version` (default: head), head-folded and pinned; `bloomKey`
    * turns on Bloom file skipping for literal lookups on that column.
    * A root with no published version gets a capability-free view.
    */
  def view(s: SparkSession, root: JPath, version: Option[Int],
           bloomKey: Option[String]): SnapshotReadView = {
    val v = version.getOrElse(SnapshotManifest.head(root))
    val name = s"graft-snapshot.`$root`@v$v"
    new SnapshotReadView(name, Option.when(v > 0)(
      table(s, name, root, v, foldAt = Int.MaxValue, pinned = true,
        bloomKey)))
  }

  /** The DataFrame door's read of `version` ([[view]]). */
  def read(s: SparkSession, root: JPath, version: Int,
           bloomKey: Option[String] = None): DataFrame =
    org.apache.spark.sql.GraftPlanBridge.ofRows(s,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(view(s, root, Some(version), bloomKey), None, None,
          CaseInsensitiveStringMap.empty()))

  /** The file indexes behind a DataFrame's snapshot reads — one per
    * single-layout relation, one per arm of a union-of-specs relation.
    * Spec hook.
    */
  def fileIndexesOf(df: DataFrame): Seq[SnapshotPartitioningIndex] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation => r.table match {
        case v: SnapshotReadView => v.inner.toSeq.flatMap(indexesOf)
        case t => indexesOf(t)
      }
    }.flatten

  private def indexesOf(t: org.apache.spark.sql.connector.catalog.Table)
      : Seq[SnapshotPartitioningIndex] = t match {
    case t: SnapshotV2Table => Seq(t.readTable.fileIndex)
    case t: SnapshotEvolvedV2Table => t.armIndexes.map(_._2)
    case _ => Nil
  }

  /** The file index behind a single-layout read — spec hook. */
  def fileIndexOf(df: DataFrame): SnapshotPartitioningIndex =
    fileIndexesOf(df).headOption.getOrElse(
      throw new IllegalStateException("no SnapshotPartitioningIndex in plan"))
}

/** The DataFrame door's table ([[SnapshotTable.view]]): the version's
  * SQL-door table behind a READ-ONLY face — `BATCH_READ` only, or no
  * capability at all when `inner` is None (a root with no published
  * version). Scans are the inner table's.
  */
final class SnapshotReadView(viewName: String,
    private[sources] val inner: Option[SupportsRead])
  extends SupportsRead {
  override def name(): String = viewName
  override def schema(): StructType =
    inner.fold(new StructType())(_.schema())
  override def capabilities(): java.util.Set[TableCapability] =
    if (inner.isEmpty) java.util.EnumSet.noneOf(classOf[TableCapability])
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    inner.getOrElse(throw new IllegalStateException(
      s"$viewName has no published version")).newScanBuilder(options)
}

/** The snapshot store's CHANGEFEED as a Structured Streaming source —
  * the Delta CDF consumption pattern: every committed version becomes
  * one stream increment of `changeRows`-shaped deltas, so downstream
  * incremental consumers (an MV refresh, an SCD2 build, a replication
  * sink) subscribe to diffs instead of re-deriving them per call.
  *
  * `spark.readStream.format("graft-snapshot").option("fromVersion", 1)
  * .load(root)` emits rows `(version INT, k LONG, price DOUBLE,
  * old_price DOUBLE, change_type STRING, alive INT)` — post-image,
  * pre-image, and change kind, the Delta-CDF row shape. Version 1 (the
  * parent-less bootstrap) streams as pure inserts; every later version
  * streams as its manifest-scoped diff. A MID-HISTORY subscription
  * (`fromVersion = n > 1`) therefore delivers DIFFS ONLY from version
  * n onward — the Delta `startingVersion` semantics: a consumer that
  * needs state bootstraps it from a batch read of version n−1 and
  * applies the stream on top —
  * each increment costs O(that commit's touched partitions), never a
  * table scan, because [[SnapshotTxn.changeRows]]
  * reads only repointed dirs. Offsets are VERSION NUMBERS: progress is
  * exactly-once per committed version, checkpointable, and a restarted
  * query resumes from the last committed version offset
  * (`SnapshotChangefeedSpec` pins the resume). Options: `fromVersion`
  * (default 1 = the full history), `keyCol` (the diff key — defaults
  * to the store's declared `table.meta` key, refuses when neither
  * exists), `valueCol` (tracked-value column, default `o_totalprice`).
  */
final class SnapshotChangefeedSource(
    spark: SparkSession, root: JPath, fromVersion: Int,
    keyCol: String, valCol: String)
  extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private val startV = fromVersion - 1

  override val schema: StructType = SnapshotChangefeedSource.Schema

  /** Offsets arrive as LongOffset (live) or SerializedOffset (from a
    * checkpoint restart); `json` is the version number either way.
    */
  private def ver(o: OffsetV1): Int = o.json.trim.toInt

  override def getOffset: Option[OffsetV1] = {
    val head = SnapshotManifest.head(root)
    if (head > startV) Some(LongOffset(head.toLong)) else None
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val s0 = math.max(start.map(ver).getOrElse(startV), startV)
    val s1 = ver(end)
    val perVersion = ((s0 + 1) to s1).map { v =>
      val delta =
        if (v == 1)
          // parent-less base: the whole v1 snapshot streams as inserts
          SnapshotTxn.snapshotRead(spark, root, 1)
            .select(col(keyCol).as("k"), col(valCol).as("price"),
              lit(null).cast("double").as("old_price"),
              lit("insert").as("change_type"), lit(1).as("alive"))
        else
          SnapshotTxn.changeRows(spark, root, v - 1, v,
            keyCol, valCol)
      delta.select(lit(v).as("version"), col("k"),
        col("price").cast("double").as("price"),
        col("old_price").cast("double").as("old_price"),
        col("change_type"), col("alive"))
    }
    val df =
      if (perVersion.isEmpty)
        // defensive: an empty recovered range yields an empty batch
        // rather than a reduce() crash
        spark.range(0).select(lit(0).as("version"),
          col("id").as("k"), lit(null).cast("double").as("price"),
          lit(null).cast("double").as("old_price"),
          lit("insert").as("change_type"), lit(1).as("alive"))
      else perVersion.reduce(_ unionByName _)
    org.apache.spark.sql.GraftPlanBridge.streamingFrame(spark, df)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
}

object SnapshotChangefeedSource {
  /** The Delta-CDF row shape: post-image (`price`), pre-image
    * (`old_price`), and an explicit `change_type` — without the
    * pre-image and the insert/update distinction, a consumer cannot
    * maintain any aggregate incrementally.
    */
  val Schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("k", LongType, nullable = true),
    StructField("price", DoubleType, nullable = true),
    StructField("old_price", DoubleType, nullable = true),
    StructField("change_type", StringType, nullable = true),
    StructField("alive", IntegerType, nullable = true)))
}

/** The DataFrameReader/Writer door to [[SnapshotTable]].
  *
  * Read: `spark.read.format("graft-snapshot").option("version", 2)
  * .option("bloomKey", "o_orderkey").load(root)`. Options: `version`
  * (default: head) and `bloomKey` (default: none). A batch read is the
  * `TableProvider` arm: Spark plans [[SnapshotTable.view]] as a
  * `DataSourceV2Relation`, exactly what [[SnapshotTable.read]] builds.
  * The view is read-only, so a write (`DataFrameWriter.save` tests
  * `BATCH_WRITE`), the sink (`writeStream` tests `STREAMING_WRITE`) and
  * the changefeed (`readStream` tests `MICRO_BATCH_READ`) fall back to
  * the V1 arms below.
  *
  * Write: `df.write.format("graft-snapshot").mode("append")
  * .option("commitMode", "upsert" | "delete").save(root)` — the frame
  * is the commit's DELTA, applied copy-on-write against the current
  * head through the store's CAS manifest publish. An empty root
  * bootstraps to v1 (a zero-row bootstrap is legal: the schema
  * persists in `table.meta`, so the empty v1 reads back as zero rows).
  * On a CAS conflict the commit REBASES: it re-reads the new head and
  * re-applies the same key-based delta — sound because upsert/delete
  * deltas are defined per key, not relative to a snapshot's values.
  * Only `SaveMode.Append` is accepted: a snapshot store never
  * overwrites history — that is the point of it. Options: `keyCol`
  * (required at bootstrap; later commits default to the key the
  * store declared in `table.meta` — never a fixed column name),
  * `partCol` (default `o_ym`) or `partCols` (comma-separated
  * multi-column layout), `commitMode` (default `upsert`), `bloomKey`
  * (maintain the per-file Bloom index at commit time).
  */
final class SnapshotSourceProvider extends RelationProvider
    with org.apache.spark.sql.connector.catalog.TableProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  private def opt(parameters: Map[String, String], k: String): Option[String] =
    parameters.get(k.toLowerCase).orElse(parameters.get(k))

  // ---- streaming changefeed arm (see SnapshotChangefeedSource) ------

  override def sourceSchema(ctx: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), SnapshotChangefeedSource.Schema)

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val root = SnapshotDoor.resolveRoot(parameters)
    val fromVersion = opt(parameters, "fromVersion").map(_.toInt).getOrElse(1)
    require(fromVersion >= 1,
      s"fromVersion must be >= 1 (versions are 1-based), got $fromVersion")
    new SnapshotChangefeedSource(ctx.sparkSession, root, fromVersion,
      // the diff key: explicit option, else the store's declared key —
      // never a fixed default (a foreign store's changefeed would
      // silently diff on a column that isn't its key)
      opt(parameters, "keyCol")
        .orElse(SnapshotMeta.read(root).keyCol)
        .getOrElse(throw new IllegalArgumentException(
          s"changefeed on $root needs a keyCol option: the store's " +
            "table.meta declares no key_column to diff on")),
      opt(parameters, "valueCol").getOrElse("o_totalprice"))
  }

  // ---- batch read arm (see SnapshotTable.view) ---------------------

  private def view(properties: java.util.Map[String, String])
      : SnapshotReadView = {
    val parameters = properties.asScala.toMap
    SnapshotTable.view(SparkSession.active,
      SnapshotDoor.resolveRoot(parameters),
      opt(parameters, "version").map(_.toInt), opt(parameters, "bloomKey"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    view(options.asCaseSensitiveMap()).schema()

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = view(properties)

  /** Reached only for a root with no published version, whose view
    * has no capability (a write bootstraps such a root).
    */
  override def createRelation(ctx: SQLContext,
                              parameters: Map[String, String]): BaseRelation =
    throw new IllegalArgumentException(
      s"${SnapshotDoor.resolveRoot(parameters)} has no published " +
        "snapshot version to read")

  override def createRelation(ctx: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    require(mode == org.apache.spark.sql.SaveMode.Append,
      s"graft-snapshot only supports SaveMode.Append (a snapshot store " +
        s"never overwrites history); got $mode")
    SnapshotDoor.commit(ctx.sparkSession, parameters, data, txn = None)
    // `save()` only reads the returned relation's schema (to recache
    // plans over it): a schema-only stub of the new head
    val root = SnapshotDoor.resolveRoot(parameters)
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override lazy val schema: StructType =
        SnapshotTable.view(ctx.sparkSession, root, None, None).schema()
    }
  }

  // ---- streaming sink arm (see SnapshotSink) ------------------------

  override def createSink(ctx: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft-snapshot sink takes per-batch DELTAS (append rows or " +
        "update-mode changed rows, both upserted by key); Complete mode " +
        "would re-commit the whole result every batch")
    new SnapshotSink(ctx.sparkSession, parameters)
  }
}

/** The write door's commit path, shared verbatim between the batch
  * `save()` arm and the streaming [[SnapshotSink]]: option parsing +
  * the CAS retry loop. `txn` is the streaming arm's exactly-once
  * marker, published atomically inside the winning manifest.
  */
private[sources] object SnapshotDoor {
  private def opt(parameters: Map[String, String], k: String) =
    parameters.get(k).orElse(parameters.get(k.toLowerCase))

  /** Table root, or the branch's mini-store root when the `branch`
    * option names one — every arm of the door (batch read/write,
    * streaming sink) resolves through here, which is what makes a
    * branch writable by all of them without its own code path.
    */
  def resolveRoot(parameters: Map[String, String]): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-snapshot needs a path")))
    opt(parameters, "branch") match {
      case None => root
      case Some(b) =>
        require(SnapshotBranches.exists(root, b),
          s"no branch named '$b' — CALL snap.branch to create it first")
        SnapshotBranches.root(root, b)
    }
  }

  def commit(spark: SparkSession, parameters: Map[String, String],
             data: DataFrame, txn: Option[(String, Long)]): Unit = {
    val root = resolveRoot(parameters)
    // key resolution: explicit option wins, else the key the store
    // declared at bootstrap. No literal default — a commit that can't
    // name its upsert/delete key must refuse, not bind to a fixed
    // column name that may exist without being the key.
    val bootstrapped = SnapshotManifest.head(root) > 0
    val keyCol = opt(parameters, "keyCol")
      .orElse(Option.when(bootstrapped)(SnapshotMeta.read(root).keyCol)
        .flatten)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-snapshot commit to $root needs a keyCol option: the " +
          "store declares no key_column in table.meta (or is being " +
          "bootstrapped) — upsert/delete semantics bind to the key"))
    // `partCols` (comma-separated) declares a multi-column layout;
    // `partCol` is the single-column spelling (default `o_ym`)
    val partCols = opt(parameters, "partCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(opt(parameters, "partCol").getOrElse("o_ym")))
    val mode = opt(parameters, "commitMode").getOrElse("upsert")
    val insert = mode match {
      case "upsert" | "upsert-mor" => true
      case "delete" => false
      case other => throw new IllegalArgumentException(
        s"commitMode must be upsert, upsert-mor or delete, got $other")
    }
    // write-side `bloomKey`: maintain the per-file Bloom index at
    // commit time (one map-side pass over the commit's new dirs), so
    // reads with the same option can file-skip point lookups
    val bloomIndexKey = opt(parameters, "bloomKey")
    java.nio.file.Files.createDirectories(root)
    // CHECK-constraint audit on the DataFrame/streaming plane (SQL
    // writes get the analyzer's CheckInvariant instead): ONE pass over
    // the delta counts violations of every live check — ANSI
    // semantics, a row passes on TRUE or NULL, fails only on FALSE.
    // Delete deltas are key lists, not rows entering the table.
    if (insert && bootstrapped) {
      val checks = SnapshotManifest.effectiveChecks(root)
      if (checks.nonEmpty) {
        import org.apache.spark.sql.functions.{coalesce, count, expr, lit, when, not}
        val viols = data.agg(
          count(lit(1)).as("c0"),
          checks.map { case (n, sql) =>
            count(when(not(coalesce(expr(sql).cast("boolean"), lit(true))),
              lit(1))).as(s"viol_$n")
          }: _*).head()
        checks.zipWithIndex.foreach { case ((n, sql), i) =>
          val bad = viols.getLong(i + 1)
          if (bad > 0) throw new IllegalArgumentException(
            s"CHECK constraint $n violated by $bad row(s): $sql")
        }
      }
    }
    // DELETE-door parity with SQL: a `delete_mode='merge-on-read'`
    // store takes its key-list deletes as `#delete` records too —
    // the doomed rows are the head rows whose key the delta names
    // (broadcast semi-join; phantom keys doom nothing), committed at
    // O(delta) with zero partition rewrites. CAS retry lives inside.
    if (!insert && bootstrapped && SnapshotMeta.read(root).mergeOnRead) {
      import org.apache.spark.sql.functions.{broadcast, col}
      val keys = data.select(col(keyCol)).distinct()
      SnapshotTxn.snapshotMorDeleteBy(spark, root,
        df => df.join(broadcast(keys), Seq(keyCol), "left_semi"), txn)
      return
    }
    // MERGE-ON-READ UPSERT (opt-in `commitMode=upsert-mor`, round 16):
    // the batch commits as `#delete` records (existing keys) plus
    // `#upsert` delta dirs — O(batch) bytes, zero partition rewrites,
    // the Hudi MERGE_ON_READ ingest shape for streaming into a hot
    // table ([[SnapshotTxn.snapshotMorUpsert]],
    // CAS retry inside). The copy-on-write door below remains the
    // default: its materialize-on-touch semantics are load-bearing
    // (records drop with rewrites), so the trade is chosen per
    // writer, not silently.
    if (mode == "upsert-mor") {
      require(bootstrapped && SnapshotMeta.read(root).mergeOnRead,
        "commitMode=upsert-mor needs a bootstrapped " +
          "delete_mode='merge-on-read' store")
      SnapshotTxn.snapshotMorUpsert(spark, root,
        data, keyCol, txn)
      return
    }
    // `distribution=none` opts out of the default hash distribution on
    // the layout columns (the Iceberg write.distribution-mode spelling):
    // a caller that deliberately pre-fragmented its input (compaction
    // fixtures, skew demonstrations) keeps its task layout
    val distribute = opt(parameters, "distribution") match {
      case None | Some("hash") => true
      case Some("none") => false
      case Some(other) => throw new IllegalArgumentException(
        s"distribution must be hash or none, got $other")
    }
    // of N racers exactly one publishes each version; losers rebase on
    // the new head and re-apply the key-based delta (the engine's
    // pinned single-attempt commits, re-run by the retrying one)
    SnapshotTxn.commit(root) { a =>
      if (a.head == 0)
        SnapshotTxn.snapshotInit(spark, root, data,
          partCols, bloomIndexKey, txn, keyCol, distribute)
      else
        SnapshotTxn.snapshotCommit(spark, root, a.head,
          a.version, data, insert, keyCol, bloomIndexKey, txn,
          distribute)
    }
  }
}

/** Streaming ingestion INTO the snapshot store:
  * `df.writeStream.format("graft-snapshot")` — each micro-batch
  * becomes one CAS-committed version through the same
  * [[SnapshotDoor]] path as the batch door (upserted by `keyCol`,
  * partitioned by the declared layout), which closes the lakehouse
  * loop: a stream lands as versions, the changefeed source
  * ([[SnapshotChangefeedSource]]) re-emits them, and the incremental
  * MV consumer maintains aggregates — continuous ingestion with
  * batch time travel over every intermediate state.
  *
  * Exactly-once across restarts: Structured Streaming replays the
  * last unacknowledged micro-batch after a crash, so `addBatch` must
  * be idempotent per (query, batchId). The sink publishes
  * `#txn\t<appId>:<batchId>` INSIDE the winning manifest (one atomic
  * link(2) with the commit — no marker/commit crash window) and
  * skips any batch at or below [[SnapshotManifest.lastTxnBatch]] —
  * the Delta `txnVersion`/`txnAppId` idempotent-writer contract.
  * `appId` comes from the `txnAppId` option, defaulting to the
  * query's `checkpointLocation` (stable across restarts of the same
  * query, distinct across queries and fresh checkpoints); with
  * neither option the sink refuses rather than share a fixed
  * namespace that would swallow other writers' batches.
  *
  * At 100 TB: each micro-batch pays O(touched partitions + batch)
  * like any door commit; the replay check is O(versions) tiny driver
  * reads of manifest headers — metadata-plane, not data-plane.
  */
final class SnapshotSink(spark: SparkSession,
                         parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {
  // The watermark namespace. A FIXED default would be a trap: two
  // different queries (or one query restarted on a fresh checkpoint,
  // whose batch ids restart at 0) sharing it would silently skip each
  // other's batches as "replays". Default instead to the query's
  // checkpoint location — stable across restarts of the SAME query
  // (correct resume), distinct across queries and fresh checkpoints
  // (no cross-talk). No checkpoint in the options ⇒ demand an
  // explicit id rather than guess.
  private val app = parameters.get("txnAppId")
    .orElse(parameters.get("checkpointLocation")
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath))
    .getOrElse(throw new IllegalArgumentException(
      "graft-snapshot sink needs a txnAppId option (or a " +
        "checkpointLocation to derive one from): the exactly-once " +
        "replay watermark is per-app, and a shared default would " +
        "silently drop other writers' batches"))
  require(!app.exists(c => c == '\t' || c == '\n' || c == '\r'),
    s"txnAppId must not contain tab/newline (got ${app.trim})" +
      " — it is embedded in the manifest's line format")
  // branch-aware: a stream can land on a staging branch, with the
  // replay watermark read from the same mini-store it commits to
  private val root = SnapshotDoor.resolveRoot(parameters)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (SnapshotManifest.lastTxnBatch(root, app).exists(_ >= batchId)) return
    // the engine hands a streaming-tagged frame; re-wrap its physical
    // rows as a batch frame for the door's relational commit path
    val batch = org.apache.spark.sql.GraftPlanBridge
      .batchFrame(spark, data)
    SnapshotDoor.commit(spark, parameters, batch, Some((app, batchId)))
  }

  override def toString: String = s"SnapshotSink[$root app=$app]"
}
