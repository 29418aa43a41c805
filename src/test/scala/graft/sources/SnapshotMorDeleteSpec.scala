package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** MERGE-ON-READ deletes (round 15 — VERDICT r14 #1): a DELETE on a
  * `delete_mode = 'merge-on-read'` table publishes the doomed keys as
  * `#delete` manifest records and touches ZERO data files; readers
  * anti-filter on the upsert key; `CALL snap.compact` materializes
  * the records away. Pins, in order:
  *
  *  1. the O(delta) commit contract — parent partition map verbatim,
  *     every data file byte-identical (path+size+mtime), records
  *     present;
  *  2. read exactness through BOTH doors (SQL catalog scans incl.
  *     count(*)-shaped pruned reads; the DataFrame door), time travel
  *     to the pre-delete version, and stacked deletes;
  *  3. interop: door upsert on a recorded partition materializes that
  *     partition only (re-inserting a doomed key resurrects exactly
  *     it); the DataFrame door's `commitMode=delete` publishes
  *     records too; UPDATE rewrites read through the filter; ADD
  *     COLUMN carries records; restore rolls the delete state back
  *     and forward; racing deletes CAS-serialize without
  *     double-recording; SPJ/DPP compose (rows filter per task, key
  *     grouping intact);
  *  4. compact materializes (records gone, files clean, reads equal);
  *     a FULLY-doomed partition drops at DELETE time (O(1) metadata,
  *     `DELETE FROM t` = empty manifest); vacuum never sweeps live
  *     delete sidecars and reclaims expired ones;
  *  5. the raw V1 relation reads exactly (anti-filtering file
  *     format); clone and branch CARRY live records (round 16 —
  *     sidecars link/fork-share, stamps preserved); evolve/migrate
  *     interplay: spec evolution refuses live records, but a MoR
  *     DELETE works on an already-evolved head (records mint under
  *     the current spec, both union doors filter globally by key,
  *     compact defers record pvs until migrate_layout converges and
  *     materializes).
  */
class SnapshotMorDeleteSpec extends SparkSpec {

  private def freshCat(name: String): (java.nio.file.Path, String) = {
    val base = java.nio.file.Files.createTempDirectory(name)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (base, cat)
  }

  /** A 3-partition MoR table with keys 1..30 (day = d{k%3}, v = k). */
  private def morTable(name: String): (java.nio.file.Path, String) = {
    val (base, cat) = freshCat(name)
    spark.sql(
      s"""CREATE TABLE $cat.`t`
         |  (id BIGINT, day STRING, v DOUBLE, day_p STRING)
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id',
         |               'delete_mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.`t` SELECT id, " +
      "concat('d', id % 3), CAST(id AS DOUBLE), concat('d', id % 3) " +
      "FROM range(1, 31)")
    (base.resolve("t"), cat)
  }

  private def dataFileState(root: java.nio.file.Path, version: Int)
      : Set[(String, Long, Long)] =
    SnapshotManifest.read(root, version).values.toSet.flatMap {
      (dir: String) =>
        Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => (f.getAbsolutePath, f.length(), f.lastModified()))
          .toSet
    }

  test("MoR DELETE commits O(delta): partition map verbatim, data " +
    "files byte-identical, reads exact through both doors, time " +
    "travel serves the pre-delete rows") {
    val (root, cat) = morTable("mor_core")
    val v2 = SnapshotManifest.head(root)
    val before = dataFileState(root, v2)
    assert(SnapshotManifest.deleteRecords(root, v2).isEmpty)

    spark.sql(s"DELETE FROM $cat.`t` WHERE v > 24.0") // keys 25..30
    val v3 = SnapshotManifest.head(root)
    assert(v3 === v2 + 1)
    // the commit contract: same partition map, same bytes, records on
    // exactly the partitions holding doomed rows (all 3 here)
    assert(SnapshotManifest.read(root, v3) ===
      SnapshotManifest.read(root, v2))
    assert(dataFileState(root, v3) === before,
      "a merge-on-read DELETE must not touch data files")
    val recs = SnapshotManifest.deleteRecords(root, v3)
    assert(recs.keySet === Set("day_p=d0", "day_p=d1", "day_p=d2")
      .map(_.stripPrefix("day_p=")),
      s"records on the doomed partitions, got ${recs.keySet}")

    // SQL door: full rows, pruned count(*) (the key-injection path),
    // per-partition pruned read, aggregate answers
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`t`")
      .head().getLong(0) === 24L)
    assert(spark.sql(s"SELECT CAST(SUM(id) AS BIGINT) FROM $cat.`t`")
      .head().getLong(0) === (1L to 24L).sum)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.`t` WHERE day_p = 'd0'")
      .head().getLong(0) === 8L)
    assert(spark.sql(s"SELECT id FROM $cat.`t` WHERE id >= 24 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(24L))
    // DataFrame door
    assert(SnapshotTable.read(spark, root, v3).count() === 24L)
    assert(SnapshotTxn
      .snapshotRead(spark, root, v3).count() === 24L)
    // time travel: the pre-delete version still serves all 30
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t` VERSION AS OF $v2")
      .head().getLong(0) === 30L)
    assert(SnapshotTable.read(spark, root, v2).count() === 30L)
    // DESCRIBE surfaces the mode and the live record state
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.`t`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("Table Properties").exists(p =>
      p.contains("delete_mode=merge-on-read") &&
        p.contains("live_delete_partitions=3")), s"props: $props")
    // the `deletes` METADATA TABLE serves the live record state as
    // SQL (joinable, version-pinnable): one row per record with its
    // doomed-key count
    val metaRows = spark.sql(
      s"SELECT pv, doomed_keys FROM $cat.`t`.`deletes` ORDER BY pv")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(metaRows.map(_._1).toSeq === Seq("d0", "d1", "d2"))
    assert(metaRows.map(_._2).sum === 6L,
      s"six doomed keys across the records, got ${metaRows.toSeq}")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.`t`.`deletes` VERSION AS OF $v2")
      .head().getLong(0) === 0L, "the pre-delete version has no records")
    // plan-time statistics report POST-delete cardinality: the
    // records' doomed counts subtract from the sidecar row sum, so
    // join planning sees what the scan actually serves
    val scanStats = spark.sql(s"SELECT id FROM $cat.`t`")
      .queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation
          if r.scan.isInstanceOf[SnapshotDppScan] =>
          r.scan.asInstanceOf[SnapshotDppScan].estimateStatistics()
      }.getOrElse(fail("no snapshot scan in plan"))
    assert(scanStats.numRows.isPresent &&
      scanStats.numRows.getAsLong === 24L,
      s"expected post-delete cardinality 24, got ${scanStats.numRows}")
  }

  test("stacked MoR deletes accumulate; records carry across " +
    "commits to other partitions; upsert on a recorded partition " +
    "materializes exactly it") {
    val (root, cat) = morTable("mor_stack")
    spark.sql(s"DELETE FROM $cat.`t` WHERE id IN (3, 6)")    // d0
    spark.sql(s"DELETE FROM $cat.`t` WHERE id IN (9, 12)")   // d0
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 26L)
    val headV = SnapshotManifest.head(root)
    assert(SnapshotManifest.deleteRecords(root, headV)("d0").size === 2,
      "stacked deletes keep one record per commit")

    // door upsert into d1 (key 31): d1 rewritten, d0 records CARRY
    spark.sql(s"INSERT INTO $cat.`t` VALUES (31L, 'd1', 31.0, 'd1')")
    val v = SnapshotManifest.head(root)
    assert(SnapshotManifest.deleteRecords(root, v)("d0").size === 2)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 27L)

    // re-INSERT doomed key 6 (routes to d0): the upsert rewrites d0
    // through the anti-filter — records for d0 drop (materialized),
    // key 6 lives again, keys 3/9/12 stay dead
    spark.sql(s"INSERT INTO $cat.`t` VALUES (6L, 'd0', 60.0, 'd0')")
    val v2 = SnapshotManifest.head(root)
    assert(!SnapshotManifest.deleteRecords(root, v2).contains("d0"),
      "the d0 rewrite materializes its records")
    assert(spark.sql(s"SELECT id FROM $cat.`t` WHERE id IN (3, 6, 9, 12) " +
      "ORDER BY id").collect().map(_.getLong(0)).toSeq === Seq(6L))
    assert(spark.sql(s"SELECT v FROM $cat.`t` WHERE id = 6")
      .head().getDouble(0) === 60.0)
  }

  test("UPDATE on a MoR table takes the DELTA path (round 16): prior " +
    "doomed keys never resurrect, records stack instead of rewriting") {
    val (root, cat) = morTable("mor_update")
    spark.sql(s"DELETE FROM $cat.`t` WHERE id IN (1, 2)") // d1, d2
    val vDel = SnapshotManifest.head(root)
    val filesBefore = SnapshotManifest.read(root, vDel).values.toSet
    // UPDATE matches rows of every partition — on a merge-on-read
    // table this commits `#delete` + `#upsert` records, NO rewrite
    // ([[SnapshotDeltaOperation]]; the group rewrite remains the
    // copy-on-write tables' path)
    spark.sql(s"UPDATE $cat.`t` SET v = v * 10 WHERE id <= 6")
    val v = SnapshotManifest.head(root)
    assert(SnapshotManifest.read(root, v).values.toSet === filesBefore,
      "a MoR UPDATE must not repoint any partition dir")
    assert(SnapshotManifest.deleteRecords(root, v).nonEmpty &&
      SnapshotManifest.upsertRecords(root, v).nonEmpty,
      "the UPDATE commits on the record planes")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 28L)
    assert(spark.sql(s"SELECT id FROM $cat.`t` WHERE id <= 2")
      .count() === 0L, "doomed keys must not resurrect through UPDATE")
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t` " +
      "WHERE id <= 6").head().getLong(0) === (3L + 4 + 5 + 6) * 10)
  }

  test("compact materializes: records gone, doomed keys gone from the " +
    "raw files, reads unchanged; vacuum never sweeps live delete " +
    "sidecars") {
    val (root, cat) = morTable("mor_compact")
    spark.sql(s"DELETE FROM $cat.`t` WHERE id IN (4, 7)") // both d1
    // partially doom d2 (keys 2,5,...,20 — 23/26/29 survive)
    spark.sql(s"DELETE FROM $cat.`t` WHERE day = 'd2' AND id <= 20")
    val expect = (1L to 30L).filterNot(Set(4L, 7L))
      .filterNot(k => k % 3 == 2 && k <= 20)

    // vacuum at the head: the delete sidecars are REFERENCED state
    val kept = SnapshotManifest.head(root)
    SnapshotTxn.snapshotVacuum(root, Set(kept))
    assert(spark.sql(s"SELECT id FROM $cat.`t` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === expect,
      "vacuum must keep live delete sidecars")

    val (nPart, v, _, _) = SnapshotTxn
      .snapshotCompact(spark, root, threshold = 2)
    assert(nPart === 2, "the two recorded partitions rewrite")
    assert(SnapshotManifest.deleteRecords(root, v).isEmpty)
    assert(spark.sql(s"SELECT id FROM $cat.`t` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === expect)
    // the doomed keys are PHYSICALLY gone post-compact
    val rawIds = spark.read.parquet(
      SnapshotManifest.read(root, v).values.toSeq: _*)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!rawIds.contains(4L) && !rawIds.contains(7L) &&
      !rawIds.exists(k => k % 3 == 2 && k <= 20))
    // lifecycle closes: once the record-bearing versions expire,
    // vacuum reclaims the dead delete sidecars (referenced by no kept
    // manifest) while the compacted head keeps reading exactly
    val deadDirs = (1 until v).flatMap(ver =>
      SnapshotManifest.deleteRecords(root, ver).valuesIterator.flatten)
      .distinct
    assert(deadDirs.nonEmpty, "fixture must have expired delete dirs")
    SnapshotTxn.snapshotVacuum(root, Set(v))
    assert(deadDirs.forall(d => !new java.io.File(d).exists()),
      s"vacuum must sweep dead delete sidecars: $deadDirs")
    assert(spark.sql(s"SELECT id FROM $cat.`t` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === expect)
  }

  test("schema evolution composes: ADD COLUMN while records are live " +
    "carries them (metadata-only commit, dirs unchanged) and evolved " +
    "reads keep filtering") {
    val (root, cat) = morTable("mor_addcol")
    spark.sql(s"DELETE FROM $cat.`t` WHERE id IN (2, 4)")
    spark.sql(s"ALTER TABLE $cat.`t` ADD COLUMN note STRING")
    val v = SnapshotManifest.head(root)
    assert(SnapshotManifest.deleteRecords(root, v).nonEmpty,
      "a schema-only commit must carry the live records")
    val got = spark.sql(
      s"SELECT COUNT(*) AS n, COUNT(note) AS notes FROM $cat.`t`")
      .head()
    assert(got.getLong(0) === 28L, "filter holds through the widening")
    assert(got.getLong(1) === 0L, "old files serve the column as NULL")
    // and the widened upsert path still materializes on touch
    spark.sql(
      s"INSERT INTO $cat.`t` VALUES (2L, 'd2', 20.0, 'hi', 'd2')")
    assert(spark.sql(s"SELECT note FROM $cat.`t` WHERE id = 2")
      .head().getString(0) === "hi")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 29L, "key 4 stays dead, key 2 re-lives")
  }

  test("a FULLY-doomed partition drops from the manifest at DELETE " +
    "time — O(1) metadata, no record, no read-amplification; " +
    "DELETE FROM t collapses to an empty manifest (truncate shape)") {
    val (root, cat) = morTable("mor_pdrop")
    spark.sql(s"DELETE FROM $cat.`t` WHERE day = 'd2'") // all of d2
    val v = SnapshotManifest.head(root)
    assert(!SnapshotManifest.read(root, v).contains("d2"),
      "the fully-doomed partition must drop, not record")
    assert(SnapshotManifest.deleteRecords(root, v).isEmpty,
      "a pure partition drop needs no records at all")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 20L)
    // stacking proves it works THROUGH prior records: doom part of
    // d1, then the rest — the second statement's counts plus the
    // prior record's prove full doom, and d1 drops with its records
    spark.sql(s"DELETE FROM $cat.`t` WHERE day = 'd1' AND id <= 13")
    val v2 = SnapshotManifest.head(root)
    assert(SnapshotManifest.deleteRecords(root, v2).contains("d1"))
    spark.sql(s"DELETE FROM $cat.`t` WHERE day = 'd1'")
    val v3 = SnapshotManifest.head(root)
    assert(!SnapshotManifest.read(root, v3).contains("d1") &&
      !SnapshotManifest.deleteRecords(root, v3).contains("d1"),
      "prior records + the closing doom must drop the partition")
    // the truncate shape: everything left dooms fully -> empty
    // manifest, zero records, zero data writes
    spark.sql(s"DELETE FROM $cat.`t`")
    val v4 = SnapshotManifest.head(root)
    assert(SnapshotManifest.read(root, v4).isEmpty &&
      SnapshotManifest.deleteRecords(root, v4).isEmpty)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 0L)
    // history is intact: the pre-drop version still serves d2's rows
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.`t` VERSION AS OF ${v - 1}")
      .head().getLong(0) === 30L)
  }

  test("restore rolls the delete state: to pre-delete resurrects, " +
    "back to post-delete re-dooms") {
    val (root, cat) = morTable("mor_restore")
    val vBase = SnapshotManifest.head(root)
    spark.sql(s"DELETE FROM $cat.`t` WHERE id <= 10")
    val vDel = SnapshotManifest.head(root)
    SnapshotTxn.snapshotRestore(root, vBase)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 30L, "restore past the delete resurrects")
    SnapshotTxn.snapshotRestore(root, vDel)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 20L, "restore forward re-dooms")
  }

  test("live-record lifecycle: evolve/migrate still refuse; clone and " +
    "branch CARRY records (round 16); the raw V1 relation reads " +
    "exactly (anti-filtering file format)") {
    val (root, cat) = morTable("mor_refuse")
    spark.sql(s"DELETE FROM $cat.`t` WHERE id = 1")
    val head = SnapshotManifest.head(root)
    // the V1 relation plane anti-filters inside its file format: a
    // raw format("graft-snapshot") read is exact, pruned reads
    // included (the key column injects and projects away)
    val v1 = spark.read.format("graft-snapshot")
      .option("path", root.toString).load()
    assert(v1.count() === 29L)
    assert(v1.filter(col("id") === 1L).count() === 0L)
    assert(v1.select(col("v")).agg(sum(col("v"))).head().getDouble(0)
      === (2L to 30L).map(_.toDouble).sum)
    // spec evolution still refuses (the union-of-specs read has no
    // record plane behind it)
    intercept[Exception] {
      SnapshotTxn.snapshotEvolvePartitioning(
        spark, root, "bucket(4, id)")
    }
    // clone over LIVE records (round 16): sidecars hard-link, record
    // lines re-publish, the base manifest takes the source version
    // number so future commit stamps stay above the carried ones
    val cloneRoot = root.resolveSibling("mor_refuse_clone")
    val (cv, nc0, _) = SnapshotTxn.snapshotClone(
      root, cloneRoot)
    assert(cv === head && SnapshotManifest.head(cloneRoot) === head,
      "a record-carrying clone bases at the source version")
    assert(SnapshotManifest.deleteRecords(cloneRoot, head).nonEmpty)
    assert(nc0 === 3)
    assert(SnapshotTable.read(spark, cloneRoot, head).count() === 29L,
      "the clone reads through its carried records")
    // branch over LIVE records: fork-shared sidecars, exact reads
    val (_, nb) = SnapshotTxn.snapshotBranchCreate(
      root, "withrecs")
    val broot = graft.sources.SnapshotBranches.root(root, "withrecs")
    assert(nb === 3)
    assert(SnapshotManifest.deleteRecords(broot, head).nonEmpty)
    assert(SnapshotTable.read(spark, broot, head).count() === 29L,
      "the branch reads through its carried records")
    // vacuum on MAIN keeps the sidecars the branch references; the
    // clone owns hard links, so it is immune either way
    SnapshotTxn.snapshotVacuum(root, Set(head))
    assert(SnapshotTable.read(spark, broot, head).count() === 29L)
    assert(SnapshotTable.read(spark, cloneRoot, head).count() === 29L)
    // the DataFrame door still reads exactly (opt-in filter applied)
    assert(SnapshotTable.read(spark, root, head).count() === 29L)
    // compact on the CLONE materializes ITS records independently
    SnapshotTxn.snapshotCompact(spark, cloneRoot, 2)
    val cHead = SnapshotManifest.head(cloneRoot)
    assert(!SnapshotManifest.hasLiveMorRecords(cloneRoot, cHead))
    assert(SnapshotTable.read(spark, cloneRoot, cHead).count() === 29L)
    // main still serves its records (clone rewrites shared nothing)
    assert(SnapshotTable.read(spark, root, head).count() === 29L)
  }

  test("the DataFrame door's key-list delete (commitMode=delete) also " +
    "publishes records on a merge-on-read store: zero rewrites, " +
    "phantom keys doom nothing") {
    import spark.implicits._
    val (root, cat) = morTable("mor_door")
    val before = dataFileState(root, SnapshotManifest.head(root))
    // doomed keys 5, 10; 999 is a phantom (not in the table)
    Seq(5L, 10L, 999L).toDF("id")
      .write.format("graft-snapshot").option("commitMode", "delete")
      .mode("append").save(root.toString)
    val v = SnapshotManifest.head(root)
    assert(dataFileState(root, v) === before,
      "the door's MoR delete must not rewrite partitions")
    val recs = SnapshotManifest.deleteRecordsWithCounts(root, v)
    assert(recs.valuesIterator.flatten.map(_._2).sum === 2L,
      s"phantom keys must not mint record counts: $recs")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 28L)
    assert(SnapshotTable.read(spark, root, v)
      .filter(col("id").isin(5L, 10L)).count() === 0L)
  }

  test("MoR composes with SPJ and DPP: a bucket-layout table with " +
    "live records still joins exchange-free (rows filtered per task) " +
    "and a runtime-pruned scan stays exact") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val base = java.nio.file.Files.createTempDirectory("mor_spj")
    val cat = "morspj"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    for (t <- Seq("a", "b")) s.sql(
      s"""CREATE TABLE $cat.`$t` (id BIGINT, v DOUBLE)
         |PARTITIONED BY (bucket(4, id))
         |TBLPROPERTIES ('key_column' = 'id',
         |               'delete_mode' = 'merge-on-read')""".stripMargin)
    import s.implicits._
    (1L to 200L).map(i => (i, i.toDouble)).toDF("id", "v")
      .createOrReplaceTempView("mor_spj_src")
    s.sql(s"INSERT INTO $cat.`a` SELECT id, v FROM mor_spj_src")
    s.sql(s"INSERT INTO $cat.`b` SELECT id, v * 2.0 FROM mor_spj_src")
    s.sql(s"DELETE FROM $cat.`a` WHERE id <= 20") // records, no rewrite
    val q = s.sql(
      s"""SELECT SUM(a.v + b.v) FROM $cat.`a` a
         |JOIN $cat.`b` b ON a.id = b.id""".stripMargin)
    assert(q.collect().head.getDouble(0) ===
      (21 to 200).map(i => i + 2.0 * i).sum,
      "doomed keys must drop from the storage-partitioned join")
    val joins = q.queryExecution.executedPlan.collect {
      case j: SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
      case j: ShuffledHashJoinExec => j
    }
    assert(joins.nonEmpty)
    assert(joins.map(_.collect {
      case e: ShuffleExchangeLike => e }.size).sum === 0,
      s"MoR records must not cost the join its key grouping:\n" +
        q.queryExecution.executedPlan)
    // DPP-style static narrowing onto the hidden bucket plane: a
    // point lookup prunes to one bucket AND applies that bucket's
    // doomed keys (5 is doomed; 25 lives — same bucket layout path)
    assert(s.sql(s"SELECT v FROM $cat.`a` WHERE id = 5").count() === 0L)
    assert(s.sql(s"SELECT v FROM $cat.`a` WHERE id = 25")
      .head().getDouble(0) === 25.0)
  }

  test("racing MoR deletes: the CAS serializes them, the loser " +
    "rebases against the winner's head, and overlapping dooms don't " +
    "double-record") {
    val (root, cat) = morTable("mor_race")
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    // overlapping predicates: both doom key 6; each dooms two more
    val preds = Seq("id IN (3, 6, 9)", "id IN (6, 12, 15)")
    val futs = preds.map { p => pool.submit(new Runnable {
      override def run(): Unit = {
        gate.await()
        spark.sql(s"DELETE FROM $cat.`t` WHERE $p")
      }
    })}
    gate.countDown()
    futs.foreach(_.get())
    pool.shutdown()
    val v = SnapshotManifest.head(root)
    // exactly the union is doomed, each key once: the loser's rebase
    // recomputes against the winner's delete-aware head, so a key the
    // winner already doomed records nothing again
    val doomedTotal = SnapshotManifest.deleteRecordsWithCounts(root, v)
      .valuesIterator.flatten.map(_._2).sum
    assert(doomedTotal === 5L,
      s"5 distinct keys doomed across both statements, got $doomedTotal")
    assert(spark.sql(s"SELECT id FROM $cat.`t` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq ===
      (1L to 30L).filterNot(Set(3L, 6L, 9L, 12L, 15L)))
  }

  test("a copy-on-write table refuses nothing and never carries " +
    "records (the default path is bit-identical to before)") {
    val (base, cat) = freshCat("mor_cow")
    spark.sql(
      s"""CREATE TABLE $cat.`t` (id BIGINT, day STRING, v DOUBLE,
         |  day_p STRING)
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.`t` SELECT id, concat('d', id % 2), " +
      "CAST(id AS DOUBLE), concat('d', id % 2) FROM range(1, 11)")
    spark.sql(s"DELETE FROM $cat.`t` WHERE id IN (2, 4)")
    val root = base.resolve("t")
    assert(SnapshotManifest.deleteRecords(root,
      SnapshotManifest.head(root)).isEmpty)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 8L)
  }

  test("MoR DELETE works on an UNMIGRATED evolved head (round 16): " +
    "records-only commit across arms, both doors exact; compact " +
    "defers record pvs; migrate materializes and converges") {
    val (root, cat) = morTable("mor_evolved")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'bucket(2, id)')")
    // touch ONE day so the head mixes arities (d1 migrates, d0/d2 stay)
    spark.sql(s"INSERT INTO $cat.`t` VALUES (100L, 'd1', 100.0, 'd1')")
    val headE = SnapshotManifest.head(root)
    assert(SnapshotTable.hasOldSpecEntries(root, headE),
      "fixture must be an unmigrated evolved head")
    val entriesPre = SnapshotManifest.read(root, headE)

    // dooms 29, 30 (OLD-spec arms) and 100 (new-spec arm) — the
    // cross-arm shape the global key filter must cover
    spark.sql(s"DELETE FROM $cat.`t` WHERE v >= 29.0")
    val vDel = SnapshotManifest.head(root)
    assert(vDel === headE + 1)
    assert(SnapshotManifest.read(root, vDel) === entriesPre,
      "a records-only commit must not repoint any entry")
    val recs = SnapshotManifest.deleteRecords(root, vDel)
    assert(recs.nonEmpty &&
      recs.keySet.forall(_.split("/", -1).length == 2),
      s"records mint under the CURRENT spec, got ${recs.keySet}")

    // SQL evolved (union) door: full rows, aggregates, pruned count
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 28L)
    assert(spark.sql(s"SELECT CAST(SUM(id) AS BIGINT) FROM $cat.`t`")
      .head().getLong(0) === (1L to 28L).sum)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.`t` WHERE day_p = 'd2'")
      .head().getLong(0) === 9L) // 2,5,...,26 survive; 29 doomed
    // DataFrame union door
    assert(SnapshotTable.read(spark, root, vDel).count() === 28L)
    // time travel: pre-delete evolved version intact
    assert(SnapshotTable.read(spark, root, headE).count() === 31L)
    // changefeed: the records-only commit must surface delete events
    // for doomed rows living in OLD-SPEC entries too (the record's pv
    // is the current-spec derivation — a pv-scoped diff would miss
    // them; round-16 review fix)
    val ch = SnapshotTxn
      .changeRows(spark, root, headE, vDel, keyCol = "id", valCol = "v")
      .collect()
    assert(ch.length === 3 && ch.forall(_.getString(3) === "delete"),
      s"3 delete events expected, got ${ch.toSeq}")
    assert(ch.map(_.getLong(0)).sorted.toSeq === Seq(29L, 30L, 100L),
      "old-spec-resident doomed keys must surface")

    // compact DEFERS record-bearing pvs on an evolved head (their
    // doomed rows may live in old-spec arms)
    SnapshotTxn.snapshotCompact(spark, root, 2)
    assert(SnapshotManifest.deleteRecords(root,
      SnapshotManifest.head(root)).nonEmpty,
      "compact must not materialize records while arities are mixed")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 28L)

    // migrate converges the layout AND materializes the records whose
    // rows it rewrites (global anti-filter on the migrating read)
    val (nMig, _) = SnapshotTxn
      .snapshotMigrateLayout(spark, root, 100)
    assert(nMig > 0)
    val vMig = SnapshotManifest.head(root)
    assert(!SnapshotTable.hasOldSpecEntries(root, vMig))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 28L,
      "doomed keys stay dead through migration")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t` WHERE id >= 29")
      .head().getLong(0) === 0L)
    // converged head: compact clears the remaining records
    SnapshotTxn.snapshotCompact(spark, root, 2)
    val vEnd = SnapshotManifest.head(root)
    assert(!SnapshotManifest.hasLiveMorRecords(root, vEnd))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 28L)
  }

  private def rowsOf(cat: String): Set[(Long, String, Double)] =
    spark.sql(s"SELECT id, day, v FROM $cat.`t`").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("a non-pushable DELETE on a partitioned MoR table deletes") {
    // `id * 2 > 40` is no source filter: Spark plans the delta write,
    // whose key-only plane must not need the layout's data columns
    val (root, cat) = morTable("mor_unpushable")
    val before = rowsOf(cat)
    val v = SnapshotManifest.head(root)
    spark.sql(s"DELETE FROM $cat.`t` WHERE id * 2 > 40 AND id * 2 <= 60")
    assert(rowsOf(cat) === before.filterNot { case (id, _, _) =>
      id * 2 > 40 && id * 2 <= 60 })
    assert(SnapshotManifest.head(root) === v + 1)
    assert(SnapshotManifest.deleteRecords(root, v + 1).nonEmpty,
      "the delete must publish merge-on-read records")
    assert(SnapshotManifest.upsertRecords(root, v + 1).isEmpty,
      "a DELETE writes no delta rows")
  }

  /** A fresh `mode` table with keys 1..30 (day = d{k%3}, v = k) at v2. */
  private def sharedTable(mode: String): (java.nio.file.Path, String) = {
    val (base, cat) = freshCat(s"shared_${mode.take(3)}")
    spark.sql(
      s"""CREATE TABLE $cat.`t`
         |  (id BIGINT, day STRING, v DOUBLE, day_p STRING)
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id',
         |               'delete_mode' = '$mode')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.`t` SELECT id, " +
      "concat('d', id % 3), CAST(id AS DOUBLE), concat('d', id % 3) " +
      "FROM range(1, 31)")
    (base.resolve("t"), cat)
  }

  // Spark rewrites the shared `id * 2` of `id * 2 BETWEEN 42 AND 60`
  // into a `With` alias (`_common_expr_0`) that no table column
  // carries: the metadata delete must decline it
  private val sharedDelete = "DELETE FROM %s.`t` WHERE id * 2 BETWEEN 42 AND 60"

  test("DELETE over a shared subexpression on MoR falls back") {
    val (root, cat) = sharedTable("merge-on-read")
    val before = rowsOf(cat)
    spark.sql(sharedDelete.format(cat))
    assert(rowsOf(cat) === before.filterNot { case (id, _, _) =>
      id * 2 >= 42 && id * 2 <= 60 })
    assert(SnapshotManifest.head(root) === 3)
  }

  test("a CoW DELETE over a shared subexpression skips deleteWhere") {
    import org.apache.spark.sql.connector.catalog.{Identifier,
      SupportsDelete, TableCatalog}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    val (root, cat) = sharedTable("copy-on-write")
    val table = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array.empty[String], "t"))
      .asInstanceOf[SupportsDelete]
    assert(!table.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("_common_expr_0", 42L),
      LessThanOrEqual("_common_expr_0", 60L))),
      "a filter over a name the table lacks must take the row-level path")
    assert(table.canDeleteWhere(
      Array[org.apache.spark.sql.sources.Filter](GreaterThanOrEqual("id", 21L))))
    // the group-based rewrite Spark 4.1.2 then plans fails on the same
    // alias (its group-filter subquery and write rows lose track of
    // it): loudly, and nothing publishes
    val before = rowsOf(cat)
    intercept[Exception](spark.sql(sharedDelete.format(cat)))
    assert(rowsOf(cat) === before)
    assert(SnapshotManifest.head(root) === 2)
  }
}
