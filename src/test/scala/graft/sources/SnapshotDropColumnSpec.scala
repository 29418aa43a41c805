package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** METADATA-ONLY DROP COLUMN via `#drop` tombstones — the complement
  * of `#rename` on the same name-mapping plane:
  *
  *  1. the drop is one manifest record; zero files move; pre-drop
  *     footers keep the column's bytes and every reader stops
  *     DECLARING it, so mixed-epoch reads (pre-drop files + post-drop
  *     rewrites) serve the subtracted schema exactly;
  *  2. refusals stay loud: key column, layout mirrors/sources (from
  *     the CURRENT evolved spec), live-CHECK references, the last
  *     data column;
  *  3. re-ADD of a dropped name is refused at every widening door
  *     (ALTER ADD COLUMN, widening upsert delta, RENAME target) —
  *     pre-drop footers would resurrect the old values;
  *  4. the tombstone survives vacuum's normalize version, carries to
  *     clones and branch bases, and fastforward publishes
  *     branch-staged drops to main.
  */
class SnapshotDropColumnSpec extends SparkSpec {

  /** 120 rows, 3 day-partitions, 2 event types, keyed by id. */
  private def freshStore(name: String): (java.nio.file.Path, String) = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(name)
    val root = base.resolve("t")
    (1L to 120L).map(id =>
        (id, s"t${id % 2}", s"d${id % 3}", id.toDouble))
      .toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (root, cat)
  }

  test("drop is metadata-only; mixed-epoch reads serve the subtracted " +
    "schema through both doors; rewrites carry rows without it") {
    import spark.implicits._
    val (root, cat) = freshStore("dc_main")
    val v1Dirs = SnapshotManifest.read(root, 1)
    spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN etype")          // v2
    assert(SnapshotManifest.head(root) === 2)
    assert(SnapshotManifest.read(root, 2) === v1Dirs,
      "drop must move zero files")
    // post-drop upsert touching d0: the delta carries the POST-drop
    // shape; d0's kept rows rewrite WITHOUT etype, d1/d2 keep their
    // pre-drop files (etype still in their footers, never declared)
    Seq((3L, "d0", 1003.0), (200L, "d0", 1200.0))
      .toDF("id", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                         // v3
    val df = SnapshotTable.read(spark, root, 3)
    assert(df.columns.toSeq === Seq("id", "day", "v", "day_p"),
      s"etype must be projected out: ${df.columns.toSeq}")
    assert(df.count() === 121L)
    assert(df.agg(sum(col("v")).cast("long")).head().getLong(0) ===
      (1L to 120L).sum - 3L + 1003L + 1200L)
    // SQL door sees the same subtracted schema
    val sqlCols = spark.sql(s"SELECT * FROM $cat.`t`").columns.toSeq
    assert(sqlCols === Seq("id", "day", "v", "day_p"))
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) AS s, " +
      s"COUNT(*) AS n FROM $cat.`t` WHERE day_p = 'd1'").head().getLong(1)
      === (1L to 120L).count(_ % 3 == 1).toLong)
    // DESCRIBE surfaces the tombstone
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.`t`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("Table Properties").exists(
      _.contains("dropped_columns=etype")), s"missing tombstone: $props")
  }

  test("refusals: key, layout source/mirror (current evolved spec), " +
    "live CHECK, last column; re-ADD and rename-to refused everywhere") {
    import spark.implicits._
    val (root, cat) = freshStore("dc_ref")
    val eKey = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN id")
    }
    assert(eKey.getMessage.contains("key column"))
    val eSrc = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN day")
    }
    assert(eSrc.getMessage.contains("partition layout"))
    // appended-spec source refuses too (refusal set = CURRENT spec)
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")
    spark.sql(s"CALL $cat.migrate_layout('t', 100)")
    val eEvo = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN etype")
    }
    assert(eEvo.getMessage.contains("partition layout"))
    // live CHECK reference
    spark.sql(s"ALTER TABLE $cat.`t` ADD CONSTRAINT vpos CHECK (v > 0)")
    val eChk = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN v")
    }
    assert(eChk.getMessage.contains("vpos"))
    spark.sql(s"ALTER TABLE $cat.`t` DROP CONSTRAINT vpos")
    spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN v")
    // re-ADD refused: ALTER ADD COLUMN, widening delta, RENAME target
    val eAdd = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` ADD COLUMN v DOUBLE")
    }
    assert(eAdd.getMessage.contains("DROPPED"), eAdd.getMessage)
    val eWide = intercept[Exception] {
      Seq((300L, "t0", "d0", 9.0)).toDF("id", "etype", "day", "v")
        .write.format("graft-snapshot")
        .option("keyCol", "id").option("partCol", "day")
        .mode("append").save(root.toString)
    }
    assert(eWide.getMessage.contains("DROPPED"), eWide.getMessage)
    spark.sql(s"ALTER TABLE $cat.`t` ADD COLUMN w DOUBLE")
    val eRen = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN w TO v")
    }
    assert(eRen.getMessage.contains("already in use") ||
      eRen.getMessage.contains("already exists"), eRen.getMessage)
  }

  test("dropping a renamed column refuses re-adding its FORMER name " +
    "too, and the tombstone survives vacuum's normalize version") {
    import spark.implicits._
    val (root, cat) = freshStore("dc_vac")
    spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN v TO val")     // v2
    spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN val")            // v3
    Seq((200L, "t0", "d0")).toDF("id", "etype", "day")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                         // v4
    SnapshotTxn.snapshotVacuum(root, Set(4))
    assert(!java.nio.file.Files.exists(
      root.resolve("manifests").resolve("v3.manifest")),
      "the #drop-bearing manifest must actually have expired")
    val meta = SnapshotMeta.read(root).get
    assert(SnapshotManifest.effectiveDataSchema(root, meta.dataSchema)
      .fieldNames.toSeq === Seq("id", "etype", "day"),
      "vacuum lost the tombstone: the dropped column resurfaced")
    // both the dropped name AND its pre-rename footer name stay refused
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` ADD COLUMN val DOUBLE")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` ADD COLUMN v DOUBLE")
    }
    assert(SnapshotTable.read(spark, root,
      SnapshotManifest.head(root)).count() === 121L)
  }

  test("DROP COLUMN on a MIXED-arity evolved head: the union scan " +
    "serves the subtracted schema across both arms") {
    import spark.implicits._
    val (root, cat) = freshStore("dc_evo")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")     // v2
    // touch d0 so the head MIXES migrated and old-spec partitions
    Seq((200L, "t0", "d0", 1200.0)).toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                         // v3
    // drop a non-layout column while the head is still unmigrated:
    // the DDL resolves against the evolved table, the tombstone
    // publishes, and the union scan stops declaring the name on BOTH
    // arms (old-spec footers keep it, migrated files keep it — no
    // reader sees it)
    spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN v")              // v4
    val df = spark.sql(s"SELECT * FROM $cat.`t` WHERE etype_p = 't0'")
    assert(df.columns.toSeq ===
      Seq("id", "etype", "day", "day_p", "etype_p"))
    assert(df.count() === (1L to 120L).count(_ % 2 == 0) + 1L)
    // and the DataFrame union door agrees
    val un = SnapshotTable.read(spark, root, SnapshotManifest.head(root))
    assert(!un.columns.contains("v"))
    assert(un.count() === 121L)
  }

  test("clone carries the tombstone; branch-staged drops fastforward " +
    "to main") {
    import spark.implicits._
    val (root, cat) = freshStore("dc_br")
    spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN etype")          // v2
    spark.sql(s"CALL $cat.clone('t', 'u')")
    val uroot = root.getParent.resolve("u")
    val umeta = SnapshotMeta.read(uroot).get
    assert(SnapshotManifest.effectiveDataSchema(uroot, umeta.dataSchema)
      .fieldNames.toSeq === Seq("id", "day", "v"))
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`u` ADD COLUMN etype STRING")
    }
    // branch: stage a drop, main unaffected until fastforward
    spark.sql(s"CALL $cat.branch('t', 'dev')")
    spark.sql(s"ALTER TABLE $cat.`t`.`branch_dev` DROP COLUMN v")
    assert(spark.sql(s"SELECT * FROM $cat.`t`").columns.contains("v"),
      "a branch-staged drop must not leak to main")
    assert(!spark.sql(s"SELECT * FROM $cat.`t` VERSION AS OF 'dev'")
      .columns.contains("v"))
    spark.sql(s"CALL $cat.fastforward('t', 'dev')")
    assert(!spark.sql(s"SELECT * FROM $cat.`t`").columns.contains("v"),
      "fastforward must publish the staged drop")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` ADD COLUMN v DOUBLE")
    }
  }

  test("time travel serves the PINNED version's own schema on the " +
    "catalog door (round 14, VERDICT r13 #7 — the Iceberg semantics): " +
    "a pre-drop pin shows the dropped column with its values, a " +
    "pre-widen pin lacks the later column; the DataFrame door stays " +
    "head-wins (the internal-rewrite plane's contract)") {
    import spark.implicits._
    // The catalog's `VERSION AS OF` caps the `#schema`/`#rename`/
    // `#drop` fold AND the footer name-mapping at the pinned version
    // (`effectiveDataSchema(root, base, upTo)` /
    // `chainsFor(root, logical, upTo)`) — head loads cap at the head,
    // which is the identical fold, so the bare-table path is
    // bit-unchanged. The DataFrame door (`SnapshotTable.read`)
    // deliberately keeps head-wins: it is the engine's REWRITE plane
    // (upserts, compaction, diffs align old versions under one
    // current shape) — pinned-schema there would misalign
    // cross-version unions. Both contracts pinned here.
    val (root, cat) = freshStore("dc_tt")
    spark.sql(s"INSERT INTO $cat.`t` VALUES " +
      "(200L, 't0', 'd0', 1200.0, 'd0')")                        // v2
    spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN etype")          // v3
    spark.sql(s"ALTER TABLE $cat.`t` ADD COLUMNS (w BIGINT)")     // v4
    // a pre-drop pin serves its OWN schema: etype visible (with the
    // written values), the post-pin w absent
    val v1 = spark.sql(s"SELECT * FROM $cat.`t` VERSION AS OF 1")
    assert(v1.columns.toSeq === Seq("id", "etype", "day", "v", "day_p"),
      s"pinned-schema contract drifted: ${v1.columns.toSeq}")
    assert(v1.count() === 120L, "the pinned ROWS stay the version's own")
    assert(v1.filter(col("etype") === "t1").count() === 60L,
      "the dropped column's pre-drop VALUES must serve under the pin")
    // a post-drop, pre-widen pin: etype gone, w not yet born
    val v3 = spark.sql(s"SELECT * FROM $cat.`t` VERSION AS OF 3")
    assert(v3.columns.toSeq === Seq("id", "day", "v", "day_p"),
      s"post-drop pin drifted: ${v3.columns.toSeq}")
    // the head keeps the head fold
    assert(spark.sql(s"SELECT * FROM $cat.`t`").columns.toSeq ===
      Seq("id", "day", "v", "w", "day_p"))
    // the DataFrame door (the rewrite plane) stays head-wins
    assert(SnapshotTable.read(spark, root, 1).columns.toSeq ===
      Seq("id", "day", "v", "w", "day_p"))
  }
}
