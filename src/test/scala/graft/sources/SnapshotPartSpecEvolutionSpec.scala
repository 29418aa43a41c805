package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PARTITION-SPEC EVOLUTION end to end ([[SnapshotManifest
  * .partitionSpecs]], the union-of-specs read in [[SnapshotTable]],
  * and migration-on-touch in `snapshotCommit`):
  *
  *  1. `CALL evolve_partitioning` publishes a metadata-only
  *     `#partspec` version; zero files move;
  *  2. a post-evolution upsert lays out under the NEW spec and
  *     MIGRATES exactly the old-spec partitions it touches — untouched
  *     old partitions keep their exact dirs;
  *  3. the union read serves both layouts and PRUNES each arm under
  *     its own spec: a predicate on the appended mirror prunes
  *     new-spec partitions on the partition plane and becomes a plain
  *     data filter on old-spec files (exact, never null-kept);
  *  4. the SQL door serves evolved versions through the union-of-specs
  *     scan ([[SnapshotEvolvedV2Table]], round 12) with the same
  *     per-arm pruning; DML on a mixed-arity version, the raw relation
  *     door, and bad evolutions still refuse loudly;
  *  5. vacuum preserves `#partspec` records past manifest expiry.
  */
class SnapshotPartSpecEvolutionSpec extends SparkSpec {

  /** Union scans in an EXECUTED plan, drilling through AQE wrappers. */
  private def unionScans(df: DataFrame): Seq[SnapshotEvolvedScan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def walk(p: SparkPlan): Seq[SnapshotEvolvedScan] = {
      val self = p match {
        case b: BatchScanExec if b.scan.isInstanceOf[SnapshotEvolvedScan] =>
          Seq(b.scan.asInstanceOf[SnapshotEvolvedScan])
        case _ => Nil
      }
      self ++ (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s => s.children.flatMap(walk)
      })
    }
    walk(df.queryExecution.executedPlan)
  }

  private def allIndexes(df: DataFrame): Seq[SnapshotFileIndex] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
        if r.location.isInstanceOf[SnapshotFileIndex] =>
        r.location.asInstanceOf[SnapshotFileIndex]
    }

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

  test("evolve publishes metadata-only; upsert migrates touched " +
    "old-spec partitions; union read serves both layouts exactly") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_main")
    val v1Dirs = SnapshotManifest.read(root, 1)
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')") // v2
    assert(SnapshotManifest.head(root) === 2)
    assert(SnapshotManifest.read(root, 2) === v1Dirs,
      "evolution must move zero files")
    // post-evolution upsert: update id 3 (day d0), insert 200/201 (d0)
    Seq((3L, "t1", "d0", 1003.0), (200L, "t0", "d0", 1200.0),
        (201L, "t1", "d0", 1201.0))
      .toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                       // v3
    val m3 = SnapshotManifest.read(root, 3)
    val arities = m3.keys.groupBy(_.split("/", -1).length)
      .view.mapValues(_.toSet).toMap
    assert(arities(1) === Set("d1", "d2"),
      s"untouched old-spec partitions must stay: $arities")
    assert(arities(2) === Set("d0/t0", "d0/t1"),
      s"the touched day must migrate to (day, etype): $arities")
    assert(m3("d1") === v1Dirs("d1") && m3("d2") === v1Dirs("d2"),
      "untouched old partitions must keep their exact dirs")

    val df = SnapshotTable.read(spark, root, 3)
    assert(df.columns.toSeq ===
      Seq("id", "etype", "day", "v", "day_p", "etype_p"))
    val total = df.agg(count(lit(1)), sum(col("v")).cast("long")).head()
    assert(total.getLong(0) === 122L)
    val expectSum = (1L to 120L).map(_.toDouble).sum - 3.0 +
      1003.0 + 1200.0 + 1201.0
    assert(total.getLong(1) === expectSum.toLong)

    // pruning, old-spec arm: (day d1, etype t0) — day prunes the old
    // arm to ONE partition; the etype predicate is a data filter there
    val q1 = df.filter(col("day_p") === "d1" && col("etype_p") === "t0")
    val got1 = q1.agg(count(lit(1)), sum(col("id")).cast("long")).head()
    val ids1 = (1L to 120L).filter(i => i % 3 == 1 && i % 2 == 0)
    assert(got1.getLong(0) === ids1.length.toLong)
    assert(got1.getLong(1) === ids1.sum)
    val listings1 = allIndexes(q1).map(_.lastListing._1).filter(_ >= 0)
    assert(listings1.sum === 1,
      s"expected exactly one partition listed across arms: $listings1")

    // pruning, new-spec arm: (day d0, etype t0) — the appended mirror
    // prunes the migrated day's leafs on the partition plane
    val q2 = df.filter(col("day_p") === "d0" && col("etype_p") === "t0")
    val got2 = q2.agg(count(lit(1)), sum(col("id")).cast("long")).head()
    val ids2 = (1L to 120L).filter(i => i % 3 == 0 && i % 2 == 0) :+ 200L
    assert(got2.getLong(0) === ids2.length.toLong)
    assert(got2.getLong(1) === ids2.sum)
    val listings2 = allIndexes(q2).map(_.lastListing._1).filter(_ >= 0)
    assert(listings2.sum === 1,
      s"expected exactly the (d0, t0) leaf listed: $listings2")
  }

  test("SQL door serves an evolved head via the union scan; raw " +
    "relation door and bad evolutions still refuse") {
    val (root, cat) = freshStore("pse_ref")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")
    // round 12: the SQL door serves spec-evolved versions through the
    // union-of-specs scan instead of refusing (the Iceberg behavior)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`t`")
      .head().getLong(0) === 120L)
    // INSERT rides the door's migrate-on-touch commit: the upserted
    // day migrates to (day, etype), everything else stays old-spec
    spark.sql(s"INSERT INTO $cat.`t` VALUES " +
      "(200L, 't0', 'd0', 1200.0, 'd0', 't0')")
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) AS s " +
      s"FROM $cat.`t`").head().getLong(0) === (1L to 120L).sum + 1200L)
    assert(SnapshotManifest.read(root, SnapshotManifest.head(root))
      .keySet.filter(_.startsWith("d0")) === Set("d0/t0", "d0/t1"),
      "the SQL insert must migrate the touched day to the current spec")
    // row-level DML stays refused until migrate_layout converges
    val e1 = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.`t` WHERE id = 3")
    }
    assert(e1.getMessage.contains("migrate_layout"),
      s"row-level DML must refuse with the remedy, got: ${e1.getMessage}")
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.`t` SET v = 0.0 WHERE id = 1")
    }
    val e2 = intercept[Exception] {
      spark.read.format("graft-snapshot").load(root.toString).count()
    }
    assert(e2.getMessage.contains("partition layouts"))
    // the union door still serves it
    assert(SnapshotTable.read(spark, root, 2).count() === 120L)
    intercept[Exception] {
      spark.sql(s"CALL $cat.evolve_partitioning('t', 'no_such_col')")
    }
    intercept[Exception] { // already a layout column
      spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")
    }
    intercept[Exception] { // unsupported layout type
      spark.sql(s"CALL $cat.evolve_partitioning('t', 'v')")
    }
  }

  test("delete-mode commits migrate touched old-spec partitions too") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_del")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")   // v2
    // doomed keys 3 and 6 live in day d0 — a key-list delete must
    // migrate d0 (kept rows rewritten under (day, etype)) and drop
    // exactly those keys; the delta carries the CURRENT spec's sources
    Seq((3L, "t1", "d0", 3.0), (6L, "t0", "d0", 6.0))
      .toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .option("commitMode", "delete")
      .mode("append").save(root.toString)                       // v3
    val m3 = SnapshotManifest.read(root, 3)
    assert(m3.keySet.filter(_.startsWith("d0")) ===
      Set("d0/t0", "d0/t1"), s"d0 must migrate: ${m3.keySet}")
    val df = SnapshotTable.read(spark, root, 3)
    assert(df.count() === 118L)
    assert(df.filter(col("id").isin(3L, 6L)).count() === 0L)
    assert(df.agg(sum(col("v")).cast("long")).head().getLong(0) ===
      (1L to 120L).sum - 3L - 6L)
  }

  test("a normalize-republished #partspec alongside a surviving record " +
    "folds to ONE spec per arity (no duplicate union arms)") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_dup")
    // v2 = a rename record (will expire and force the normalize);
    // v3 = the spec evolution (will SURVIVE); v4 = data
    spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN v TO val")    // v2
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")    // v3
    Seq((200L, "t0", "d0", 1200.0)).toDF("id", "etype", "day", "val")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                        // v4
    SnapshotTxn.snapshotVacuum(root, Set(3, 4))
    // the normalize (v5) republished the #partspec line while v3's
    // copy survives — the fold must still be one spec per arity, or
    // the union read double-serves every new-spec partition
    val meta = SnapshotMeta.read(root).get
    assert(SnapshotManifest.partitionSpecs(root, meta.partitionSchema)
      .map(_.length) === Seq(1, 2))
    val df = SnapshotTable.read(spark, root, SnapshotManifest.head(root))
    assert(df.count() === 121L, "duplicate union arms double-served rows")
    // and the rename chain survived the same normalize: pre-rename
    // files still serve their values under the new name
    assert(df.columns.contains("val"))
    assert(df.agg(sum(col("val")).cast("long")).head().getLong(0) ===
      (1L to 120L).sum + 1200L)
  }

  test("rename history composes with the SQL-door union scan: each " +
    "arm coalesces former footer names AND derives appended mirrors") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_rensql")
    spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN v TO val")    // v2
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")    // v3
    Seq((200L, "t0", "d0", 1200.0)).toDF("id", "etype", "day", "val")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                        // v4
    // mixed head: d0 rewritten post-rename/post-evolution; d1, d2 are
    // PRE-rename, pre-evolution files (footer name `v`, one segment).
    // The SQL union scan must fold both planes per arm — and a filter
    // on the renamed column must NOT reach parquet (all-NULL
    // row-group drop on pre-rename files), so the value check below
    // catches a lost withholding too.
    val got = spark.sql(
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(val) AS BIGINT) AS sv
         |FROM $cat.`t` WHERE val >= 1.0 AND etype_p = 't0'"""
        .stripMargin).head()
    val evens = (1L to 120L).filter(_ % 2 == 0)
    assert(got.getLong(0) === evens.length + 1L)
    assert(got.getLong(1) === evens.sum + 1200L)
  }

  test("evolving on a column with NULLs refuses at DDL time") {
    val (_, cat) = freshStore("pse_null")
    // ADD COLUMN fills old rows with NULL — exactly the poisoned shape
    spark.sql(s"ALTER TABLE $cat.`t` ADD COLUMN region STRING")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.evolve_partitioning('t', 'region')")
    }
    assert(e.getMessage.contains("NULL"),
      s"null-valued source must refuse, got: ${e.getMessage}")
  }

  test("migrate_layout converges cold partitions and unlocks the SQL " +
    "door; idempotent once converged") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_mig")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")   // v2
    // touch d0 so the store is MIXED (upsert-migrated + cold old)
    Seq((200L, "t0", "d0", 1200.0)).toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                       // v3
    // mixed head: SQL READS serve through the union scan; DML refuses,
    // pointing at the remedy
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`t`")
      .head().getLong(0) === 121L)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $cat.`t` SET v = 0.0 WHERE id = 1")
    }
    assert(e.getMessage.contains("migrate_layout"))
    // bounded first pass migrates ONE cold partition, second the rest
    val r1 = spark.sql(s"CALL $cat.migrate_layout('t', 1)").head()
    assert(r1.getInt(0) === 1 && r1.getInt(1) === 4)
    val r2 = spark.sql(s"CALL $cat.migrate_layout('t', 100)").head()
    assert(r2.getInt(0) === 1 && r2.getInt(1) === 5)
    val m5 = SnapshotManifest.read(root, 5)
    assert(m5.keys.forall(_.split("/", -1).length == 2),
      s"head must be fully current-spec: ${m5.keySet}")
    // converged: the SQL door serves again, under the current spec,
    // with the appended mirror a REAL partition column
    val got = spark.sql(
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(v) AS BIGINT) AS sv
         |FROM $cat.`t` WHERE etype_p = 't0'""".stripMargin).head()
    val evens = (1L to 120L).filter(_ % 2 == 0)
    assert(got.getLong(0) === evens.length + 1L)
    assert(got.getLong(1) === evens.sum + 1200L)
    // idempotent: nothing left to migrate, no version published
    val r3 = spark.sql(s"CALL $cat.migrate_layout('t', 100)").head()
    assert(r3.getInt(0) === 0 && r3.getInt(1) === 5)
    // pre-migration versions still time-travel through the union door
    assert(SnapshotTable.read(spark, root, 3).count() === 121L)
    // ...and through the SQL door's union scan (round 12)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM $cat.`t` VERSION AS OF 3")
      .head().getLong(0) === 121L)
  }

  test("SQL-door union scan: per-arm pushdown — the appended mirror " +
    "prunes the new arm's partitions and is a parquet DATA filter on " +
    "the old arm; values match the DataFrame door exactly") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_sql")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")   // v2
    Seq((3L, "t1", "d0", 1003.0), (200L, "t0", "d0", 1200.0))
      .toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                       // v3
    // mixed head: d0 migrated to (day, etype); d1, d2 still old-spec
    val q = spark.sql(
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(id) AS BIGINT) AS s
         |FROM $cat.`t` WHERE etype_p = 't0'""".stripMargin)
    val evens = (1L to 120L).filter(_ % 2 == 0)
    val got = q.head()
    assert(got.getLong(0) === evens.length + 1L)
    assert(got.getLong(1) === evens.sum + 200L)
    // plan audit: one union scan, two arms; the old arm carries the
    // mirror predicate REWRITTEN to its source column as a pushed
    // parquet data filter, the new arm as a partition filter
    val scans = unionScans(q)
    assert(scans.size === 1, "expected exactly one union scan")
    val arms = scans.head.currentArms
    assert(arms.map(_.spec.length) === Seq(1, 2))
    val oldArm = arms.head.scan
    assert(oldArm.dataFilters.exists(_.references.exists(_.name == "etype")),
      s"old arm must push etype as a data filter: ${oldArm.dataFilters}")
    assert(oldArm.partitionFilters.isEmpty,
      s"no partition predicate applies to the old arm: " +
        s"${oldArm.partitionFilters}")
    val newArm = arms.last.scan
    assert(newArm.partitionFilters.exists(
        _.references.exists(_.name == "etype_p")),
      s"new arm must prune on the mirror: ${newArm.partitionFilters}")
    // a day predicate prunes BOTH arms on their shared prefix — and
    // the new arm (only d0 entries) plans zero input partitions
    val q2 = spark.sql(
      s"SELECT CAST(SUM(id) AS BIGINT) AS s FROM $cat.`t` " +
        "WHERE day_p = 'd1' AND etype_p = 't0'")
    val ids = (1L to 120L).filter(i => i % 3 == 1 && i % 2 == 0)
    assert(q2.head().getLong(0) === ids.sum)
    val arms2 = unionScans(q2).head.currentArms
    assert(arms2.last.scan.toBatch.planInputPartitions().isEmpty,
      "day_p='d1' must prune the new arm (d0-only) to nothing")
    // DESCRIBE surfaces the evolution facts
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.`t`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("Table Properties").exists(
        _.contains("partition_spec_evolution=(day_p) -> (day_p,etype_p)")),
      s"DESCRIBE must surface the spec chain: $props")
  }

  test("RENAME COLUMN refuses the appended layout's source and mirror " +
    "names on a fully migrated table (refusal set = CURRENT spec)") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_ren")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")   // v2
    spark.sql(s"CALL $cat.migrate_layout('t', 100)")            // v3
    // fully migrated: the SQL door loads normally — exactly the state
    // where a bootstrap-spec refusal set would accept this rename and
    // permanently write-brick the table (every later commit selects
    // the old source name; the old name becomes a refused former name)
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN etype TO kind")
    }
    assert(e1.getMessage.contains("partition layout"),
      s"appended source column must refuse, got: ${e1.getMessage}")
    // renaming TO the appended mirror's name must refuse too (footers
    // would collide with the layout column)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN v TO etype_p")
    }
    // refused by Spark's analyzer (the mirror is in the table's
    // reported schema) or, on paths that bypass resolution, by the
    // catalog's taken-name set — either way, loudly
    assert(e2.getMessage.contains("already in use") ||
        e2.getMessage.contains("already exists"),
      s"taken-name set must include evolved mirrors: ${e2.getMessage}")
    // a NON-layout column still renames fine post-evolution, and
    // commits keep flowing afterwards (the table is not bricked)
    spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN v TO val")    // v4
    Seq((300L, "t0", "d0", 9.0)).toDF("id", "etype", "day", "val")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                        // v5
    assert(spark.sql(s"SELECT CAST(SUM(val) AS BIGINT) AS s " +
      s"FROM $cat.`t`").head().getLong(0) === (1L to 120L).sum + 9L)
  }

  test("branch-staged spec evolution: procedures target t.branch_dev, " +
    "the mixed branch head serves reads+INSERT, fastforward publishes " +
    "the staged spec to main") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_br")
    spark.sql(s"CALL $cat.branch('t', 'dev')")
    // stage the evolution ON THE BRANCH (round 12: dotted procedure
    // args resolve like multipart identifiers) — main stays 1-spec
    spark.sql(s"CALL $cat.evolve_partitioning('t.branch_dev', 'etype')")
    val meta = SnapshotMeta.read(root).get
    assert(SnapshotManifest.partitionSpecs(root, meta.partitionSchema)
      .map(_.length) === Seq(1), "staging must not leak to main")
    // INSERT through the branch table migrates the touched day there
    spark.sql(s"INSERT INTO $cat.`t`.`branch_dev` VALUES " +
      "(200L, 't0', 'd0', 1200.0, 'd0', 't0')")
    val broot = SnapshotBranches.root(root, "dev")
    assert(SnapshotManifest.read(broot, SnapshotManifest.head(broot))
      .keySet.filter(_.startsWith("d0")) === Set("d0/t0", "d0/t1"))
    // the mixed branch head serves the union read via both spellings
    assert(spark.sql(
      s"SELECT CAST(SUM(v) AS BIGINT) AS s FROM $cat.`t`.`branch_dev`")
      .head().getLong(0) === (1L to 120L).sum + 1200L)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM $cat.`t` VERSION AS OF 'dev' " +
        "WHERE etype_p = 't0'").head().getLong(0) ===
      (1L to 120L).count(_ % 2 == 0) + 1L)
    // converge the branch, then publish: main gets the staged spec
    spark.sql(s"CALL $cat.migrate_layout('t.branch_dev', 100)")
    spark.sql(s"CALL $cat.fastforward('t', 'dev')")
    assert(SnapshotManifest.partitionSpecs(root, meta.partitionSchema)
      .map(_.length) === Seq(1, 2),
      "fastforward must carry the branch-staged #partspec")
    val got = spark.sql(
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(v) AS BIGINT) AS sv
         |FROM $cat.`t` WHERE etype_p = 't0'""".stripMargin).head()
    val evens = (1L to 120L).filter(_ % 2 == 0)
    assert(got.getLong(0) === evens.length + 1L)
    assert(got.getLong(1) === evens.map(_.toDouble).sum.toLong + 1200L)
  }

  test("vacuum preserves #partspec records past manifest expiry") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_vac")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')") // v2
    Seq((200L, "t0", "d0", 1200.0)).toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                     // v3
    SnapshotTxn.snapshotVacuum(root, Set(3))
    assert(!java.nio.file.Files.exists(
      root.resolve("manifests").resolve("v2.manifest")),
      "the #partspec-bearing manifest must actually have expired")
    val meta = SnapshotMeta.read(root).get
    assert(SnapshotManifest.partitionSpecs(root, meta.partitionSchema)
      .map(_.length) === Seq(1, 2),
      "vacuum lost the spec fold: mixed-arity entries unreadable")
    assert(SnapshotTable.read(spark, root,
      SnapshotManifest.head(root)).count() === 121L)
  }

  test("changefeed across an evolve_partitioning boundary is exact " +
    "against the relational diff (mixed-arity manifest sides)") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_cdf")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')") // v2
    // v3: update id 3 (migrates ALL of day d0 to (day, etype)),
    // insert 200/201 — the old side of the diff reads the 1-segment
    // d0 entry, the new side reads the 2-segment d0/t* entries
    Seq((3L, "t1", "d0", 1003.0), (200L, "t0", "d0", 1200.0),
        (201L, "t1", "d0", 1201.0))
      .toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                     // v3
    assert(SnapshotManifest.read(root, 3).keys
      .map(_.split("/", -1).length).toSet === Set(1, 2),
      "fixture must actually span two layouts")
    val feed = SnapshotTxn.changeRows(spark, root, 2, 3, "id", "v")
      .select(col("k"), col("price"), col("old_price"), col("change_type"))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        r.getString(3))).toSet
    assert(feed === Set(
      (3L, Some(1003.0), Some(3.0), "update"),
      (200L, Some(1200.0), None, "insert"),
      (201L, Some(1201.0), None, "insert")),
      s"changefeed diverged: $feed")
    // exactness vs the relational diff of the two union reads: a pure
    // MIGRATION must contribute nothing (same keys, same values)
    val v2 = SnapshotTable.read(spark, root, 2).select(col("id"), col("v"))
    val v3 = SnapshotTable.read(spark, root, 3)
      .select(col("id").as("id3"), col("v").as("v3"))
    val relational = v2.join(v3, col("id") === col("id3"), "full_outer")
      .filter(col("id").isNull || col("id3").isNull ||
        !(col("v") <=> col("v3")))
      .count()
    assert(relational === feed.size.toLong)
  }

  test("TRANSFORM-append evolution: a LIVE identity table gains a " +
    "hidden bucket mirror — per-arm pruning translates through each " +
    "arm's OWN transforms, migration derives f(source), " +
    "migrate_layout converges") {
    import spark.implicits._
    val (root, cat) = freshStore("pse_tf")
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'bucket(4, id)')") // v2
    val meta = SnapshotMeta.read(root).get
    val specs = SnapshotManifest.partitionSpecs(root, meta.partitionSchema)
    assert(specs.map(_.fieldNames.toSeq) ===
      Seq(Seq("day_p"), Seq("day_p", "id_p")))
    assert(SnapshotTransforms.of(specs.last.fields.last) ===
      SnapshotTransforms.Bucket(4),
      "the transform must ride the #partspec record as field metadata")
    // the SQL schema still hides the transform mirror
    assert(spark.table(s"$cat.`t`").columns.toSeq ===
      Seq("id", "etype", "day", "v", "day_p"))
    // post-evolution upsert touches d0: it migrates to (day, bucket)
    // with buckets DERIVED through xxhash64 — not an identity copy
    Seq((3L, "t1", "d0", 1003.0), (200L, "t0", "d0", 1200.0))
      .toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                       // v3
    val m3 = SnapshotManifest.read(root, 3)
    val arities = m3.keys.groupBy(_.split("/", -1).length)
      .view.mapValues(_.toSet).toMap
    assert(arities(1) === Set("d1", "d2"),
      s"untouched old-spec partitions must stay: $arities")
    val d0Ids = (1L to 120L).filter(_ % 3 == 0) ++ Seq(3L, 200L)
    assert(arities(2) === d0Ids
        .map(i => s"d0/${SnapshotTransforms.bucketOfLong(i, 4)}").toSet,
      "migrated leafs must carry xxhash-derived buckets")

    // SQL door, key equality: the NEW arm prunes through the bucket
    // transform (a strict subset of its leafs), the OLD arms push id
    // as a parquet data filter — and the row is exact
    val q = spark.sql(s"SELECT v FROM $cat.`t` WHERE id = 3")
    assert(q.collect().map(_.getDouble(0)).toSeq === Seq(1003.0))
    val arms = unionScans(q).head.currentArms
    assert(arms.map(_.spec.length) === Seq(1, 2))
    val newArm = arms.last.scan
    val newPruned = newArm.fileIndex
      .listFiles(newArm.partitionFilters, newArm.dataFilters)
      .map(_.files.size).sum
    val newTotal = newArm.fileIndex.listFiles(Nil, Nil)
      .map(_.files.size).sum
    assert(newPruned < newTotal,
      s"bucket equality must prune the new arm: $newPruned of $newTotal")
    val oldArm = arms.head.scan
    assert(oldArm.dataFilters.exists(_.references.exists(_.name == "id")),
      s"old arm must push id as a data filter: ${oldArm.dataFilters}")

    // V1 (DataFrame) door: appended mirrors on OLD arms derive
    // f(source) — a plain source copy would put id values where
    // buckets belong
    val v1df = SnapshotTable.read(spark, root, 3)
    val derived = v1df.filter(col("day_p") === "d1").limit(5)
      .select(col("id"), col("id_p")).collect()
    derived.foreach(r => assert(r.getInt(1) ===
      SnapshotTransforms.bucketOfLong(r.getLong(0), 4),
      s"old-arm mirror must be the xxhash bucket: $r"))

    // migrate_layout converges the cold remainder under (day, bucket)
    spark.sql(s"CALL $cat.migrate_layout('t', 10)")
    val head = SnapshotManifest.head(root)
    val mh = SnapshotManifest.read(root, head)
    assert(mh.keys.forall(_.split("/", -1).length == 2),
      s"converged head must be single-layout: ${mh.keys}")
    val total = spark.sql(
      s"SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        s"CAST(SUM(v) AS BIGINT) AS s FROM $cat.`t`").head()
    assert(total.getLong(0) === 121L)
    assert(total.getLong(1) ===
      ((1L to 120L).map(_.toDouble).sum - 3.0 + 1003.0 + 1200.0).toLong)

    // refusals: transform over a wrong-typed source, unknown transform
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.evolve_partitioning('t', 'hours(v)')")
    }
    assert(e1.getMessage.contains("must be TIMESTAMP"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.evolve_partitioning('t', 'quarters(v)')")
    }
    assert(e2.getMessage.contains("unsupported partition transform"),
      e2.getMessage)
  }
}
