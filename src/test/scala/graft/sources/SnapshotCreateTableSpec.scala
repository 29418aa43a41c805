package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SQL `CREATE TABLE` / CTAS / `DROP TABLE` on the snapshot catalog
  * (round 12 — previously only `df.write` could bootstrap a store):
  *
  *  1. CREATE TABLE publishes table.meta + an empty v1 manifest; both
  *     doors read it empty; INSERT commits v2 with keyed-upsert
  *     semantics; row-level DML works immediately;
  *  2. CTAS = CREATE + append through the ordinary write door;
  *  3. refusals: missing/invalid key_column, non-mirror partition
  *     columns, sourceless or type-mismatched mirrors, duplicate
  *     CREATE; DROP TABLE deletes the store and re-CREATE works;
  *     RENAME TABLE moves the root (SnapshotRenameTableSpec).
  */
class SnapshotCreateTableSpec extends SparkSpec {

  private def freshCat(name: String): (java.nio.file.Path, String) = {
    val base = java.nio.file.Files.createTempDirectory(name)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (base, cat)
  }

  test("CREATE TABLE bootstraps an empty keyed store; INSERT upserts; " +
    "UPDATE works; both doors serve it") {
    val (base, cat) = freshCat("ct_main")
    spark.sql(
      s"""CREATE TABLE $cat.`t`
         |  (id BIGINT, day STRING, v DOUBLE, day_p STRING)
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    val root = base.resolve("t")
    assert(SnapshotManifest.head(root) === 1)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`t`")
      .head().getLong(0) === 0L)
    assert(SnapshotTable.read(spark, root, 1).count() === 0L)
    // first INSERT commits v2; a same-key re-INSERT is an upsert
    spark.sql(s"INSERT INTO $cat.`t` VALUES " +
      "(1L, 'd0', 1.0, 'd0'), (2L, 'd1', 2.0, 'd1')")
    spark.sql(s"INSERT INTO $cat.`t` VALUES (1L, 'd0', 10.0, 'd0')")
    val got = spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) AS s, " +
      s"COUNT(*) AS n FROM $cat.`t`").head()
    assert(got.getLong(0) === 12L, "INSERT must upsert on the key")
    assert(got.getLong(1) === 2L)
    // the whole DML plane binds immediately (key from table.meta)
    spark.sql(s"UPDATE $cat.`t` SET v = v + 1.0 WHERE id = 2")
    assert(spark.sql(s"SELECT v FROM $cat.`t` WHERE id = 2")
      .head().getDouble(0) === 3.0)
    // DESCRIBE surfaces the declared key
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.`t`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("Table Properties").exists(_.contains("key_column=id")),
      s"missing key fact: $props")
  }

  test("CTAS: CREATE TABLE ... AS SELECT bootstraps and loads in one " +
    "statement") {
    import spark.implicits._
    val (_, cat) = freshCat("ct_ctas")
    (1L to 60L).map(i => (i, s"d${i % 3}", i.toDouble))
      .toDF("id", "day", "v").createOrReplaceTempView("ct_src")
    spark.sql(
      s"""CREATE TABLE $cat.`t2`
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id')
         |AS SELECT id, day, v, day AS day_p FROM ct_src""".stripMargin)
    val got = spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) AS s, " +
      s"COUNT(*) AS n FROM $cat.`t2` WHERE day_p = 'd1'").head()
    val ids = (1L to 60L).filter(_ % 3 == 1)
    assert(got.getLong(0) === ids.sum)
    assert(got.getLong(1) === ids.length.toLong)
  }

  test("CTAS is ATOMIC: a mid-flight failure leaves NOTHING visible, " +
    "a successful one publishes with a single rename, REPLACE refuses") {
    import spark.implicits._
    val (base, cat) = freshCat("ct_atomic")
    (1L to 60L).map(i => (i, s"d${i % 3}", i.toDouble))
      .toDF("id", "day", "v").createOrReplaceTempView("ct_atomic_src")
    // (a) the SELECT fails at runtime: no table root may exist after —
    // previously the empty table was catalog-visible mid-flight and a
    // crashed CTAS left it behind
    val e = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $cat.`boom`
           |PARTITIONED BY (day_p)
           |TBLPROPERTIES ('key_column' = 'id')
           |AS SELECT id,
           |  CASE WHEN id > 30 THEN raise_error('mid-CTAS failure')
           |       ELSE day END AS day,
           |  v, day AS day_p
           |FROM ct_atomic_src""".stripMargin)
    }
    assert(e.getMessage.contains("mid-CTAS failure") ||
      Option(e.getCause).exists(_.getMessage.contains("mid-CTAS")),
      e.getMessage)
    assert(!java.nio.file.Files.exists(base.resolve("boom")),
      "failed CTAS must leave no table root")
    val eRead = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.`boom`").collect()
    }
    assert(eRead.getMessage.contains("boom"), eRead.getMessage)
    // (b) a successful CTAS publishes atomically and reads back whole
    spark.sql(
      s"""CREATE TABLE $cat.`ok`
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id')
         |AS SELECT id, day, v, day AS day_p FROM ct_atomic_src""".stripMargin)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`ok`")
      .head().getLong(0) === 60L)
    assert(SnapshotManifest.head(base.resolve("ok")) === 2,
      "staged CTAS = empty v1 + one seed commit")
    // failure left only hidden .staging garbage, never a table
    val visible = spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet
    assert(visible === Set("ok"), s"catalog leaked: $visible")
    // (c) REPLACE TABLE refuses with the drop+create remedy
    val eRep = intercept[Exception] {
      spark.sql(
        s"""CREATE OR REPLACE TABLE $cat.`ok`
           |PARTITIONED BY (day_p)
           |TBLPROPERTIES ('key_column' = 'id')
           |AS SELECT id, day, v, day AS day_p FROM ct_atomic_src""".stripMargin)
    }
    assert(eRep.getMessage.contains("REPLACE TABLE"), eRep.getMessage)
    // (d) the hidden staging namespace is not user-addressable
    val eStag = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.`.staging`.`x`")
    }
    assert(eStag.getMessage.contains("invalid identifier segment") ||
      eStag.getMessage.toUpperCase.contains("NOT FOUND"), eStag.getMessage)
  }

  test("identifier hygiene: traversal segments refuse everywhere; " +
    "dotted TABLE NAMES keep working through procedures; a racing " +
    "half-created store refuses CREATE") {
    import spark.implicits._
    val (base, cat) = freshCat("ct_sec")
    // '..' segments must refuse for DDL that WRITES or DELETES (and
    // reads, uniformly) — resolution would otherwise escape the
    // warehouse and dropTable would delete what it resolves
    val eDrop = intercept[Exception] {
      spark.sql(s"DROP TABLE $cat.`..`.`somewhere`")
    }
    assert(eDrop.getMessage.contains("invalid identifier segment"),
      eDrop.getMessage)
    val eCreate = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`..`.`t` (id BIGINT, d STRING, " +
        "d_p STRING) PARTITIONED BY (d_p) " +
        "TBLPROPERTIES ('key_column'='id')")
    }
    assert(eCreate.getMessage.contains("invalid identifier segment"),
      eCreate.getMessage)
    // a DOTTED table name stays addressable by every procedure: the
    // whole string resolves first, multipart splitting is only the
    // branch-spelling fallback
    Seq((1L, "x", 1.0)).toDF("k", "d", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "d")
      .mode("append").save(base.resolve("t").toString)
    spark.sql(s"CALL $cat.clone('t', 'archive.2025')")
    assert(spark.sql(s"CALL $cat.history('archive.2025')")
      .collect().length === 1)
    // degenerate procedure args refuse loudly, never crash resolution
    val eDeg = intercept[Exception] { spark.sql(s"CALL $cat.history('..')") }
    assert(eDeg.getMessage.contains("invalid identifier segment"),
      eDeg.getMessage)
    // a root holding table.meta but no manifests (a racing creator
    // mid-publish, or a crashed bootstrap): CREATE must refuse rather
    // than clobber the declaration
    val half = base.resolve("half")
    java.nio.file.Files.createDirectories(half)
    SnapshotMeta.write(half, SnapshotMeta.Meta(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("d_p",
          org.apache.spark.sql.types.StringType))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))), Some("k")))
    val eHalf = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`half` (id BIGINT, d STRING, " +
        "d_p STRING) PARTITIONED BY (d_p) " +
        "TBLPROPERTIES ('key_column'='id')")
    }
    assert(eHalf.getMessage.toUpperCase.contains("ALREADY EXISTS"),
      eHalf.getMessage)
    val keptMeta = SnapshotMeta.read(half)
    assert(keptMeta.keyCol === Some("k") &&
      keptMeta.dataSchema.fieldNames.toSeq === Seq("k"),
      "a refused CREATE must not clobber the existing declaration")
  }

  test("refusals, DROP TABLE, re-CREATE, RENAME remedy") {
    val (base, cat) = freshCat("ct_ref")
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.contains(frag), s"$sql → ${e.getMessage}")
    }
    refuse(s"CREATE TABLE $cat.`a` (id BIGINT, d STRING, d_p STRING) " +
      "PARTITIONED BY (d_p)", "key_column")
    refuse(s"CREATE TABLE $cat.`a` (id BIGINT, d STRING, d_p STRING) " +
      "PARTITIONED BY (d_p) TBLPROPERTIES ('key_column'='nope')",
      "not in the column list")
    refuse(s"CREATE TABLE $cat.`a` (id BIGINT, d STRING) " +
      "PARTITIONED BY (d) TBLPROPERTIES ('key_column'='id')",
      "MIRROR")
    refuse(s"CREATE TABLE $cat.`a` (id BIGINT, x_p STRING) " +
      "PARTITIONED BY (x_p) TBLPROPERTIES ('key_column'='id')",
      "no source column")
    refuse(s"CREATE TABLE $cat.`a` (id BIGINT, d INT, d_p STRING) " +
      "PARTITIONED BY (d_p) TBLPROPERTIES ('key_column'='id')",
      "source's type")
    refuse(s"CREATE TABLE $cat.`a` (id BIGINT, d STRING, d_p STRING) " +
      "TBLPROPERTIES ('key_column'='id')", "PARTITIONED BY")
    // a good one, then duplicate-create refuses
    spark.sql(s"CREATE TABLE $cat.`a` (id BIGINT, d STRING, d_p STRING) " +
      "PARTITIONED BY (d_p) TBLPROPERTIES ('key_column'='id')")
    spark.sql(s"INSERT INTO $cat.`a` VALUES (1L, 'x', 'x')")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`a` (id BIGINT, d STRING, d_p STRING) " +
        "PARTITIONED BY (d_p) TBLPROPERTIES ('key_column'='id')")
    }
    // DROP deletes the store; re-CREATE starts fresh
    spark.sql(s"DROP TABLE $cat.`a`")
    assert(!java.nio.file.Files.exists(base.resolve("a")))
    spark.sql(s"CREATE TABLE $cat.`a` (id BIGINT, d STRING, d_p STRING) " +
      "PARTITIONED BY (d_p) TBLPROPERTIES ('key_column'='id')")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`a`")
      .head().getLong(0) === 0L)
    // RENAME works since round 13 (relative-path metadata) — pinned in
    // SnapshotRenameTableSpec; here just the happy path
    spark.sql(s"INSERT INTO $cat.`a` VALUES (1L, 'x', 'x')")
    spark.sql(s"ALTER TABLE $cat.`a` RENAME TO `b`")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`b`")
      .head().getLong(0) === 1L)
    assert(!java.nio.file.Files.exists(base.resolve("a")))
  }

  test("staged CTAS publishes into a not-yet-materialized NAMESPACE " +
    "(parent dirs created at publish, not assumed)") {
    import spark.implicits._
    val (base, cat) = freshCat("ct_ns")
    (1L to 9L).map(i => (i, s"d${i % 3}", i.toDouble))
      .toDF("id", "day", "v").createOrReplaceTempView("ct_ns_src")
    // the namespace dirs ns1/ns2 do not exist — the staged publish
    // previously ATOMIC_MOVEd onto a path whose parent was missing and
    // failed with NoSuchFileException AFTER the full data write
    spark.sql(
      s"""CREATE TABLE $cat.`ns1`.`ns2`.`t`
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id')
         |AS SELECT id, day, v, day AS day_p FROM ct_ns_src""".stripMargin)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`ns1`.`ns2`.`t`")
      .head().getLong(0) === 9L)
    assert(java.nio.file.Files.isDirectory(
      base.resolve("ns1").resolve("ns2").resolve("t").resolve("manifests")))
  }

  test("the .staging sweep judges liveness by the HEARTBEAT marker: " +
    "a stale-mtime attempt with a fresh heartbeat survives, a stale " +
    "one is reclaimed") {
    import spark.implicits._
    val (base, cat) = freshCat("ct_sweep")
    val staging = base.resolve(".staging")
    java.nio.file.Files.createDirectories(staging.resolve("zombie-1"))
    java.nio.file.Files.createDirectories(staging.resolve("live-2"))
    val stale = System.currentTimeMillis() - 2 * 3600_000L
    // the live attempt's ROOT mtime is stale (nested data writes never
    // refresh a parent dir) but its heartbeat is fresh — pre-fix the
    // sweep deleted it mid-write, destroying an in-flight CTAS
    java.nio.file.Files.write(
      staging.resolve("live-2").resolve(".heartbeat"),
      Array.emptyByteArray)
    assert(staging.resolve("zombie-1").toFile.setLastModified(stale))
    assert(staging.resolve("live-2").toFile.setLastModified(stale))
    // any staged CTAS triggers the opportunistic sweep
    (1L to 3L).map(i => (i, s"d$i", i.toDouble))
      .toDF("id", "day", "v").createOrReplaceTempView("ct_sweep_src")
    spark.sql(
      s"""CREATE TABLE $cat.`t`
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id')
         |AS SELECT id, day, v, day AS day_p FROM ct_sweep_src""".stripMargin)
    assert(!java.nio.file.Files.exists(staging.resolve("zombie-1")),
      "a heartbeat-less stale attempt must be reclaimed")
    assert(java.nio.file.Files.exists(staging.resolve("live-2")),
      "a fresh-heartbeat attempt is LIVE and must survive the sweep")
    // the published table carries no heartbeat marker
    assert(!java.nio.file.Files.exists(
      base.resolve("t").resolve(".heartbeat")))
  }

  test("metadata-header cache is keyed by BOOTSTRAP identity: an " +
    "out-of-band drop + re-create at the same root within mtime " +
    "granularity serves the NEW store's records, not the dropped " +
    "one's") {
    import spark.implicits._
    val (base, cat) = freshCat("ct_reboot")
    val root = base.resolve("t")
    def bootstrap(): Unit =
      (1L to 6L).map(i => (i, s"d${i % 2}", i.toDouble))
        .toDF("id", "day", "v")
        .write.format("graft-snapshot")
        .option("keyCol", "id").option("partCol", "day")
        .mode("append").save(root.toString)
    bootstrap()
    spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN v TO w") // v2: #rename
    def renamedFact(): Option[String] =
      spark.sql(s"DESCRIBE TABLE EXTENDED $cat.`t`").collect()
        .collectFirst { case r if r.getString(0) == "Table Properties" &&
          r.getString(1).contains("renamed_columns") => r.getString(1) }
    assert(renamedFact().isDefined, "old store must serve its rename")
    val oldMtimes = SnapshotManifest.versionsWithMtime(root).toMap
    // OUT-OF-BAND removal (not DROP TABLE — that invalidates eagerly):
    // simulates another process recycling the root
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    bootstrap() // v1 again …
    Seq((7L, "d1", 7.0)).toDF("id", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString) // … and v2 again
    // force the (version, mtime) fingerprint to COLLIDE with the
    // dropped store's — pre-fix the cache then served the dropped
    // store's #rename to the new table
    SnapshotManifest.versionsWithMtime(root).foreach { case (v, _) =>
      oldMtimes.get(v).foreach { old =>
        assert(root.resolve("manifests").resolve(s"v$v.manifest")
          .toFile.setLastModified(old))
      }
    }
    assert(SnapshotManifest.versionsWithMtime(root).toMap === oldMtimes,
      "test setup: fingerprints must collide")
    assert(renamedFact().isEmpty,
      "the re-created store must NOT inherit the dropped store's " +
        "rename records (stale header cache)")
  }
}
