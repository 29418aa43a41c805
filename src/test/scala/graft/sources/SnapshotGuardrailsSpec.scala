package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** Round-13 guardrails on the store's metadata planes:
  *
  *  1. '''no defaulted upsert key''' — every DML door resolves the key
  *     from the caller's option or the store's declared
  *     `table.meta.keyCol`, and REFUSES when neither exists: on a
  *     legacy/foreign store, silently binding upsert/delete identity
  *     to a fixed column name would be wrong the moment such a column
  *     exists without being the key. Reads never need one.
  *  2. '''Bloom index column identity''' — the index records which
  *     column its bitsets hash (`bloomidx.key` marker): an incremental
  *     append under a different column refuses loudly, and a reader
  *     whose `bloomKey` disagrees with the marker gets NO skipping
  *     (sound) instead of wrong skipping (files with matching rows
  *     silently dropped).
  *  3. '''wedged half-bootstrap recovery''' — a crash between the
  *     `table.meta` publish and the v1 manifest link used to leave an
  *     unrecoverable root (CREATE threw AlreadyExists, loadTable threw
  *     NoSuchTable, DROP returned false): now a re-run of the SAME
  *     declaration completes the bootstrap, a different declaration
  *     still refuses, and DROP TABLE clears the wedge.
  */
class SnapshotGuardrailsSpec extends SparkSpec {

  private def freshCat(name: String): (java.nio.file.Path, String) = {
    val base = java.nio.file.Files.createTempDirectory(name)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (base, cat)
  }

  import spark.implicits._

  private def frame(rows: Seq[(Long, String, Double)]) =
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_ym", lit("2024-01"))

  test("DML on a store whose meta declares no key refuses loudly; " +
    "reads still serve") {
    val (base, cat) = freshCat("keyguard")
    val root = base.resolve("t")
    frame(Seq((1L, "O", 10.0), (2L, "F", 20.0)))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey")
      .option("partCol", "o_ym").mode("append").save(root.toString)
    // strip the key from table.meta — the legacy/foreign-store shape
    val m = SnapshotMeta.read(root)
    SnapshotMeta.write(root, m.copy(keyCol = None))

    // reads don't need a key
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`t`")
      .head().getLong(0) === 2L)
    assert(SnapshotTable.read(spark, root, 1).count() === 2L)

    // SQL INSERT refuses (would bind upsert identity to a default)
    val eIns = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.`t` VALUES (3L, 'N', 3.0, '2024-01')")
    }
    assert(eIns.getMessage.contains("key"), eIns.getMessage)
    // SQL DELETE refuses
    val eDel = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.`t` WHERE o_orderkey = 1")
    }
    assert(eDel.getMessage.contains("key"), eDel.getMessage)
    // the DataFrame door without an explicit keyCol refuses
    val eDoor = intercept[Exception] {
      frame(Seq((3L, "N", 3.0))).write.format("graft-snapshot")
        .mode("append").save(root.toString)
    }
    assert(eDoor.getMessage.contains("keyCol"), eDoor.getMessage)
    // an explicit option still commits (the caller takes responsibility)
    frame(Seq((3L, "N", 3.0))).write.format("graft-snapshot")
      .option("keyCol", "o_orderkey").mode("append").save(root.toString)
    assert(SnapshotTable.read(spark, root, 2).count() === 3L)
    // nothing above advanced the head besides the explicit commit
    assert(SnapshotManifest.head(root) === 2)
  }

  test("bootstrap through the door requires an explicit keyCol") {
    val root = java.nio.file.Files.createTempDirectory("keyboot")
      .resolve("t")
    val e = intercept[Exception] {
      frame(Seq((1L, "O", 1.0))).write.format("graft-snapshot")
        .mode("append").save(root.toString)
    }
    assert(e.getMessage.contains("keyCol"), e.getMessage)
  }

  test("Bloom index column identity: mixed-column appends refuse, " +
    "mismatched readers degrade to no skipping, rebuild re-keys") {
    val root = java.nio.file.Files.createTempDirectory("bloomid")
      .resolve("t")
    def commit(rows: Seq[(Long, String, Double)], ym: String): Unit =
      rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn("o_ym", lit(ym))
        .write.format("graft-snapshot").option("keyCol", "o_orderkey")
        .option("bloomKey", "o_orderkey").mode("append")
        .save(root.toString)
    commit(Seq((1L, "O", 10.0), (2L, "F", 20.0)), "2024-01")
    commit(Seq((7L, "N", 7.0)), "2024-02")
    assert(SnapshotBloom.indexedColumn(
      root.resolve("bloomidx").toString) === Some("o_orderkey"))

    // a door commit maintaining the index under a DIFFERENT column
    // must refuse — mixed-column bitsets are wrong skipping later
    val eMix = intercept[Exception] {
      Seq((9L, "O", 9.0)).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn("o_ym", lit("2024-03"))
        .write.format("graft-snapshot")
        .option("bloomKey", "o_totalprice").mode("append")
        .save(root.toString)
    }
    assert(eMix.getMessage.contains("o_orderkey"), eMix.getMessage)

    // a reader probing a different column than the index was built
    // over gets NO skipping (sound), never wrong skipping
    val mism = SnapshotTable.read(spark, root, 2,
        bloomKey = Some("o_totalprice"))
      .filter(col("o_totalprice") === 7.0).select(col("o_orderkey"))
    assert(mism.collect().map(_.getLong(0)).toSeq === Seq(7L))
    val mismIdx = SnapshotTable.fileIndexOf(mism)
    assert(mismIdx.bloomBitsetsLoaded === 0,
      "mismatched bloomKey must not consult the index at all")

    // the matching reader still skips
    val ok = SnapshotTable.read(spark, root, 2,
        bloomKey = Some("o_orderkey"))
      .filter(col("o_orderkey") === 7L).select(col("o_totalprice"))
    assert(ok.collect().map(_.getDouble(0)).toSeq === Seq(7.0))
    val (_, listed) = SnapshotTable.fileIndexOf(ok).lastListing
    assert(listed < SnapshotTable.fileIndexOf(ok).inputFiles.length)

    // an overwrite REBUILD re-keys the marker (the explicit spelling)
    SnapshotTxn.snapshotBuildBloom(spark, root,
      "o_totalprice")
    assert(SnapshotBloom.indexedColumn(
      root.resolve("bloomidx").toString) === Some("o_totalprice"))
    // after the re-key, the o_orderkey reader is the mismatched one
    val rekeyed = SnapshotTable.read(spark, root, 2,
        bloomKey = Some("o_orderkey"))
      .filter(col("o_orderkey") === 7L).select(col("o_totalprice"))
    assert(rekeyed.collect().map(_.getDouble(0)).toSeq === Seq(7.0))
    assert(SnapshotTable.fileIndexOf(rekeyed).bloomBitsetsLoaded === 0)
  }

  test("a wedged half-bootstrap (meta, no manifest) recovers: same-" +
    "declaration CREATE completes, different refuses, DROP clears") {
    val (base, cat) = freshCat("wedge")
    val ddl = s"CREATE TABLE $cat.`w` (id BIGINT, d STRING, d_p STRING) " +
      "PARTITIONED BY (d_p) TBLPROPERTIES ('key_column'='id')"
    spark.sql(ddl)
    // simulate the crash window: meta published, v1 link never ran
    org.apache.commons.io.FileUtils.deleteDirectory(
      base.resolve("w").resolve("manifests").toFile)
    // re-running the SAME declaration completes the bootstrap
    spark.sql(ddl)
    assert(SnapshotManifest.head(base.resolve("w")) === 1)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`w`")
      .head().getLong(0) === 0L)
    spark.sql(s"INSERT INTO $cat.`w` VALUES (1L, 'x', 'x')")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`w`")
      .head().getLong(0) === 1L)

    // a DIFFERENT declaration against a wedge still refuses (the first
    // creator's schema won the meta CAS) …
    spark.sql(s"CREATE TABLE $cat.`w2` (id BIGINT, d STRING, d_p STRING) " +
      "PARTITIONED BY (d_p) TBLPROPERTIES ('key_column'='id')")
    org.apache.commons.io.FileUtils.deleteDirectory(
      base.resolve("w2").resolve("manifests").toFile)
    val eDiff = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`w2` (id BIGINT, z STRING, z_p STRING) " +
        "PARTITIONED BY (z_p) TBLPROPERTIES ('key_column'='id')")
    }
    assert(eDiff.getMessage.toUpperCase.contains("ALREADY EXISTS"),
      eDiff.getMessage)
    // … but dropTable now clears the wedge (previously it returned
    // false and deleted nothing). SQL `DROP TABLE` can't reach it —
    // Spark's DropTableExec gates on tableExists, which resolves
    // through loadTable — so the catalog API is the recovery door
    val catApi = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftSnapshotCatalog]
    assert(catApi.dropTable(org.apache.spark.sql.connector.catalog
      .Identifier.of(Array.empty, "w2")))
    assert(!java.nio.file.Files.exists(base.resolve("w2")))
    spark.sql(s"CREATE TABLE $cat.`w2` (id BIGINT, z STRING, z_p STRING) " +
      "PARTITIONED BY (z_p) TBLPROPERTIES ('key_column'='id')")
    assert(SnapshotManifest.head(base.resolve("w2")) === 1)
  }
}
