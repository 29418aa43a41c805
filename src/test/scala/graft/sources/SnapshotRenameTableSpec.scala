package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `ALTER TABLE … RENAME TO …` (round 13): one atomic directory move,
  * possible because every under-root path in the metadata planes is
  * stored RELATIVE to the table root. The spec pins what must survive
  * the move: data exactness, time travel, tags, branches (whose
  * manifests reference main dirs `../..`-relative), the stats
  * sidecar's zero-listing planning, Bloom file-skipping (suffix-matched
  * across the move), and DML under the new name. A store in the old
  * absolute-path format (no `#files` line, `v<N>.files` beside the
  * manifest) is refused by name, never moved or rewritten.
  */
class SnapshotRenameTableSpec extends SparkSpec {

  private def freshCat(name: String): (java.nio.file.Path, String) = {
    val base = java.nio.file.Files.createTempDirectory(name)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (base, cat)
  }

  import spark.implicits._

  private def frame(rows: Seq[(Long, String, Double)], ym: String) =
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_ym", lit(ym))

  test("rename survives everything the root carries: data, time " +
    "travel, tags, branches, stats planning, Bloom skipping, DML") {
    val (base, cat) = freshCat("rt_main")
    val root = base.resolve("t")
    def commit(rows: Seq[(Long, String, Double)], ym: String): Unit =
      frame(rows, ym).write.format("graft-snapshot")
        .option("keyCol", "o_orderkey").option("bloomKey", "o_orderkey")
        .mode("append").save(root.toString)
    commit(Seq((1L, "O", 10.0), (2L, "F", 20.0)), "2024-01") // v1
    commit(Seq((7L, "N", 7.0)), "2024-02")                   // v2
    spark.sql(s"CALL $cat.tag('t', 'audited', 1)")
    spark.sql(s"CALL $cat.branch('t', 'dev')")
    frame(Seq((9L, "O", 9.0)), "2024-03")
      .write.format("graft-snapshot").option("branch", "dev")
      .option("keyCol", "o_orderkey")
      .mode("append").save(root.toString)

    spark.sql(s"ALTER TABLE $cat.`t` RENAME TO `u`")
    val newRoot = base.resolve("u")
    assert(!java.nio.file.Files.exists(root))

    // data + head exactness under the new name
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`u`")
      .head().getLong(0) === 3L)
    // time travel + tag resolution survive (manifest mtimes kept)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`u` VERSION AS OF 1")
      .head().getLong(0) === 2L)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM $cat.`u` VERSION AS OF 'audited'")
      .head().getLong(0) === 2L)
    // the branch still reads (fork-shared entries were ../..-relative)
    // and still takes commits
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM $cat.`u` VERSION AS OF 'dev'")
      .head().getLong(0) === 4L)
    frame(Seq((11L, "F", 11.0)), "2024-03")
      .write.format("graft-snapshot").option("branch", "dev")
      .option("keyCol", "o_orderkey")
      .mode("append").save(newRoot.toString)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM $cat.`u` VERSION AS OF 'dev'")
      .head().getLong(0) === 5L)

    // stats sidecar still serves the listing
    val read = SnapshotTable.read(spark, newRoot, 2,
      bloomKey = Some("o_orderkey"))
      .filter(col("o_orderkey") === 7L).select(col("o_totalprice"))
    assert(read.collect().map(_.getDouble(0)).toSeq === Seq(7.0))
    val idx = SnapshotTable.fileIndexOf(read)
    assert(idx.inputFiles.map(SnapshotBloom.fileKey).toSet ===
      SnapshotFiles.read(newRoot, 2).values.flatten
        .map(e => SnapshotBloom.fileKey(e.path)).toSet,
      "sidecar-served planning must survive the move")
    // Bloom skipping still fires (suffix-matched across the root move)
    assert(idx.bloomBitsetsLoaded > 0,
      "bloom bitsets must still load after rename")
    assert(idx.lastListing._2 < idx.inputFiles.length,
      "bloom skipping went inert after rename")

    // DML under the new name: SQL upsert + DELETE
    spark.sql(
      s"INSERT INTO $cat.`u` VALUES (2L, 'F', 200.0, '2024-01', '2024-01')")
    assert(spark.sql(s"SELECT o_totalprice FROM $cat.`u` " +
      "WHERE o_orderkey = 2").head().getDouble(0) === 200.0)
    spark.sql(s"DELETE FROM $cat.`u` WHERE o_orderkey = 1")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`u`")
      .head().getLong(0) === 2L)

    // the old name is gone; renaming onto an existing table refuses
    val eOld = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.`t`").collect()
    }
    assert(eOld.getMessage.contains("t"), eOld.getMessage)
    spark.sql(s"CREATE TABLE $cat.`w` (id BIGINT, d STRING, d_p STRING) " +
      "PARTITIONED BY (d_p) TBLPROPERTIES ('key_column'='id')")
    val eDup = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`u` RENAME TO `w`")
    }
    assert(eDup.getMessage.toUpperCase.contains("ALREADY EXISTS"),
      eDup.getMessage)
  }

  test("an old absolute-path store is refused by name at a rename") {
    import scala.jdk.CollectionConverters._
    val (base, cat) = freshCat("rt_legacy")
    val root = base.resolve("t")
    frame(Seq((1L, "O", 10.0), (2L, "F", 20.0)), "2024-01")
      .write.format("graft-snapshot").option("keyCol", "o_orderkey")
      .mode("append").save(root.toString)
    // devolve the store to the pre-relative era: every stored path
    // back to its absolute form, and the sidecar as `v1.files` with no
    // `#files` line naming it
    val mdir = root.resolve("manifests")
    val mf = mdir.resolve("v1.manifest")
    val sc = mdir.resolve(
      SnapshotFiles.named(SnapshotManifest.headerLines(root, 1)).get)
    val absLines = java.nio.file.Files.readAllLines(mf).asScala
      .filterNot(_.startsWith(SnapshotFiles.HeaderTag)).map { l =>
        if (l.startsWith("#")) l
        else {
          val i = l.lastIndexOf('\t')
          l.substring(0, i + 1) +
            SnapshotManifest.resolvePath(root, l.substring(i + 1))
        }
      }
    java.nio.file.Files.write(mf, absLines.asJava)
    val scLines = java.nio.file.Files.readAllLines(sc).asScala.map(l =>
      l.replace("\"path\":\"", s""""path":"$root/"""))
    java.nio.file.Files.write(mdir.resolve("v1.files"), scLines.asJava)
    java.nio.file.Files.delete(sc)
    assert(java.nio.file.Files.readString(mf).contains(root.toString),
      "fixture must actually be absolute-path legacy")

    // resolving the table for the rename already refuses it
    val e = intercept[SnapshotMissingFileException] {
      spark.sql(s"ALTER TABLE $cat.`t` RENAME TO `u`")
    }
    assert(e.getMessage.startsWith(s"$root v1 has no stats sidecar"),
      e.getMessage)
    assert(!java.nio.file.Files.exists(base.resolve("u")),
      "a refused store must not move")
    assert(java.nio.file.Files.readString(mf).contains(root.toString),
      "the refused store's manifest must be left as it was")
  }
}
