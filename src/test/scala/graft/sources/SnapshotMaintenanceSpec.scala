package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The retrofit half of the maintenance plane (round 12): `CALL
  * snap.build_bloom('t', col)` retrofits the per-file Bloom
  * point-lookup index onto a store bootstrapped without one (one scan,
  * publish-once, no data file touched). Every version carries its
  * stats sidecar, so a store without one is refused, not backfilled.
  */
class SnapshotMaintenanceSpec extends SparkSpec {

  private def freshStore(name: String): (java.nio.file.Path, String) = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(name)
    val root = base.resolve("t")
    (1L to 120L).map(id => (id, s"d${id % 3}", id.toDouble))
      .toDF("id", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (root, cat)
  }

  test("a store without its sidecar is refused; compute_stats is gone") {
    val (root, cat) = freshStore("ms_stats")
    val sidecar = root.resolve("manifests").resolve(
      SnapshotFiles.named(SnapshotManifest.headerLines(root, 1)).get)
    assert(SnapshotFiles.read(root, 1).values.flatten.map(_.rows).sum ===
      120L)
    java.nio.file.Files.delete(sidecar)
    val e = intercept[SnapshotMissingFileException] {
      SnapshotTable.read(spark, root, 1)
    }
    assert(e.getMessage.startsWith(s"$root v1 has no stats sidecar"),
      e.getMessage)
    val gone = intercept[Exception] {
      spark.sql(s"CALL $cat.compute_stats('t')").collect()
    }
    assert(gone.getMessage.contains("compute_stats"), gone.getMessage)
  }

  test("build_bloom retrofits point-lookup skipping onto a store " +
    "bootstrapped without an index") {
    val (root, cat) = freshStore("ms_bloom")
    assert(!java.nio.file.Files.exists(root.resolve("bloomidx")),
      "the plain bootstrap must not have an index")
    val r = spark.sql(s"CALL $cat.build_bloom('t', 'id')").head()
    assert(r.getInt(0) === 1 && r.getInt(1) === 3, r.toString)
    // a keyed point lookup now Bloom-prunes files during planning
    val df = SnapshotTable.read(spark, root, 1, bloomKey = Some("id"))
      .filter(col("id") === 7L)
    assert(df.count() === 1L)
    val (_, files) = SnapshotTable.fileIndexOf(df).lastListing
    val all = SnapshotTable.fileIndexOf(
      SnapshotTable.read(spark, root, 1)).inputFiles.length
    assert(files < all,
      s"bloom must prune the file list: planned $files of $all")
    // refusals: unknown column; renamed column (pre-rename footers
    // would index as NULL)
    intercept[Exception] {
      spark.sql(s"CALL $cat.build_bloom('t', 'nope')")
    }
    spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN v TO val")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.build_bloom('t', 'val')")
    }
    assert(e.getMessage.contains("rename history"), e.getMessage)
  }

  test("the Bloom index CARRIES across CLONE: the clone's point " +
    "lookups skip without a build_bloom re-run (round 15, VERDICT " +
    "r14 #6)") {
    val (root, cat) = freshStore("ms_bloom_clone")
    spark.sql(s"CALL $cat.build_bloom('t', 'id')")
    spark.sql(s"CALL $cat.clone('t', 't2')")
    val cloneRoot = root.resolveSibling("t2")
    assert(java.nio.file.Files.isDirectory(
      cloneRoot.resolve("bloomidx")), "index must link across clone")
    // clone reads are exact…
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t2`")
      .head().getLong(0) === 120L)
    // …and the carried index prunes the clone's OWN file paths (the
    // stored source-root keys match through their root-relative form,
    // which the relative-layout clone placement preserves)
    val df = SnapshotTable.read(spark, cloneRoot, 1,
      bloomKey = Some("id")).filter(col("id") === 7L)
    assert(df.collect().map(_.getDouble(2)).toSeq === Seq(7.0))
    val (_, files) = SnapshotTable.fileIndexOf(df).lastListing
    val all = SnapshotTable.fileIndexOf(
      SnapshotTable.read(spark, cloneRoot, 1)).inputFiles.length
    assert(files < all,
      s"carried bloom must prune the clone's files: $files of $all")
    // the marker carries too: a mismatched reader still degrades
    assert(SnapshotBloom.indexedColumn(
      cloneRoot.resolve("bloomidx").toString).contains("id"))
  }

  test("files_per_partition other than -1 or >= 1 is refused by name " +
    "before any rewrite; the head stays") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ms_fpp")
    val root = base.resolve("t")
    // a fragmented leaf: 6 input tasks each write into day d0
    (1L to 12L).map(id => (id, "d0", id.toDouble)).toDF("id", "day", "v")
      .repartition(6)
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .option("distribution", "none")
      .mode("append").save(root.toString)
    val cat = "msfpp"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    for (call <- Seq("compact('t', 2, 0)", "compact('t', 2, -3)",
        "zorder('t', 'id', 'v', 2, 0)")) {
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.$call").collect()
      }
      assert(e.getMessage.contains("files_per_partition"),
        s"$call: ${e.getMessage}")
      assert(SnapshotManifest.head(root) === 1, call)
    }
    val r = spark.sql(s"CALL $cat.compact('t', 2, 1)").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(3)) === ((1, 2, 1)), r.toString)
  }
}
