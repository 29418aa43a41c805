package graft.operators

import graft.sources.{SnapshotTxn, SnapshotManifest}
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Pins that vacuum preserves the COMMIT-COUPLED metadata riding on
  * manifests it expires (the `#schema` fold's siblings):
  *
  *  1. a live CHECK constraint whose `#check` add-record lives only in
  *     an expired manifest keeps being enforced — vacuum re-publishes
  *     the folded set in a normalize version, so the analyzer plane
  *     (`CheckInvariant`) and the door's delta audit never go dark;
  *  2. a DROPPED check cannot resurrect when a tag retains its
  *     add-version while the drop-version expires — the normalize
  *     record `#checkdrop`s every name ever seen before re-adding the
  *     live set, at a version above every survivor;
  *  3. a streaming app's `#txn` replay watermark survives expiry of
  *     the manifest carrying its max batch record — otherwise an
  *     engine replay after other writers advanced the head would
  *     double-commit the batch.
  */
class SnapshotVacuumMetadataSpec extends SparkSpec {

  private def freshStore(name: String): (java.nio.file.Path, String) = {
    import spark.implicits._
    val base = Files.createTempDirectory(name)
    val root = base.resolve("t")
    (1L to 40L).map(k => (k, k * 10.0, s"p${k % 4}"))
      .toDF("k", "price", "pt")
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "pt")
      .mode("append").save(root.toString)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (root, cat)
  }

  test("a CHECK whose add-record lives only in expired manifests " +
    "stays enforced after vacuum") {
    val (root, cat) = freshStore("vacchk")
    val tbl = s"$cat.`t`"
    spark.sql(s"ALTER TABLE $tbl ADD CONSTRAINT price_pos " +
      "CHECK (price > 0.0)")                                      // v2
    spark.sql(s"INSERT INTO $tbl VALUES (100L, 1.0, 'p0', 'p0')") // v3
    spark.sql(s"INSERT INTO $tbl VALUES (101L, 2.0, 'p1', 'p1')") // v4
    spark.sql(s"CALL $cat.vacuum('t', 1, 0)")
    assert(!Files.exists(root.resolve("manifests").resolve("v2.manifest")),
      "the add-version must actually have expired for this spec to bite")
    assert(graft.sources.SnapshotManifest.effectiveChecks(root)
      .map(_._1) === Seq("price_pos"),
      "vacuum must re-publish the folded live-check set")
    intercept[Exception] {
      spark.sql(s"INSERT INTO $tbl VALUES (102L, -5.0, 'p2', 'p2')")
    }
    spark.sql(s"INSERT INTO $tbl VALUES (103L, 5.0, 'p2', 'p2')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $tbl").head().getLong(0) === 43L)
  }

  test("a dropped check cannot resurrect from a tag-retained add " +
    "when its drop-version expires") {
    val (root, cat) = freshStore("vacdrop")
    val tbl = s"$cat.`t`"
    spark.sql(s"ALTER TABLE $tbl ADD CONSTRAINT price_pos " +
      "CHECK (price > 0.0)")                                      // v2
    spark.sql(s"CALL $cat.tag('t', 'pin', 2)") // retains the raw add
    spark.sql(s"INSERT INTO $tbl VALUES (100L, 1.0, 'p0', 'p0')") // v3
    spark.sql(s"ALTER TABLE $tbl DROP CONSTRAINT price_pos")      // v4
    spark.sql(s"INSERT INTO $tbl VALUES (101L, 2.0, 'p1', 'p1')") // v5
    spark.sql(s"CALL $cat.vacuum('t', 1, 0)")
    assert(Files.exists(root.resolve("manifests").resolve("v2.manifest")),
      "the tagged add-version must survive (that is the trap)")
    assert(!Files.exists(root.resolve("manifests").resolve("v4.manifest")),
      "the drop-version must have expired")
    assert(graft.sources.SnapshotManifest.effectiveChecks(root).isEmpty,
      "the dropped check resurrected from the tag-retained add")
    // enforcement really is gone: the once-violating row now lands
    spark.sql(s"INSERT INTO $tbl VALUES (102L, -5.0, 'p2', 'p2')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $tbl WHERE price < 0.0")
      .head().getLong(0) === 1L)
  }

  test("a streaming #txn replay watermark survives expiry of its " +
    "marker manifest") {
    import spark.implicits._
    val root = Paths.get("target/graft-io/vac_txn_spec")
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    val leaf = root.resolve("d1").resolve("a")
    Seq((1L, 1.0)).toDF("k", "price").write.parquet(leaf.toString)
    val months = Map("a" -> leaf.toAbsolutePath.toString)
    // v1 = a sink micro-batch (txn marker); v2 = an interleaved batch
    // writer — the app's HIGHEST marker now rides a non-head manifest
    SnapshotTxn.writeManifest(root, 1, months, txn = Some("appX" -> 7L))
    SnapshotTxn.writeManifest(root, 2, months)
    assert(graft.sources.SnapshotManifest.lastTxnBatch(root, "appX")
      === Some(7L))
    SnapshotTxn.snapshotVacuum(root, Set(2), 0)
    assert(!Files.exists(root.resolve("manifests").resolve("v1.manifest")))
    assert(graft.sources.SnapshotManifest.lastTxnBatch(root, "appX")
      === Some(7L),
      "replay watermark lost: a crash-replayed batch would double-commit")
  }
}
