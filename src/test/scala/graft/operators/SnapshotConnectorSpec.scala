package graft.operators

import graft.sources.{SnapshotTxn, SnapshotManifest}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.sources.SnapshotTable

/** Pins the planner-integration properties of the snapshot connector
  * ([[graft.sources.SnapshotFileIndex]]) that the oracle can't see —
  * the DuckDB twin proves VALUES; this spec proves the scan's input
  * set was pruned where it must be and complete where it must be:
  *
  *  1. a partition predicate reaches `listFiles` and prunes the
  *     listing to exactly the predicate's months (against an on-disk
  *     denominator of ~80, the DppPruneSpec discipline);
  *  2. a literal point-lookup predicate Bloom-skips files during
  *     planning — listed files a strict, small subset — with results
  *     identical to the unpruned union read (false positives may add
  *     files, never rows);
  *  3. an unfiltered connector read lists everything and matches the
  *     plain `snapshotRead` union byte-for-byte;
  *  4. the `graft-snapshot` DataFrameReader format door resolves
  *     versions (explicit and default-head).
  */
class SnapshotConnectorSpec extends SparkSpec {

  private lazy val root = SourceQueries.snapshotFixture(spark, sf0001)

  test("partition filter prunes the manifest listing to its months") {
    val df = SnapshotTable.read(spark, root, 2)
      .filter(col("o_ym_p").between("1995-01", "1995-06"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), graft.functions.dsum(col("o_totalprice")).as("s"))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)

    val index = SnapshotTable.fileIndexOf(df)
    val allMonths = graft.sources.SnapshotManifest.read(root, 2).size
    assert(allMonths >= 70, s"fixture denominator shrank: $allMonths months")
    val (parts, files) = index.lastListing
    assert(parts === 6, s"expected 6 months listed, got $parts")
    assert(files < index.inputFiles.length)

    val expect = SnapshotTxn.snapshotRead(spark, root, 2)
      .filter(col("o_ym").between("1995-01", "1995-06"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), graft.functions.dsum(col("o_totalprice")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got === expect)
  }

  test("literal point lookup Bloom-skips files during planning") {
    val keys = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 719 === 0)
      .select(col("o_orderkey")).orderBy(col("o_orderkey")).limit(8)
      .collect().map(_.getLong(0)).toSeq
    assert(keys.nonEmpty)

    val df = SnapshotTable.read(spark, root, 3, bloomKey = Some("o_orderkey"))
      .filter(col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val got = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)

    val index = SnapshotTable.fileIndexOf(df)
    val total = index.inputFiles.length
    val (_, files) = index.lastListing
    // each key lives in one month's file; k=4/2^15 bits keeps false
    // positives near zero at this file count
    assert(files >= 1 && files <= keys.size * 2,
      s"expected <=${keys.size * 2} files after Bloom skip, got $files")
    assert(files < total, s"no pruning: $files of $total")

    val expect = SnapshotTxn.snapshotRead(spark, root, 3)
      .filter(col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("absent key prunes to zero rows, zero-ish files") {
    val df = SnapshotTable.read(spark, root, 3, bloomKey = Some("o_orderkey"))
      .filter(col("o_orderkey") === lit(Long.MaxValue - 7))
    assert(df.count() === 0)
    val (_, files) = SnapshotTable.fileIndexOf(df).lastListing
    // Bloom false positives may keep a stray file; near-all must go
    assert(files <= 2, s"absent key still listed $files files")
  }

  test("Bloom skipping survives hive-escaped partition values") {
    import spark.implicits._
    // ':' hive-escapes to %3A in the on-disk dir name; the stored
    // bloom-index key (_metadata.file_path, URL-encoded) then carries
    // %253A while the FileIndex's requested key is the decoded on-disk
    // form — before SnapshotBloom.load decoded, these never met and
    // escaped partitions silently lost file skipping (ADVICE r10)
    val droot = java.nio.file.Files.createTempDirectory("bloom_esc")
      .resolve("t")
    (1L to 400L).map(k => (k, s"a:${k % 8}")).toDF("k", "pt")
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "pt")
      .option("bloomKey", "k")
      .mode("append").save(droot.toString)
    val leafDirs = graft.sources.SnapshotManifest.read(droot, 1).values.toSeq
    assert(leafDirs.nonEmpty && leafDirs.forall(_.contains("%3A")),
      s"fixture dirs must be hive-escaped, got: $leafDirs")

    val keys = Seq(3L, 77L, 202L)
    val df = SnapshotTable.read(spark, droot, 1, bloomKey = Some("k"))
      .filter(col("k").isin(keys: _*))
    val got = df.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    assert(got === keys.map(k => (k, s"a:${k % 8}")).sortBy(_._1))

    val index = SnapshotTable.fileIndexOf(df)
    val total = index.inputFiles.length
    val (_, files) = index.lastListing
    assert(files < total,
      s"escaped-value partitions lost Bloom skipping: $files of $total")
    assert(files <= keys.size * 2,
      s"expected <=${keys.size * 2} files after Bloom skip, got $files")
  }

  test("unfiltered connector read equals the plain union read") {
    val viaConnector = SnapshotTable.read(spark, root, 1)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()
    val viaUnion = SnapshotTxn.snapshotRead(spark, root, 1)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()
    assert(viaConnector === viaUnion)
  }

  test("graft-snapshot format door: explicit version and default head") {
    val v1 = spark.read.format("graft-snapshot")
      .option("version", "1").load(root.toString)
    val head = spark.read.format("graft-snapshot").load(root.toString)
    val v1n = v1.count()
    val headn = head.count()
    val v3n = SnapshotTxn.snapshotRead(spark, root, 3).count()
    assert(v1n === SnapshotTxn.snapshotRead(spark, root, 1).count())
    assert(headn === v3n) // head is v3 after merge + delete
    assert(v1n !== v3n)   // delete actually shrank the head
  }
}
