package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The SQL door reports TRUE CARDINALITY from the file-stats sidecar
  * ([[SnapshotDppScan.estimateStatistics]]): the stock `FileScan`
  * estimate carries only bytes, leaving AQE/broadcast planning to
  * guess rows from a compression-sensitive byte heuristic. The scan's
  * `numRows` must equal the sidecar row sum over exactly the files the
  * PRUNED scan reads — whole table unpruned, the partition's rows
  * under a mirror predicate — and must reach the logical plan's
  * statistics (what join planning actually consults).
  */
class SnapshotReportedStatsSpec extends SparkSpec {

  private def dppScan(df: DataFrame): SnapshotDppScan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation
        if r.scan.isInstanceOf[SnapshotDppScan] =>
        r.scan.asInstanceOf[SnapshotDppScan]
    }.getOrElse(fail("no SnapshotDppScan in plan"))

  test("scan numRows == sidecar row sum, post partition pruning; " +
    "logical stats carry it") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("repstats")
    val root = base.resolve("t")
    (1L to 90L).map(id => (id, s"d${id % 3}", id.toDouble))
      .toDF("id", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)
    val cat = "repstats"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)

    // whole-table scan: numRows == the store's 90 rows
    val full = spark.sql(s"SELECT id, v FROM $cat.`t`")
    val fullStats = dppScan(full).estimateStatistics()
    assert(fullStats.numRows.isPresent, "sidecar-backed scan must " +
      "report a row count")
    assert(fullStats.numRows.getAsLong === 90L)

    // pruned scan: numRows == exactly the kept partition's rows
    val pruned = spark.sql(
      s"SELECT id, v FROM $cat.`t` WHERE day_p = 'd1'")
    val prunedStats = dppScan(pruned).estimateStatistics()
    assert(prunedStats.numRows.isPresent)
    assert(prunedStats.numRows.getAsLong === 30L,
      s"pruned scan must report the surviving files' rows, got " +
        s"${prunedStats.numRows.getAsLong}")
    // and the number the optimizer actually consults agrees
    val planRows = pruned.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.stats.rowCount
    }.flatten
    assert(planRows.contains(BigInt(30)),
      s"logical stats must carry the sidecar count, got $planRows")
    // exactness of the data itself, same predicate
    assert(pruned.count() === 30L)
  }

  test("the union-of-specs (evolved) scan reports sidecar row counts " +
    "too") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("repstats_ev")
    val root = base.resolve("t")
    (1L to 90L).map(id => (id, s"t${id % 2}", s"d${id % 3}", id.toDouble))
      .toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)
    val cat = "repstatsev"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")
    Seq((200L, "t0", "d0", 1200.0)).toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString) // head spans two layouts now
    val df = spark.sql(s"SELECT id, v FROM $cat.`t`")
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation
        if r.scan.isInstanceOf[SnapshotEvolvedScan] =>
        r.scan.asInstanceOf[SnapshotEvolvedScan]
    }.getOrElse(fail("expected the union-of-specs scan"))
    val st = scan.estimateStatistics()
    assert(st.numRows.isPresent && st.numRows.getAsLong === 91L,
      s"evolved scan must report sidecar cardinality, got $st")
    // NDV parity: the arms' per-file sketches union into one distinct
    // count exactly like a converged table's
    import scala.jdk.CollectionConverters._
    val idNdv = st.columnStats().asScala.collectFirst {
      case (ref, cs) if ref.fieldNames().sameElements(Array("id")) =>
        cs.distinctCount().getAsLong
    }
    assert(idNdv.exists(n => n > 80 && n < 100),
      s"evolved scan must report ~91 distinct ids, got $idNdv")
  }

  test("a PARTIALLY-covered sidecar falls back to the delegate " +
    "estimate instead of under-reporting unknown files as 0 rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("repstats_part")
    val root = base.resolve("t")
    (1L to 90L).map(id => (id, s"d${id % 3}", id.toDouble))
      .toDF("id", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)
    val cat = "repstatspart"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val sidecar = root.resolve("manifests").resolve(
      SnapshotFiles.named(SnapshotManifest.headerLines(root, 1)).get)
    val lines = java.nio.file.Files.readAllLines(sidecar)
    assert(lines.size() > 1, s"need a multi-file sidecar: $lines")
    // a version whose sidecar is gone (the shape no commit writes)
    // refuses to plan, naming the root and the version
    java.nio.file.Files.delete(sidecar)
    val gone = intercept[SnapshotMissingFileException] {
      dppScan(spark.sql(s"SELECT id, v FROM $cat.`t`"))
    }
    assert(gone.getMessage.startsWith(s"$root v1 has no stats sidecar"),
      gone.getMessage)
    // the scan PLANS against the full sidecar, then it shrinks to one
    // file's entry (hand-edited) before stats are consulted — pre-fix,
    // the two unknown files counted as 0 rows and numRows
    // under-reported 90 as 30, flipping join planning toward
    // broadcasting a large table
    java.nio.file.Files.write(sidecar, lines)
    val df = spark.sql(s"SELECT id, v FROM $cat.`t`")
    val scan = dppScan(df)
    java.nio.file.Files.write(sidecar, lines.subList(0, 1))
    val st = scan.estimateStatistics()
    assert(!st.numRows.isPresent,
      s"partial sidecar must fall back to the delegate (numRows " +
        s"empty), got ${st.numRows}")
    assert(st.sizeInBytes.isPresent, "bytes still come from the scan")
  }

  test("column-level NDV from the sidecar's per-file HLL sketches: " +
    "reported per column, pruned-set-scoped, within sketch error " +
    "(round 15, VERDICT r14 #5)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("repstats_ndv")
    val root = base.resolve("t")
    // id: 600 distinct; flag: 2 distinct; day: 3 partitions
    (1L to 600L).map(id => (id, s"f${id % 2}", s"d${id % 3}", id.toDouble))
      .toDF("id", "flag", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)
    val cat = "repstatsndv"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    def ndvOf(df: DataFrame, col: String): Option[Long] = {
      val cs = dppScan(df).estimateStatistics().columnStats()
      import scala.jdk.CollectionConverters._
      cs.asScala.collectFirst {
        case (ref, st) if ref.fieldNames().sameElements(Array(col)) =>
          st.distinctCount().getAsLong
      }
    }
    val full = spark.sql(s"SELECT id, flag, v FROM $cat.`t`")
    val idNdv = ndvOf(full, "id")
    assert(idNdv.exists(n => n > 560 && n < 640),
      s"id NDV ~600 expected, got $idNdv")
    assert(ndvOf(full, "flag").contains(2L))
    // pruned scan: NDV folds over the surviving files only
    val pruned = spark.sql(
      s"SELECT id, flag FROM $cat.`t` WHERE day_p = 'd1'")
    val prunedNdv = ndvOf(pruned, "id")
    assert(prunedNdv.exists(n => n > 180 && n < 220),
      s"pruned id NDV ~200 expected, got $prunedNdv")
  }

  test("NDV flips the broadcast decision under CBO: an equality " +
    "filter on a high-NDV column estimates small and broadcasts; the " +
    "same filter on a 2-distinct column keeps the shuffle join") {
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val base = java.nio.file.Files.createTempDirectory("repstats_cbo")
    val dimRoot = base.resolve("dim")
    // payload defeats compression so the dim's on-disk bytes comfortably
    // exceed the broadcast threshold below
    val rnd = new scala.util.Random(7)
    (1L to 4000L).map(id => (id, s"k$id", s"f${id % 2}", s"d${id % 2}",
        Seq.fill(8)(rnd.nextLong().toHexString).mkString("-")))
      .toDF("id", "k_high", "k_low", "day", "payload")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(dimRoot.toString)
    val cat = "repstatscbo"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val dimBytes = org.apache.commons.io.FileUtils
      .sizeOf(dimRoot.toFile)
    // threshold geometrically between the high-NDV estimate
    // (~bytes/4000) and the low-NDV one (~bytes/2) — wide margins on
    // both sides, so CBO's column-width guesses can't tip it
    s.conf.set("spark.sql.autoBroadcastJoinThreshold",
      math.max(1024L, dimBytes / 100).toString)
    (1L to 4000L).map(i => (i, i * 2.0)).toDF("fid", "fv")
      .createOrReplaceTempView("cbo_fact")
    def joinPlan(filterCol: String) = s.sql(
      s"""SELECT COUNT(*) FROM cbo_fact f
         |JOIN $cat.`dim` d ON f.fid = d.id
         |WHERE d.$filterCol = '${if (filterCol == "k_high") "k7" else "f1"}'
         |""".stripMargin)
    val hi = joinPlan("k_high")
    assert(hi.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      s"1/4000 selectivity must broadcast:\n" +
        hi.queryExecution.executedPlan)
    assert(hi.collect().head.getLong(0) === 1L)
    val lo = joinPlan("k_low")
    assert(!lo.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      s"1/2 selectivity must NOT broadcast:\n" +
        lo.queryExecution.executedPlan)
    assert(lo.collect().head.getLong(0) === 2000L)
  }

  test("NDV sketches ride every commit's sidecar; none is refused") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("repstats_bf")
    val root = base.resolve("t")
    (1L to 300L).map(id => (id, s"d${id % 3}", id.toDouble))
      .toDF("id", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)
    val cat = "repstatsbf"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val fm = SnapshotFiles.read(root, 1)
    assert(fm.valuesIterator.flatten.forall(_.ndv.contains("id")),
      "the commit's sidecar must carry the NDV sketches")
    val df = spark.sql(s"SELECT id, v FROM $cat.`t`")
    val cs = dppScan(df).estimateStatistics().columnStats()
    assert(!cs.isEmpty, "the sidecar's NDV must reach the scan stats")
    java.nio.file.Files.delete(root.resolve("manifests").resolve(
      SnapshotFiles.named(SnapshotManifest.headerLines(root, 1)).get))
    val gone = intercept[SnapshotMissingFileException] {
      dppScan(spark.sql(s"SELECT id, v FROM $cat.`t`"))
    }
    assert(gone.getMessage.startsWith(s"$root v1 has no stats sidecar"),
      gone.getMessage)
    assert(intercept[Exception] {
      spark.sql(s"CALL $cat.compute_stats('t')").collect()
    }.getMessage.contains("compute_stats"))
  }
}
