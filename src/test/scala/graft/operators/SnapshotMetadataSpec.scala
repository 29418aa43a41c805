package graft.operators

import graft.sources.{SnapshotTxn, SnapshotManifest}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.sources.{SnapshotManifest, SnapshotTable}

/** Pins the snapshot connector's METADATA PLANE — the round-10 rework
  * of planning-time cost (the round-9 verdict's "eager and
  * driver-collected" finding):
  *
  *  1. sidecar-served listing: a store committed through the current
  *     write paths plans with ZERO `listStatus` calls;
  *  2. legacy fallback: a store without sidecars lists LAZILY — FS
  *     list calls == partitions surviving the filters, never the
  *     table's partition count;
  *  3. min/max stats skipping: a range predicate on an unindexed
  *     column lists a strict subset of files, values unchanged;
  *  4. scoped Bloom loading: bitsets materialized on the driver ==
  *     files surviving partition pruning, never the whole index;
  *  5. typed multi-column partition schema (the second layout);
  *  6. write-door hardening: a zero-row bootstrap stays readable and
  *     a `bloomKey` read of an index-less store degrades to no
  *     skipping instead of crashing.
  */
class SnapshotMetadataSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = SourceQueries.snapshotFixture(spark, sf0001)

  test("sidecar-served listing: zero listStatus calls on the read path") {
    val df = SnapshotTable.read(spark, root, 2)
      .filter(col("o_ym_p").between("1995-01", "1995-06"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    df.collect()
    val index = SnapshotTable.fileIndexOf(df)
    assert(index.fsListCalls === 0,
      s"sidecar present but ${index.fsListCalls} listStatus calls ran")
    assert(index.lastListing._1 === 6)
  }

  test("legacy store (no sidecar) lists lazily: FS calls == survivors") {
    // same data dirs, fresh root with ONLY a v1 manifest — the
    // pre-sidecar on-disk layout
    val legacy = java.nio.file.Files.createTempDirectory("legacy_snap")
    SnapshotTxn.writeManifest(legacy, 1, SnapshotManifest.read(root, 2))
    val months = SnapshotManifest.read(legacy, 1).size
    assert(months >= 70, s"fixture denominator shrank: $months")
    val df = SnapshotTable.read(spark, legacy, 1)
      .filter(col("o_ym_p").between("1995-01", "1995-06"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    df.collect()
    val index = SnapshotTable.fileIndexOf(df)
    assert(index.fsListCalls === 6,
      s"expected 6 lazy listings (one per surviving month), " +
        s"got ${index.fsListCalls} of $months")
  }

  test("min/max stats skip files on a range predicate, values exact") {
    val sroot = SourceQueries.statsPruneFixture(spark, sf0001)
    val df = SnapshotTable.read(spark, sroot, 1)
      .filter(col("o_totalprice") >= lit(400000.0))
      .select(col("o_orderkey"), col("o_totalprice"))
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val index = SnapshotTable.fileIndexOf(df)
    val total = index.inputFiles.length
    val (_, listed) = index.lastListing
    assert(total >= 12, s"fixture too few files ($total) to prove skipping")
    assert(listed < total, s"no stats skipping: $listed of $total files")
    assert(index.fsListCalls === 0)
    val expect = Tables.orders(spark, sf0001)
      .filter(col("o_totalprice") >= lit(400000.0))
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("bloom bitsets load only for partition-pruned survivors") {
    val keys = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 719 === 0)
      .select(col("o_orderkey")).orderBy(col("o_orderkey")).limit(8)
      .collect().map(_.getLong(0)).toSeq
    // denominator: file count of the 3 surviving months vs the table
    val monthsOnly = SnapshotTable.read(spark, root, 3)
      .filter(col("o_ym_p").between("1995-01", "1995-03"))
    monthsOnly.count()
    val mIdx = SnapshotTable.fileIndexOf(monthsOnly)
    val survivorFiles = mIdx.lastListing._2
    val totalFiles = mIdx.inputFiles.length
    assert(survivorFiles < totalFiles)

    val df = SnapshotTable.read(spark, root, 3, bloomKey = Some("o_orderkey"))
      .filter(col("o_ym_p").between("1995-01", "1995-03") &&
        col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey"), col("o_totalprice"))
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val index = SnapshotTable.fileIndexOf(df)
    assert(index.bloomBitsetsLoaded <= survivorFiles,
      s"loaded ${index.bloomBitsetsLoaded} bitsets for $survivorFiles " +
        s"surviving files (table has $totalFiles)")
    val expect = SnapshotTxn.snapshotRead(spark, root, 3)
      .filter(col("o_ym").between("1995-01", "1995-03") &&
        col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got === expect)
  }

  test("typed multi-column partition schema prunes on both columns") {
    val mroot = SourceQueries.multipartFixture(spark, sf0001)
    val df = SnapshotTable.read(spark, mroot, 1)
      .filter(col("e_dt_p").between(lit("2024-01-10"), lit("2024-01-16")) &&
        col("event_type_p") === "purchase")
      .groupBy(col("e_dt_p").as("e_dt"))
      .agg(count(lit(1)).as("n"))
    val got = df.collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .sortBy(_._1)
    val index = SnapshotTable.fileIndexOf(df)
    assert(index.partitionSchema.length === 2)
    assert(index.partitionSchema.head.dataType ===
      org.apache.spark.sql.types.DateType)
    val expect = Tables.events(spark, sf0001)
      .filter(to_date(col("ts")).between(lit("2024-01-10"), lit("2024-01-16")) &&
        col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("e_dt"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).sortBy(_._1)
    assert(got === expect)
    assert(got.nonEmpty)
    assert(index.lastListing._1 === expect.length,
      s"expected ${expect.length} (day, type) partitions listed, " +
        s"got ${index.lastListing._1}")
  }

  test("multi-column layout commits through the door: upsert + delete") {
    val droot = java.nio.file.Files.createTempDirectory("door_multi")
    def frame(rows: Seq[(Long, String, String, Double)]) =
      rows.toDF("event_id", "e_dt", "event_type", "value")
        .withColumn("e_dt", to_date(col("e_dt")))
    def save(df: org.apache.spark.sql.DataFrame, mode: String = "upsert") =
      df.write.format("graft-snapshot").mode("append")
        .option("partCols", "e_dt,event_type")
        .option("keyCol", "event_id")
        .option("commitMode", mode).save(droot.toString)
    save(frame(Seq(
      (1L, "2024-01-01", "click", 1.0),
      (2L, "2024-01-01", "view", 2.0),
      (3L, "2024-01-02", "click", 3.0))))
    // upsert touches ONE (day, type) leaf and adds a brand-new one
    save(frame(Seq(
      (1L, "2024-01-01", "click", 11.0),
      (9L, "2024-01-03", "purchase", 9.0))))
    // delete event 2 out of its (day, type) leaf
    save(frame(Seq((2L, "2024-01-01", "view", 2.0))), mode = "delete")

    assert(SnapshotManifest.head(droot) === 3)
    def rows(v: Int) = SnapshotTable.read(spark, droot, v)
      .select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows(1) === Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    assert(rows(2) === Set((1L, 11.0), (2L, 2.0), (3L, 3.0), (9L, 9.0)))
    assert(rows(3) === Set((1L, 11.0), (3L, 3.0), (9L, 9.0)))
    // the untouched (2024-01-02, click) leaf is SHARED v1→v3
    assert(SnapshotManifest.read(droot, 1)("2024-01-02/click") ===
      SnapshotManifest.read(droot, 3)("2024-01-02/click"))
    // and the typed two-column partition predicate still prunes
    val df = SnapshotTable.read(spark, droot, 3)
      .filter(col("e_dt_p") === lit("2024-01-01") &&
        col("event_type_p") === "click")
    assert(df.select("event_id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(SnapshotTable.fileIndexOf(df).lastListing._1 === 1)
  }

  test("zero-row bootstrap through the door stays readable") {
    val droot = java.nio.file.Files.createTempDirectory("door_empty")
    Seq.empty[(Long, String, Double, String)]
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice", "o_ym")
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(droot.toString)
    assert(SnapshotManifest.head(droot) === 1)
    val back = spark.read.format("graft-snapshot").load(droot.toString)
    assert(back.count() === 0)
    assert(back.columns.contains("o_totalprice"))
  }

  test("write-side bloomKey maintains the index across door commits") {
    val droot = java.nio.file.Files.createTempDirectory("door_bloom")
    def commit(rows: Seq[(Long, String, Double, String)],
               mode: String = "upsert"): Unit =
      rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice", "o_ym")
        .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append")
        .option("bloomKey", "o_orderkey")
        .option("commitMode", mode).save(droot.toString)
    commit(Seq((1L, "O", 10.0, "2024-01"), (2L, "F", 20.0, "2024-02")))
    // the v2 commit's new dir must be indexed INCREMENTALLY (append)
    commit(Seq((7L, "N", 7.0, "2024-03")))
    val df = SnapshotTable.read(spark, droot, 2,
        bloomKey = Some("o_orderkey"))
      .filter(col("o_orderkey") === 7L)
      .select(col("o_totalprice"))
    assert(df.collect().map(_.getDouble(0)).toSeq === Seq(7.0))
    val index = SnapshotTable.fileIndexOf(df)
    val (_, files) = index.lastListing
    val total = index.inputFiles.length
    assert(total >= 3, s"expected >=3 files across months, got $total")
    assert(files < total,
      s"write-side index did not skip: listed $files of $total")
  }

  test("bloomKey on an index-less door store degrades to no skipping") {
    val droot = java.nio.file.Files.createTempDirectory("door_nobloom")
    Seq((1L, "O", 10.0, "2024-01"), (2L, "F", 20.0, "2024-01"))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice", "o_ym")
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(droot.toString)
    val got = spark.read.format("graft-snapshot")
      .option("bloomKey", "o_orderkey").load(droot.toString)
      .filter(col("o_orderkey") === 2L)
      .select(col("o_totalprice")).collect().map(_.getDouble(0))
    assert(got.toSeq === Seq(20.0))
  }
}
