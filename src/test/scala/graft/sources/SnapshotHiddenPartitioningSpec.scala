package graft.sources

import java.sql.{Date => JDate, Timestamp => JTimestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** HIDDEN PARTITIONING ([[SnapshotTransforms]], round 13 — the Iceberg
  * headline layout feature): `CREATE TABLE … PARTITIONED BY
  * (days(d), bucket(n, k))` lays the store out by derived values the
  * user never writes or queries —
  *
  *  1. the SQL schema HIDES the transform mirrors; INSERT supplies
  *     only source columns and the doors derive the layout;
  *  2. predicates on the SOURCE columns prune the partition plane:
  *     ranges through `days` (strict-subset), equality through
  *     `bucket` — on BOTH doors (SQL V2 scan and DataFrame
  *     FileIndex);
  *  3. the DataFrame write door and the SQL INSERT door derive
  *     IDENTICAL partition values (one xxhash64, both sides);
  *  4. `days` over TIMESTAMP truncates in UTC — a FIXED zone: writes
  *     and reads under different session zones agree (the Iceberg
  *     discipline; session-zone derivation silently loses rows at
  *     day boundaries when zones differ);
  *  5. identity tables are byte-for-byte unchanged (the whole
  *     existing suite pins that).
  */
class SnapshotHiddenPartitioningSpec extends SparkSpec {

  private def freshCat(name: String): (java.nio.file.Path, String) = {
    val base = java.nio.file.Files.createTempDirectory(name)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (base, cat)
  }

  /** Pruned file count of the plan's parquet V2 scan, evaluated the
    * way the scan itself lists (same index, same filters).
    */
  private def v2ScanFiles(df: DataFrame): (Int, Int) = {
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collectFirst {
      case p: ParquetScan => p
      case d: SnapshotDppScan => d.delegate
    }.getOrElse(fail("no ParquetScan in plan"))
    val pruned = scan.fileIndex
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.size).sum
    val total = scan.fileIndex.listFiles(Nil, Nil).map(_.files.size).sum
    (pruned, total)
  }

  import spark.implicits._

  private def srcRows: Seq[(Long, JDate, Double)] =
    (1L to 80L).map(i =>
      (i, JDate.valueOf(s"2024-01-${(i % 10 + 1).formatted("%02d")}"),
        i.toDouble))

  test("CREATE with days+bucket hides mirrors, INSERT derives the " +
    "layout, SELECT round-trips, source predicates prune both doors") {
    val (base, cat) = freshCat("hp_main")
    spark.sql(
      s"""CREATE TABLE $cat.`hp` (id BIGINT, d DATE, v DOUBLE)
         |PARTITIONED BY (days(d), bucket(4, id))
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    val root = base.resolve("hp")
    // the schema is the THREE source columns — no mirror leaks
    assert(spark.table(s"$cat.`hp`").columns.toSeq ===
      Seq("id", "d", "v"))
    // but the layout is declared with transform tags in table.meta
    val spec = SnapshotMeta.read(root).partitionSchema
    assert(spec.fieldNames.toSeq === Seq("d_p", "id_p"))
    assert(SnapshotTransforms.of(spec("d_p")) === SnapshotTransforms.Days)
    assert(SnapshotTransforms.of(spec("id_p")) ===
      SnapshotTransforms.Bucket(4))

    // DESCRIBE surfaces the declared layout (the only schema-adjacent
    // place a hidden transform is visible)
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.`hp`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("Table Properties").exists(p =>
      p.contains("partition_layout=days(d),bucket(4, id)")),
      s"layout fact missing: $props")

    srcRows.toDF("id", "d", "v").createOrReplaceTempView("hp_src")
    spark.sql(s"INSERT INTO $cat.`hp` SELECT id, d, v FROM hp_src")
    // layout fact: 10 days x up-to-4 buckets, two segments per pv
    val pvs = SnapshotManifest.read(root, 2).keySet
    assert(pvs.forall(_.split("/", -1).length === 2), s"bad pvs: $pvs")
    assert(pvs.map(_.split("/")(0)).size > 1)
    // round-trip equality
    val got = spark.sql(s"SELECT id, d, v FROM $cat.`hp`")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString,
        r.getDouble(2))).toSet
    assert(got === srcRows.map(t => (t._1, t._2.toString, t._3)).toSet)

    // SQL door: a DATE RANGE on the SOURCE column prunes a strict
    // subset of files through the days mirror
    val ranged = spark.sql(s"SELECT id, v FROM $cat.`hp` " +
      "WHERE d BETWEEN DATE'2024-01-02' AND DATE'2024-01-03'")
    val (prunedR, totalR) = v2ScanFiles(ranged)
    assert(prunedR > 0 && prunedR < totalR,
      s"days range must prune: $prunedR of $totalR")
    assert(ranged.count() ===
      srcRows.count(t => t._2.toString >= "2024-01-02" &&
        t._2.toString <= "2024-01-03").toLong)

    // SQL door: KEY EQUALITY prunes through the bucket mirror — at
    // most the matching bucket's partitions survive
    val point = spark.sql(s"SELECT v FROM $cat.`hp` WHERE id = 37")
    val (prunedP, totalP) = v2ScanFiles(point)
    assert(prunedP > 0 && prunedP < totalP,
      s"bucket equality must prune: $prunedP of $totalP")
    assert(point.head().getDouble(0) === 37.0)

    // DataFrame door: same pruning through SnapshotFileIndex
    val dfRead = SnapshotTable.read(spark, root, 2)
      .filter(col("d") === JDate.valueOf("2024-01-05"))
      .select(col("id"), col("v"))
    assert(dfRead.count() === srcRows.count(_._2.toString == "2024-01-05")
      .toLong)
    val idx = SnapshotTable.fileIndexOf(dfRead)
    val (parts, _) = idx.lastListing
    assert(parts > 0 && parts <= 4,
      s"one day = at most 4 bucket partitions, listed $parts")

    // upsert through the DATAFRAME door lands in the SAME pv the SQL
    // door derived (one hash, both sides): manifest keys must not grow
    Seq((37L, JDate.valueOf("2024-01-08"), 3737.0)).toDF("id", "d", "v")
      .write.format("graft-snapshot").mode("append").save(root.toString)
    val pvs3 = SnapshotManifest.read(root, 3).keySet
    assert(pvs3 === pvs,
      s"door disagreement on derived pvs: ${pvs3 -- pvs}")
    assert(spark.sql(s"SELECT v FROM $cat.`hp` WHERE id = 37")
      .head().getDouble(0) === 3737.0)
    // DELETE routes and rewrites through the same derived layout
    spark.sql(s"DELETE FROM $cat.`hp` WHERE id = 37")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`hp`")
      .head().getLong(0) === 79L)
  }

  test("days over TIMESTAMP truncates in UTC; range " +
    "predicates prune at day granularity") {
    val (base, cat) = freshCat("hp_ts")
    spark.sql(
      s"""CREATE TABLE $cat.`ev` (eid BIGINT, ts TIMESTAMP, v DOUBLE)
         |PARTITIONED BY (days(ts))
         |TBLPROPERTIES ('key_column' = 'eid')""".stripMargin)
    val root = base.resolve("ev")
    val rows = (1L to 48L).map(i =>
      (i, JTimestamp.valueOf(s"2024-03-${(i % 4 + 1).formatted("%02d")} " +
        s"${(i % 24).formatted("%02d")}:30:00"), i.toDouble))
    rows.toDF("eid", "ts", "v").createOrReplaceTempView("ev_src")
    spark.sql(s"INSERT INTO $cat.`ev` SELECT * FROM ev_src")
    val pvs = SnapshotManifest.read(root, 2).keySet
    assert(pvs === Set("2024-03-01", "2024-03-02", "2024-03-03",
      "2024-03-04"), s"day truncation diverged: $pvs")
    // a timestamp range covering one day keeps that day (weakened to
    // inclusive day bounds — sound, never fewer rows)
    val q = spark.sql(s"SELECT eid FROM $cat.`ev` " +
      "WHERE ts >= TIMESTAMP'2024-03-02 00:00:00' " +
      "AND ts < TIMESTAMP'2024-03-03 00:00:00'")
    assert(q.count() ===
      rows.count(_._2.toString.startsWith("2024-03-02")).toLong)
    val (pruned, total) = v2ScanFiles(q)
    // inclusive day bounds keep 03-02 and 03-03, prune 03-01/03-04
    assert(pruned < total, s"no pruning: $pruned of $total")
  }

  test("timestamp transforms are zone-FIXED (UTC): a write under one " +
    "session zone and a read under another agree exactly") {
    // isolated SQLConfs: newSession() shares the SparkContext but NOT
    // the session conf, so the suite-wide UTC zone (and every parallel
    // suite) is untouched
    val writer = spark.newSession()
    val reader = spark.newSession()
    writer.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    reader.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    val base = java.nio.file.Files.createTempDirectory("hp_zone")
    for (s <- Seq(writer, reader)) {
      s.conf.set("spark.sql.catalog.hpzone",
        "graft.sources.GraftSnapshotCatalog")
      s.conf.set("spark.sql.catalog.hpzone.warehouse", base.toString)
    }
    writer.sql(
      """CREATE TABLE hpzone.`ev` (eid BIGINT, ts TIMESTAMP, v DOUBLE)
        |PARTITIONED BY (days(ts))
        |TBLPROPERTIES ('key_column' = 'eid')""".stripMargin)
    // two instants straddling a UTC midnight: in LA wall time BOTH
    // fall on 03-02, in Tokyo wall time both on 03-03 — so a
    // session-zone derivation or translation disagrees with UTC (and
    // with the other zone) on at least one of them
    val t1 = java.time.Instant.parse("2024-03-02T23:30:00Z").getEpochSecond
    val t2 = java.time.Instant.parse("2024-03-03T00:30:00Z").getEpochSecond
    writer.sql(
      s"""INSERT INTO hpzone.`ev`
         |SELECT CAST(1 AS BIGINT), timestamp_seconds($t1), 1.0
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), timestamp_seconds($t2), 2.0""".stripMargin)
    // the layout derived UTC days, not LA (03-02/03-02) or Tokyo days
    assert(SnapshotManifest.read(base.resolve("ev"), 2).keySet ===
      Set("2024-03-02", "2024-03-03"),
      "write-side day derivation must be UTC")
    // point lookup under the Tokyo session: the literal translates to
    // the UTC day 03-02 — a session-zone translation would compute
    // 03-03, prune the row's partition, and silently lose it
    val point = reader.sql("SELECT eid FROM hpzone.`ev` " +
      s"WHERE ts = timestamp_seconds($t1)")
    assert(point.collect().map(_.getLong(0)).toSeq === Seq(1L),
      "cross-zone read lost the row — translation is not zone-fixed")
    val (prunedZ, totalZ) = v2ScanFiles(point)
    assert(prunedZ === 1 && totalZ === 2,
      s"UTC-day equality must prune to one day: $prunedZ of $totalZ")
    // and the range straddle keeps exactly the >= instant rows
    assert(reader.sql("SELECT eid FROM hpzone.`ev` " +
        s"WHERE ts >= timestamp_seconds($t2)")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("row-level UPDATE and MERGE work on a hidden-partitioned " +
    "table (rows route through the derived layout); CTAS composes") {
    val (base, cat) = freshCat("hp_rl")
    spark.sql(
      s"""CREATE TABLE $cat.`rl` (id BIGINT, d DATE, v DOUBLE)
         |PARTITIONED BY (days(d), bucket(4, id))
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    srcRows.take(20).toDF("id", "d", "v")
      .createOrReplaceTempView("hp_rl_src")
    spark.sql(s"INSERT INTO $cat.`rl` SELECT * FROM hp_rl_src")
    val pvsBefore = SnapshotManifest.read(
      base.resolve("rl"), 2).keySet
    // UPDATE: the filter is on the source key; the rewrite must keep
    // every row routed to its derived (day, bucket) partition
    spark.sql(s"UPDATE $cat.`rl` SET v = v * 10 WHERE id <= 5")
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) AS s FROM $cat.`rl`")
      .head().getLong(0) ===
      (1L to 20L).map(i => if (i <= 5) i * 10.0 else i.toDouble).sum.toLong)
    assert(SnapshotManifest.read(base.resolve("rl"), 3).keySet ===
      pvsBefore, "a value UPDATE must not move derived partitions")
    // MERGE: matched update + not-matched insert in one statement
    Seq((3L, JDate.valueOf("2024-01-04"), 333.0),
        (99L, JDate.valueOf("2024-01-09"), 999.0))
      .toDF("id", "d", "v").createOrReplaceTempView("hp_rl_delta")
    spark.sql(
      s"""MERGE INTO $cat.`rl` t USING hp_rl_delta s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, d, v) VALUES (s.id, s.d, s.v)
         |""".stripMargin)
    assert(spark.sql(s"SELECT v FROM $cat.`rl` WHERE id = 3")
      .head().getDouble(0) === 333.0)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`rl`")
      .head().getLong(0) === 21L)
    // the inserted row landed in its DERIVED partition (same hash both
    // doors): a DataFrame-door upsert of the same key must not grow
    // the manifest
    val pvs = SnapshotManifest.read(base.resolve("rl"),
      SnapshotManifest.head(base.resolve("rl"))).keySet
    Seq((99L, JDate.valueOf("2024-01-09"), 9999.0)).toDF("id", "d", "v")
      .write.format("graft-snapshot").mode("append")
      .save(base.resolve("rl").toString)
    val pvsAfter = SnapshotManifest.read(base.resolve("rl"),
      SnapshotManifest.head(base.resolve("rl"))).keySet
    assert(pvsAfter === pvs, s"door disagreement: ${pvsAfter -- pvs}")

    // CTAS with hidden partitioning composes with the staged publish
    srcRows.toDF("id", "d", "v").createOrReplaceTempView("hp_ctas_src")
    spark.sql(
      s"""CREATE TABLE $cat.`rlc`
         |PARTITIONED BY (days(d), bucket(4, id))
         |TBLPROPERTIES ('key_column' = 'id')
         |AS SELECT id, d, v FROM hp_ctas_src""".stripMargin)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`rlc`")
      .head().getLong(0) === srcRows.length.toLong)
    assert(spark.table(s"$cat.`rlc`").columns.toSeq ===
      Seq("id", "d", "v"))
  }

  test("months and truncate complete the transform vocabulary: " +
    "month-grain and prefix-grain layout, monotone range pruning") {
    val (base, cat) = freshCat("hp_mt")
    spark.sql(
      s"""CREATE TABLE $cat.`mt`
         |  (id BIGINT, d DATE, cat_name STRING, v DOUBLE)
         |PARTITIONED BY (months(d), truncate(3, cat_name))
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    val root = base.resolve("mt")
    val rows = (1L to 60L).map(i => (i,
      JDate.valueOf(f"2024-${i % 3 + 1}%02d-${i % 9 + 1}%02d"),
      s"brand_${i % 4}_x", i.toDouble))
    rows.toDF("id", "d", "cat_name", "v")
      .createOrReplaceTempView("hp_mt_src")
    spark.sql(s"INSERT INTO $cat.`mt` SELECT * FROM hp_mt_src")
    // month-grain x 3-char-prefix layout: pv = (first-of-month, "bra")
    val pvs = SnapshotManifest.read(root, 2).keySet
    assert(pvs === Set("2024-01-01/bra", "2024-02-01/bra",
      "2024-03-01/bra"), s"derived layout diverged: $pvs")
    // round trip
    val got = spark.sql(s"SELECT id, v FROM $cat.`mt`").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got === rows.map(t => (t._1, t._4)).toSet)
    // a DATE RANGE on the source prunes through months (monotone)
    val q = spark.sql(s"SELECT id FROM $cat.`mt` " +
      "WHERE d >= DATE'2024-02-15' AND d < DATE'2024-03-02'")
    assert(q.count() === rows.count(t =>
      t._2.toString >= "2024-02-15" && t._2.toString < "2024-03-02")
      .toLong)
    val (pruned, total) = v2ScanFiles(q)
    assert(pruned < total, s"months range must prune: $pruned of $total")
    // string equality prunes through truncate; values stay exact
    val tq = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`mt` " +
      "WHERE cat_name = 'brand_2_x'")
    assert(tq.head().getLong(0) === rows.count(_._3 == "brand_2_x").toLong)
  }

  test("hidden partitioning composes with spec evolution: the evolved " +
    "union door still hides transform mirrors, serves reads and " +
    "INSERT, and migration re-derives through the transforms") {
    val (base, cat) = freshCat("hp_ev")
    spark.sql(
      s"""CREATE TABLE $cat.`he` (id BIGINT, d DATE, g STRING, v DOUBLE)
         |PARTITIONED BY (bucket(4, id))
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    val root = base.resolve("he")
    val rows = (1L to 40L).map(i =>
      (i, JDate.valueOf(s"2024-01-0${i % 5 + 1}"), s"g${i % 2}",
        i.toDouble))
    rows.toDF("id", "d", "g", "v").createOrReplaceTempView("hp_ev_src")
    spark.sql(s"INSERT INTO $cat.`he` SELECT * FROM hp_ev_src")
    // append an IDENTITY mirror to the hidden-bucket layout
    spark.sql(s"CALL $cat.evolve_partitioning('he', 'g')")
    Seq((100L, JDate.valueOf("2024-01-02"), "g0", 100.0))
      .toDF("id", "d", "g", "v").createOrReplaceTempView("hp_ev_delta")
    // the appended IDENTITY mirror is part of the SQL schema (the
    // historical identity contract); only transform mirrors hide
    spark.sql(
      s"INSERT INTO $cat.`he` SELECT id, d, g, v, g FROM hp_ev_delta")
    // head spans two layouts → the union door serves it, mirrors
    // still hidden, the appended identity mirror visible
    assert(SnapshotTable.hasOldSpecEntries(root,
      SnapshotManifest.head(root)))
    assert(spark.table(s"$cat.`he`").columns.toSeq ===
      Seq("id", "d", "g", "v", "g_p"))
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) AS s FROM $cat.`he`")
      .head().getLong(0) === (rows.map(_._4).sum + 100.0).toLong)
    // migrate_layout converges — re-deriving the bucket mirror through
    // its transform, not as identity
    spark.sql(s"CALL $cat.migrate_layout('he')")
    val head = SnapshotManifest.head(root)
    assert(!SnapshotTable.hasOldSpecEntries(root, head))
    val pvs = SnapshotManifest.read(root, head).keySet
    assert(pvs.forall(pv => pv.split("/")(0).matches("\\d+")),
      s"bucket mirror must stay hash-derived through migration: $pvs")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`he`")
      .head().getLong(0) === 41L)
    // and a bucket point-lookup still prunes on the converged head
    val q = spark.sql(s"SELECT v FROM $cat.`he` WHERE id = 7")
    assert(q.head().getDouble(0) === 7.0)
    val (pruned, total) = v2ScanFiles(q)
    assert(pruned < total, s"bucket pruning lost in migration: " +
      s"$pruned of $total")
  }

  test("maintenance composes with hidden partitioning: compact " +
    "rewrites under byte-identical derived leaves, clone carries the " +
    "transform tags") {
    val (base, cat) = freshCat("hp_mx")
    spark.sql(
      s"""CREATE TABLE $cat.`mx` (id BIGINT, d DATE, v DOUBLE)
         |PARTITIONED BY (days(d), bucket(2, id))
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    val root = base.resolve("mx")
    def insert(lo: Long, hi: Long): Unit = {
      (lo to hi).map(i =>
          (i, JDate.valueOf(s"2024-01-0${i % 2 + 1}"), i.toDouble))
        .toDF("id", "d", "v").createOrReplaceTempView("hp_mx_src")
      spark.sql(s"INSERT INTO $cat.`mx` SELECT * FROM hp_mx_src")
    }
    insert(1, 20)
    // second disjoint-key batch through the DataFrame door, opting out
    // of the door's default hash distribution (round 16): the commit's
    // touched-partition rewrite then keeps the fragmented multi-task
    // layout, leaving every leaf ≥2 files — the hot shape compact
    // exists to fix (the distributed default would land 1 file/leaf
    // and compact would correctly no-op)
    (21L to 40L).map(i =>
        (i, JDate.valueOf(s"2024-01-0${i % 2 + 1}"), i.toDouble))
      .toDF("id", "d", "v").repartition(4)
      .write.format("graft-snapshot").option("distribution", "none")
      .mode("append").save(root.toString)
    val before = SnapshotManifest.read(root,
      SnapshotManifest.head(root)).keySet
    val compacted = spark.sql(s"CALL $cat.compact('mx', 2)")
      .head().getInt(0)
    assert(compacted > 0, "fixture must actually compact")
    val after = SnapshotManifest.read(root,
      SnapshotManifest.head(root)).keySet
    assert(after === before,
      s"compaction must keep the derived leaves: ${after -- before}")
    assert(spark.sql(s"SELECT CAST(SUM(v) AS BIGINT) AS s FROM $cat.`mx`")
      .head().getLong(0) === (1L to 40L).map(_.toDouble).sum.toLong)
    // and pruning still fires on the compacted layout
    val q = spark.sql(s"SELECT v FROM $cat.`mx` WHERE id = 17")
    assert(q.head().getDouble(0) === 17.0)
    val (pruned, total) = v2ScanFiles(q)
    assert(pruned < total, s"no pruning post-compact: $pruned of $total")

    // clone: the transform tags ride the copied meta — the clone
    // derives and prunes exactly like its source
    spark.sql(s"CALL $cat.clone('mx', 'mx2')")
    val spec2 = SnapshotMeta.read(base.resolve("mx2")).partitionSchema
    assert(SnapshotTransforms.of(spec2("d_p")) === SnapshotTransforms.Days)
    assert(SnapshotTransforms.of(spec2("id_p")) ===
      SnapshotTransforms.Bucket(2))
    spark.sql(s"INSERT INTO $cat.`mx2` VALUES (17L, DATE'2024-01-02', 1700.0)")
    assert(spark.sql(s"SELECT v FROM $cat.`mx2` WHERE id = 17")
      .head().getDouble(0) === 1700.0)
    assert(SnapshotManifest.read(base.resolve("mx2"), 2).keySet === after,
      "the clone's upsert must land in the source-derived pv set")
  }

  test("transform refusals: days over non-temporal, bucket over " +
    "non-hashable, bad bucket count, unknown transform") {
    val (_, cat) = freshCat("hp_ref")
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.toLowerCase.contains(frag.toLowerCase),
        s"$sql → ${e.getMessage}")
    }
    refuse(s"CREATE TABLE $cat.`x` (id BIGINT, v DOUBLE) " +
      "PARTITIONED BY (days(v)) TBLPROPERTIES ('key_column'='id')",
      "DATE or TIMESTAMP")
    refuse(s"CREATE TABLE $cat.`x` (id BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, v)) TBLPROPERTIES ('key_column'='id')",
      "integral or string")
    refuse(s"CREATE TABLE $cat.`x` (id BIGINT, d DATE) " +
      "PARTITIONED BY (bucket(1, id)) TBLPROPERTIES ('key_column'='d')",
      "bucket count")
    refuse(s"CREATE TABLE $cat.`x` (id BIGINT, d DATE) " +
      "PARTITIONED BY (hours(d)) TBLPROPERTIES ('key_column'='id')",
      "must be TIMESTAMP")
    refuse(s"CREATE TABLE $cat.`x` (id BIGINT, d DATE) " +
      "PARTITIONED BY (quarters(d)) TBLPROPERTIES ('key_column'='id')",
      "unsupported partition transform")
  }

  test("years and hours complete the Iceberg temporal vocabulary: " +
    "year-grain DATE mirrors and zone-free epoch-hour INT mirrors, " +
    "monotone range pruning on both") {
    val (base, cat) = freshCat("hp_yh")
    spark.sql(
      s"""CREATE TABLE $cat.`yh` (eid BIGINT, ts TIMESTAMP, d DATE,
         |  v DOUBLE)
         |PARTITIONED BY (years(d), hours(ts))
         |TBLPROPERTIES ('key_column' = 'eid')""".stripMargin)
    val root = base.resolve("yh")
    val spec = SnapshotMeta.read(root).partitionSchema
    assert(SnapshotTransforms.of(spec("d_p")) === SnapshotTransforms.Years)
    assert(SnapshotTransforms.of(spec("ts_p")) === SnapshotTransforms.Hours)
    assert(spark.table(s"$cat.`yh`").columns.toSeq ===
      Seq("eid", "ts", "d", "v"), "transform mirrors must stay hidden")
    // 12 rows over 3 hours x 2 years
    val t0 = java.time.Instant.parse("2024-06-01T10:00:00Z")
    val rows = (0L until 12L).map { i =>
      (i, JTimestamp.from(t0.plusSeconds(i * 20 * 60)),
        JDate.valueOf(if (i % 2 == 0) "2024-06-01" else "2023-03-15"),
        i.toDouble)
    }
    rows.toDF("eid", "ts", "d", "v").createOrReplaceTempView("yh_src")
    spark.sql(s"INSERT INTO $cat.`yh` SELECT * FROM yh_src")
    val hour0 = SnapshotTransforms.epochHourOfMicros(
      t0.getEpochSecond * 1000000L)
    // minute offsets 0..220 span epoch hours +0..+3; the even/odd
    // year split covers every (year, hour) combination
    assert(SnapshotManifest.read(root, 2).keySet ===
      (for (y <- Seq("2024-01-01", "2023-01-01"); h <- 0 to 3)
        yield s"$y/${hour0 + h}").toSet,
      "year/hour derivation diverged")
    // year range on the DATE source prunes the 2023 arm
    val q = spark.sql(
      s"SELECT eid, v FROM $cat.`yh` WHERE d >= DATE'2024-01-01'")
    assert(q.collect().map(_.getDouble(1)).sum ===
      rows.filter(_._3.toString >= "2024-01-01").map(_._4).sum)
    val (prunedY, totalY) = v2ScanFiles(q)
    assert(prunedY < totalY, s"years must prune: $prunedY of $totalY")
    // hour range on the TIMESTAMP source prunes to the covered hours
    // (strict bounds weaken to the containing hour — sound)
    val hq = spark.sql(s"SELECT eid FROM $cat.`yh` " +
      s"WHERE ts >= timestamp_seconds(${t0.plusSeconds(3600).getEpochSecond})")
    assert(hq.count() ===
      rows.count(_._2.toInstant.compareTo(t0.plusSeconds(3600)) >= 0).toLong)
    val (prunedH, totalH) = v2ScanFiles(hq)
    assert(prunedH < totalH, s"hours must prune: $prunedH of $totalH")
  }

  test("runtime (DPP) filters reach the hidden-transform plane: a " +
    "dimension join on a bucket source column plans only the matched " +
    "buckets; untranslatable runtime predicates no-trip") {
    // AQE off so the executed tree is directly traversable (the
    // catalog-spec DPP discipline); fresh session isolates the conf
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val base = java.nio.file.Files.createTempDirectory("hp_dpp")
    val cat = "hpdpp"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    s.sql(
      s"""CREATE TABLE $cat.`fact` (id BIGINT, v DOUBLE)
         |PARTITIONED BY (bucket(8, id))
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    locally {
      import s.implicits._
      (1L to 80L).map(i => (i, i.toDouble)).toDF("id", "v")
        .createOrReplaceTempView("hp_dpp_src")
    }
    s.sql(s"INSERT INTO $cat.`fact` SELECT id, v FROM hp_dpp_src")
    // a REAL datasource dimension (an in-memory relation constant-folds
    // away and leaves nothing for the DPP rule to latch onto)
    val dimPath = base.resolve("dim").toString
    locally {
      import s.implicits._
      (1L to 80L).map(k => (k, if (k == 3L || k == 7L) "hot" else "cold"))
        .toDF("k", "tag").coalesce(1).write.parquet(dimPath)
    }
    s.read.parquet(dimPath).createOrReplaceTempView("hp_dpp_dim")
    val q = s.sql(
      s"""SELECT SUM(t.v) FROM $cat.`fact` t
         |JOIN hp_dpp_dim dm ON t.id = dm.k
         |WHERE dm.tag = 'hot'""".stripMargin)
    assert(q.collect().head.getDouble(0) === 10.0)
    val scan = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[SnapshotDppScan] => b
    }.headOption.getOrElse(fail("no snapshot scan in the plan"))
    assert(scan.runtimeFilters.nonEmpty,
      "join on the bucket SOURCE column must plant a runtime filter " +
        "(filterAttributes must declare transform sources)")
    // post-execution the wrapper holds the bucket-plane translation
    // and plans ONLY the hot keys' buckets of the 8 written
    val dpp = scan.scan.asInstanceOf[SnapshotDppScan]
    assert(dpp.partitionFilters.exists(
      _.references.exists(_.name == "id_p")),
      s"runtime filter never translated onto the mirror: " +
        s"${dpp.partitionFilters}")
    val hotBuckets = Set(3L, 7L).map(k =>
      SnapshotTransforms.bucketOfLong(k, 8))
    val planned = dpp.toBatch.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
      case _ => Nil
    }
    assert(planned.nonEmpty)
    assert(planned.forall(p =>
      hotBuckets.exists(b => p.contains(s"id_p=$b"))),
      s"scan planned unmatched buckets: ${planned.take(3)}")
    assert(planned.size <
      dpp.delegate.fileIndex.listFiles(Nil, Nil).map(_.files.size).sum,
      "bucket DPP must be a strict subset of the full listing")
    // exactness vs the literal probe
    assert(q.collect().head.getDouble(0) ===
      s.sql(s"SELECT SUM(v) FROM $cat.`fact` WHERE id IN (3, 7)")
        .collect().head.getDouble(0))

    // no-trip arm: a runtime predicate the transform plane cannot
    // translate (a RANGE on a bucket source — hash order is
    // meaningless) must be ignored, never wrong
    import org.apache.spark.sql.connector.expressions.{Expressions => VE}
    import org.apache.spark.sql.connector.expressions.filter.{Predicate => VP}
    val spec = SnapshotMeta.read(base.resolve("fact")).partitionSchema
    val range = new VP(">", Array(VE.column("id"),
      VE.literal(java.lang.Long.valueOf(3L))))
    assert(SnapshotTransforms.v2ToSourceExpr(range, spec).isEmpty,
      "a > on the source must not reach the bucket plane")
    val before = dpp.partitionFilters
    dpp.filter(Array(range))
    assert(dpp.partitionFilters === before,
      "untranslatable runtime predicate must leave the scan unchanged")
    // and a translatable one composed under AND still prunes alone
    val eq = new VP("=", Array(VE.column("id"),
      VE.literal(java.lang.Long.valueOf(9L))))
    val and = new VP("AND", Array(range, eq))
    val got = SnapshotTransforms.v2ToSourceExpr(and, spec)
      .map(e => SnapshotTransforms.translateFilters(Seq(e), spec))
    assert(got.exists(_.exists(_.references.exists(_.name == "id_p"))),
      s"AND with one translatable side must still prune: $got")

    // the TEMPORAL shape: a date-dimension join on a days() source
    // prunes the fact to the dimension's matched days
    s.sql(
      s"""CREATE TABLE $cat.`tfact` (id BIGINT, d DATE, v DOUBLE)
         |PARTITIONED BY (days(d))
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    locally {
      import s.implicits._
      (1L to 60L).map(i => (i,
          java.sql.Date.valueOf(f"2024-02-${i % 6 + 1}%02d"), i.toDouble))
        .toDF("id", "d", "v").createOrReplaceTempView("hp_dpp_tsrc")
      (1 to 6).map(dd => (java.sql.Date.valueOf(f"2024-02-$dd%02d"),
          if (dd <= 2) "hot" else "cold"))
        .toDF("cal_d", "tag").coalesce(1)
        .write.parquet(base.resolve("tdim").toString)
    }
    s.sql(s"INSERT INTO $cat.`tfact` SELECT id, d, v FROM hp_dpp_tsrc")
    s.read.parquet(base.resolve("tdim").toString)
      .createOrReplaceTempView("hp_dpp_tdim")
    val tq = s.sql(
      s"""SELECT COUNT(*) FROM $cat.`tfact` t
         |JOIN hp_dpp_tdim c ON t.d = c.cal_d
         |WHERE c.tag = 'hot'""".stripMargin)
    assert(tq.collect().head.getLong(0) ===
      (1L to 60L).count(i => i % 6 + 1 <= 2).toLong)
    val tscan = tq.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[SnapshotDppScan] => b
    }.headOption.getOrElse(fail("no snapshot scan in the plan"))
    assert(tscan.runtimeFilters.nonEmpty,
      "date-dim join on a days() source must plant a runtime filter")
    val tplanned = tscan.scan.asInstanceOf[SnapshotDppScan]
      .toBatch.planInputPartitions().toSeq.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(_.filePath.toString)
        case _ => Nil
      }
    assert(tplanned.nonEmpty && tplanned.forall(p =>
      p.contains("d_p=2024-02-01") || p.contains("d_p=2024-02-02")),
      s"days DPP planned unmatched days: ${tplanned.take(3)}")
  }
}
