package graft.sources

import java.nio.file.{Files, Path}

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every commit path folds its stats sidecar at write time
  * ([[SnapshotFiles.StatsFold]]); [[SnapshotFiles.collect]] profiles
  * the same files with a distributed re-read. After each commit below,
  * the head's published sidecar is rebuilt by `collect` over the
  * head's partition dirs, and both entry sets must be identical file
  * by file: bytes, rows, min/max text and the base64 NDV sketch. RESTORE
  * and fast-forward, which carry a sidecar instead of folding one, get
  * the same check; CREATE TABLE's v1 must publish an empty one.
  *
  * One table covers every stats type and the edge values: NaN, -0.0
  * and 0.0 in FLOAT/DOUBLE, decimals, dates, the empty string, a
  * string past the 64-char stat limit, non-ASCII text, an all-NULL
  * column, several files in one partition, and hive-escaped partition
  * values (`a:b`, `50%`) whose dir names need the URI decoding in
  * `collect`.
  *
  * Merge-on-read `#delete`/`#upsert` records carry row counts summed
  * from the same write-time entries; the reference for those is each
  * record dir's parquet footers.
  */
class WriteTimeStatsSpec extends SparkSpec {

  private val parts = Seq("a:b", "50%", "plain")

  /** `ids` as table rows; `p` is the partition column. */
  private def rows(ids: Seq[Long], part: Column => Column): DataFrame = {
    import spark.implicits._
    val id = col("id")
    def floaty(t: String) =
      when(id % 7 === 0, lit(Double.NaN))
        .when(id % 7 === 1, lit(-0.0))
        .when(id % 7 === 2, lit(0.0))
        .otherwise(id * 1.5).cast(t)
    ids.toDF("id").select(id,
      (id % 100).cast("tinyint").as("b"),
      (id * 3).cast("smallint").as("sh"),
      (id * 7 % 50).cast("int").as("i"),
      floaty("float").as("f"),
      floaty("double").as("d"),
      (id * 37 % 1000 / 7).cast("decimal(10,2)").as("dec"),
      date_add(lit("2020-01-01").cast("date"), (id * 11 % 900).cast("int"))
        .as("dt"),
      when(id % 4 === 0, lit(""))
        .when(id % 4 === 1, concat(lit("x" * 70), id.cast("string")))
        .when(id % 4 === 2, concat(lit("naïve-☃-日本-"), id.cast("string")))
        .otherwise(concat(lit("s"), id.cast("string"))).as("s"),
      lit(null).cast("int").as("nul"),
      (id % 2).cast("int").as("g"),
      part(id).as("p"))
  }

  private def byMod(id: Column): Column =
    element_at(typedlit(parts), (id % 3 + 1).cast("int"))

  /** `df` through the DataFrame write door into the store at `root`. */
  private def doorWrite(root: Path, df: DataFrame, mode: String = "upsert",
      distribution: String = "hash"): Unit =
    df.write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "p")
      .option("commitMode", mode).option("distribution", distribution)
      .mode("append").save(root.toString)

  /** Rebuild the head's published sidecar with [[SnapshotFiles
    * .collect]] over its partition dirs (under the declared effective
    * schema, columns with rename history left out, as the retired
    * `compute_stats` did), and require the same entries file by file.
    */
  private def assertRebuildMatches(root: Path,
      what: String): Seq[SnapshotFiles.FileEntry] = {
    val v = SnapshotManifest.head(root)
    val published = SnapshotFiles.read(root, v).values.flatten.toSeq
    val declared = org.apache.spark.sql.types.StructType(SnapshotManifest
      .effectiveDataSchema(root, SnapshotMeta.read(root).dataSchema)
      .fields.map(_.copy(nullable = true)))
    val chains = SnapshotRename.chainsFor(root, declared)
    val rebuiltAll = SnapshotFiles.collect(spark,
      SnapshotManifest.read(root, v).toSeq.sorted,
      org.apache.spark.sql.types.StructType(
        declared.fields.filterNot(f => chains.contains(f.name))))
    assert(rebuiltAll.size === published.size, s"$what: file counts")
    // the sidecar's stored-path round trip (relative under the root)
    val rebuilt = rebuiltAll.map(e => e.copy(path = SnapshotManifest
        .resolvePath(root, SnapshotManifest.relativizePath(root, e.path))))
      .map(e => e.path -> e).toMap
    assert(published.map(_.path).toSet === rebuilt.keySet,
      s"$what: the sidecars name different files")
    published.foreach(e => assert(e === rebuilt(e.path), s"$what: ${e.path}"))
    published
  }

  test("write-time sidecars equal the compute_stats rebuild on every " +
    "commit path") {
    val base = Files.createTempDirectory("wts")
    val root = base.resolve("t")
    val cat = "wts"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val t = s"$cat.`t`"
    def door(df: DataFrame, mode: String = "upsert",
             distribution: String = "hash"): Unit =
      doorWrite(root, df, mode, distribution)

    // door bootstrap: 3 input tasks, no re-distribution -> 3 files in
    // every partition
    door(rows(1L to 300L, byMod).repartition(3), distribution = "none")
    val v1 = assertRebuildMatches(root, "door bootstrap")
    assert(v1.map(_.pv).toSet === Set("a%3Ab", "50%25", "plain"))
    assert(v1.groupBy(_.pv).values.forall(_.size == 3))
    assert(v1.exists(_.stats.get("f").exists(_._2 == "NaN")))
    assert(v1.exists(_.stats.get("d").exists(_._1 == "-0.0")))
    assert(v1.forall(e => !e.stats.contains("nul") && !e.stats.contains("s")),
      "all-NULL and over-long columns carry no min/max")
    assert(v1.forall(_.ndv.keySet.contains("nul")))

    // 1,000 new keys: this file's sketches leave set mode for HLL mode
    door(rows(Seq(3L, 6L) ++ (1000L to 2000L), _ => lit("plain")))
    assertRebuildMatches(root, "door upsert")
    door(rows(Seq(1L, 4L), _ => lit("a:b")), mode = "delete")
    assertRebuildMatches(root, "door delete")

    // `50%` still holds its 3 bootstrap files: z-order it down to 2,
    // then compact it to 1
    val z = spark.sql(s"CALL $cat.zorder('t', 'id', 'i', 2, 2)").head()
    assert(z.getInt(0) === 1, s"zorder: $z")
    assertRebuildMatches(root, "zorder")
    val c = spark.sql(s"CALL $cat.compact('t', 2)").head()
    assert(c.getInt(0) === 1, s"compact: $c")
    assertRebuildMatches(root, "compact")

    rows(500L to 520L, _ => lit("plain")).createOrReplaceTempView("wts_src")
    val cols = "id, b, sh, i, f, d, dec, dt, s, nul, g, p"
    spark.sql(s"INSERT OVERWRITE $t PARTITION (p_p = 'plain') " +
      s"SELECT $cols FROM wts_src")
    assertRebuildMatches(root, "static INSERT OVERWRITE")
    rows(600L to 630L, _ => lit("50%")).createOrReplaceTempView("wts_src")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql(s"INSERT OVERWRITE $t SELECT $cols, p AS p_p FROM wts_src")
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assertRebuildMatches(root, "dynamic INSERT OVERWRITE")

    spark.sql(s"DELETE FROM $t WHERE i % 5 = 0")
    assertRebuildMatches(root, "copy-on-write DELETE")
    // MERGE moves `plain` rows into `a:b`, which is not a replaced
    // group: its old files hard-link into the new dir as carry- files
    rows(Seq(501L, 502L, 900L), _ => lit("a:b"))
      .createOrReplaceTempView("wts_merge")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING wts_merge AS src ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET p = src.p, s = src.s
         |WHEN NOT MATCHED THEN INSERT ($cols, p_p)
         |  VALUES (src.id, src.b, src.sh, src.i, src.f, src.d, src.dec,
         |    src.dt, src.s, src.nul, src.g, src.p, src.p)
         |""".stripMargin)
    val merged = assertRebuildMatches(root, "copy-on-write MERGE")
    assert(merged.exists(e => e.pv == "a%3Ab" &&
      Path.of(e.path).getFileName.toString.startsWith("carry-")),
      "the MERGE must carry a:b's old files by link")

    spark.sql(s"CALL $cat.evolve_partitioning('t', 'g')")
    val m = spark.sql(s"CALL $cat.migrate_layout('t')").head()
    assert(m.getInt(0) === 3, s"migrate_layout: $m")
    val migrated = assertRebuildMatches(root, "migrate_layout")
    assert(migrated.map(_.pv).toSet ===
      Set("a%3Ab/0", "a%3Ab/1", "50%25/0", "50%25/1", "plain/0", "plain/1"))

    // RESTORE carries the restored version's sidecar, not the parent's
    val restored = SnapshotManifest.head(root)
    door(rows(Seq(2L, 5L) ++ (3000L to 3010L), _ => lit("plain")))
    spark.sql(s"CALL $cat.restore('t', $restored)")
    assertRebuildMatches(root, "RESTORE")

    // fast-forward publishes a branch commit's files, linked under main
    spark.sql(s"CALL $cat.branch('t', 'b')")
    rows(Seq(7L, 8L) ++ (4000L to 4010L), _ => lit("50%"))
      .write.format("graft-snapshot").option("branch", "b")
      .option("keyCol", "id").option("partCol", "p")
      .mode("append").save(root.toString)
    val ff = spark.sql(s"CALL $cat.fastforward('t', 'b')").head()
    assert(ff.getInt(0) === SnapshotManifest.head(root) && ff.getInt(2) > 0,
      s"fastforward: $ff")
    assertRebuildMatches(root, "fast-forward")

    spark.sql(
      s"""CREATE TABLE $cat.`c` (id BIGINT, v DOUBLE, p STRING, p_p STRING)
         |PARTITIONED BY (p_p)
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)
    assert(SnapshotFiles.read(base.resolve("c"), 1) === Map.empty,
      "CREATE TABLE: v1 must publish an empty sidecar")
  }

  /** Rows in `dir`'s data files, read from their parquet footers. */
  private def footerRows(dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    SnapshotFiles.listDataFiles(conf, dir).map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  test("merge-on-read record counts equal their dirs' footer counts on " +
    "every merge-on-read path") {
    import spark.implicits._
    val base = Files.createTempDirectory("wts_mor")
    val root = base.resolve("m")
    val cat = "wtsmor"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val t = s"$cat.`m`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, v DOUBLE, p STRING, p_p STRING)
         |PARTITIONED BY (p_p)
         |TBLPROPERTIES ('key_column' = 'id',
         |               'delete_mode' = 'merge-on-read')""".stripMargin)
    def keyed(ids: Seq[Long], part: Column => Column): DataFrame =
      ids.toDF("id").select(col("id"), (col("id") * 1.5).as("v"),
        part(col("id")).as("p"))
    def records(tag: String): Map[String, Long] = {
      val v = SnapshotManifest.head(root)
      val planes =
        if (tag == "#delete") SnapshotManifest.deleteRecordsWithCounts(root, v)
        else SnapshotManifest.upsertRecordsWithCounts(root, v)
      planes.values.flatten.toMap
    }
    var live = 0L
    // after `statement`: each plane in `planes` gained records, every
    // live record counts exactly its dir's footer rows, and the table
    // serves `live` rows (a dropped doomed key shows here)
    def check(what: String, change: Long, planes: String*)(
        statement: => Unit): Unit = {
      val before = Seq("#delete", "#upsert").map(p => p -> records(p).keySet)
      statement
      live += change
      before.foreach { case (tag, old) =>
        val now = records(tag)
        if (planes.contains(tag))
          assert((now.keySet -- old).nonEmpty, s"$what: no new $tag record")
        now.foreach { case (dir, n) =>
          assert(n === footerRows(dir), s"$what: $tag record $dir")
        }
      }
      assert(spark.table(t).count() === live, s"$what: count(*)")
      assert(spark.table(t).collect().length === live, s"$what: rows")
    }

    check("door bootstrap", 300) {
      doorWrite(root, keyed(1L to 300L, byMod))
    }
    check("SQL DELETE", -20, "#delete") {
      spark.sql(s"DELETE FROM $t WHERE id <= 20")
    }
    // a phantom key dooms nothing
    check("door commitMode=delete", -20, "#delete") {
      doorWrite(root, keyed((31L to 50L) :+ 9999L, byMod), mode = "delete")
    }
    // 20 existing keys move to `plain`, 30 new keys land in `a:b`
    check("door commitMode=upsert-mor", 30, "#delete", "#upsert") {
      doorWrite(root, keyed(51L to 70L, _ => lit("plain")) union
        keyed(1001L to 1030L, _ => lit("a:b")), mode = "upsert-mor")
    }
    // keys doom in their 3 old partitions, rows land in `plain` only
    check("MoR UPDATE", 0, "#delete", "#upsert") {
      spark.sql(s"UPDATE $t SET p = 'plain', v = v + 1 " +
        "WHERE id BETWEEN 71 AND 100")
    }
    keyed((101L to 110L) ++ (2001L to 2015L), _ => lit("50%"))
      .createOrReplaceTempView("wts_mor_src")
    check("MoR MERGE", 15, "#delete", "#upsert") {
      spark.sql(
        s"""MERGE INTO $t AS tgt USING wts_mor_src AS src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET v = src.v + 1
           |WHEN NOT MATCHED THEN INSERT (id, v, p, p_p)
           |  VALUES (src.id, src.v, src.p, src.p)""".stripMargin)
    }
  }

  test("a write whose entries miss or invent a file is refused") {
    val out = Files.createTempDirectory("wts_exact")
    val leaf = Files.createDirectories(out.resolve("p=x"))
    Seq("part-0.parquet", "part-1.parquet")
      .foreach(n => Files.writeString(leaf.resolve(n), "rows"))
    val conf = spark.sparkContext.hadoopConfiguration
    def entry(pv: String, name: String) = SnapshotFiles.FileEntry(
      pv, leaf.resolve(name).toString, 4L, 1L, Map.empty)
    val leaves = Seq("x" -> leaf.toString)
    SnapshotFiles.requireExact(conf, leaves,
      Seq(entry("x", "part-0.parquet"), entry("x", "part-1.parquet")))
    intercept[IllegalStateException] {
      SnapshotFiles.requireExact(conf, leaves, Seq(entry("x", "part-0.parquet")))
    }
    intercept[IllegalStateException] {
      SnapshotFiles.requireExact(conf, leaves, Seq(entry("x", "part-0.parquet"),
        entry("x", "part-1.parquet"), entry("y", "part-2.parquet")))
    }
  }
}
