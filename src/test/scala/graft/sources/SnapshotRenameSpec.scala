package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** METADATA-ONLY COLUMN RENAME ([[SnapshotRename]]) end to end. The
  * defining property everywhere: pre-rename files keep their footer
  * names and every door serves the renamed column's VALUES from them
  * — a broken mapping reads NULLs, which these tests would see as
  * wrong sums, not just wrong schemas.
  */
class SnapshotRenameSpec extends SparkSpec {

  /** 40-row store keyed by k, partitioned by pt (4 partitions), with a
    * registered SQL catalog. Total price = 10·Σ1..40 = 8200.
    */
  private def freshStore(name: String): (java.nio.file.Path, String) = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(name)
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

  test("V1 read maps a renamed column over pre-rename files") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ren_v1")
    val root = base.resolve("t")
    (1L to 20L).map(k => (k, k * 10.0, s"p${k % 2}"))
      .toDF("k", "price", "pt")
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "pt")
      .mode("append").save(root.toString)
    // raw metadata-only rename commit (the DDL door publishes the same)
    SnapshotTxn.snapshotCheckEvent(spark, root, "#rename\tprice\tamount")
    val df = SnapshotTable.read(spark, root, 2)
    assert(df.columns.contains("amount") && !df.columns.contains("price"))
    val got = df.filter(col("amount") > 150.0)
      .agg(count(lit(1)), sum(col("k")).cast("long")).head()
    assert(got.getLong(0) === 5L)   // k = 16..20
    assert(got.getLong(1) === (16L to 20L).sum)
    val total = df.agg(
      sum(col("amount")).cast("long")).head().getLong(0)
    assert(total === (1L to 20L).map(_ * 10).sum)
  }

  test("SQL door: RENAME COLUMN, filtered reads, post-rename INSERT " +
    "upsert keeps pre-rename values, row-level UPDATE") {
    val (root, cat) = freshStore("ren_sql")
    val tbl = s"$cat.`t`"
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN price TO amount") // v2
    assert(spark.table(tbl).columns.contains("amount"))
    // filtered V2 read over pre-rename files: the predicate on the
    // renamed column must be withheld from parquet (a pushed filter
    // would row-group-drop old files as all-NULL) and still be correct
    val got = spark.sql(
      s"SELECT COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS ks FROM $tbl " +
        "WHERE amount > 150.0").head()
    assert(got.getLong(0) === 25L, "filter on renamed column lost rows")
    assert(got.getLong(1) === (16L to 40L).sum)
    // post-rename INSERT = keyed upsert touching a pre-rename
    // partition: kept rows must carry their values through the rewrite
    spark.sql(s"INSERT INTO $tbl VALUES (100L, 7.0, 'p0', 'p0')") // v3
    val sum3 = spark.sql(
      s"SELECT CAST(SUM(amount) AS BIGINT) FROM $tbl").head().getLong(0)
    assert(sum3 === 8200L + 7L,
      "upsert rewrite NULLed pre-rename values of the renamed column")
    // row-level UPDATE reads pre-rename files through the mapping and
    // writes post-rename files
    spark.sql(s"UPDATE $tbl SET amount = amount + 1.0 " +
      "WHERE pt_p = 'p1'")                                        // v4
    // p1 holds k = 1,5,…,37 (10 rows) + nothing from the insert
    val sum4 = spark.sql(
      s"SELECT CAST(SUM(amount) AS BIGINT) FROM $tbl").head().getLong(0)
    assert(sum4 === 8207L + 10L)
    assert(SnapshotManifest.head(root) === 4)
    // DESCRIBE EXTENDED surfaces the rename chain
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
      .filter(col("col_name") === "Table Properties")
      .head().getString(1)
    assert(props.contains("amount<-price"),
      s"rename chain missing from table properties: $props")
  }

  test("rename refusals: key column, layout columns, taken names, " +
    "live-check references; drop still refused") {
    val (_, cat) = freshStore("ren_ref")
    val tbl = s"$cat.`t`"
    def refused(sql: String, hint: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage != null && e.getMessage.nonEmpty, hint)
    }
    refused(s"ALTER TABLE $tbl RENAME COLUMN k TO kk", "key column")
    refused(s"ALTER TABLE $tbl RENAME COLUMN pt TO ptx",
      "partition source")
    refused(s"ALTER TABLE $tbl RENAME COLUMN pt_p TO ptp2",
      "partition mirror")
    refused(s"ALTER TABLE $tbl RENAME COLUMN price TO k", "taken name")
    spark.sql(s"ALTER TABLE $tbl ADD CONSTRAINT pos CHECK (price > 0.0)")
    refused(s"ALTER TABLE $tbl RENAME COLUMN price TO amount",
      "live check references the column")
    spark.sql(s"ALTER TABLE $tbl DROP CONSTRAINT pos")
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN price TO amount")
    // a FORMER name can never be reused — by rename OR by ADD COLUMN
    // (two same-named footer fields would make the physical read
    // schema ambiguous and resurrect pre-rename values)
    refused(s"ALTER TABLE $tbl RENAME COLUMN amount TO price",
      "former name still lives in footers")
    refused(s"ALTER TABLE $tbl ADD COLUMN price DOUBLE",
      "ADD COLUMN must refuse a former name")
    // round 12: DROP COLUMN of a renamed column is a metadata-only
    // #drop tombstone — and BOTH its names stay refused afterwards
    // (pre-drop footers carry values under either)
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN amount")
    assert(!spark.sql(s"SELECT * FROM $tbl").columns.contains("amount"))
    refused(s"ALTER TABLE $tbl ADD COLUMN amount DOUBLE",
      "re-ADD of a dropped name must refuse")
    refused(s"ALTER TABLE $tbl ADD COLUMN price DOUBLE",
      "re-ADD of a dropped column's former name must refuse")
  }

  test("vacuum preserves rename chains; clone and branch carry them") {
    val (root, cat) = freshStore("ren_vac")
    val tbl = s"$cat.`t`"
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN price TO amount") // v2
    spark.sql(s"INSERT INTO $tbl VALUES (100L, 7.0, 'p0', 'p0')") // v3
    spark.sql(s"CALL $cat.vacuum('t', 1, 0)")
    assert(!java.nio.file.Files.exists(
      root.resolve("manifests").resolve("v2.manifest")))
    val sum = spark.sql(
      s"SELECT CAST(SUM(amount) AS BIGINT) FROM $tbl").head().getLong(0)
    assert(sum === 8207L,
      "rename chain lost to vacuum: pre-rename files read as NULL")
    // clone carries the mapping
    spark.sql(s"CALL $cat.clone('t', 'tc')")
    val csum = spark.sql(
      s"SELECT CAST(SUM(amount) AS BIGINT) FROM $cat.`tc`")
      .head().getLong(0)
    assert(csum === 8207L, "clone dropped the rename chains")
    // branch forks share pre-rename files and must map them too;
    // a branch-staged rename publishes to main on fastforward
    spark.sql(s"CALL $cat.branch('t', 'stg')")
    spark.sql(s"ALTER TABLE $tbl.`branch_stg` RENAME COLUMN " +
      "amount TO total")
    val bsum = spark.sql(
      s"SELECT CAST(SUM(total) AS BIGINT) FROM $tbl VERSION AS OF 'stg'")
      .head().getLong(0)
    assert(bsum === 8207L, "branch dropped or mis-staged the chains")
    spark.sql(s"CALL $cat.fastforward('t', 'stg')")
    spark.sql(s"CALL $cat.drop_branch('t', 'stg')")
    val msum = spark.sql(
      s"SELECT CAST(SUM(total) AS BIGINT) FROM $tbl").head().getLong(0)
    assert(msum === 8207L,
      "fastforward lost the branch-staged rename delta")
  }

  test("changefeed stays continuous across a rename") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ren_cdf")
    val root = base.resolve("t")
    def frame(rows: Seq[(Long, Double)]) =
      rows.toDF("k", "price").withColumn("pt", lit("a"))
    frame((1L to 10L).map(k => k -> k * 10.0))
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "pt")
      .mode("append").save(root.toString)                         // v1
    SnapshotTxn.snapshotCheckEvent(spark, root, "#rename\tprice\tamount")
    frame(Seq(3L -> 99.0))                                        // v3
      .withColumnRenamed("price", "amount")
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "pt")
      .mode("append").save(root.toString)
    val ch = SnapshotTxn.changeRows(spark, root, 2, 3,
      keyCol = "k", valCol = "amount")
      .select(col("k"), col("price"), col("old_price"), col("change_type"))
      .collect()
    assert(ch.length === 1)
    assert(ch.head.getLong(0) === 3L)
    assert(ch.head.getDouble(1) === 99.0)
    assert(ch.head.getDouble(2) === 30.0,
      "pre-image read from a pre-rename file lost the renamed value")
    assert(ch.head.getString(3) === "update")
  }
}
