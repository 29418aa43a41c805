package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SAFE TYPE WIDENING (`ALTER TABLE … ALTER COLUMN c TYPE t`) as a
  * `#schema` overlay:
  *
  *  1. widen int→bigint and float→double: zero files move; pre-widening
  *     files read EXACT values under the widened declared schema
  *     through both doors; post-widening commits insert values that
  *     only fit the wide type;
  *  2. narrowing, cross-family retypes, scale changes, key and layout
  *     columns refuse loudly;
  *  3. stats skipping stays sound across the widening: a float-epoch
  *     file's stored stats text must not wrongly skip a literal equal
  *     to the upcast double value (the interval-hull parse in
  *     [[StatsSkipping]]).
  */
class SnapshotWidenColumnSpec extends SparkSpec {

  /** 120 rows: key id, partition day, n INT, x FLOAT. */
  private def freshStore(name: String): (java.nio.file.Path, String) = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(name)
    val root = base.resolve("t")
    (1L to 120L).map(id =>
        (id, s"d${id % 3}", id.toInt, (id.toFloat / 3.0f)))
      .toDF("id", "day", "n", "x")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (root, cat)
  }

  test("widen int->bigint and float->double: metadata-only, exact " +
    "old-file reads, wide values insertable, both doors agree") {
    import spark.implicits._
    val (root, cat) = freshStore("wc_main")
    val v1Dirs = SnapshotManifest.read(root, 1)
    spark.sql(s"ALTER TABLE $cat.`t` ALTER COLUMN n TYPE BIGINT")  // v2
    spark.sql(s"ALTER TABLE $cat.`t` ALTER COLUMN x TYPE DOUBLE")  // v3
    assert(SnapshotManifest.read(root, 3) === v1Dirs,
      "widening must move zero files")
    val meta = SnapshotMeta.read(root).get
    val eff = SnapshotManifest.effectiveDataSchema(root, meta.dataSchema)
    assert(eff("n").dataType.simpleString === "bigint")
    assert(eff("x").dataType.simpleString === "double")
    // post-widening insert: values beyond int range / double precision
    val wide = 10_000_000_000L
    Seq((200L, "d0", wide, 1.0e-9)).toDF("id", "day", "n", "x")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                          // v4
    // DataFrame door: pre-widening files cast up exactly
    val df = SnapshotTable.read(spark, root, 4)
    assert(df.schema("n").dataType.simpleString === "bigint")
    assert(df.schema("x").dataType.simpleString === "double")
    assert(df.agg(sum(col("n"))).head().getLong(0) ===
      (1L to 120L).sum + wide)
    // float→double upcasts are the IEEE-exact widened values
    val x3 = df.filter(col("id") === 3L).select(col("x")).head().getDouble(0)
    assert(x3 === (3.0f / 3.0f).toDouble)
    val x7 = df.filter(col("id") === 7L).select(col("x")).head().getDouble(0)
    assert(x7 === (7.0f / 3.0f).toDouble, s"got $x7")
    // SQL door sees the same
    val got = spark.sql(s"SELECT CAST(SUM(n) AS BIGINT) AS s, " +
      s"COUNT(*) AS c FROM $cat.`t`").head()
    assert(got.getLong(0) === (1L to 120L).sum + wide)
    assert(got.getLong(1) === 121L)
    // predicate on the upcast double finds the pre-widening row (stats
    // skipping must not drop its file: the hull-parse arm)
    // the literal is the float-division upcast computed HERE (SQL
    // float/float division promotes to double division — not the same
    // value); Scala's double toString round-trips exactly
    assert(spark.sql(
      s"SELECT COUNT(*) AS c FROM $cat.`t` WHERE x = CAST(" +
        s"'${(7.0f / 3.0f).toDouble}' AS DOUBLE)")
      .head().getLong(0) === 1L)
  }

  test("refusals: narrowing, cross-family, same-type, key, layout, " +
    "decimal scale change; decimal precision growth accepted") {
    import spark.implicits._
    val (root, cat) = freshStore("wc_ref")
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.contains(frag), s"$sql → ${e.getMessage}")
    }
    // refusal LAYERS: Spark's analyzer already rejects every
    // non-upcast (NOT_SUPPORTED_CHANGE_COLUMN: narrowing, cross-family,
    // scale changes, same-type no-ops are elided); the catalog's gate
    // then narrows Spark's canUpCast set (which admits int->double,
    // long->decimal, anything->string) to the metadata-only promotions
    refuse(s"ALTER TABLE $cat.`t` ALTER COLUMN x TYPE INT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    refuse(s"ALTER TABLE $cat.`t` ALTER COLUMN x TYPE BIGINT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    refuse(s"ALTER TABLE $cat.`t` ALTER COLUMN day TYPE BIGINT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    refuse(s"ALTER TABLE $cat.`t` ALTER COLUMN n TYPE STRING", "unsafe")
    refuse(s"ALTER TABLE $cat.`t` ALTER COLUMN n TYPE DOUBLE", "unsafe")
    refuse(s"ALTER TABLE $cat.`t` ALTER COLUMN id TYPE DECIMAL(38,0)",
      "unsafe")
    // decimal arms on a fresh decimal column
    spark.sql(s"ALTER TABLE $cat.`t` ADD COLUMN d DECIMAL(10,2)")
    refuse(s"ALTER TABLE $cat.`t` ALTER COLUMN d TYPE DECIMAL(10,4)",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    refuse(s"ALTER TABLE $cat.`t` ALTER COLUMN d TYPE DECIMAL(8,2)",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    spark.sql(s"ALTER TABLE $cat.`t` ALTER COLUMN d TYPE DECIMAL(20,2)")
    val meta = SnapshotMeta.read(root).get
    assert(SnapshotManifest.effectiveDataSchema(root, meta.dataSchema)
      ("d").dataType.simpleString === "decimal(20,2)")
    // key column: refused with the Bloom rationale (id is LONG here so
    // the unsafe gate fires first on same-family-no-op; spell a real
    // widening attempt through a fresh int-keyed store)
    val base2 = java.nio.file.Files.createTempDirectory("wc_key")
    val root2 = base2.resolve("t")
    (1 to 40).map(i => (i, s"d${i % 2}", i.toLong))
      .toDF("k", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "day")
      .mode("append").save(root2.toString)
    val cat2 = "wckey"
    spark.conf.set(s"spark.sql.catalog.$cat2",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat2.warehouse", base2.toString)
    val eKey = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat2.`t` ALTER COLUMN k TYPE BIGINT")
    }
    assert(eKey.getMessage.contains("key column"), eKey.getMessage)
  }

  test("decimal precision growth serves PRE-widening decimal DATA " +
    "exactly, and wide decimals insert afterwards") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("wc_dec")
    val root = base.resolve("t")
    (1L to 90L).map(id => (id, s"d${id % 3}", BigDecimal(id) / 4))
      .toDF("id", "day", "d")
      .selectExpr("id", "day", "CAST(d AS DECIMAL(10,2)) AS d")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                          // v1
    val cat = "wcdec"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    spark.sql(s"ALTER TABLE $cat.`t` ALTER COLUMN d TYPE DECIMAL(20,2)")
    // pre-widening files (physical DECIMAL(10,2)) read under (20,2):
    // sum of id/4 at 2 dp — every addend exact
    val preSum = spark.sql(s"SELECT SUM(d) AS s FROM $cat.`t`").head()
      .getDecimal(0)
    assert(preSum.compareTo(new java.math.BigDecimal("1023.75")) === 0,
      s"pre-widening decimal data must read exactly, got $preSum")
    // a value needing 20 digits of precision inserts post-widening
    spark.sql(s"INSERT INTO $cat.`t` VALUES " +
      "(200L, 'd0', CAST('123456789012345678.25' AS DECIMAL(20,2)), 'd0')")
    val got = spark.sql(s"SELECT SUM(d) AS s FROM $cat.`t`").head()
      .getDecimal(0)
    assert(got.compareTo(
      new java.math.BigDecimal("123456789012346702.00")) === 0,
      s"got $got")
  }

  test("a widening delta carrying a layout MIRROR name refuses " +
    "(it would publish a #schema colliding with the partition plane)") {
    import spark.implicits._
    val (root, _) = freshStore("wc_mirror")
    val e = intercept[Exception] {
      Seq((300L, "d0", 1, 1.0f, "d0"))
        .toDF("id", "day", "n", "x", "day_p")
        .write.format("graft-snapshot")
        .option("keyCol", "id").option("partCol", "day")
        .mode("append").save(root.toString)
    }
    assert(e.getMessage.contains("MIRROR"), e.getMessage)
  }

  test("widening a RENAMED column composes: old footers carry the " +
    "FORMER name at the narrow physical type, read upcast under the " +
    "current name") {
    import spark.implicits._
    val (root, cat) = freshStore("wc_ren")
    spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN n TO cnt")      // v2
    spark.sql(s"ALTER TABLE $cat.`t` ALTER COLUMN cnt TYPE BIGINT") // v3
    // post-both upsert: wide value under the NEW name; d0's kept rows
    // rewrite post-rename/post-widening, d1/d2 keep files whose
    // footers say `n` (int32)
    Seq((200L, "d0", 10_000_000_000L, 0.5f))
      .toDF("id", "day", "cnt", "x")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                          // v4
    // both doors: the coalesce fold reads footer `n` (int32) AND
    // footer `cnt` (int64) into one declared BIGINT `cnt`
    val df = SnapshotTable.read(spark, root, 4)
    assert(df.schema("cnt").dataType.simpleString === "bigint")
    assert(df.agg(sum(col("cnt"))).head().getLong(0) ===
      (1L to 120L).sum + 10_000_000_000L)
    assert(spark.sql(s"SELECT CAST(SUM(cnt) AS BIGINT) AS s " +
      s"FROM $cat.`t` WHERE cnt > 100").head().getLong(0) ===
      (101L to 120L).sum + 10_000_000_000L)
  }

  test("the widened schema survives vacuum and serves time travel") {
    import spark.implicits._
    val (root, cat) = freshStore("wc_vac")
    spark.sql(s"ALTER TABLE $cat.`t` ALTER COLUMN n TYPE BIGINT")  // v2
    Seq((200L, "d0", 10_000_000_000L, 0.5))
      .toDF("id", "day", "n", "x")
      .withColumn("x", col("x").cast("float"))
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                          // v3
    SnapshotTxn.snapshotVacuum(root, Set(3))
    val meta = SnapshotMeta.read(root).get
    assert(SnapshotManifest.effectiveDataSchema(root, meta.dataSchema)
      ("n").dataType.simpleString === "bigint",
      "vacuum lost the widening overlay")
    assert(SnapshotTable.read(spark, root, 3)
      .agg(sum(col("n"))).head().getLong(0) ===
      (1L to 120L).sum + 10_000_000_000L)
  }
}
