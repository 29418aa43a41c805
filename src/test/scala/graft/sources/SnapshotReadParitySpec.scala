package graft.sources

import java.nio.file.{Path => JPath}
import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** One read plane, checked against a model: every store shape the
  * doors serve, at every version, reads back exactly the rows a
  * `Map[key, row]` built from the commit inputs holds.
  *
  *  - `SnapshotTable.read` and `spark.read.format("graft-snapshot")`
  *    (the DataFrame door) serve a version under the HEAD's folded data
  *    schema: a later rename reads under the new name, a later widening
  *    at the wide type, a later drop without the column;
  *  - `spark.sql … VERSION AS OF v` (the SQL door) serves the version's
  *    own folded data schema.
  *
  * Data schemas compare by name and type, layout mirrors (`*_p`)
  * excluded; rows compare as sets over the model's columns.
  */
class SnapshotReadParitySpec extends SparkSpec {
  import spark.implicits._

  private type Model = Map[Long, Seq[Any]]

  private def freshCat(name: String): (JPath, String) = {
    val base = java.nio.file.Files.createTempDirectory(name)
    val cat = name.replaceAll("[^A-Za-z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (base, cat)
  }

  private def dataFields(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.filterNot(_.name.endsWith("_p"))
      .map(f => f.name -> f.dataType)

  private def rows(df: DataFrame, cols: Seq[(String, DataType)])
      : Set[Seq[Any]] =
    df.select(cols.map { case (n, _) => col(n) }: _*).collect()
      .map(_.toSeq).toSet

  private def door(root: JPath, v: Int, opts: Map[String, String] = Map.empty)
      : DataFrame =
    spark.read.format("graft-snapshot").options(opts)
      .option("version", v.toString).load(root.toString)

  /** Both DataFrame doors at `v` serve `model` under `head`; the SQL
    * door serves the same rows under `folded`, reading each head
    * column under `sqlName` and comparing at the head's type.
    * `viaFormat = false` checks `SnapshotTable.read` alone.
    */
  private def check(root: JPath, table: String, v: Int, model: Model,
      head: Seq[(String, DataType)], folded: Seq[(String, DataType)],
      sqlName: String => String = identity,
      viaFormat: Boolean = true): Unit = {
    val want = model.values.toSet
    val doors = Seq("SnapshotTable.read" -> SnapshotTable.read(spark, root, v)) ++
      (if (viaFormat) Seq("format" -> door(root, v)) else Nil)
    for ((name, df) <- doors) {
      assert(dataFields(df) === head, s"$name v$v schema")
      assert(rows(df, head) === want, s"$name v$v rows")
      assert(df.count() === model.size.toLong, s"$name v$v count")
    }
    val sql = spark.sql(s"SELECT * FROM $table VERSION AS OF $v")
    assert(dataFields(sql) === folded, s"SQL v$v schema")
    val asHead = sql.select(head.map { case (n, t) =>
      col(sqlName(n)).cast(t).as(n) }: _*)
    assert(rows(asHead, head) === want, s"SQL v$v rows")
  }

  private val kvy = Seq("k" -> LongType, "s" -> StringType,
    "v" -> DoubleType, "ym" -> StringType)

  private def save(root: JPath, df: DataFrame, mode: String = "upsert",
                   opts: Map[String, String] = Map.empty): Unit =
    df.write.format("graft-snapshot").options(opts)
      .option("keyCol", "k").option("partCol", "ym")
      .option("commitMode", mode).mode("append").save(root.toString)

  private def kvyFrame(rs: Seq[(Long, String, Double, String)]): DataFrame =
    rs.toDF("k", "s", "v", "ym")

  private def asModel(rs: Seq[(Long, String, Double, String)]): Model =
    rs.map(r => r._1 -> Seq[Any](r._1, r._2, r._3, r._4)).toMap

  private val base12: Seq[(Long, String, Double, String)] =
    (1L to 12L).map(k => (k, s"s$k", k.toDouble, s"2024-0${k % 3 + 1}"))

  test("plain partitioned: upsert and delete versions") {
    val (base, cat) = freshCat("par_plain")
    val root = base.resolve("t")
    val up = Seq((2L, "s2b", 20.0, "2024-03"), (20L, "s20", 20.5, "2024-04"))
    save(root, kvyFrame(base12))                                  // v1
    save(root, kvyFrame(up))                                      // v2
    save(root, kvyFrame(Seq((3L, "", 0.0, "2024-01"))), "delete") // v3
    val m1 = asModel(base12)
    val m2 = m1 ++ asModel(up)
    val m3 = m2 - 3L
    for ((v, m) <- Seq(1 -> m1, 2 -> m2, 3 -> m3))
      check(root, s"$cat.`t`", v, m, kvy, kvy)
  }

  test("hidden transform: days and bucket mirrors") {
    val (base, cat) = freshCat("par_hidden")
    spark.sql(
      s"""CREATE TABLE $cat.`hp` (id BIGINT, d DATE, v DOUBLE)
         |PARTITIONED BY (days(d), bucket(4, id))
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)   // v1
    val root = base.resolve("hp")
    val src = (1L to 40L).map(i =>
      (i, Date.valueOf(f"2024-01-${i % 5 + 1}%02d"), i.toDouble))
    src.toDF("id", "d", "v").createOrReplaceTempView("par_hidden_src")
    spark.sql(s"INSERT INTO $cat.`hp` SELECT * FROM par_hidden_src") // v2
    // INSERT upserts by key within the partitions it touches: key 7
    // keeps its day (and, by its id, its bucket)
    spark.sql(s"INSERT INTO $cat.`hp` VALUES " +
      "(7, DATE'2024-01-03', 70.0), (41, DATE'2024-01-02', 41.0)")  // v3
    spark.sql(s"DELETE FROM $cat.`hp` WHERE id = 11")                // v4
    val cols = Seq("id" -> LongType, "d" -> DateType, "v" -> DoubleType)
    val m2: Model = src.map(r => r._1 -> Seq[Any](r._1, r._2, r._3)).toMap
    val m3 = m2 + (7L -> Seq[Any](7L, Date.valueOf("2024-01-03"), 70.0)) +
      (41L -> Seq[Any](41L, Date.valueOf("2024-01-02"), 41.0))
    val m4 = m3 - 11L
    for ((v, m) <- Seq(1 -> Map.empty[Long, Seq[Any]], 2 -> m2, 3 -> m3,
        4 -> m4))
      check(root, s"$cat.`hp`", v, m, cols, cols)
  }

  test("rename history: old versions read under the head's names") {
    val (base, cat) = freshCat("par_rename")
    val root = base.resolve("t")
    save(root, kvyFrame(base12))                                  // v1
    spark.sql(s"ALTER TABLE $cat.`t` RENAME COLUMN s TO label")   // v2
    val up = Seq((4L, "L4", 40.0, "2024-02"), (30L, "L30", 3.0, "2024-01"))
    save(root, up.toDF("k", "label", "v", "ym"))                  // v3
    val head = Seq("k" -> LongType, "label" -> StringType,
      "v" -> DoubleType, "ym" -> StringType)
    val m1 = asModel(base12)
    val m3 = m1 ++ asModel(up)
    def old(n: String) = if (n == "label") "s" else n
    check(root, s"$cat.`t`", 1, m1, head, kvy, old)
    check(root, s"$cat.`t`", 2, m1, head, head)
    check(root, s"$cat.`t`", 3, m3, head, head)
  }

  test("widened column: old versions read at the wide type") {
    val (base, cat) = freshCat("par_widen")
    val root = base.resolve("t")
    val rs = (1L to 9L).map(k => (k, k.toInt * 10, s"2024-0${k % 3 + 1}"))
    rs.toDF("k", "n", "ym").write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "ym")
      .mode("append").save(root.toString)                         // v1
    spark.sql(s"ALTER TABLE $cat.`t` ALTER COLUMN n TYPE BIGINT") // v2
    Seq((2L, 5000000000L, "2024-03")).toDF("k", "n", "ym")
      .write.format("graft-snapshot").option("partCol", "ym")
      .mode("append").save(root.toString)                         // v3
    val narrow = Seq("k" -> LongType, "n" -> IntegerType, "ym" -> StringType)
    val wide = Seq("k" -> LongType, "n" -> LongType, "ym" -> StringType)
    val m1: Model = rs.map(r => r._1 -> Seq[Any](r._1, r._2.toLong, r._3)).toMap
    val m3 = m1 + (2L -> Seq[Any](2L, 5000000000L, "2024-03"))
    check(root, s"$cat.`t`", 1, m1, wide, narrow)
    check(root, s"$cat.`t`", 2, m1, wide, wide)
    check(root, s"$cat.`t`", 3, m3, wide, wide)
  }

  test("dropped column: old versions read without it") {
    val (base, cat) = freshCat("par_drop")
    val root = base.resolve("t")
    save(root, kvyFrame(base12))                                  // v1
    spark.sql(s"ALTER TABLE $cat.`t` DROP COLUMN s")              // v2
    val up = Seq((5L, 55.0, "2024-03"), (31L, 31.0, "2024-02"))
    save(root, up.toDF("k", "v", "ym"))                           // v3
    val head = Seq("k" -> LongType, "v" -> DoubleType, "ym" -> StringType)
    val m1: Model = base12.map(r => r._1 -> Seq[Any](r._1, r._3, r._4)).toMap
    val m3 = m1 ++ up.map(r => r._1 -> Seq[Any](r._1, r._2, r._3))
    check(root, s"$cat.`t`", 1, m1, head, kvy)
    check(root, s"$cat.`t`", 2, m1, head, head)
    check(root, s"$cat.`t`", 3, m3, head, head)
  }

  test("merge-on-read: live #delete and #upsert records, pushed COUNT(*)") {
    val (base, cat) = freshCat("par_mor")
    spark.sql(
      s"""CREATE TABLE $cat.`t` (id BIGINT, day STRING, v DOUBLE, day_p STRING)
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id',
         |               'delete_mode' = 'merge-on-read')""".stripMargin) // v1
    val root = base.resolve("t")
    spark.sql(s"INSERT INTO $cat.`t` SELECT id, concat('d', id % 3), " +
      "CAST(id AS DOUBLE), concat('d', id % 3) FROM range(1, 31)")   // v2
    spark.sql(s"DELETE FROM $cat.`t` WHERE id = 3")                  // v3
    spark.sql(s"UPDATE $cat.`t` SET v = -1.0 WHERE id = 9")          // v4
    assert(SnapshotManifest.deleteRecords(root, 4).nonEmpty)
    assert(SnapshotManifest.upsertRecords(root, 4).nonEmpty)
    val cols = Seq("id" -> LongType, "day" -> StringType, "v" -> DoubleType)
    val m2: Model = (1L to 30L).map(i =>
      i -> Seq[Any](i, s"d${i % 3}", i.toDouble)).toMap
    val m3 = m2 - 3L
    val m4 = m3 + (9L -> Seq[Any](9L, "d0", -1.0))
    for ((v, m) <- Seq(1 -> Map.empty[Long, Seq[Any]], 2 -> m2, 3 -> m3,
        4 -> m4))
      check(root, s"$cat.`t`", v, m, cols, cols)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      for (v <- 3 to 4) {
        val n = if (v == 3) m3.size else m4.size
        val sql = spark.sql(s"SELECT COUNT(*) FROM $cat.`t` VERSION AS OF $v")
        assert(sql.queryExecution.executedPlan.toString
          .contains("PushedAggregation: [COUNT(*)]"))
        assert(sql.head().getLong(0) === n.toLong, s"SQL COUNT(*) v$v")
        assert(SnapshotTable.read(spark, root, v).count() === n.toLong)
        assert(door(root, v).count() === n.toLong)
        // day d0 holds keys 3, 6, …, 30: key 3 is deleted, key 9 stays
        assert(door(root, v).filter(col("day_p") === "d0").count() === 9L)
      }
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
  }

  test("unmigrated spec-evolved: both layouts under the current spec") {
    val (base, cat) = freshCat("par_evolved")
    val root = base.resolve("t")
    val rs = (1L to 30L).map(id => (id, s"t${id % 2}", s"d${id % 3}",
      id.toDouble))
    rs.toDF("id", "etype", "day", "v").write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                         // v1
    spark.sql(s"CALL $cat.evolve_partitioning('t', 'etype')")     // v2
    val up = Seq((3L, "t1", "d0", 1003.0), (200L, "t0", "d0", 1200.0))
    up.toDF("id", "etype", "day", "v").write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)                         // v3
    assert(SnapshotTable.hasOldSpecEntries(root, 3))
    val cols = Seq("id" -> LongType, "etype" -> StringType,
      "day" -> StringType, "v" -> DoubleType)
    val m1: Model = rs.map(r => r._1 -> Seq[Any](r._1, r._2, r._3, r._4)).toMap
    val m3 = m1 ++ up.map(r => r._1 -> Seq[Any](r._1, r._2, r._3, r._4))
    // every version holds entries of the old layout; the format door's
    // multi-layout read is checked in SnapshotPartSpecEvolutionSpec
    for ((v, m) <- Seq(1 -> m1, 2 -> m1, 3 -> m3))
      check(root, s"$cat.`t`", v, m, cols, cols, viaFormat = false)
    // the appended mirror derives from its source on the old arm
    for (v <- 1 to 3) {
      val df = SnapshotTable.read(spark, root, v).filter(col("etype_p") === "t0")
      assert(df.columns.toSeq ===
        Seq("id", "etype", "day", "v", "day_p", "etype_p"))
      assert(rows(df, cols) ===
        (if (v == 3) m3 else m1).values.filter(_(1) == "t0").toSet)
    }
  }

  test("a branch: its own chain through both DataFrame doors") {
    val (base, cat) = freshCat("par_branch")
    val root = base.resolve("t")
    save(root, kvyFrame(base12))                                  // main v1
    spark.sql(s"CALL $cat.branch('t', 'dev')")
    val up = Seq((1L, "b1", 100.0, "2024-02"), (50L, "b50", 5.0, "2024-05"))
    save(root, kvyFrame(up), opts = Map("branch" -> "dev"))
    val broot = SnapshotBranches.root(root, "dev")
    val bv = SnapshotManifest.head(broot)
    val main = asModel(base12)
    val dev = main ++ asModel(up)
    assert(rows(SnapshotTable.read(spark, broot, bv), kvy) === dev.values.toSet)
    val viaDoor = door(root, bv, Map("branch" -> "dev"))
    assert(dataFields(viaDoor) === kvy)
    assert(rows(viaDoor, kvy) === dev.values.toSet)
    assert(rows(spark.read.format("graft-snapshot").option("branch", "dev")
      .load(root.toString), kvy) === dev.values.toSet)
    assert(rows(spark.sql(s"SELECT * FROM $cat.`t` VERSION AS OF 'dev'"),
      kvy) === dev.values.toSet)
    check(root, s"$cat.`t`", 1, main, kvy, kvy)
  }

  test("Bloom-keyed point lookup: pruned and exact on both doors") {
    val (base, cat) = freshCat("par_bloom")
    val root = base.resolve("t")
    val rs = (1L to 400L).map(k =>
      (k, s"s$k", k.toDouble, s"2024-${"%02d".format(k % 8 + 1)}"))
    val bloom = Map("bloomKey" -> "k")
    save(root, kvyFrame(rs), opts = bloom)                        // v1
    val up = Seq((77L, "s77b", 7.7, "2024-06"), (401L, "s401", 4.0, "2024-02"))
    save(root, kvyFrame(up), opts = bloom)                        // v2
    val keys = Seq(3L, 77L, 202L, 401L)
    for ((v, m) <- Seq(1 -> asModel(rs), 2 -> (asModel(rs) ++ asModel(up)))) {
      val want = m.filter(e => keys.contains(e._1)).values.toSet
      for (df <- Seq(SnapshotTable.read(spark, root, v, Some("k")),
          door(root, v, bloom))) {
        val q = df.filter(col("k").isin(keys: _*))
        assert(rows(q, kvy) === want, s"v$v lookup rows")
        val idx = SnapshotTable.fileIndexOf(q)
        assert(idx.lastListing._2 < idx.inputFiles.length,
          s"v$v lookup did not skip: ${idx.lastListing}")
      }
      check(root, s"$cat.`t`", v, m, kvy, kvy)
    }
  }

  test("copy-on-write UPDATE and rewrite-DELETE keep the rows of files " +
    "their predicate's min/max excludes") {
    val (base, cat) = freshCat("par_cow")
    spark.sql(
      s"""CREATE TABLE $cat.`t` (id BIGINT, day STRING, v DOUBLE, day_p STRING)
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id')""".stripMargin)       // v1
    val root = base.resolve("t")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try spark.sql(s"INSERT INTO $cat.`t` SELECT id, concat('d', id % 2), " +
      "CAST(id AS DOUBLE), concat('d', id % 2) FROM range(1, 81)")    // v2
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    // key-clustered files: each holds one id range of its partition
    spark.sql(s"CALL $cat.compact('t', 2, 4)")                        // v3
    val v = SnapshotManifest.head(root)
    val cols = Seq("id" -> LongType, "day" -> StringType, "v" -> DoubleType)
    val m: Model = (1L to 80L).map(i =>
      i -> Seq[Any](i, s"d${i % 2}", i.toDouble)).toMap
    check(root, s"$cat.`t`", v, m, cols, cols)
    // the fixture: id = 7's min/max excludes some files of day d1
    val lookup = SnapshotTable.read(spark, root, v)
      .filter(col("day_p") === "d1" && col("id") === 7L)
    assert(lookup.count() === 1L)
    val (parts, files) = SnapshotTable.fileIndexOf(lookup).lastListing
    assert(parts === 1 &&
      files < SnapshotFiles.read(root, v)("d1").length,
      s"min/max must exclude files of d1: listed $files")
    spark.sql(s"UPDATE $cat.`t` SET v = -1.0 WHERE id = 7")
    spark.sql(s"DELETE FROM $cat.`t` WHERE id * 2 = 16")
    val after = m + (7L -> Seq[Any](7L, "d1", -1.0)) - 8L
    check(root, s"$cat.`t`", SnapshotManifest.head(root), after, cols, cols)
  }
}
