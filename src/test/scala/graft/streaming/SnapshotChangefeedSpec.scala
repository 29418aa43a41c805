package graft.streaming

import graft.sources.SnapshotTxn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
import graft.operators.SourceQueries

/** Pins the `graft-snapshot` STREAMING arm (the changefeed source):
  *
  *  1. full-feed parity — the stream's change rows (post-image,
  *     pre-image, change_type: the Delta-CDF row shape) are exactly
  *     the batch CDC (v1 base as inserts + per-version `changeRows`);
  *  2. version-offset RESTART — a new query resuming from the same
  *     checkpoint processes only versions committed since the last
  *     incarnation (the lakehouse CDF contract: exactly-once per
  *     version across restarts);
  *  3. `fromVersion` scoping — a consumer can subscribe from the
  *     middle of history.
  */
class SnapshotChangefeedSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): java.io.File = {
    val f = new java.io.File(s"target/graft-io/cdf_spec/$name")
    org.apache.commons.io.FileUtils.deleteDirectory(f)
    f.mkdirs()
    f
  }

  /** Drain the changefeed at `root` into parquet `outDir` with `chk`
    * as checkpoint; returns rows this incarnation actually processed.
    */
  private def drainOnce(root: String, outDir: String, chk: String,
                        fromVersion: Int = 1): Long = {
    val q = spark.readStream.format("graft-snapshot")
      .option("fromVersion", fromVersion.toString)
      .load(root)
      .writeStream
      .format("parquet")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start(outDir)
    q.awaitTermination()
    val n = q.recentProgress.map(_.numInputRows).sum
    spark.streams.resetTerminated()
    n
  }

  private def frame(rows: Seq[(Long, String, Double)], month: String) =
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_ym", lit(month))

  private type Change =
    (Int, Long, Option[Double], Option[Double], String, Int)

  private def changes(df: org.apache.spark.sql.DataFrame): Seq[Change] =
    df.select("version", "k", "price", "old_price", "change_type", "alive")
      .collect().map(r => (r.getInt(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        r.getString(4), r.getInt(5)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("a branch's changefeed streams its staged versions — main's " +
    "feed never sees them") {
    val root = freshDir("branch_cdf").toPath.resolve("store")
    frame(Seq((1L, "O", 10.0)), "2024-01")
      .write.format("graft-snapshot")
      .option("keyCol", "o_orderkey").option("partCol", "o_ym")
      .mode("append").save(root.toString)
    SnapshotTxn.snapshotBranchCreate(root, "stage")
    frame(Seq((2L, "O", 20.0)), "2024-01")
      .write.format("graft-snapshot").option("branch", "stage")
      .option("keyCol", "o_orderkey").option("partCol", "o_ym")
      .mode("append").save(root.toString)
    // the branch feed: base insert + the staged upsert's insert
    val bq = spark.readStream.format("graft-snapshot")
      .option("branch", "stage").load(root.toString)
    val bout = freshDir("branch_cdf_out")
    val bchk = freshDir("branch_cdf_chk")
    bq.writeStream.format("parquet").outputMode(OutputMode.Append())
      .option("checkpointLocation", bchk.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start(bout.getAbsolutePath).awaitTermination()
    spark.streams.resetTerminated()
    val br = changes(spark.read.parquet(bout.getAbsolutePath))
    assert(br.map(c => (c._1, c._2, c._5)).toSet ===
      Set((1, 1L, "insert"), (2, 2L, "insert")),
      s"branch feed: $br")
    // main's feed stops at its own head — the staged version is absent
    val mout = freshDir("branch_cdf_main_out")
    val mchk = freshDir("branch_cdf_main_chk")
    drainOnce(root.toString, mout.getAbsolutePath, mchk.getAbsolutePath)
    val mr = changes(spark.read.parquet(mout.getAbsolutePath))
    assert(mr.map(c => (c._1, c._2, c._5)) === Seq((1, 1L, "insert")),
      s"main feed must not leak staged versions: $mr")
  }

  test("streamed feed equals the batch CDC, version by version") {
    val root = SourceQueries.snapshotFixture(spark, sf0001)
    val out = freshDir("parity_out")
    val chk = freshDir("parity_chk")
    drainOnce(root.toString, out.getAbsolutePath, chk.getAbsolutePath)
    val got = changes(spark.read.parquet(out.getAbsolutePath))

    val base = SnapshotTxn.snapshotRead(spark, root, 1)
      .select(lit(1).as("version"), col("o_orderkey").as("k"),
        col("o_totalprice").as("price"),
        lit(null).cast("double").as("old_price"),
        lit("insert").as("change_type"), lit(1).as("alive"))
    def cdc(vFrom: Int, vTo: Int) =
      SnapshotTxn.changeRows(spark, root, vFrom, vTo)
        .select(lit(vTo).as("version"), col("k"),
          col("price").cast("double").as("price"),
          col("old_price").cast("double").as("old_price"),
          col("change_type"), col("alive"))
    val expect = changes(base.unionByName(cdc(1, 2)).unionByName(cdc(2, 3)))
    assert(got === expect)
    assert(got.nonEmpty)
    // the delete commit must appear as pre-image-only rows
    assert(got.exists(t => t._1 === 3 && t._5 === "delete" &&
      t._3.isEmpty && t._4.nonEmpty))
    // the merge commit must carry both images on its updates
    assert(got.exists(t => t._1 === 2 && t._5 === "update" &&
      t._3.nonEmpty && t._4.nonEmpty))
  }

  test("restart resumes from the committed version offset") {
    val root = freshDir("restart_store").getAbsolutePath
    val out = freshDir("restart_out")
    val chk = freshDir("restart_chk")

    frame(Seq((1L, "O", 10.0), (2L, "O", 20.0), (3L, "F", 30.0)), "2024-01")
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root)
    val seen1 = drainOnce(root, out.getAbsolutePath, chk.getAbsolutePath)
    assert(seen1 === 3, s"incarnation 1 must stream v1's 3 inserts, got $seen1")

    // two more commits land while the consumer is down
    frame(Seq((2L, "O", 99.0), (9L, "P", 5.0)), "2024-01")
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root)
    frame(Seq((1L, "O", 10.0)), "2024-01")
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append")
      .option("commitMode", "delete").save(root)

    val seen2 = drainOnce(root, out.getAbsolutePath, chk.getAbsolutePath)
    assert(seen2 === 3,
      s"restart must stream ONLY v2 (update+insert) and v3 (delete): " +
        s"expected 3 change rows, got $seen2 — a re-emit of v1 means the " +
        "version offset was ignored")

    val rows = changes(spark.read.parquet(out.getAbsolutePath)).toSet
    assert(rows === Set[Change](
      (1, 1L, Some(10.0), None, "insert", 1),
      (1, 2L, Some(20.0), None, "insert", 1),
      (1, 3L, Some(30.0), None, "insert", 1),
      (2, 2L, Some(99.0), Some(20.0), "update", 1),
      (2, 9L, Some(5.0), None, "insert", 1),
      (3, 1L, None, Some(10.0), "delete", 0)))
  }

  test("fromVersion subscribes from the middle of history") {
    val root = SourceQueries.snapshotFixture(spark, sf0001)
    val out = freshDir("fromv_out")
    val chk = freshDir("fromv_chk")
    drainOnce(root.toString, out.getAbsolutePath, chk.getAbsolutePath,
      fromVersion = 3)
    val got = spark.read.parquet(out.getAbsolutePath)
    assert(got.select(min(col("version"))).head().getInt(0) === 3)
    val expected = SnapshotTxn.changeRows(spark, root, 2, 3).count()
    assert(got.count() === expected)
  }

  test("NULL-to-value and value-to-NULL updates are not dropped") {
    val root = freshDir("null_store").getAbsolutePath
    def nf(rows: Seq[(Long, Option[Double])]) =
      rows.toDF("o_orderkey", "o_totalprice")
        .withColumn("o_orderstatus", lit("O"))
        .withColumn("o_ym", lit("2024-01"))
    nf(Seq((1L, None), (2L, Some(2.0))))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root)
    // key 1: NULL -> 5.0; key 2: 2.0 -> NULL — a null-unsafe =!= would
    // drop BOTH rows from the changefeed
    nf(Seq((1L, Some(5.0)), (2L, None)))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root)
    val cdc = SnapshotTxn.changeRows(spark,
        java.nio.file.Paths.get(root), 1, 2)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        r.getString(3))).toSet
    assert(cdc === Set(
      (1L, Some(5.0), None, "update"),
      (2L, None, Some(2.0), "update")))
  }

  test("fromVersion = 0 is refused with a clear error") {
    val root = SourceQueries.snapshotFixture(spark, sf0001)
    val e = intercept[Exception] {
      spark.readStream.format("graft-snapshot")
        .option("fromVersion", "0").load(root.toString)
        .writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e.getMessage.contains("fromVersion") ||
      Option(e.getCause).exists(_.getMessage.contains("fromVersion")))
    spark.streams.resetTerminated()
  }

  test("a CDF consumer maintains an MV incrementally, exactly") {
    val got = SourceQueries.streamingCdfMv(spark, sf0001).head()
    val v3 = SnapshotTxn.snapshotRead(
      spark, SourceQueries.snapshotFixture(spark, sf0001), 3)
    val expect = v3.agg(count(lit(1)).cast("bigint"),
      sum(round(col("o_totalprice") * lit(1000000L)).cast("bigint"))
        .cast("bigint")).head()
    assert(got.getLong(0) === expect.getLong(0))
    assert(got.getLong(1) === expect.getLong(1),
      "the per-key micro-quantized deltas did not telescope to the head")
  }
}
