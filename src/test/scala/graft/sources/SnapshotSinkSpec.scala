package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Pins the streaming arm of the `graft-snapshot` write door
  * ([[SnapshotSink]]): one CAS-committed version per micro-batch,
  * exactly-once under engine batch replay (the `#txn` manifest marker,
  * atomic with the commit), checkpointed restart resume, and the
  * manifest metadata-line format staying invisible to every reader.
  */
class SnapshotSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase() = {
    val r = Paths.get("target/graft-io/sink_spec",
      java.util.UUID.randomUUID.toString.take(8))
    Files.createDirectories(r)
    r
  }

  private def frame(rows: Seq[(Long, String, Double)]) =
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_ym", lit("2024-01"))

  private def stateOf(root: java.nio.file.Path): Set[(Long, Double)] =
    SnapshotTable.read(spark, root, SnapshotManifest.head(root))
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("replayed batch ids are idempotent: the txn marker skips them") {
    val root = freshBase().resolve("store")
    val params = Map("path" -> root.toString, "txnAppId" -> "spec-app",
      "keyCol" -> "o_orderkey", "partCol" -> "o_ym")
    val sink = new SnapshotSink(spark, params)
    val b0 = frame(Seq((1L, "O", 10.0), (2L, "O", 20.0)))
    val b1 = frame(Seq((2L, "O", 99.0)))

    sink.addBatch(0, b0)
    assert(SnapshotManifest.head(root) === 1)
    // the engine re-delivers batch 0 after a crash-before-ack: the
    // commit must NOT re-run (head stays, state stays)
    sink.addBatch(0, b1)
    assert(SnapshotManifest.head(root) === 1)
    assert(stateOf(root) === Set((1L, 10.0), (2L, 20.0)))
    // the next real batch commits
    sink.addBatch(1, b1)
    assert(SnapshotManifest.head(root) === 2)
    assert(stateOf(root) === Set((1L, 10.0), (2L, 99.0)))
    // replay watermark survives other-writer interleaving: a batch-door
    // commit (no txn record) bumps the head, then a replay of batch 1
    // must STILL be skipped — the marker scan is max-over-versions,
    // not head-only
    frame(Seq((7L, "N", 7.0))).write.format("graft-snapshot")
      .mode("append").save(root.toString)
    assert(SnapshotManifest.head(root) === 3)
    sink.addBatch(1, b0)
    assert(SnapshotManifest.head(root) === 3)
    assert(SnapshotManifest.lastTxnBatch(root, "spec-app") === Some(1L))
    // a different app's marker namespace is independent
    assert(SnapshotManifest.lastTxnBatch(root, "other-app") === None)
  }

  test("a vacuumed store stays writable: the marker scan skips gaps") {
    val root = freshBase().resolve("store")
    val sink = new SnapshotSink(spark,
      Map("path" -> root.toString, "txnAppId" -> "vac-app",
        "keyCol" -> "o_orderkey", "partCol" -> "o_ym"))
    sink.addBatch(0, frame(Seq((1L, "O", 10.0))))
    sink.addBatch(1, frame(Seq((2L, "O", 20.0))))
    sink.addBatch(2, frame(Seq((3L, "F", 30.0))))
    // retention sweep drops v1/v2 (and their manifests) — the classic
    // vacuum; the sink must neither crash on the gap nor regress its
    // replay watermark below the retained commits. The expiring
    // manifests carry #txn markers, so vacuum publishes ONE normalize
    // version (v4) re-basing the per-app watermark fold — the reason a
    // marker that lived ONLY in an expired manifest can't be lost
    // (SnapshotVacuumMetadataSpec pins that interleaved-writer case).
    SnapshotTxn.snapshotVacuum(root, Set(3))
    assert(!root.resolve("manifests").resolve("v1.manifest")
      .toFile.exists())
    assert(SnapshotManifest.head(root) === 4)
    assert(SnapshotManifest.lastTxnBatch(root, "vac-app") === Some(2L))
    sink.addBatch(2, frame(Seq((9L, "X", 9.0)))) // replay: skipped
    assert(SnapshotManifest.head(root) === 4)
    sink.addBatch(3, frame(Seq((4L, "P", 40.0)))) // next: commits
    assert(SnapshotManifest.head(root) === 5)
    assert(stateOf(root) ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
  }

  test("watermark namespaces: explicit or checkpoint-derived, never " +
    "shared; prefix appIds don't collide") {
    val base = freshBase()
    val root = base.resolve("store")
    // no txnAppId and no checkpointLocation: refuse rather than share
    // a default namespace that would swallow other writers' batches
    val e = intercept[IllegalArgumentException] {
      new SnapshotSink(spark, Map("path" -> root.toString))
    }
    assert(e.getMessage.contains("txnAppId"))
    // checkpoint-derived id: stable for one query, distinct per query
    val sink = new SnapshotSink(spark, Map("path" -> root.toString,
      "checkpointLocation" -> base.resolve("chk").toString,
      "keyCol" -> "o_orderkey", "partCol" -> "o_ym"))
    sink.addBatch(0, frame(Seq((1L, "O", 10.0))))
    val chkApp = base.resolve("chk").toString
    assert(SnapshotManifest.lastTxnBatch(root, chkApp) === Some(0L))
    // an appId CONTAINING colons parses by the LAST colon, and an
    // appId that is a PREFIX of another must not claim its batches
    val nested = new SnapshotSink(spark, Map("path" -> root.toString,
      "txnAppId" -> "team:ingest",
      "keyCol" -> "o_orderkey", "partCol" -> "o_ym"))
    nested.addBatch(7, frame(Seq((2L, "O", 20.0))))
    assert(SnapshotManifest.lastTxnBatch(root, "team:ingest") === Some(7L))
    assert(SnapshotManifest.lastTxnBatch(root, "team") === None)
  }

  test("txn metadata lines stay invisible to manifest readers") {
    val root = freshBase().resolve("store")
    val sink = new SnapshotSink(spark,
      Map("path" -> root.toString, "txnAppId" -> "spec-app",
        "keyCol" -> "o_orderkey", "partCol" -> "o_ym"))
    sink.addBatch(0, frame(Seq((1L, "O", 10.0))))
    val lines = Files.readAllLines(
      root.resolve("manifests").resolve("v1.manifest"))
    assert(lines.get(0) === "#txn\tspec-app:0")
    // every consumer parses the same manifest: partition map, batch
    // read, connector read
    assert(SnapshotManifest.read(root, 1).keySet === Set("2024-01"))
    assert(stateOf(root) === Set((1L, 10.0)))
    assert(spark.read.format("graft-snapshot").load(root.toString)
      .count() === 1L)
  }

  test("the sink lands on a branch: staged micro-batches never touch " +
    "main until fastforward, replay namespace lives with the branch") {
    val root = freshBase().resolve("store")
    frame(Seq((1L, "O", 10.0))).write.format("graft-snapshot")
      .option("keyCol", "o_orderkey").option("partCol", "o_ym")
      .mode("append").save(root.toString)
    SnapshotTxn.snapshotBranchCreate(root, "stream")
    val params = Map("path" -> root.toString, "branch" -> "stream",
      "txnAppId" -> "br-app", "keyCol" -> "o_orderkey",
      "partCol" -> "o_ym")
    val sink = new SnapshotSink(spark, params)
    sink.addBatch(0, frame(Seq((2L, "O", 20.0))))
    sink.addBatch(1, frame(Seq((1L, "O", 11.0))))
    // replay of batch 1 is skipped via the BRANCH's txn watermark
    sink.addBatch(1, frame(Seq((9L, "X", 99.0))))
    assert(SnapshotManifest.head(root) === 1, "main must not advance")
    assert(stateOf(root) === Set((1L, 10.0)))
    val broot = SnapshotBranches.root(root, "stream")
    assert(SnapshotManifest.head(broot) === 3) // base + 2 micro-batches
    SnapshotTxn.snapshotFastForward(root, "stream")
    assert(stateOf(root) === Set((1L, 11.0), (2L, 20.0)),
      "fastforward publishes the streamed state atomically")
  }

  test("update-mode streaming aggregation maintains a keyed table") {
    // the classic use of an upsert sink: a running per-key aggregate
    // whose UPDATE-mode changed rows land as upsert deltas, so the
    // store's head version IS the aggregate's current state (and every
    // intermediate state stays time-travelable)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = freshBase()
    val store = base.resolve("store")
    val in = MemoryStream[(Long, Long)] // (user, amount-cents)
    val agg = in.toDF().toDF("user_id", "cents")
      .groupBy(col("user_id"))
      .agg(sum(col("cents")).as("total_cents"))
      .withColumn("o_ym", lit("2024-01"))
    val q = agg.writeStream.format("graft-snapshot")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .option("checkpointLocation", base.resolve("chk").toString)
      .option("keyCol", "user_id").option("partCol", "o_ym")
      .option("txnAppId", "agg-app")
      .start(store.toString)
    try {
      in.addData((1L, 100L), (2L, 200L))
      q.processAllAvailable()
      def state(): Map[Long, Long] =
        SnapshotTable.read(spark, store, SnapshotManifest.head(store))
          .select("user_id", "total_cents").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(state() === Map(1L -> 100L, 2L -> 200L))
      // second batch touches user 1 only: update mode emits ONLY the
      // changed key, the upsert revises it, user 2 carries over
      in.addData((1L, 50L))
      q.processAllAvailable()
      assert(state() === Map(1L -> 150L, 2L -> 200L))
    } finally q.stop()
  }

  test("checkpointed restart resumes at the next batch, exactly once") {
    val base = freshBase()
    val inbox = base.resolve("inbox")
    val store = base.resolve("store")
    Files.createDirectories(inbox)
    val t0 = 1700000000000L
    def deposit(df: org.apache.spark.sql.DataFrame, name: String,
                mtime: Long): Unit =
      graft.operators.SourceQueries
        .depositSingleParquet(df, inbox, name, mtime)
    def runStream(): Unit = {
      val schema = frame(Seq((0L, "X", 0.0))).schema
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(inbox.toString)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", base.resolve("chk").toString)
        .option("keyCol", "o_orderkey").option("partCol", "o_ym")
        .option("txnAppId", "restart-app")
        .trigger(Trigger.AvailableNow())
        .start(store.toString)
        .awaitTermination()
    }
    deposit(frame(Seq((1L, "O", 10.0), (2L, "O", 20.0))), "b0", t0)
    deposit(frame(Seq((2L, "O", 99.0))), "b1", t0 + 60000)
    runStream()
    assert(SnapshotManifest.head(store) === 2)
    assert(stateOf(store) === Set((1L, 10.0), (2L, 99.0)))

    // restart with the SAME checkpoint after a new file arrives: only
    // the new file commits — no double-apply of b0/b1
    deposit(frame(Seq((3L, "F", 30.0))), "b2", t0 + 120000)
    runStream()
    assert(SnapshotManifest.head(store) === 3)
    assert(stateOf(store) ===
      Set((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    assert(SnapshotManifest.lastTxnBatch(store, "restart-app")
      === Some(2L))
  }

  test("commitMode=delete micro-batches on a merge-on-read store " +
    "publish records-only versions carrying their #txn markers — the " +
    "CDC takedown loop (round 16); replays and no-op batches stay " +
    "exactly-once") {
    val base = freshBase()
    val cat = "sinkmor" + java.util.UUID.randomUUID.toString.take(6)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    spark.sql(
      s"""CREATE TABLE $cat.`t`
         |  (id BIGINT, day STRING, v DOUBLE, day_p STRING)
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id',
         |               'delete_mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.`t` SELECT id, concat('d', id % 3), " +
      "CAST(id AS DOUBLE), concat('d', id % 3) FROM range(1, 31)")
    val root = base.resolve("t")
    val vPre = SnapshotManifest.head(root)
    val entriesPre = SnapshotManifest.read(root, vPre)
    val sink = new SnapshotSink(spark,
      Map("path" -> root.toString, "txnAppId" -> "mor-app",
        "keyCol" -> "id", "commitMode" -> "delete"))
    def keys(ks: Seq[Long]) = ks.toDF("id")

    sink.addBatch(0, keys(Seq(1L, 2L, 3L)))
    val v = SnapshotManifest.head(root)
    assert(v === vPre + 1, "one micro-batch, one records-only version")
    assert(SnapshotManifest.read(root, v) === entriesPre,
      "a takedown batch must not repoint any partition dir")
    assert(SnapshotManifest.deleteRecords(root, v).nonEmpty)
    assert(SnapshotManifest.lastTxnBatch(root, "mor-app") === Some(0L),
      "the #txn marker rides the records-only manifest")
    assert(stateOf2(root).size === 27)

    // crash-replay of batch 0 with DIFFERENT content: must be skipped
    sink.addBatch(0, keys(Seq(9L)))
    assert(SnapshotManifest.head(root) === v)
    assert(stateOf2(root).exists(_ == 9L), "replayed batch must not run")

    // a phantom-keys batch dooms nothing but STILL advances the
    // marker (a no-op batch that never recorded its txn would replay
    // forever across restarts)
    sink.addBatch(1, keys(Seq(999L)))
    val v2 = SnapshotManifest.head(root)
    assert(v2 === v + 1)
    assert(SnapshotManifest.lastTxnBatch(root, "mor-app") === Some(1L))
    assert(SnapshotManifest.deleteRecords(root, v2).nonEmpty,
      "the carried batch-0 records survive the no-op publish")
    assert(stateOf2(root).size === 27)

    // changefeed parity: the records-only version streams its doomed
    // keys as delete events with exact pre-images
    val ch = SnapshotTxn
      .changeRows(spark, root, vPre, v, keyCol = "id", valCol = "v")
      .collect()
    assert(ch.length === 3 && ch.forall(_.getString(3) === "delete"))
    assert(ch.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  /** Key set of the head read (the MoR arm's t-table shape). */
  private def stateOf2(root: java.nio.file.Path): Set[Long] =
    SnapshotTable.read(spark, root, SnapshotManifest.head(root))
      .select("id").collect().map(_.getLong(0)).toSet

  test("commitMode=upsert-mor micro-batches commit as record planes " +
    "(round 16, the Hudi MERGE_ON_READ ingest shape): O(batch) bytes, " +
    "zero partition rewrites, exactly-once, cross-partition updates " +
    "route records to the OLD row's partition; compact materializes") {
    val base = freshBase()
    val cat = "sinkumor" + java.util.UUID.randomUUID.toString.take(6)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    spark.sql(
      s"""CREATE TABLE $cat.`t`
         |  (id BIGINT, day STRING, v DOUBLE, day_p STRING)
         |PARTITIONED BY (day_p)
         |TBLPROPERTIES ('key_column' = 'id',
         |               'delete_mode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.`t` SELECT id, concat('d', id % 3), " +
      "CAST(id AS DOUBLE), concat('d', id % 3) FROM range(1, 31)")
    val root = base.resolve("t")
    val vPre = SnapshotManifest.head(root)
    val entriesPre = SnapshotManifest.read(root, vPre)
    val sink = new SnapshotSink(spark,
      Map("path" -> root.toString, "txnAppId" -> "umor-app",
        "keyCol" -> "id", "commitMode" -> "upsert-mor"))
    def batch(rows: Seq[(Long, String, Double)]) =
      rows.toDF("id", "day", "v")

    // update key 1 in place, MOVE key 2 from d2 to d0, insert key 31
    sink.addBatch(0, batch(Seq(
      (1L, "d1", 100.5), (2L, "d0", 200.5), (31L, "d1", 31.0))))
    val v = SnapshotManifest.head(root)
    assert(v === vPre + 1, "one micro-batch, one records-only version")
    assert(SnapshotManifest.read(root, v) === entriesPre,
      "an upsert-mor batch must not repoint any partition dir")
    val dels = SnapshotManifest.deleteRecordsWithCounts(root, v)
    val ups = SnapshotManifest.upsertRecordsWithCounts(root, v)
    assert(dels.keySet === Set("d1", "d2"),
      s"records in the OLD rows' partitions (2 lived in d2): $dels")
    assert(dels.valuesIterator.flatten.map(_._2).sum === 2L,
      "only EXISTING keys doom (31 is a phantom)")
    assert(ups.keySet === Set("d0", "d1") &&
      ups.valuesIterator.flatten.map(_._2).sum === 3L, s"got $ups")
    assert(SnapshotManifest.lastTxnBatch(root, "umor-app") === Some(0L))
    // reads: both doors exact
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 31L)
    assert(spark.sql(s"SELECT v FROM $cat.`t` WHERE id = 1")
      .head().getDouble(0) === 100.5)
    assert(spark.sql(s"SELECT day_p, v FROM $cat.`t` WHERE id = 2")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("d0", 200.5)), "the row moved partitions")
    assert(spark.sql(s"SELECT v FROM $cat.`t` WHERE id = 31")
      .head().getDouble(0) === 31.0)

    // crash-replay skips; a second batch STACKS (re-update key 1)
    sink.addBatch(0, batch(Seq((1L, "d1", 999.0))))
    assert(SnapshotManifest.head(root) === v, "replay must not run")
    sink.addBatch(1, batch(Seq((1L, "d1", 300.5))))
    assert(spark.sql(s"SELECT v FROM $cat.`t` WHERE id = 1")
      .head().getDouble(0) === 300.5, "stacked batch re-updates")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 31L)

    // compact materializes both planes; reads unchanged
    SnapshotTxn.snapshotCompact(spark, root, 2)
    val vc = SnapshotManifest.head(root)
    assert(!SnapshotManifest.hasLiveMorRecords(root, vc))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`t`")
      .head().getLong(0) === 31L)
    assert(spark.sql(s"SELECT v FROM $cat.`t` WHERE id = 1")
      .head().getDouble(0) === 300.5)
    assert(spark.sql(s"SELECT day_p FROM $cat.`t` WHERE id = 2")
      .head().getString(0) === "d0")
  }
}
