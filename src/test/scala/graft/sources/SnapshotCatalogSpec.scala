package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SourceQueries

/** Pins the DSv2 catalog door ([[GraftSnapshotCatalog]]):
  * `VERSION AS OF` resolution, head-by-default, values identical to
  * the DataFrame door, zero-listing planning through the sidecar,
  * partition pruning from SQL, table listing, the SQL DML door
  * (INSERT = keyed upsert, DELETE = copy-on-write, both one CAS
  * version per statement, history pinned) and its refusals
  * (OVERWRITE, layout-mirror disagreement, untranslatable DELETE
  * filters, pinned-version writes, DDL).
  */
class SnapshotCatalogSpec extends SparkSpec {

  private lazy val root = SourceQueries.snapshotFixture(spark, sf0001)
  private lazy val cat: String = {
    val c = "snapspec"
    spark.conf.set(s"spark.sql.catalog.$c",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse",
      root.getParent.toString)
    c
  }
  private lazy val tbl = s"$cat.`${root.getFileName}`"

  test("VERSION AS OF pins a version; bare reference resolves head") {
    val v1 = spark.sql(s"SELECT COUNT(*) FROM $tbl VERSION AS OF 1")
      .head().getLong(0)
    val v3 = spark.sql(s"SELECT COUNT(*) FROM $tbl VERSION AS OF 3")
      .head().getLong(0)
    val head = spark.sql(s"SELECT COUNT(*) FROM $tbl").head().getLong(0)
    assert(v1 === SnapshotTxn.snapshotRead(spark, root, 1).count())
    assert(v3 === SnapshotTxn.snapshotRead(spark, root, 3).count())
    assert(head === v3) // head is v3 after merge + delete
    assert(v1 !== v3)
  }

  test("SQL values match the DataFrame door exactly") {
    val sql = spark.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS s
         |FROM $tbl VERSION AS OF 2 GROUP BY o_orderstatus""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val df = SnapshotTable.read(spark, root, 2)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), graft.functions.dsum(col("o_totalprice")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(sql === df)
  }

  test("SQL partition predicate prunes via the manifest, zero listings") {
    val meta = SnapshotMeta.read(root).get
    val index = new SnapshotPartitioningIndex(spark, root, 2,
      meta.partitionSchema, meta.dataSchema)
    // direct index probe: the same call path the SQL scan plans through
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.unsafe.types.UTF8String
    val attr = AttributeReference("o_ym_p",
      org.apache.spark.sql.types.StringType)()
    val pruned = index.listFiles(Seq(And(
      GreaterThanOrEqual(attr, Literal(UTF8String.fromString("1995-01"),
        org.apache.spark.sql.types.StringType)),
      LessThanOrEqual(attr, Literal(UTF8String.fromString("1995-06"),
        org.apache.spark.sql.types.StringType)))), Nil)
    assert(pruned.size === 6, s"expected 6 months, got ${pruned.size}")
    assert(index.fsListCalls === 0,
      s"sidecar present but ${index.fsListCalls} listStatus calls ran")

    // and end-to-end through SQL: the pruned aggregate matches the
    // unpruned read filtered relationally
    val got = spark.sql(
      s"""SELECT COUNT(*) FROM $tbl VERSION AS OF 2
         |WHERE o_ym_p BETWEEN '1995-01' AND '1995-06'""".stripMargin)
      .head().getLong(0)
    val expect = SnapshotTxn.snapshotRead(spark, root, 2)
      .filter(col("o_ym").between("1995-01", "1995-06")).count()
    assert(got === expect)
  }

  test("TIMESTAMP AS OF resolves the last version published by then") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val droot = java.nio.file.Files.createTempDirectory("ts_store")
    def save(rows: Seq[(Long, Double)]): Unit =
      rows.toDF("o_orderkey", "o_totalprice")
        .withColumn("o_ym", lit("2024-01"))
        .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(droot.toString)
    val before = System.currentTimeMillis() - 50
    save(Seq((1L, 1.0), (2L, 2.0)))
    Thread.sleep(1500) // manifest mtime granularity can be 1 s
    val mid = System.currentTimeMillis()
    Thread.sleep(1500)
    save(Seq((9L, 9.0)))

    val c = "snaptime"
    spark.conf.set(s"spark.sql.catalog.$c",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse",
      droot.getParent.toString)
    val t = s"$c.`${droot.getFileName}`"
    def fmt(ms: Long): String =
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
    def countAt(ms: Long): Long =
      spark.sql(s"SELECT COUNT(*) FROM $t TIMESTAMP AS OF '${fmt(ms)}'")
        .head().getLong(0)
    assert(countAt(mid) === 2, "mid-history timestamp must resolve v1")
    assert(countAt(System.currentTimeMillis()) === 3)
    val e = intercept[Exception] { countAt(before) }
    assert(e.getMessage.toLowerCase.contains("table"),
      s"pre-history timestamp must be NoSuchTable, got: ${e.getMessage}")
  }

  test("catalog lists stores; unknown tables are NoSuchTable") {
    val idents = spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1))
    assert(idents.contains(root.getFileName.toString))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.no_such_store").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"))
  }

  test("DROP TABLE deletes a store; RENAME moves one") {
    // round 12: DROP TABLE works (SnapshotCreateTableSpec owns the
    // full CREATE/CTAS/DROP surface) — exercise it on a THROWAWAY
    // store, never the suite's shared fixture. RENAME works since
    // round 13 (SnapshotRenameTableSpec owns the full surface).
    val droppable = root.getParent.resolve("droppable_store")
    import spark.implicits._
    Seq((1L, "x", 1.0)).toDF("k", "d", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "d")
      .mode("append").save(droppable.toString)
    spark.sql(s"ALTER TABLE $cat.`droppable_store` RENAME TO `dropped_2`")
    assert(!java.nio.file.Files.exists(droppable))
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.`dropped_2`")
      .head().getLong(0) === 1L)
    spark.sql(s"DROP TABLE $cat.`dropped_2`")
    assert(!java.nio.file.Files.exists(
      root.getParent.resolve("dropped_2")))
  }

  // ---- the SQL DML door (own store: DML advances versions, and the
  // ---- shared fixture must stay at v3 for every other consumer) ----

  private def dmlStore(): (java.nio.file.Path, String) = {
    import spark.implicits._
    val droot = java.nio.file.Files.createTempDirectory("dml_store")
      .resolve("t")
    Seq((1L, 10.0, "2024-01"), (2L, 20.0, "2024-01"), (3L, 30.0, "2024-02"))
      .toDF("k", "price", "ym")
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "ym")
      .mode("append").save(droot.toString)
    val c = s"snapdml${java.util.UUID.randomUUID.toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$c",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse",
      droot.getParent.toString)
    (droot, s"$c.`${droot.getFileName}`")
  }

  private def rowsOf(t: String, suffix: String = ""): Set[(Long, Double)] =
    spark.sql(s"SELECT k, price FROM $t $suffix").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("INSERT INTO is a keyed upsert through the CAS door; " +
    "pre-DML versions stay pinned") {
    val (droot, t) = dmlStore()
    // key 2 exists (replaced), key 4 is new — one statement, one version
    spark.sql(s"INSERT INTO $t VALUES " +
      "(2L, 25.0, '2024-01', '2024-01'), (4L, 40.0, '2024-02', '2024-02')")
    assert(SnapshotManifest.head(droot) === 2,
      "one INSERT statement must publish exactly one version")
    assert(rowsOf(t) ===
      Set((1L, 10.0), (2L, 25.0), (3L, 30.0), (4L, 40.0)))
    assert(rowsOf(t, "VERSION AS OF 1") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "v1 must survive the upsert untouched")
    // the recorded keyCol drove the upsert: table.meta carries it
    assert(SnapshotMeta.read(droot).flatMap(_.keyCol) === Some("k"))
  }

  test("DELETE FROM: partition-mirror and predicate deletes commit " +
    "copy-on-write versions; emptied partitions leave the manifest") {
    val (droot, t) = dmlStore()
    spark.sql(s"DELETE FROM $t WHERE ym_p = '2024-01'")
    assert(rowsOf(t) === Set((3L, 30.0)))
    assert(!SnapshotManifest.read(droot, 2).keySet.contains("2024-01"),
      "an emptied partition must drop out of the manifest")
    spark.sql(s"DELETE FROM $t WHERE price >= 30.0")
    assert(rowsOf(t) === Set.empty[(Long, Double)])
    assert(rowsOf(t, "VERSION AS OF 1") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "v1 must survive both deletes untouched")
  }

  test("DML refusals: mirror disagreement, pinned-version writes") {
    val (droot, t) = dmlStore()
    val mm = intercept[Exception] {
      spark.sql(s"INSERT INTO $t VALUES (9L, 9.0, '2024-01', '2024-02')")
    }
    assert(mm.getMessage.contains("mirror"), s"got: ${mm.getMessage}")
    // a VERSION AS OF reference refuses DML at the table API too
    // (SQL can't even parse a time-travel DML target — this pins the
    // programmatic route)
    val cat = spark.sessionState.catalogManager
      .catalog(t.split("\\.")(0))
      .asInstanceOf[GraftSnapshotCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty, droot.getFileName.toString)
    val pinnedTable = cat.loadTable(ident, "1")
      .asInstanceOf[SnapshotV2Table]
    val pw = intercept[UnsupportedOperationException] {
      pinnedTable.newWriteBuilder(null)
    }
    assert(pw.getMessage.contains("immutable"))
    val pd = intercept[UnsupportedOperationException] {
      pinnedTable.deleteWhere(
        Array.empty[org.apache.spark.sql.sources.Filter])
    }
    assert(pd.getMessage.contains("immutable"))
    // nothing above may have advanced the store
    assert(SnapshotManifest.head(droot) === 1)
  }

  test("UPDATE is a group-based copy-on-write: only partitions with " +
    "matched rows are rewritten") {
    val (droot, t) = dmlStore()
    val m1 = SnapshotManifest.read(droot, 1)
    spark.sql(s"UPDATE $t SET price = price + 1.0 WHERE k = 3")
    assert(SnapshotManifest.head(droot) === 2,
      "one UPDATE statement must publish exactly one version")
    assert(rowsOf(t) === Set((1L, 10.0), (2L, 20.0), (3L, 31.0)))
    assert(rowsOf(t, "VERSION AS OF 1") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "v1 must survive the update untouched")
    val m2 = SnapshotManifest.read(droot, 2)
    // runtime group filtering: k=3 lives only in 2024-02 — 2024-01's
    // dir pointer must be SHARED with v1, not rewritten
    assert(m2("2024-01") === m1("2024-01"),
      "unmatched partition must keep its exact v1 dir (group filter)")
    assert(m2("2024-02") !== m1("2024-02"))
  }

  test("UPDATE may move rows across partitions; the receiving " +
    "partition keeps its existing rows") {
    val (droot, t) = dmlStore()
    // key 1 moves from 2024-01 to 2024-02; keys 2 (2024-01) and
    // 3 (2024-02, untouched by the scan or not — must both survive)
    spark.sql(s"UPDATE $t SET ym = '2024-02' WHERE k = 1")
    val got = spark.sql(s"SELECT k, price, ym FROM $t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got === Set((1L, 10.0, "2024-02"), (2L, 20.0, "2024-01"),
      (3L, 30.0, "2024-02")))
    // and the mirror column serves the moved row's NEW partition
    val viaMirror = spark.sql(
      s"SELECT k FROM $t WHERE ym_p = '2024-02'").collect()
      .map(_.getLong(0)).toSet
    assert(viaMirror === Set(1L, 3L))
  }

  test("DELETE with an arbitrary predicate rewrites groups " +
    "(no metadata-filter translation needed)") {
    val (droot, t) = dmlStore()
    spark.sql(s"DELETE FROM $t WHERE k % 2 = 1") // keys 1 and 3
    assert(rowsOf(t) === Set((2L, 20.0)))
    assert(SnapshotManifest.head(droot) === 2)
    assert(rowsOf(t, "VERSION AS OF 1") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // 2024-02 emptied entirely → out of the manifest
    assert(!SnapshotManifest.read(droot, 2).contains("2024-02"))
  }

  test("MERGE INTO: matched updates and not-matched inserts in one " +
    "statement, one version") {
    val (droot, t) = dmlStore()
    import spark.implicits._
    Seq((2L, 200.0, "2024-01"), (9L, 90.0, "2024-03"))
      .toDF("k", "price", "ym").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING merge_src AS src ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET price = src.price
         |WHEN NOT MATCHED THEN
         |  INSERT (k, price, ym, ym_p) VALUES (src.k, src.price, src.ym, src.ym)
         |""".stripMargin)
    assert(SnapshotManifest.head(droot) === 2,
      "one MERGE statement must publish exactly one version")
    assert(rowsOf(t) ===
      Set((1L, 10.0), (2L, 200.0), (3L, 30.0), (9L, 90.0)))
    assert(SnapshotManifest.read(droot, 2).contains("2024-03"),
      "the not-matched insert must create its partition")
    assert(rowsOf(t, "VERSION AS OF 1") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
  }

  test("row-level UPDATE and MERGE generalize to the typed " +
    "multi-column layout (DATE runtime group-filter literals)") {
    import spark.implicits._
    val droot = java.nio.file.Files.createTempDirectory("rl_multi")
      .resolve("ev")
    Seq((1L, java.sql.Date.valueOf("2024-01-10"), "click", 1.0),
        (2L, java.sql.Date.valueOf("2024-01-10"), "purchase", 2.0),
        (3L, java.sql.Date.valueOf("2024-01-11"), "click", 3.0))
      .toDF("event_id", "e_dt", "event_type", "value")
      .write.format("graft-snapshot")
      .option("keyCol", "event_id").option("partCols", "e_dt,event_type")
      .mode("append").save(droot.toString)
    val c = s"snaprlm${java.util.UUID.randomUUID.toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$c",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse",
      droot.getParent.toString)
    val t = s"$c.`${droot.getFileName}`"
    val m1 = SnapshotManifest.read(droot, 1)
    // matches only event 2; the runtime group filter narrows by the
    // LEADING partition column (a multi-key IN-subquery has no V2
    // predicate form — see SnapshotRowLevelScan.filterAttributes), so
    // its typed DATE literals prune day 2024-01-11 entirely while both
    // 2024-01-10 leaves are rewritten
    spark.sql(s"UPDATE $t SET value = value * 10.0 WHERE event_id = 2")
    val m2 = SnapshotManifest.read(droot, 2)
    val got = spark.sql(s"SELECT event_id, value FROM $t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got === Set((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    assert(m2("2024-01-11/click") === m1("2024-01-11/click"),
      "unmatched DAY must keep its v1 dir (typed DATE group filter)")
    assert(m2("2024-01-10/purchase") !== m1("2024-01-10/purchase"))
    // and MERGE: update event 3, insert event 9 into a new leaf
    Seq((3L, java.sql.Date.valueOf("2024-01-11"), "click", 30.0),
        (9L, java.sql.Date.valueOf("2024-01-12"), "view", 9.0))
      .toDF("event_id", "e_dt", "event_type", "value")
      .createOrReplaceTempView("rlm_src")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING rlm_src AS src
         |ON tgt.event_id = src.event_id
         |WHEN MATCHED THEN UPDATE SET value = src.value
         |WHEN NOT MATCHED THEN INSERT
         |  (event_id, e_dt, event_type, value, e_dt_p, event_type_p)
         |  VALUES (src.event_id, src.e_dt, src.event_type, src.value,
         |    src.e_dt, src.event_type)""".stripMargin)
    val got3 = spark.sql(s"SELECT event_id, value FROM $t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got3 === Set((1L, 1.0), (2L, 20.0), (3L, 30.0), (9L, 9.0)))
    assert(SnapshotManifest.read(droot, 3).contains("2024-01-12/view"))
    assert(SnapshotManifest.head(droot) === 3)
  }

  test("racing row-level statements: one CAS winner, the loser " +
    "throws, the store stays consistent") {
    val (droot, t) = dmlStore()
    // both UPDATEs plan against v1; serialize their commits via the
    // manifest CAS — exactly one version lands, the other statement
    // fails loudly (group replacements don't rebase)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val ready = new CountDownLatch(2)
    val go = new CountDownLatch(1)
    def run(sql: String): java.util.concurrent.Future[Option[Throwable]] =
      pool.submit(() => {
        ready.countDown(); go.await(30, TimeUnit.SECONDS)
        try { spark.sql(sql); None }
        catch { case e: Throwable => Some(e) }
      })
    val f1 = run(s"UPDATE $t SET price = price + 1.0 WHERE k = 1")
    val f2 = run(s"UPDATE $t SET price = price + 2.0 WHERE k = 2")
    ready.await(30, TimeUnit.SECONDS); go.countDown()
    val errs = Seq(f1.get(), f2.get()).flatten
    pool.shutdown()
    // engine-level racing may also serialize them (both succeed) if
    // one finishes before the other plans; what must NEVER happen is
    // two silent winners with one update lost, or a corrupt store
    val head = SnapshotManifest.head(droot)
    val rows = rowsOf(t)
    if (errs.isEmpty) {
      assert(head === 3)
      assert(rows === Set((1L, 11.0), (2L, 22.0), (3L, 30.0)))
    } else {
      assert(errs.size === 1, s"at most one loser, got $errs")
      assert(head === 2)
      assert(rows === Set((1L, 11.0), (2L, 20.0), (3L, 30.0)) ||
        rows === Set((1L, 10.0), (2L, 22.0), (3L, 30.0)),
        s"exactly the winner's update must be visible, got $rows")
      val loser = errs.head
      def chain(e: Throwable): Seq[Throwable] =
        if (e == null) Nil else e +: chain(e.getCause)
      assert(chain(loser).exists(
        _.isInstanceOf[SnapshotTxn.SnapshotConflictException]),
        s"loser must surface the CAS conflict, got: $loser")
    }
  }

  test("row-level task writers stay invisible until task commit; " +
    "abort leaves nothing behind") {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.InternalRow
    val writeSchema = StructType(Seq(StructField("k", LongType),
      StructField("ym", StringType), StructField("ym_p", StringType)))
    val fileSchema = StructType(writeSchema.fields.take(2))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sparkContext.hadoopConfiguration)
    val owf = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job, Map.empty, fileSchema)
    val root = java.nio.file.Files.createTempDirectory("rl_task").toString
    val factory = new SnapshotReplaceWriterFactory(root, writeSchema,
      fileSchema, Seq("ym_p"),
      Seq((1, StringType, SnapshotTransforms.Identity)), owf,
      new SerializableConf(job.getConfiguration))
    def row(k: Long): InternalRow = InternalRow(k,
      UTF8String.fromString("2024-01"), UTF8String.fromString("2024-01"))
    def visible: Seq[String] = SnapshotFiles.listDataFiles(
      spark.sparkContext.hadoopConfiguration, s"$root/ym_p=2024-01")
      .map(_.getPath.getName).toSeq
    // attempt 1 writes a row, then dies: its file must never be seen
    val w1 = factory.createWriter(0, 1L)
    w1.write(row(1L))
    assert(visible.isEmpty,
      "in-progress task output must be invisible (hidden temp name)")
    w1.abort()
    assert(new java.io.File(s"$root/ym_p=2024-01").listFiles()
      .forall(f => !f.getName.startsWith(".inprog")),
      "abort must delete the hidden temp")
    // attempt 2 (the retry) commits: exactly its file becomes visible
    val w2 = factory.createWriter(0, 2L)
    w2.write(row(1L)); w2.write(row(2L))
    val msg = w2.commit().asInstanceOf[SnapshotReplaceCommit]
    assert(visible.size === 1 && visible.head.startsWith("part-0-2") &&
      visible.head.endsWith(".parquet"), s"got $visible")
    assert(msg.pvDirs.map(_._1) === Seq("2024-01"))
    val back = spark.read.schema(fileSchema)
      .parquet(s"$root/ym_p=2024-01")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back === Set((1L, "2024-01"), (2L, "2024-01")),
      "the retry's rows exactly once — no duplicate from attempt 1")
  }

  test("a row-level UPDATE version flows through the changefeed " +
    "plane as an update delta") {
    val (droot, t) = dmlStore()
    spark.sql(s"UPDATE $t SET price = price + 1.0 WHERE k = 3")
    val changes = SnapshotTxn.changeRows(spark, droot, 1, 2,
      keyCol = "k", valCol = "price")
      .collect().map(r => (r.getAs[Long]("k"),
        r.getAs[String]("change_type"),
        Option(r.getAs[java.lang.Double]("old_price")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("price")).map(_.toDouble)))
    assert(changes.toSet === Set((3L, "update", Some(30.0), Some(31.0))),
      "exactly the updated key, with both images, nothing phantom")
  }

  test("INSERT OVERWRITE is a versioned replacement: partition-scoped " +
    "static, whole-table, and dynamic modes") {
    val (droot, t) = dmlStore()
    // STATIC partition overwrite: replace exactly 2024-01 (two rows
    // in, key 2 gone from that partition — overwrite, not upsert)
    spark.sql(s"INSERT OVERWRITE $t PARTITION (ym_p = '2024-01') " +
      "VALUES (7L, 70.0, '2024-01'), (8L, 80.0, '2024-01')")
    assert(SnapshotManifest.head(droot) === 2)
    assert(rowsOf(t) === Set((7L, 70.0), (8L, 80.0), (3L, 30.0)))
    assert(rowsOf(t, "VERSION AS OF 1") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "overwrite must publish a new version, not destroy v1")
    // a row OUTSIDE the overwritten scope is refused — here the static
    // PARTITION clause fills ym_p='2024-01' against the row's
    // ym='2024-02', so the writer's mirror check catches it per row
    // (the commit's scope check backstops rows that agree with their
    // mirrors but fall outside the filters)
    val oos = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE $t PARTITION (ym_p = '2024-01') " +
        "VALUES (9L, 9.0, '2024-02')")
    }
    assert(oos.getMessage.toLowerCase.matches(
      "(?s).*(outside|mirror|scope).*"), s"got: ${oos.getMessage}")
    // DYNAMIC mode: only the partitions present in the data swap
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql(s"INSERT OVERWRITE $t " +
        "VALUES (5L, 50.0, '2024-02', '2024-02')")
      assert(rowsOf(t) === Set((7L, 70.0), (8L, 80.0), (5L, 50.0)),
        "dynamic overwrite must swap only 2024-02")
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // WHOLE-TABLE overwrite (static, no clause): one version, all swapped
    spark.sql(s"INSERT OVERWRITE $t VALUES (1L, 1.0, '2024-03', '2024-03')")
    assert(rowsOf(t) === Set((1L, 1.0)))
    assert(SnapshotManifest.read(droot,
      SnapshotManifest.head(droot)).keySet === Set("2024-03"))
    assert(rowsOf(t, "VERSION AS OF 1") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "every prior version stays time-travelable")
  }

  test("stored procedures: CALL history lists the version chain, " +
    "CALL vacuum reclaims expired versions") {
    val (droot, t) = dmlStore()
    spark.sql(s"INSERT INTO $t VALUES (2L, 25.0, '2024-01', '2024-01')")
    val cat = t.split("\\.")(0)
    val tn = droot.getFileName.toString
    val hist = spark.sql(s"CALL $cat.history('$tn')").collect()
      .map(r => (r.getInt(0), r.getInt(2), r.getBoolean(3)))
    assert(hist.toSeq === Seq((1, 2, true), (2, 2, true)),
      s"two versions, two partitions each, stats sidecars present: " +
        s"${hist.mkString(",")}")
    val ts = spark.sql(s"CALL $cat.history('$tn')").collect()
      .map(_.getTimestamp(1))
    assert(ts.forall(_ != null) && !ts(0).after(ts(1)),
      "commit instants must be present and non-decreasing")
    // the default retention window protects anything fresh (the
    // in-flight-writer grace): nothing is young-dir-reclaimed
    val guarded = spark.sql(s"CALL $cat.vacuum('$tn', 1)").head()
    assert(guarded.getInt(0) === 0,
      "default retain_seconds must protect fresh dirs")
    // vacuum to the head only with retention 0: v1's superseded
    // 2024-01 dir is reclaimed, v1 time travel fails loudly, the
    // head is unharmed
    val v = spark.sql(s"CALL $cat.vacuum('$tn', 1, 0)").head()
    assert(v.getInt(1) === 2 && v.getInt(2) === 2,
      s"kept range must be [2,2]: $v")
    assert(v.getInt(0) >= 1, "the superseded v1 dir must be reclaimed")
    assert(rowsOf(t) === Set((1L, 10.0), (2L, 25.0), (3L, 30.0)))
    val tt = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect()
    }
    assert(tt != null) // expired version unreadable, not half-readable
  }

  test("CALL compact rewrites hot partitions key-clustered in one " +
    "version; quiet partitions share dirs; quiet tables no-op") {
    import spark.implicits._
    val droot = java.nio.file.Files.createTempDirectory("compact_store")
      .resolve("t")
    // 12 keys in 2024-01 spread over 6 input partitions → ~6 small
    // files in that leaf; 2024-02 stays cold with one file
    val rows = (1L to 12L).map(k => (k, k * 10.0, "2024-01")) ++
      Seq((20L, 200.0, "2024-02"))
    rows.toDF("k", "price", "ym").repartition(6)
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "ym")
      // the fixture NEEDS a fragmented leaf: opt out of the door's
      // default hash distribution so the 6 input tasks each write
      .option("distribution", "none")
      .mode("append").save(droot.toString)
    val v1 = SnapshotManifest.read(droot, 1)
    def filesOf(dir: String): Array[java.io.File] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(filesOf(v1("2024-01")).length >= 3, "fixture must be hot")
    val c = s"snapcp${java.util.UUID.randomUUID.toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$c",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse",
      droot.getParent.toString)
    val tn = droot.getFileName.toString
    val r = spark.sql(s"CALL $c.compact('$tn', 3, 2)").head()
    assert((r.getInt(0), r.getInt(1)) === ((1, 2)),
      s"one hot partition, one new version: $r")
    assert(r.getInt(3) < r.getInt(2),
      s"compaction must reduce the file count: $r")
    val v2 = SnapshotManifest.read(droot, 2)
    assert(v2("2024-02") === v1("2024-02"),
      "the quiet partition must keep its exact dir")
    assert(v2("2024-01") !== v1("2024-01"))
    // data invisible to compaction, history intact
    val t = s"$c.`$tn`"
    assert(spark.sql(s"SELECT SUM(price) FROM $t").head().getDouble(0)
      === (1 to 12).map(_ * 10.0).sum + 200.0)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 1")
      .head().getLong(0) === 13L)
    // compaction REGAINS key clustering: the rewritten files cover
    // disjoint key ranges
    val ranges = filesOf(v2("2024-01")).map { f =>
      val kr = spark.read.parquet(f.getAbsolutePath)
        .agg(org.apache.spark.sql.functions.min($"k"),
          org.apache.spark.sql.functions.max($"k")).head()
      (kr.getLong(0), kr.getLong(1))
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"files must cover disjoint key ranges: ${ranges.mkString(",")}")
    // already-compacted table: metadata-only no-op, nothing published
    val r2 = spark.sql(s"CALL $c.compact('$tn', 3)").head()
    assert((r2.getInt(0), r2.getInt(1)) === ((0, 2)), s"no-op: $r2")
    // a partition at the threshold but already AT the target file
    // count is left alone too — repeated CALLs converge, never churn
    val r3 = spark.sql(s"CALL $c.compact('$tn', 2, 2)").head()
    assert((r3.getInt(0), r3.getInt(1)) === ((0, 2)),
      s"rewrite that can't reduce files must no-op: $r3")
    // layout generality: a typed multi-column (date, string) store
    // compacts through the same door
    val mroot = java.nio.file.Files.createTempDirectory("compact_multi")
      .resolve("ev")
    val ev = Seq.tabulate(8)(i =>
      (i.toLong, java.sql.Date.valueOf("2024-03-01"), "click", i * 1.0)) :+
      ((99L, java.sql.Date.valueOf("2024-03-02"), "view", 9.0))
    ev.toDF("id", "d", "typ", "v").repartition(4)
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCols", "d,typ")
      .option("distribution", "none") // fragmented-leaf fixture
      .mode("append").save(mroot.toString)
    spark.conf.set(s"spark.sql.catalog.${c}m",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.${c}m.warehouse",
      mroot.getParent.toString)
    val rm = spark.sql(
      s"CALL ${c}m.compact('${mroot.getFileName}', 3, 1)").head()
    assert(rm.getInt(0) === 1, s"the hot (day,type) leaf compacts: $rm")
    assert(spark.sql(
      s"SELECT SUM(v) FROM ${c}m.`${mroot.getFileName}`").head()
      .getDouble(0) === (0 until 8).map(_ * 1.0).sum + 9.0,
      "multi-column compaction must be invisible in the data")
    // partition values needing Hive dir-name escaping: the rewrite
    // must re-attach the LOGICAL value (partitionBy re-escapes) or the
    // compacted manifest points at a double-escaped dir that
    // doesn't exist
    val eroot = java.nio.file.Files.createTempDirectory("compact_esc")
      .resolve("esc")
    (1L to 6L).map(k => (k, k * 1.0, "a:b")) // ':' escapes to %3A
      .toDF("k", "v", "src").repartition(4)
      .write.format("graft-snapshot")
      .option("keyCol", "k").option("partCol", "src")
      .option("distribution", "none") // fragmented-leaf fixture
      .mode("append").save(eroot.toString)
    spark.conf.set(s"spark.sql.catalog.${c}e",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.${c}e.warehouse",
      eroot.getParent.toString)
    val re = spark.sql(
      s"CALL ${c}e.compact('${eroot.getFileName}', 3, 1)").head()
    assert(re.getInt(0) === 1, s"the escaped-value partition is hot: $re")
    assert(re.getInt(3) === 1, s"and must actually land in 1 file: $re")
    assert(spark.sql(
      s"SELECT SUM(v) FROM ${c}e.`${eroot.getFileName}`").head()
      .getDouble(0) === (1 to 6).map(_ * 1.0).sum,
      "compaction of an escaped partition value must stay readable")
  }

  test("metadata tables: t.files / t.partitions / t.history / t.refs " +
    "resolve as queryable tables, consistent with the data and pinnable") {
    val (droot, t) = dmlStore() // v1: 3 rows over 2 months
    val c = t.split("\\.")(0)
    val tn = droot.getFileName.toString
    spark.sql(s"INSERT INTO $t VALUES (4L, 40.0, '2024-03', '2024-03')")
    def meta(kind: String, suffix: String = "") =
      spark.sql(s"SELECT * FROM $c.`$tn`.`$kind` $suffix")
    // files: metadata row counts must agree with the data per partition
    val fromFiles = spark.sql(
      s"""SELECT pv, SUM(row_count) AS n FROM $c.`$tn`.`files`
         |GROUP BY pv""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val fromData = spark.sql(
      s"SELECT ym_p, COUNT(*) FROM $t GROUP BY ym_p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fromFiles === fromData,
      s"files metadata disagrees with the data: $fromFiles vs $fromData")
    // partitions: one row per manifest entry, aggregates consistent
    val parts = meta("partitions").collect()
      .map(r => (r.getString(0), r.getInt(2), r.getLong(4))).toSet
    assert(parts.map(_._1) === Set("2024-01", "2024-02", "2024-03"))
    assert(parts.toSeq.map(_._3).sum === 4L,
      s"partitions: ${parts.mkString(",")}")
    // history: both versions, monotone commit instants
    val hist = meta("history", "ORDER BY version").collect()
    assert(hist.map(_.getInt(0)).toSeq === Seq(1, 2))
    // VERSION AS OF pins files/partitions to an old manifest
    assert(spark.sql(
      s"SELECT SUM(row_count) FROM $c.`$tn`.`files` VERSION AS OF 1")
      .head().getLong(0) === 3L)
    // refs: joinable like any table
    spark.sql(s"CALL $c.tag('$tn', 'm1', 1)")
    spark.sql(s"CALL $c.branch('$tn', 'mb')")
    val refs = spark.sql(
      s"""SELECT r.name, h.n_partitions FROM $c.`$tn`.`refs` r
         |JOIN $c.`$tn`.`history` h ON r.version = h.version
         |WHERE r.kind = 'tag'""".stripMargin).collect()
    assert(refs.map(r => (r.getString(0), r.getInt(1))).toSeq ===
      Seq(("m1", 2)))
    spark.sql(s"CALL $c.drop_branch('$tn', 'mb')")
    // named-ref travel: a TAG pins files to its version; a BRANCH name
    // serves the branch mini-store's own metadata
    assert(spark.sql(
      s"SELECT SUM(row_count) FROM $c.`$tn`.`files` VERSION AS OF 'm1'")
      .head().getLong(0) === 3L, "tag-pinned files must read v1")
    spark.sql(s"CALL $c.branch('$tn', 'mb2')")
    spark.sql(s"INSERT INTO $c.`$tn`.`branch_mb2` VALUES " +
      "(9L, 90.0, '2024-04', '2024-04')")
    assert(spark.sql(
      s"SELECT SUM(row_count) FROM $c.`$tn`.`files` VERSION AS OF 'mb2'")
      .head().getLong(0) === 5L, "branch files must include staged rows")
    assert(spark.sql(
      s"SELECT SUM(row_count) FROM $c.`$tn`.`files`")
      .head().getLong(0) === 4L, "main files must not")
    spark.sql(s"CALL $c.drop_branch('$tn', 'mb2')")
    // version pins are refused on the version-free kinds, never
    // silently ignored
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $c.`$tn`.`history` VERSION AS OF 1")
        .collect()
    }
    // an unknown suffix still errors as a missing table
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $c.`$tn`.`nonsense`").collect()
    }
    // DESCRIBE EXTENDED surfaces the layout facts as table properties
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val props = desc.getOrElse("Table Properties", "")
    assert(props.contains("key_column=k") &&
      props.contains("partition_columns=ym_p"),
      s"properties must spell the layout: $props")
  }

  test("CALL zorder rewrites hot partitions Morton-clustered: per-file " +
    "2-D boxes beat key-sorted compaction on the second dimension") {
    import spark.implicits._
    // b is uncorrelated with a (Knuth-hash scatter), so key-sorted
    // files span b's full range while z-ordered files cover boxes
    def store(tag: String): java.nio.file.Path = {
      val r = java.nio.file.Files.createTempDirectory(s"zo_$tag")
        .resolve("t")
      (0L until 4096L)
        .map(i => (i, i, (i * 2654435761L) % 4096L, "2024-01"))
        .toDF("k", "a", "b", "ym").repartition(8)
        .write.format("graft-snapshot")
        .option("keyCol", "k").option("partCol", "ym")
        // fragmented-leaf fixture: keep the 8-task input layout
        .option("distribution", "none")
        .mode("append").save(r.toString)
      r
    }
    def catFor(root: java.nio.file.Path): String = {
      val c = s"snapzo${java.util.UUID.randomUUID.toString.take(6)}"
      spark.conf.set(s"spark.sql.catalog.$c",
        "graft.sources.GraftSnapshotCatalog")
      spark.conf.set(s"spark.sql.catalog.$c.warehouse",
        root.getParent.toString)
      c
    }
    def bWidthSum(root: java.nio.file.Path): Long = {
      val dir = SnapshotManifest.read(root, 2)("2024-01")
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(org.apache.spark.sql.functions.min($"b"),
              org.apache.spark.sql.functions.max($"b")).head()
          r.getLong(1) - r.getLong(0) + 1
        }.sum
    }
    val zroot = store("z")
    val zc = catFor(zroot)
    val rz = spark.sql(
      s"CALL $zc.zorder('${zroot.getFileName}', 'a', 'b', 3, 4)").head()
    assert((rz.getInt(0), rz.getInt(1)) === ((1, 2)), s"zorder: $rz")
    assert(rz.getInt(3) <= 4 && rz.getInt(3) < rz.getInt(2), s"$rz")
    val croot = store("c")
    val cc = catFor(croot)
    spark.sql(s"CALL $cc.compact('${croot.getFileName}', 3, 4)")
    val (zw, cw) = (bWidthSum(zroot), bWidthSum(croot))
    assert(zw < (cw * 3) / 4,
      s"z-ordered files must cover tighter b-ranges: z=$zw vs compact=$cw")
    // data invisible, history intact, and the pass converges (no churn)
    assert(spark.sql(
      s"SELECT SUM(b) FROM $zc.`${zroot.getFileName}`").head().getLong(0)
      === (0L until 4096L).map(i => (i * 2654435761L) % 4096L).sum)
    val rz2 = spark.sql(
      s"CALL $zc.zorder('${zroot.getFileName}', 'a', 'b', 3, 4)").head()
    assert((rz2.getInt(0), rz2.getInt(1)) === ((0, 2)), s"no-op: $rz2")
  }

  test("branches: write-audit-publish — staged commits invisible to " +
    "main, atomic fastforward, safe drop, divergence refusal, vacuum " +
    "retention, carried schema + constraints") {
    import spark.implicits._
    val (droot, t) = dmlStore() // v1: (1,10),(2,20) in 2024-01; (3,30) in 2024-02
    val c = t.split("\\.")(0)
    val tn = droot.getFileName.toString
    def branchT(n: String) = s"$c.`$tn`.`branch_$n`"
    // fork at head; stage through BOTH doors
    val rb = spark.sql(s"CALL $c.branch('$tn', 'ingest')").head()
    assert((rb.getInt(0), rb.getInt(1)) === ((1, 2)), s"fork: $rb")
    Seq((2L, 25.0, "2024-01"), (9L, 90.0, "2024-03"))
      .toDF("k", "price", "ym")
      .write.format("graft-snapshot").option("branch", "ingest")
      .option("keyCol", "k").option("partCol", "ym")
      .mode("append").save(droot.toString)
    spark.sql(s"DELETE FROM ${branchT("ingest")} WHERE k = 1")
    // main never saw any of it
    assert(SnapshotManifest.head(droot) === 1, "main must not advance")
    assert(rowsOf(t) === Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // the audit read: branch head through VERSION AS OF
    assert(rowsOf(t, "VERSION AS OF 'ingest'") ===
      Set((2L, 25.0), (3L, 30.0), (9L, 90.0)))
    // and through the DataFrame door's branch option
    assert(spark.read.format("graft-snapshot").option("branch", "ingest")
      .load(droot.toString).count() === 3L)
    // publish: ONE new main version, atomically the staged state
    val ff = spark.sql(s"CALL $c.fastforward('$tn', 'ingest')").head()
    assert(ff.getInt(0) === 2, s"publish must be main v2: $ff")
    assert(ff.getInt(2) > 0, "branch-resident dirs must be hard-linked")
    assert(rowsOf(t) === Set((2L, 25.0), (3L, 30.0), (9L, 90.0)))
    assert(rowsOf(t, "VERSION AS OF 1") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)), "history intact")
    // dropping the published branch must not strand main's data
    assert(spark.sql(s"CALL $c.drop_branch('$tn', 'ingest')")
      .head().getBoolean(0))
    assert(rowsOf(t) === Set((2L, 25.0), (3L, 30.0), (9L, 90.0)),
      "main must keep reading after the branch dirs are deleted")
    // divergence: main moves past the fork → fastforward refuses
    spark.sql(s"CALL $c.branch('$tn', 'late')")
    spark.sql(s"INSERT INTO ${branchT("late")} VALUES " +
      "(8L, 80.0, '2024-05', '2024-05')")
    spark.sql(s"INSERT INTO $t VALUES (7L, 70.0, '2024-04', '2024-04')")
    val e = intercept[Exception] {
      spark.sql(s"CALL $c.fastforward('$tn', 'late')")
    }
    assert(e.getMessage.contains("advanced past the fork"), e.getMessage)
    // vacuum retention: the expired fork version's dirs survive
    // because the live branch still references them
    spark.sql(s"CALL $c.vacuum('$tn', 1)")
    assert(rowsOf(t, "VERSION AS OF 'late'") ===
      Set((2L, 25.0), (3L, 30.0), (9L, 90.0), (8L, 80.0)),
      "a live branch must survive a main vacuum past its fork point")
    spark.sql(s"CALL $c.drop_branch('$tn', 'late')")
    // branch-side schema widening rides the publish
    spark.sql(s"CALL $c.branch('$tn', 'evo')")
    spark.sql(s"ALTER TABLE ${branchT("evo")} ADD COLUMN note STRING")
    spark.sql(s"CALL $c.fastforward('$tn', 'evo')")
    assert(spark.sql(s"SELECT note FROM $t").columns === Array("note"),
      "the branch's widened schema must reach main on publish")
    // live CHECKs at fork time carry into the branch's write doors
    spark.sql(s"ALTER TABLE $t ADD CONSTRAINT pos CHECK (price > 0.0)")
    spark.sql(s"CALL $c.branch('$tn', 'guarded')")
    val viol = intercept[Exception] {
      Seq((99L, -5.0, "2024-01")).toDF("k", "price", "ym")
        .write.format("graft-snapshot").option("branch", "guarded")
        .option("keyCol", "k").option("partCol", "ym")
        .mode("append").save(droot.toString)
    }
    assert(viol.getMessage.contains("pos"), viol.getMessage)
    // tags and branches share the VERSION AS OF namespace
    val head = SnapshotManifest.head(droot)
    spark.sql(s"CALL $c.tag('$tn', 'relx', $head)")
    intercept[Exception] {
      spark.sql(s"CALL $c.branch('$tn', 'relx')")
    }
    // the discovery plane: refs lists what VERSION AS OF can resolve
    val refs = spark.sql(s"CALL $c.refs('$tn')").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(refs === Set(("relx", "tag"), ("evo", "branch"),
      ("guarded", "branch")), s"refs: ${refs.mkString(",")}")
    // the namespace guard is SYMMETRIC: a tag named after a live
    // branch would silently redirect every audit read off the branch
    intercept[Exception] {
      spark.sql(s"CALL $c.tag('$tn', 'guarded', $head)")
    }
    // re-creating a live branch would silently discard staged work
    intercept[Exception] {
      spark.sql(s"CALL $c.branch('$tn', 'guarded')")
    }
    // branch-side constraint MODIFICATION (drop + re-add, same name)
    // publishes as drop-then-add: main enforces exactly the new text
    spark.sql(s"CALL $c.branch('$tn', 'relax')")
    spark.sql(s"ALTER TABLE ${branchT("relax")} DROP CONSTRAINT pos")
    spark.sql(
      s"ALTER TABLE ${branchT("relax")} ADD CONSTRAINT pos CHECK (price > -100.0)")
    spark.sql(s"CALL $c.fastforward('$tn', 'relax')")
    assert(SnapshotManifest.effectiveChecks(droot)
      .count(_._1 == "pos") === 1,
      "a modified check must not leave both texts live")
    // five columns now: the evo branch's published widening added `note`
    spark.sql(s"INSERT INTO $t VALUES " +
      "(55L, -5.0, '2024-06', CAST(NULL AS STRING), '2024-06')")
    assert(rowsOf(t).contains((55L, -5.0)),
      "the relaxed check must govern main after the publish")
  }

  test("catalog joins get dynamic partition pruning: the runtime IN " +
    "filter reaches the manifest index and the scan plans only " +
    "matched partitions") {
    import spark.implicits._
    // AQE off so the executed tree is directly traversable (DPP itself
    // fires either way; the probe that found this gap ran under AQE)
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val c = s"snapdpp${java.util.UUID.randomUUID.toString.take(6)}"
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", root.getParent.toString)
    // a REAL datasource dimension: a filter over an in-memory
    // LocalRelation constant-folds away and leaves no selective-filter
    // node for the DPP rule to latch onto
    val dimPath = java.nio.file.Files.createTempDirectory("dppdim")
      .resolve("cal").toString
    (1992 to 1999).flatMap(y => (1 to 12).map(m =>
        (f"$y-$m%02d", s"$y-Q${(m + 2) / 3}")))
      .toDF("d_ym", "quarter").coalesce(1).write.parquet(dimPath)
    s.read.parquet(dimPath).createOrReplaceTempView("graft_dpp_cal")
    val t = s"$c.`${root.getFileName}`"
    val q = s.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n
         |FROM $t t JOIN graft_dpp_cal cal ON t.o_ym_p = cal.d_ym
         |WHERE cal.quarter = '1995-Q1'
         |GROUP BY 1""".stripMargin)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val literal = s.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n FROM $t
         |WHERE o_ym_p IN ('1995-01', '1995-02', '1995-03')
         |GROUP BY 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === literal, "pruning may never change semantics")
    // the fact scan carries the planted runtime filter
    val scan = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.isInstanceOf[SnapshotDppScan] => b
    }.headOption.getOrElse(fail("no snapshot scan in the plan"))
    assert(scan.runtimeFilters.nonEmpty,
      "no dynamic-pruning filter planted on the catalog scan")
    // post-execution the wrapper holds the translated IN and plans
    // ONLY the quarter's partitions of the fixture's ~80 months
    val dpp = scan.scan.asInstanceOf[SnapshotDppScan]
    assert(dpp.partitionFilters.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.In]),
      s"runtime filter never reached the scan: ${dpp.partitionFilters}")
    val planned = dpp.toBatch.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
      case _ => Nil
    }
    assert(planned.nonEmpty)
    val months = Set("1995-01", "1995-02", "1995-03")
    assert(planned.forall(p => months.exists(m => p.contains(s"o_ym_p=$m"))),
      s"scan planned unmatched partitions: ${planned.take(3)}")
    // a join that prunes the partition column out of the read must not
    // trip the declared filter attribute (resolution would throw)
    val q2 = s.sql(
      s"""SELECT COUNT(*) FROM $t t
         |JOIN graft_dpp_cal cal ON t.o_orderstatus = cal.quarter""".stripMargin)
    assert(q2.collect().head.getLong(0) >= 0L)
    // multi-column layout: a join on the SECOND partition column gets
    // its own single-key runtime filter (every read partition column
    // is declared — only the row-level GROUP filter is one-attribute)
    import spark.implicits._
    val m2root = java.nio.file.Files.createTempDirectory("dppmulti")
      .resolve("ev")
    val types = Array("click", "view", "buy", "scroll")
    Seq.tabulate(16)(i => (i.toLong,
        java.sql.Date.valueOf(f"2024-03-${i % 2 + 1}%02d"),
        types(i % 4), i * 1.0))
      .toDF("id", "d", "typ", "v").write.format("graft-snapshot")
      .option("keyCol", "id").option("partCols", "d,typ")
      .mode("append").save(m2root.toString)
    val tdimPath = m2root.getParent.resolve("tdim").toString
    Seq(("click", "hot"), ("buy", "hot"), ("view", "cold"))
      .toDF("t_d", "tag").coalesce(1).write.parquet(tdimPath)
    s.read.parquet(tdimPath).createOrReplaceTempView("graft_dpp_tdim")
    val c2 = s"${c}m"
    s.conf.set(s"spark.sql.catalog.$c2", "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$c2.warehouse", m2root.getParent.toString)
    val q3 = s.sql(
      s"""SELECT SUM(v) FROM $c2.`ev` t
         |JOIN graft_dpp_tdim dm ON t.typ_p = dm.t_d
         |WHERE dm.tag = 'hot'""".stripMargin)
    assert(q3.collect().head.getDouble(0) ===
      (0 until 16).filter(i => i % 4 == 0 || i % 4 == 2).map(_ * 1.0).sum)
    val scan3 = q3.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.isInstanceOf[SnapshotDppScan] => b
    }.head
    assert(scan3.runtimeFilters.nonEmpty,
      "second-partition-column join must still plant a runtime filter")
    val planned3 = scan3.scan.asInstanceOf[SnapshotDppScan]
      .toBatch.planInputPartitions().toSeq.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(_.filePath.toString)
        case _ => Nil
      }
    assert(planned3.nonEmpty && planned3.forall(p =>
      p.contains("typ_p=click") || p.contains("typ_p=buy")),
      s"scan planned unmatched leaves: ${planned3.take(3)}")
  }

  test("CALL clone: zero-copy hard-link clone — fresh history, carried " +
    "constraints and stats, independent evolution, vacuum-safe both ways") {
    import scala.jdk.CollectionConverters._
    val (droot, t) = dmlStore()
    val c = t.split("\\.")(0)
    val tn = droot.getFileName.toString
    // v2: one more month, so the clone spans three partitions; then a
    // live CHECK the clone must inherit
    spark.sql(s"INSERT INTO $t VALUES (4L, 40.0, '2024-03', '2024-03')")
    spark.sql(s"ALTER TABLE $t ADD CONSTRAINT pos CHECK (price > 0.0)")
    val headV = SnapshotManifest.head(droot)
    val r = spark.sql(s"CALL $c.clone('$tn', 'u')").head()
    assert((r.getInt(0), r.getInt(1)) === ((headV, 3)),
      s"clone of the head across three partitions: $r")
    assert(r.getInt(2) > 0, s"files must have been linked: $r")
    val u = s"$c.`u`"
    val uroot = droot.getParent.resolve("u")
    assert(rowsOf(u) === rowsOf(t), "clone must read the cloned state")
    assert(SnapshotManifest.head(uroot) === 1,
      "the clone starts its own history at v1")
    // zero-copy: the clone's parquet files are hard links (nlink >= 2),
    // not byte copies
    val cloneFile = java.nio.file.Files.walk(uroot).iterator().asScala
      .find(_.toString.endsWith(".parquet"))
      .getOrElse(fail("clone has no data files"))
    assert(java.nio.file.Files.getAttribute(cloneFile, "unix:nlink")
      .asInstanceOf[Number].intValue >= 2,
      s"cloned files must be hard links: $cloneFile")
    // the stats sidecar carries, rewritten to the linked names
    val fm = SnapshotFiles.read(uroot, 1)
      .getOrElse(fail("clone must carry the stats sidecar"))
    assert(fm.values.flatten.nonEmpty)
    fm.values.flatten.foreach(e => assert(new java.io.File(e.path).isFile,
      s"sidecar must point at the clone's own files: ${e.path}"))
    // the source's live CHECK came along: a violating INSERT refuses
    intercept[Exception] {
      spark.sql(s"INSERT INTO $u VALUES (9L, -1.0, '2024-01', '2024-01')")
    }
    // independent evolution: writes to the clone never touch the source
    spark.sql(s"INSERT INTO $u VALUES (5L, 50.0, '2024-01', '2024-01')")
    assert(rowsOf(u) === rowsOf(t) + ((5L, 50.0)))
    assert(SnapshotManifest.head(droot) === headV,
      "a clone write must not advance the source")
    // tag-addressed clone; existing targets and unknown tags refuse
    spark.sql(s"CALL $c.tag('$tn', 'audited', $headV)")
    val rv = spark.sql(s"CALL $c.clone('$tn', 'v_aud', 'audited')").head()
    assert(rv.getInt(0) === headV)
    assert(rowsOf(s"$c.`v_aud`") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    intercept[Exception] {
      spark.sql(s"CALL $c.clone('$tn', 'u')") // target exists
    }
    intercept[Exception] {
      spark.sql(s"CALL $c.clone('$tn', 'w', 'no_such_tag')")
    }
    intercept[Exception] { // a ../ target must not escape the warehouse
      spark.sql(s"CALL $c.clone('$tn', '../escape')")
    }
    // a clone that crashed before publishing its manifest is
    // retryable: existing links from the dead attempt resume
    spark.sql(s"CALL $c.clone('$tn', 'w2')")
    val w2 = droot.getParent.resolve("w2")
    org.apache.commons.io.FileUtils
      .deleteDirectory(w2.resolve("manifests").toFile)
    spark.sql(s"CALL $c.clone('$tn', 'w2')") // retry over the leftovers
    assert(rowsOf(s"$c.`w2`").nonEmpty, "retried clone must read")
    // vacuum safety — where Delta's shallow clone breaks: rewrite the
    // shared partitions on the SOURCE, expire + reclaim every version
    // the clones were taken from (tag dropped so retention lets go),
    // and the clones still read their bytes — vacuum only unlinked the
    // source's NAMES; the inodes survive under each clone's root
    spark.sql(s"DELETE FROM $t WHERE price <= 20.0") // rewrites 2024-01
    spark.sql(s"DELETE FROM $t WHERE ym_p = '2024-02'")
    spark.sql(s"CALL $c.drop_tag('$tn', 'audited')")
    spark.sql(s"CALL $c.vacuum('$tn', 1)")
    assert(rowsOf(u) ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0)),
      "the clone must survive a full source vacuum")
    assert(rowsOf(s"$c.`v_aud`") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)),
      "the tag-addressed clone must survive it too")
    // and the mirror image: vacuuming the clone never touches the source
    spark.sql(s"DELETE FROM $u WHERE ym_p = '2024-03'")
    spark.sql(s"CALL $c.vacuum('u', 1)")
    assert(rowsOf(t) === Set((4L, 40.0)),
      "a clone vacuum must not reach the source's files")
  }

  test("tags: named refs resolve through VERSION AS OF, survive " +
    "vacuum, and never silently move") {
    val (droot, t) = dmlStore()
    spark.sql(s"INSERT INTO $t VALUES (2L, 25.0, '2024-01', '2024-01')")
    spark.sql(s"INSERT INTO $t VALUES (3L, 35.0, '2024-02', '2024-02')")
    val cat = t.split("\\.")(0)
    val tn = droot.getFileName.toString
    val r = spark.sql(s"CALL $cat.tag('$tn', 'audited', 1)").head()
    assert((r.getString(0), r.getInt(1)) === (("audited", 1)))
    // default version (-1) pins the head
    assert(spark.sql(s"CALL $cat.tag('$tn', 'latest')").head()
      .getInt(1) === 3)
    assert(rowsOf(t, "VERSION AS OF 'audited'") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "the tag must resolve to v1's exact content")
    assert(rowsOf(t, "VERSION AS OF 'latest'") === rowsOf(t))
    // immutable: re-tagging refuses; explicit drop + tag moves it
    val dup = intercept[Exception] {
      spark.sql(s"CALL $cat.tag('$tn', 'audited', 2)").collect()
    }
    assert(dup.getMessage.contains("already exists"))
    // an unknown tag refuses loudly, never resolves to something else
    val missing = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 'nope'").collect()
    }
    assert(missing.getMessage.contains("nope"))
    // vacuum keeps the TAGGED v1 alive past the keep_last horizon:
    // only the untagged v2's superseded dirs are reclaimable
    spark.sql(s"CALL $cat.vacuum('$tn', 1, 0)")
    assert(rowsOf(t, "VERSION AS OF 'audited'") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "a tagged version must survive vacuum")
    // dropping the tag releases it: the next vacuum reclaims v1
    assert(spark.sql(s"CALL $cat.drop_tag('$tn', 'audited')").head()
      .getBoolean(0))
    assert(!spark.sql(s"CALL $cat.drop_tag('$tn', 'audited')").head()
      .getBoolean(0), "drop_tag reports idempotently")
    spark.sql(s"CALL $cat.vacuum('$tn', 1, 0)")
    val gone = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect()
    }
    assert(gone != null, "untagged expired version must fail loudly")
    assert(rowsOf(t) === Set((1L, 10.0), (2L, 25.0), (3L, 35.0)),
      "the head must be unharmed throughout")
  }

  test("CHECK constraints: ADD validates existing data, every write " +
    "door enforces, DROP re-admits") {
    val (droot, t) = dmlStore()
    // adding a constraint the existing data violates must refuse:
    // Spark's AddCheckConstraintExec scans for violations first
    val bad = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD CONSTRAINT cheap CHECK (price < 15.0)")
    }
    assert(bad.getMessage.toLowerCase.contains("check") ||
      bad.getMessage.toLowerCase.contains("violate"),
      s"pre-validation must catch existing violations: ${bad.getMessage}")
    spark.sql(s"ALTER TABLE $t ADD CONSTRAINT positive CHECK (price > 0.0)")
    assert(SnapshotManifest.effectiveChecks(droot) ===
      Seq("positive" -> "price > 0.0"))
    assert(SnapshotManifest.head(droot) === 2,
      "ADD CONSTRAINT must publish one metadata-only version")
    // SQL plane: the analyzer's CheckInvariant fails the violating row
    val sqlViol = intercept[Exception] {
      spark.sql(s"INSERT INTO $t VALUES (9L, -1.0, '2024-01', '2024-01')")
    }
    assert(sqlViol.getMessage.toLowerCase.contains("check") ||
      sqlViol.getMessage.toLowerCase.contains("positive"),
      s"SQL INSERT must enforce the check: ${sqlViol.getMessage}")
    // DataFrame plane: the door's one-pass delta audit refuses too
    import spark.implicits._
    val doorViol = intercept[Exception] {
      Seq((9L, -2.0, "2024-01")).toDF("k", "price", "ym")
        .write.format("graft-snapshot")
        .option("keyCol", "k").option("partCol", "ym")
        .mode("append").save(droot.toString)
    }
    assert(doorViol.getMessage.contains("positive"),
      s"write door must enforce the check: ${doorViol.getMessage}")
    // nothing published by either refusal; a passing row still lands
    assert(SnapshotManifest.head(droot) === 2)
    spark.sql(s"INSERT INTO $t VALUES (9L, 9.0, '2024-01', '2024-01')")
    assert(rowsOf(t).contains((9L, 9.0)))
    // NULL passes (ANSI CHECK semantics): a row whose predicate is
    // NULL is not a violation
    spark.sql(s"INSERT INTO $t VALUES (10L, NULL, '2024-01', '2024-01')")
    assert(spark.sql(s"SELECT k FROM $t WHERE price IS NULL").collect()
      .map(_.getLong(0)).toSet === Set(10L))
    // DROP re-admits what ADD refused; unknown drop refuses
    spark.sql(s"ALTER TABLE $t DROP CONSTRAINT positive")
    assert(SnapshotManifest.effectiveChecks(droot).isEmpty)
    spark.sql(s"INSERT INTO $t VALUES (11L, -5.0, '2024-02', '2024-02')")
    assert(spark.sql(s"SELECT price FROM $t WHERE k = 11").head()
      .getDouble(0) === -5.0)
    val unknown = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t DROP CONSTRAINT nope")
    }
    assert(unknown.getMessage.contains("nope"))
  }

  test("CALL restore publishes a new head mirroring an old version; " +
    "interim history survives and data dirs are shared") {
    val (droot, t) = dmlStore()
    spark.sql(s"INSERT INTO $t VALUES (2L, 25.0, '2024-01', '2024-01')")
    spark.sql(s"DELETE FROM $t WHERE ym_p = '2024-02'")
    assert(rowsOf(t) === Set((1L, 10.0), (2L, 25.0)))
    val cat = t.split("\\.")(0)
    val tn = droot.getFileName.toString
    val r = spark.sql(s"CALL $cat.restore('$tn', 1)").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) === ((1, 4, 2)),
      s"restore(1) after three versions must publish v4 with v1's " +
        s"two partitions: $r")
    // the head now reads exactly as v1 did, the interim versions are
    // still pinned, and the restored head is itself time-travelable
    val v1 = Set((1L, 10.0), (2L, 20.0), (3L, 30.0))
    assert(rowsOf(t) === v1, "restored head must read as v1")
    assert(rowsOf(t, "VERSION AS OF 2") ===
      Set((1L, 10.0), (2L, 25.0), (3L, 30.0)),
      "interim versions must survive a restore")
    assert(rowsOf(t, "VERSION AS OF 4") === v1)
    // metadata-only: the restored manifest points at v1's exact dirs
    assert(SnapshotManifest.read(droot, 4) === SnapshotManifest.read(droot, 1),
      "restore must share v1's data dirs verbatim, not rewrite them")
    // the stats sidecar is carried, so file-skipping stays live
    val hist = spark.sql(s"CALL $cat.history('$tn')").collect()
      .map(r2 => (r2.getInt(0), r2.getBoolean(3))).toMap
    assert(hist(4) === hist(1),
      "restored version must carry the source version's stats sidecar")
    // a restore is a normal commit: DML continues on top of it
    spark.sql(s"INSERT INTO $t VALUES (5L, 50.0, '2024-02', '2024-02')")
    assert(rowsOf(t) === v1 + ((5L, 50.0)))
    // restoring to an unpublished version refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.restore('$tn', 99)").collect()
    }
    assert(e.getMessage.contains("not published"),
      s"unpublished restore target must refuse: ${e.getMessage}")
  }

  test("ALTER TABLE ADD COLUMN publishes a schema-only version; " +
    "other DDL changes stay refused") {
    val (droot, t) = dmlStore()
    spark.sql(s"ALTER TABLE $t ADD COLUMN note STRING")
    assert(SnapshotManifest.head(droot) === 2,
      "the widening must be its own CAS version")
    // zero data movement: v2 shares v1's dirs verbatim
    assert(SnapshotManifest.read(droot, 2) ===
      SnapshotManifest.read(droot, 1))
    val widened = spark.sql(s"SELECT k, price, note FROM $t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(widened === Set((1L, 10.0, null), (2L, 20.0, null),
      (3L, 30.0, null)), "old files must read the new column as NULL")
    // and the new column is writable through the DML doors
    spark.sql(s"INSERT INTO $t VALUES " +
      "(4L, 40.0, '2024-02', 'fresh', '2024-02')")
    val got = spark.sql(s"SELECT k, note FROM $t WHERE k = 4").head()
    assert(got.getString(1) === "fresh")
    val dup = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMN note STRING")
    }
    assert(dup.getMessage.toLowerCase.contains("exist"))
    // round 12: DROP COLUMN is now a metadata-only #drop tombstone
    // (SnapshotDropColumnSpec owns the full surface); the key column
    // still refuses
    spark.sql(s"ALTER TABLE $t DROP COLUMN note")
    assert(!spark.sql(s"SELECT * FROM $t").columns.contains("note"))
    val dropKey = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t DROP COLUMN k")
    }
    assert(dropKey.getMessage.contains("key column"),
      s"got: ${dropKey.getMessage}")
  }

  test("vacuum folds the evolved schema into table.meta before " +
    "deleting the manifest that carried it") {
    val (droot, t) = dmlStore()
    spark.sql(s"ALTER TABLE $t ADD COLUMN note STRING") // v2: schema-only
    spark.sql(s"INSERT INTO $t VALUES " +
      "(4L, 40.0, '2024-02', 'kept', '2024-02')") // v3: no #schema record
    val cat = t.split("\\.")(0)
    // expire v1 and v2 — v2's manifest held the ONLY #schema record
    spark.sql(s"CALL $cat.vacuum('${droot.getFileName}', 1, 0)")
    assert(SnapshotMeta.read(droot).get.dataSchema.fieldNames
      .contains("note"),
      "the effective schema must persist in table.meta")
    val got = spark.sql(s"SELECT k, note FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, null), (2L, null), (3L, null), (4L, "kept")),
      "evolved column and its data must survive the vacuum")
  }

  test("TRUNCATE TABLE routes through the DELETE door") {
    val (droot, t) = dmlStore()
    spark.sql(s"TRUNCATE TABLE $t")
    assert(rowsOf(t) === Set.empty[(Long, Double)])
    assert(SnapshotManifest.head(droot) === 2,
      "TRUNCATE must commit one (empty-manifest) version, not rewrite v1")
    assert(rowsOf(t, "VERSION AS OF 1") ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
  }

  test("SQL DML generalizes to a typed multi-column layout") {
    import spark.implicits._
    val droot = java.nio.file.Files.createTempDirectory("dml_multi")
      .resolve("ev")
    Seq((1L, java.sql.Date.valueOf("2024-01-10"), "click", 1.0),
        (2L, java.sql.Date.valueOf("2024-01-10"), "purchase", 2.0),
        (3L, java.sql.Date.valueOf("2024-01-11"), "click", 3.0))
      .toDF("event_id", "e_dt", "event_type", "value")
      .write.format("graft-snapshot")
      .option("keyCol", "event_id").option("partCols", "e_dt,event_type")
      .mode("append").save(droot.toString)
    val c = s"snapmulti${java.util.UUID.randomUUID.toString.take(6)}"
    spark.conf.set(s"spark.sql.catalog.$c",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse",
      droot.getParent.toString)
    val t = s"$c.`${droot.getFileName}`"
    // upsert key 2 + insert key 4; mirrors for BOTH layout columns
    spark.sql(s"INSERT INTO $t VALUES " +
      "(2L, DATE'2024-01-10', 'purchase', 2.5, DATE'2024-01-10', 'purchase')," +
      "(4L, DATE'2024-01-12', 'view', 4.0, DATE'2024-01-12', 'view')")
    // delete one (day, type) leaf via the typed mirror columns
    spark.sql(
      s"DELETE FROM $t WHERE e_dt_p = DATE'2024-01-10' AND event_type_p = 'click'")
    val got = spark.sql(s"SELECT event_id, value FROM $t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got === Set((2L, 2.5), (3L, 3.0), (4L, 4.0)))
    assert(SnapshotManifest.head(droot) === 3)
    assert(SnapshotMeta.read(droot).flatMap(_.keyCol) === Some("event_id"))
  }
}
