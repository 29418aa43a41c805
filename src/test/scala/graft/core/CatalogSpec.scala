package graft.core

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException

import graft.SparkSpec
import graft.plans.GraftExtensions

class CatalogSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Run `body` with session conf `key` set to `value`, then restore it
    * (unset again if it was unset). */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("SQL surface: star-schema query over registered views") {
    Catalog.register(spark, sf0001)
    val rows = spark.sql(
      """SELECT r_name, count(*) AS n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin).collect()
    assert(rows.length === 5)
    assert(rows.map(_.getLong(1)).sum === 150L)
  }

  test("SQL surface: events view has normalized microsecond timestamps") {
    Catalog.register(spark, sf0001)
    val t = spark.sql("SELECT ts FROM events LIMIT 1").schema("ts")
    assert(t.dataType.typeName === "timestamp")
  }

  test("graft_min_k from SQL equals sort_array(collect_set)[1:k]") {
    Catalog.register(spark, sf0001)
    val viaMinK = spark.sql(
      """SELECT lang, graft_min_k(source, 3) AS v
        |FROM documents GROUP BY lang""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val viaSet = spark.sql(
      """SELECT lang, slice(sort_array(collect_set(source)), 1, 3) AS v
        |FROM documents GROUP BY lang""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaMinK === viaSet)
  }

  test("graft_min_k uses partial (map-side) aggregation") {
    Catalog.register(spark, sf0001)
    val plan = spark.sql(
      "SELECT lang, graft_min_k(source, 3) FROM documents GROUP BY lang")
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate appears twice: partial + final
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected two-phase object hash aggregate:\n$plan")
  }

  test("graft_min_k caps the buffer at k regardless of group size") {
    Catalog.register(spark, sf0001)
    val rows = spark.sql(
      """SELECT graft_min_k(CAST(doc_id AS STRING), 4) AS v
        |FROM documents""".stripMargin).collect()
    assert(rows.head.getSeq[String](0) ===
      Seq("0", "1", "10", "100"))
  }

  test("dirKey: 64-bit, path-keyed, spelling-insensitive") {
    val k = Tables.dirKey(sf0001)
    assert(k.matches("[0-9a-f]{16}"), k)
    assert(Tables.dirKey(sf0001 + "/../" + new java.io.File(sf0001).getName)
      === k) // same dir, different spelling
    assert(Tables.dirKey("/root/testdata/sf0.01") !== k)
  }

  test("dataFingerprint tracks in-place regeneration") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp")
    val f = dir.resolve("part-0.parquet")
    java.nio.file.Files.writeString(f, "aaaa")
    val fp1 = Tables.dataFingerprint(dir.toString)
    assert(fp1.matches("[0-9a-f]{12}"), fp1)
    assert(Tables.dataFingerprint(dir.toString) === fp1) // stable
    // same size, same name, newer mtime — the in-place rewrite case
    java.nio.file.Files.writeString(f, "bbbb")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 5000))
    assert(Tables.dataFingerprint(dir.toString) !== fp1)
  }

  test("schema cache: a repeated load or register starts no Spark job") {
    Catalog.register(spark, sf0001) // fills the cache for every table
    assert(jobsDuring(Tables.load(spark, sf0001, "orders")) === 0)
    assert(jobsDuring(Catalog.register(spark, sf0001)) === 0)
  }

  test("schema cache: every table loads as a plain parquet read does") {
    for (name <- Tables.all) {
      val path = s"$sf0001/$name.parquet"
      val (loaded, plain) =
        if (name == "events")
          (Tables.events(spark, sf0001),
            Tables.normalizeEventTs(spark.read.parquet(path)))
        else (Tables.load(spark, sf0001, name), spark.read.parquet(path))
      assert(loaded.schema === plain.schema, name)
      assert(loaded.collect().toSeq === plain.collect().toSeq, name)
    }
  }

  test("schema cache: an in-place rewrite with another schema is seen") {
    val dir = Files.createTempDirectory("graft_schema_cache")
    val nation = dir.resolve("nation.parquet")
    Files.copy(java.nio.file.Paths.get(s"$sf0001/nation.parquet"), nation)
    assert(Tables.load(spark, dir.toString, "nation").columns
      .contains("n_nationkey"))
    Files.copy(java.nio.file.Paths.get(s"$sf0001/region.parquet"), nation,
      StandardCopyOption.REPLACE_EXISTING)
    val reloaded = Tables.load(spark, dir.toString, "nation")
    assert(reloaded.schema ===
      spark.read.parquet(s"$sf0001/region.parquet").schema)
    assert(reloaded.count() === 5L)
  }

  test("schema cache: each value of an inference conf keys its own entry") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    // a fresh path, so no earlier load has keyed it under either value
    val events = Files.createTempDirectory("graft_schema_conf")
      .resolve("events.parquet").toString
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(events))
    withConf(nanos, "true")(Tables.schemaOf(spark, events))
    // the other value misses once, then both values hit
    assert(withConf(nanos, "false")(jobsDuring(Tables.schemaOf(spark, events))) === 1)
    assert(withConf(nanos, "false")(jobsDuring(Tables.schemaOf(spark, events))) === 0)
    assert(withConf(nanos, "true")(jobsDuring(Tables.schemaOf(spark, events))) === 0)
    // a conf that changes the inferred type: the NTZ-annotated ts column
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    for (v <- Seq("true", "false", "true")) withConf(ntz, v) {
      assert(Tables.schemaOf(spark, events)("ts").dataType ===
        spark.read.parquet(events).schema("ts").dataType, s"$ntz=$v")
    }
  }

  test("schema cache: a missing table still fails with PATH_NOT_FOUND") {
    val e = intercept[AnalysisException] {
      Tables.load(spark, sf0001, "no_such_table")
    }
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
  }

  test("extensions class injects functions via SparkSessionExtensions") {
    // the class route is what spark.sql.extensions uses; exercise apply()
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    // and the programmatic route stays idempotent
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
  }
}
