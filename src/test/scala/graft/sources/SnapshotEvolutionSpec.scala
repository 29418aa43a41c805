package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins add-column schema evolution in the snapshot store: a widening
  * upsert republishes `table.meta` with the new column APPENDED, old
  * files are never rewritten (they read the column back as NULL via
  * the declared-schema parquet fill — including pre-evolution files in
  * partitions a LATER commit touches), time-travel reads serve the
  * latest schema, and a delta that DROPS a table column is refused as
  * data loss.
  */
class SnapshotEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() = {
    val r = Paths.get("target/graft-io/evolve_spec",
      java.util.UUID.randomUUID.toString.take(8))
    Files.createDirectories(r.getParent)
    r
  }

  private def frame(rows: Seq[(Long, String, Double)], month: String) =
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_ym", lit(month))

  test("a widening upsert evolves the schema; old files read NULL") {
    val root = freshRoot()
    // v1: two partitions, no o_channel anywhere
    frame(Seq((1L, "O", 10.0), (2L, "O", 20.0)), "2024-01")
      .unionByName(frame(Seq((3L, "F", 30.0)), "2024-02"))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    assert(SnapshotMeta.read(root).dataSchema.fieldNames.toSeq ===
      Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_ym"))

    // v2: upsert key 2 WITH the new column — touches 2024-01 only
    frame(Seq((2L, "O", 99.0)), "2024-01")
      .withColumn("o_channel", lit("web"))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)

    // the widened schema rides INSIDE the winning manifest (atomic
    // with the commit), appended last and forced nullable; the
    // bootstrap meta sidecar stays untouched
    val evolved = SnapshotManifest.evolvedDataSchema(root).get
    assert(evolved.fieldNames.toSeq ===
      Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_ym",
        "o_channel"))
    assert(evolved("o_channel").nullable)
    assert(Files.readAllLines(
      root.resolve("manifests").resolve("v2.manifest")).get(0)
      .startsWith("#schema\t"))
    assert(SnapshotMeta.read(root).dataSchema.fieldNames.toSeq ===
      Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_ym"))

    def rows(v: Int): Set[(Long, Double, Option[String])] =
      SnapshotTable.read(spark, root, v)
        .select("o_orderkey", "o_totalprice", "o_channel").collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          Option(r.getString(2)))).toSet

    // head: delta row carries the value; the kept row of the touched
    // partition AND the untouched 2024-02 file (which physically lacks
    // the column) both read NULL
    assert(rows(2) === Set((1L, 10.0, None), (2L, 99.0, Some("web")),
      (3L, 30.0, None)))
    // latest-schema time travel: v1 serves the widened schema, all-NULL
    assert(rows(1) === Set((1L, 10.0, None), (2L, 20.0, None),
      (3L, 30.0, None)))
  }

  test("a later commit may touch a pre-evolution partition") {
    val root = freshRoot()
    frame(Seq((1L, "O", 10.0)), "2024-01")
      .unionByName(frame(Seq((3L, "F", 30.0)), "2024-02"))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    // v2 widens while touching only 2024-01
    frame(Seq((2L, "O", 20.0)), "2024-01").withColumn("o_channel", lit("web"))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    // v3 touches 2024-02, whose files PREDATE the column: its kept row
    // must fill NULL (not crash the union) and the delta row carries it
    frame(Seq((4L, "F", 40.0)), "2024-02").withColumn("o_channel", lit("app"))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    val got = SnapshotTable.read(spark, root, 3)
      .select("o_orderkey", "o_channel").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got === Set((1L, None), (2L, Some("web")),
      (3L, None), (4L, Some("app"))))
  }

  test("a commit spanning pre- and post-evolution partitions keeps " +
    "evolved values (kept read declares the schema, never infers)") {
    val root = freshRoot()
    frame(Seq((1L, "O", 10.0), (2L, "O", 20.0)), "2024-01")
      .unionByName(frame(Seq((3L, "F", 30.0), (4L, "F", 40.0)), "2024-02"))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    // v2 widens, touching only 2024-02: key 4 carries a channel
    frame(Seq((4L, "F", 44.0)), "2024-02").withColumn("o_channel", lit("web"))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    // v3 touches BOTH partitions: `existing` mixes a pre-evolution dir
    // (2024-01) with a post-evolution one (2024-02). A kept read that
    // INFERRED its schema from whichever file listed first could take
    // the pre-evolution footer and silently NULL key 4's channel in
    // the rewrite — the declared-schema read must preserve it.
    frame(Seq((1L, "O", 11.0)), "2024-01")
      .unionByName(frame(Seq((3L, "F", 33.0)), "2024-02"))
      .withColumn("o_channel", lit(null).cast("string"))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    val got = SnapshotTable.read(spark, root, 3)
      .select("o_orderkey", "o_totalprice", "o_channel").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
      .toSet
    assert(got === Set((1L, 11.0, None), (2L, 20.0, None),
      (3L, 33.0, None), (4L, 44.0, Some("web"))))
  }

  test("a delta dropping a table column is refused") {
    val root = freshRoot()
    frame(Seq((1L, "O", 10.0)), "2024-01")
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    val e = intercept[IllegalArgumentException] {
      Seq((1L, 99.0)).toDF("o_orderkey", "o_totalprice")
        .withColumn("o_ym", lit("2024-01"))
        .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    }
    assert(e.getMessage.contains("o_orderstatus"))
    // the refused commit must not have advanced the head
    assert(SnapshotManifest.head(root) === 1)
  }

  test("deletes on an evolved store keep working (no widening rules)") {
    val root = freshRoot()
    frame(Seq((1L, "O", 10.0), (2L, "O", 20.0)), "2024-01")
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    frame(Seq((2L, "O", 99.0)), "2024-01").withColumn("o_channel", lit("web"))
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append").save(root.toString)
    // the delete delta carries the PRE-evolution row shape (no
    // o_channel) — deletes are key-based, so the widening rules must
    // not apply to them
    frame(Seq((2L, "O", 99.0)), "2024-01")
      .write.format("graft-snapshot").option("keyCol", "o_orderkey").mode("append")
      .option("commitMode", "delete").save(root.toString)
    val keys = SnapshotTable.read(spark, root, 3)
      .select("o_orderkey").as[Long].collect().toSet
    assert(keys === Set(1L))
  }
}
