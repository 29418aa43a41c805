package graft.operators

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.functions.dsum
import graft.sources.SnapshotManifest

/** Pins the property that makes `source_merge_upsert` and
  * `source_delete_keys` viable at scale: their copy-on-write commits
  * through the `graft-snapshot` write door rewrite ONLY the partitions
  * the delta touches. A single-month upsert, then a single-month
  * delete, each publish one version whose manifest changes that
  * month's entry alone: every other month keeps its identical dir, and
  * every file under it keeps its name, length and mtime. Rows are
  * exact after each commit (count plus exact decimal sum).
  */
class MergeUpsertSpec extends SparkSpec {

  private def files(dir: String): Seq[(String, Long, Long)] =
    new File(dir).listFiles().filter(_.isFile).sortBy(_.getName)
      .map(f => (f.getName, f.length, f.lastModified)).toSeq

  private def exact(df: DataFrame) =
    df.agg(count(lit(1)), dsum(col("o_totalprice"))).head()

  test("merge rewrites touched partitions only; rows exact") {
    val root = Files.createTempDirectory("merge_spec").resolve("orders")
    def door(df: DataFrame, mode: String): Unit =
      df.write.format("graft-snapshot")
        .option("keyCol", "o_orderkey").option("partCol", "o_ym")
        .option("commitMode", mode).mode("append").save(root.toString)
    def head: DataFrame = spark.read.format("graft-snapshot").load(root.toString)

    val orders = Tables.orders(spark, sf0001)
      .withColumn("o_ym", date_format(col("o_orderdate"), "yyyy-MM"))
    door(orders, "upsert")
    val month = "1996-03"

    /** Run one commit; it must publish the next version with only
      * `month`'s manifest entry changed and every other partition's
      * dir and files untouched.
      */
    def scopedCommit(what: String)(body: => Unit): Unit = {
      val v = SnapshotManifest.head(root)
      val before = SnapshotManifest.read(root, v)
      val filesBefore = before.map { case (pv, d) => pv -> files(d) }
      body
      assert(SnapshotManifest.head(root) === v + 1, s"$what: one version")
      val after = SnapshotManifest.read(root, v + 1)
      assert(before.keySet === after.keySet, s"$what: partition set changed")
      val changed = before.keySet.filter(k => before(k) != after(k))
      assert(changed === Set(month),
        s"$what: expected only $month rewritten, got: $changed")
      (before - month).foreach { case (pv, d) =>
        assert(files(d) === filesBefore(pv), s"$what: $pv's files changed")
      }
    }

    // upsert: bump every order in ONE month by 1000.0
    val delta = orders.filter(col("o_ym") === month)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    assert(delta.count() > 0, s"fixture month $month is empty")
    scopedCommit("upsert")(door(delta, "upsert"))
    val merged = head
    assert(merged.count() === orders.count())
    // exact decimal sums: order-independent, so layout differences
    // can't smear the comparison the way a double fold would
    assert(exact(merged.filter(col("o_ym") === month)) === exact(delta))
    assert(exact(merged.filter(col("o_ym") =!= month)) ===
      exact(orders.filter(col("o_ym") =!= month)))

    // DELETE arm: same scoping, rows removed
    val isDoomed = col("o_ym") === month && col("o_orderkey") % 2 === 0
    val doomed = merged.filter(isDoomed).select("o_orderkey", "o_ym")
    val nDoomed = doomed.count()
    assert(nDoomed > 0)
    val want = exact(merged.filter(!isDoomed))
    scopedCommit("delete")(door(doomed, "delete"))
    val left = head
    assert(left.count() === orders.count() - nDoomed)
    assert(left.filter(isDoomed).count() === 0)
    assert(exact(left) === want)
  }
}
