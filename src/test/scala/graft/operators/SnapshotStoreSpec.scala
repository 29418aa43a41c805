package graft.operators

import graft.sources.{SnapshotTxn, SnapshotManifest}
import java.io.File
import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Pins the two properties that make the manifest snapshot store a
  * time-travel store rather than an in-place merge:
  *
  *  1. a commit writes NEW dirs and repoints only touched months — every
  *     untouched month's manifest entry is the identical string, and the
  *     parent version's data files are byte-for-byte untouched;
  *  2. the parent version remains EXACTLY readable after the commit
  *     (same rows, same sums), i.e. history is immutable.
  *
  * The catalog entries (`source_time_travel`, `source_table_diff`) prove
  * end-to-end values against DuckDB; this spec proves the sharing
  * mechanics on a single-month commit, where "touched" is a strict
  * subset of the months.
  */
class SnapshotStoreSpec extends SparkSpec {

  private def files(dir: String): Seq[(String, Long, Long)] =
    new File(dir).listFiles().filter(_.isFile).sortBy(_.getName)
      .map(f => (f.getName, f.length, f.lastModified)).toSeq

  test("single-month commit shares all other months; parent stays exact") {
    val root = Paths.get("target/graft-io/snapshot_spec")
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)

    val orders = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))
    val d1 = root.resolve("d1").toString
    orders.withColumn("o_ym_p", col("o_ym"))
      .write.partitionBy("o_ym_p").parquet(d1)
    val months = new File(d1).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("o_ym_p="))
      .map(f => f.getName.stripPrefix("o_ym_p=") -> f.getAbsolutePath)
      .toMap
    // publish v1 through the production writer so the spec pins the
    // real manifest format
    SnapshotTxn.writeManifest(root, 1, months)

    val month = "1996-03"
    assert(months.contains(month), s"fixture month $month missing")
    val parentFiles = months.map { case (ym, p) => ym -> files(p) }
    val v1Agg = SnapshotTxn.snapshotRead(spark, root, 1)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()

    val delta = orders.filter(col("o_ym") === month)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    assert(delta.count() > 0)
    SnapshotTxn.snapshotCommit(spark, root, 1, 2, delta,
      insertDelta = true)

    val m1 = SnapshotManifest.read(root, 1)
    val m2 = SnapshotManifest.read(root, 2)
    val repointed = m1.keySet.filter(ym => m1.get(ym) != m2.get(ym))
    assert(repointed === Set(month),
      s"expected only $month repointed, got: $repointed")
    // shared months: identical path strings AND untouched files
    (m1.keySet - month).foreach { ym =>
      assert(m2(ym) === m1(ym))
      assert(files(m1(ym)) === parentFiles(ym), s"files changed under $ym")
    }
    // parent version still exactly readable (history immutable)
    val v1After = SnapshotTxn.snapshotRead(spark, root, 1)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()
    assert(v1After === v1Agg)
    // child version shows exactly the delta
    val v2 = SnapshotTxn.snapshotRead(spark, root, 2)
    assert(v2.count() === orders.count())
    val gotMonth = v2.filter(col("o_ym") === month)
      .agg(graft.functions.dsum(col("o_totalprice"))).head().getDouble(0)
    val wantMonth = delta
      .agg(graft.functions.dsum(col("o_totalprice"))).head().getDouble(0)
    assert(gotMonth === wantMonth)
  }

  test("two commits racing off one parent: exactly one wins, vacuum sweeps the loser") {
    val root = Paths.get("target/graft-io/snapshot_race_spec")
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)

    val orders = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))
    val d1 = root.resolve("d1").toString
    orders.withColumn("o_ym_p", col("o_ym"))
      .write.partitionBy("o_ym_p").parquet(d1)
    val months = new File(d1).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("o_ym_p="))
      .map(f => f.getName.stripPrefix("o_ym_p=") -> f.getAbsolutePath)
      .toMap
    SnapshotTxn.writeManifest(root, 1, months)

    val month = "1996-03"
    def delta(bump: Double) = orders.filter(col("o_ym") === month)
      .withColumn("o_totalprice", col("o_totalprice") + lit(bump))
    val bumps = Seq(1000.0, 2000.0)

    // both committers observe head = v1 and aim at v2, released together
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def attempt(bump: Double) = pool.submit(
      new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          barrier.await()
          try { SnapshotTxn.snapshotCommit(spark, root, 1, 2, delta(bump),
                  insertDelta = true); None }
          catch { case e: Throwable => Some(e) }
        }
      })
    val outcomes = bumps.map(attempt).map(_.get())
    pool.shutdown()

    val losses = outcomes.flatten
    assert(losses.length === 1,
      s"exactly one racer must lose the CAS, got failures: $losses")
    assert(losses.head.isInstanceOf[SnapshotTxn.SnapshotConflictException],
      s"loser must see a conflict, got: ${losses.head}")
    assert(SnapshotManifest.head(root) === 2)

    // the published v2 is EXACTLY the winner's commit, not a blend
    val winnerBump = bumps(outcomes.indexWhere(_.isEmpty))
    val v2 = SnapshotTxn.snapshotRead(spark, root, 2)
    assert(v2.count() === orders.count())
    val gotMonth = v2.filter(col("o_ym") === month)
      .agg(graft.functions.dsum(col("o_totalprice"))).head().getDouble(0)
    val wantMonth = delta(winnerBump)
      .agg(graft.functions.dsum(col("o_totalprice"))).head().getDouble(0)
    assert(gotMonth === wantMonth)

    // every leaf dir not referenced by a kept manifest (= the loser's
    // attempt output, if it got as far as writing) is swept; the
    // winner's files survive byte-identical
    def leaves(): Seq[File] = root.toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.matches("d\\d+(-[0-9a-f]+)?"))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.isDirectory).toSeq
    val referenced = Seq(1, 2)
      .flatMap(v => SnapshotManifest.read(root, v).values)
      .map(p => new File(p).getCanonicalPath).toSet
    val orphans = leaves()
      .filterNot(l => referenced.contains(l.getCanonicalPath))
    val removed = SnapshotTxn.snapshotVacuum(root, keep = Set(1, 2))
    assert(removed === orphans.length,
      s"vacuum must sweep exactly the ${orphans.length} orphaned dirs")
    orphans.foreach(o => assert(!o.exists(), s"orphan survived: $o"))
    val v2After = SnapshotTxn.snapshotRead(spark, root, 2)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()
    assert(v2After.getLong(0) === orders.count())
  }

  test("vacuum removes only unreferenced dirs; kept version reads exact") {
    val root = Paths.get("target/graft-io/snapshot_vacuum_spec")
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)

    val orders = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))
    val d1 = root.resolve("d1").toString
    orders.withColumn("o_ym_p", col("o_ym"))
      .write.partitionBy("o_ym_p").parquet(d1)
    val months = new File(d1).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("o_ym_p="))
      .map(f => f.getName.stripPrefix("o_ym_p=") -> f.getAbsolutePath)
      .toMap
    SnapshotTxn.writeManifest(root, 1, months)
    val month = "1996-03"
    val delta = orders.filter(col("o_ym") === month)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    SnapshotTxn.snapshotCommit(spark, root, 1, 2, delta,
      insertDelta = true)

    val v2Before = SnapshotTxn.snapshotRead(spark, root, 2)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()

    // v1-only data = the repointed month's ORIGINAL dir; everything
    // else is shared with v2 and must survive
    val removed = SnapshotTxn.snapshotVacuum(root, keep = Set(2))
    assert(removed === 1, s"expected exactly the old $month dir, got $removed")
    assert(!new File(months(month)).exists(), "v1-only dir not swept")
    (months - month).values.foreach { p =>
      assert(new File(p).exists(), s"shared dir swept: $p")
    }
    assert(!root.resolve("manifests").resolve("v1.manifest").toFile.exists())

    val v2After = SnapshotTxn.snapshotRead(spark, root, 2)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()
    assert(v2After === v2Before)
  }
}
