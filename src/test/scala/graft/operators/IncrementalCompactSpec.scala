package graft.operators

import graft.sources.{SnapshotTxn, SnapshotManifest}
import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the properties that make the compaction pass INCREMENTAL (the
  * catalog entry's oracle only proves data-invariance):
  *
  *  1. selection is metadata-scoped — only months over the small-file
  *     threshold are rewritten; every cold month's manifest entry is
  *     the identical path string into the untouched v1 layout;
  *  2. the rewrite actually compacts (hot file counts collapse) and
  *     preserves clustering — compacted files within a month cover
  *     non-overlapping order-date ranges, so row-group pruning works;
  *  3. a second pass finds nothing hot, publishes NO version, and
  *     costs only the directory listing — the steady-state cost of a
  *     quiet table;
  *  4. the commit is a snapshot: v1 stays exactly readable.
  */
class IncrementalCompactSpec extends SparkSpec {

  private def fileCount(p: String): Int =
    Option(new File(p).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  test("compacts only hot months, preserves clustering, no-ops when quiet") {
    // private root: the shared catalog-entry fixture may already be
    // compacted by another suite's entry run in this JVM
    val root = SourceQueries.buildIncrCompactFixture(spark, sf0001,
      java.nio.file.Paths.get("target/graft-io/incr_compact_spec"))
    assert(SnapshotManifest.head(root) === 1)
    val m1 = SnapshotManifest.read(root, 1)
    val hotMonths = SourceQueries.IncrCompactHotMonths
    hotMonths.foreach { ym =>
      assert(fileCount(m1(ym)) >= SourceQueries.IncrCompactThreshold,
        s"hot month $ym not fragmented")
    }
    val coldCounts = (m1.keySet -- hotMonths).map(ym => ym -> fileCount(m1(ym)))
    val v1Agg = SnapshotTxn.snapshotRead(spark, root, 1)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()

    // force multiple output files per month so the clustering claim is
    // non-vacuous at this tiny SF
    val compacted = SourceQueries.compactHotPartitions(spark, root,
      SourceQueries.IncrCompactThreshold, filesPerMonth = Some(4))
    assert(compacted === hotMonths, s"wrong months compacted: $compacted")
    assert(SnapshotManifest.head(root) === 2)

    val m2 = SnapshotManifest.read(root, 2)
    (m1.keySet -- hotMonths).foreach { ym =>
      assert(m2(ym) === m1(ym), s"cold month $ym repointed")
    }
    coldCounts.foreach { case (ym, n) =>
      assert(fileCount(m2(ym)) === n, s"cold month $ym rewritten")
    }
    hotMonths.foreach { ym =>
      val n = fileCount(m2(ym))
      // range boundaries need not align with month edges, so a month
      // can span up to filesPerMonth + 2 tasks
      assert(n <= 6, s"hot month $ym still has $n files")
      assert(n >= 2, s"hot month $ym has $n files; the clustering check " +
        "below needs several to be meaningful")
    }

    // clustering preserved: within each compacted month, per-file
    // order-date ranges must not overlap
    hotMonths.foreach { ym =>
      val ranges = spark.read.parquet(m2(ym))
        .groupBy(col("_metadata.file_path"))
        .agg(min(col("o_orderdate")).cast("string").as("lo"),
          max(col("o_orderdate")).cast("string").as("hi"))
        .collect().map(r => (r.getString(1), r.getString(2)))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo, _)) =>
          assert(hi <= lo,
            s"$ym: file ranges overlap ($hi > $lo) — clustering lost")
        case _ => ()
      }
    }

    // quiet table: second pass selects nothing and publishes nothing
    assert(SourceQueries.compactHotPartitions(spark, root,
      SourceQueries.IncrCompactThreshold) === Nil)
    assert(SnapshotManifest.head(root) === 2)

    // snapshot semantics: v1 unchanged, v2 value-identical to v1
    val v1After = SnapshotTxn.snapshotRead(spark, root, 1)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()
    assert(v1After === v1Agg)
    val v2Agg = SnapshotTxn.snapshotRead(spark, root, 2)
      .agg(count(lit(1)), graft.functions.dsum(col("o_totalprice"))).head()
    assert(v2Agg === v1Agg)
  }
}
