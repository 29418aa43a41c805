package graft.operators

import graft.sources.SnapshotTxn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** MEASURES what the incremental Z-order pass buys over the plain
  * date-sorted incremental compaction, on the same fragmented fixture
  * and the same 2-D predicate (the `ZorderLayoutSpec` method applied
  * to the hot-month rewrites):
  *
  *  - two private stores are built from identical data; one compacts
  *    hot months date-sorted, the other z-ordered on (day, custkey);
  *  - the same date-window + custkey-cut aggregate runs over each
  *    head snapshot, AQE off, and the parquet scans' `numOutputRows`
  *    (rows surviving row-group min/max skipping) must be strictly
  *    smaller for the z-store — date-sorted hot files each span the
  *    full custkey range, so the custkey cut prunes nothing there;
  *  - both heads must agree exactly with the uncompacted v1 read:
  *    layout is physical, never semantic.
  */
class IncrementalZorderSpec extends SparkSpec {

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ p.subqueries).flatMap(nodes)
    val scans = nodes(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "no parquet scan in executed plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("z-ordered hot months skip on both dimensions; date-sorted cannot") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")

    // sf0.01: ~150 rows per hot month, so 8 files/month gives real
    // row-group (= file) granularity for the skipping measurement
    val dateRoot = SourceQueries.buildIncrCompactFixture(s, sf001,
      java.nio.file.Paths.get("target/graft-io/incr_zorder_spec/datesort"))
    val zRoot = SourceQueries.buildIncrCompactFixture(s, sf001,
      java.nio.file.Paths.get("target/graft-io/incr_zorder_spec/zorder"))
    assert(SourceQueries.compactHotPartitions(s, dateRoot,
      SourceQueries.IncrCompactThreshold,
      filesPerMonth = Some(8)).nonEmpty)
    assert(SourceQueries.compactHotPartitions(s, zRoot,
      SourceQueries.IncrCompactThreshold,
      filesPerMonth = Some(8), zorder = true).nonEmpty)

    val maxCust = graft.core.Tables.orders(s, sf001)
      .agg(max(col("o_custkey"))).head().getLong(0)
    def query(root: java.nio.file.Path, v: Int): DataFrame =
      SnapshotTxn.snapshotRead(s, root, v)
        .filter(col("o_orderdate") >= lit("1996-01-05") &&
          col("o_orderdate") < lit("1996-03-25") &&
          col("o_custkey") <= lit(maxCust / 8))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.dsum(col("o_totalprice")).as("sum_price"))

    val zQ = query(zRoot, 2)
    val dQ = query(dateRoot, 2)
    val zRows = scanRows(zQ)
    val dRows = scanRows(dQ)
    assert(zRows < dRows,
      s"z-ordered head scanned $zRows rows, date-sorted $dRows — " +
        "no 2-D skipping advantage from the incremental pass")

    // re-clustering is transparent: both heads equal the v1 read
    val want = query(dateRoot, 1).orderBy("o_orderstatus").collect().toSeq
    assert(zQ.orderBy("o_orderstatus").collect().toSeq === want)
    assert(dQ.orderBy("o_orderstatus").collect().toSeq === want)
  }
}
