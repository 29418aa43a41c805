package graft.operators

import graft.sources.SnapshotTxn
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the skew-safety contract of [[SnapshotTxn.distributeByLayout]]
  * (the write-distribution step in front of every dynamic-partition
  * store write): under AQE it must plan a REBALANCE, so that a layout
  * partition value larger than the advisory size is SPLIT across
  * writer tasks (multiple files for the oversized leaf) instead of
  * becoming one straggler writer producing one giant file at 100 TB,
  * while small leaves still coalesce instead of fragmenting
  * tasks × partitions ways. With AQE off the hint would silently
  * no-op (ResolveCoalesceHints guards on adaptiveExecutionEnabled),
  * so that path must fall back to an explicit hash repartition —
  * still one writer per leaf, no adaptive splitting.
  */
class DistributeByLayoutSpec extends SparkSpec {

  private def leafFiles(out: String, leaf: String): Int = {
    val d = new java.io.File(out, leaf)
    assert(d.isDirectory, s"missing leaf dir $leaf under $out")
    d.listFiles().count(_.getName.endsWith(".parquet"))
  }

  test("AQE rebalance splits an oversized leaf; small leaves stay single") {
    // isolated session: this test rewires the advisory size, which
    // would warp AQE coalescing under concurrently-running suites
    val s = spark.newSession()
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      // toy-scale advisory: the hot leaf's shuffle bytes (~3 MB of
      // incompressible md5 text) dwarf it, the cold leaves sit far below
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256k")
    val prev = confs.keys.map(k =>
      k -> scala.util.Try(Option(s.conf.get(k))).toOption.flatten).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val out = java.nio.file.Files.createTempDirectory("graft_dbl").toString
    try {
      // pv "hot" carries 100k rows of 32-char random-ish text (md5 — the
      // shuffle bytes must not compress away); 10 cold pvs carry 100 each
      def build() = s.range(0, 100000)
        .select(lit("hot").as("pv"), md5(col("id").cast("string")).as("v"))
        .unionAll(s.range(0, 1000).select(
          concat(lit("cold"), col("id") % 10).as("pv"),
          md5(col("id").cast("string")).as("v")))
      val distributed = SnapshotTxn.distributeByLayout(build(), Seq("pv"))
      assert(distributed.queryExecution.optimizedPlan.toString
          .contains("RebalancePartitions"),
        "distributeByLayout must plan REBALANCE under AQE:\n" +
          distributed.queryExecution.optimizedPlan.toString)
      distributed.write.mode("overwrite").partitionBy("pv").parquet(out)
      assert(leafFiles(out, "pv=hot") > 1,
        "the oversized leaf must split across writer tasks under AQE")
      (0 until 10).foreach { i =>
        assert(leafFiles(out, s"pv=cold$i") === 1,
          s"small leaf cold$i must stay one file (coalesced, not fragmented)")
      }
      // distribution must never change the data
      assert(s.read.parquet(out).count() === 101000L)

      // AQE-off fallback: explicit hash repartition (the hint would
      // silently no-op), one writer per leaf, write still exact
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val off = SnapshotTxn.distributeByLayout(build(), Seq("pv"))
      val offPlan = off.queryExecution.optimizedPlan.toString
      assert(!offPlan.contains("RebalancePartitions"),
        s"AQE-off path must not rely on the rebalance hint:\n$offPlan")
      assert(offPlan.contains("RepartitionByExpression"),
        s"AQE-off path must hash-repartition on the layout:\n$offPlan")
      off.write.mode("overwrite").partitionBy("pv").parquet(out)
      assert(leafFiles(out, "pv=hot") === 1,
        "AQE-off hash distribution sends a pv to exactly one writer")
      assert(s.read.parquet(out).count() === 101000L)
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }
}
