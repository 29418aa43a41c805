package graft
import org.apache.spark.sql.SparkSession

/** The `local[cpus]` session the harness mains (Bench, Verify,
  * ProfileEntry) run the catalog under: one copy of the confs, so a
  * timing, a correctness dump and a job profile always describe the
  * same engine setup. `cpus` is `$SPARK_GRAFT_CPUS` (default 32).
  */
object HarnessSession {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Scan-split sizing follows the same rule as a real cluster: small
      // enough that every core gets work at the harness SF (a 10 MB table
      // must not become one task), large enough to amortize reader open
      // cost. At 100 TB the default 128m is right; harness inputs are
      // ~10-250 MB, so 4m keeps all 32 cores busy on scans and file sinks.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // Open-cost plays TWO roles in split planning: the per-file
      // packing charge (how many small files share one split) and the
      // MINIMUM split size (maxSplit = min(maxPartitionBytes,
      // max(openCost, bytes/cores))). Round 16's 128k fixed the store
      // scans (the stock 32-files-per-split ratio at 4m splits) but its
      // floor role fragmented every small single-file table into ~128k
      // tasks — the measured 15-30% regression cluster on sql_q2/q12/
      // q16/q17/q20, table_checksum, wc (VERDICT r16 #3). 512k was the
      // measured optimum of {128k, 512k, 4m} on that cluster PLUS the
      // many-leaf store reads (round-17 table in OPTIMIZATION_r17.md:
      // 13.3 s vs 15.5/15.0): stores still pack ~8 files per split,
      // small tables stop splintering below the per-task amortization
      // point (~512k of local-disk read per ~ms-scale task). The floor
      // role does NOT scale with split size — it tracks scheduling
      // overhead — so a 100 TB deployment keeps the stock 4m with 128m
      // splits.
      .config("spark.sql.files.openCostInBytes", "512k")
      // Multi-dir reads beyond this many paths launch a distributed
      // listing job (one task per dir) before any scan: the store's
      // many-leaf tables (days x bucket layouts: 124-312 leaf dirs)
      // paid a listing job PER read - staging re-read, stats sidecar,
      // Bloom build - on a LOCAL filesystem where serial driver
      // listing is microseconds per dir. 512 keeps the distributed
      // path for genuinely huge tables; an object-store deployment
      // would lower it back toward the 32 default.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "512")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
