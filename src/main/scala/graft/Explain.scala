package graft
import org.apache.spark.sql.SparkSession

/** Plan-inspection tool: prints the formatted physical plan of the named
  * catalog queries (all queries when none named). Used to audit pushdown
  * (`PushedFilters`), pruning (`ReadSchema`), join strategy (broadcast vs
  * SMJ), exchange reuse, and WholeStageCodegen coverage.
  *
  * With `-o <dir>` as the first two args, each query's plan is ALSO
  * written to `<dir>/<query>.txt` — the committed-evidence mode behind
  * `plans/r<N>/<query>_{before,after}.txt` (generate `_before` from the
  * round's baseline commit in a scratch checkout, `_after` from HEAD).
  *
  * Usage: runMain graft.Explain [-o outDir] <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (outDir, rest) =
      if (args.length >= 2 && args(0) == "-o") (Some(args(1)), args.drop(2))
      else (None, args)
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(spark)
    // plan inspection must not execute workloads: shared-subtree
    // checkpoints become lazy under this conf (graft.core.Checkpoint)
    spark.conf.set(graft.core.Checkpoint.LazyConf, "true")
    outDir.foreach(d => new java.io.File(d).mkdirs())
    // WRITE-plane evidence: the store's dynamic-partition write
    // distribution is invisible in every read plan, so the synthetic
    // name `write_distribute_by_layout` dumps the distributed frame a
    // commit hands to `.write.partitionBy(...)` — REBALANCE under AQE
    // (RebalancePartitions), explicit hash repartition with AQE off.
    for (n <- names.filter(_ == "write_distribute_by_layout")) {
      import org.apache.spark.sql.functions._
      val frame = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM").as("o_ym_p"))
      val txt = Seq("true", "false").map { aqe =>
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val p = graft.sources.SnapshotTxn
          .distributeByLayout(frame, Seq("o_ym_p"))
          .queryExecution.optimizedPlan.toString
        s"== adaptive.enabled=$aqe ==\n$p"
      }.mkString("\n")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      println(s"\n===================== $n =====================")
      println(txt)
      outDir.foreach { d =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"$n.txt"), txt.getBytes("UTF-8"))
      }
    }
    for (n <- names.filterNot(_ == "write_distribute_by_layout")) {
      println(s"\n===================== $n =====================")
      val plan =
        try SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"explain failed: $e" }
      println(plan)
      outDir.foreach { d =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"$n.txt"), plan.getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
