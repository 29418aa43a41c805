package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Overhead profiler (round-16 optimization aid): runs named catalog
  * entries under the Bench session conf and reports, per entry, the
  * count of Spark jobs / stages / tasks and the wall split between the
  * warm run and a second (steady-state) run. The heavy catalog entries
  * are lifecycle fixtures whose bytes are tiny (bench_details shows
  * <20 MB shuffle on every >3 s entry), so the cost driver is job/task/
  * file-commit multiplicity — the thing this main measures directly.
  *
  * Usage: runMain graft.ProfileEntry <sfDir> <query> [query ...]
  */
object ProfileEntry {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = HarnessSession()
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    // SPARK_GRAFT_PROFILE_JOBS=1: print one line per job (callsite +
    // task count) — attributes a job-flooded entry's jobs to call sites
    val verbose = sys.env.contains("SPARK_GRAFT_PROFILE_JOBS")
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDesc.put(s.executionId,
            s.description.linesIterator.next().take(90))
          if (verbose) println(f"  exec ${s.executionId} start @${
            s.time % 1000000}%6d  ${execDesc.get(s.executionId)}")
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          if (verbose) println(f"  exec ${s.executionId} end   @${
            s.time % 1000000}%6d")
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val eid = Option(j.properties.getProperty("spark.sql.execution.id"))
          val d = eid.flatMap(i => Option(execDesc.get(i.toLong)))
            .getOrElse("?")
          println(s"  job ${j.jobId}: " +
            s"${j.stageInfos.map(_.numTasks).sum} tasks  exec=${
              eid.getOrElse("-")}  $d  [${
              j.stageInfos.map(si => s"${si.name.takeWhile(_ != '(')}:${
                si.numTasks}").mkString(", ")}]")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    def drain(): Unit =
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
    def once(name: String): (Double, Long, Long, Long) = {
      drain()
      val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
      val w0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - w0) / 1e9
      drain()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      (wall, jobs.get - j0, stages.get - s0, tasks.get - t0)
    }
    println(f"${"query"}%-28s ${"run1_s"}%7s ${"run2_s"}%7s ${"jobs"}%6s ${"stages"}%6s ${"tasks"}%7s")
    names.foreach { n =>
      val r1 = once(n)
      val r2 = once(n)
      println(f"$n%-28s ${r1._1}%7.2f ${r2._1}%7.2f ${r2._2}%6d ${r2._3}%6d ${r2._4}%7d")
    }
    spark.stop()
  }
}
