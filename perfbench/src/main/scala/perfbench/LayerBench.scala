package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** One benchmark run of one workload: a closed loop of catalog ops from
  * one client, timed from outside through the engine's public entry
  * points (`SparkEntry.queries(name)(spark, sfDir)` then a `noop` write).
  *
  * Phases, in order:
  *  1. set-up: session (graft.Bench's confs) and one untimed pass that
  *     writes each op's result as parquet, plus `oracle_sql.json`, for
  *     the DuckDB output check; it also warms the JIT and builds every
  *     fixture the ops share;
  *  2. whole timed passes until `--seconds` have elapsed, and at least
  *     [[MinPasses]]; each pass runs the ops in an order permuted by
  *     `--seed`.
  *
  * Between ops, outside the timed window, it repeats graft.Bench's
  * hygiene (unpersist leftover RDD blocks, `StateStore.stop()`,
  * `System.gc()`) and samples the heap left after the collection.
  *
  * With `--trace 1` it registers a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener before the timed
  * passes, and records Hadoop FileSystem statistics and the store files
  * each op leaves under the engine's scratch tree. Raw spans and
  * counters go to `<out>/raw.json`; `run.py` turns them into metrics.
  */
object LayerBench {
  val MinPasses = 3

  final case class OpRun(op: String, pass: Int, startMs: Long, eagerEndMs: Long,
                         endMs: Long, wallS: Double, eagerS: Double, stealS: Double,
                         ok: Boolean, error: String, counters: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ops = a("ops").split(",").toSeq
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val sfDir = a("sf")
    val cpus = a("cpus")
    val out = Paths.get(a("out"))
    Files.createDirectories(out)

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = session(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val failures = scala.collection.mutable.LinkedHashMap[String, String]()

    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val heapSamples = scala.collection.mutable.ArrayBuffer[Long]()
    // blocking unpersist, unlike graft.Bench, so that the heap sampled
    // right after the collection never still holds the dropped blocks
    def hygiene(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      System.gc()
      heapSamples += heap.getHeapMemoryUsage.getUsed
    }

    // Warm pass and output check in one: each op runs once untimed and
    // writes its result as parquet for the DuckDB check, which JIT-warms
    // the code and builds every fixture the ops share before timing.
    val check = out.resolve("check")
    val t2 = System.nanoTime()
    val warmOps = ops.map { op =>
      hygiene()
      val w0 = System.nanoTime()
      try SparkEntry.queries(op)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(check.resolve(op).toString)
      catch { case e: Throwable => failures(op) = s"warm/check: ${msg(e)}" }
      op -> (System.nanoTime() - w0) / 1e9
    }.toMap
    hygiene()
    val warmS = (System.nanoTime() - t2) / 1e9
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.createDirectories(check)
    Files.writeString(check.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}"))
    // the heap figure covers the timed passes only
    heapSamples.clear()

    val tracer =
      if (trace) Some(new Tracer(spark, Seq(Paths.get("target"), Paths.get("spark-warehouse"))))
      else None
    val runs = scala.collection.mutable.ArrayBuffer[OpRun]()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rng = new scala.util.Random(seed)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass < MinPasses || System.nanoTime() < deadline) {
      rng.shuffle(ops).foreach { op =>
        hygiene()
        tracer.foreach(_.before())
        val startMs = System.currentTimeMillis()
        val st0 = steal()
        val s0 = System.nanoTime()
        var eagerEnd = s0
        var error = ""
        try {
          val df = SparkEntry.queries(op)(spark, sfDir)
          eagerEnd = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable => error = msg(e) }
        val s1 = System.nanoTime()
        val st1 = steal()
        val endMs = System.currentTimeMillis()
        val eagerEndMs = startMs + (eagerEnd - s0) / 1000000L
        val counters = tracer.map(_.after()).getOrElse(Map.empty)
        runs += OpRun(op, pass, startMs, eagerEndMs, endMs, (s1 - s0) / 1e9,
          (eagerEnd - s0) / 1e9, (st1 - st0) / 100.0, error.isEmpty, error, counters)
        if (error.nonEmpty) System.err.println(s"[perfbench] $op failed: $error")
      }
      pass += 1
    }
    hygiene()
    val heapMb = heapSamples.map(_ / 1048576.0).mkString("[", ",", "]")
    tracer.foreach(_.close())

    val sb = new StringBuilder
    sb ++= s"""{"setup":{"setup_s":$setupS,"session_s":$sessionS,"warm_s":$warmS,"warm_ops_s":${obj(warmOps)}},"""
    sb ++= s""""passes":$pass,"cpus":$cpus,"heap_after_gc_mb":$heapMb,"""
    sb ++= s""""failures":{${failures.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}},"""
    sb ++= """"ops":["""
    sb ++= runs.map { r =>
      s"""{"op":${q(r.op)},"pass":${r.pass},"start_ms":${r.startMs},"eager_end_ms":${r.eagerEndMs},""" +
      s""""end_ms":${r.endMs},"wall_s":${r.wallS},"steal_s":${r.stealS},"eager_s":${r.eagerS},"ok":${r.ok},""" +
      s""""error":${q(r.error)},"counters":${obj(r.counters)}}"""
    }.mkString(",\n")
    sb ++= "]"
    tracer.foreach(t => sb ++= s",${t.spansJson}")
    sb ++= "}\n"
    Files.writeString(out.resolve("raw.json"), sb.toString)
    spark.stop()
  }

  /** The session graft.Bench builds, with the same confs. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** CPU time (in 1/100 s) the host took from this machine's virtual
    * CPUs, from the `steal` column of /proc/stat; 0 where absent. */
  def steal(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong
    catch { case _: Exception => 0L }

  def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}

/** Listeners and counters of a traced run. Everything is observed from
  * outside the engine: Spark's listener buses, Hadoop FileSystem
  * statistics, and a walk of the store's scratch tree.
  */
final class Tracer(spark: SparkSession, scratch: Seq[Path]) {
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val execs = new ConcurrentLinkedQueue[String]()
  private val phases = new ConcurrentLinkedQueue[String]()
  private val batches = new ConcurrentLinkedQueue[String]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  // SQL execution id -> module of its call site, which Spark captures on
  // the thread that started the execution (the op's own thread)
  private val execModule = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
  // task-side sums: tasks, failed, run ms, cpu ns, gc ms, input, shuffle
  // write, shuffle read, spill (bytes); stages, queries started
  private val sums = Array.fill(11)(new java.util.concurrent.atomic.AtomicLong)
  import LayerBench.q

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // A job that belongs to a SQL execution takes the module of the
      // execution's call site: jobs launched on Spark helper threads
      // (broadcast, subquery, AQE stages) have no graft frame of their
      // own. Otherwise the result stage's call site (long form = stack).
      val result = e.stageInfos.maxByOption(_.stageId)
      val props = Option(e.properties)
      val fromExec = Seq("spark.sql.execution.id", "spark.sql.execution.root.id").iterator
        .flatMap(k => props.flatMap(p => Option(p.getProperty(k))))
        .flatMap(id => Option(execModule.get(id))).find(_ != "other")
      val module = fromExec.getOrElse(Tracer.module(result.map(_.details).getOrElse("")))
      jobStart.put(e.jobId, (e.time, module, result.map(_.name).getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (start, module, short) =>
        jobs.add(s"""{"id":${e.jobId},"start_ms":$start,"end_ms":${e.time},""" +
          s""""module":${q(module)},"site":${q(short)}}""")
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      sums(9).incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      sums(0).incrementAndGet()
      if (e.taskInfo != null && e.taskInfo.failed) sums(1).incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        sums(2).addAndGet(m.executorRunTime)
        sums(3).addAndGet(m.executorCpuTime)
        sums(4).addAndGet(m.jvmGCTime)
        sums(5).addAndGet(m.inputMetrics.bytesRead)
        sums(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        sums(7).addAndGet(m.shuffleReadMetrics.totalBytesRead)
        sums(8).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, s.time)
        execModule.put(s.executionId.toString, Tracer.module(s.details))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execStart.remove(s.executionId)).foreach { start =>
          execs.add(s"""{"id":${s.executionId},"start_ms":$start,"end_ms":${s.time}}""")
        }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map { case (n, p) =>
        s"""{"phase":${q(n)},"start_ms":${p.startTimeMs},"end_ms":${p.endTimeMs}}"""
      }
      phases.add(ps.mkString("[", ",", "]"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      sums(10).incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val st = p.stateOperators
      batches.add(s"""{"query":${q(String.valueOf(p.runId))},"batch":${p.batchId},""" +
        s""""start_ms":$start,"end_ms":${start + d.getOrElse("triggerExecution", 0.0).toLong},""" +
        s""""input_rows":${p.numInputRows},"durations_ms":${LayerBench.obj(d)},""" +
        s""""state_rows":${st.map(_.numRowsTotal).sum},"state_mem_bytes":${st.map(_.memoryUsedBytes).sum},""" +
        s""""state_commit_ms":${st.map(_.commitTimeMs).sum}}""")
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private def drain(): Unit = org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)

  private def fsStats(): Array[Long] = {
    val ss = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Array(ss.map(_.getBytesRead).sum, ss.map(_.getBytesWritten).sum)
  }

  /** path -> (size, mtime) of every file under the scratch trees. */
  private def walk(): Map[String, (Long, Long)] =
    scratch.filter(Files.isDirectory(_)).flatMap { root =>
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        try Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.io.IOException => None } // deleted mid-walk
      }.toList
      finally st.close()
    }.toMap

  private var sumsBefore: Array[Long] = Array.empty
  private var fsBefore: Array[Long] = Array.empty
  private var filesBefore: Map[String, (Long, Long)] = Map.empty

  def before(): Unit = {
    drain()
    filesBefore = walk()
    fsBefore = fsStats()
    sumsBefore = sums.map(_.get())
  }

  /** Counter deltas of the op that just ran. */
  def after(): Map[String, Double] = {
    drain()
    val s = sums.map(_.get()).zip(sumsBefore).map { case (x, y) => (x - y).toDouble }
    val f = fsStats().zip(fsBefore).map { case (x, y) => (x - y).toDouble }
    val changed = walk().filter { case (p, v) => !filesBefore.get(p).contains(v) }
    val manifests = changed.keys.count { p =>
      val path = Paths.get(p)
      path.getParent != null && path.getParent.getFileName.toString == "manifests" &&
        path.getFileName.toString.matches("v\\d+\\.manifest")
    }
    val data = changed.filter { case (p, _) => p.endsWith(".parquet") }
    val mb = 1048576.0
    Map(
      "tasks" -> s(0), "failed_tasks" -> s(1), "task_run_s" -> s(2) / 1e3,
      "task_cpu_s" -> s(3) / 1e9, "gc_s" -> s(4) / 1e3, "input_mb" -> s(5) / mb,
      "shuffle_write_mb" -> s(6) / mb, "shuffle_read_mb" -> s(7) / mb,
      "spill_mb" -> s(8) / mb, "stages" -> s(9), "stream_queries" -> s(10),
      "fs_mb_read" -> f(0) / mb, "fs_mb_written" -> f(1) / mb, "commits" -> manifests,
      "files_written" -> data.size, "mb_written" -> data.values.map(_._1).sum / mb)
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def spansJson: String =
    s""""jobs":${jobs.asScala.mkString("[", ",\n", "]")},""" +
    s""""sql_executions":${execs.asScala.mkString("[", ",\n", "]")},""" +
    s""""plan_phases":${phases.asScala.mkString("[", ",\n", "]")},""" +
    s""""batches":${batches.asScala.mkString("[", ",\n", "]")}"""
}

object Tracer {
  /** Engine module of a call-site stack: the package of its first
    * `graft` frame, `graft` for the top-level objects, else `bench` for
    * the benchmark's own final write.
    */
  def module(stack: String): String =
    stack.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(f) =>
        val pkg = f.split('.')
        if (pkg.length > 2 && pkg(1).headOption.exists(_.isLower)) pkg(1) else "graft"
      case None => if (stack.contains("perfbench.")) "bench" else "other"
    }
}
