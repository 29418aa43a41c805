package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.core.Tables
import graft.functions._
import graft.sources.SnapshotManifest
import graft.sources.SnapshotTxn._

/** Source/sink breadth (SURVEY.md §2.3): the reference engine reads whole
  * text files and writes `"key value"` text lines plus JSON-lines
  * intermediates; this module exercises the Spark-native equivalents —
  * CSV, JSON-lines, and text round-trips through real on-disk files, and
  * a Structured Streaming file source — each verified against a DuckDB
  * oracle over the original parquet (a lossy round-trip would
  * hash-mismatch, so the encode/decode fidelity itself is under test).
  *
  * Round-trip files land under `target/graft-io/jvm-<pid>` (repo-local
  * scratch, private per JVM — see [[scratchRoot]]).
  * Timestamps are written with explicit microsecond patterns (the CSV/
  * JSON defaults truncate to millis); doubles survive exactly because
  * Spark emits shortest-round-trip decimal strings.
  */
object SourceQueries {

  /** Per-JVM scratch root. Round-trip entries rewrite their scratch on
    * every call, so two JVMs sharing a path race: observed — a
    * concurrently-running plan-lint JVM overwrote `text_wc` mid-read
    * and a Verify catalog dump landed silently empty. Keying the root
    * by pid makes each JVM's scratch private (it also keeps embedded
    * Derby's single-JVM db lock uncontended). Roots of DEAD JVMs are
    * swept at first use — /proc/<pid> liveness, valid on this Linux
    * harness — so scratch doesn't accumulate across runs.
    */
  private lazy val scratchRoot: java.io.File = {
    val base = new java.io.File("target/graft-io")
    base.mkdirs()
    val pid = ProcessHandle.current().pid()
    Option(base.listFiles()).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      if (n.startsWith("jvm-") && n != s"jvm-$pid" &&
          !java.nio.file.Files.exists(
            java.nio.file.Paths.get("/proc", n.stripPrefix("jvm-"))))
        org.apache.commons.io.FileUtils.deleteQuietly(f)
    }
    val mine = new java.io.File(base, s"jvm-$pid")
    mine.mkdirs()
    mine
  }

  private def ioDir(name: String): String = {
    val f = new java.io.File(scratchRoot, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Symlink the events table's parquet data into `streamDir` as plain
    * FILES: the harness sf dirs hold one `events.parquet` file, but
    * scaled-up dirs (`tools/scale_gen.py`) hold a DIRECTORY of part
    * files, which a file-stream source's flat listing would miss — so a
    * directory is linked file-by-file.
    */
  /** List a directory's entries eagerly, closing the stream (Files.list
    * holds an open directory fd until closed).
    */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = java.nio.file.Files.list(p)
    try st.iterator().asScala.toList finally st.close()
  }

  private def linkEvents(streamDir: java.nio.file.Path, dir: String): Unit =
    linkTable(streamDir, dir, "events")

  private def linkTable(streamDir: java.nio.file.Path, dir: String,
                        table: String): Unit = {
    java.nio.file.Files.createDirectories(streamDir)
    // ABSOLUTE target: a symlink stores its target string verbatim and
    // resolves it relative to the LINK's directory — linking a relative
    // sf dir (e.g. target/scale10) would create links that dangle from
    // inside the scratch dir and fail the whole streaming family with
    // UNABLE_TO_INFER_SCHEMA
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
      .toAbsolutePath.normalize
    val targets =
      if (java.nio.file.Files.isDirectory(src))
        listDir(src).filter(_.getFileName.toString.endsWith(".parquet"))
      else Seq(src)
    // the link set is defined by the CURRENT source layout: any <table>_*
    // entry outside it goes — that covers dangling links (renamed part
    // files) AND links whose target still exists but is no longer part
    // of the source (e.g. the parquet switched file ↔ directory, so
    // the old link now points at a directory or a superseded file)
    val expected = targets.map(f => s"${table}_${f.getFileName}" -> f).toMap
    listDir(streamDir).foreach { e =>
      val n = e.getFileName.toString
      // drop anything not in the expected set AND any surviving link
      // whose stored target differs (e.g. a relative target from before
      // the absolutization above)
      if (n.startsWith(s"${table}_") && (!expected.contains(n) ||
          (java.nio.file.Files.isSymbolicLink(e) &&
           java.nio.file.Files.readSymbolicLink(e) != expected(n))))
        java.nio.file.Files.deleteIfExists(e)
    }
    expected.foreach { case (name, f) =>
      val link = streamDir.resolve(name)
      if (!java.nio.file.Files.exists(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        // two sessions/suites may link the same scratch concurrently
        // (dirKey dedupes relative/absolute spellings into one dir) —
        // losing the check-then-create race is fine, the winner's link
        // is the identical target
        try java.nio.file.Files.createSymbolicLink(link, f)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
  }

  /** The file-stream source monitors a DIRECTORY; expose the events
    * parquet through a repo-local scratch dir (symlinks, no copy), one
    * per sf dir. Also flips the nanos-as-long conf the events schema
    * needs (see [[graft.core.Tables.events]]).
    */
  private def eventsStreamDir(s: SparkSession, dir: String): String = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Paths.get(ioDir("stream_events"))
      .resolve(Tables.dirKey(dir) + "f")
    linkEvents(streamDir, dir)
    streamDir.toString
  }

  /** Same scratch-dir exposure for the documents table (the incremental
    * dedup stream). */
  private def docsStreamDir(dir: String): String = {
    val streamDir = java.nio.file.Paths.get(ioDir("stream_docs"))
      .resolve(Tables.dirKey(dir) + "f")
    linkTable(streamDir, dir, "documents")
    streamDir.toString
  }

  /** orders → CSV files → read back (explicit schema, no inference job)
    * → aggregate. Oracle aggregates the parquet directly, so the CSV
    * encode/decode must be value-exact.
    */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val path = ioDir("csv_orders")
    orders.write.mode("overwrite")
      .option("timestampFormat", TsFmt).csv(path)
    s.read.schema(orders.schema)
      .option("timestampFormat", TsFmt).csv(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("sum_price"),
           max(col("o_orderdate")).as("last_order"))
  }

  /** lineitem (pruned) → JSON-lines files → read back → aggregate. The
    * reference's shuffle files were exactly this encoding
    * (mr/worker.go:112-117); here it is a first-class source/sink.
    */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate"))
    val path = ioDir("json_lineitem")
    // Spread the encode across the cluster regardless of how few input
    // splits the scan produced — JSON string-encoding is CPU-bound and
    // inherits the scan's parallelism otherwise (observed: one 10 MB
    // parquet split = one writer task = 8 s of single-core encode).
    // Same rule at 100 TB: size writer tasks by output, not input.
    li.repartition(s.sparkContext.defaultParallelism)
      .write.mode("overwrite")
      .option("timestampFormat", TsFmt).json(path)
    s.read.schema(li.schema)
      .option("timestampFormat", TsFmt).json(path)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
           dsum(col("l_quantity")).as("sum_qty"),
           dsum(col("l_extendedprice")).as("sum_price"),
           max(col("l_shipdate")).as("last_ship"))
  }

  /** Word count → `"word count"` text lines (the reference's output
    * format, mr/worker.go:175) → read back → parse → re-emit. The result
    * must equal the in-memory word count, proving the text sink+scan pair
    * is lossless for the reference's own data shape.
    */
  def textRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = ioDir("text_wc")
    CorpusQueries.wc(s, dir)
      .select(concat_ws(" ", col("word"), col("cnt")))
      .write.mode("overwrite").text(path)
    s.read.text(path)
      .select(split(col("value"), " ").as("kv"))
      .select(element_at(col("kv"), 1).as("word"),
        element_at(col("kv"), 2).cast("long").as("cnt"))
  }

  /** The hourly event rollup as a STRUCTURED STREAMING job: file source
    * over the same parquet, 1-hour tumbling windows, Complete-mode memory
    * sink, Trigger.AvailableNow (process everything, then stop) — the
    * bounded-run harness for an unbounded pipeline. Incremental partial
    * aggregation per micro-batch is the streaming twin of the batch
    * partial+final agg, and the result hash-matches the same DuckDB
    * oracle as the batch query.
    */
  def streamingEventsHourly(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_hourly"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    // 8 state partitions for the bounded run (see streamingDedupEvents);
    // try covers setup too so a throw can't leak the 8-partition conf
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    try {
      val streamDir = eventsStreamDir(s, dir)
      val rawSchema = s.read.parquet(streamDir).schema // ts vintage varies
      val agg = s.readStream.schema(rawSchema).parquet(streamDir)
        .transform(Tables.normalizeEventTs)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             dsum(col("value")).as("sum_value"),
             davg(col("value")).as("avg_value"))
        .select(col("w.start").as("hour"), col("event_type"),
          col("n_events"), col("sum_value"), col("avg_value"))
      agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
  }

  /** Streaming stateful dedup: watermarked `dropDuplicates(event_id)` —
    * the exactly-once ingestion guard of a streaming pipeline (state =
    * one entry per id inside the watermark, evicted as event time
    * advances) — then a per-type rollup. The harness events are already
    * unique by id, so the oracle is the plain batch rollup: the operator
    * must pass everything through exactly once. Scoped to a 10% user
    * cohort: a bounded-run AvailableNow batch holds ALL ids in state at
    * once (no mid-batch watermark eviction), so the full table would
    * spend the whole benchmark writing state-store snapshots — a real
    * stream pays that state linearly, not all at once.
    */
  /** LATE-DATA ACCOUNTING: the watermark's drop side, verified
    * end-to-end. Four pinned-mtime file micro-batches: the middle
    * time slice [Jan 10, Jan 20) first, then the post-Jan-20 rows
    * (together they push the watermark to Jan 30 − 1 h), THEN the
    * pre-Jan-10 stragglers — deposited two batches after the first
    * watermark-setting data because late events are judged against
    * the PREVIOUS batch's watermark (the lateEvents/eviction split;
    * see the deposit comment), and days older than it so the exact
    * `<` vs `<=` boundary cannot blur the count — every straggler
    * must drop. A final sentinel pushes the watermark past every
    * real window so append mode emits them all. The engine's OWN
    * drop counter (`numRowsDroppedByWatermark`, summed over the
    * run's progress reports) rides the output as a column — it
    * counts dropped per-window PARTIALS, since the filter sits above
    * the map-side partial aggregate (see the in-code note) — and the
    * oracle recomputes both planes relationally: the kept-row
    * windows AND the distinct straggler windows. A straggler
    * admitted and aggregated (or an on-time row dropped)
    * hash-mismatches on both planes at once. At 100 TB this accounting is the difference
    * between "the pipeline ran" and "the pipeline silently discarded
    * a feed's stragglers".
    */
  def streamingLateData(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_late_data"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    // deterministic per-sf dir, wiped at entry start (the query above
    // is already stopped): leak-free across JVMs, idempotent per call
    val base = java.nio.file.Paths.get(ioDir("late_data"))
      .resolve(Tables.dirKey(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val inbox = base.resolve("inbox")
    java.nio.file.Files.createDirectories(inbox)
    val evts = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t0ms = 1700000000000L
    // Batch order matters in a measured way: Spark admits late events
    // against the watermark IN EFFECT DURING THE PREVIOUS BATCH (the
    // `watermarkForLateEvents` / `watermarkForEviction` split on
    // StateStoreSave — the new watermark a batch's own data produces
    // only gates input one batch later). Stragglers deposited
    // immediately after the watermark-setting batch land inside that
    // one-batch admission lag and are NOT dropped (measured: 0 drops,
    // every straggler window emitted). So the straggler file arrives
    // TWO batches after the first watermark-setting data.
    linkInboxFromPrototype(dir, "late_data",
        Seq("b0.parquet" -> t0ms, "b1.parquet" -> (t0ms + 60000),
          "b2.parquet" -> (t0ms + 120000),
          "b3.parquet" -> (t0ms + 180000)), inbox) { proto =>
      depositSingleParquet(
        evts.filter(col("ts") >= t1 && col("ts") < t2), proto, "b0", t0ms)
      depositSingleParquet(
        evts.filter(col("ts") >= t2), proto, "b1", t0ms + 60000)
      depositSingleParquet(
        evts.filter(col("ts") < t1), proto, "b2", t0ms + 120000)
      depositSingleParquet(
        evts.limit(1).select(lit(-1L).as("event_id"),
          lit("2024-03-01 00:00:00").cast("timestamp").as("ts"),
          lit("sentinel").as("event_type"), lit(0.0).as("value")),
        proto, "b3", t0ms + 180000)
    }
    // the deposits wrote exactly evts' projection, so its schema IS the
    // files' schema — no footer re-read needed
    val schema = evts.schema
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    val prevSplit = s.conf.get("spark.sql.files.maxPartitionBytes")
    val prevMinPn = s.conf.getOption("spark.sql.files.minPartitionNum")
    val dropped =
      try {
        // setup INSIDE try so a throw can't leak the pinned confs
        // (the streamingEventsHourly discipline)
        s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
        // the drop-count plane (see below) needs the straggler file to
        // be ONE map partition; parquet is splittable, so pin the split
        // size above any plausible fixture size instead of assuming.
        // maxPartitionBytes alone is only an UPPER bound — the actual
        // split is min(max, max(openCost, bytes/minPartitionNum)), and
        // minPartitionNum defaults to the session parallelism (32), so
        // a file past ~4 MB would still split 32 ways and the counter
        // would count each window once PER SPLIT. Pin both.
        s.conf.set("spark.sql.files.maxPartitionBytes", "1g")
        s.conf.set("spark.sql.files.minPartitionNum", "1")
        // NOTE: no filter between agg and sink — a predicate on the
        // window key pushes below the EventTimeWatermark node and
        // silently disables late-row dropping (observed: 0 drops, all
        // straggler windows emitted; the streaming_left_join_unmatched
        // pushdown caveat, aggregation edition). The sentinel's own
        // window never emits (nothing later advances the watermark
        // past it), and the belt-and-braces exclusion happens on the
        // BATCH result below.
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inbox.toString)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .select(col("w.start").as("hour"), col("n_events"),
            col("sum_value"))
          .writeStream
          .outputMode(OutputMode.Append())
          .format("memory")
          .queryName(qName)
          .option("checkpointLocation", base.resolve("chk").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.recentProgress
          .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark))
          .sum
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        s.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
        prevMinPn match {
          case Some(v) => s.conf.set("spark.sql.files.minPartitionNum", v)
          case None => s.conf.unset("spark.sql.files.minPartitionNum")
        }
      }
    s.table(qName)
      .filter(col("hour") < lit("2024-02-01").cast("timestamp"))
      // the drop counter sits ABOVE the map-side partial aggregate, so
      // it counts dropped per-window PARTIALS, not raw input rows; the
      // straggler batch is one coalesced file read as one map partition
      // (split size pinned above), so partials == distinct straggler
      // windows, which is what the oracle recomputes
      .withColumn("n_late_windows", lit(dropped))
  }

  def streamingDedupEvents(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_dedup"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    // fewer state partitions for the bounded run: each state partition
    // snapshots to disk per batch, and this job has ONE batch — 8 stores
    // amortize far better than 32 at harness scale (a real deployment
    // sizes this to the cluster; the setting is pinned at query start)
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    try {
      val streamDir = eventsStreamDir(s, dir)
      val rawSchema = s.read.parquet(streamDir).schema
      val agg = s.readStream.schema(rawSchema).parquet(streamDir)
        .transform(Tables.normalizeEventTs)
        .filter(col("user_id") % 10 === 0)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             dsum(col("value")).as("sum_value"))
      agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
  }

  /** Streaming dedup with `dropDuplicatesWithinWatermark` — the
    * BOUNDED-RETRY ingestion guard: where plain `dropDuplicates` keys
    * state on event time exactly (a duplicate with a jittered timestamp
    * slips through), this operator deduplicates any two occurrences of
    * a key whose event times fall within the watermark delay of each
    * other, and evicts each key once the watermark passes its first
    * sighting + delay. State is O(keys seen per watermark window) —
    * the operator of choice when an at-least-once feed retries with
    * drifting timestamps. Harness events are unique per id, so the
    * batch rollup oracle pins pass-through-exactly-once; the distinct
    * operator (vs `streaming_dedup_events`) is visible in the plan as
    * `DropDuplicatesWithinWatermark`.
    */
  def streamingDedupWithinWm(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_dedup_wm"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    try {
      val streamDir = eventsStreamDir(s, dir)
      val rawSchema = s.read.parquet(streamDir).schema
      val agg = s.readStream.schema(rawSchema).parquet(streamDir)
        .transform(Tables.normalizeEventTs)
        .filter(col("user_id") % 10 === 3)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             dsum(col("value")).as("sum_value"))
      agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
  }

  /** STREAM-STATIC enrichment join: the events file stream joined to the
    * (bounded, batch) customer dimension, then rolled up per (market
    * segment, event type). The static side re-plans per micro-batch as
    * an ordinary BROADCAST-hash join under the streaming plan — no join
    * state store at all, unlike stream-stream — which is why dimension
    * enrichment should always be stream-static: join state stays ZERO no
    * matter how long the stream runs, and a dimension update is picked
    * up at the next micro-batch. Aggregation state is bounded by
    * |segments| × |event types|, independent of throughput.
    */
  def streamingEnrichJoin(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_enrich"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    try {
      val streamDir = eventsStreamDir(s, dir)
      val rawSchema = s.read.parquet(streamDir).schema
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = s.readStream.schema(rawSchema).parquet(streamDir)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("event_type"),
          col("value"))
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             dsum(col("value")).as("sum_value"))
      agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
  }

  /** STREAMING incremental dedup: the arrival-time twin of
    * [[DedupQueries.dedupIncremental]]. The batch slice of documents
    * arrives as a file STREAM; each micro-batch computes MinHash band
    * signatures only for its OWN rows (the same map-side kernel as the
    * batch twin) and stream-static joins the persisted base-corpus band
    * index. The static side re-plans per micro-batch from the bucketed
    * warehouse table — no join state store at all (unlike
    * stream-stream), and each micro-batch shuffles O(its own rows)
    * while the corpus index is read pre-partitioned. This is online
    * dedup-at-ingest: documents are checked against a 100 TB corpus
    * index as they land, at per-arrival cost, and an index refresh is
    * picked up at the next micro-batch. The oracle is the SAME SQL as
    * the batch twin: arrival order and micro-batch boundaries must be
    * invisible in the result.
    */
  def streamingIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_incdedup"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val tbl = DedupQueries.ensureBandIndex(s, dir)
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "documents"))
    try {
      val streamDir = docsStreamDir(dir)
      val rawSchema = s.read.parquet(streamDir).schema
      val agg = DedupQueries
        .batchBandRows(s.readStream.schema(rawSchema).parquet(streamDir))
        .withColumnRenamed("doc_id", "doc_new")
        .join(s.table(tbl).withColumnRenamed("doc_id", "doc_base"),
          Seq("band", "sig"))
        .groupBy("doc_new", "doc_base")
        .agg(count(lit(1)).as("n_bands"))
      agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
  }

  /** STREAM-STREAM interval join: clicks joined to purchases by the same
    * user within the following 30 minutes — the attribution query — as
    * two watermarked streams over the same file source. The 1-hour
    * watermarks plus the two-sided time constraint let Spark bound BOTH
    * join-state buffers: at any moment each side retains ~90 minutes of
    * events per user-hash partition, evicted as event time advances, so
    * state is O(arrival rate × window), independent of total history —
    * the property that makes the join runnable forever at 100 TB/day.
    * The oracle is the equivalent batch self-join; every matched pair
    * must stream out exactly once (append mode).
    */
  def streamingClickAttribution(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_attrib"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    try {
      val streamDir = eventsStreamDir(s, dir)
      val rawSchema = s.read.parquet(streamDir).schema
      def side(tpe: String) = s.readStream.schema(rawSchema).parquet(streamDir)
        .transform(Tables.normalizeEventTs)
        .filter(col("event_type") === tpe)
      val clicks = side("click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = side("purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 30 minutes"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      joined.writeStream
        .outputMode(OutputMode.Append())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
  }

  /** STREAM-STREAM LEFT OUTER JOIN — the attribution query's other
    * half: every click, attributed if a purchase by the same user lands
    * within 30 min, emitted with NULL purchase columns otherwise. Outer
    * stream-stream joins only emit their null-padded rows when the
    * watermark proves no match can still arrive, so a bounded run needs
    * the watermark driven PAST the last click's match window — the
    * sentinel'd source ([[sessionEventsStream]]) exists for exactly
    * that. The sentinel row carries whatever event type the max-ts
    * event had, and it must advance BOTH sides' watermark nodes (the
    * global watermark is their min) — so each side's filter passes the
    * sentinel explicitly (`user_id < 0`). Writing the filter after
    * `withWatermark` would NOT suffice: Catalyst pushes non-ts
    * predicates below the EventTimeWatermark node, and a filtered-out
    * sentinel silently freezes the watermark one hour short — the
    * last clicks' null rows never emit (observed, then pinned by the
    * oracle row count).
    *
    * State is watermark-bounded on both sides (the time-range condition
    * gives the engine per-side expiry deadlines), exactly as at scale:
    * unmatched-click emission is O(expired state), never a scan replay.
    */
  def streamingLeftJoinUnmatched(s: SparkSession, dir: String)
      : DataFrame = {
    val qName = "graft_streaming_left_join"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    try {
      def side(tpe: String) = sessionEventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .filter(col("event_type") === tpe || col("user_id") < 0)
      val clicks = side("click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
      val purchases = side("purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 30 minutes"),
        "left_outer")
        .select(col("click_id"), col("user_id"), col("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
            .as("gap_us"))
      joined.writeStream
        .outputMode(OutputMode.Append())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName).filter(col("user_id") >= 0)
  }

  /** STREAM-STREAM FULL OUTER JOIN — the last member of the streaming
    * attribution family: matched click/purchase pairs, clicks that
    * never converted (null purchase columns), AND purchases with no
    * preceding click in the 30-min window (null click columns — the
    * "organic purchase" rows the left join cannot see). Both sides'
    * null-padded rows emit only when the watermark proves no match can
    * still arrive, so the run needs the same sentinel discipline as
    * the left join: the sentinel must pass both sides' pre-watermark
    * filters (`user_id < 0`) or the global watermark freezes an hour
    * short and the tail's outer rows never emit. The sentinel's own
    * click and purchase copies match each other (same user, same ts)
    * and are dropped from the RESULT — both key columns are checked,
    * because in a full join either side may be null on a real row.
    * State stays watermark-bounded on both sides; outer-row emission
    * is O(expired state) per micro-batch at any scale.
    */
  def streamingFullJoinAttribution(s: SparkSession, dir: String)
      : DataFrame = {
    val qName = "graft_streaming_full_join"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    try {
      def side(tpe: String) = sessionEventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .filter(col("event_type") === tpe || col("user_id") < 0)
      val clicks = side("click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
      val purchases = side("purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 30 minutes"),
        "full_outer")
        .select(col("click_id"), col("user_id"), col("purchase_id"),
          col("p_user"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
            .as("gap_us"))
      joined.writeStream
        .outputMode(OutputMode.Append())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
      .filter(coalesce(col("user_id"), lit(0L)) >= 0 &&
        coalesce(col("p_user"), lit(0L)) >= 0)
  }

  /** Sentinel'd streaming events source shared by the session queries
    * and the outer attribution join: the events parquet exposed through
    * a scratch dir (symlinks) PLUS a single sentinel row 2 h past
    * max(ts), so an event-time watermark provably passes every real
    * session's close and append-mode output is complete under
    * `Trigger.AvailableNow`. Returns the normalized streaming
    * DataFrame; callers must filter the sentinel's `user_id = -1` out
    * of their RESULT (not the input — the sentinel has to reach the
    * watermark node to advance it).
    */
  private def sessionEventsStream(s: SparkSession, dir: String)
      : DataFrame = {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val sessDir = java.nio.file.Paths.get(ioDir("stream_sessions"))
        .resolve(Tables.dirKey(dir) + "f")
      linkEvents(sessDir, dir)
      val srcPath = java.nio.file.Paths.get(s"$dir/events.parquet")
      val sentinel = sessDir.resolve("sentinel.parquet")
      // the sentinel must outrun max(ts) of the CURRENT data —
      // regenerate it whenever the source is newer than the cached copy.
      // For a directory-shaped source, "newer" means the NEWEST PART
      // FILE: rewriting parts in place doesn't touch the directory
      // entry's own mtime, so comparing against the directory would keep
      // a stale, too-early sentinel and silently lose tail sessions.
      val srcMtime = {
        val own = java.nio.file.Files.getLastModifiedTime(srcPath)
        if (!java.nio.file.Files.isDirectory(srcPath)) own
        else listDir(srcPath)
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.getLastModifiedTime(_))
          .foldLeft(own)((a, b) => if (a.compareTo(b) >= 0) a else b)
      }
      val stale = java.nio.file.Files.exists(sentinel) &&
        java.nio.file.Files.getLastModifiedTime(sentinel)
          .compareTo(srcMtime) < 0
      if (stale) java.nio.file.Files.delete(sentinel)
      if (!java.nio.file.Files.exists(sentinel)) {
        val raw = s.read.parquet(srcPath.toString)
        val tmp = sessDir.resolve("_sentinel_tmp")
        // bump 2 h past max(ts) in the source's OWN type (long nanos vs
        // µs timestamp vintages — see Tables.normalizeEventTs), so the
        // sentinel part file carries the same parquet schema as the
        // linked data files and the merged directory read stays uniform
        val bump: Column => Column =
          if (raw.schema("ts").dataType ==
              org.apache.spark.sql.types.LongType)
            _ + lit(2L * 3600 * 1000000000L)
          else _ + expr("INTERVAL 2 HOURS")
        raw.orderBy(col("ts").desc).limit(1)
          .withColumn("ts", bump(col("ts")))
          .withColumn("user_id", lit(-1L))
          // reserved event_id too: the sentinel clones the max-ts event,
          // and a consumer that dedups or joins this shared source on
          // event_id would otherwise silently collide it with that real
          // event (user_id = -1 alone only protects user-keyed paths)
          .withColumn("event_id", lit(-1L))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = listDir(tmp)
          .filter(_.getFileName.toString.endsWith(".parquet")).head
        java.nio.file.Files.move(part, sentinel)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
      val rawSchema = s.read.parquet(sessDir.toString).schema
      s.readStream.schema(rawSchema).parquet(sessDir.toString)
        .transform(Tables.normalizeEventTs)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
  }

  /** STREAMING SESSIONIZATION under the oracle gate: the
    * `flatMapGroupsWithState` sessionizer ([[graft.streaming.EventStreams
    * .sessionize]]) over the events file stream, checked against the same
    * DuckDB lag()-based batch oracle as `events_sessionize`. A bounded
    * AvailableNow run only emits sessions the WATERMARK has closed, so the
    * scratch dir pairs the events file with a one-row sentinel (user −1,
    * 2 h past max ts) that drives the final watermark past every real
    * session's gap deadline; the sentinel's own open session never emits
    * and user −1 is excluded from the result. `session_id` is recovered
    * as the per-user rank of `session_start` — identical to the batch
    * oracle's running new-session count.
    */
  def streamingSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val qName = "graft_streaming_sessions"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    // everything below may throw — the finally must restore the session
    // conf regardless, or all later queries in the run inherit 8
    // shuffle partitions
    try {
      val events = sessionEventsStream(s, dir)
        .as[graft.streaming.EventStreams.Event]
      val q = graft.streaming.EventStreams.sessionize(events)
        .writeStream
        .outputMode(OutputMode.Append())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
      .filter(col("user_id") >= 0)
      .withColumn("session_id",
        (row_number().over(
          Window.partitionBy("user_id").orderBy("session_start")) - 1)
          .cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start"), col("session_end"), col("sum_value"))
  }

  /** NATIVE SESSION WINDOWS: the declarative twin of
    * [[streamingSessionize]] — `groupBy(session_window(ts, gap))` lets
    * Spark's built-in session-window aggregation do the state tracking
    * and window merging that the flatMapGroupsWithState version codes by
    * hand, with full partial-aggregation and watermark-driven state
    * eviction for free. Same sentinel'd bounded stream; same 30-min gap.
    *
    * Boundary semantics, pinned by the EventStreamsSpec boundary test:
    * built-in session windows merge events whose windows TOUCH — each
    * event claims [ts, ts+gap] and an exactly-gap-sized gap still
    * merges — matching the hand-rolled sessionizer's `<=` keep rule, so
    * both oracles split on strict `>`. `session_end` is the merged
    * window's end — last event ts + gap — not the last event ts.
    */
  def streamingSessionWindow(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_session_window"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    try {
      val q = sessionEventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .writeStream
        .outputMode(OutputMode.Append())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName).filter(col("user_id") >= 0)
      .select("user_id", "session_start", "session_end",
        "n_events", "sum_value")
  }

  /** STREAMING WRITE through the custom `mrout` DSv2 sink: the events
    * stream drains (AvailableNow) into reference-format text files via
    * the sink's EPOCH commit protocol — per micro-batch task temps +
    * driver rename to `mr-out-<epoch>-<partition>`, so output is never
    * partially visible and an epoch replay is idempotent. The files are
    * then read back through the `mrout` SCAN and rolled up; the oracle
    * aggregates the original parquet, so the whole streaming
    * encode→commit→decode path must be lossless and exactly-once (a
    * dropped or doubled epoch would change the counts).
    */
  def streamingMroutSink(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_mrout"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "events"))
    val outRoot = java.nio.file.Paths.get(ioDir("mrout_stream"))
      .resolve(Tables.dirKey(dir) + "f")
    // fresh run every time: Append across reruns would double the data
    org.apache.commons.io.FileUtils.deleteDirectory(outRoot.toFile)
    val outPath = outRoot.resolve("data").toString
    try {
      val streamDir = eventsStreamDir(s, dir)
      val rawSchema = s.read.parquet(streamDir).schema
      s.readStream.schema(rawSchema).parquet(streamDir)
        .select(col("event_id").cast("string").as("key"),
          concat_ws(" ", col("event_type"), col("user_id")).as("value"))
        .writeStream
        .format("mrout")
        .outputMode(OutputMode.Append())
        .queryName(qName)
        .option("checkpointLocation", outRoot.resolve("chk").toString)
        .trigger(Trigger.AvailableNow())
        .start(outPath)
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.read.format("mrout").load(outPath)
      .select(split(col("value"), " ").as("kv"))
      .select(element_at(col("kv"), 1).as("event_type"),
        element_at(col("kv"), 2).cast("long").as("user_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"))
  }

  /** CORRUPT-RECORD resilience: real pipelines ingest feeds with broken
    * rows, and the engine must quarantine rather than crash or silently
    * drop. Documents are JSON-encoded with every 7th row deterministically
    * mangled (garbage prefix, so the parser fails at byte 0); the read
    * reads lines through `from_json` (the robust-ingestion shape — the
    * JSON datasource refuses plans that touch only its internal corrupt
    * column, e.g. a bare count, so text + parse is the form that
    * composes) and reports per-validity counts and parsed-field totals.
    * The oracle never reads the broken file — it recomputes the
    * expected split from the clean documents table, so quarantine
    * behavior itself is what is verified (a salvaged field or a dropped
    * row would hash-mismatch).
    */
  def jsonCorruptRecords(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val path = ioDir("json_corrupt")
    docs.select(
        when(col("doc_id") % 7 === 0,
          concat(lit("TRUNC"),
            to_json(struct(col("doc_id"), col("lang"), col("n_chars")))))
          .otherwise(
            to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
          .as("value"))
      .repartition(s.sparkContext.defaultParallelism)
      .write.mode("overwrite").text(path)
    s.read.text(path)
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType
          .fromDDL("doc_id LONG, lang STRING, n_chars LONG")).as("j"))
      .select(
        when(col("j.doc_id").isNotNull, lit("valid")).otherwise(lit("corrupt"))
          .as("validity"),
        col("j.doc_id").as("doc_id"), col("j.n_chars").as("n_chars"))
      .groupBy("validity")
      .agg(count(lit(1)).as("n_rows"),
           count(col("doc_id")).as("n_parsed_ids"),
           coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
  }

  /** Word count → reference `mr-out-<N>` files via the custom `mrout`
    * DataSource V2 connector's WRITE path (task temp + driver rename
    * commit, the reference's protocol) → read back through its scan
    * (one partition per output file, column pruning pushed into the
    * reader). The result must reproduce the in-memory word count exactly
    * — both directions of [[graft.sources.MrOutSource]] sit behind the
    * oracle gate.
    */
  def mroutRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = ioDir("mrout_wc")
    CorpusQueries.wc(s, dir)
      .select(col("word").as("key"), col("cnt").cast("string").as("value"))
      .write.format("mrout").mode("overwrite").save(path)
    s.read.format("mrout").load(path)
      .select(col("key").as("word"), col("value").cast("long").as("cnt"))
  }

  /** customer → embedded Derby over JDBC → PARTITIONED parallel read
    * back → aggregate. The read declares `partitionColumn/lowerBound/
    * upperBound/numPartitions`, so Spark issues N range-predicate
    * queries concurrently — the shape that matters against a real
    * sharded RDBMS at scale (bounds only split the key space; rows
    * outside them still land in the edge partitions, so the read is
    * complete by construction). The aggregate itself is pushed to the
    * scan as column pruning; the oracle aggregates the original
    * parquet, so JDBC type round-tripping (BIGINT/INT/DOUBLE/VARCHAR)
    * must be value-exact.
    */
  def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // quarantine Derby's chatter next to the db, not the repo root
    System.setProperty("derby.stream.error.file",
      ioDir("jdbc_db") + "/derby.log")
    jdbcScratchTuning()
    val url = s"jdbc:derby:${ioDir("jdbc_db")}/${Tables.dirKey(dir)};create=true"
    val c = Tables.customer(s, dir)
    val maxKey = c.agg(max(col("c_custkey"))).head().getLong(0)
    // ONE writer connection, 5k-row addBatch/executeBatch rounds (Spark's
    // JdbcUtils.savePartition batches by `batchsize` — the writer was
    // never row-at-a-time). Both knobs are measured against embedded
    // Derby at 100× (1.5 M rows): concurrent writers are NEGATIVE there
    // (x4 = 34 s vs x1 = 13 s — a single in-process lock manager and log
    // serialize them), and batchsize 5000 halves the single-writer time
    // vs the 1000 default. Against a real networked RDBMS the writer
    // count should instead match the server's ingest parallelism — the
    // contention lives server-side, not in this sink.
    c.coalesce(1).write.mode("overwrite").format("jdbc")
      .option("url", url).option("dbtable", "customer")
      .option("batchsize", "5000").save()
    s.read.format("jdbc")
      .option("url", url).option("dbtable", "customer")
      .option("partitionColumn", "c_custkey")
      .option("lowerBound", "0").option("upperBound", (maxKey + 1).toString)
      .option("numPartitions", "8")
      .load()
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           dsum(col("c_acctbal")).as("sum_acctbal"),
           max(col("c_custkey")).as("max_key"))
  }

  /** Engine-wide tuning for the scratch Derby fixture. The fixture is a
    * throwaway stand-in for an external RDBMS — its durability is not
    * part of what the queries verify — so per-commit fsync is off
    * (`durability=test`) and page/log buffers are sized for bulk ingest.
    * Must run before the engine boots in this JVM (first connection).
    */
  private def jdbcScratchTuning(): Unit = {
    System.setProperty("derby.system.durability", "test")
    System.setProperty("derby.storage.pageSize", "32768")
    System.setProperty("derby.storage.pageCacheSize", "4000")
    System.setProperty("derby.storage.logBufferSize", "8388608")
  }

  /** The DIALECT BULK PATH: customer → the URL's bulk-ingest door
    * ([[graft.sources.BulkLoad]] — here Derby's `SYSCS_IMPORT_TABLE`
    * via one CSV spill) → partitioned parallel read back. The dialect
    * trait keeps the engine-specific ingest step swappable (Postgres
    * `COPY`, MySQL `LOAD DATA`, …) with a batched-INSERT fallback for
    * engines with no door; `JdbcBulkLoadSpec` diffs both doors on a
    * nullable frame. Measured at 100× (1.5 M rows, embedded Derby):
    * batched INSERTs 13 s (single writer, batchsize 5000, best case)
    * vs 9 s for spill+import cold — and the import is the DB-side
    * floor (~215 k rows/s), i.e. this sink ingests exactly as fast as
    * the target engine can accept rows, which is the strongest claim a
    * JDBC sink can make.
    */
  def jdbcBulkLoad(s: SparkSession, dir: String): DataFrame = {
    jdbcScratchTuning()
    System.setProperty("derby.stream.error.file",
      ioDir("jdbc_db") + "/derby.log")
    val url = s"jdbc:derby:${ioDir("jdbc_db")}/${Tables.dirKey(dir)};create=true"
    val c = Tables.customer(s, dir)
    val maxKey = c.agg(max(col("c_custkey"))).head().getLong(0)
    graft.sources.BulkLoad.load(c, url, "customer_bulk",
      new java.io.File(ioDir("jdbc_bulk_csv")))
    s.read.format("jdbc")
      .option("url", url).option("dbtable", "customer_bulk")
      .option("partitionColumn", "c_custkey")
      .option("lowerBound", "0").option("upperBound", (maxKey + 1).toString)
      .option("numPartitions", "8")
      .load()
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
           dsum(col("c_acctbal")).as("sum_acctbal"),
           min(col("c_custkey")).as("min_key"))
  }

  /** part → ORC files → read back → aggregate (the third columnar
    * format next to parquet; same explicit-schema read discipline).
    */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val path = ioDir("orc_part")
    p.write.mode("overwrite").orc(path)
    s.read.schema(p.schema).orc(path)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
           dsum(col("p_retailprice")).as("sum_price"),
           max(col("p_size")).as("max_size"))
  }

  /** Hive-style partitioned parquet write (`partitionBy(lang)`) + a read
    * filtered on the partition column: the scan lists only the `lang=en`
    * directory (partition PRUNING, visible as `PartitionFilters` in the
    * plan), so at 100 TB the query touches 1/Nth of the data before a
    * single row is read. Oracle aggregates the unpartitioned original.
    */
  def partitionedPrune(s: SparkSession, dir: String): DataFrame = {
    val path = ioDir("part_docs")
    distributeByLayout(Tables.documents(s, dir), Seq("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(path)
    s.read.parquet(path)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("sum_chars"))
  }

  /** DYNAMIC partition pruning: `source_partitioned_prune` shows a
    * LITERAL predicate skipping partition directories at plan time; this
    * entry shows the runtime half — the fact side is month-partitioned,
    * the predicate lives on a JOINED calendar dimension (quarter =
    * 1995-Q1), and no literal month filter exists anywhere in the query.
    * Catalyst's dynamic partition pruning turns the dimension's
    * broadcast into an IN-subquery partition filter on the fact scan
    * (`PartitionFilters: [... dynamicpruning#...]`), so only the 3
    * matching month directories of 80 are listed and read. At 100 TB,
    * star-schema queries almost never filter the fact table directly —
    * DPP is what makes "filter the dimension" cost partition-fraction
    * I/O instead of a full fact scan. `DppPruneSpec` pins the injected
    * filter, the 3-of-80 partition metric, and exactness vs a literal
    * predicate.
    */
  def dppJoinPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Paths.get(ioDir("dpp_orders"))
      .resolve(Tables.dirKey(dir))
    val path = root.resolve("fact").toString
    val dimPath = root.resolve("calendar").toString
    // fixture cached per (dir, data-fingerprint) within this JVM's
    // private scratch (the query under test is the pruned READ, not the
    // partitioned write); a regenerated dataset misses and rebuilds
    val marker = root.resolve(
      "_built_" + Tables.dataFingerprint(s"$dir/orders.parquet"))
    if (!java.nio.file.Files.exists(marker)) {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      Tables.orders(s, dir)
        .withColumn("o_ym", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("o_ym").parquet(path)
      // independent on-disk calendar dimension (covers more months than
      // the data holds — the join, not the dim, decides which partitions
      // match). It must be a real datasource: a filter over an in-memory
      // LocalRelation constant-folds away during optimization, leaving no
      // selective-filter node for the DPP rule to latch onto.
      (1990 to 2005).flatMap(y => (1 to 12).map(m =>
          (f"$y-$m%02d", s"$y-Q${(m + 2) / 3}")))
        .toDF("d_ym", "quarter")
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
      java.nio.file.Files.createFile(marker)
    }
    val fact = s.read.parquet(path)
    val dim = s.read.parquet(dimPath)
    fact.join(broadcast(dim.filter(col("quarter") === "1995-Q1")),
        col("o_ym") === col("d_ym"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("sum_price"))
  }

  /** Copy-on-write MERGE (upsert) into a month-partitioned parquet
    * warehouse table — the Delta-less incremental-ingest primitive:
    *
    *  1. the delta's months define the TOUCHED partitions (a tiny
    *     driver-side distinct — partition metadata, not data);
    *  2. only touched partitions are read back (partition pruning),
    *     anti-joined against the delta's keys (delta is broadcast — a
    *     merge batch is always small next to the table) and unioned
    *     with the delta;
    *  3. the rewritten partitions land in a temp dir and swap in via
    *     per-partition delete+rename (the MrOutSource temp+rename
    *     commit discipline — readers never see a half-written
    *     partition file set).
    *
    * Cost is O(touched partitions) I/O + O(delta) shuffle regardless of
    * table size — at 100 TB a daily merge rewrites the handful of
    * month partitions the delta touches, never the table. Updates must
    * keep their partition key (a cross-partition move is
    * delete+insert, the same primitive twice).
    */
  private[operators] def mergeInto(s: SparkSession, basePath: String,
                                   tmpPath: String, delta: DataFrame,
                                   insertDelta: Boolean = true)
      : Unit = {
    val touched = delta.select("o_ym").distinct().collect()
      .map(_.getString(0))
    val kept = s.read.parquet(basePath)
      .filter(col("o_ym").isin(touched.toIndexedSeq: _*))
      .join(broadcast(delta.select(col("o_orderkey").as("d_key"))),
        col("o_orderkey") === col("d_key"), "left_anti")
    // insertDelta = false is DELETE: drop matching keys, re-insert
    // nothing — same touched-partition scoping and commit path
    distributeByLayout(
        if (insertDelta) kept.unionByName(delta) else kept, Seq("o_ym"))
      .write.mode("overwrite").partitionBy("o_ym").parquet(tmpPath)
    val conf = s.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(basePath).getFileSystem(conf)
    touched.foreach { ym =>
      val dst = new org.apache.hadoop.fs.Path(s"$basePath/o_ym=$ym")
      fs.delete(dst, true)
      fs.rename(new org.apache.hadoop.fs.Path(s"$tmpPath/o_ym=$ym"), dst)
    }
  }

  /** The catalog entry: build the month-partitioned base from orders
    * (the FIXTURE — a real warehouse table already exists), merge a
    * deterministic delta (10%-price updates for keys ≡ 0 mod 97;
    * inserts re-keyed negative for keys ≡ 0 mod 1013 — guaranteed
    * absent), and aggregate the post-merge table. The oracle computes
    * the same merge relationally over the original orders, so
    * duplicate inserts, lost updates, or a half-swapped partition all
    * hash-mismatch (`n_keys` counts distinct keys explicitly).
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Paths.get(ioDir("merge_orders"))
      .resolve(Tables.dirKey(dir))
    val basePath = root.resolve("base").toString
    val tmpPath = root.resolve("delta_out").toString
    val orders = Tables.orders(s, dir)
      .withColumn("o_ym", date_format(col("o_orderdate"), "yyyy-MM"))
    // base table from the shared per-JVM prototype (mergeUpsert and
    // deleteKeys bootstrap the IDENTICAL month-partitioned base):
    // hard-link clone per call, because mergeInto swaps partition dirs
    // in place and each trial must start from the pristine base
    linkTreeFromPrototype(dir, "orders_ym_base",
        java.nio.file.Paths.get(basePath)) { proto =>
      distributeByLayout(orders, Seq("o_ym"))
        .write.mode("overwrite").partitionBy("o_ym").parquet(proto.toString)
    }
    val updates = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
    val inserts = orders.filter(col("o_orderkey") % 1013 === 0)
      .withColumn("o_orderkey", -col("o_orderkey") - lit(1))
    mergeInto(s, basePath, tmpPath, updates.unionByName(inserts))
    s.read.parquet(basePath)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  /** Partition-scoped DELETE — the takedown / right-to-be-forgotten
    * primitive a training-data warehouse runs daily: remove a key list
    * from the month-partitioned table through the SAME touched-
    * partition copy-on-write path as the merge (`insertDelta = false`),
    * so cost is O(partitions containing the keys), not O(table). The
    * key list here is deterministic (keys ≡ 0 mod 131); real deletes
    * arrive as a table of (key, partition) — carrying the partition
    * key in the delete request is what makes partition scoping
    * possible at 100 TB (a keys-only delete must touch every
    * partition). Oracle: the complement filter over the original.
    */
  def deleteKeys(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Paths.get(ioDir("delete_orders"))
      .resolve(Tables.dirKey(dir))
    val basePath = root.resolve("base").toString
    val tmpPath = root.resolve("delta_out").toString
    val orders = Tables.orders(s, dir)
      .withColumn("o_ym", date_format(col("o_orderdate"), "yyyy-MM"))
    // base table from the shared per-JVM prototype (mergeUpsert and
    // deleteKeys bootstrap the IDENTICAL month-partitioned base):
    // hard-link clone per call, because mergeInto swaps partition dirs
    // in place and each trial must start from the pristine base
    linkTreeFromPrototype(dir, "orders_ym_base",
        java.nio.file.Paths.get(basePath)) { proto =>
      distributeByLayout(orders, Seq("o_ym"))
        .write.mode("overwrite").partitionBy("o_ym").parquet(proto.toString)
    }
    val doomed = orders.filter(col("o_orderkey") % 131 === 0)
    mergeInto(s, basePath, tmpPath, doomed, insertDelta = false)
    s.read.parquet(basePath)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  /** Clustering-preserving small-file COMPACTION — the other daily
    * housekeeping job: a streaming ingest leaves hundreds of tiny
    * files per partition (here: a 256-way write of the lineitem
    * slice), and every query then pays per-file open/footer/schedule
    * cost. Compaction rewrites to `Warehouse.bucketCount`-derived
    * scan-sized files — but NOT with `coalesce` (which would glue
    * random small files together and destroy min/max locality):
    * `repartitionByRange` + in-file sort on the query dimension, so
    * the compacted table keeps (here: regains) the sorted layout's
    * row-group pruning. `CompactFilesSpec` pins file count, content
    * equality, and that a range predicate prunes better on the
    * compacted copy than the fragmented one.
    */
  def compactFiles(s: SparkSession, dir: String): DataFrame = {
    val fragPath = ioDir("compact_fragmented")
    val compactPath = ioDir("compact_out")
    val li = Tables.lineitem(s, dir)
      .select(col("l_shipdate"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
      .withColumn("l_shipdate", to_date(col("l_shipdate")))
    // the 256-way fragmented ingest state is the fixture, not the
    // operator: link it from the per-JVM prototype (also keys the
    // fixture by sf dir, which the bare ioDir never did)
    linkTreeFromPrototype(dir, "compact_fragmented",
        java.nio.file.Paths.get(fragPath)) { proto =>
      li.repartition(256).write.mode("overwrite").parquet(proto.toString)
    }
    val frag = s.read.parquet(fragPath)
    val nFiles = graft.core.Warehouse.bucketCount(s,
      org.apache.commons.io.FileUtils.sizeOf(new java.io.File(fragPath)))
    frag.repartitionByRange(nFiles, col("l_shipdate"))
      .sortWithinPartitions(col("l_shipdate"))
      .write.mode("overwrite").parquet(compactPath)
    s.read.parquet(compactPath)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-07-01"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
  }

  /** Rewrite lineitem Z-ORDERED on (ship day, partkey): scale both dims
    * to 16 bits, interleave, `repartitionByRange` on the z-address (each
    * output FILE covers a contiguous z-range = a small set of compact
    * 2-D boxes), sort within files so row groups nest the same way.
    * File count follows `Warehouse.bucketCount` (parallelism floor,
    * bytes/256 MB scale term) — at 100 TB the layout is a one-time
    * cluster job producing scan-sized files, amortized over every
    * multi-dimensional query that follows, exactly like the bucketed
    * warehouse. Returns (path, partkey cutoff for the demo predicate).
    *
    * The min/max layout bounds are one-row scalars fetched driver-side
    * (same precedent as the JDBC partition bounds); they parameterize
    * the WRITE job, not the returned query plan.
    */
  private[operators] def zorderLayout(s: SparkSession, dir: String)
      : (String, Long) = {
    zorderLayoutCache.getOrElseUpdate(Tables.dirKey(dir), {
    // keyed by sf dir (the bare scratch path would collide across sfs
    // in one JVM); memoized because the layout is read-only after the
    // build — exactly the "one-time cluster job amortized over every
    // query that follows" this scaladoc describes, now true in the
    // harness too (the rebuild was ~1.3 s of every zorder_prune trial)
    val path = new java.io.File(ioDir("zorder_lineitem"),
      Tables.dirKey(dir)).getAbsolutePath
    val base = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_shipdate"), col("l_returnflag"),
        col("l_extendedprice"), col("l_discount"))
      // normalize the all-midnight NTZ timestamp to DATE: parquet
      // min/max stats on TIMESTAMP_NTZ are pushed but not usable by the
      // reader-side row-group filter (measured: zero pruning), while
      // DATE stats prune; for this data the cast is value-lossless
      .withColumn("l_shipdate", to_date(col("l_shipdate")))
      .withColumn("ship_day",
        datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
          .cast("long"))
    val b = base.agg(min(col("ship_day")), max(col("ship_day")),
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (dLo, dHi) = (b.getLong(0), b.getLong(1))
    val (pLo, pHi) = (b.getLong(2), b.getLong(3))
    def scaled(c: Column, lo: Long, hi: Long): Column =
      ((c - lit(lo)) * lit(65535L) / lit(math.max(1L, hi - lo)))
        .cast("long")
    val nFiles = graft.core.Warehouse.bucketCount(s,
      org.apache.commons.io.FileUtils.sizeOf(
        new java.io.File(s"$dir/lineitem.parquet")))
    base
      .withColumn("zval", zvalue16(scaled(col("ship_day"), dLo, dHi),
        scaled(col("l_partkey"), pLo, pHi)))
      .repartitionByRange(nFiles, col("zval"))
      .sortWithinPartitions(col("zval"))
      .drop("zval", "ship_day")
      .write.mode("overwrite").parquet(path)
    (path, pHi / 8)
    })
  }

  private val zorderLayoutCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]

  /** Multi-dimensional data skipping through the Z-ordered copy: a
    * wide-date + narrow-partkey predicate. A date-sorted layout prunes
    * row groups on the date dim only — every file spans the full
    * partkey range, so the 1/8 partkey cut reads everything in the date
    * window; the Z-layout's files cover compact (day, partkey) boxes,
    * so parquet min/max stats prune on BOTH dims and the scan emits ~the
    * predicate's area fraction (`ZorderLayoutSpec` pins z-scan rows <
    * date-sorted-scan rows on identical data+predicate). The layout is
    * semantically transparent: the oracle aggregates the ORIGINAL
    * lineitem under the same predicate.
    */
  def zorderPrune(s: SparkSession, dir: String): DataFrame = {
    val (path, cutoff) = zorderLayout(s, dir)
    s.read.parquet(path)
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_partkey") <= lit(cutoff))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
  }

  /** Schema-drift ingestion: batch 1 of the corpus predates the `lang`
    * column (an early crawl), batch 2 carries it; the union is read
    * back with parquet `mergeSchema`, so old files surface `lang` as
    * NULL instead of failing the read — the append-only schema
    * evolution every long-lived ingest pipeline needs. The aggregate
    * pins BOTH halves of the contract: `n_with_lang` counts only
    * batch-2 rows (NULL back-fill is real), `sum_chars` proves no row
    * of either vintage was dropped or duplicated. At 100 TB footing
    * identical: schema merge happens at FILE-FOOTER level during
    * planning (per-file schemas reconciled driver-side, cost ∝ file
    * count, cacheable in the metastore) — data files are never
    * rewritten, and scans of new-schema batches still prune/push down
    * normally.
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = ioDir("schema_evolution")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    docs.filter(col("doc_id") % 2 === 0)
      .drop("lang")
      .write.mode("overwrite").parquet(s"$root/evo_v1")
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$root/evo_v2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$root/evo_v1", s"$root/evo_v2")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("lang")).as("n_with_lang"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"))
  }

  /** Type-2 slowly-changing-dimension history assembled from the
    * snapshot store's changefeeds — the standard warehouse answer to
    * "what was this row's value during version N, and when did it
    * change": one history row per (key, value-interval) with
    * `valid_from`/`valid_to` version bounds (`valid_to` = 99 ⇒ still
    * current). Built EVENT-SOURCED, the shape that scales: the v1 base
    * contributes one opening event per key (a read the dimension pays
    * once), and each subsequent version contributes only its
    * manifest-scoped diff — O(changed keys), not O(table × versions),
    * which at 100 TB × daily commits is the difference between a
    * history build and re-reading every version. Interval assembly is
    * one `lead` window over (key, version) partitions of ≤ version
    * events each — key-partitioned, never data-sized. Delete events
    * close intervals without emitting rows. The aggregate output
    * (per-interval row count, key checksum, exact price sum) makes a
    * missed or phantom interval hash-mismatch the oracle, which
    * replays the same history relationally from the base table.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = snapshotFixture(s, dir)
    val base = snapshotRead(s, root, 1)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        lit(1).as("alive"))
      .withColumn("v", lit(1))
    def changes(vFrom: Int, vTo: Int): DataFrame =
      changeRows(s, root, vFrom, vTo)
        .select(col("k"), col("price"), col("alive"))
        .withColumn("v", lit(vTo))
    val ev = base.unionByName(changes(1, 2)).unionByName(changes(2, 3))
    val w = Window.partitionBy(col("k")).orderBy(col("v"))
    ev.withColumn("valid_to_v", lead(col("v"), 1).over(w))
      .filter(col("alive") === 1)
      .groupBy(col("v").as("valid_from"),
        coalesce(col("valid_to_v"), lit(99)).as("valid_to"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("k")).cast("bigint").as("key_sum"),
        dsum(col("price")).as("price_sum"))
  }

  /** Three-version fixture over orders: v1 = the base table; v2 = MERGE
    * (10% price bump for keys ≡ 0 mod 97, re-keyed-negative inserts for
    * keys ≡ 0 mod 1013); v3 = DELETE of keys ≡ 0 mod 131 — the same
    * deterministic deltas as `source_merge_upsert`/`source_delete_keys`,
    * but committed through the manifest store so all three versions
    * coexist on disk.
    */
  private val snapshotRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private[graft] def snapshotFixture(s: SparkSession, dir: String)
      : java.nio.file.Path =
    snapshotRoots.getOrElseUpdate(Tables.dirKey(dir),
      buildSnapshotFixture(s, dir))

  private def buildSnapshotFixture(s: SparkSession, dir: String)
      : java.nio.file.Path = {
    val root = java.nio.file.Paths.get(ioDir("snapshot_orders"))
      .resolve(Tables.dirKey(dir))
    // the CAS publish (CREATE-semantics link) requires a virgin root:
    // a leftover manifest from a dead prior build would read as a
    // concurrent committer
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))
    snapshotInit(s, root, orders, Seq("o_ym"))
    val updates = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
    val inserts = orders.filter(col("o_orderkey") % 1013 === 0)
      .withColumn("o_orderkey", -col("o_orderkey") - lit(1))
    snapshotCommit(s, root, 1, 2, updates.unionByName(inserts),
      insertDelta = true)
    val doomed = orders.filter(col("o_orderkey") % 131 === 0)
    snapshotCommit(s, root, 2, 3, doomed, insertDelta = false)
    // per-file Bloom bitsets over every leaf dir any version references,
    // so any version read through the connector can file-skip point
    // lookups (files are write-once: the index never goes stale)
    val allDirs = (1 to 3).flatMap(v => SnapshotManifest.read(root, v).values).distinct
    graft.sources.SnapshotBloom.build(s, allDirs, "o_orderkey",
      root.resolve("bloomidx").toString,
      dataSchema = Some(orders.schema))
    root
  }

  /** Pristine keyed/partitioned orders store shared by the SQL-door
    * entries (`sql_dml_roundtrip`, `sql_restore`, `sql_clone`, `sql_wap`,
    * `sql_constraints`, `sql_update_merge`, `sql_insert_overwrite`):
    * built ONCE per JVM per sf dir through the DataFrame write door (so
    * `table.meta` records keyCol + layout exactly as each entry's own
    * per-call bootstrap did), then hard-link-CLONED into each entry's
    * private root per call via [[snapshotClone]]. A clone is O(#files)
    * link(2) calls; the per-call bootstrap it replaces rewrote ~80
    * partitions of parquet INSIDE the timed bench window — fixture I/O
    * that measured nothing about the operator under test. Equivalence:
    * the clone starts at v1 with the same bytes, stats sidecar, keyCol
    * and layout as a fresh bootstrap; entries mutate only their private
    * clone (data dirs are write-once and hard links share inodes, so a
    * clone-side rewrite/vacuum only unlinks the clone's own names —
    * the pristine copy is untouchable by construction).
    */
  private val ordersYmPristineRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def ordersYmFrame(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))

  private def ordersYmPristine(s: SparkSession, dir: String)
      : java.nio.file.Path =
    ordersYmPristineRoots.getOrElseUpdate(Tables.dirKey(dir), {
      val root = java.nio.file.Paths.get(ioDir("snapshot_pristine"))
        .resolve(Tables.dirKey(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      ordersYmFrame(s, dir).write.format("graft-snapshot")
        .option("keyCol", "o_orderkey").option("partCol", "o_ym")
        .mode("append").save(root.toString)
      root
    })

  /** Rebuild `base` virgin and clone the pristine store into it;
    * returns the table root `base/<tableName>`.
    */
  private def ordersYmFixture(s: SparkSession, dir: String,
      base: java.nio.file.Path, tableName: String): java.nio.file.Path = {
    val pristine = ordersYmPristine(s, dir)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val root = base.resolve(tableName)
    snapshotClone(pristine, root)
    root
  }

  /** Build the fixtures shared across catalog entries for `dir` —
    * called by [[graft.Bench]] BEFORE measurement starts so no entry's
    * first trial pays a one-time per-JVM fixture build inside its
    * timed window. Safe to skip (entries build lazily); purely a
    * bench-fairness hook.
    */
  def prewarmSharedFixtures(s: SparkSession, dir: String): Unit = {
    ordersYmPristine(s, dir)
    snapshotFixture(s, dir)
    wapPrototype(s, dir)
    ()
  }

  /** The snapshot store read through the planner-integrated connector
    * ([[graft.sources.SnapshotFileIndex]]) with a partition predicate:
    * the 1995-01..1995-06 month filter is evaluated against the v2
    * MANIFEST inside `listFiles`, so pruned months' dirs are never even
    * listed — where `snapshotRead` unioned every partition dir of the
    * version and relied on nothing. At 100 TB this is the difference
    * between "time travel costs a table scan" and "time travel costs
    * the months you asked for". `SnapshotConnectorSpec` pins the
    * 6-of-~80 partition listing, equality with the plain union read,
    * and the `graft-snapshot` DataFrameReader door.
    */
  def snapshotConnectorPrune(s: SparkSession, dir: String): DataFrame = {
    val root = snapshotFixture(s, dir)
    graft.sources.SnapshotTable.read(s, root, 2)
      .filter(col("o_ym_p").between("1995-01", "1995-06"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  /** Point lookup on the snapshot's UNCLUSTERED key through the same
    * connector: the literal `o_orderkey IN (...)` predicate reaches
    * [[graft.sources.SnapshotFileIndex.listFiles]] as a data filter,
    * and files whose Bloom bitset excludes every candidate key are
    * dropped DURING planning — the round-8 `source_bloom_lookup`
    * semantics with the driver-mediated matched-file list gone
    * (VERDICT r8 item 2): no second query, no collected path list, one
    * ordinary parquet scan with a pre-pruned input set. The key list
    * is collected from the base table (fixture parameterization, the
    * ann-entries' query-vector convention); the oracle derives the
    * same keys relationally. False positives are re-filtered by the
    * pushed predicate — I/O cost, never correctness.
    */
  def snapshotPointLookup(s: SparkSession, dir: String): DataFrame = {
    val root = snapshotFixture(s, dir)
    val keys = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 719 === 0)
      .select(col("o_orderkey")).orderBy(col("o_orderkey")).limit(8)
      .collect().map(_.getLong(0)).toSeq
    graft.sources.SnapshotTable.read(s, root, 3,
        bloomKey = Some("o_orderkey"))
      .filter(col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_ym"))
  }

  /** Range skipping from the COMMITTED file stats — the metadata-plane
    * capability the Bloom key can't cover: an arbitrary-column range
    * predicate. The fixture bootstraps a snapshot store over orders
    * partitioned by status and range-clustered on `o_totalprice`
    * inside each partition (24 range tasks → ~8 files per status, each
    * covering a tight price band), so the commit-time per-file min/max
    * stats in the `v1.files` sidecar are selective. The
    * `o_totalprice >= 400000` predicate then drops every file whose
    * [min, max] cannot reach it DURING PLANNING — `listFiles` serves a
    * strict subset of the table's files with zero `listStatus` calls
    * (both spec-pinned in `SnapshotMetadataSpec`). At 100 TB this is
    * the Delta/Iceberg data-skipping shape: the scan's input set is
    * decided from O(files) manifest rows, never from opening footers.
    * The oracle runs the same predicate over the original orders —
    * skipping must be invisible in the data.
    */
  private val statsPruneRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private[operators] def statsPruneFixture(s: SparkSession, dir: String)
      : java.nio.file.Path =
    statsPruneRoots.getOrElseUpdate(Tables.dirKey(dir), {
      val root = java.nio.file.Paths.get(ioDir("snapshot_stats"))
        .resolve(Tables.dirKey(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderstatus").as("o_st"))
        .repartitionByRange(24, col("o_st"), col("o_totalprice"))
        .sortWithinPartitions(col("o_st"), col("o_totalprice"))
      // the whole point of this fixture is many PRICE-DISJOINT files
      // per status leaf (min/max skipping needs them): keep the range
      // clustering, don't let the door's hash distribution re-glue
      // each status into one file
      snapshotInit(s, root, orders, Seq("o_st"), distribute = false)
      root
    })

  def snapshotStatsPrune(s: SparkSession, dir: String): DataFrame = {
    val root = statsPruneFixture(s, dir)
    graft.sources.SnapshotTable.read(s, root, 1)
      .filter(col("o_totalprice") >= lit(400000.0))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  /** The connector's SECOND layout: a snapshot store over events with a
    * TYPED, MULTI-COLUMN partition schema — (event date: DATE,
    * event_type: STRING), both declared in the `table.meta` sidecar
    * instead of the legacy single hardcoded string column. The entry's
    * compound partition predicate (a 7-day date range AND one event
    * type) is evaluated against the typed manifest values inside
    * `listFiles`, pruning ~150 (day × type) partitions to 7 — proving
    * the partition abstraction generalizes the way the second JDBC
    * dialect proved the bulk door. Oracle: the same filter+aggregate
    * relationally over the original events.
    */
  private val multipartRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private[operators] def multipartFixture(s: SparkSession, dir: String)
      : java.nio.file.Path =
    multipartRoots.getOrElseUpdate(Tables.dirKey(dir), {
      val root = java.nio.file.Paths.get(ioDir("snapshot_events"))
        .resolve(Tables.dirKey(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"), to_date(col("ts")).as("e_dt"))
      snapshotInit(s, root, ev, Seq("e_dt", "event_type"),
        keyCol = "event_id")
      root
    })

  def snapshotMultipart(s: SparkSession, dir: String): DataFrame = {
    val root = multipartFixture(s, dir)
    graft.sources.SnapshotTable.read(s, root, 1)
      .filter(col("e_dt_p").between(lit("2024-01-10"), lit("2024-01-16")) &&
        col("event_type_p") === "purchase")
      .groupBy(col("e_dt_p").as("e_dt"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
  }

  /** The snapshot store's changefeed consumed as a STREAM — the Delta
    * CDF pattern: `readStream.format("graft-snapshot")
    * .option("fromVersion", 1)` turns each committed version into one
    * micro-batch increment of change rows (v1 = the base as inserts,
    * v2 = the merge's updates+inserts, v3 = the delete), each costing
    * O(that commit's touched partitions) via the manifest-scoped
    * [[changeRows]]. The entry aggregates the whole feed per version
    * (change count, delete count, key checksum, exact new-value sum),
    * so a missed, phantom, or double-delivered change hash-mismatches
    * the oracle, which replays the same three deltas relationally.
    * Version-offset restart is pinned by `SnapshotChangefeedSpec`.
    */
  def streamingSnapshotCdf(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_snapshot_cdf"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val root = snapshotFixture(s, dir)
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "orders"))
    try {
      s.readStream.format("graft-snapshot").option("fromVersion", "1")
        .load(root.toString)
        .groupBy(col("version"))
        .agg(count(lit(1)).as("n_changes"),
          sum(when(col("change_type") === "insert", 1).otherwise(0))
            .cast("bigint").as("n_inserts"),
          sum(when(col("change_type") === "update", 1).otherwise(0))
            .cast("bigint").as("n_updates"),
          sum(lit(1) - col("alive")).cast("bigint").as("n_deletes"),
          sum(col("k")).cast("bigint").as("key_sum"),
          dsum(col("price")).as("price_sum"),
          dsum(col("old_price")).as("old_price_sum"))
        .writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(qName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
  }

  /** A downstream CONSUMER of the changefeed stream: a materialized
    * view (live row count + exact value sum) maintained INCREMENTALLY
    * from the CDF deltas — the job the changefeed source exists for.
    * Each micro-batch contributes one 1-row aggregate of its deltas
    * (`+post − pre` per change, so insert/update/delete all reduce to
    * one coalesce expression), folded into driver-side accumulators —
    * per-version cost is O(that commit's touched partitions), and the
    * MV never re-reads the table. Exactness: values are quantized to
    * integer MICROS before accumulating (the `qvec` discipline —
    * both engines round half away from zero), so the per-key deltas
    * TELESCOPE exactly: Σ deltas = Σ_live round(final·1e6), which is
    * what the oracle recomputes relationally from v3. A dropped,
    * doubled, or re-ordered change row breaks the telescope and
    * hash-mismatches.
    */
  def streamingCdfMv(s: SparkSession, dir: String): DataFrame = {
    val root = snapshotFixture(s, dir)
    val nLive = new java.util.concurrent.atomic.AtomicLong(0)
    val priceMicros = new java.util.concurrent.atomic.AtomicLong(0)
    def micros(c: Column): Column =
      coalesce(round(c * lit(1000000L)).cast("bigint"), lit(0L))
    val q = s.readStream.format("graft-snapshot").option("fromVersion", "1")
      .load(root.toString)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val r = batch.agg(
          sum(when(col("change_type") === "insert", 1L)
            .when(col("change_type") === "delete", -1L)
            .otherwise(0L)).as("dn"),
          sum(micros(col("price")) - micros(col("old_price"))).as("dp"))
          .head()
        if (!r.isNullAt(0)) nLive.addAndGet(r.getLong(0))
        if (!r.isNullAt(1)) priceMicros.addAndGet(r.getLong(1))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import s.implicits._
    Seq((nLive.get(), priceMicros.get())).toDF("n_live", "price_micros")
  }

  /** The snapshot store driven ENTIRELY through the public format door
    * — `df.write.format("graft-snapshot").mode("append")` — from empty
    * root to three versions: bootstrap (v1 = the 1995 slice of
    * orders), an upsert commit (price bump + re-keyed inserts), and a
    * delete commit, then the head read back through the connector. A
    * user of the library needs no internal API to run a
    * copy-on-write, time-traveling table: the writer handles
    * bootstrap, CAS publish, and conflict REBASE (re-read head,
    * re-apply the key-based delta) behind `save()`. Each invocation
    * uses a fresh root (the write path must stay idempotent across
    * bench trials), so the timed cost is build-inclusive by design —
    * the entry IS the write path.
    */
  private val doorRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  def snapshotWriteDoor(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Paths.get(ioDir("snapshot_door"))
      .resolve(java.util.UUID.randomUUID.toString.take(8))
    // fresh root per invocation (the write path must stay idempotent
    // across bench trials) — but sweep the PREVIOUS trial's root so N
    // trials cost one store's disk, not N
    doorRoots.put(Tables.dirKey(dir), root).foreach(old =>
      org.apache.commons.io.FileUtils.deleteQuietly(old.toFile))
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))
      .filter(col("o_ym").startsWith("1995"))
    orders.write.format("graft-snapshot").option("keyCol", "o_orderkey")
      .mode("append").save(root.toString)
    val updates = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
    val inserts = orders.filter(col("o_orderkey") % 1013 === 0)
      .withColumn("o_orderkey", -col("o_orderkey") - lit(1))
    // later commits resolve the key from table.meta — only the
    // bootstrap must declare it
    updates.unionByName(inserts)
      .write.format("graft-snapshot").mode("append").save(root.toString)
    orders.filter(col("o_orderkey") % 131 === 0)
      .write.format("graft-snapshot").mode("append")
      .option("commitMode", "delete").save(root.toString)
    graft.sources.SnapshotTable.read(s, root, 3)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  /** STREAMING ingestion INTO the snapshot store — the write door's
    * `writeStream` arm ([[graft.sources.SnapshotSink]]), closing the
    * lakehouse loop the changefeed source opened: a file stream of
    * upsert deltas lands as CAS-committed versions (bootstrap + one
    * version per micro-batch), then the BATCH door reads the head
    * back. Three single-file micro-batches with pinned modification
    * times (the file source processes oldest-first): the 1995 orders
    * base, then %97 price updates + %1013 inserts, then %13 price
    * updates — so a key divisible by both 97 and 13 composes BOTH
    * updates in batch order (`·1.1` then `·0.9`), which is exactly
    * what the oracle's CASE replays; a replayed, dropped, or
    * re-ordered micro-batch breaks the composition and
    * hash-mismatches. Exactly-once across engine-replayed batches
    * rides the `#txn` manifest marker (atomic with the commit —
    * `SnapshotSinkSpec` pins replay idempotence and restart resume).
    * At 100 TB each micro-batch costs O(touched partitions + batch)
    * like any door commit, and every intermediate state stays
    * time-travelable.
    */
  def streamingSnapshotSink(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_snapshot_sink"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val base = java.nio.file.Paths.get(ioDir("snapshot_sink"))
      .resolve(java.util.UUID.randomUUID.toString.take(8))
    sinkRoots.put(Tables.dirKey(dir), base).foreach(old =>
      org.apache.commons.io.FileUtils.deleteQuietly(old.toFile))
    val inbox = base.resolve("inbox")
    val store = base.resolve("store")
    java.nio.file.Files.createDirectories(inbox)
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))
      .filter(col("o_ym").startsWith("1995"))
    val updates97 = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
    val inserts = orders.filter(col("o_orderkey") % 1013 === 0)
      .withColumn("o_orderkey", -col("o_orderkey") - lit(1))
    // the b2 producer reads its own UPSTREAM state (the post-b1 table),
    // so a key in both update sets composes ·1.1 then ·0.9 — if this
    // delta were derived from the base, last-writer-wins would silently
    // drop the b1 update for the overlap keys and the oracle's
    // composition CASE would hash-mismatch
    val updates13 = orders.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0,
          col("o_totalprice") * lit(1.1))
          .otherwise(col("o_totalprice")) * lit(0.9))
    val t0 = 1700000000000L // fixed epoch: mtimes must order, not date
    linkInboxFromPrototype(dir, "snapshot_sink",
        Seq("b0.parquet" -> t0, "b1.parquet" -> (t0 + 60000),
          "b2.parquet" -> (t0 + 120000)), inbox) { proto =>
      depositSingleParquet(orders, proto, "b0", t0)
      depositSingleParquet(updates97.unionByName(inserts), proto,
        "b1", t0 + 60000)
      depositSingleParquet(updates13, proto, "b2", t0 + 120000)
    }
    val schema = s.read.parquet(inbox.resolve("b0.parquet").toString).schema
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "orders"))
    try {
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(inbox.toString)
        .writeStream.format("graft-snapshot")
        .outputMode(OutputMode.Append())
        .queryName(qName)
        .option("checkpointLocation", base.resolve("chk").toString)
        .option("keyCol", "o_orderkey")
        .option("partCol", "o_ym")
        .option("txnAppId", "graft_sink_entry")
        .trigger(Trigger.AvailableNow())
        .start(store.toString)
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.read.format("graft-snapshot").load(store.toString)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  private val sinkRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private val wapRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private val wapProtoRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  /** One-time per JVM per sf dir prototype for [[streamingWap]]: the
    * 1995-slice bootstrap store (built through the write door so
    * `table.meta` carries keyCol + layout) plus the two deterministic
    * micro-batch payload files. Each entry call hard-link-clones the
    * store and hard-links the inbox files into its own fresh root —
    * the per-call cost drops from two parquet writes + an ~12-partition
    * bootstrap to O(#files) link(2) calls, so the timed window measures
    * the branch/stream/fastforward lifecycle, not fixture I/O.
    */
  private def wapPrototype(s: SparkSession, dir: String): java.nio.file.Path =
    wapProtoRoots.getOrElseUpdate(Tables.dirKey(dir), {
      val proto = java.nio.file.Paths.get(ioDir("snapshot_swap_proto"))
        .resolve(Tables.dirKey(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(proto.toFile)
      val inbox = proto.resolve("inbox")
      java.nio.file.Files.createDirectories(inbox)
      val orders = ordersYmFrame(s, dir).filter(col("o_ym").startsWith("1995"))
      orders.write.format("graft-snapshot")
        .option("keyCol", "o_orderkey").option("partCol", "o_ym")
        .mode("append").save(proto.resolve("store").toString)
      val updates = orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
      val inserts = orders.filter(col("o_orderkey") % 1013 === 0)
        .withColumn("o_orderkey", -col("o_orderkey") - lit(1))
      val t0 = 1700000000000L
      depositSingleParquet(updates, inbox, "b0", t0)
      depositSingleParquet(inserts, inbox, "b1", t0 + 60000)
      proto
    })

  /** STREAMING write-audit-publish — the production ingest loop
    * composed end to end from pieces this catalog already proves
    * separately: bootstrap main (v1), fork a staging BRANCH
    * ([[snapshotBranchCreate]] — zero-copy), stream two micro-batches
    * of risky deltas INTO THE BRANCH (`writeStream` with the `branch`
    * option: each batch is one CAS version on the branch's own chain,
    * exactly-once under engine replay via the branch's `#txn`
    * namespace) while main's head never moves — readers keep serving
    * v1 throughout the ingest — then publish atomically with
    * [[snapshotFastForward]] (ONE main version, branch-resident dirs
    * hard-linked under a main-owned root) and drop the branch. The
    * result reads the published head NEXT TO the still-pristine v1
    * with the head version pinned at exactly 2: a staged row leaking
    * to main mid-stream, a publish that split into multiple versions,
    * or a drop that stranded published bytes all hash-mismatch. At
    * 100 TB this is the nightly-ingest shape: micro-batches cost
    * O(touched partitions + batch) on the branch, the audit reads the
    * branch, and the publish costs O(manifest + staged-files
    * metadata), zero data bytes.
    */
  def streamingWap(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_wap"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val base = java.nio.file.Paths.get(ioDir("snapshot_swap"))
      .resolve(java.util.UUID.randomUUID.toString.take(8))
    wapRoots.put(Tables.dirKey(dir), base).foreach(old =>
      org.apache.commons.io.FileUtils.deleteQuietly(old.toFile))
    val inbox = base.resolve("inbox")
    val store = base.resolve("store")
    java.nio.file.Files.createDirectories(inbox)
    // fixture from the shared prototype: store hard-link-cloned, payload
    // files hard-linked (mtimes re-pinned — links share the inode, but
    // the pinned values are constants, so re-pinning is idempotent)
    val proto = wapPrototype(s, dir)
    snapshotClone(proto.resolve("store"), store)
    val t0 = 1700000000000L
    Seq("b0" -> t0, "b1" -> (t0 + 60000)).foreach { case (n, mt) =>
      val dst = inbox.resolve(s"$n.parquet")
      java.nio.file.Files.createLink(dst,
        proto.resolve("inbox").resolve(s"$n.parquet"))
      dst.toFile.setLastModified(mt)
    }
    snapshotBranchCreate(store, "staging")
    val schema = s.read.parquet(inbox.resolve("b0.parquet").toString).schema
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "orders"))
    try {
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(inbox.toString)
        .writeStream.format("graft-snapshot")
        .outputMode(OutputMode.Append())
        .queryName(qName)
        .option("checkpointLocation", base.resolve("chk").toString)
        .option("branch", "staging")
        .option("keyCol", "o_orderkey").option("partCol", "o_ym")
        .option("txnAppId", "graft_swap_entry")
        .trigger(Trigger.AvailableNow())
        .start(store.toString)
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    require(SnapshotManifest.head(store) == 1,
      "staged micro-batches must never advance main")
    val (v, _, _) = snapshotFastForward(store, "staging")
    require(v == 2, s"the publish must be exactly main v2, got $v")
    graft.sources.SnapshotBranches.drop(store, "staging")
    def arm(tag: String, version: Int): DataFrame =
      graft.sources.SnapshotTable.read(s, store, version)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          dsum(col("o_totalprice")).as("sum_price"))
        .select(lit(tag).as("arm"), lit(2).as("head_version"),
          col("o_orderstatus"), col("n_orders"), col("n_keys"),
          col("sum_price"))
    arm("published", 2).unionByName(arm("v1", 1))
  }

  private val bcdfRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  /** Changefeed on a BRANCH root plus the fastforward publish seen
    * from main — the WAP loop's last unobserved surface: the CDF
    * source runs against `.branch/<name>` like every other door (a
    * branch is a complete mini-store), consuming each STAGED version
    * as its own micro-batch increment, while after the atomic publish
    * main's changefeed sees the entire staged delta as exactly ONE
    * version. The entry stages the familiar deterministic deltas
    * (×1.1 updates for keys ≡ 0 mod 97, negated inserts for keys ≡ 0
    * mod 1013) as branch v2 and v3 through the batch write door's
    * `branch` option, streams the branch feed `fromVersion 2` (arm
    * 'branch': two versions), fastforwards and drops the branch, then
    * streams main `fromVersion 2` (arm 'main': one version whose
    * totals are the union of both staged deltas). A staged change
    * leaking to main early, a publish that split into two versions,
    * or a branch feed that missed a staged commit all hash-mismatch;
    * the oracle replays both planes relationally. At 100 TB each arm
    * costs O(staged commits' touched partitions) via the
    * manifest-scoped [[changeRows]] — never a table scan.
    */
  def streamingBranchCdf(s: SparkSession, dir: String): DataFrame = {
    val qB = "graft_streaming_branch_cdf_b"
    val qM = "graft_streaming_branch_cdf_m"
    s.streams.active.filter(q => Option(q.name).exists(Set(qB, qM)))
      .foreach(_.stop())
    val base = java.nio.file.Paths.get(ioDir("snapshot_bcdf"))
      .resolve(java.util.UUID.randomUUID.toString.take(8))
    bcdfRoots.put(Tables.dirKey(dir), base).foreach(old =>
      org.apache.commons.io.FileUtils.deleteQuietly(old.toFile))
    val store = base.resolve("store")
    java.nio.file.Files.createDirectories(base)
    snapshotClone(wapPrototype(s, dir).resolve("store"), store)
    snapshotBranchCreate(store, "staging")
    val orders95 = ordersYmFrame(s, dir)
      .filter(col("o_ym").startsWith("1995"))
    val updates = orders95.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
    val inserts = orders95.filter(col("o_orderkey") % 1013 === 0)
      .withColumn("o_orderkey", -col("o_orderkey") - lit(1))
    Seq(updates, inserts).foreach(
      _.write.format("graft-snapshot").option("branch", "staging")
        .option("keyCol", "o_orderkey").option("partCol", "o_ym")
        .mode("append").save(store.toString))
    require(SnapshotManifest.head(store) == 1,
      "staged commits must never advance main")
    def feed(root: java.nio.file.Path, qName: String, arm: String)
        : DataFrame = {
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "orders"))
      try {
        s.readStream.format("graft-snapshot").option("fromVersion", "2")
          .load(root.toString)
          .groupBy(col("version"))
          .agg(count(lit(1)).as("n_changes"),
            sum(when(col("change_type") === "insert", 1).otherwise(0))
              .cast("bigint").as("n_inserts"),
            sum(when(col("change_type") === "update", 1).otherwise(0))
              .cast("bigint").as("n_updates"),
            sum(lit(1) - col("alive")).cast("bigint").as("n_deletes"),
            sum(col("k")).cast("bigint").as("key_sum"),
            dsum(col("price")).as("price_sum"),
            dsum(col("old_price")).as("old_price_sum"))
          .writeStream
          .outputMode(OutputMode.Complete())
          .format("memory")
          .queryName(qName)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.table(qName).withColumn("arm", lit(arm))
    }
    val branchArm = feed(
      graft.sources.SnapshotBranches.root(store, "staging"), qB, "branch")
    // materialize the branch arm BEFORE the publish drops the branch:
    // the memory sink holds the snapshot, but the stream itself must
    // have consumed staged versions while they were the branch's
    val (v, _, _) = snapshotFastForward(store, "staging")
    require(v == 2, s"the publish must be exactly main v2, got $v")
    graft.sources.SnapshotBranches.drop(store, "staging")
    val mainArm = feed(store, qM, "main")
    branchArm.unionByName(mainArm)
      .select(col("arm"), col("version"), col("n_changes"),
        col("n_inserts"), col("n_updates"), col("n_deletes"),
        col("key_sum"), col("price_sum"), col("old_price_sum"))
  }

  /** Deposit a frame as ONE parquet file in a file-stream inbox with a
    * pinned mtime — the file source processes oldest-first, so the
    * mtimes ARE the micro-batch order and must not depend on
    * write-race timestamps. Shared with `SnapshotSinkSpec` (the
    * entry and the spec must exercise the same ordering discipline).
    */
  /** Shuffle-partition count for the bounded streaming runs, derived
    * from the streamed source's bytes instead of a pinned constant
    * (guide §2: partitioning scale-adaptive, never tuned to local mode
    * OR the cluster). Stateful operators pay one state store (a
    * stream-stream join: four) per partition per micro-batch — state
    * commits, delta files, and maintenance all scale with the count —
    * so partitions follow DATA: one per ~8 MB of source, floor 2 (two
    * state commits overlap; the r16 constant 8 paid 4× the commits for
    * idle parallelism on a 2 MB harness source). A 100 TB/day feed
    * derives thousands from the same rule. Streaming plans get no AQE
    * coalescing (state-store partitioning must stay stable across
    * batches), which is exactly why this cannot be left to the
    * adaptive machinery that fixes the batch side.
    */
  private def streamShufflePartitions(dir: String,
      table: String): String = {
    val f = new java.io.File(s"$dir/$table.parquet")
    val bytes =
      if (f.isDirectory) org.apache.commons.io.FileUtils.sizeOf(f)
      else f.length
    math.max(2L, bytes / (8L << 20)).toString
  }

  private val inboxProtoRoots = scala.collection.concurrent.TrieMap
    .empty[(String, String), java.nio.file.Path]

  /** One-time per JVM per sf dir prototype INBOX for file-stream
    * entries whose deposits are deterministic functions of the sf
    * tables: `build` runs the entry's [[depositSingleParquet]] calls
    * once into a prototype dir, and every entry call hard-links the
    * files into its own fresh inbox with the pinned mtimes re-applied
    * (links share the inode, but the pinned values are constants, so
    * re-pinning is idempotent) — the [[wapPrototype]] discipline
    * extended to deposit-shaped fixtures. The timed window then
    * measures the streaming lifecycle, not 3–4 coalesce(1) fixture
    * writes per trial (round-17 profile: the deposits were 1.2 s of
    * streaming_late_data's 5.0 s steady-state wall).
    */
  private def linkInboxFromPrototype(dir: String, entry: String,
      files: Seq[(String, Long)], inbox: java.nio.file.Path)(
      build: java.nio.file.Path => Unit): Unit = {
    val proto = inboxProtoRoots.getOrElseUpdate((entry, Tables.dirKey(dir)), {
      val p = java.nio.file.Paths.get(ioDir(s"${entry}_proto"))
        .resolve(Tables.dirKey(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
      java.nio.file.Files.createDirectories(p)
      build(p)
      p
    })
    files.foreach { case (n, mt) =>
      val dst = inbox.resolve(n)
      java.nio.file.Files.createLink(dst, proto.resolve(n))
      dst.toFile.setLastModified(mt)
    }
  }

  private val treeProtoRoots = scala.collection.concurrent.TrieMap
    .empty[(String, String), java.nio.file.Path]

  /** One-time per JVM per sf dir prototype for a plain parquet TREE
    * fixture (a partitioned base table, a fragmented small-file dir):
    * `build` writes the deterministic fixture once into a prototype
    * dir; every entry call wipes `dst` and hard-links the tree back
    * (dirs recreated, files linked — parquet files are write-once, and
    * the merge/delete entries replace whole partition dirs, so a
    * linked file's inode is never mutated). The [[wapPrototype]]
    * discipline for non-store fixtures: at 100 TB the base table
    * EXISTS — rebuilding it per run measured 0.5–1 s of pure fixture
    * I/O inside merge/delete/compact's timed windows.
    */
  private def linkTreeFromPrototype(dir: String, entry: String,
      dst: java.nio.file.Path)(build: java.nio.file.Path => Unit): Unit = {
    val proto = treeProtoRoots.getOrElseUpdate((entry, Tables.dirKey(dir)), {
      val p = java.nio.file.Paths.get(ioDir(s"${entry}_proto"))
        .resolve(Tables.dirKey(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
      java.nio.file.Files.createDirectories(p)
      build(p)
      p
    })
    org.apache.commons.io.FileUtils.deleteQuietly(dst.toFile)
    java.nio.file.Files.createDirectories(dst)
    val st = java.nio.file.Files.walk(proto)
    try st.forEach { src =>
      val rel = proto.relativize(src)
      val d = dst.resolve(rel)
      if (java.nio.file.Files.isDirectory(src))
        java.nio.file.Files.createDirectories(d)
      else java.nio.file.Files.createLink(d, src)
    } finally st.close()
  }

  private[graft] def depositSingleParquet(df: DataFrame,
      inbox: java.nio.file.Path, name: String, mtime: Long): Unit = {
    val tmp = inbox.resolveSibling(s"tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = listDir(tmp)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = inbox.resolve(s"$name.parquet")
    java.nio.file.Files.move(part, dst)
    dst.toFile.setLastModified(mtime)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  /** SCHEMA EVOLUTION in the snapshot store (add-column): v1
    * bootstraps WITHOUT `o_channel`, the v2 upsert carries it — the
    * commit widens the table (new columns appended to `table.meta` by
    * the CAS winner), kept rows in touched partitions and every
    * untouched pre-evolution file read the column back as NULL (the
    * declared-schema parquet fill — no rewrite of old data, the
    * Delta `mergeSchema` shape), and a delta DROPPING a column is
    * refused as data loss. Latest-schema semantics: the v1 time-travel
    * read serves the widened schema too (all-NULL channel), so the
    * entry aggregates v1 AND head side by side under one schema —
    * per-status counts of channel-bearing rows pin exactly WHICH rows
    * carry values (delta rows only) vs NULL-filled (kept + old files).
    * At 100 TB: evolution costs exactly one metadata-sidecar rewrite —
    * zero data files are touched beyond the commit's own partitions.
    */
  def snapshotAddColumn(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Paths.get(ioDir("snapshot_evolve"))
      .resolve(java.util.UUID.randomUUID.toString.take(8))
    evolveRoots.put(Tables.dirKey(dir), root).foreach(old =>
      org.apache.commons.io.FileUtils.deleteQuietly(old.toFile))
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))
      .filter(col("o_ym").startsWith("1995"))
    orders.write.format("graft-snapshot").option("keyCol", "o_orderkey")
      .mode("append").save(root.toString)
    // v2: price bump + channel attribution for %97 keys, channel-tagged
    // inserts for %1013 keys — the first commit that knows the column
    val channel = concat(lit("ch_"),
      ((col("o_orderkey") % 3 + 3) % 3).cast("string"))
    val updates = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
      .withColumn("o_channel", channel)
    val inserts = orders.filter(col("o_orderkey") % 1013 === 0)
      .withColumn("o_channel", channel)
      .withColumn("o_orderkey", -col("o_orderkey") - lit(1))
    updates.unionByName(inserts)
      .write.format("graft-snapshot").mode("append").save(root.toString)
    def versionAgg(v: Int): DataFrame =
      graft.sources.SnapshotTable.read(s, root, v)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          count(col("o_channel")).as("n_channel"),
          countDistinct(col("o_channel")).as("n_channels_distinct"),
          dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("version", lit(s"v$v"))
    versionAgg(1).unionByName(versionAgg(2))
      .select(col("version"), col("o_orderstatus"), col("n_orders"),
        col("n_channel"), col("n_channels_distinct"), col("sum_price"))
  }

  private val evolveRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  /** Time travel: after the v2 merge and v3 delete have committed, read
    * snapshots v1 AND v3 side by side — identical per-status aggregates
    * for both versions, tagged by a `version` column. v1's correctness
    * proves old versions survive later commits untouched (in-place
    * swaps would have destroyed it); v3's proves the manifest chain
    * composes commits correctly. At 100 TB a snapshot read costs
    * exactly a normal table scan plus one manifest file.
    */
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = snapshotFixture(s, dir)
    def versionAgg(v: Int): DataFrame = snapshotRead(s, root, v)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        dsum(col("o_totalprice")).as("sum_price"))
      .withColumn("version", lit(s"v$v"))
    versionAgg(1).unionByName(versionAgg(3))
      .select(col("version"), col("o_orderstatus"), col("n_orders"),
        col("n_keys"), col("sum_price"))
  }

  /** Time travel through the SQL door: the snapshot store registered
    * as a DataSource-V2 catalog ([[graft.sources.GraftSnapshotCatalog]])
    * and queried with the ANSI `VERSION AS OF` clause — v1 and v3 of
    * the same store aggregated side by side in ONE SQL statement, no
    * DataFrame API anywhere. Resolution lands in
    * `loadTable(ident, version)`; the scan is a stock DSv2 parquet scan
    * over the manifest-served file index, so SQL users get the same
    * zero-listing planning as the DataFrame door. The catalog name is
    * keyed per sf dir (catalog instances are cached per session, and
    * the warehouse differs per dir). Oracle: identical to
    * `source_time_travel` — the SQL door must see exactly what the
    * DataFrame door sees.
    */
  def sqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = snapshotFixture(s, dir)
    val key = Tables.dirKey(dir)
    val cat = s"snap_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      root.getParent.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    def arm(v: Int): String =
      s"""SELECT 'v$v' AS version, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl VERSION AS OF $v
         |GROUP BY o_orderstatus""".stripMargin
    s.sql(s"${arm(1)}\nUNION ALL\n${arm(3)}")
  }

  /** Dynamic partition pruning THROUGH the snapshot SQL door — the
    * star-schema shape at the catalog surface: the quarter predicate
    * lives on a joined calendar dimension (a real parquet datasource —
    * a LocalRelation filter constant-folds away and leaves the DPP
    * rule nothing to latch onto), and the fact side is the store's
    * head read through `GraftSnapshotCatalog`. Spark's V2 file scans
    * implement no runtime-filtering interface, so without
    * [[graft.sources.SnapshotDppScan]] this query reads all ~80 month
    * partitions; with it, the dimension broadcast's distinct keys
    * arrive as a runtime `IN` on the partition mirror and the manifest
    * index plans only the quarter's 3 — at 100 TB the difference
    * between a dashboard join and a table scan. `SnapshotCatalogSpec`
    * pins the planted filter and the planned-partition subset; here
    * the oracle replays the v3 state relationally with the quarter
    * applied as a plain month filter, so a scan that pruned the WRONG
    * partitions (not just too few) hash-mismatches.
    */
  def sqlDppPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = snapshotFixture(s, dir)
    val key = Tables.dirKey(dir)
    val cat = s"snap_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      root.getParent.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    val dimPath = root.getParent.resolve("calendar_dim").toString
    if (!new java.io.File(dimPath).isDirectory)
      (1990 to 2005).flatMap(y => (1 to 12).map(m =>
          (f"$y-$m%02d", s"$y-Q${(m + 2) / 3}")))
        .toDF("d_ym", "quarter").coalesce(1)
        .write.mode("overwrite").parquet(dimPath)
    s.read.parquet(dimPath).createOrReplaceTempView("graft_snap_cal")
    s.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl t JOIN graft_snap_cal cal ON t.o_ym_p = cal.d_ym
         |WHERE cal.quarter = '1995-Q1'
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** Iceberg-style METADATA TABLES through the catalog —
    * `snap.t.files` / `t.partitions` / `t.history` as real, joinable
    * SQL tables over the manifest plane (no data file opened). The
    * entry aggregates the head version's per-partition `row_count`
    * from `files` and rides the version-chain length from `history`
    * next to it: the oracle recomputes the same numbers FROM THE DATA
    * (the relational v3 replay), so a sidecar row_count that drifts
    * from the files it describes, a files row for a dir the manifest
    * dropped, or a phantom history version all hash-mismatch — the
    * metadata plane is held to the same oracle bar as the data plane.
    */
  def sqlMetaTables(s: SparkSession, dir: String): DataFrame = {
    val root = snapshotFixture(s, dir)
    val key = Tables.dirKey(dir)
    val cat = s"snap_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      root.getParent.toString)
    val tn = root.getFileName.toString
    s.sql(
      s"""SELECT f.pv AS o_ym, SUM(f.row_count) AS n_rows,
         |  COUNT(*) >= 1 AS has_files,
         |  (SELECT MAX(version) FROM $cat.`$tn`.`history`)
         |    AS head_version
         |FROM $cat.`$tn`.`files` f
         |GROUP BY f.pv""".stripMargin)
  }

  /** The SQL DML door, end to end: bootstrap a primary-keyed snapshot
    * store through the DataFrame write door (which records `keyCol` +
    * layout in `table.meta`), then drive it ENTIRELY in SQL —
    *
    *  1. `INSERT INTO` upserts six months' worth of price rewrites
    *     plus brand-new negative keys in ONE statement (one CAS
    *     version; INSERT is the SQL spelling of the door's keyed
    *     upsert, since the store is primary-keyed by bootstrap),
    *  2. `DELETE FROM … WHERE o_ym_p = '1995-03'` drops a whole
    *     partition — the filter lands on the layout mirror, so the
    *     doomed-key scan prunes to that ONE partition at planning,
    *     and the emptied month falls out of the manifest,
    *  3. `DELETE FROM … WHERE o_ym_p = '1996-02' AND o_totalprice >=
    *     550000` is a predicate delete scoped to one partition's
    *     expensive orders — copy-on-write rewrite of one month.
    *
    * The final aggregate reads the head through the same SQL catalog
    * and carries the head VERSION (must be exactly 4: bootstrap + 3
    * DML statements, each one CAS commit), so a DML statement that
    * silently split, no-opped, or bypassed the version chain fails
    * the hash. At 100 TB each statement costs O(its partitions), and
    * the oracle recomputes the final state relationally from orders.
    */
  def sqlDmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_dml")).resolve(key)
    // DML advances the store: rebuild from scratch every call so the
    // entry is idempotent across bench trials (CAS needs a virgin root) —
    // as a hard-link clone of the shared pristine bootstrap, so the
    // rebuild is O(#files) links, not a repeated ~80-partition write
    val root = ordersYmFixture(s, dir, base, "orders_dml")
    val orders = ordersYmFrame(s, dir)
    val cat = s"snapdml_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    orders.createOrReplaceTempView("graft_dml_orders_src")
    // table schema = data columns + the o_ym_p layout mirror (whose
    // values must equal o_ym — the door verifies, then re-derives)
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5,
         |  o_ym, o_ym
         |FROM graft_dml_orders_src
         |WHERE o_ym BETWEEN '1995-01' AND '1995-06'
         |  AND o_orderkey % 17 = 0
         |UNION ALL
         |SELECT -o_orderkey - 1, o_orderstatus, o_totalprice, o_ym, o_ym
         |FROM graft_dml_orders_src
         |WHERE o_ym BETWEEN '1995-01' AND '1995-06'
         |  AND o_orderkey % 1013 = 0""".stripMargin)
    s.sql(s"DELETE FROM $tbl WHERE o_ym_p = '1995-03'")
    s.sql(s"DELETE FROM $tbl WHERE o_ym_p = '1996-02' " +
      "AND o_totalprice >= 550000.0")
    val head = graft.sources.SnapshotManifest.head(root)
    s.sql(
      s"""SELECT $head AS head_version, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** MERGE-ON-READ DELETE end to end through the SQL door (round 15 —
    * the write-amplification complement to `sql_dml_roundtrip`'s
    * copy-on-write chain): CREATE with `delete_mode='merge-on-read'`,
    * INSERT six months of orders, DELETE a price predicate spanning
    * every month — which commits O(doomed keys) bytes as `#delete`
    * records with ZERO data-file changes (`mor_new_data_files` pins
    * exactly that: the data-file count across the DELETE commit moves
    * by 0, where copy-on-write rewrites every touched month) — then
    * `CALL snap.compact` materializes the records away. Three arms
    * hash-pinned against the relational replay: the pre-delete
    * version (time travel), the merge-on-read head (readers
    * anti-filter the doomed keys; `n_record_parts` = partitions
    * carrying records, which the oracle derives as the doomed months),
    * and the compacted head (same rows, records gone). At 100 TB this
    * is the GDPR-takedown shape: a small DELETE lands in every
    * partition and must not rewrite them all.
    */
  def sqlMergeOnRead(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_mor")).resolve(key)
    // DML advances the store: rebuild virgin per call (bench trials)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val cat = s"snapmor_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`orders_mor`"
    ordersYmFrame(s, dir).createOrReplaceTempView("graft_mor_orders_src")
    s.sql(
      s"""CREATE TABLE $tbl
         |  (o_orderkey BIGINT, o_orderstatus STRING,
         |   o_totalprice DOUBLE, o_ym STRING, o_ym_p STRING)
         |PARTITIONED BY (o_ym_p)
         |TBLPROPERTIES ('key_column' = 'o_orderkey',
         |               'delete_mode' = 'merge-on-read')""".stripMargin)
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice, o_ym, o_ym
         |FROM graft_mor_orders_src
         |WHERE o_ym BETWEEN '1995-01' AND '1995-06'""".stripMargin)
    val root = base.resolve("orders_mor")
    def dataFiles(v: Int): Int =
      SnapshotManifest.read(root, v).values.toSeq.map(d =>
        Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
          .count(f => f.isFile && f.getName.endsWith(".parquet"))).sum
    val vPre = graft.sources.SnapshotManifest.head(root)
    val filesPre = dataFiles(vPre)
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 400000.0")
    val vDel = graft.sources.SnapshotManifest.head(root)
    val recParts =
      graft.sources.SnapshotManifest.deleteRecords(root, vDel).size
    val newFiles = dataFiles(vDel) - filesPre // MUST be 0 (O(delta))
    s.sql(s"CALL $cat.compact('orders_mor', 2)")
    val vCpt = graft.sources.SnapshotManifest.head(root)
    val recAfter =
      graft.sources.SnapshotManifest.deleteRecords(root, vCpt).size
    def arm(tag: String, version: Int, recs: Int, from: String) = s.sql(
      s"""SELECT '$tag' AS arm, $version AS version,
         |  $recs AS n_record_parts, $newFiles AS mor_new_data_files,
         |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS price_sum
         |FROM $from""".stripMargin)
    arm("pre", vPre, 0, s"$tbl VERSION AS OF $vPre")
      .unionAll(arm("mor", vDel, recParts, s"$tbl VERSION AS OF $vDel"))
      .unionAll(arm("compacted", vCpt, recAfter, tbl))
  }

  /** MERGE-ON-READ UPDATE + MERGE end to end through the SQL door
    * (round 16 — VERDICT r15 #1, closing the write-amplification
    * story `sql_merge_on_read` opened for DELETE): on a
    * `delete_mode='merge-on-read'` table, UPDATE and MERGE take the
    * DELTA-BASED row-level operation
    * ([[graft.sources.SnapshotDeltaOperation]], Spark's
    * `SupportsDelta`) — matched keys publish as `#delete` records and
    * updated/inserted rows as `#upsert` delta dirs, ONE CAS version
    * per statement with ZERO data-file changes (`upd_new_files` /
    * `mrg_new_files` pin exactly that, where the copy-on-write path
    * of `sql_update_merge` rewrites every matched partition). Chain:
    * CREATE + INSERT six months (v2), a price UPDATE spanning every
    * month (v3), a MERGE with matched updates and new-key inserts
    * (v4), `CALL snap.compact` materializing both record planes (v5).
    * Three arms hash-pinned against the relational replay: the
    * post-insert version (time travel), the post-MERGE merge-on-read
    * head (readers serve base rows anti-filtered plus delta rows,
    * scoped by record stamp), and the compacted head (same rows,
    * records gone). At 100 TB this is the hot-wide-table shape: a
    * small UPDATE on a 50-partition table commits kilobytes instead
    * of rewriting 50 partitions.
    */
  def sqlUpdateMor(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_umor")).resolve(key)
    // DML advances the store: rebuild virgin per call (bench trials)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val cat = s"snapumor_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`orders_umor`"
    ordersYmFrame(s, dir).filter(
        col("o_ym").between("1995-01", "1995-06"))
      .createOrReplaceTempView("graft_umor_orders_src")
    s.sql(
      s"""CREATE TABLE $tbl
         |  (o_orderkey BIGINT, o_orderstatus STRING,
         |   o_totalprice DOUBLE, o_ym STRING, o_ym_p STRING)
         |PARTITIONED BY (o_ym_p)
         |TBLPROPERTIES ('key_column' = 'o_orderkey',
         |               'delete_mode' = 'merge-on-read')""".stripMargin)
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice, o_ym, o_ym
         |FROM graft_umor_orders_src""".stripMargin)
    val root = base.resolve("orders_umor")
    def dataFiles(v: Int): Int =
      SnapshotManifest.read(root, v).values.toSeq.map(d =>
        Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
          .count(f => f.isFile && f.getName.endsWith(".parquet"))).sum
    val vPre = graft.sources.SnapshotManifest.head(root)
    val filesPre = dataFiles(vPre)
    s.sql(
      s"""UPDATE $tbl SET o_totalprice = o_totalprice * 2.0
         |WHERE o_totalprice >= 400000.0""".stripMargin)
    val vUpd = graft.sources.SnapshotManifest.head(root)
    val updNewFiles = dataFiles(vUpd) - filesPre // MUST be 0 (O(delta))
    s.sql(
      """SELECT o_orderkey, o_orderstatus,
        |  o_totalprice + 5.0 AS o_totalprice, o_ym
        |FROM graft_umor_orders_src WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT -o_orderkey - 1, o_orderstatus, o_totalprice + 1.0, o_ym
        |FROM graft_umor_orders_src WHERE o_orderkey % 13 = 0"""
        .stripMargin).createOrReplaceTempView("graft_umor_merge_src")
    s.sql(
      s"""MERGE INTO $tbl AS tgt USING graft_umor_merge_src AS src
         |ON tgt.o_orderkey = src.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
         |WHEN NOT MATCHED THEN INSERT
         |  (o_orderkey, o_orderstatus, o_totalprice, o_ym, o_ym_p)
         |  VALUES (src.o_orderkey, src.o_orderstatus, src.o_totalprice,
         |    src.o_ym, src.o_ym)""".stripMargin)
    val vMrg = graft.sources.SnapshotManifest.head(root)
    val mrgNewFiles = dataFiles(vMrg) - filesPre // MUST be 0 (O(delta))
    val recParts =
      graft.sources.SnapshotManifest.deleteRecords(root, vMrg).size
    s.sql(s"CALL $cat.compact('orders_umor', 2)")
    val vCpt = graft.sources.SnapshotManifest.head(root)
    val recAfter =
      graft.sources.SnapshotManifest.deleteRecords(root, vCpt).size +
        graft.sources.SnapshotManifest.upsertRecords(root, vCpt).size
    def arm(tag: String, version: Int, recs: Int, from: String) = s.sql(
      s"""SELECT '$tag' AS arm, $version AS version,
         |  $recs AS n_record_parts, $updNewFiles AS upd_new_files,
         |  $mrgNewFiles AS mrg_new_files,
         |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS price_sum
         |FROM $from""".stripMargin)
    arm("pre", vPre, 0, s"$tbl VERSION AS OF $vPre")
      .unionAll(arm("mor", vMrg, recParts, s"$tbl VERSION AS OF $vMrg"))
      .unionAll(arm("compacted", vCpt, recAfter, tbl))
  }

  /** The changefeed over MERGE-ON-READ deletes: a records-only DELETE
    * commit changes a partition's ROWS without touching its dirs, and
    * the streaming CDF source must still surface its doomed keys as
    * delete events — `changeRows` diffs the `#delete` record state
    * alongside the dir map and each side reads under ITS version's
    * anti-filter, so the pre-image rows of a MoR delete stream with
    * `change_type = 'delete'` exactly like a copy-on-write delete's.
    * The fixture is the `sql_merge_on_read` chain (CREATE
    * merge-on-read, INSERT six months, records-only DELETE) streamed
    * from version 2; the per-change-type aggregate hash-pins both the
    * insert replay and the delete events' pre-image sums against the
    * relational oracle. At 100 TB this is what keeps CDC consumers of
    * a takedown-heavy table correct WITHOUT forcing copy-on-write:
    * the delete events cost O(doomed keys), not O(touched
    * partitions).
    */
  def streamingMorCdf(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_mor_cdf"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_mor_cdf"))
      .resolve(key)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val cat = s"snapmorcdf_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`orders_mor_cdf`"
    ordersYmFrame(s, dir)
      .createOrReplaceTempView("graft_mor_cdf_orders_src")
    s.sql(
      s"""CREATE TABLE $tbl
         |  (o_orderkey BIGINT, o_orderstatus STRING,
         |   o_totalprice DOUBLE, o_ym STRING, o_ym_p STRING)
         |PARTITIONED BY (o_ym_p)
         |TBLPROPERTIES ('key_column' = 'o_orderkey',
         |               'delete_mode' = 'merge-on-read')""".stripMargin)
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice, o_ym, o_ym
         |FROM graft_mor_cdf_orders_src
         |WHERE o_ym BETWEEN '1995-01' AND '1995-06'""".stripMargin)
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice >= 400000.0")
    val root = base.resolve("orders_mor_cdf")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "orders"))
    try {
      // fromVersion 2 = the INSERT (v1 is the empty CREATE)
      s.readStream.format("graft-snapshot").option("fromVersion", "2")
        .load(root.toString)
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_changes"),
          sum(col("k")).cast("bigint").as("key_sum"),
          graft.functions.dsum(col("price")).as("price_sum"),
          graft.functions.dsum(col("old_price")).as("old_price_sum"))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .format("memory")
        .queryName(qName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
  }

  /** The changefeed over MERGE-ON-READ UPDATEs (the `streaming_mor_cdf`
    * sibling for the round-16 delta plane): a records-only UPDATE
    * commit changes a partition's rows purely on the `#delete` +
    * `#upsert` planes, and the streaming CDF source must surface each
    * matched key as ONE `update` event with exact pre- AND post-images
    * — `changeRows` diffs both record planes alongside the dir map,
    * each side reading under ITS version's scoped state (base dirs
    * anti-filtered, delta dirs stamp-scoped), so the old row and its
    * replacement meet in the full-outer diff as a single update. The
    * fixture is the `sql_update_mor` chain's head: CREATE
    * merge-on-read, INSERT six months, records-only UPDATE doubling
    * every >=400k price, streamed from version 2; the per-change-type
    * aggregate hash-pins the insert replay and the update events'
    * pre/post sums against the relational oracle. At 100 TB this is
    * what keeps CDC consumers of a hot UPDATE-heavy table exact at
    * O(matched keys) per commit, never a partition rewrite.
    */
  def streamingUmorCdf(s: SparkSession, dir: String): DataFrame = {
    val qName = "graft_streaming_umor_cdf"
    s.streams.active.filter(q => Option(q.name).contains(qName))
      .foreach(_.stop())
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_umor_cdf"))
      .resolve(key)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val cat = s"snapumorcdf_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`orders_umor_cdf`"
    ordersYmFrame(s, dir)
      .createOrReplaceTempView("graft_umor_cdf_orders_src")
    s.sql(
      s"""CREATE TABLE $tbl
         |  (o_orderkey BIGINT, o_orderstatus STRING,
         |   o_totalprice DOUBLE, o_ym STRING, o_ym_p STRING)
         |PARTITIONED BY (o_ym_p)
         |TBLPROPERTIES ('key_column' = 'o_orderkey',
         |               'delete_mode' = 'merge-on-read')""".stripMargin)
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice, o_ym, o_ym
         |FROM graft_umor_cdf_orders_src
         |WHERE o_ym BETWEEN '1995-01' AND '1995-06'""".stripMargin)
    s.sql(
      s"""UPDATE $tbl SET o_totalprice = o_totalprice * 2.0
         |WHERE o_totalprice >= 400000.0""".stripMargin)
    val root = base.resolve("orders_umor_cdf")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions(dir, "orders"))
    try {
      // fromVersion 2 = the INSERT (v1 is the empty CREATE)
      s.readStream.format("graft-snapshot").option("fromVersion", "2")
        .load(root.toString)
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_changes"),
          sum(col("k")).cast("bigint").as("key_sum"),
          graft.functions.dsum(col("price")).as("price_sum"),
          graft.functions.dsum(col("old_price")).as("old_price_sum"))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .format("memory")
        .queryName(qName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(qName)
  }

  /** `CALL snap.restore(table, version)` end to end — the disaster-
    * recovery primitive (Delta `RESTORE TABLE … TO VERSION AS OF`):
    * bootstrap (v1), corrupt the table with a bad price rewrite (v2,
    * `INSERT INTO` upsert), then roll back by PUBLISHING v3 as a
    * verbatim manifest copy of v1 — O(manifest), zero data bytes
    * moved, nothing rewritten ([[snapshotRestore]]). The result reads
    * the restored head AND `VERSION AS OF 2` side by side: the head
    * must equal the pristine bootstrap while the interim bad version
    * stays time-travelable (restore is a commit, not history
    * rewriting), and the pinned head version (exactly 3) hash-fails
    * any restore that split, no-oped, or rewrote instead of
    * republishing. The oracle replays both states relationally.
    */
  def sqlRestore(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_restore")).resolve(key)
    // restore advances the store: rebuild per call (trial idempotence)
    // via hard-link clone of the shared pristine bootstrap
    val root = ordersYmFixture(s, dir, base, "orders_restore")
    val orders = ordersYmFrame(s, dir)
    val cat = s"snaprst_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    orders.createOrReplaceTempView("graft_rst_orders_src")
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5,
         |  o_ym, o_ym
         |FROM graft_rst_orders_src
         |WHERE o_ym BETWEEN '1995-01' AND '1995-06'
         |  AND o_orderkey % 17 = 0""".stripMargin)
    s.sql(s"CALL $cat.restore('${root.getFileName}', 1)")
    val head = graft.sources.SnapshotManifest.head(root)
    def arm(tag: String, suffix: String): String =
      s"""SELECT '$tag' AS arm, $head AS head_version, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl $suffix
         |GROUP BY o_orderstatus""".stripMargin
    s.sql(s"${arm("head", "")}\nUNION ALL\n${arm("v2", "VERSION AS OF 2")}")
  }

  /** `CALL snap.clone(table, target[, version])` end to end — the
    * zero-copy CLONE primitive, hard-link flavored so it stays correct
    * where Delta's shallow clone documented-breaks (vacuum on the
    * source): bootstrap (v1), upsert (v2), clone BOTH v1 and the head
    * into new tables, then delete on the source (v3) and VACUUM it
    * down to one kept version — reclaiming the upsert-superseded and
    * deleted dirs the clones were taken from. The clones keep reading
    * those bytes because cloning hard-linked them under each clone's
    * own root ([[snapshotClone]]): the source vacuum only unlinked the
    * source's names. The result aggregates clone-of-v1 (the pristine
    * bootstrap), clone-of-head (the upserted state) and the source's
    * final head side by side with each table's pinned head version
    * (clones start their own history at v1) — a clone that carried
    * history, shared manifests instead of linking, or lost bytes to
    * the vacuum hash-mismatches. The oracle replays all three states
    * relationally.
    */
  def sqlClone(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_clone")).resolve(key)
    // cloning creates sibling tables: rebuild per call (trial idempotence)
    // via hard-link clone of the shared pristine bootstrap
    val root = ordersYmFixture(s, dir, base, "orders_cl")
    val orders = ordersYmFrame(s, dir)
    val cat = s"snapcl_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    orders.createOrReplaceTempView("graft_cl_orders_src")
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5,
         |  o_ym, o_ym
         |FROM graft_cl_orders_src
         |WHERE o_ym BETWEEN '1995-01' AND '1995-06'
         |  AND o_orderkey % 17 = 0""".stripMargin)
    s.sql(s"CALL $cat.clone('${root.getFileName}', 'cl_v1', '1')")
    s.sql(s"CALL $cat.clone('${root.getFileName}', 'cl_head')")
    s.sql(s"DELETE FROM $tbl WHERE o_ym_p >= '1996-01'")
    s.sql(s"CALL $cat.vacuum('${root.getFileName}', 1)")
    val srcHead = graft.sources.SnapshotManifest.head(root)
    def arm(tag: String, t: String, hv: Int): String =
      s"""SELECT '$tag' AS arm, $hv AS head_version, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $t
         |GROUP BY o_orderstatus""".stripMargin
    s.sql(Seq(
      arm("clone_v1", s"$cat.`cl_v1`",
        graft.sources.SnapshotManifest.head(base.resolve("cl_v1"))),
      arm("clone_head", s"$cat.`cl_head`",
        graft.sources.SnapshotManifest.head(base.resolve("cl_head"))),
      arm("src", tbl, srcHead)).mkString("\nUNION ALL\n"))
  }

  /** Write-audit-publish through branches, end to end — the staging
    * pattern every production lakehouse ingest runs
    * ([[snapshotBranchCreate]]/[[snapshotFastForward]]): risky data
    * lands on a BRANCH (a complete mini-store forked zero-copy from
    * the head, writable through every door), gets audited there while
    * main serves readers the untouched head, and publishes atomically
    * as ONE main version via fastforward — or never, if the audit
    * fails, at the cost of a `drop_branch`. The entry forks, stages an
    * upsert + new keys on the branch in SQL, audits (the staged read
    * must differ from main by exactly the delta — enforced by the
    * hash), fast-forwards, drops the branch, and reads the published
    * head NEXT TO the pristine v1 with both head versions pinned: a
    * staged row leaking to main before publish, a publish that
    * rewrote instead of linking, or a drop that stranded published
    * bytes all hash-mismatch. The oracle replays both states
    * relationally.
    */
  def sqlWap(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_wap")).resolve(key)
    // the branch lifecycle mutates the store: rebuild per call via
    // hard-link clone of the shared pristine bootstrap
    val root = ordersYmFixture(s, dir, base, "orders_wap")
    val orders = ordersYmFrame(s, dir)
    val cat = s"snapwap_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tn = root.getFileName.toString
    val tbl = s"$cat.`$tn`"
    s.sql(s"CALL $cat.branch('$tn', 'staging')")
    orders.createOrReplaceTempView("graft_wap_orders_src")
    s.sql(
      s"""INSERT INTO $cat.`$tn`.`branch_staging`
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0,
         |  o_ym, o_ym
         |FROM graft_wap_orders_src
         |WHERE o_ym BETWEEN '1995-07' AND '1995-12'
         |  AND o_orderkey % 23 = 0""".stripMargin)
    s.sql(s"CALL $cat.fastforward('$tn', 'staging')")
    s.sql(s"CALL $cat.drop_branch('$tn', 'staging')")
    val head = graft.sources.SnapshotManifest.head(root)
    def arm(tag: String, suffix: String): String =
      s"""SELECT '$tag' AS arm, $head AS head_version, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl $suffix
         |GROUP BY o_orderstatus""".stripMargin
    s.sql(s"${arm("published", "")}\nUNION ALL\n${arm("v1", "VERSION AS OF 1")}")
  }

  /** Named tags through the SQL surface — the Iceberg TAG shape:
    * `CALL snap.tag('t', 'audited', 1)` pins an immutable
    * filesystem-CAS ref ([[graft.sources.SnapshotTags]]) and
    * `VERSION AS OF 'audited'` resolves through it, so releases/audits
    * address snapshots by NAME, not by a version number someone has to
    * remember — and vacuum retains tagged versions (spec-pinned).
    * Tags on the shared fixture are recreated idempotently
    * (drop_tag + tag) so bench trials re-run cleanly. The result
    * aggregates two tagged versions side by side; the oracle
    * recomputes both states relationally.
    */
  def sqlTagTravel(s: SparkSession, dir: String): DataFrame = {
    val root = snapshotFixture(s, dir)
    val key = Tables.dirKey(dir)
    val cat = s"snap_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      root.getParent.toString)
    val tn = root.getFileName.toString
    Seq("audited" -> 1, "pre_delete" -> 2).foreach { case (n, v) =>
      s.sql(s"CALL $cat.drop_tag('$tn', '$n')")
      s.sql(s"CALL $cat.tag('$tn', '$n', $v)")
    }
    val tbl = s"$cat.`$tn`"
    def arm(tag: String): String =
      s"""SELECT '$tag' AS tag_name, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl VERSION AS OF '$tag'
         |GROUP BY o_orderstatus""".stripMargin
    s.sql(s"${arm("audited")}\nUNION ALL\n${arm("pre_delete")}")
  }

  /** Write-time CHECK constraints end to end — the Delta
    * data-quality shape on Spark 4.1's native connector constraints
    * API: bootstrap (v1), `ALTER TABLE … ADD CONSTRAINT … CHECK`
    * (Spark validates EXISTING rows with its own scan, then the
    * store publishes the check as a metadata-only `#check` version,
    * v2 — CAS-serialized against racing writers, with the validated
    * head pinned so a commit racing the validation scan refuses),
    * then a violating `INSERT` must FAIL row-level (the analyzer's
    * `CheckInvariant`, from [[graft.sources.SnapshotV2Table
    * .constraints]]) and a passing one lands (v3). The entry
    * `require`s the refusal — if enforcement silently breaks, the
    * entry errors and the correctness gate fails — and the final
    * aggregate pins the head version + live-check count. At 100 TB
    * enforcement is one codegen'd predicate inside the write
    * pipeline (SQL plane) or one delta-sized audit pass (DataFrame
    * plane) — never a table scan.
    */
  def sqlConstraints(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_check")).resolve(key)
    // constraint lifecycle mutates the store: rebuild per call via
    // hard-link clone of the shared pristine bootstrap
    val root = ordersYmFixture(s, dir, base, "orders_check")
    val orders = ordersYmFrame(s, dir)
    val cat = s"snapchk_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    s.sql(s"ALTER TABLE $tbl ADD CONSTRAINT price_positive " +
      "CHECK (o_totalprice > 0.0)")
    val refused =
      try { s.sql(s"INSERT INTO $tbl VALUES " +
        "(-9L, 'F', -1.0, '1995-01', '1995-01')"); false }
      catch { case _: Exception => true }
    require(refused, "the violating INSERT must be refused row-level")
    orders.createOrReplaceTempView("graft_chk_orders_src")
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT -o_orderkey - 1, o_orderstatus, o_totalprice, o_ym, o_ym
         |FROM graft_chk_orders_src
         |WHERE o_ym = '1995-02' AND o_orderkey % 501 = 0""".stripMargin)
    val head = graft.sources.SnapshotManifest.head(root)
    val nChecks = graft.sources.SnapshotManifest.effectiveChecks(root).size
    s.sql(
      s"""SELECT $head AS head_version, $nChecks AS n_checks,
         |  o_orderstatus, COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** SQL `UPDATE` and `MERGE INTO` on the snapshot store — the
    * GROUP-BASED copy-on-write row-level path
    * ([[graft.sources.SnapshotRowLevelOperation]]), where a group is
    * one partition:
    *
    *  1. `UPDATE … WHERE o_totalprice >= 400000 AND o_ym_p BETWEEN
    *     '1995-01' AND '1995-06'` — the mirror conjunct prunes the
    *     rewrite statically to six months, and Spark's runtime group
    *     filter (a DISTINCT-partitions subquery over the MATCHED
    *     rows) narrows further to the months that actually contain a
    *     qualifying order; every other partition keeps its exact dir
    *     pointer (spec-pinned in `SnapshotCatalogSpec`).
    *  2. `MERGE INTO … USING src` — matched keys take the source's
    *     price, unmatched source rows insert (new negative keys in
    *     their own months), one statement, one CAS version.
    *
    * The final head aggregate carries the head VERSION (exactly 3:
    * bootstrap + UPDATE + MERGE), so a statement that split, no-oped
    * or bypassed the chain hash-fails. The oracle replays both
    * statements relationally. At 100 TB each statement costs
    * O(matched partitions) read+rewrite — the Iceberg copy-on-write
    * bound — with group determination on the manifest metadata plane.
    */
  def sqlUpdateMerge(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_rl")).resolve(key)
    // DML advances the store: rebuild per call (bench-trial idempotence)
    // via hard-link clone of the shared pristine bootstrap
    val root = ordersYmFixture(s, dir, base, "orders_rl")
    val orders = ordersYmFrame(s, dir)
    val cat = s"snaprl_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    orders.createOrReplaceTempView("graft_rl_orders_src")
    s.sql(
      s"""UPDATE $tbl SET o_totalprice = o_totalprice * 2.0
         |WHERE o_totalprice >= 400000.0
         |  AND o_ym_p BETWEEN '1995-01' AND '1995-06'""".stripMargin)
    s.sql(
      """SELECT o_orderkey, o_orderstatus,
        |  o_totalprice + 5.0 AS o_totalprice, o_ym
        |FROM graft_rl_orders_src WHERE o_orderkey % 701 = 0
        |UNION ALL
        |SELECT -o_orderkey - 1, o_orderstatus, o_totalprice + 1.0, o_ym
        |FROM graft_rl_orders_src WHERE o_orderkey % 1409 = 0"""
        .stripMargin).createOrReplaceTempView("graft_rl_merge_src")
    s.sql(
      s"""MERGE INTO $tbl AS tgt USING graft_rl_merge_src AS src
         |ON tgt.o_orderkey = src.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
         |WHEN NOT MATCHED THEN INSERT
         |  (o_orderkey, o_orderstatus, o_totalprice, o_ym, o_ym_p)
         |  VALUES (src.o_orderkey, src.o_orderstatus, src.o_totalprice,
         |    src.o_ym, src.o_ym)""".stripMargin)
    val head = graft.sources.SnapshotManifest.head(root)
    s.sql(
      s"""SELECT $head AS head_version, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** `INSERT OVERWRITE` on the snapshot store — VERSIONED partition
    * replacement ([[graft.sources.SnapshotOverwriteWrite]]): overwrite
    * in a versioned store never destroys history, it publishes one new
    * version whose manifest swaps exactly the overwritten scope.
    *
    *  1. DYNAMIC mode (`partitionOverwriteMode=dynamic`): the
    *     statement's rows cover 1995-01 and 1995-02 only — exactly
    *     those two partitions swap to the new (smaller, discounted)
    *     row set; every other month's dir pointer carries over.
    *  2. STATIC `PARTITION (o_ym_p = '1996-05')`: the clause fills the
    *     layout mirror, the writer verifies it against each row's
    *     source month, and the commit replaces that one partition.
    *
    * Both are real DSv2 batch writes through the hidden-temp task
    * protocol; the head aggregate carries the head version (exactly
    * 3) and the oracle replays both statements relationally. At
    * 100 TB: O(replaced + written partitions) per statement — the
    * backfill-a-day/repartition-a-month shape that copy-on-write
    * MERGE is too row-oriented for.
    */
  def sqlInsertOverwrite(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_ow")).resolve(key)
    // overwrite advances the store: rebuild per call via hard-link
    // clone of the shared pristine bootstrap
    val root = ordersYmFixture(s, dir, base, "orders_ow")
    val orders = ordersYmFrame(s, dir)
    val cat = s"snapow_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    orders.createOrReplaceTempView("graft_ow_orders_src")
    val prevMode =
      s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s.sql(
        s"""INSERT OVERWRITE $tbl
           |SELECT o_orderkey, o_orderstatus, o_totalprice * 0.9,
           |  o_ym, o_ym
           |FROM graft_ow_orders_src
           |WHERE o_ym IN ('1995-01', '1995-02')
           |  AND o_orderkey % 3 = 0""".stripMargin)
    } finally prevMode match {
      case Some(v) =>
        s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    s.sql(
      s"""INSERT OVERWRITE $tbl PARTITION (o_ym_p = '1996-05')
         |SELECT o_orderkey, o_orderstatus, 0.0, o_ym
         |FROM graft_ow_orders_src
         |WHERE o_ym = '1996-05' AND o_orderkey % 5 = 0""".stripMargin)
    val head = graft.sources.SnapshotManifest.head(root)
    s.sql(
      s"""SELECT $head AS head_version, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** METADATA-ONLY COLUMN RENAME through the SQL door, end to end
    * ([[graft.sources.SnapshotRename]] — the Iceberg field-ID rename
    * shape solved by name mapping): bootstrap (v1), a pre-rename
    * upsert (v2, new negative keys — more files under the OLD name),
    * `ALTER TABLE … RENAME COLUMN o_totalprice TO o_price` (v3, one
    * `#rename` manifest record, zero files moved), then a POST-rename
    * upsert (v4) that both inserts under the new name and REWRITES
    * touched pre-rename partitions — whose kept rows must carry their
    * values through the mapping. The final aggregate reads the whole
    * table under the new name WITH a predicate on it (which the scan
    * must withhold from parquet: pushed to a pre-rename file the
    * column is missing and its row groups would drop) and pins the
    * head version at exactly 4. A mapping that NULLs pre-rename
    * values, a rename that rewrote data, or a pushed predicate that
    * lost old files' rows all hash-mismatch; the oracle replays
    * relationally under the new name. At 100 TB the rename is one
    * manifest record; the per-query cost is the coalesce projection
    * on renamed columns only.
    */
  def sqlRenameColumn(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_ren")).resolve(key)
    // DDL+DML advance the store: rebuild per call via hard-link clone
    val root = ordersYmFixture(s, dir, base, "orders_ren")
    val orders = ordersYmFrame(s, dir)
    val cat = s"snapren_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    orders.createOrReplaceTempView("graft_ren_orders_src")
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT -o_orderkey - 1, o_orderstatus, o_totalprice, o_ym, o_ym
         |FROM graft_ren_orders_src
         |WHERE o_ym BETWEEN '1995-01' AND '1995-02'
         |  AND o_orderkey % 1013 = 0""".stripMargin)
    s.sql(s"ALTER TABLE $tbl RENAME COLUMN o_totalprice TO o_price")
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5,
         |  o_ym, o_ym
         |FROM graft_ren_orders_src
         |WHERE o_ym BETWEEN '1995-03' AND '1995-04'
         |  AND o_orderkey % 17 = 0""".stripMargin)
    val head = graft.sources.SnapshotManifest.head(root)
    s.sql(
      s"""SELECT $head AS head_version, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_orderkey) AS n_keys,
         |  CAST(SUM(CAST(o_price AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |WHERE o_price >= 50000.0
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** PARTITION-SPEC EVOLUTION end to end (the Iceberg spec-v2 shape,
    * scoped to appended layout columns): bootstrap month-partitioned
    * (v1), `CALL evolve_partitioning('t','o_orderstatus')` appends
    * `o_orderstatus_p` as a metadata-only `#partspec` version (v2,
    * zero files moved), then an upsert touching two months (v3) lays
    * out under the NEW (month, status) spec and MIGRATES exactly those
    * months — every other month keeps its exact old-spec dir. The
    * result reads the PRE-evolution version and the post-evolution
    * head in one statement through the union-of-specs door: the head
    * arm filters on BOTH layout planes (`o_ym_p` range and the
    * appended `o_orderstatus_p`), which prunes migrated months'
    * (month, status) leafs on the partition plane and becomes a plain
    * data filter over unmigrated months (the appended mirror derives
    * from its source column — exact, never null-kept). The oracle
    * replays both states relationally; a migration that lost rows,
    * leaked the upsert into v1, or a union arm double-serving a
    * partition all hash-mismatch. At 100 TB: evolution is one manifest
    * record; per-commit migration cost is O(touched partitions) — the
    * granularity every commit already rewrites.
    */
  def partspecEvolution(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_pse")).resolve(key)
    // DDL+DML advance the store: rebuild per call via hard-link clone
    val root = ordersYmFixture(s, dir, base, "orders_pse")
    val cat = s"snappse_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    s.sql(s"CALL $cat.evolve_partitioning('${root.getFileName}', " +
      "'o_orderstatus')")
    val orders = ordersYmFrame(s, dir)
    orders.filter(col("o_ym").between("1995-01", "1995-02") &&
        col("o_orderkey") % 17 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.5))
      .write.format("graft-snapshot")
      .option("keyCol", "o_orderkey").option("partCol", "o_ym")
      .mode("append").save(root.toString)
    val head = graft.sources.SnapshotManifest.head(root)
    def agg(df: DataFrame, arm: String): DataFrame = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        dsum(col("o_totalprice")).as("sum_price"))
      .select(lit(arm).as("arm"), lit(head).as("head_version"),
        col("o_orderstatus"), col("n_orders"), col("n_keys"),
        col("sum_price"))
    val headArm = agg(
      graft.sources.SnapshotTable.read(s, root, head)
        .filter(col("o_ym_p").between("1995-01", "1995-06") &&
          col("o_orderstatus_p") === "F"), "head_f")
    val v1Arm = agg(graft.sources.SnapshotTable.read(s, root, 1), "v1")
    headArm.unionByName(v1Arm)
  }

  /** SQL-door reads on an UNMIGRATED spec-evolved head (round 12,
    * VERDICT r11 #1): same fixture shape as
    * [[partspecEvolution]] — evolve `o_orderstatus` onto the month
    * layout, upsert two months so the head MIXES migrated
    * (month, status) leafs with cold old-spec months — but the whole
    * query runs through `spark.sql` against the catalog table, which
    * now resolves to [[graft.sources.SnapshotEvolvedV2Table]]: ONE
    * DSv2 union-of-specs scan, one parquet arm per spec. The first arm
    * of the result filters on the appended mirror (`o_orderstatus_p`),
    * exercising both exactness sides — partition-plane pruning on the
    * migrated arm, source-column parquet data filter on the cold arm;
    * the second aggregates the whole head so a double-served or
    * dropped partition in either arm hash-mismatches. The oracle
    * replays the upsert relationally. DML against the same table
    * refuses until `CALL migrate_layout` converges
    * (`SnapshotPartSpecEvolutionSpec`). At 100 TB this is the Iceberg
    * transparency guarantee: layout evolution never takes the SQL
    * surface away from readers, and never costs more than the
    * per-spec pruned listings.
    */
  def sqlPartspecRead(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_psesql")).resolve(key)
    val root = ordersYmFixture(s, dir, base, "orders_psr")
    val cat = s"snappsr_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    s.sql(s"CALL $cat.evolve_partitioning('${root.getFileName}', " +
      "'o_orderstatus')")
    val tbl = s"$cat.`${root.getFileName}`"
    // the two-month upsert goes through SQL INSERT on the UNMIGRATED
    // evolved head (round 12): the staged write rides the door's
    // migrate-on-touch commit — new rows lay out under (month, status)
    // and exactly the touched months migrate
    ordersYmFrame(s, dir).createOrReplaceTempView("graft_psr_orders")
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5, o_ym,
         |  o_ym, o_orderstatus
         |FROM graft_psr_orders
         |WHERE o_ym BETWEEN '1995-01' AND '1995-02'
         |  AND o_orderkey % 17 = 0""".stripMargin)
    s.sql(
      s"""SELECT 'head_f' AS arm, o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |WHERE o_ym_p BETWEEN '1995-01' AND '1995-06'
         |  AND o_orderstatus_p = 'F'
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'head_all' AS arm, o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** TRANSFORM-APPEND partition-spec evolution end to end (round 14,
    * VERDICT r13 #1 — the Iceberg spec-v2 headline use): a LIVE
    * month-identity orders store gains a HIDDEN xxhash bucket layout —
    * `CALL evolve_partitioning('t', 'bucket(4, o_orderkey)')`, one
    * metadata-only `#partspec` record carrying the transform as field
    * metadata — with no CREATE-time foresight and zero files moved.
    * A two-month SQL INSERT upsert then rides the migrate-on-touch
    * commit (its months re-lay out under (month, bucket) with
    * xxhash-derived leafs) and `CALL migrate_layout` converges the
    * cold remainder in one maintenance pass. The measured query
    * aggregates three months AND probes one key through the converged
    * layout — the probe prunes via the bucket transform
    * (equality → one bucket of four) composed with nothing the user
    * ever wrote. The oracle replays the upsert relationally: a door
    * that mis-derived a bucket during migration, double-served a
    * half-migrated month, or lost the upsert hash-mismatches. Per-arm
    * strict-subset pruning through each arm's OWN transforms is
    * spec-pinned (`SnapshotPartSpecEvolutionSpec`). At 100 TB: this
    * is how a fact table adopts key-bucketing for DPP/storage-join
    * locality after the fact — evolution O(1), migration
    * caller-bounded O(partitions per call).
    */
  def sqlPartspecTransform(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_pst")).resolve(key)
    val root = ordersYmFixture(s, dir, base, "orders_pst")
    val cat = s"snappst_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    s.sql(s"CALL $cat.evolve_partitioning('${root.getFileName}', " +
      "'bucket(4, o_orderkey)')")                                 // v2
    val tbl = s"$cat.`${root.getFileName}`"
    ordersYmFrame(s, dir).createOrReplaceTempView("graft_pst_orders")
    // keyed upsert on the UNMIGRATED evolved head: touched months
    // migrate to (month, xxhash-bucket); the hidden mirror never
    // appears in the column list
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5, o_ym,
         |  o_ym
         |FROM graft_pst_orders
         |WHERE o_ym BETWEEN '1995-01' AND '1995-02'
         |  AND o_orderkey % 17 = 0""".stripMargin)               // v3
    s.sql(s"CALL $cat.migrate_layout('${root.getFileName}', 1000000)") // v4
    val head = graft.sources.SnapshotManifest.head(root)
    s.sql(
      s"""SELECT 'agg' AS arm, $head AS head_version, o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |WHERE o_ym BETWEEN '1995-01' AND '1995-03'
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'probe' AS arm, $head AS head_version, o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |WHERE o_orderkey = 1
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** METADATA-ONLY DROP COLUMN end to end (round 12, VERDICT r11 #4 —
    * the complement of `#rename` on the name-mapping plane):
    * `ALTER TABLE … DROP COLUMN o_orderstatus` publishes one `#drop`
    * tombstone (zero files moved), then a post-drop upsert touching
    * two months rewrites their kept rows WITHOUT the column while
    * every other month keeps its pre-drop files — whose footers still
    * carry the status bytes that no reader declares anymore. The head
    * aggregate spans both epochs (rewritten + pre-drop files) grouped
    * by order year, so a reader that resurrected the column, dropped
    * rows with it, or double-counted a rewritten month
    * hash-mismatches the relational replay. Re-ADD of the dropped
    * name is refused at every widening door
    * ([[graft.sources.SnapshotDropColumnSpec]]-pinned along with the
    * key/layout/CHECK refusals, vacuum-normalize survival, clone and
    * branch carry). At 100 TB: a drop is O(1) metadata; the storage
    * of dropped values reclaims incrementally as rewrites touch old
    * partitions — exactly the Iceberg field-ID-drop economics.
    */
  def sqlDropColumn(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_drop")).resolve(key)
    val root = ordersYmFixture(s, dir, base, "orders_drop")
    val cat = s"snapdrop_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    s.sql(s"ALTER TABLE $tbl DROP COLUMN o_orderstatus")          // v2
    // post-drop upsert: the delta carries the post-drop shape
    ordersYmFrame(s, dir)
      .filter(col("o_ym").between("1995-01", "1995-02") &&
        col("o_orderkey") % 17 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.5))
      .drop("o_orderstatus")
      .write.format("graft-snapshot")
      .option("keyCol", "o_orderkey").option("partCol", "o_ym")
      .mode("append").save(root.toString)                         // v3
    val head = graft.sources.SnapshotManifest.head(root)
    // two arms: the post-drop HEAD, and a PRE-DROP pin (round 14,
    // VERDICT r13 #7 — `VERSION AS OF` serves the pinned version's own
    // schema, so v1 still carries o_orderstatus WITH its values; the
    // head arm pins the dropped shape with an n_open sentinel)
    s.sql(
      s"""SELECT 'head' AS arm, $head AS head_version,
         |  SUBSTRING(o_ym_p, 1, 4) AS yr,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
         |  CAST(-1 AS BIGINT) AS n_open,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |GROUP BY SUBSTRING(o_ym_p, 1, 4)
         |UNION ALL
         |SELECT 'v1' AS arm, $head AS head_version,
         |  SUBSTRING(o_ym_p, 1, 4) AS yr,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
         |  CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END)
         |    AS BIGINT) AS n_open,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl VERSION AS OF 1
         |GROUP BY SUBSTRING(o_ym_p, 1, 4)""".stripMargin)
  }

  /** SQL `CREATE TABLE` / CTAS end to end (round 12): the catalog
    * bootstraps an EMPTY keyed store from DDL — previously only
    * `df.write` could — so a SQL-only user gets the full lifecycle:
    * CTAS declares the layout (`PARTITIONED BY (o_ym_p)`) and key
    * (`TBLPROPERTIES ('key_column'='o_orderkey')`) and lands the
    * seed rows as the first commit through the ordinary write door;
    * a second INSERT exercises the keyed-upsert semantics the
    * property declared (same keys replace, new keys append). The head
    * aggregate carries the exact version count, so a CTAS that
    * double-committed, an upsert that duplicated keys, or layout
    * values that landed in the wrong partition all hash-mismatch the
    * relational replay. At 100 TB: CREATE is O(1) metadata; CTAS
    * costs exactly its SELECT plus the door's one-commit publish.
    */
  def sqlCreateTable(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_ct")).resolve(key)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val cat = s"snapct_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    ordersYmFrame(s, dir).createOrReplaceTempView("graft_ct_orders")
    val tbl = s"$cat.`orders_ct`"
    s.sql(
      s"""CREATE TABLE $tbl
         |PARTITIONED BY (o_ym_p)
         |TBLPROPERTIES ('key_column' = 'o_orderkey')
         |AS SELECT o_orderkey, o_orderstatus, o_totalprice, o_ym,
         |  o_ym AS o_ym_p
         |FROM graft_ct_orders
         |WHERE o_ym BETWEEN '1995-01' AND '1995-06'""".stripMargin)
    // upsert proof: re-price two months' %17 keys, add synthetic rows
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5, o_ym,
         |  o_ym
         |FROM graft_ct_orders
         |WHERE o_ym BETWEEN '1995-01' AND '1995-02'
         |  AND o_orderkey % 17 = 0
         |UNION ALL
         |SELECT -o_orderkey, o_orderstatus, o_totalprice + 1.0, o_ym,
         |  o_ym
         |FROM graft_ct_orders
         |WHERE o_ym = '1995-03' AND o_orderkey % 701 = 0""".stripMargin)
    val head = graft.sources.SnapshotManifest.head(
      base.resolve("orders_ct"))
    s.sql(
      s"""SELECT $head AS head_version, o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** HIDDEN PARTITIONING end to end (round 13, VERDICT r12 #1 — the
    * Iceberg headline layout feature, [[graft.sources
    * .SnapshotTransforms]]): `CREATE TABLE … PARTITIONED BY
    * (days(o_orderdate), bucket(4, o_orderkey))` lays six weeks of
    * orders out by DERIVED values the user never writes — the SQL
    * schema carries only the four source columns, INSERT derives
    * `(day, xxhash64-bucket)` per row, a keyed upsert re-prices %19
    * keys through the hidden layout, and the head aggregate filters
    * on the SOURCE date column, which prunes the partition plane
    * through the days transform (range → inclusive day bounds) while
    * the oracle replays the same upsert relationally. A door that
    * mis-derived a bucket, dropped the upsert into a fresh partition,
    * or broke the day truncation hash-mismatches. At 100 TB: the
    * alternative is users hand-maintaining `<src>_p` columns on every
    * writer — the exact failure mode hidden partitioning exists to
    * kill. Pruning strictness is spec-pinned
    * (`SnapshotHiddenPartitioningSpec`).
    */
  def sqlHiddenPartitioning(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_hp")).resolve(key)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val cat = s"snaphp_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-02-01"))
      .createOrReplaceTempView("graft_hp_orders")
    val tbl = s"$cat.`orders_hp`"
    s.sql(
      s"""CREATE TABLE $tbl
         |  (o_orderkey BIGINT, o_orderstatus STRING,
         |   o_totalprice DOUBLE, o_orderdate DATE)
         |PARTITIONED BY (days(o_orderdate), bucket(4, o_orderkey))
         |TBLPROPERTIES ('key_column' = 'o_orderkey')""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_hp_orders")
    // keyed upsert through the hidden layout: same keys, same derived
    // partitions, re-priced values
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5,
         |  o_orderdate
         |FROM graft_hp_orders
         |WHERE o_orderkey % 19 = 0
         |  AND o_orderdate BETWEEN DATE'1995-01-02'
         |    AND DATE'1995-01-04'""".stripMargin)
    s.sql(
      s"""SELECT CAST(o_orderdate AS STRING) AS o_day,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |WHERE o_orderdate BETWEEN DATE'1995-01-10'
         |  AND DATE'1995-01-25'
         |GROUP BY o_orderdate""".stripMargin)
  }

  /** RUNTIME (DPP) PRUNING THROUGH A HIDDEN BUCKET LAYOUT (round 14,
    * VERDICT r13 #2): a dimension join on the bucket transform's
    * SOURCE column — the 100 TB point-lookup shape: a bucketed fact
    * table probed by a small dimension's keys. The scan declares the
    * layout source as a runtime-filter attribute
    * ([[graft.sources.SnapshotDppScan.filterAttributes]]), Spark
    * plants the dimension's distinct keys as an IN after its
    * broadcast, and the predicate rewrites onto the bucket mirror
    * through the same necessary-condition translator the static path
    * uses ([[graft.sources.SnapshotTransforms.translateFilters]]) —
    * the fact side plans only the matched buckets, never the full
    * table. Strict-subset planning and the untranslatable-predicate
    * no-trip are spec-pinned (`SnapshotHiddenPartitioningSpec`); this
    * entry pins the end-to-end RESULT against the oracle's relational
    * replay (the dimension is a %97 key slice, so the oracle derives
    * it as a filter).
    */
  def sqlBucketDpp(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_bdpp")).resolve(key)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val cat = s"snapbdpp_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val slice = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-03-01"))
    slice.createOrReplaceTempView("graft_bdpp_orders")
    val tbl = s"$cat.`orders_bdpp`"
    s.sql(
      s"""CREATE TABLE $tbl
         |  (o_orderkey BIGINT, o_orderstatus STRING,
         |   o_totalprice DOUBLE, o_orderdate DATE)
         |PARTITIONED BY (bucket(8, o_orderkey))
         |TBLPROPERTIES ('key_column' = 'o_orderkey')""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT * FROM graft_bdpp_orders")
    // a REAL datasource dimension (in-memory relations constant-fold
    // away and leave no selective filter for the DPP rule)
    val dimPath = base.resolve("dim").toString
    slice.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("d_key"))
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
    s.read.parquet(dimPath).createOrReplaceTempView("graft_bdpp_dim")
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl t JOIN graft_bdpp_dim d ON t.o_orderkey = d.d_key
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** STORAGE-PARTITIONED JOIN end to end (round 14): two snapshot
    * tables laid out `bucket(8, o_orderkey)` join on the source key
    * with ZERO exchange on either side — the scans report
    * `KeyGroupedPartitioning` over the bucket transform (resolved
    * through the catalog's [[graft.sources.SnapshotFunctions]]) and
    * plan one keyed input partition per bucket, so the join lines the
    * two sides up task-for-task
    * ([[graft.sources.SnapshotDppScan.outputPartitioning]]). Runs in
    * its own session: SPJ is the opt-in
    * `spark.sql.sources.v2.bucketing.enabled` trade (per-bucket tasks
    * for an absent shuffle — right exactly when a join consumes the
    * scan). The no-shuffle plan and the opt-out twin are spec-pinned
    * (`SnapshotSpjSpec`); this entry pins the end-to-end VALUES
    * against the oracle's relational replay. At 100 TB the removed
    * exchange is the dominant cost of every fact-fact equi-join.
    */
  def sqlBucketSpj(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val ns = s.newSession()
    ns.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    ns.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val base = java.nio.file.Paths.get(ioDir("snapshot_spj")).resolve(key)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val cat = s"snapspj_$key"
    ns.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    ns.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    Tables.orders(ns, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-03-01"))
      .createOrReplaceTempView("graft_spj_orders")
    ns.sql(
      s"""CREATE TABLE $cat.`fact_a`
         |  (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
         |PARTITIONED BY (bucket(8, o_orderkey))
         |TBLPROPERTIES ('key_column' = 'o_orderkey')""".stripMargin)
    ns.sql(s"INSERT INTO $cat.`fact_a` SELECT * FROM graft_spj_orders")
    ns.sql(
      s"""CREATE TABLE $cat.`fact_b`
         |  (o_orderkey BIGINT, o_paid DOUBLE)
         |PARTITIONED BY (bucket(8, o_orderkey))
         |TBLPROPERTIES ('key_column' = 'o_orderkey')""".stripMargin)
    // * 0.5 is an exact binary scale — engine-identical to the oracle
    ns.sql(
      s"""INSERT INTO $cat.`fact_b`
         |SELECT o_orderkey, o_totalprice * 0.5 AS o_paid
         |FROM graft_spj_orders""".stripMargin)
    ns.sql(
      s"""SELECT a.o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(CAST(a.o_totalprice + b.o_paid AS DECIMAL(30,6)))
         |    AS DOUBLE) AS sum_combined
         |FROM $cat.`fact_a` a JOIN $cat.`fact_b` b
         |  ON a.o_orderkey = b.o_orderkey
         |GROUP BY a.o_orderstatus""".stripMargin)
  }

  /** `ALTER TABLE … RENAME TO …` end to end (round 13, VERDICT r12
    * #4): clone the pristine keyed orders store, RENAME it — one
    * atomic directory move, zero metadata rewrites because every
    * under-root path stores root-relative — then run real DML under
    * the NEW name: a keyed-upsert INSERT re-pricing two months' %17
    * keys and a row-level DELETE of %131 keys (its predicate doesn't
    * translate to metadata filters, so the group-rewrite plane runs
    * post-rename too). The head aggregate under the new name matches
    * the oracle's relational replay; survival of stats planning,
    * Bloom skipping, tags and branches across the move is spec-pinned
    * (`SnapshotRenameTableSpec`). At 100 TB: the alternative was
    * clone + drop — O(files) link calls and a vacuum — for what is
    * one rename(2).
    */
  def sqlRenameTable(s: SparkSession, dir: String): DataFrame = {
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_rt")).resolve(key)
    val cat = s"snaprt_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    ordersYmFixture(s, dir, base, "orders_rt")
    s.sql(s"ALTER TABLE $cat.`orders_rt` RENAME TO `orders_renamed`")
    val tbl = s"$cat.`orders_renamed`"
    ordersYmFrame(s, dir).createOrReplaceTempView("graft_rt_orders")
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5, o_ym,
         |  o_ym
         |FROM graft_rt_orders
         |WHERE o_ym BETWEEN '1995-01' AND '1995-02'
         |  AND o_orderkey % 17 = 0""".stripMargin)
    s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 131 = 0")
    val head = graft.sources.SnapshotManifest.head(
      base.resolve("orders_renamed"))
    s.sql(
      s"""SELECT $head AS head_version, o_orderstatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_price
         |FROM $tbl
         |GROUP BY o_orderstatus""".stripMargin)
  }

  /** SAFE TYPE WIDENING end to end (round 12, VERDICT r11 #5 — the
    * Iceberg safe-promotion set as a `#schema` overlay): bootstrap a
    * store carrying an INT day-of-month and a FLOAT price, widen both
    * (`ALTER COLUMN o_day TYPE BIGINT`, `o_price_f TYPE DOUBLE` — two
    * metadata-only CAS versions, zero files rewritten), then insert
    * rows whose values only FIT the wide types (a day beyond int
    * range, double-precision prices). The head aggregate reads
    * pre-widening files under the widened declared schema — parquet
    * casts int32→int64 and float→double at scan time, IEEE-exactly —
    * mixed with the wide rows, per month: a reader that lost
    * precision, refused the old physical type, or dropped the wide
    * rows hash-mismatches the oracle (which replays the same
    * float-upcast with `CAST(CAST(x AS REAL) AS DOUBLE)`). Narrowing
    * and cross-family retypes refuse in two layers
    * (`SnapshotWidenColumnSpec`). At 100 TB: a widening is O(1)
    * metadata — the alternative is a full-table rewrite.
    */
  def sqlWidenColumn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.dayofmonth
    val key = Tables.dirKey(dir)
    val base = java.nio.file.Paths.get(ioDir("snapshot_widen")).resolve(key)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val root = base.resolve("orders_widen")
    Tables.orders(s, dir)
      .filter(date_format(col("o_orderdate"), "yyyy-MM")
        .between("1995-01", "1995-06"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        col("o_totalprice").cast("float").as("o_price_f"))
      .write.format("graft-snapshot")
      .option("keyCol", "o_orderkey").option("partCol", "o_ym")
      .mode("append").save(root.toString)                         // v1
    val cat = s"snapwiden_$key"
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    val tbl = s"$cat.`${root.getFileName}`"
    s.sql(s"ALTER TABLE $tbl ALTER COLUMN o_day TYPE BIGINT")     // v2
    s.sql(s"ALTER TABLE $tbl ALTER COLUMN o_price_f TYPE DOUBLE") // v3
    import s.implicits._
    (1 to 5).map(i => (-i.toLong, "1995-01", 40000000000L + i, i + 0.1))
      .toDF("o_orderkey", "o_ym", "o_day", "o_price_f")
      .write.format("graft-snapshot")
      .option("keyCol", "o_orderkey").option("partCol", "o_ym")
      .mode("append").save(root.toString)                         // v4
    s.sql(
      s"""SELECT 4 AS head_version, o_ym,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(o_day) AS BIGINT) AS sum_day,
         |  MAX(o_price_f) AS max_price_f,
         |  CAST(SUM(CASE WHEN o_price_f >= 100000.0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_expensive
         |FROM $tbl
         |GROUP BY o_ym""".stripMargin)
  }

  /** Changefeed (CDC) between two snapshots, partition-scoped by the
    * MANIFEST diff: months whose dir pointer didn't move are shared
    * files and provably identical, so only repointed months are read —
    * at 100 TB the diff of two adjacent daily versions scans the
    * handful of touched partitions, never the table. Within those, a
    * full-outer join on the key classifies every difference as
    * insert / delete / update (price drift); the aggregate returns per
    * change type the key count and a key checksum, so a missed or
    * phantom change hash-mismatches the relationally-computed oracle.
    */
  def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val root = snapshotFixture(s, dir)
    val m1 = SnapshotManifest.read(root, 1)
    val m3 = SnapshotManifest.read(root, 3)
    val changed = (m1.keySet ++ m3.keySet).toSeq.sorted
      .filter(ym => m1.get(ym) != m3.get(ym))
    val oldSide = s.read.parquet(changed.flatMap(m1.get): _*)
      .select(col("o_orderkey").as("old_key"),
        col("o_totalprice").as("old_price"))
    val newSide = s.read.parquet(changed.flatMap(m3.get): _*)
      .select(col("o_orderkey").as("new_key"),
        col("o_totalprice").as("new_price"))
    oldSide.join(newSide, col("old_key") === col("new_key"), "full_outer")
      .filter(col("old_key").isNull || col("new_key").isNull ||
        // NULL-SAFE change test: a plain =!= evaluates to NULL (and the
        // row is dropped) when exactly one side is NULL — i.e. a
        // NULL-to-value or value-to-NULL update would silently vanish
        // from the changefeed and any MV maintained from it
        !(col("old_price") <=> col("new_price")))
      .select(
        when(col("old_key").isNull, lit("insert"))
          .when(col("new_key").isNull, lit("delete"))
          .otherwise(lit("update")).as("change_type"),
        coalesce(col("old_key"), col("new_key")).as("k"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("k")).cast("bigint").as("key_sum"))
  }

  // ---- Per-file hash-signature (Bloom-style) point-lookup index ----
  //
  // The data-skipping case min/max stats and the Z-order layout CANNOT
  // serve: fetching a handful of doc_ids from a corpus whose files are
  // clustered by (source, length) — every file's doc_id min/max spans
  // the whole key range, so stats prune nothing and a point lookup
  // scans 100 TB. The index maps file -> sorted distinct
  // `hash(doc_id) mod 2^20` buckets (a one-hash Bloom filter stored
  // sparse: O(rows-per-file) ints of metadata per file, false-positive
  // rate rows_per_file / 2^20). A lookup equi-joins the key set's
  // buckets against the exploded signatures (broadcast hash join — no
  // nested loop), collects the matching file list (metadata-sized, the
  // same class of driver work as a manifest read), and scans ONLY
  // those files with the exact key predicate re-applied. At 100 TB the
  // index build is one map-side pass amortized over the table's life;
  // a real deployment re-sizes the modulus with rows-per-file to hold
  // the false-positive rate.

  private val BloomSigBuckets = 1 << 20

  private val bloomIndexRoots =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Layout + index job, once per sf dir per JVM: documents re-written
    * range-clustered by (source, n_chars) — deliberately uncorrelated
    * with doc_id — plus the per-file signature table.
    */
  private[operators] def bloomIndexLayout(s: SparkSession, dir: String)
      : String =
    bloomIndexRoots.getOrElseUpdate(Tables.dirKey(dir), {
      val root = new java.io.File(ioDir("bloom_index"), Tables.dirKey(dir))
        .getAbsolutePath
      val nFiles = graft.core.Warehouse.bucketCount(s,
        org.apache.commons.io.FileUtils.sizeOf(
          new java.io.File(s"$dir/documents.parquet")))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .repartitionByRange(nFiles, col("source"), col("n_chars"))
        .sortWithinPartitions(col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$root/data")
      s.read.parquet(s"$root/data")
        .select(col("_metadata.file_path").as("file"), col("doc_id"))
        .groupBy(col("file"))
        .agg(sort_array(collect_set(
          pmod(hash(col("doc_id")), lit(BloomSigBuckets)))).as("sig"))
        .write.mode("overwrite").parquet(s"$root/index")
      root
    })

  /** Max matched-file paths the lookup will hold on the driver before
    * giving up on pruning. The list is the same class of driver-side
    * metadata as a manifest read, but unlike a manifest it scales with
    * SELECTIVITY, not partition count: a non-selective key set over a
    * 10⁶-file table would otherwise collect ~10⁶ paths (~100 MB) to
    * "prune" to nearly the whole table. Past the cap the index has
    * proved it cannot help, and the right plan is the plain full scan
    * with the exact predicate — same rows, no driver blow-up. 10k paths
    * ≈ 1 MB driver memory, and a lookup that legitimately touches >10k
    * files is no longer a point lookup. Overridable via
    * `spark.graft.bloom.fileListCap` (the spec drives the fallback arm
    * by setting it to 0).
    */
  private val BloomFileListCapConf = "spark.graft.bloom.fileListCap"

  /** Point lookup through the index: prune the file list via the
    * signature join, then scan only surviving files. The exact key
    * predicate is re-applied after the scan, so Bloom false positives
    * cost I/O, never correctness — the oracle filters the base table
    * relationally. The matched-file list is driver-mediated (the same
    * pattern as the manifest store's partition pointers) but CAPPED —
    * `limit(cap+1)` bounds what the driver ever materializes, and past
    * the cap the lookup falls back to the full scan. `BloomIndexSpec`
    * pins the pruning (matched files a strict subset), exactness vs
    * the direct scan, and the fallback arm.
    */
  def bloomIndexLookup(s: SparkSession, dir: String): DataFrame = {
    val root = bloomIndexLayout(s, dir)
    val keyPred = col("doc_id") % 97 === 0
    val cols = Seq("doc_id", "source", "lang", "n_chars").map(col)
    // in production the key list arrives as a parameter; deriving it
    // from the table keeps the fixture self-contained (the ann_*
    // entries' query-vector convention)
    val keyBuckets = Tables.documents(s, dir).filter(keyPred)
      .select(pmod(hash(col("doc_id")), lit(BloomSigBuckets)).as("bucket"))
      .distinct()
    val cap = s.conf.getOption(BloomFileListCapConf)
      .flatMap(_.toIntOption).getOrElse(10000)
    val matched = s.read.parquet(s"$root/index")
      .select(col("file"), explode(col("sig")).as("bucket"))
      .join(broadcast(keyBuckets), "bucket")
      .select(col("file")).distinct()
      .limit(cap + 1).collect().map(_.getString(0)).sorted
    if (matched.length > cap)
      s.read.parquet(s"$root/data").filter(keyPred).select(cols: _*)
    else
      s.read.parquet(matched.toIndexedSeq: _*)
        .filter(keyPred).select(cols: _*)
  }

  /** Incremental materialized-view refresh, scoped by the manifest
    * diff. The MV is the per-(month, status) aggregate; bringing it
    * from v1 to v3 re-aggregates ONLY repointed months (their new
    * dirs, partition-pruned reads) and carries every other month's MV
    * row over verbatim — valid because an unmoved manifest pointer
    * means the same data files, hence the same aggregate. Months
    * emptied by the commit drop out (their carry is excluded and they
    * have no v3 dirs to re-aggregate). Refresh cost is
    * O(changed partitions + MV), independent of table size — a daily
    * refresh at 100 TB touches the day's partitions, never the table.
    * The oracle recomputes the WHOLE MV from v3 relationally, so a
    * stale carried row or a missed month hash-mismatches.
    */
  def mvIncrementalRefresh(s: SparkSession, dir: String): DataFrame = {
    val root = snapshotFixture(s, dir)
    val m1 = SnapshotManifest.read(root, 1)
    val m3 = SnapshotManifest.read(root, 3)
    def monthAgg(df: DataFrame): DataFrame = df
      .groupBy(col("o_ym"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
    // the MV as it stood at v1 (a real warehouse stores this table;
    // here it is recomputed because the fixture is built per run)
    val mv1 = monthAgg(snapshotRead(s, root, 1))
    val changed = (m1.keySet ++ m3.keySet)
      .filter(ym => m1.get(ym) != m3.get(ym)).toSeq.sorted
    val carried = mv1.filter(!col("o_ym").isin(changed: _*))
    val refreshed = monthAgg(
      s.read.parquet(changed.flatMap(m3.get): _*))
    carried.unionByName(refreshed)
      .select(col("o_ym"), col("o_orderstatus"), col("n_orders"),
        col("sum_price"))
  }

  // ---- Incremental (snapshot-committed) re-compaction ----
  //
  // `source_compact_files` is the ONE-SHOT job: rewrite a whole
  // fragmented table. Real tables never hold still for that — ingest
  // keeps fragmenting a FEW hot partitions while the cold bulk stays
  // perfectly laid out, so the production shape is a periodic pass that
  // (1) reads per-partition FILE COUNTS (driver metadata, O(partitions),
  // the manifest-read class of work), (2) rewrites only partitions over
  // the small-file threshold, clustering-preserving, and (3) publishes
  // the repointed months through the manifest store's CAS commit — so
  // readers keep seeing a consistent snapshot, history stays readable,
  // and two racing compactors can't double-publish (the loser's attempt
  // dir is deleted). Cost is O(hot partitions) per pass and
  // O(metadata) when nothing is hot — at 100 TB that is the difference
  // between "compaction is a continuous background task" and "compaction
  // is an outage".

  private val incrCompactRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  /** Fragmented fixture: month-partitioned orders under manifest v1,
    * three hot months shattered into ~64 ingest files each, every cold
    * month one compact file.
    */
  private[operators] val IncrCompactHotMonths =
    Seq("1996-01", "1996-02", "1996-03")

  /** Small-file threshold for a "hot" partition. 8 keeps the contract
    * meaningful at the smallest harness SF, where a ~19-row hot month
    * spread over the 64-way ingest write yields ~15 non-empty files
    * (empty shuffle partitions write nothing under partitionBy).
    */
  private[operators] val IncrCompactThreshold = 8

  private[operators] def incrCompactFixture(s: SparkSession, dir: String)
      : java.nio.file.Path =
    incrCompactRoots.getOrElseUpdate(Tables.dirKey(dir),
      buildIncrCompactFixture(s, dir,
        java.nio.file.Paths.get(ioDir("incr_compact"))
          .resolve(Tables.dirKey(dir))))

  private[operators] def buildIncrCompactFixture(s: SparkSession,
      dir: String, root: java.nio.file.Path): java.nio.file.Path = {
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      // o_orderdate lands as DATE: parquet min/max stats on
      // TIMESTAMP_NTZ are not usable by the reader-side row-group
      // filter (the zorderLayout finding), and the whole point of a
      // clustered rewrite is that the cluster dims PRUNE
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), to_date(col("o_orderdate")).as("o_orderdate"),
          date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))
      val base = root.resolve("d1").toString
      val isHot = col("o_ym").isin(IncrCompactHotMonths: _*)
      orders.filter(!isHot)
        .withColumn("o_ym_p", col("o_ym"))
        .repartition(col("o_ym_p"))
        .write.partitionBy("o_ym_p").parquet(base)
      orders.filter(isHot)
        .withColumn("o_ym_p", col("o_ym"))
        .repartition(64)
        .write.mode("append").partitionBy("o_ym_p").parquet(base)
      val months = Option(new java.io.File(base).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("o_ym_p="))
        .map(f => f.getName.stripPrefix("o_ym_p=") -> f.getAbsolutePath)
      writeManifest(root, 1, months.toMap)
      root
  }

  /** One incremental compaction pass over the store at `root`: returns
    * the months it compacted (empty = nothing hot, no version
    * published — the pass cost only the metadata scan). The rewrite is
    * clustering-preserving: `repartitionByRange` on (month, order
    * date) + in-file sort, so each compacted file covers a contiguous
    * date range and row-group pruning works on the result (the
    * `source_compact_files` discipline, scoped to hot months).
    * `filesPerMonth` defaults to the 256 MB scale rule — no
    * parallelism floor, unlike `Warehouse.bucketCount`: compaction
    * wants the FEWEST scan-sized files, and read parallelism comes
    * from months × row groups, not file count.
    *
    * `zorder = true` clusters the rewritten months by the Morton
    * address of (order day, custkey) instead of plain date order —
    * the incremental arm of `source_zorder_prune`: each pass re-boxes
    * only the hot months, so the table converges to a 2-D-prunable
    * layout continuously instead of via a one-shot full-table job. The
    * scaling bounds come from the hot rows themselves (a one-row
    * driver scalar, the zorderLayout precedent).
    */
  private[operators] def compactHotPartitions(s: SparkSession,
      root: java.nio.file.Path, threshold: Int,
      filesPerMonth: Option[Int] = None,
      zorder: Boolean = false): Seq[String] = commit(root) { a =>
    val manifest = SnapshotManifest.read(root, a.head)
    val counts = manifest.map { case (ym, p) =>
      ym -> Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val hot = counts.filter(_._2 >= threshold).keys.toSeq.sorted
    if (hot.isEmpty) Nil
    else {
      val hotDirs = hot.map(manifest)
      val perMonth = filesPerMonth.getOrElse {
        val maxBytes = hotDirs.map(p =>
          org.apache.commons.io.FileUtils.sizeOf(new java.io.File(p))).max
        (maxBytes / (256L << 20) + 1).toInt
      }
      val out = a.scratch().toString
      val rows = s.read.parquet(hotDirs: _*)
      val clustered =
        if (!zorder)
          rows.withColumn("o_ym_p", col("o_ym"))
            .repartitionByRange(hot.length * perMonth,
              col("o_ym"), col("o_orderdate"))
            .sortWithinPartitions(col("o_ym"), col("o_orderdate"))
        else {
          val withDay = rows.withColumn("z_day",
            datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
              .cast("long"))
          val b = withDay.agg(min(col("z_day")), max(col("z_day")),
            min(col("o_custkey")), max(col("o_custkey"))).head()
          def scaled(c: Column, lo: Long, hi: Long): Column =
            ((c - lit(lo)) * lit(65535L) / lit(math.max(1L, hi - lo)))
              .cast("long")
          withDay
            .withColumn("zval",
              zvalue16(scaled(col("z_day"), b.getLong(0), b.getLong(1)),
                scaled(col("o_custkey"), b.getLong(2), b.getLong(3))))
            .withColumn("o_ym_p", col("o_ym"))
            .repartitionByRange(hot.length * perMonth,
              col("o_ym"), col("zval"))
            .sortWithinPartitions(col("o_ym"), col("zval"))
            .drop("z_day", "zval")
        }
      clustered.write.partitionBy("o_ym_p").parquet(out)
      a.publish(manifest ++ hot.map(ym => ym -> s"$out/o_ym_p=$ym"),
        written = Some(Written(s, hot.toSet, rows.schema)))
      hot
    }
  }

  /** Catalog entry: first run detects the three hot months and
    * compacts them through a snapshot commit; every later run in the
    * JVM finds nothing hot and is a metadata-scoped no-op over the
    * already-compacted head — which is exactly the incremental claim
    * (a quiet table costs a directory listing, never a rewrite). The
    * oracle aggregates the ORIGINAL orders table: compaction must be
    * invisible in the data, whatever the layout did.
    */
  def incrementalCompact(s: SparkSession, dir: String): DataFrame = {
    val root = incrCompactFixture(s, dir)
    compactHotPartitions(s, root, IncrCompactThreshold)
    snapshotRead(s, root, SnapshotManifest.head(root))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_ym")).as("n_months"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  private val incrZorderRoots =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  /** Catalog entry for the INCREMENTAL Z-ORDER arm: same fragmented
    * fixture shape, but the hot-month rewrite clusters by the Morton
    * address of (order day, custkey), then a 2-D predicate (a date
    * window over the hot months plus a 1/8 custkey cut) aggregates the
    * compacted head. The oracle runs the same predicate over the
    * ORIGINAL orders — re-clustering must be invisible in the data;
    * the 2-D pruning advantage over the date-sorted layout is
    * measured by `IncrementalZorderSpec` (scan-rows metric, the
    * `ZorderLayoutSpec` method). The custkey cutoff is a one-row
    * driver scalar, mirrored in the oracle as a subquery.
    */
  def incrementalZorder(s: SparkSession, dir: String): DataFrame = {
    val root = incrZorderRoots.getOrElseUpdate(Tables.dirKey(dir),
      buildIncrCompactFixture(s, dir,
        java.nio.file.Paths.get(ioDir("incr_zorder"))
          .resolve(Tables.dirKey(dir))))
    compactHotPartitions(s, root, IncrCompactThreshold, zorder = true)
    val maxCust = Tables.orders(s, dir)
      .agg(max(col("o_custkey"))).head().getLong(0)
    snapshotRead(s, root, SnapshotManifest.head(root))
      .filter(col("o_orderdate") >= lit("1996-01-05") &&
        col("o_orderdate") < lit("1996-03-25") &&
        col("o_custkey") <= lit(maxCust / 8))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_incremental_compact" -> incrementalCompact _,
    "source_incremental_zorder" -> incrementalZorder _,
    "source_csv_roundtrip"    -> csvRoundtrip _,
    "source_schema_evolution" -> schemaEvolution _,
    "source_time_travel"      -> timeTravel _,
    "sql_time_travel"         -> sqlTimeTravel _,
    "sql_dpp_prune"           -> sqlDppPrune _,
    "sql_meta_tables"         -> sqlMetaTables _,
    "sql_dml_roundtrip"       -> sqlDmlRoundtrip _,
    "sql_merge_on_read"       -> sqlMergeOnRead _,
    "sql_update_mor"          -> sqlUpdateMor _,
    "streaming_mor_cdf"       -> streamingMorCdf _,
    "streaming_umor_cdf"      -> streamingUmorCdf _,
    "sql_restore"             -> sqlRestore _,
    "sql_clone"               -> sqlClone _,
    "sql_wap"                 -> sqlWap _,
    "sql_constraints"         -> sqlConstraints _,
    "sql_tag_travel"          -> sqlTagTravel _,
    "sql_update_merge"        -> sqlUpdateMerge _,
    "sql_insert_overwrite"    -> sqlInsertOverwrite _,
    "sql_rename_column"       -> sqlRenameColumn _,
    "source_partspec_evolution" -> partspecEvolution _,
    "sql_partspec_read"       -> sqlPartspecRead _,
    "sql_drop_column"         -> sqlDropColumn _,
    "sql_widen_column"        -> sqlWidenColumn _,
    "sql_create_table"        -> sqlCreateTable _,
    "sql_hidden_partitioning" -> sqlHiddenPartitioning _,
    "sql_partspec_transform" -> sqlPartspecTransform _,
    "sql_bucket_dpp"          -> sqlBucketDpp _,
    "sql_bucket_spj"          -> sqlBucketSpj _,
    "sql_rename_table"        -> sqlRenameTable _,
    "source_snapshot_prune"   -> snapshotConnectorPrune _,
    "source_snapshot_lookup"  -> snapshotPointLookup _,
    "source_stats_prune"      -> snapshotStatsPrune _,
    "source_snapshot_multipart" -> snapshotMultipart _,
    "streaming_snapshot_cdf"  -> streamingSnapshotCdf _,
    "streaming_cdf_mv"        -> streamingCdfMv _,
    "source_scd2_history"     -> scd2History _,
    "source_snapshot_write_door" -> snapshotWriteDoor _,
    "streaming_snapshot_sink" -> streamingSnapshotSink _,
    "streaming_wap"           -> streamingWap _,
    "streaming_branch_cdf"    -> streamingBranchCdf _,
    "source_snapshot_add_column" -> snapshotAddColumn _,
    "source_table_diff"       -> tableDiff _,
    "source_mv_refresh"       -> mvIncrementalRefresh _,
    "source_bloom_lookup"     -> bloomIndexLookup _,
    "source_json_roundtrip"   -> jsonRoundtrip _,
    "source_text_roundtrip"   -> textRoundtrip _,
    "source_orc_roundtrip"    -> orcRoundtrip _,
    "source_jdbc_roundtrip"   -> jdbcRoundtrip _,
    "source_jdbc_bulk_load"   -> jdbcBulkLoad _,
    "source_mrout_roundtrip"  -> mroutRoundtrip _,
    "source_partitioned_prune" -> partitionedPrune _,
    "source_dpp_prune" -> dppJoinPrune _,
    "source_zorder_prune"     -> zorderPrune _,
    "source_merge_upsert"     -> mergeUpsert _,
    "source_delete_keys"      -> deleteKeys _,
    "source_compact_files"    -> compactFiles _,
    "source_json_corrupt"     -> jsonCorruptRecords _,
    "streaming_events_hourly" -> streamingEventsHourly _,
    "streaming_late_data" -> streamingLateData _,
    "streaming_dedup_events"  -> streamingDedupEvents _,
    "streaming_dedup_within_wm" -> streamingDedupWithinWm _,
    "streaming_click_attribution" -> streamingClickAttribution _,
    "streaming_enrich_join"   -> streamingEnrichJoin _,
    "streaming_incremental_dedup" -> streamingIncrementalDedup _,
    "streaming_mrout_sink"    -> streamingMroutSink _,
    "streaming_sessionize"    -> streamingSessionize _,
    "streaming_session_window" -> streamingSessionWindow _,
    "streaming_left_join_unmatched" -> streamingLeftJoinUnmatched _,
    "streaming_full_join_attribution" -> streamingFullJoinAttribution _)

  /** Shared by `source_time_travel` (DataFrame door) and
    * `sql_time_travel` (DSv2 catalog door): both must reproduce the
    * same v1 + v3 aggregates, replayed relationally from orders.
    */
  private val TimeTravelOracle: String =
    """WITH up AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    o_totalprice * 1.1 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |ins AS (
      |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
      |    o_totalprice
      |  FROM orders WHERE o_orderkey % 1013 = 0),
      |v2 AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
      |  UNION ALL SELECT * FROM up
      |  UNION ALL SELECT * FROM ins),
      |v3 AS (
      |  SELECT * FROM v2
      |  WHERE o_orderkey < 0 OR o_orderkey % 131 <> 0)
      |SELECT 'v1' AS version, o_orderstatus, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_orderkey) AS n_keys,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
      |    AS sum_price
      |FROM orders GROUP BY 1, 2
      |UNION ALL
      |SELECT 'v3' AS version, o_orderstatus, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_orderkey) AS n_keys,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
      |    AS sum_price
      |FROM v3 GROUP BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "source_csv_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  max(o_orderdate) AS last_order
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "source_json_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  max(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "source_text_roundtrip" ->
      raw"""SELECT word, COUNT(*) AS cnt
           |FROM (SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+'))
           |        AS word FROM documents)
           |WHERE word <> '' GROUP BY word""".stripMargin,
    "source_mrout_roundtrip" ->
      raw"""SELECT word, COUNT(*) AS cnt
           |FROM (SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+'))
           |        AS word FROM documents)
           |WHERE word <> '' GROUP BY word""".stripMargin,
    "source_jdbc_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_acctbal,
        |  max(c_custkey) AS max_key
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "source_jdbc_bulk_load" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_acctbal,
        |  min(c_custkey) AS min_key
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    "source_orc_roundtrip" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  max(p_size) AS max_size
        |FROM part GROUP BY p_brand""".stripMargin,
    "streaming_click_attribution" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id,
        |  CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin,
    "streaming_left_join_unmatched" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id, p.purchase_id,
        |  CAST(epoch_us(p.p_ts) - epoch_us(c.c_ts) AS BIGINT) AS gap_us
        |FROM clicks c LEFT JOIN purch p
        |  ON c.user_id = p.p_user AND p.p_ts >= c.c_ts
        |  AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE""".stripMargin,
    "streaming_full_join_attribution" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id, p.purchase_id, p.p_user,
        |  CAST(epoch_us(p.p_ts) - epoch_us(c.c_ts) AS BIGINT) AS gap_us
        |FROM clicks c FULL JOIN purch p
        |  ON c.user_id = p.p_user AND p.p_ts >= c.c_ts
        |  AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE""".stripMargin,
    "streaming_mrout_sink" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "streaming_enrich_join" ->
      """SELECT c_mktsegment AS segment, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    // identical result contract to the batch twin: arrival order and
    // micro-batch boundaries must be invisible
    "streaming_incremental_dedup" ->
      DedupQueries.oracles("dedup_incremental"),
    "streaming_dedup_events" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id % 10 = 0 GROUP BY event_type""".stripMargin,
    "streaming_dedup_within_wm" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id % 10 = 3 GROUP BY event_type""".stripMargin,
    "source_partitioned_prune" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,
    // the calendar-dim join reduces to the quarter's months — the
    // oracle states the equivalent literal predicate
    "source_dpp_prune" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) = 1995 AND quarter(o_orderdate) = 1
        |GROUP BY o_orderstatus""".stripMargin,
    "source_schema_evolution" ->
      """WITH evolved AS (
        |  SELECT source, CAST(NULL AS VARCHAR) AS lang, n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT source, lang, n_chars
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT source, COUNT(*) AS n_docs, COUNT(lang) AS n_with_lang,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM evolved GROUP BY source""".stripMargin,
    "source_merge_upsert" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice * 1.1 AS o_totalprice, o_orderdate,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 1013 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice FROM up
        |  UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice FROM ins)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM merged GROUP BY 1""".stripMargin,
    // rename replay: the oracle computes the SAME final state under
    // the NEW name — a mapping that NULLed pre-rename values changes
    // every sum and fails the hash
    "sql_rename_column" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |ins2 AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_totalprice, o_ym
        |  FROM base WHERE o_ym BETWEEN '1995-01' AND '1995-02'
        |    AND o_orderkey % 1013 = 0),
        |up4 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base WHERE o_ym BETWEEN '1995-03' AND '1995-04'
        |    AND o_orderkey % 17 = 0),
        |final AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice AS o_price
        |  FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up4)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM up4
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM ins2)
        |SELECT 4 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_price AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM final WHERE o_price >= 50000.0
        |GROUP BY o_orderstatus""".stripMargin,
    // spec-evolution replay: head = base with the two-month upsert
    // applied; the head arm filters status F inside H1-1995 (the mirror
    // equals its source by the layout invariant), v1 = pristine base
    "source_partspec_evolution" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base WHERE o_ym BETWEEN '1995-01' AND '1995-02'
        |    AND o_orderkey % 17 = 0),
        |head AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up),
        |a1 AS (
        |  SELECT 'head_f' AS arm, 3 AS head_version, o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |      AS sum_price
        |  FROM head
        |  WHERE o_ym BETWEEN '1995-01' AND '1995-06'
        |    AND o_orderstatus = 'F'
        |  GROUP BY o_orderstatus),
        |a2 AS (
        |  SELECT 'v1' AS arm, 3 AS head_version, o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |      AS sum_price
        |  FROM base GROUP BY o_orderstatus)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2""".stripMargin,
    // SQL-door union scan on the unmigrated evolved head: replay the
    // two-month upsert; head_f = status F inside H1-1995 (the mirror
    // equals its source), head_all = the whole mixed head by status
    "sql_partspec_read" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base WHERE o_ym BETWEEN '1995-01' AND '1995-02'
        |    AND o_orderkey % 17 = 0),
        |head AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up)
        |SELECT 'head_f' AS arm, o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM head
        |WHERE o_ym BETWEEN '1995-01' AND '1995-06'
        |  AND o_orderstatus = 'F'
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'head_all' AS arm, o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM head
        |GROUP BY o_orderstatus""".stripMargin,
    // metadata-only DROP COLUMN: replay the post-drop two-month
    // upsert; the dropped status column never appears
    "sql_drop_column" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base WHERE o_ym BETWEEN '1995-01' AND '1995-02'
        |    AND o_orderkey % 17 = 0),
        |head AS (
        |  SELECT o_orderkey, o_totalprice, o_ym FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up)
        |SELECT 'head' AS arm, 3 AS head_version,
        |  SUBSTRING(o_ym, 1, 4) AS yr,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |  CAST(-1 AS BIGINT) AS n_open,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM head
        |GROUP BY SUBSTRING(o_ym, 1, 4)
        |UNION ALL
        |SELECT 'v1' AS arm, 3 AS head_version,
        |  SUBSTRING(o_ym, 1, 4) AS yr,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |  CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END)
        |    AS BIGINT) AS n_open,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM base
        |GROUP BY SUBSTRING(o_ym, 1, 4)""".stripMargin,
    // safe type widening: replay the same float-upcast and the wide
    // post-widening rows; IEEE float->double is engine-identical
    "sql_widen_column" ->
      """WITH src AS (
        |  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS o_ym,
        |    CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS o_day,
        |    CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_price_f
        |  FROM orders
        |  WHERE strftime(o_orderdate, '%Y-%m')
        |    BETWEEN '1995-01' AND '1995-06'),
        |wide AS (
        |  SELECT -CAST(i AS BIGINT) AS o_orderkey, '1995-01' AS o_ym,
        |    40000000000 + i AS o_day,
        |    CAST(i AS DOUBLE) + 0.1 AS o_price_f
        |  FROM range(1, 6) t(i)),
        |head AS (SELECT * FROM src UNION ALL SELECT * FROM wide)
        |SELECT 4 AS head_version, o_ym,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(o_day) AS BIGINT) AS sum_day,
        |  MAX(o_price_f) AS max_price_f,
        |  CAST(SUM(CASE WHEN o_price_f >= 100000.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_expensive
        |FROM head GROUP BY o_ym""".stripMargin,
    // CTAS + keyed-upsert INSERT replay: CTAS seeds H1-1995, the
    // INSERT re-prices two months' %17 keys and appends negative-key
    // synthetics; head is exactly 3 (CREATE's empty v1 + the CTAS
    // seed commit + one INSERT)
    "sql_create_table" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders
        |  WHERE strftime(o_orderdate, '%Y-%m')
        |    BETWEEN '1995-01' AND '1995-06'),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base WHERE o_ym BETWEEN '1995-01' AND '1995-02'
        |    AND o_orderkey % 17 = 0),
        |ins AS (
        |  SELECT -o_orderkey AS o_orderkey, o_orderstatus,
        |    o_totalprice + 1.0 AS o_totalprice, o_ym
        |  FROM base WHERE o_ym = '1995-03' AND o_orderkey % 701 = 0),
        |head AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins)
        |SELECT 3 AS head_version, o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM head GROUP BY o_orderstatus""".stripMargin,
    // hidden partitioning: the oracle replays the keyed upsert
    // relationally — the Spark side's days/bucket layout and its
    // source-predicate pruning must be invisible to the result
    "sql_hidden_partitioning" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |  FROM orders
        |  WHERE o_orderdate >= DATE '1995-01-01'
        |    AND o_orderdate < DATE '1995-02-01'),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_orderdate
        |  FROM base WHERE o_orderkey % 19 = 0
        |    AND o_orderdate BETWEEN DATE '1995-01-02'
        |      AND DATE '1995-01-04'),
        |head AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up)
        |SELECT strftime(o_orderdate, '%Y-%m-%d') AS o_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM head
        |WHERE o_orderdate BETWEEN DATE '1995-01-10'
        |  AND DATE '1995-01-25'
        |GROUP BY o_day""".stripMargin,
    // runtime (DPP) pruning through the hidden bucket layout: the
    // dimension is a %97 key slice of the same orders window, so the
    // oracle derives the join as a filter — bucket-plane runtime
    // pruning must be value-invisible
    "sql_bucket_dpp" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-01-01'
        |  AND o_orderdate < DATE '1995-03-01'
        |  AND o_orderkey % 97 = 0
        |GROUP BY o_orderstatus""".stripMargin,
    // storage-partitioned join: keys are unique, so the self-join
    // replays as a projection — the exchange-free plan must be
    // value-invisible; * 0.5 is an exact binary scale in both engines
    "sql_bucket_spj" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice + o_totalprice * 0.5
        |    AS DECIMAL(30,6))) AS DOUBLE) AS sum_combined
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-01-01'
        |  AND o_orderdate < DATE '1995-03-01'
        |GROUP BY o_orderstatus""".stripMargin,
    // transform-append evolution: the oracle replays the upsert
    // relationally — the bucket re-layout (evolve + migrate) must be
    // value-invisible; head_version pins the version count (evolve,
    // upsert, migrate = 4)
    "sql_partspec_transform" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base WHERE o_ym BETWEEN '1995-01' AND '1995-02'
        |    AND o_orderkey % 17 = 0),
        |head AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up),
        |a1 AS (
        |  SELECT 'agg' AS arm, 4 AS head_version, o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |      AS sum_price
        |  FROM head WHERE o_ym BETWEEN '1995-01' AND '1995-03'
        |  GROUP BY o_orderstatus),
        |a2 AS (
        |  SELECT 'probe' AS arm, 4 AS head_version, o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |      AS sum_price
        |  FROM head WHERE o_orderkey = 1
        |  GROUP BY o_orderstatus)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2""".stripMargin,
    // rename-table: the oracle replays the post-rename DML
    // relationally — the directory move itself must be invisible
    "sql_rename_table" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base WHERE o_ym BETWEEN '1995-01' AND '1995-02'
        |    AND o_orderkey % 17 = 0),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up),
        |head AS (SELECT * FROM merged WHERE o_orderkey % 131 <> 0)
        |SELECT 3 AS head_version, o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM head GROUP BY o_orderstatus""".stripMargin,
    "source_time_travel" -> TimeTravelOracle,
    // the SQL door must see exactly what the DataFrame door sees
    "sql_time_travel" -> TimeTravelOracle,
    // the metadata plane held to the data's oracle: per-month
    // row_count from t.files must equal the relational v3 replay's
    // COUNT(*), and MAX(version) from t.history is exactly 3
    "sql_meta_tables" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.1 AS o_totalprice, o_ym
        |  FROM base WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_totalprice, o_ym
        |  FROM base WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE o_orderkey < 0 OR o_orderkey % 131 <> 0)
        |SELECT o_ym, COUNT(*) AS n_rows, TRUE AS has_files,
        |  3 AS head_version
        |FROM v3 GROUP BY 1""".stripMargin,
    // the catalog-join DPP entry reads the fixture's v3 head; the
    // calendar quarter 1995-Q1 = months 1995-01..03 applied literally
    "sql_dpp_prune" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.1 AS o_totalprice, o_ym
        |  FROM base WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_totalprice, o_ym
        |  FROM base WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE o_orderkey < 0 OR o_orderkey % 131 <> 0)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v3
        |WHERE o_ym IN ('1995-01', '1995-02', '1995-03')
        |GROUP BY 1""".stripMargin,
    // final state after the SQL DML chain: upsert+insert (v2), the
    // 1995-03 partition delete (v3), the 1996-02 predicate delete (v4)
    "sql_dml_roundtrip" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base
        |  WHERE o_ym BETWEEN '1995-01' AND '1995-06'
        |    AND o_orderkey % 17 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_totalprice, o_ym
        |  FROM base
        |  WHERE o_ym BETWEEN '1995-01' AND '1995-06'
        |    AND o_orderkey % 1013 = 0),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins),
        |fin AS (
        |  SELECT * FROM merged
        |  WHERE o_ym <> '1995-03'
        |    AND NOT (o_ym = '1996-02' AND o_totalprice >= 550000.0))
        |SELECT 4 AS head_version, o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM fin GROUP BY 1, 2""".stripMargin,
    // merge-on-read chain: INSERT (v2), records-only DELETE (v3, zero
    // new data files), compact materialization (v4). The 'mor' and
    // 'compacted' arms replay identically (deletes applied); the
    // record-partition count is the doomed months.
    "sql_merge_on_read" ->
      """WITH s AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders
        |  WHERE strftime(o_orderdate, '%Y-%m')
        |    BETWEEN '1995-01' AND '1995-06'),
        |kept AS (SELECT * FROM s WHERE o_totalprice < 400000.0)
        |SELECT 'pre' AS arm, 2 AS version, 0 AS n_record_parts,
        |  0 AS mor_new_data_files, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS price_sum
        |FROM s
        |UNION ALL
        |SELECT 'mor', 3,
        |  CAST((SELECT COUNT(DISTINCT o_ym) FROM s
        |        WHERE o_totalprice >= 400000.0) AS INTEGER),
        |  0, COUNT(*), COUNT(DISTINCT o_orderkey),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |FROM kept
        |UNION ALL
        |SELECT 'compacted', 4, 0, 0, COUNT(*),
        |  COUNT(DISTINCT o_orderkey),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |FROM kept""".stripMargin,
    // merge-on-read UPDATE/MERGE chain: INSERT (v2), records-only
    // UPDATE (v3, zero new data files), records-only MERGE (v4, ditto),
    // compact materialization (v5). The 'mor' and 'compacted' arms
    // replay identically (records applied, delta rows folded); the
    // record-partition count is the months carrying matched rows.
    "sql_update_mor" ->
      """WITH s AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders
        |  WHERE strftime(o_orderdate, '%Y-%m')
        |    BETWEEN '1995-01' AND '1995-06'),
        |v3 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_totalprice >= 400000.0 THEN o_totalprice * 2.0
        |         ELSE o_totalprice END AS o_totalprice, o_ym
        |  FROM s),
        |v4 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0
        |      THEN (SELECT b.o_totalprice + 5.0 FROM s b
        |            WHERE b.o_orderkey = v3.o_orderkey)
        |      ELSE o_totalprice END AS o_totalprice, o_ym
        |  FROM v3
        |  UNION ALL
        |  SELECT -o_orderkey - 1, o_orderstatus, o_totalprice + 1.0,
        |    o_ym
        |  FROM s WHERE o_orderkey % 13 = 0),
        |recs AS (
        |  SELECT COUNT(DISTINCT o_ym) AS n FROM s
        |  WHERE o_totalprice >= 400000.0 OR o_orderkey % 7 = 0)
        |SELECT 'pre' AS arm, 2 AS version, 0 AS n_record_parts,
        |  0 AS upd_new_files, 0 AS mrg_new_files,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS price_sum
        |FROM s
        |UNION ALL
        |SELECT 'mor', 4, CAST((SELECT n FROM recs) AS INTEGER), 0, 0,
        |  COUNT(*), COUNT(DISTINCT o_orderkey),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |FROM v4
        |UNION ALL
        |SELECT 'compacted', 5, 0, 0, 0, COUNT(*),
        |  COUNT(DISTINCT o_orderkey),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |FROM v4""".stripMargin,
    // the CDF stream over the merge-on-read chain: v2 = the INSERT
    // (all inserts), v3 = the records-only DELETE (delete events with
    // pre-image prices, NULL post-image)
    "streaming_mor_cdf" ->
      """WITH s AS (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders
        |  WHERE strftime(o_orderdate, '%Y-%m')
        |    BETWEEN '1995-01' AND '1995-06'),
        |del AS (SELECT * FROM s WHERE o_totalprice >= 400000.0)
        |SELECT 'insert' AS change_type, COUNT(*) AS n_changes,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS price_sum,
        |  CAST(NULL AS DOUBLE) AS old_price_sum
        |FROM s
        |UNION ALL
        |SELECT 'delete', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
        |  CAST(NULL AS DOUBLE),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |FROM del""".stripMargin,
    // the CDF stream over the merge-on-read UPDATE chain: v2 = the
    // INSERT (all inserts), v3 = the records-only UPDATE (update
    // events carrying exact pre- AND post-image sums)
    "streaming_umor_cdf" ->
      """WITH s AS (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders
        |  WHERE strftime(o_orderdate, '%Y-%m')
        |    BETWEEN '1995-01' AND '1995-06'),
        |upd AS (SELECT * FROM s WHERE o_totalprice >= 400000.0)
        |SELECT 'insert' AS change_type, COUNT(*) AS n_changes,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS price_sum,
        |  CAST(NULL AS DOUBLE) AS old_price_sum
        |FROM s
        |UNION ALL
        |SELECT 'update', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
        |  CAST(SUM(CAST(o_totalprice * 2.0 AS DECIMAL(30,6)))
        |    AS DOUBLE),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |FROM upd""".stripMargin,
    // head (v3, the restore) must equal the pristine base; v2 (the bad
    // rewrite) must still time-travel to the upserted state
    "sql_restore" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base
        |  WHERE o_ym BETWEEN '1995-01' AND '1995-06'
        |    AND o_orderkey % 17 = 0),
        |v2 AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up)
        |SELECT 'head' AS arm, 3 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM base GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT 'v2' AS arm, 3 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v2 GROUP BY 1, 2, 3""".stripMargin,
    // the streamed-to-branch deltas (×1.1 on %97 keys, negative-key
    // inserts on %1013, both over 1995 orders) published as main v2;
    // v1 = the pristine bootstrap — same replay either way the deltas
    // arrived (batch SQL or micro-batches), which is the point
    "streaming_wap" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders
        |  WHERE strftime(o_orderdate, '%Y') = '1995'),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.1 AS o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_totalprice
        |  FROM base WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins)
        |SELECT 'published' AS arm, 2 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v2 GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT 'v1' AS arm, 2 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM base GROUP BY 1, 2, 3""".stripMargin,
    // published = after the branch-staged ×2.0 upsert fast-forwarded
    // to main as v2; v1 = the pristine bootstrap (nothing leaked
    // before the publish, history intact after it)
    "sql_wap" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 2.0 AS o_totalprice, o_ym
        |  FROM base
        |  WHERE o_ym BETWEEN '1995-07' AND '1995-12'
        |    AND o_orderkey % 23 = 0),
        |v2 AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up)
        |SELECT 'published' AS arm, 2 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v2 GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT 'v1' AS arm, 2 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM base GROUP BY 1, 2, 3""".stripMargin,
    // clone_v1 = the pristine bootstrap, clone_head = after the ×1.5
    // upsert, src = head after the >= 1996-01 partition delete; the
    // source was vacuumed to one version between cloning and reading
    "sql_clone" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.5 AS o_totalprice, o_ym
        |  FROM base
        |  WHERE o_ym BETWEEN '1995-01' AND '1995-06'
        |    AND o_orderkey % 17 = 0),
        |v2 AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up),
        |v3 AS (SELECT * FROM v2 WHERE o_ym < '1996-01')
        |SELECT 'clone_v1' AS arm, 1 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM base GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT 'clone_head' AS arm, 1 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v2 GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT 'src' AS arm, 3 AS head_version, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v3 GROUP BY 1, 2, 3""".stripMargin,
    // tag 'audited' pins v1 (pristine orders), 'pre_delete' pins v2
    // (after the ×1.1 upsert + negative-key inserts, before the delete)
    "sql_tag_travel" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins)
        |SELECT 'audited' AS tag_name, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY 1, 2
        |UNION ALL
        |SELECT 'pre_delete' AS tag_name, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v2 GROUP BY 1, 2""".stripMargin,
    // base + the one passing insert; head exactly 3 (bootstrap + ADD
    // CONSTRAINT metadata version + passing INSERT), one live check
    "sql_constraints" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_totalprice, o_ym
        |  FROM base
        |  WHERE o_ym = '1995-02' AND o_orderkey % 501 = 0),
        |fin AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |SELECT 3 AS head_version, 1 AS n_checks, o_orderstatus,
        |  COUNT(*) AS n_orders, COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM fin GROUP BY 1, 2, 3""".stripMargin,
    // replay: UPDATE (×2 on expensive H1-1995 orders) then MERGE
    // (matched keys take source price, unmatched insert new keys)
    "sql_update_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_totalprice >= 400000.0
        |      AND o_ym BETWEEN '1995-01' AND '1995-06'
        |      THEN o_totalprice * 2.0 ELSE o_totalprice END
        |      AS o_totalprice,
        |    o_ym
        |  FROM base),
        |v3 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 701 = 0
        |      THEN (SELECT b.o_totalprice + 5.0 FROM base b
        |            WHERE b.o_orderkey = v2.o_orderkey)
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_ym
        |  FROM v2
        |  UNION ALL
        |  SELECT -o_orderkey - 1, o_orderstatus, o_totalprice + 1.0, o_ym
        |  FROM base WHERE o_orderkey % 1409 = 0)
        |SELECT 3 AS head_version, o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v3 GROUP BY 1, 2""".stripMargin,
    // replay: dynamic overwrite of 1995-01/02 (discounted %3 subset),
    // then static PARTITION overwrite of 1996-05 (zero-priced %5 subset)
    "sql_insert_overwrite" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_ym
        |  FROM orders),
        |v2 AS (
        |  SELECT * FROM base WHERE o_ym NOT IN ('1995-01', '1995-02')
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 0.9, o_ym
        |  FROM base
        |  WHERE o_ym IN ('1995-01', '1995-02') AND o_orderkey % 3 = 0),
        |v3 AS (
        |  SELECT * FROM v2 WHERE o_ym <> '1996-05'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 0.0, o_ym
        |  FROM base WHERE o_ym = '1996-05' AND o_orderkey % 5 = 0)
        |SELECT 3 AS head_version, o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v3 GROUP BY 1, 2""".stripMargin,
    "source_bloom_lookup" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE doc_id % 97 = 0""".stripMargin,
    "source_snapshot_prune" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderdate,
        |    o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_orderdate, o_totalprice
        |  FROM orders WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice
        |  FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v2
        |WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-06'
        |GROUP BY 1""".stripMargin,
    "source_snapshot_lookup" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderdate,
        |    o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_orderdate, o_totalprice
        |  FROM orders WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice
        |  FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE o_orderkey < 0 OR o_orderkey % 131 <> 0),
        |keys AS (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 719 = 0
        |  ORDER BY o_orderkey LIMIT 8)
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m') AS o_ym
        |FROM v3
        |WHERE o_orderkey IN (SELECT o_orderkey FROM keys)""".stripMargin,
    "source_stats_prune" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_totalprice >= 400000.0
        |GROUP BY o_orderstatus""".stripMargin,
    "source_snapshot_multipart" ->
      """SELECT CAST(ts AS DATE) AS e_dt, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN '2024-01-10' AND '2024-01-16'
        |  AND event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "streaming_cdf_mv" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE o_orderkey < 0 OR o_orderkey % 131 <> 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
        |    AS BIGINT) AS price_micros
        |FROM v3""".stripMargin,
    "streaming_snapshot_cdf" ->
      """WITH v1 AS (
        |  SELECT 1 AS version, COUNT(*) AS n_changes,
        |    CAST(COUNT(*) AS BIGINT) AS n_inserts,
        |    CAST(0 AS BIGINT) AS n_updates,
        |    CAST(0 AS BIGINT) AS n_deletes,
        |    CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |      AS price_sum,
        |    CAST(NULL AS DOUBLE) AS old_price_sum
        |  FROM orders),
        |v2 AS (
        |  SELECT 2 AS version, COUNT(*) AS n_changes,
        |    CAST(SUM(CASE WHEN ctype = 'insert' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_inserts,
        |    CAST(SUM(CASE WHEN ctype = 'update' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_updates,
        |    CAST(0 AS BIGINT) AS n_deletes,
        |    CAST(SUM(k) AS BIGINT) AS key_sum,
        |    CAST(SUM(CAST(p AS DECIMAL(30,6))) AS DOUBLE) AS price_sum,
        |    CAST(SUM(CAST(old_p AS DECIMAL(30,6))) AS DOUBLE)
        |      AS old_price_sum
        |  FROM (
        |    SELECT o_orderkey AS k, o_totalprice * 1.1 AS p,
        |      o_totalprice AS old_p, 'update' AS ctype
        |    FROM orders WHERE o_orderkey % 97 = 0
        |    UNION ALL
        |    SELECT -o_orderkey - 1 AS k, o_totalprice AS p,
        |      NULL AS old_p, 'insert' AS ctype
        |    FROM orders WHERE o_orderkey % 1013 = 0)),
        |v3 AS (
        |  SELECT 3 AS version, COUNT(*) AS n_changes,
        |    CAST(0 AS BIGINT) AS n_inserts,
        |    CAST(0 AS BIGINT) AS n_updates,
        |    CAST(COUNT(*) AS BIGINT) AS n_deletes,
        |    CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |    CAST(NULL AS DOUBLE) AS price_sum,
        |    CAST(SUM(CAST(CASE WHEN o_orderkey % 97 = 0
        |                       THEN o_totalprice * 1.1
        |                       ELSE o_totalprice END AS DECIMAL(30,6)))
        |      AS DOUBLE) AS old_price_sum
        |  FROM orders WHERE o_orderkey % 131 = 0)
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |UNION ALL SELECT * FROM v3""".stripMargin,
    "streaming_branch_cdf" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE strftime(o_orderdate, '%Y') = '1995'),
        |up AS (
        |  SELECT o_orderkey AS k, o_totalprice * 1.1 AS p,
        |    o_totalprice AS old_p, 'update' AS ctype
        |  FROM base WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS k, o_totalprice AS p,
        |    CAST(NULL AS DOUBLE) AS old_p, 'insert' AS ctype
        |  FROM base WHERE o_orderkey % 1013 = 0),
        |agg AS (
        |  SELECT arm, version,
        |    CAST(COUNT(*) AS BIGINT) AS n_changes,
        |    CAST(SUM(CASE WHEN ctype = 'insert' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_inserts,
        |    CAST(SUM(CASE WHEN ctype = 'update' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_updates,
        |    CAST(0 AS BIGINT) AS n_deletes,
        |    CAST(SUM(k) AS BIGINT) AS key_sum,
        |    CAST(SUM(CAST(p AS DECIMAL(30,6))) AS DOUBLE) AS price_sum,
        |    CAST(SUM(CAST(old_p AS DECIMAL(30,6))) AS DOUBLE)
        |      AS old_price_sum
        |  FROM (
        |    SELECT 'branch' AS arm, 2 AS version, * FROM up
        |    UNION ALL
        |    SELECT 'branch' AS arm, 3 AS version, * FROM ins
        |    UNION ALL
        |    SELECT 'main' AS arm, 2 AS version, * FROM up
        |    UNION ALL
        |    SELECT 'main' AS arm, 2 AS version, * FROM ins)
        |  GROUP BY arm, version)
        |SELECT arm, version, n_changes, n_inserts, n_updates,
        |  n_deletes, key_sum, price_sum, old_price_sum
        |FROM agg""".stripMargin,
    "source_snapshot_add_column" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE strftime(o_orderdate, '%Y') = '1995'),
        |ch AS (
        |  SELECT o_orderkey,
        |    'ch_' || CAST((o_orderkey % 3 + 3) % 3 AS VARCHAR) AS o_channel
        |  FROM base),
        |v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CAST(NULL AS VARCHAR) AS o_channel
        |  FROM base),
        |up AS (
        |  SELECT b.o_orderkey, b.o_orderstatus,
        |    b.o_totalprice * 1.1 AS o_totalprice, c.o_channel
        |  FROM base b JOIN ch c USING (o_orderkey)
        |  WHERE b.o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -b.o_orderkey - 1 AS o_orderkey, b.o_orderstatus,
        |    b.o_totalprice, c.o_channel
        |  FROM base b JOIN ch c USING (o_orderkey)
        |  WHERE b.o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT * FROM v1
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins),
        |agg AS (
        |  SELECT 'v1' AS version, o_orderstatus, COUNT(*) AS n_orders,
        |    COUNT(o_channel) AS n_channel,
        |    COUNT(DISTINCT o_channel) AS n_channels_distinct,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |      AS sum_price
        |  FROM v1 GROUP BY 2
        |  UNION ALL
        |  SELECT 'v2' AS version, o_orderstatus, COUNT(*) AS n_orders,
        |    COUNT(o_channel) AS n_channel,
        |    COUNT(DISTINCT o_channel) AS n_channels_distinct,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |      AS sum_price
        |  FROM v2 GROUP BY 2)
        |SELECT version, o_orderstatus, n_orders, n_channel,
        |  n_channels_distinct, sum_price
        |FROM agg""".stripMargin,
    "streaming_snapshot_sink" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE strftime(o_orderdate, '%Y') = '1995'),
        |finalstate AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE
        |      WHEN o_orderkey % 97 = 0 AND o_orderkey % 13 = 0
        |        THEN o_totalprice * 1.1 * 0.9
        |      WHEN o_orderkey % 97 = 0 THEN o_totalprice * 1.1
        |      WHEN o_orderkey % 13 = 0 THEN o_totalprice * 0.9
        |      ELSE o_totalprice
        |    END AS o_totalprice
        |  FROM base
        |  UNION ALL
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_totalprice
        |  FROM base WHERE o_orderkey % 1013 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM finalstate GROUP BY 1""".stripMargin,
    "source_snapshot_write_door" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE strftime(o_orderdate, '%Y') = '1995'),
        |up AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    o_totalprice * 1.1 AS o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_totalprice
        |  FROM base WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE o_orderkey < 0 OR o_orderkey % 131 <> 0)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v3 GROUP BY 1""".stripMargin,
    "source_scd2_history" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 1013 = 0),
        |ev AS (
        |  SELECT o_orderkey AS k, 1 AS v, o_totalprice AS price, 1 AS alive
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, o_totalprice, 1 FROM up
        |  UNION ALL
        |  SELECT o_orderkey, 2, o_totalprice, 1 FROM ins
        |  UNION ALL
        |  SELECT o_orderkey, 3, NULL, 0 FROM orders
        |  WHERE o_orderkey % 131 = 0),
        |hist AS (
        |  SELECT k, price, alive, v,
        |    lead(v) OVER (PARTITION BY k ORDER BY v) AS valid_to_v
        |  FROM ev)
        |SELECT v AS valid_from, COALESCE(valid_to_v, 99) AS valid_to,
        |  COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(price AS DECIMAL(30,6))) AS DOUBLE) AS price_sum
        |FROM hist WHERE alive = 1 GROUP BY 1, 2""".stripMargin,
    "source_mv_refresh" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderdate,
        |    o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus,
        |    o_orderdate, o_totalprice
        |  FROM orders WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice
        |  FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE o_orderkey < 0 OR o_orderkey % 131 <> 0)
        |SELECT strftime(o_orderdate, '%Y-%m') AS o_ym, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM v3 GROUP BY 1, 2""".stripMargin,
    "source_table_diff" ->
      """WITH up AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |ins AS (
        |  SELECT -o_orderkey - 1 AS o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 1013 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
        |  UNION ALL SELECT * FROM up
        |  UNION ALL SELECT * FROM ins),
        |v3 AS (
        |  SELECT * FROM v2
        |  WHERE o_orderkey < 0 OR o_orderkey % 131 <> 0),
        |d AS (
        |  SELECT v1.o_orderkey AS k1, v1.o_totalprice AS p1,
        |    v3.o_orderkey AS k3, v3.o_totalprice AS p3
        |  FROM orders v1 FULL OUTER JOIN v3
        |    ON v1.o_orderkey = v3.o_orderkey
        |  WHERE v1.o_orderkey IS NULL OR v3.o_orderkey IS NULL
        |    OR p1 <> p3)
        |SELECT CASE WHEN k1 IS NULL THEN 'insert'
        |            WHEN k3 IS NULL THEN 'delete'
        |            ELSE 'update' END AS change_type,
        |  COUNT(*) AS n_keys,
        |  CAST(SUM(COALESCE(k1, k3)) AS BIGINT) AS key_sum
        |FROM d GROUP BY 1""".stripMargin,
    "source_delete_keys" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey % 131 <> 0
        |GROUP BY 1""".stripMargin,
    "source_incremental_zorder" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-05'
        |  AND o_orderdate < TIMESTAMP '1996-03-25'
        |  AND o_custkey <= (SELECT max(o_custkey) // 8 FROM orders)
        |GROUP BY 1""".stripMargin,
    "source_incremental_compact" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |GROUP BY 1""".stripMargin,
    "source_compact_files" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-07-01'
        |GROUP BY 1""".stripMargin,
    "source_zorder_prune" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_partkey <= (SELECT MAX(l_partkey) // 8 FROM lineitem)
        |GROUP BY 1""".stripMargin,
    "source_json_corrupt" ->
      """SELECT validity, COUNT(*) AS n_rows,
        |  COUNT(doc_id2) AS n_parsed_ids,
        |  COALESCE(CAST(SUM(n_chars2) AS BIGINT), 0) AS sum_chars
        |FROM (SELECT
        |        CASE WHEN doc_id % 7 = 0 THEN 'corrupt' ELSE 'valid' END
        |          AS validity,
        |        CASE WHEN doc_id % 7 = 0 THEN NULL ELSE doc_id END
        |          AS doc_id2,
        |        CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END
        |          AS n_chars2
        |      FROM documents)
        |GROUP BY validity""".stripMargin,
    "streaming_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 0
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, event_id, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,
    // session_window semantics: an exactly-gap-sized gap MERGES (the
    // per-event windows [ts, ts+gap] touch — pinned by the
    // EventStreamsSpec boundary test), so the split flag is strict `>`;
    // session_end = last ts + gap — see streamingSessionWindow
    "streaming_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 0
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid""".stripMargin,
    "streaming_late_data" ->
      """WITH late AS (
        |  SELECT COUNT(DISTINCT date_trunc('hour', ts)) AS n_late_windows
        |  FROM events
        |  WHERE ts < TIMESTAMP '2024-01-10 00:00:00')
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        |  late.n_late_windows
        |FROM events, late
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-02-01 00:00:00'
        |GROUP BY 1, late.n_late_windows""".stripMargin,
    "streaming_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value)
        |    AS avg_value
        |FROM events GROUP BY 1, 2""".stripMargin)
}
