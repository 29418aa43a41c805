package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the harness star schema + LLM-pipeline tables
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md).
  *
  * All reads are plain parquet scans so Catalyst keeps full pushdown /
  * pruning freedom: callers `select`/`filter` and the scan node shows
  * `PushedFilters` + a narrowed `ReadSchema`. No data is cached here — at
  * the 100 TB design point the tables don't fit in memory, and caching
  * would defeat partition pruning. Only the footer-derived schema is
  * cached ([[schemaOf]]), so a repeated load skips the inference job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fresh scan of one table. Each call builds a new relation (fresh
    * attribute ids, so self-joins resolve as over two reads); only the
    * schema comes from [[schemaOf]].
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Session confs whose values change the schema parquet inference
    * derives from the same footers: the TIMESTAMP(NANOS), binary and
    * INT96 mappings, the NTZ inference, and whether every part file's
    * footer is merged.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[String]), StructType]

  /** The schema `spark.read.parquet(path)` infers, inferred once per
    * (absolute path, [[dataFingerprint]], inference confs) in this JVM.
    * Rewriting the data in place changes the fingerprint and flipping an
    * inference conf changes the key, so neither serves a stale schema.
    * Like the fingerprint, it assumes a single file or a flat dir of part
    * files. A path that does not exist is inferred uncached, so it fails
    * with Spark's own `PATH_NOT_FOUND`.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    def infer = spark.read.parquet(path).schema
    val abs = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    if (!java.nio.file.Files.exists(abs)) infer
    else {
      val key = (abs.toString, dataFingerprint(abs.toString),
        inferenceConfs.map(k => spark.conf.getOption(k).orNull))
      schemas.computeIfAbsent(key, _ => infer)
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Stable per-dataset key for scratch dirs / table-name suffixes,
    * shared by every site that caches per-sf-dir artifacts. Keyed on the
    * ABSOLUTE path so relative and absolute spellings of the same data
    * map to the same cache; 64 bits of md5 (not `String.hashCode`'s 32)
    * so two different dirs can't collide and serve each other's cache.
    */
  def dirKey(dir: String): String =
    md5hex(java.nio.file.Paths.get(dir)
      .toAbsolutePath.normalize.toString).take(16)

  /** Content fingerprint of one or more dataset paths: every data
    * file's (name, length, mtime, tail bytes) folded into one md5.
    * Regenerating a dataset in place changes the fingerprint, so cache
    * keys that embed it can never serve stale data — the cache keyed on
    * the old fingerprint simply misses. The 64-byte tail sample covers
    * the case a (length, mtime) key can't: a same-size in-place rewrite
    * within the filesystem's mtime granularity (1 s on some filesystems)
    * — for parquet/ORC the tail holds the footer metadata, which shifts
    * with any content change. A path may be a single file or a directory
    * of part files (only one level deep — Spark writes flat output dirs).
    */
  def dataFingerprint(paths: String*): String = {
    val sb = new StringBuilder
    paths.foreach { p =>
      val f = new java.io.File(p)
      val listed = if (f.isDirectory) f.listFiles() else Array(f)
      require(listed != null && (f.isDirectory || f.exists),
        s"dataFingerprint: no such dataset (or unreadable): $p")
      val files = listed.filter(_.isFile).sortBy(_.getName)
      files.foreach { x =>
        sb.append(x.getName).append('|')
          .append(x.length).append('|').append(x.lastModified).append('|')
        val n = math.min(64L, x.length).toInt
        if (n > 0) {
          val in = new java.io.RandomAccessFile(x, "r")
          try {
            in.seek(x.length - n)
            val buf = new Array[Byte](n)
            in.readFully(buf)
            buf.foreach(b => sb.append("%02x".format(b)))
          } finally in.close()
        }
        sb.append('\n')
      }
    }
    md5hex(sb.toString).take(12)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Normalize the events `ts` column to a session-TZ µs TIMESTAMP
    * regardless of which physical parquet type the generator used.
    * Generations of the harness data have shipped `ts` as
    * TIMESTAMP(NANOS) (which Spark's vectorized reader only admits as a
    * long, via `spark.sql.legacy.parquet.nanosAsLong`) and as plain
    * `timestamp[us]` (which Spark reads as TIMESTAMP_NTZ). Dispatch on
    * the OBSERVED column type so both vintages — and a re-generated
    * dataset mid-round — produce the identical downstream schema:
    *   - LongType (nanos-as-long): exact `div 1000` → µs timestamp.
    *     Lossless: no value in the data has sub-µs precision.
    *   - TIMESTAMP_NTZ: cast to TIMESTAMP. The session TZ is pinned to
    *     UTC everywhere (Verify/Bench/specs), so the cast is
    *     value-preserving, and DuckDB reads the same column as a naive
    *     µs TIMESTAMP with the same field values.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** See [[normalizeEventTs]] for the `ts` schema dance. The legacy
    * nanos-as-long conf is still flipped so a TIMESTAMP(NANOS) vintage of
    * the data remains readable at all (without it the scan throws).
    *
    * The conf stays set on the caller's session: it cannot be scoped
    * to this load. Spark reads it again when the scan's reader is
    * built (`ParquetFileFormat.buildReaderWithPartitionValues` →
    * `setupHadoopConf`, Spark 4.1.2), long after this call returns, so
    * restoring it here would break the returned frame's scan. A
    * [[load]] of another table before the session's first events load
    * therefore keys its [[schemaOf]] entry under the unset value and
    * infers once more after it.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
