package graft.operators

import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** The shared bounded-stream runner and conf scope behind every
  * `streaming_*` entry: a throw while an entry builds its writer must
  * not leak the streaming partition count into later entries, a
  * leftover query of the same name is stopped before the new run
  * starts, and `withConfs` puts back exactly what it found.
  */
class BoundedStreamSpec extends SparkSpec {

  private val Shuffle = "spark.sql.shuffle.partitions"

  test("a writer that throws while it is built leaves the shuffle count as it was") {
    // a prior value the runner's derived count (2 at sf0.001) cannot equal
    SourceQueries.withConfs(spark, Shuffle -> "7") {
      val seen = new java.util.concurrent.atomic.AtomicReference[String]
      val err = intercept[IllegalStateException] {
        SourceQueries.runBounded(spark, sf0001, "events", "graft_spec_throw") {
          seen.set(spark.conf.get(Shuffle))
          throw new IllegalStateException("setup failed")
        }
      }
      assert(err.getMessage == "setup failed")
      assert(seen.get == "2", "the writer was not built in the streaming scope")
      assert(spark.conf.get(Shuffle) == "7")
    }
  }

  test("an active query with the same name is stopped before the new run") {
    val name = "graft_spec_rerun"
    val in = new java.io.File("target/graft-io/bounded_stream_spec/in")
    org.apache.commons.io.FileUtils.deleteQuietly(in)
    spark.range(10).write.parquet(in.getPath)
    val old = spark.readStream.format("rate").option("rowsPerSecond", "1")
      .load().writeStream.format("memory").queryName(name).start()
    try {
      assert(old.isActive)
      val q = SourceQueries.runBounded(spark, sf0001, "events", name) {
        spark.readStream.schema(spark.read.parquet(in.getPath).schema)
          .parquet(in.getPath)
          .writeStream.format("memory").outputMode(OutputMode.Append())
      }
      assert(!old.isActive, "the leftover query is still running")
      assert(q.name == name && !q.isActive && q.exception.isEmpty)
      assert(spark.table(name).count() == 10)
    } finally {
      old.stop()
      spark.streams.resetTerminated()
    }
  }

  test("withConfs restores a set key and unsets an absent one, on exit and on a throw") {
    val setKey = "graft.spec.withconfs.set"
    val absentKey = "graft.spec.withconfs.absent"
    spark.conf.set(setKey, "before")
    spark.conf.unset(absentKey)
    try {
      def check(): Unit = {
        assert(spark.conf.get(setKey) == "before")
        assert(spark.conf.getOption(absentKey).isEmpty)
        assert(!spark.conf.getAll.contains(absentKey))
      }
      val r = SourceQueries.withConfs(spark, setKey -> "inside",
          absentKey -> "inside") {
        assert(spark.conf.get(setKey) == "inside")
        assert(spark.conf.get(absentKey) == "inside")
        42
      }
      assert(r == 42)
      check()
      intercept[ArithmeticException] {
        SourceQueries.withConfs(spark, setKey -> "inside",
            absentKey -> "inside") {
          assert(spark.conf.get(absentKey) == "inside")
          throw new ArithmeticException("body failed")
        }
      }
      check()
    } finally spark.conf.unset(setKey)
  }
}
