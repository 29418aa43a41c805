package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.GraftExtensions

/** SQL surface: registers every harness table as a temp view (plus the
  * native graft functions) so the whole engine is drivable from
  * `spark.sql(...)` — the user-facing equivalent of the reference's
  * "submit a job over named inputs" entry point, with ANSI SQL instead
  * of Go plugins.
  */
object Catalog {

  /** Register all `/root/testdata`-style parquet tables of `dir` as temp
    * views named after the table, and the graft native functions.
    */
  def register(spark: SparkSession, dir: String): Unit = {
    GraftExtensions.register(spark)
    // events goes through its typed loader (the ts-vintage normalization,
    // normalizeEventTs), and first: that loader sets nanosAsLong, which
    // keys every cached schema (Tables.schemaOf), so the other tables get
    // the same keys on the first call as on every later one
    Tables.events(spark, dir).createOrReplaceTempView("events")
    Tables.all.filterNot(_ == "events").foreach { name =>
      Tables.load(spark, dir, name).createOrReplaceTempView(name)
    }
  }

  /** Convenience: register + run one SQL statement. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    spark.sql(query)
  }
}
