package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare, and
  * status.json (`{entry: "ok" | {"error": msg}}`) so a failed entry is
  * recorded as failed rather than read as a missing dump. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args = subset of query names to dump (iteration aid)
    val wanted = if (args.length > 2) SparkEntry.queries.filter(q => args.drop(2).contains(q._1))
                 else SparkEntry.queries
    val spark = HarnessSession()
    new java.io.File(outDir).mkdirs()
    // a previous run's status must not vouch for this run's dumps
    Files.deleteIfExists(Paths.get(s"$outDir/status.json"))
    val status = wanted.toSeq.map { case (name, fn) =>
      val error =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
      // drop checkpoint/cache blocks between queries (see Bench)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      name -> error
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/status.json"), status.sortBy(_._1)
      .map { case (k, e) =>
        s"${q(k)}: ${e.fold(q("ok"))(m => s"{${q("error")}: ${q(m)}}")}"
      }.mkString("{", ",\n", "}"))
    spark.stop()
  }
}
