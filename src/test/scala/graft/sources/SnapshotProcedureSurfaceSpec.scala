package graft.sources

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pins the catalog's CALL surface: the procedure names
  * `listProcedures` returns, each procedure's parameters (name, type,
  * SQL default) and the result schema of each procedure run once over
  * a tiny table, in one lifecycle.
  */
class SnapshotProcedureSurfaceSpec extends SparkSpec {

  private lazy val (root, cat) = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("proc_surface")
    val root = base.resolve("t")
    (1L to 60L).map(id => (id, s"t${id % 2}", s"d${id % 3}", id.toDouble))
      .toDF("id", "etype", "day", "v")
      .write.format("graft-snapshot")
      .option("keyCol", "id").option("partCol", "day")
      .mode("append").save(root.toString)
    val cat = "procsurface"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", base.toString)
    (root, cat)
  }

  private def catalog: GraftSnapshotCatalog =
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftSnapshotCatalog]

  private val S = StringType
  private val I = IntegerType

  /** name -> (parameter, type, SQL default) */
  private val params: Seq[(String, Seq[(String, DataType, Option[String])])] =
    Seq(
      "history" -> Seq(("table", S, None)),
      "vacuum" -> Seq(("table", S, None), ("keep_last", I, None),
        ("retain_seconds", I, Some("3600")),
        ("older_than_hours", DoubleType, Some("-1.0"))),
      "restore" -> Seq(("table", S, None), ("version", I, None)),
      "tag" -> Seq(("table", S, None), ("name", S, None),
        ("version", I, Some("-1"))),
      "drop_tag" -> Seq(("table", S, None), ("name", S, None)),
      "compact" -> Seq(("table", S, None), ("threshold", I, None),
        ("files_per_partition", I, Some("-1"))),
      "clone" -> Seq(("table", S, None), ("target", S, None),
        ("version", S, Some("'-1'"))),
      "branch" -> Seq(("table", S, None), ("name", S, None),
        ("version", S, Some("'-1'"))),
      "drop_branch" -> Seq(("table", S, None), ("name", S, None)),
      "fastforward" -> Seq(("table", S, None), ("name", S, None)),
      "refs" -> Seq(("table", S, None)),
      "zorder" -> Seq(("table", S, None), ("col_a", S, None),
        ("col_b", S, None), ("threshold", I, Some("2")),
        ("files_per_partition", I, Some("-1"))),
      "evolve_partitioning" -> Seq(("table", S, None),
        ("source_col", S, None)),
      "migrate_layout" -> Seq(("table", S, None),
        ("max_partitions", I, Some("100"))),
      "build_bloom" -> Seq(("table", S, None), ("column", S, None)))

  private def out(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  test("listProcedures returns exactly the 15 procedures") {
    assert(catalog.listProcedures(Array.empty).map(_.name()).toSeq ===
      params.map(_._1))
  }

  test("every procedure keeps its parameter names, types and defaults") {
    for ((name, expected) <- params) {
      val p = catalog.loadProcedure(Identifier.of(Array.empty, name))
      assert(p.name() === name)
      val bound = p.bind(new StructType())
      assert(!bound.isDeterministic, name)
      val got = bound.parameters().toSeq.map(q =>
        (q.name(), q.dataType(), Option(q.defaultValue()).map(_.getSql)))
      assert(got === expected, name)
    }
  }

  test("one lifecycle runs every procedure once; each keeps its result schema") {
    val t = s"$cat.t"
    val calls: Seq[(String, StructType)] = Seq(
      "tag('t', 'tg')" -> out("tag" -> S, "version" -> I),
      "refs('t')" -> out("name" -> S, "kind" -> S, "version" -> I)
        .add("forked_from", I, nullable = true),
      "history('t')" -> out("version" -> I,
        "committed_at" -> TimestampType, "n_partitions" -> I),
      "branch('t', 'dev')" -> out("forked_from" -> I, "n_partitions" -> I),
      "fastforward('t', 'dev')" -> out("version" -> I,
        "n_partitions" -> I, "files_linked" -> I),
      "drop_branch('t', 'dev')" -> out("existed" -> BooleanType),
      "drop_tag('t', 'tg')" -> out("existed" -> BooleanType),
      "clone('t', 'u')" -> out("cloned_version" -> I,
        "n_partitions" -> I, "n_files" -> I),
      "compact('t', 2)" -> out("compacted_partitions" -> I,
        "version" -> I, "files_before" -> I, "files_after" -> I),
      "zorder('t', 'id', 'v')" -> out("zordered_partitions" -> I,
        "version" -> I, "files_before" -> I, "files_after" -> I),
      "build_bloom('t', 'id')" -> out("version" -> I, "dirs_indexed" -> I),
      "evolve_partitioning('t', 'etype')" -> out("version" -> I,
        "spec_columns" -> I),
      "migrate_layout('t')" -> out("migrated_partitions" -> I,
        "version" -> I),
      "restore('t', 1)" -> out("restored_from" -> I,
        "new_version" -> I, "n_partitions" -> I),
      "vacuum('t', 1, 0)" -> out("removed_dirs" -> I, "head" -> I,
        "kept_from" -> I))
    assert(calls.map(_._1.takeWhile(_ != '(')).sorted ===
      params.map(_._1).sorted, "the lifecycle calls every procedure")
    for ((call, schema) <- calls) {
      val df = spark.sql(s"CALL $cat.$call")
      assert(df.schema === schema, call)
      assert(df.collect().length >= 1, call)
    }
    assert(SnapshotManifest.head(root) > 1)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) === 60L)
  }

  test("argument refusals keep their texts") {
    def refusal(call: String): String = intercept[Exception] {
      spark.sql(s"CALL $cat.$call").collect()
    }.getMessage
    for ((call, text) <- Seq(
        "vacuum('t', 0)" -> "keep_last must be >= 1 (the head must stay)",
        "clone('t', 'w', 'no_tag')" -> "unknown tag 'no_tag' — cannot clone it",
        "branch('t', 'b', 'no_tag')" ->
          "unknown tag 'no_tag' — cannot branch from it"))
      assert(refusal(call).contains(text), call)
  }
}
