package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Layering guard: the snapshot store's engine and its doors live in
  * `graft.sources`, and nothing there may reach back into
  * `graft.operators` (the catalog entries and fixtures that USE the
  * store) — not in code, and not in a doc link, which would point a
  * reader at the wrong home. In `graft.operators`, every bounded
  * stream runs through `SourceQueries.runBounded`, and
  * `SourceQueries` saves no session conf by hand (`withConfs` does).
  * Every table commit publishes through `SnapshotTxn.commit`: no main
  * file swaps a dir by rename outside the `MrOutSource` committer,
  * and only `Attempt.publish` writes a manifest, which publishes the
  * stats sidecar (and a bootstrap's `table.meta`) with it. Parquet schemas are inferred only in `Tables.schemaOf`,
  * behind its cache. Every store write goes through a writer that folds
  * its files' entries (`SnapshotTxn.writeLeaves` or the v2 task
  * writer), and row counts come from those entries, never from a
  * footer `SnapshotTxn` re-opens. Every CALL procedure is one entry of
  * `SnapshotProcedure.registry`. The store has one read plane: no
  * `HadoopFsRelation`, one file index, and no read-side parquet format.
  */
class LayeringSpec extends AnyFunSuite {
  test("no file under graft/sources names graft.operators") {
    val dir = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(dir), s"run from the repo root: no $dir")
    val hits = Files.list(dir).iterator.asScala.toSeq.sorted
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("graft.operators") =>
            s"${f.getFileName}:${i + 1}: ${l.trim}"
        }
      }
    assert(hits.isEmpty, hits.mkString("sources -> operators:\n", "\n", ""))
  }

  test("graft/operators runs every bounded stream through one runner") {
    val dir = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(dir), s"run from the repo root: no $dir")
    val lines = Files.list(dir).iterator.asScala.toSeq.sorted
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) =>
          s"${f.getFileName}:${i + 1}: ${l.trim}"
        }
      }
    // the lifecycle steps SourceQueries.runBounded owns: a second line
    // naming one of them is a hand-written lifecycle
    for (step <- Seq("Trigger.AvailableNow", ".awaitTermination(",
        ".streams.active")) {
      val hits = lines.filter(_.contains(step))
      assert(hits.size == 1, hits.mkString(s"$step on ${hits.size} lines:\n", "\n", ""))
    }
    val src = new String(Files.readAllBytes(dir.resolve("SourceQueries.scala")))
    val saves = "val\\s+prev\\w*\\s*=\\s*\\w+\\.conf\\.get".r.findAllIn(src).toSeq
    assert(saves.isEmpty,
      saves.mkString("hand-written conf save (use withConfs):\n", "\n", ""))
    val catalogs = src.linesIterator.count(_.contains("spark.sql.catalog."))
    assert(catalogs == 1, s"spark.sql.catalog. on $catalogs lines, not only in snapshotCatalog")
  }

  /** Every line under `src/main/scala` as (file, enclosing member of
    * the top-level object, line). */
  private lazy val mainLines: Seq[(String, String, String)] = {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repo root: no $main")
    val st = Files.walk(main)
    val files = try st.iterator.asScala.toSeq.sorted
      .filter(_.toString.endsWith(".scala")) finally st.close()
    val member = "^  (?:private\\[\\w+\\] )?(?:final )?(?:def|class) (\\w+)".r
    files.flatMap { f =>
      var owner = ""
      Files.readAllLines(f).asScala.toSeq.map { l =>
        member.findFirstMatchIn(l).foreach(m => owner = m.group(1))
        (main.relativize(f).toString, owner, l)
      }
    }
  }

  test("every table commit publishes through one commit plane") {
    val lines = mainLines
    val renames = lines.filter(r => r._3.contains(".rename(") &&
      r._1 != "graft/sources/MrOutSource.scala")
    assert(renames.isEmpty, renames.map(r => s"${r._1}: ${r._3.trim}")
      .mkString("dir swap by rename outside MrOutSource:\n", "\n", ""))
    // the definition and Attempt.publish
    val publishes = lines.filter(_._3.contains("writeManifest("))
      .map(r => s"${r._1}:${r._2}")
    assert(publishes.sorted === Seq("Attempt", "writeManifest")
        .map(o => s"graft/sources/SnapshotTxn.scala:$o"))
  }

  test("every version publishes whole: no writer skips its sidecar") {
    def hits(p: ((String, String, String)) => Boolean) =
      mainLines.filter(p).map(r => s"${r._1}: ${r._3.trim}")
    val skips = hits(r => r._3.contains("fresh = None") ||
      r._3.contains("SnapshotFiles.exists"))
    assert(skips.isEmpty,
      skips.mkString("a version without its sidecar:\n", "\n", ""))
    // a plain write laid out by a store mirror column (`<col>_p`) is a
    // store write that bypasses writeLeaves and its stats fold
    val mirrorWrite = "\\.partitionBy\\(\\s*\"[^\"]*_p\"".r
    val plain = hits(r => r._1 != "graft/sources/SnapshotTxn.scala" &&
      mirrorWrite.findFirstIn(r._3).nonEmpty)
    assert(plain.isEmpty, plain.mkString(
      "store layout written outside SnapshotTxn (use snapshotInit):\n", "\n", ""))
  }

  test("every parquet schema inference goes through the schema cache") {
    // `read.parquet(<path>).schema`, also split over lines, with one
    // level of nested parens in the path expression
    val inference =
      "read\\s*\\.\\s*parquet\\s*\\((?:[^()]|\\([^()]*\\))*\\)\\s*\\.\\s*schema\\b".r
    val sites = mainLines.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (f, ls) =>
      val text = ls.map(_._3).mkString("\n")
      inference.findAllMatchIn(text).map { m =>
        val i = text.substring(0, m.start).count(_ == '\n')
        (s"$f:${ls(i)._2}", s"$f:${i + 1}: ${ls(i)._3.trim}")
      }
    }
    assert(sites.map(_._1) === Seq("graft/core/Tables.scala:schemaOf"),
      sites.map(_._2).mkString("parquet schema inferred outside Tables.schemaOf:\n", "\n", ""))
  }

  test("every store write folds its entries, and no commit re-reads a footer") {
    def hits(p: ((String, String, String)) => Boolean) =
      mainLines.filter(p).map(r => s"${r._1}: ${r._3.trim}")
    val reopens = hits(r => r._1 == "graft/sources/SnapshotTxn.scala" &&
      r._3.contains("ParquetFileReader"))
    assert(reopens.isEmpty, reopens.mkString("footer read in SnapshotTxn:\n", "\n", ""))
    val plain = hits(r => r._1.startsWith("graft/sources/") &&
      r._3.contains(".write.partitionBy("))
    assert(plain.isEmpty,
      plain.mkString("store write without a fold (use writeLeaves):\n", "\n", ""))
    val switches = hits(_._3.contains("foldStats"))
    assert(switches.isEmpty, switches.mkString("fold switch:\n", "\n", ""))
  }

  test("every CALL procedure is an entry of one registry") {
    // a second implementation of the connector's procedure interfaces
    // is a hand-written procedure beside SnapshotProcedure.registry
    for (iface <- Seq("UnboundProcedure", "BoundProcedure")) {
      val impl = s"\\b(?:extends|with)\\s+(?:[\\w.]+\\.)?$iface\\b".r
      val sites = mainLines.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
        case (f, ls) => impl.findAllMatchIn(ls.map(_._3).mkString("\n"))
          .map(_ => f)
      }
      assert(sites === Seq("graft/sources/SnapshotCatalog.scala"),
        s"$iface implemented in: ${sites.mkString(", ")}")
    }
  }

  test("the store reads through one plane: the SQL door's DSv2 tables") {
    val sources = mainLines.filter(_._1.startsWith("graft/sources/"))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (f, ls) => f -> ls.map(_._3).mkString("\n") }
    def classesExtending(parent: String): Seq[String] = {
      val decl = ("class\\s+(\\w+)[^{}]*?\\b(?:extends|with)\\s+" +
        s"(?:[\\w.]+\\.)?$parent\\b").r
      sources.flatMap { case (_, text) =>
        decl.findAllMatchIn(text).map(_.group(1)) }.sorted
    }
    val relations = sources.flatMap { case (f, text) =>
      "\\bHadoopFsRelation\\b".r.findAllMatchIn(text).map(_ => f) }
    assert(relations.isEmpty,
      relations.mkString("HadoopFsRelation in graft/sources:\n", "\n", ""))
    assert(classesExtending("\\w*FileIndex") === Seq("SnapshotPartitioningIndex"))
    // the write side's per-file stats fold is the one parquet format
    assert(classesExtending("ParquetFileFormat") === Seq("StatsParquetFormat"))
  }
}
