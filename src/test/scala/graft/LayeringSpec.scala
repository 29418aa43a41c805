package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Layering guard: the snapshot store's engine and its doors live in
  * `graft.sources`, and nothing there may reach back into
  * `graft.operators` (the catalog entries and fixtures that USE the
  * store) — not in code, and not in a doc link, which would point a
  * reader at the wrong home.
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
}
