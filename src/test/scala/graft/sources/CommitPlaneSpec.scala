package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotTxn.{commit, MaxAttempts,
  SnapshotConflictException}

/** Pins the store's one commit loop, [[SnapshotTxn.commit]], driven
  * directly: each test's racer publishes the version an attempt aims at
  * between the attempt's head read and its link, the window a real
  * concurrent committer wins in.
  *
  *  1. a losing attempt's scratch dirs are deleted;
  *  2. a failure after a won link leaves them in place (they may be
  *     published state);
  *  3. the [[MaxAttempts]]th conflict reaches the caller;
  *  4. a retry rebases on the new head, so the racer's commit survives.
  */
class CommitPlaneSpec extends AnyFunSuite {

  /** A store at v1 holding one partition. */
  private def store(): Path = {
    val root = Files.createTempDirectory("commit_plane")
    SnapshotTxn.writeManifest(root, 1, Map("p0" -> root.resolve("d0").toString))
    root
  }

  /** Publish `version` as another committer would: the parent's entries
    * plus one partition of its own. */
  private def race(root: Path, version: Int): Unit =
    SnapshotTxn.writeManifest(root, version,
      SnapshotManifest.read(root, version - 1) +
        (s"racer$version" -> root.resolve(s"r$version").toString))

  /** An attempt's scratch dir with one data file in it. */
  private def written(a: SnapshotTxn.Attempt): Path = {
    val d = a.scratch()
    Files.createDirectories(d)
    Files.writeString(d.resolve("part-0.parquet"), "rows")
    d
  }

  test("a losing attempt's scratch dirs are deleted; the winner's stay") {
    val root = store()
    val dirs = Seq.newBuilder[Path]
    commit(root) { a =>
      val d = written(a)
      dirs += d
      if (a.head == 1) race(root, a.version)
      a.publish(SnapshotManifest.read(root, a.head) + ("p1" -> d.toString))
    }
    val Seq(lost, won) = dirs.result()
    assert(!Files.exists(lost), s"loser's scratch dir survived: $lost")
    assert(Files.exists(won.resolve("part-0.parquet")))
    assert(SnapshotManifest.head(root) === 3)
    assert(SnapshotManifest.read(root, 3)("p1") === won.toString)
  }

  test("a failure after a won link leaves the scratch dirs in place") {
    val root = store()
    var dir: Option[Path] = None
    val e = intercept[IllegalStateException] {
      commit(root) { a =>
        val d = written(a)
        dir = Some(d)
        a.publish(SnapshotManifest.read(root, a.head) + ("p1" -> d.toString))
        throw new IllegalStateException("post-publish step failed")
      }
    }
    assert(e.getMessage === "post-publish step failed")
    assert(SnapshotManifest.head(root) === 2)
    assert(Files.exists(dir.get.resolve("part-0.parquet")),
      "a published attempt's data dir was deleted")
  }

  test(s"the ${MaxAttempts}th conflict reaches the caller") {
    val root = store()
    val dirs = Seq.newBuilder[Path]
    intercept[SnapshotConflictException] {
      commit(root) { a =>
        dirs += written(a)
        race(root, a.version)
        a.publish(SnapshotManifest.read(root, a.head))
      }
    }
    assert(dirs.result().length === MaxAttempts)
    assert(MaxAttempts === 5)
    dirs.result().foreach(d => assert(!Files.exists(d), s"$d survived"))
    assert(SnapshotManifest.head(root) === 1 + MaxAttempts)
  }

  test("a retry rebases on the new head") {
    val root = store()
    val heads = Seq.newBuilder[Int]
    val v = commit(root) { a =>
      heads += a.head
      val parent = SnapshotManifest.read(root, a.head)
      if (a.head == 1) race(root, a.version)
      a.publish(parent + ("mine" -> root.resolve("m").toString))
      a.version
    }
    assert(heads.result() === Seq(1, 2))
    assert(v === 3)
    assert(SnapshotManifest.read(root, 3).keySet ===
      Set("p0", "racer2", "mine"), "the retry dropped the racer's commit")
  }

  test("a pinned commit does not rebase") {
    val root = store()
    race(root, 2)
    var ran = false
    intercept[SnapshotConflictException] {
      commit(root, base = Some(1)) { _ => ran = true }
    }
    assert(!ran, "a pinned attempt ran against a moved head")
  }
}
