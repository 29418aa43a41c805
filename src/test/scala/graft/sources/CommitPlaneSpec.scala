package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.SnapshotTxn.{commit, writeLeaves, MaxAttempts,
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
  *  4. a retry rebases on the new head, so the racer's commit survives;
  *  5. publishing a commit's stats sidecar starts no Spark job (the
  *     entries were folded by the write tasks);
  *  6. a losing attempt's folded entries reach no sidecar;
  *  7. a lost link or a throw before it leaves the head and its
  *     sidecar as they were, and nothing but unreferenced scratch,
  *     which vacuum reclaims.
  */
class CommitPlaneSpec extends SparkSpec {

  /** A store at v1 holding one partition. */
  private def store(): Path = {
    val root = Files.createTempDirectory("commit_plane")
    commit(root)(_.publish(Map("p0" -> root.resolve("d0").toString)))
    root
  }

  /** Publish `version` as another committer would: the parent's entries
    * plus one partition of its own. */
  private def race(root: Path, version: Int): Unit =
    commit(root, Some(version - 1))(r => r.publish(
      SnapshotManifest.read(root, version - 1) +
        (s"racer$version" -> root.resolve(s"r$version").toString)))

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

  /** Write `ids` under `a`'s scratch dir, laid out by `p = id % 2`. */
  private def writeRows(a: SnapshotTxn.Attempt, ids: Seq[Long])
      : (Seq[(String, String)], Seq[SnapshotFiles.FileEntry]) = {
    import spark.implicits._
    val df = ids.toDF("id").select(col("id"),
      (col("id") % 2).cast("string").as("p"), (col("id") * 1.5).as("v"))
    writeLeaves(spark, df, Seq("p"), a.scratch().toString)
  }

  test("publishing a profiled commit starts no Spark job") {
    val root = Files.createTempDirectory("commit_plane_jobs")
    commit(root) { a =>
      val (leaves, files) = writeRows(a, 1L to 20L)
      a.publish(leaves.toMap, fresh = files)
    }
    // v2 rewrites partition "1" and carries "0" from v1's sidecar
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    commit(root) { a =>
      val (leaves, files) = writeRows(a, Seq(21L, 23L))
      org.apache.spark.GraftListenerDrain.drain(sc)
      sc.addSparkListener(listener)
      try {
        a.publish(SnapshotManifest.read(root, a.head) ++ leaves,
          fresh = files)
        org.apache.spark.GraftListenerDrain.drain(sc)
      } finally sc.removeSparkListener(listener)
    }
    assert(jobs.get === 0, "publish must not re-read what the commit wrote")
    val sidecar = SnapshotFiles.read(root, 2)
    assert(sidecar.keySet === Set("0", "1"))
    assert(sidecar("0") === SnapshotFiles.read(root, 1)("0"),
      "the untouched partition's entries carry verbatim")
    assert(sidecar("1").map(_.rows).sum === 2L)
  }

  test("a losing attempt's folded entries reach no sidecar") {
    val root = Files.createTempDirectory("commit_plane_fold")
    commit(root) { a =>
      val (leaves, files) = writeRows(a, 1L to 10L)
      a.publish(leaves.toMap, fresh = files)
    }
    val scratch = Seq.newBuilder[Path]
    commit(root) { a =>
      val (leaves, files) = writeRows(a, Seq(11L))
      scratch += Path.of(leaves.head._2).getParent
      if (a.head == 1) commit(root) { r => // the racer wins v2
        val (rl, rf) = writeRows(r, Seq(13L))
        r.publish(SnapshotManifest.read(root, r.head) ++ rl,
          fresh = rf)
      }
      a.publish(SnapshotManifest.read(root, a.head) ++ leaves,
        fresh = files)
    }
    val Seq(lost, won) = scratch.result()
    assert(!Files.exists(lost), s"loser's scratch dir survived: $lost")
    assert(SnapshotManifest.head(root) === 3)
    for (v <- 1 to 3) {
      val entries = SnapshotFiles.read(root, v).values.flatten.toSeq
      entries.foreach { e =>
        assert(!e.path.startsWith(lost.toString),
          s"v$v sidecar names the loser's file ${e.path}")
        assert(Files.exists(Path.of(e.path)), s"v$v: ${e.path} is gone")
      }
      // the sidecar names exactly the files the manifest's dirs hold
      val listed = SnapshotManifest.read(root, v).values.flatMap(d =>
        SnapshotFiles.listDataFiles(
          spark.sparkContext.hadoopConfiguration, d)
          .map(_.getPath.toUri.getPath)).toSet
      assert(entries.map(_.path).toSet === listed, s"v$v")
    }
    val v3 = SnapshotFiles.read(root, 3)
    assert(v3("1").map(_.path).forall(_.startsWith(won.toString)))
    assert(v3("0") === SnapshotFiles.read(root, 1)("0"),
      "partition 0 carries from v1 through the racer's v2")
    assert(v3.values.flatten.map(_.rows).sum === 6L)
  }

  /** Every visible regular file under `root` that no manifest
    * references: a live file is a manifest, the sidecar one names,
    * `table.meta`, or a data file some version's sidecar lists.
    */
  private def unreferenced(root: Path): Seq[Path] = {
    val versions = SnapshotManifest.versionsWithMtime(root).map(_._1)
    val mdir = root.resolve("manifests")
    val live = (versions.flatMap { v =>
      Seq(mdir.resolve(s"v$v.manifest"),
        mdir.resolve(SnapshotFiles.named(
          SnapshotManifest.headerLines(root, v)).get)) ++
        SnapshotFiles.read(root, v).values.flatten.map(e => Path.of(e.path))
    } :+ root.resolve("table.meta")).map(_.toAbsolutePath.normalize).toSet
    val st = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator.asScala.filter(Files.isRegularFile(_))
        .map(_.toAbsolutePath.normalize).filterNot(live).toSeq
        // the data-file rule's hidden names: checksums, `_SUCCESS`
        .filterNot(p => p.getFileName.toString.startsWith(".") ||
          p.getFileName.toString.startsWith("_"))
    } finally st.close()
  }

  /** A two-partition store at v1 written through the commit plane. */
  private def dataStore(name: String): Path = {
    val root = Files.createTempDirectory(name)
    commit(root) { a =>
      val (leaves, files) = writeRows(a, 1L to 10L)
      a.publish(leaves.toMap, fresh = files)
    }
    root
  }

  test("a lost link leaves the winner's head and sidecar, and no loser file") {
    val root = dataStore("commit_plane_lost")
    var scratch: Option[Path] = None
    intercept[SnapshotConflictException] {
      commit(root, Some(1)) { a =>
        val (leaves, files) = writeRows(a, Seq(11L, 12L))
        scratch = Some(Path.of(leaves.head._2).getParent)
        commit(root) { r => // the racer wins v2 first
          val (rl, rf) = writeRows(r, Seq(13L))
          r.publish(SnapshotManifest.read(root, r.head) ++ rl, fresh = rf)
        }
        a.publish(SnapshotManifest.read(root, a.head) ++ leaves,
          fresh = files)
      }
    }
    assert(SnapshotManifest.head(root) === 2)
    val headSidecar = SnapshotFiles.read(root, 2)
    // v1's even ids 2..10 carried, the racer's one row under "1"
    assert(headSidecar.values.flatten.map(_.rows).sum === 6L,
      "the head's sidecar is the racer's")
    assert(!Files.exists(scratch.get), "the loser's scratch dir survived")
    val sidecars = Files.list(root.resolve("manifests")).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".files"))
    assert(sidecars.size === 2, s"a loser's sidecar was left: $sidecars")
    assert(unreferenced(root).isEmpty, unreferenced(root).mkString(", "))
    SnapshotTxn.snapshotVacuum(root, keep = Set(1, 2))
    assert(unreferenced(root).isEmpty, unreferenced(root).mkString(", "))
    assert(SnapshotFiles.read(root, 2) === headSidecar)
  }

  test("a throw before the link leaves the head; vacuum reclaims the rest") {
    val root = dataStore("commit_plane_throw")
    val before = SnapshotFiles.read(root, 1)
    val e = intercept[IllegalStateException] {
      commit(root) { a =>
        writeRows(a, Seq(11L, 12L))
        throw new IllegalStateException("failed before publish")
      }
    }
    assert(e.getMessage === "failed before publish")
    assert(SnapshotManifest.head(root) === 1)
    assert(SnapshotFiles.read(root, 1) === before)
    assert(unreferenced(root).nonEmpty, "the failed attempt wrote no scratch")
    SnapshotTxn.snapshotVacuum(root, keep = Set(1))
    assert(unreferenced(root).isEmpty, unreferenced(root).mkString(", "))
    assert(SnapshotFiles.read(root, 1) === before)
  }
}
