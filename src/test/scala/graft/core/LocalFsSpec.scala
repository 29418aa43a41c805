package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.SparkSpec
import graft.plans.GraftExtensions

/** The engine's `file:` filesystem ([[LocalFs]]): it starts no child
  * process for a create, mkdirs or rename through either Hadoop door,
  * it leaves the same mode bits and link statuses as Hadoop's own, and
  * `GraftExtensions.register` installs it without overriding a conf
  * that names another.
  */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")
  private val FsKey = "fs.file.impl"
  private val ContextKey = "fs.AbstractFileSystem.file.impl"

  /** The commands of the child processes this thread starts in `body`
    * (JFR's `jdk.ProcessStart`; other threads' children are not counted). */
  private def childProcesses(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    val me = Thread.currentThread.getId
    val out = Files.createTempFile("graft_procs", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          e.getThread != null && e.getThread.getJavaThreadId == me)
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  /** `body` over a new temp dir, deleted afterwards. */
  private def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally {
      val st = Files.walk(dir)
      try st.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally st.close()
    }
  }

  /** A nested mkdirs, a checksummed create and a rename under a new dir. */
  private def fileCycle(fs: FileSystem): Unit = withTempDir("graft_fs_cycle") { tmp =>
    val dir = new Path(tmp.toString)
    assert(fs.mkdirs(new Path(dir, "a/b")))
    val out = fs.create(new Path(dir, "a/b/part-0"))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    assert(fs.rename(new Path(dir, "a/b/part-0"), new Path(dir, "a/b/part-1")))
    assert(fs.exists(new Path(dir, "a/b/part-1")))
  }

  private def engineConf(): Configuration = {
    val conf = new Configuration()
    LocalFs.install(conf)
    conf
  }

  /** The children Hadoop's own local filesystem starts for [[fileCycle]];
    * none means this JVM has libhadoop, and the probes have nothing to show. */
  private lazy val stockChildren: Seq[String] = {
    val stock = new LocalFileSystem()
    stock.initialize(root, new Configuration())
    try childProcesses(fileCycle(stock)) finally stock.close()
  }

  test("the FileSystem door starts no child process for create, mkdirs and rename") {
    assume(stockChildren.nonEmpty, "Hadoop's local filesystem started no child process")
    val fs = FileSystem.newInstance(root, engineConf())
    try {
      assert(fs.getClass === classOf[LocalFs.Checksummed])
      val children = childProcesses(fileCycle(fs))
      assert(children.isEmpty, children.mkString("children:\n", "\n", ""))
    } finally fs.close()
  }

  test("the FileContext door commits a checkpoint file without a child process") {
    assume(stockChildren.nonEmpty, "Hadoop's local filesystem started no child process")
    withTempDir("graft_ckpt") { dir =>
      // the shape of a streaming offset or commit log entry
      val children = childProcesses {
        val offsets = new Path(dir.resolve("offsets").toString)
        val fm = CheckpointFileManager.create(offsets, engineConf())
        fm.mkdirs(offsets)
        val out = fm.createAtomic(new Path(offsets, "0"), overwriteIfPossible = false)
        out.write("v1\n".getBytes("UTF-8"))
        out.close()
      }
      assert(children.isEmpty, children.mkString("children:\n", "\n", ""))
      assert(new String(Files.readAllBytes(dir.resolve("offsets/0")), "UTF-8") === "v1\n")
    }
  }

  /** Hadoop's raw local filesystem and the engine's, each over `conf`. */
  private def rawPair(conf: Configuration): Seq[RawLocalFileSystem] =
    Seq(new RawLocalFileSystem, new LocalFs.Raw).map { fs => fs.initialize(root, conf); fs }

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))

  test("the engine's raw filesystem leaves the mode bits Hadoop's does") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val modes = rawPair(conf).map { fs =>
        withTempDir("graft_modes") { tmp =>
          val dir = new Path(tmp.toString)
          assert(fs.mkdirs(new Path(dir, "a/b")))
          fs.create(new Path(dir, "a/b/f")).close()
          fs.create(new Path(dir, "g")).close()
          fs.setPermission(new Path(dir, "g"), new FsPermission("640"))
          Seq("a", "a/b", "a/b/f", "g").map(s => s -> mode(new Path(dir, s)))
        }
      }
      assert(modes(1) === modes(0), s"umask $umask")
      assert(modes(0).last === ("g" -> "rw-r-----"))
    }
  }

  test("the engine's raw filesystem gives the link statuses Hadoop's does") {
    def shape(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.getLen,
      s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None)
    withTempDir("graft_links") { dir =>
      Files.write(dir.resolve("file"), Array[Byte](1, 2))
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
      val Seq(stock, mine) = rawPair(new Configuration())
      for (name <- Seq("file", "dir", "link")) {
        val p = new Path(dir.resolve(name).toString)
        assert(shape(mine.getFileLinkStatus(p)) === shape(stock.getFileLinkStatus(p)), name)
      }
      val link = mine.getFileLinkStatus(new Path(dir.resolve("link").toString))
      assert(link.isSymlink)
      assert(link.getSymlink.toUri.getPath === dir.resolve("file").toString)
      for (fs <- Seq(stock, mine))
        intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
    }
  }

  test("register installs both doors in the session's Hadoop conf") {
    GraftExtensions.register(spark)
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.newInstance(root, conf)
    try assert(fs.getClass === classOf[LocalFs.Checksummed]) finally fs.close()
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ===
      classOf[LocalFs.Context])
  }

  test("install keeps a filesystem the conf already names") {
    val conf = new Configuration()
    conf.set(FsKey, classOf[LocalFileSystem].getName)
    LocalFs.install(conf)
    assert(conf.get(FsKey) === classOf[LocalFileSystem].getName)
    assert(conf.get(ContextKey) === classOf[LocalFs.Context].getName)
  }

  test("a second register changes nothing in the Hadoop conf") {
    val hc = spark.sparkContext.hadoopConfiguration
    def snapshot() = (hc.iterator.asScala.map(e => e.getKey -> e.getValue).toMap,
      Seq(FsKey, ContextKey).map(k => Option(hc.getPropertySources(k)).map(_.toSeq)))
    GraftExtensions.register(spark)
    val once = snapshot()
    GraftExtensions.register(spark)
    assert(snapshot() === once)
  }
}
