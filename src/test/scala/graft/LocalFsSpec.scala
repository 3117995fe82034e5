package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.io.nativeio.NativeIO

import graft.sinks.{GraftLocalFileSystem, GraftLocalFs}

/** The engine's `file:` filesystem, tested directly: the same modes,
  * bytes and errors as Hadoop's `LocalFileSystem`, replacement instead of
  * truncation on overwrite, and no child process on the write paths.
  */
class LocalFsSpec extends SparkTestBase {

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def local(fs: LocalFileSystem, c: Configuration): LocalFileSystem = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def graftFs(c: Configuration = conf()) = local(new GraftLocalFileSystem, c)

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def write(fs: FileSystem, p: Path, text: String, overwrite: Boolean = true): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** The commands of the processes this JVM starts while `body` runs
    * (JFR `jdk.ProcessStart`).
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = tmpPath("jfr").resolve("starts.jfr")
    try rec.dump(dump) finally rec.close()
    RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
  }

  /** (relative path, mode, size) of every entry under `root`. */
  private def tree(root: java.nio.file.Path): Set[(String, String, Long)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root)
      .map(p => (root.relativize(p).toString, mode(p), if (Files.isDirectory(p)) 0L else Files.size(p)))
      .toSet
    finally walk.close()
  }

  test("files, .crc files and directories get the stock LocalFileSystem's modes") {
    for ((umask, fileMode, dirMode) <- Seq(("022", "rw-r--r--", "rwxr-xr-x"),
                                          ("077", "rw-------", "rwx------"))) {
      val trees = Seq(new GraftLocalFileSystem, new LocalFileSystem).map { fs0 =>
        val fs = local(fs0, conf(umask))
        val root = tmpPath("modes")
        val dir = new Path(root.toUri.toString, "a/b")
        assert(fs.mkdirs(dir))
        write(fs, new Path(dir, "f.txt"), "hello")
        write(fs, new Path(root.toUri.toString, "c/g.txt"), "world") // parents made by create
        tree(root)
      }
      assert(trees(0) === trees(1), s"umask $umask")
      val modes = trees(0).map(e => e._1 -> e._2).toMap
      assert(modes("a") === dirMode && modes("a/b") === dirMode && modes("c") === dirMode)
      assert(modes("a/b/f.txt") === fileMode && modes("a/b/.f.txt.crc") === fileMode)
    }
  }

  test("overwrite replaces the file: new inode, new bytes, a .crc that verifies") {
    val fs = graftFs()
    val p = new Path(tmpPath("overwrite").toUri.toString, "_SUCCESS")
    write(fs, p, "the first content, long enough to differ")
    val file = Paths.get(p.toUri)
    val before = Files.getAttribute(file, "unix:ino")
    // a reader opened before the overwrite keeps the old file (and its
    // inode number) alive; a truncating rewrite would cut it off
    val old = Files.newInputStream(file)
    try {
      write(fs, p, "second")
      assert(Files.getAttribute(file, "unix:ino") != before)
      assert(new String(old.readAllBytes(), UTF_8) === "the first content, long enough to differ")
    } finally old.close()
    assert(read(fs, p) === "second") // ChecksumFileSystem verifies the .crc on read
    assert(Files.exists(file.resolveSibling("._SUCCESS.crc")))
    assert(mode(file) === "rw-r--r--")
  }

  test("overwrite = false, a directory target and append behave as before") {
    val fs = graftFs()
    val root = tmpPath("errors").toUri.toString
    val p = new Path(root, "f")
    write(fs, p, "kept")
    intercept[FileAlreadyExistsException](write(fs, p, "lost", overwrite = false))
    intercept[FileAlreadyExistsException](write(fs.getRawFileSystem, p, "lost", overwrite = false))
    assert(read(fs, p) === "kept")
    val dir = new Path(root, "d")
    assert(fs.mkdirs(dir))
    intercept[java.io.IOException](write(fs.getRawFileSystem, dir, "x"))
    assert(Files.isDirectory(Paths.get(dir.toUri)))
    // append (the raw FS: ChecksumFileSystem does not append) stays in place
    val raw = fs.getRawFileSystem
    val q = new Path(root, "log")
    write(raw, q, "one,")
    val ino = Files.getAttribute(Paths.get(q.toUri), "unix:ino")
    val out = raw.append(q)
    try out.write("two".getBytes(UTF_8)) finally out.close()
    assert(read(raw, q) === "one,two")
    assert(Files.getAttribute(Paths.get(q.toUri), "unix:ino") == ino)
  }

  test("the session's parquet writes and FileContext renames start no process") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val out = tmpPath("noproc").resolve("t").toUri.toString
    assert(new Path(out).getFileSystem(hadoopConf).isInstanceOf[GraftLocalFileSystem],
      "the session must write through GraftSession.LocalFsConf's filesystem")
    val fc = FileContext.getFileContext(URI.create("file:///"), hadoopConf)
    assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    def createAndRename(fc: FileContext, dir: String): Unit = {
      val (a, b) = (new Path(dir, "a.tmp"), new Path(dir, "b"))
      for (text <- Seq("first", "second")) { // the second create and rename overwrite
        val o = fc.create(a, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try o.write(text.getBytes(UTF_8)) finally o.close()
        fc.rename(a, b, Options.Rename.OVERWRITE)
      }
    }
    val graftDir = tmpPath("fc").toUri.toString
    val starts = processStarts {
      spark.range(100).write.mode("overwrite").parquet(out)
      spark.range(100).write.mode("append").parquet(out)
      createAndRename(fc, graftDir)
    }
    assert(starts.isEmpty, s"processes started: ${starts.mkString("; ")}")
    assert(spark.read.parquet(out).count() == 200)
    val in = fc.open(new Path(graftDir, "b"))
    try assert(new String(in.readAllBytes(), UTF_8) === "second") finally in.close()
    // the counter sees the stock local filesystem's processes
    if (!NativeIO.isAvailable) {
      val stock = FileContext.getFileContext(URI.create("file:///"), new Configuration())
      val stockDir = tmpPath("fcstock").toUri.toString
      assert(processStarts(createAndRename(stock, stockDir)).nonEmpty)
      assert(tree(Paths.get(URI.create(stockDir))) === tree(Paths.get(URI.create(graftDir))))
    }
  }
}
