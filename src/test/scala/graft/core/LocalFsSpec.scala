package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.DocStore

/** [[LocalFs]] against Hadoop's stock local file system: the same
  * permission bits and link statuses on twin dirs, wired into every
  * session, and no child process started from `org.apache.hadoop.fs` on
  * the commit and checkpoint paths.
  */
class LocalFsSpec extends SparkTestBase {

  private def conf(umask: String) = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }
  private def stockFs(c: Configuration): FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(URI.create("file:///"), c); fs
  }
  private def graftFs(c: Configuration): FileSystem = {
    val fs = new LocalFs(); fs.initialize(URI.create("file:///"), c); fs
  }
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int]
  private def setMode(p: String, m: Int): Unit =
    Files.setAttribute(Paths.get(p), "unix:mode", Integer.valueOf(m))

  /** Runs `body` on a fresh dir per file system and returns what `probe`
    * reads from each: (stock, graft).
    */
  private def twins[A](umask: String)(body: (FileSystem, String) => Unit)
                      (probe: String => A): (A, A) = {
    def one(fs: FileSystem) = {
      val d = Files.createTempDirectory("graft-localfs").toString
      try { body(fs, d); probe(d) } finally fs.close()
    }
    val c = conf(umask)
    (one(stockFs(c)), one(graftFs(c)))
  }

  test("a system-property value for either key is kept; otherwise the graft class") {
    val graft = Map(LocalFs.FsKey -> classOf[LocalFs].getName,
      LocalFs.ContextKey -> classOf[LocalFs.Context].getName)
    assert(LocalFs.settings(_ => None) == graft)
    val counting = "graft.bench.CountingLocalFileSystem"
    assert(LocalFs.settings(Map(LocalFs.FsKey -> counting).get) ==
      graft.updated(LocalFs.FsKey, counting))
    assert(LocalFs.settings(Map(LocalFs.ContextKey -> "x.Afs").get) ==
      graft.updated(LocalFs.ContextKey, "x.Afs"))
  }

  test("sessions resolve the file scheme to the graft classes") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hc).getClass == classOf[LocalFs])
    assert(FileSystem.getLocal(hc).getClass == classOf[LocalFs])
    assert(FileContext.getLocalFSFileContext(hc).getDefaultFileSystem.getClass ==
      classOf[LocalFs.Context])
    assert(FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass == classOf[LocalFs.Context])
  }

  for (umask <- Seq("022", "077")) test(s"create and mkdirs leave the stock modes under umask $umask") {
    val (stock, graft) = twins(umask) { (fs, d) =>
      fs.create(new Path(s"$d/f")).close()
      fs.mkdirs(new Path(s"$d/a/b"))
    }(d => Seq("f", ".f.crc", "a", "a/b").map(n => n -> mode(s"$d/$n")))
    assert(stock == graft)
    val rwx = if (umask == "022") Seq(0x81a4, 0x81a4, 0x41ed, 0x41ed) // 0644 files, 0755 dirs
              else Seq(0x8180, 0x8180, 0x41c0, 0x41c0)                 // 0600, 0700
    assert(graft.map(_._2) == rwx)
  }

  test("setPermission matches stock for rwx modes, sticky dirs and setgid dirs") {
    val (stock, graft) = twins("022") { (fs, d) =>
      fs.create(new Path(s"$d/f")).close()
      Seq("d", "sticky", "setgid").foreach(n => fs.mkdirs(new Path(s"$d/$n")))
      setMode(s"$d/setgid", 0x5ed) // 02755
      fs.setPermission(new Path(s"$d/f"), new FsPermission(Integer.parseInt("640", 8).toShort))
      fs.setPermission(new Path(s"$d/d"), new FsPermission(Integer.parseInt("700", 8).toShort))
      fs.setPermission(new Path(s"$d/sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      fs.setPermission(new Path(s"$d/setgid"), new FsPermission(Integer.parseInt("750", 8).toShort))
    }(d => Seq("f", "d", "sticky", "setgid").map(n => n -> (mode(s"$d/$n") & 0xfff)))
    assert(stock == graft)
    assert(graft.map(_._2) == Seq(0x1a0, 0x1c0, 0x3ff, 0x5e8)) // 0640 0700 01777 02750
    val fs = graftFs(conf("022"))
    try {
      val missing = new Path(Files.createTempDirectory("graft-localfs").toString + "/none")
      assertThrows[java.io.FileNotFoundException](
        fs.setPermission(missing, FsPermission.getFileDefault))
    } finally fs.close()
  }

  test("getFileLinkStatus of a file, a dir and a symlink matches stock") {
    val d = Files.createTempDirectory("graft-localfs").toString
    Files.write(Paths.get(s"$d/f"), Array.fill[Byte](7)(1))
    Files.createDirectory(Paths.get(s"$d/dir"))
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/f"))
    val (stock, graft) = (stockFs(conf("022")), graftFs(conf("022")))
    def status(fs: FileSystem, n: String) =
      fs.asInstanceOf[LocalFileSystem].getRaw.getFileLinkStatus(new Path(s"$d/$n"))
    try {
      Seq("f", "dir", "link").foreach { n =>
        val (a, b) = (status(stock, n), status(graft, n))
        assert((a.isSymlink, a.isDirectory, a.getLen, a.getPath) ==
          (b.isSymlink, b.isDirectory, b.getLen, b.getPath), n)
        if (a.isSymlink) assert(a.getSymlink == b.getSymlink, n)
      }
      assert(Seq("f", "dir", "link").map(status(graft, _).isSymlink) == Seq(false, false, true))
      assert(status(graft, "link").getSymlink.toUri.getPath == s"$d/f")
      assert(status(graft, "f").getLen == 7)
      assertThrows[java.io.FileNotFoundException](status(graft, "none"))
    } finally { stock.close(); graft.close() }
  }

  test("a FileContext rename with OVERWRITE matches stock, checksums included") {
    def run(fc: FileContext): (Seq[String], String) = {
      val d = Files.createTempDirectory("graft-localfs").toString
      def write(n: String, s: String): Unit = {
        val out = fc.create(new Path(s"$d/$n"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE), Options.CreateOpts.createParent())
        out.write(s.getBytes("UTF-8")); out.close()
      }
      write("sub/src", "new contents")
      write("sub/dst", "old")
      fc.rename(new Path(s"$d/sub/src"), new Path(s"$d/sub/dst"), Options.Rename.OVERWRITE)
      val names = Files.list(Paths.get(s"$d/sub")).iterator.asScala
        .map(_.getFileName.toString).toSeq.sorted
      val in = fc.open(new Path(s"$d/sub/dst"))
      try (names, new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
    val c = conf("022")
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stockCtx = FileContext.getLocalFSFileContext(c)
    assert(stockCtx.getDefaultFileSystem.getClass == classOf[org.apache.hadoop.fs.local.LocalFs])
    val graftCtx = FileContext.getFileContext(new LocalFs.Context(URI.create("file:///"), c), c)
    val (stock, graft) = (run(stockCtx), run(graftCtx))
    assert(stock == graft)
    assert(graft == (Seq(".dst.crc", "dst"), "new contents"))
  }

  test("DocStore commits and a checkpointed micro-batch start no process from org.apache.hadoop.fs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-localfs-forks").toString
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      val store = s"$root/store"
      DocStore.insertMany((0L until 40L).map(i => (i, s"doc $i")).toDF("doc_id", "body"), store)
      DocStore.updateMany(spark, store, col("doc_id") < 10, Map("body" -> lit("edited")))
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Long]
      mem.addData(1L, 2L, 3L)
      val q = mem.toDF().writeStream.format("parquet")
        .option("checkpointLocation", s"$root/ckpt").start(s"$root/sink")
      try q.processAllAvailable() finally q.stop()
      assert(spark.read.parquet(s"$root/sink").count() == 3)
    } finally rec.stop()
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    rec.dump(dump); rec.close()
    val events = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
    Files.delete(dump)
    val fromFs = events.filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
      Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.fs"))))
    if (fromFs.nonEmpty) fail(s"${fromFs.size} child processes from org.apache.hadoop.fs, e.g. " +
      fromFs.take(3).map(_.getString("command")).mkString("; "))
  }
}
