package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem, LocalFs}
import graft.streaming.OrderWideJob

/** The session's `file:` filesystem: resolved on both Hadoop APIs, same
  * modes and link status as stock Hadoop, no process started on the
  * streaming write path; and the shared recursive delete.
  */
class LocalFsSpec extends SparkSpecBase {

  private def hadoopConf: Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session resolves file: to the graft classes through FileSystem and FileContext") {
    val conf = hadoopConf
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[GraftRawLocalFileSystem])
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[GraftLocalFs])
    // the checkpoint manager's create/rename keeps its .crc sidecar
    val dir = Files.createTempDirectory("lfs_fc")
    val tmp = new Path(s"file://$dir/.1.tmp")
    val out = fc.create(tmp, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write(Array[Byte](1, 2, 3)); out.close()
    fc.rename(tmp, new Path(s"file://$dir/1"), org.apache.hadoop.fs.Options.Rename.NONE)
    assert(Files.readAllBytes(dir.resolve("1")).toSeq == Seq[Byte](1, 2, 3))
    assert(Files.exists(dir.resolve(".1.crc")) && !Files.exists(dir.resolve("..1.tmp.crc")))
  }

  test("created files and directories get stock modes under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      def conf(fsImpl: Class[_], afsImpl: String) = {
        val c = new Configuration()
        c.set("fs.permissions.umask-mode", umask)
        c.set("fs.file.impl", fsImpl.getName)
        c.set("fs.AbstractFileSystem.file.impl", afsImpl)
        c.setBoolean("fs.file.impl.disable.cache", true)
        c
      }
      // file, its .crc, a nested dir through FileSystem; file + dir through FileContext
      def layout(c: Configuration): Map[String, String] = {
        val root = Files.createTempDirectory(s"lfs_mode_$umask")
        val fs = FileSystem.get(new URI("file:///"), c)
        fs.create(new Path(s"file://$root/a/b/f")).close()
        fs.mkdirs(new Path(s"file://$root/d/e"))
        val fc = FileContext.getFileContext(new URI("file:///"), c)
        fc.create(new Path(s"file://$root/c/g"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
          org.apache.hadoop.fs.Options.CreateOpts.createParent()).close()
        fc.mkdir(new Path(s"file://$root/h/i"), FsPermission.getDirDefault, true)
        fs.close()
        Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "d", "d/e", "c", "c/g", "c/.g.crc", "h", "h/i")
          .map(rel => rel -> mode(root.resolve(rel))).toMap
      }
      val stock = layout(conf(classOf[LocalFileSystem], "org.apache.hadoop.fs.local.LocalFs"))
      val graft = layout(conf(classOf[GraftLocalFileSystem], classOf[GraftLocalFs].getName))
      assert(graft == stock, s"umask $umask")
      assert(stock("a/b/f") == (if (umask == "022") "rw-r--r--" else "rw-------"), s"umask $umask")
    }
  }

  test("getFileLinkStatus equals stock for a file, a directory, a symlink and a dangling symlink") {
    val root = Files.createTempDirectory("lfs_link")
    Files.write(root.resolve("f"), Array[Byte](7, 7))
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("l"), root.resolve("f"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    val conf = new Configuration()
    val stock = new RawLocalFileSystem(); stock.initialize(new URI("file:///"), conf)
    val graft = new GraftRawLocalFileSystem(); graft.initialize(new URI("file:///"), conf)
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getModificationTime, s.getPermission,
      s.getOwner, s.getGroup)
    // the outcome, a thrown exception's class included
    def linkStatus(fs: RawLocalFileSystem, name: String) =
      scala.util.Try(fields(fs.getFileLinkStatus(new Path(s"file://$root/$name"))))
        .toEither.left.map(_.getClass)
    for (name <- Seq("f", "d", "l", "dangling"))
      assert(linkStatus(graft, name) == linkStatus(stock, name), name)
    assert(linkStatus(stock, "missing") == Left(classOf[FileNotFoundException]))
    assert(linkStatus(graft, "missing") == Left(classOf[FileNotFoundException]))
  }

  test("rmTree removes the tree and a symlink in it, never the link's outside target") {
    val outside = Files.createTempDirectory("lfs_outside")
    Files.write(outside.resolve("keep"), Array[Byte](1))
    val tree = Files.createTempDirectory("lfs_tree")
    Files.createDirectories(tree.resolve("a/b"))
    Files.write(tree.resolve("a/b/f"), Array[Byte](2))
    Files.createSymbolicLink(tree.resolve("a/link"), outside)
    LocalFs.rmTree(tree.toFile)
    assert(!Files.exists(tree) && !Files.exists(tree.resolve("a/link"),
      java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(Files.exists(outside.resolve("keep")))
    // a root that is itself a symlink: only the link goes
    val rootLink = Files.createTempDirectory("lfs_rootlink").resolve("l")
    Files.createSymbolicLink(rootLink, outside)
    LocalFs.rmTree(rootLink.toFile)
    assert(!Files.exists(rootLink, java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(Files.exists(outside.resolve("keep")))
    LocalFs.rmTree(tree.toFile) // absent: no-op
  }

  test("no process starts across three checkpointed OrderWideJob micro-batches and a parquet write") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val d = sf("sf0.001")
    val orders = Tables.orders(spark, d).cache()
    val lineitem = Tables.lineitem(spark, d).cache()
    val oSrc = Files.createTempDirectory("lfs_orders").toString
    val lSrc = Files.createTempDirectory("lfs_lines").toString
    def land(i: Int): Unit = {
      orders.filter(s"o_orderkey % 3 = $i").write.mode("append").parquet(oSrc)
      lineitem.filter(s"l_orderkey % 3 = $i").write.mode("append").parquet(lSrc)
    }
    // one-time process starts of the JVM happen before the window: the
    // write path's class init here, and the executor heartbeat's page-size
    // probe (`getconf PAGESIZE`, run once when its metrics class loads)
    land(0)
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")

    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      val job = new OrderWideJob(spark, Files.createTempDirectory("lfs_ow_out").toString)
      val q = job.start(oSrc, lSrc, d, Files.createTempDirectory("lfs_ow_ckpt").toString)
      try {
        q.processAllAvailable()
        land(1); q.processAllAvailable()
        land(2); q.processAllAvailable()
        assert(q.lastProgress.batchId >= 2)
      } finally q.stop()
      spark.range(10).write.parquet(Files.createTempDirectory("lfs_pq").resolve("t").toString)
    } finally rec.stop()
    val jfr = Files.createTempFile("lfs_proc", ".jfr")
    rec.dump(jfr); rec.close()
    val events = RecordingFile.readAllEvents(jfr)
    import scala.jdk.CollectionConverters._
    val launched = events.asScala.map(e => e.getString("command") + " from " +
      e.getStackTrace.getFrames.asScala.take(12).map(f => f.getMethod.getName).mkString(" < "))
    assert(launched.isEmpty, s"${launched.size} processes started, e.g. ${launched.take(3)}")
    orders.unpersist(); lineitem.unpersist()
  }
}
