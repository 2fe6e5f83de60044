package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.serving.Maintenance
import graft.streaming.StreamingPipeline
import graft.tables.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, LocalFs}

/** The fork-free local filesystem: no `chmod`/`readlink` launches on
  * the ingest path, and the same modes and link answers as Hadoop's
  * own local filesystem.
  */
class LocalFsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
  private def mode(p: String) = java.nio.file.attribute.PosixFilePermissions
    .toString(Files.getPosixFilePermissions(Paths.get(p)))

  /** The commands of every process the JVM started while `body` ran. */
  private def launches(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out); () }
  }

  test("two pipeline triggers and a rollup compaction start no chmod or readlink") {
    implicit val sql = spark.sqlContext
    val dir = tmp("graft_localfs_pipe")
    val mem = MemoryStream[Ev]
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val cmds = launches {
      val q = StreamingPipeline.start(spark, mem.toDF(),
        s"$dir/raw", s"$dir/rollup", s"$dir/topk", s"$dir/ckpt", k = 2,
        trigger = Trigger.ProcessingTime(0L)).head
      try {
        for (b <- 0 until 2) {
          mem.addData((0 until 30).map(i => Ev(b * 100L + i, ts(b * 2), i % 4,
            if (i % 3 == 0) "click" else "view", i.toDouble)))
          q.processAllAvailable()
        }
      } finally q.stop()
      Maintenance.run(spark, Seq(Maintenance.IngestCompact("rollup",
        s => StreamingPipeline.compactRollupState(s, s"$dir/rollup"))))
    }
    assert(spark.read.parquet(s"$dir/raw").count() === 60)
    val forks = cmds.filter(c => c.contains("chmod") || c.contains("readlink"))
    assert(forks.isEmpty, s"${forks.size} chmod/readlink launches, e.g. ${forks.take(3)}")
  }

  test("created files and directories carry Hadoop's modes under the same umask") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", umask)
      def fsOf(fs: FileSystem) = { fs.initialize(URI.create("file:///"), conf); fs }
      val pairs = Seq(
        "raw" -> (fsOf(new RawLocalFileSystem), fsOf(new ForkFreeRawLocalFileSystem)),
        "checksummed" -> (fsOf(new LocalFileSystem), fsOf(new ForkFreeLocalFileSystem)))
      for ((label, (hadoop, forkFree)) <- pairs) {
        def layout(fs: FileSystem, root: String): Seq[String] = {
          fs.create(new Path(s"$root/plain")).close()
          fs.create(new Path(s"$root/a/b/explicit"), new FsPermission("640"),
            true, 4096, 1.toShort, 1L << 25, null).close()
          fs.mkdirs(new Path(s"$root/d1/d2"))
          fs.mkdirs(new Path(s"$root/e1/e2"), new FsPermission("751"))
          fs.create(new Path(s"$root/chmodded")).close()
          fs.setPermission(new Path(s"$root/chmodded"), new FsPermission("604"))
          Files.walk(Paths.get(root)).iterator().asScala.toSeq
            .map(p => s"${Paths.get(root).relativize(p)} ${mode(p.toString)}").sorted
        }
        val want = layout(hadoop, tmp("graft_modes_h"))
        assert(layout(forkFree, tmp("graft_modes_g")) === want, s"$label, umask $umask")
      }
      // the FileContext side, as the streaming checkpoint writes
      def viaContext(afsClass: String, root: String): Seq[String] = {
        val c = new Configuration(conf)
        c.set("fs.AbstractFileSystem.file.impl", afsClass)
        val fc = FileContext.getFileContext(URI.create("file:///"), c)
        fc.mkdir(new Path(s"$root/x/y"), FsPermission.getDirDefault, true)
        fc.create(new Path(s"$root/x/y/f"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent()).close()
        fc.rename(new Path(s"$root/x/y/f"), new Path(s"$root/x/g"))
        Files.walk(Paths.get(root)).iterator().asScala.toSeq
          .map(p => s"${Paths.get(root).relativize(p)} ${mode(p.toString)}").sorted
      }
      assert(viaContext(classOf[ForkFreeLocalFs].getName, tmp("graft_fc_g")) ===
        viaContext("org.apache.hadoop.fs.local.LocalFs", tmp("graft_fc_h")), s"umask $umask")
    }
  }

  test("getFileLinkStatus matches Hadoop's on a file, a directory and a symlink") {
    val root = tmp("graft_links")
    Files.write(Paths.get(s"$root/file"), "abc".getBytes)
    Files.createDirectory(Paths.get(s"$root/dir"))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    val conf = spark.sparkContext.hadoopConfiguration
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(URI.create("file:///"), conf)
    val forkFree = new ForkFreeRawLocalFileSystem
    forkFree.initialize(URI.create("file:///"), conf)
    def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) s.getSymlink else null)
    for (name <- Seq("file", "dir", "link"); p <- Seq(s"$root/$name", s"file:$root/$name")) {
      assert(fields(forkFree.getFileLinkStatus(new Path(p))) ===
        fields(hadoop.getFileLinkStatus(new Path(p))), p)
    }
    assert(forkFree.getFileLinkStatus(new Path(s"$root/link")).isSymlink)
    intercept[java.io.FileNotFoundException](forkFree.getFileLinkStatus(new Path(s"$root/none")))
  }

  test("install is idempotent and replaces a file: instance cached before it") {
    val sc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache", "fs.AbstractFileSystem.file.impl")
    val installed = keys.map(k => k -> sc.get(k))
    val local = URI.create("file:///")
    try {
      // the stock configuration, with its file: instance in Hadoop's cache
      sc.unset("fs.file.impl")
      sc.unset("fs.file.impl.disable.cache")
      sc.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
      val stock = FileSystem.get(local, spark.sessionState.newHadoopConf())
      assert(!stock.isInstanceOf[ForkFreeLocalFileSystem])
      assert(FileSystem.get(local, spark.sessionState.newHadoopConf()) eq stock)

      LocalFs.install(spark)
      val once = keys.map(k => k -> sc.get(k))
      LocalFs.install(spark)
      assert(keys.map(k => k -> sc.get(k)) === once)
      assert(once === installed)
      val conf = spark.sessionState.newHadoopConf()
      assert(FileSystem.get(local, conf).getClass === classOf[ForkFreeLocalFileSystem])
      assert(new Path("/tmp").getFileSystem(conf).isInstanceOf[ForkFreeLocalFileSystem])
      assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[ForkFreeRawLocalFileSystem])
      assert(AbstractFileSystem.get(local, conf).getClass === classOf[ForkFreeLocalFs])
    } finally LocalFs.install(spark)
  }
}

