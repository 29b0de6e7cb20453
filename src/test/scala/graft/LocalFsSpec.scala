package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import graft.streaming.{Sources, StreamPipeline}
import graft.util.LocalFs
import scala.jdk.CollectionConverters._

/** The session's local filesystem ([[LocalFs]]) starts no child
  * process on the streaming commit path, and behaves like Hadoop's
  * stock local filesystem. */
class LocalFsSpec extends SparkSpec {
  import LocalFsSpec.Stack

  private val local = new URI("file:///")

  private def txnJson(id: String, acct: String, amount: Double, ts: String): String =
    s"""{"transaction_id":"$id","account_id":"$acct","transaction_type":"deposit",""" +
      s""""amount":$amount,"currency":"USD","timestamp":"$ts","status":"completed"}"""

  test("a streaming trigger starts no child process") {
    val conf = spark.sessionState.newHadoopConf()
    // FileSystem.get caches per scheme: a stock instance cached earlier
    // would be returned here whatever the session's keys say
    assert(FileSystem.get(local, conf).getClass === classOf[LocalFs.FileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass ===
      classOf[LocalFs.Fs])

    val tmp = Files.createTempDirectory("graft_localfs_stream").toString
    Files.createDirectories(Paths.get(s"$tmp/in"))
    val typed = StreamPipeline.enrich(StreamPipeline.typed(
      Sources.jsonDirReader(spark, s"$tmp/in")))
    val agg = StreamPipeline.windowedAgg(
      StreamPipeline.validate(typed).filter(col("is_valid")))

    // Spark forks `getconf PAGESIZE` once per JVM, when the first
    // executor-metrics heartbeat builds its procfs reader (10-20 s after
    // the context starts); build it before recording
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter")
      .getMethod("pTreeInfo").invoke(null)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val dual = Sources.dualSinkQuery(typed, s"$tmp/main", s"$tmp/dead", s"$tmp/ckpt1")
    val aggQ = agg.writeStream.format("parquet")
      .option("path", s"$tmp/agg").option("checkpointLocation", s"$tmp/ckpt2")
      .outputMode("append").start()
    try {
      // three drops, the last moves the watermark past the first window
      Seq("10:05", "10:40", "12:30").zipWithIndex.foreach { case (hm, i) =>
        Files.write(Paths.get(s"$tmp/in/drop_$i.json"), Seq(
          txnJson(s"T${i}a", "ACC1", 10.0 + i, s"2024-01-01T$hm:00"),
          txnJson(s"T${i}b", "ACC2", -1.0, s"2024-01-01T$hm:00")).asJava)
        dual.processAllAvailable()
        aggQ.processAllAvailable()
      }
    } finally { dual.stop(); aggQ.stop(); rec.stop() }

    val dump = Files.createTempFile("graft_localfs", ".jfr")
    rec.dump(dump)
    rec.close()
    // Spark deletes the artifact directory of a session it has garbage
    // collected with `rm -rf`, on its cleaner thread and at any time; a
    // session dropped before the recording can land in it
    def sessionCleanup(e: jdk.jfr.consumer.RecordedEvent) =
      e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager"))
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !sessionCleanup(e))
      .map(_.getString("command"))
    Files.delete(dump)
    assert(starts.isEmpty, starts.mkString("child processes: ", "; ", ""))
    // the triggers did run: every drop reached its sink
    assert(spark.read.parquet(s"$tmp/main").count() === 3L)
    assert(spark.read.parquet(s"$tmp/dead").count() === 3L)
    assert(spark.read.parquet(s"$tmp/agg").count() > 0L)
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  // requested modes the default umask (022) leaves as they are
  private val modes = Seq("640" -> "rw-r-----", "604" -> "rw----r--",
    "751" -> "rwxr-x--x", "710" -> "rwx--x---")

  // (name, what a caller observes after the operations in a fresh
  // directory, the observation stock Hadoop gives)
  private val probes: Seq[(String, (Stack, java.nio.file.Path) => Any, Any)] = Seq(
    ("file and nested directory permissions", (s, dir) => {
      modes.foreach { case (mode, _) =>
        s.fs.create(new Path(s"$dir/f$mode"), perm(mode), false, 4096, 1.toShort,
          1L << 20, null).close()
        s.fs.mkdirs(new Path(s"$dir/d$mode/a/b"), perm(mode))
      }
      // every entry, checksum files included, by its path under dir
      Files.walk(dir).iterator().asScala.drop(1).map(p => dir.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    }, modes.flatMap { case (mode, perms) =>
      // mkdirs gives the missing parents the default mode
      Seq(s"f$mode", s".f$mode.crc", s"d$mode/a/b").map(_ -> perms) ++
        Seq(s"d$mode", s"d$mode/a").map(_ -> "rwxr-xr-x")
    }.toMap),

    ("sticky and set-id bits", (s, dir) => {
      def mode(p: java.nio.file.Path) =
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff).toOctalString
      val setgid = Files.createDirectory(dir.resolve("sg"))
      assert(new ProcessBuilder("chmod", "2755", setgid.toString).start().waitFor() === 0)
      s.fs.mkdirs(new Path(s"$setgid/sub"), perm("750"))
      val sticky = Files.createDirectory(dir.resolve("t"))
      s.fs.setPermission(new Path(sticky.toString), perm("1777"))
      (mode(setgid.resolve("sub")), mode(sticky))
    }, ("2750", "1777")),

    ("FileContext rename NONE onto an existing file", (s, dir) => {
      Seq("src", "dst").foreach(n => writeFc(s.fc, new Path(s"$dir/$n"), n))
      try {
        s.fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst"), Options.Rename.NONE)
        "renamed"
      } catch { case e: FileAlreadyExistsException => e.getClass.getSimpleName }
    }, "FileAlreadyExistsException"),

    ("FileContext rename OVERWRITE replaces the target", (s, dir) => {
      Seq("src", "dst").foreach(n => writeFc(s.fc, new Path(s"$dir/$n"), n))
      s.fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst"), Options.Rename.OVERWRITE)
      (new String(Files.readAllBytes(dir.resolve("dst"))),
        dir.toFile.list().toSeq.sorted)
    }, ("src", Seq(".dst.crc", "dst"))),

    ("FileSystem rename onto an existing file", (s, dir) => {
      Seq("src", "dst").foreach(n => Files.write(dir.resolve(n), n.getBytes))
      (s.fs.rename(new Path(s"$dir/src"), new Path(s"$dir/dst")),
        new String(Files.readAllBytes(dir.resolve("dst"))))
    }, (false, "dst")),

    ("getFileLinkStatus on a real symlink", (s, dir) => {
      Files.write(dir.resolve("target"), "t".getBytes)
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
      val st = s.fs.getFileLinkStatus(new Path(dir.resolve("link").toString))
      (st.isSymlink, st.getSymlink.getName)
    }, (true, "target")))

  private def writeFc(fc: FileContext, p: Path, body: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    try out.write(body.getBytes) finally out.close()
  }

  private def stack(conf: Configuration) =
    Stack(FileSystem.newInstance(local, conf), FileContext.getFileContext(local, conf))

  test("local filesystem matches stock Hadoop: permissions, renames, links") {
    val ours = stack(spark.sessionState.newHadoopConf())
    // what a session without the keys resolves for `file`: the
    // classpath's FileSystem service and Hadoop's LocalFs
    val stock = stack(new Configuration())
    assert(ours.fs.getClass === classOf[LocalFs.FileSystem])
    assert(!stock.fs.isInstanceOf[LocalFs.FileSystem])
    try probes.foreach { case (name, probe, expected) =>
      val seen = Seq(ours, stock).map(s =>
        probe(s, Files.createTempDirectory("graft_localfs_probe")))
      assert(seen(0) === seen(1), s"$name: ours vs stock")
      assert(seen(0) === expected, name)
    } finally { ours.fs.close(); stock.fs.close() }
  }
}

object LocalFsSpec {
  private final case class Stack(fs: FileSystem, fc: FileContext)
}
