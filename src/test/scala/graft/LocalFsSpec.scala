package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Using

import jdk.jfr.Recording
import org.apache.commons.io.FileUtils
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import org.scalatest.BeforeAndAfterAll

import graft.sources.LocalFs
import graft.streaming.Streams

/** `file://` on graft's sessions: [[graft.sources.LocalFs]] does what
  * Hadoop's local filesystem does (same permissions, same symlink
  * statuses, same renames), and a file-source micro-batch, with its
  * checkpoints, state store and parquet sinks, forks no process from
  * Hadoop's `Shell`. */
class LocalFsSpec extends SparkTestBase with BeforeAndAfterAll {

  private val root = URI.create("file:///")
  private lazy val scratch = Files.createTempDirectory("graft_localfs")
  private def tempDir(name: String): JPath =
    Files.createDirectory(scratch.resolve(name))
  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(scratch.toFile) finally super.afterAll()
  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  /** Hadoop's own local filesystem, outside the `FileSystem` cache. */
  private def hadoopFs(): FileSystem = {
    val fs = new org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(root, conf)
    fs
  }

  /** A `FileContext` over Hadoop's own `LocalFs`. */
  private def hadoopFc(): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    FileContext.getFileContext(root, c)
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(octal(s).toShort)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff

  /** Mode of every entry under `dir`, by relative name (checksum files
    * included). */
  private def modes(dir: JPath): Map[String, Int] =
    Using.resource(Files.walk(dir))(_.iterator().asScala.toList)
      .map(p => dir.relativize(p).toString -> mode(p)).toMap

  test("the shared session resolves file:/// to graft's classes on both " +
      "Hadoop routes") {
    assert(FileSystem.get(root, conf).getClass == classOf[LocalFs.FileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[LocalFs.RawFileSystem])
    assert(AbstractFileSystem.get(root, conf).getClass == classOf[LocalFs.Fs])
  }

  test("files and directories get the permissions Hadoop's own class " +
      "gives them, sticky bit included") {
    def populate(fs: FileSystem, fc: FileContext, dir: JPath): Unit = {
      def p(name: String) = new Path(dir.resolve(name).toString)
      fs.create(p("fs_default")).close()
      fs.create(p("fs_0600"), perm("600"), true, 4096, 1.toShort, 1L << 20, null)
        .close()
      fs.mkdirs(p("fs_sticky"), perm("1777"))
      fs.mkdirs(p("fs_nested/a/b"))
      fc.create(p("fc_default"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.create(p("fc_0640"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm("640"))).close()
      fc.mkdir(p("fc_sticky/x"), perm("1770"), true)
      fs.setPermission(p("fs_default"), perm("1604"))
      fs.setPermission(p("fs_nested/a"), perm("1777"))
    }
    val ours = tempDir("ours")
    val theirs = tempDir("hadoop")
    populate(FileSystem.get(root, conf), FileContext.getFileContext(root, conf), ours)
    populate(hadoopFs(), hadoopFc(), theirs)
    val (m, expected) = (modes(ours), modes(theirs))
    assert(m == expected)
    // creates apply the umask, which keeps no sticky bit (Hadoop's own
    // FsPermission.applyUMask); setPermission sets the mode as given
    assert(m("fs_sticky") == octal("755") && m("fc_sticky/x") == octal("750"))
    assert(m("fs_0600") == octal("600") && m("fc_0640") == octal("640"))
    assert(m("fs_default") == octal("1604") && m("fs_nested/a") == octal("1777"))
    assert(m.keySet.contains(".fc_default.crc"), "checksum files written as before")
  }

  test("a real symlink reports isSymlink with its target; a plain file " +
      "reports the same status as Hadoop's class") {
    val dir = tempDir("link")
    val target = Files.writeString(dir.resolve("target"), "payload")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val fs = FileSystem.get(root, conf)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink == new Path(s"file:$target"))
    val fcSt = FileContext.getFileContext(root, conf)
      .getFileLinkStatus(new Path(link.toString))
    assert(fcSt.isSymlink && fcSt.getSymlink == st.getSymlink)
    val ref = hadoopFs()
    Seq(new Path(link.toString), new Path(target.toString),
        new Path(s"file:$link"), new Path(s"file:$target")).foreach { p =>
      val (a, b) = (fs.getFileLinkStatus(p), ref.getFileLinkStatus(p))
      assert(a == b && a.isSymlink == b.isSymlink && a.getLen == b.getLen &&
        (!a.isSymlink || a.getSymlink == b.getSymlink), s"status of $p")
    }
    intercept[java.io.FileNotFoundException](
      fs.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("FileContext.rename with OVERWRITE replaces the target") {
    val dir = tempDir("rename")
    val fc = FileContext.getFileContext(root, conf)
    def write(name: String, body: String): Path = {
      val p = new Path(dir.resolve(name).toString)
      Using.resource(fc.create(p, EnumSet.of(CreateFlag.CREATE)))(
        _.write(body.getBytes("UTF-8")))
      p
    }
    val (src, dst) = (write("src", "new"), write("dst", "old contents"))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")))
    assert(Files.readString(dir.resolve("dst")) == "new")
    assert(!Files.exists(dir.resolve(".src.crc")), "checksum moved with it")
    assert(Files.exists(dir.resolve(".dst.crc")))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      fc.rename(write("again", "x"), dst, Options.Rename.NONE))
  }

  test("a file-source micro-batch into a parquet sink and the upsert sink " +
      "forks no process from Hadoop's Shell") {
    val dir = tempDir("stream").toString
    val (in, ckpt) = (s"$dir/in", s"$dir/ckpt")
    graft.sources.Tables.events(spark, sf).limit(500)
      .coalesce(1).write.parquet(in)
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    // positive control: the recording sees a process this thread starts
    new ProcessBuilder("true").start().waitFor()
    val queries = Seq(
      Streams.tumblingCountsStreaming(Streams.eventsStream(spark, in))
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$dir/counts")
        .option("checkpointLocation", s"$ckpt/counts").start(),
      Streams.eventsStream(spark, in)
        .writeStream.foreachBatch(Streams.upsertBatch(s"$dir/upsert") _)
        .option("checkpointLocation", s"$ckpt/upsert").start())
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())
    recording.stop()
    val dump = scratch.resolve("stream.jfr")
    recording.dump(dump)
    recording.close()
    val stacks = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => e.getString("command") ->
        e.getStackTrace.getFrames.asScala.map(_.getMethod.getType.getName).toSeq)
    assert(stacks.exists(_._1 == "true"), "the recording saw no process at all")
    val shellForks = stacks.filter(_._2.exists(_.startsWith("org.apache.hadoop.util.Shell")))
    assert(shellForks.size == 0,
      s"${shellForks.size} forks from Hadoop's Shell, e.g. ${shellForks.take(3).map(_._1)}")
    assert(Streams.upsertState(spark, s"$dir/upsert").count() > 0)
    assert(Files.list(java.nio.file.Paths.get(ckpt, "counts", "commits"))
      .count() > 0, "the parquet-sink query committed a batch")
  }
}
