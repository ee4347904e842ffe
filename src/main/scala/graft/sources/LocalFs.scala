package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem graft's sessions run on: Hadoop's local
  * filesystem with the two operations that fork a child process done
  * through `java.nio` instead.
  *
  * Without `libhadoop` (not on a plain JVM install), Hadoop's
  * `RawLocalFileSystem` runs `chmod` as a child process on every file
  * create and directory made, and `readlink` on every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both of its
  * paths. Each fork costs milliseconds, and a micro-batch does about a
  * hundred of them: the stream's offset and commit logs, the state
  * store's delta files, the file sink's log and every parquet part file
  * (docs/SCALE.md). `libhadoop` alone would not help: it covers `chmod`,
  * but `FileUtil.readLink` forks either way.
  *
  * Everything else is Hadoop's own code. Only `file://` paths reach
  * these classes; HDFS and object-store paths never do. The
  * [[HadoopConfs]] keys install them, and `DevSession.StaticConfs`
  * carries those keys onto every session builder: Hadoop caches one
  * `FileSystem` per scheme and user, so the first `file://` instance
  * made in the JVM is the one every later caller gets. */
object LocalFs {

  /** The Hadoop keys for both of Hadoop's filesystem routes: `FileSystem`
    * (parquet writers, the file sink's log) and `FileContext` (Spark's
    * default checkpoint file manager, used by the offset and commit logs
    * and the state store). */
  val HadoopConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFs.FileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Fs].getName)

  /** `RawLocalFileSystem` without forks. */
  class RawFileSystem extends RawLocalFileSystem {

    /** The full mode, sticky bit included, following links as `chmod`
      * does. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Integer.valueOf(permission.toShort & 0xfff))

    /** A path that is not a symbolic link has the status of the file it
      * names, which is what Hadoop's own `readlink` route returns for it.
      * A symbolic link (dangling or not) keeps Hadoop's route. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
    * [[RawFileSystem]]. */
  class FileSystem extends LocalFileSystem(new RawFileSystem)

  /** Hadoop's `RawLocalFs` over [[RawFileSystem]] (its constructors are
    * package-private, so its four overrides are repeated here). */
  class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new RawFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksums
    * over the raw filesystem) over [[RawFs]]. Hadoop instantiates it
    * through this `(URI, Configuration)` constructor. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))
}
