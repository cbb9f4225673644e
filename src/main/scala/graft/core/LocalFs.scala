package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionBridge

/** Hadoop's local filesystem without child processes. Without libhadoop,
  * `RawLocalFileSystem` forks `chmod` for every file and directory it creates
  * with a mode (a data file and its `.crc` sidecar are two), and a
  * `FileContext` rename forks `readlink` four times — the lake's writes and
  * the stream checkpoint's offset and commit logs pay both on every epoch.
  * This one does both steps in-process; symlinks and sticky modes keep the
  * stock path. Files, sidecars and modes on disk are the same.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      // enum order is OWNER_READ (0400) through OTHERS_EXECUTE (0001)
      PosixFilePermission.values.toSet.filter(b => (mode & (0x100 >> b.ordinal)) != 0).asJava)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local FileSystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (`FileContext`, so the stream
  * checkpoint): Hadoop's `local.LocalFs` over [[NioRawLocalFileSystem]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `local.RawLocalFs` (whose constructors are package-private). */
private class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object LocalFs {
  private val FileImpl = "fs.file.impl"
  private val ContextImpl = "fs.AbstractFileSystem.file.impl"

  /** Route the session's local I/O through the classes above: sets
    * `fs.file.impl`, `fs.AbstractFileSystem.file.impl` and
    * `fs.file.impl.disable.cache` (the JVM-wide FileSystem cache already
    * holds a stock `file:` instance) on the runtime conf, which every
    * `newHadoopConf` of the session and of its streams' clones copies. A
    * value the caller set for either impl key is left alone; a second call
    * does nothing.
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.conf
    if (conf.getOption(FileImpl).isEmpty || conf.getOption(ContextImpl).isEmpty) {
      val hadoop = SessionBridge.hadoopConf(spark)
      if (hadoop.get(FileImpl) == null) {
        conf.set(FileImpl, classOf[NioLocalFileSystem].getName)
        conf.set("fs.file.impl.disable.cache", "true")
      }
      if (hadoop.get(ContextImpl) == classOf[org.apache.hadoop.fs.local.LocalFs].getName)
        conf.set(ContextImpl, classOf[NioLocalFs].getName)
    }
  }
}
