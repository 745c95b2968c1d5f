package graft.fs

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without child processes. Without `libhadoop`,
  * stock Hadoop runs `chmod` for every file it creates (`setPermission`)
  * and `readlink` for every `getFileLinkStatus`, which `rename` calls on
  * both ends: a fork per checkpoint file, each costing more than the
  * write. Both calls go through `java.nio.file` here instead, with the
  * same result.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through NIO; the sticky bit, which NIO cannot set,
    * and stores without POSIX attributes go to Hadoop's own call.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) bits.add(b)
    }
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** Hadoop's answer when `readlink` prints nothing is `getFileStatus(f)`;
    * a real symlink still takes Hadoop's path. The path is read as Hadoop
    * reads it (`new File(f.toString)`).
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** FileContext binding of `file:` over [[NioRawLocalFileSystem]]: Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs` (checksummed) with the fork-free
  * raw file system underneath. Spark's streaming checkpoints (offset and
  * commit logs, state-store delta and snapshot files, their checksum
  * files) go through this API. The `FileSystem` API (`fs.file.impl`) is
  * left as it is. As in Hadoop's binding, `uri` is always `file:///`.
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalFs.Raw(conf))

object LocalFs {

  /** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]; its
    * constructors are package-private, so its overrides are repeated.
    */
  private[fs] class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Makes [[LocalFs]] the library default of `fs.AbstractFileSystem.file.impl`
    * through `graft-default.xml`, the way `HdfsConfiguration` adds
    * `hdfs-default.xml`: every Configuration, existing ones included,
    * reads it after `core-default.xml`, and below any value set
    * explicitly (`Configuration.set`, `spark.hadoop.*`). Idempotent.
    */
  def register(): Unit = Configuration.addDefaultResource("graft-default.xml")
}
