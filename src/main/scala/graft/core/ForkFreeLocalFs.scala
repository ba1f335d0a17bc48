package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` without child processes. Without the native `libhadoop`,
  * `RawLocalFileSystem` runs `chmod` for every file and directory it
  * creates and `readlink` for every link-status lookup; this subclass
  * does both in-process through `java.nio`, and falls back to Hadoop
  * for a sticky bit, a store without POSIX attributes, or a real
  * symlink. Bound by `Sessions.configure` (keys in `ForkFreeLocalFs.hadoopConf`). */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try { Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx)); () }
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  // a non-link's link status is its plain status (what super returns
  // once `readlink` prints nothing)
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem`, so `.crc` sidecars stay. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * binding that the streaming checkpoint (offsets, commits,
  * `_spark_metadata`) writes through. Mirrors Hadoop's `LocalFs` over
  * `RawLocalFs`, whose constructors are package-private. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })

object ForkFreeLocalFs {
  /** The Hadoop keys that bind both local-filesystem entry points. */
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}
