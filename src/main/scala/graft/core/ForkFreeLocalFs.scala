package graft.core

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two shell-outs done in-process.
  *
  * Without libhadoop, stock `RawLocalFileSystem` launches a process in two
  * places: `readlink` in `getFileLinkStatus` (every FileContext rename
  * checks its source and destination) and `chmod` in `setPermission` (every
  * file create and `mkdirs`). A streaming micro-batch commits its offsets
  * log, its commit log and one state-store delta per shuffle partition,
  * each with `.crc` sidecars and Spark's checkpoint-file checksums, so it
  * paid about 100 forks. Here `setPermission` sets the same mode bits with
  * `Files.setPosixFilePermissions`, and `getFileLinkStatus` reads the link
  * with `Files.isSymbolicLink`/`readSymbolicLink` and builds the
  * `FileStatus` the way Hadoop's private `deprecatedGetFileLinkStatusInternal`
  * does, down to resolving the link name from `Path.toString` (so a
  * scheme-qualified path never reads as a link, as in stock Hadoop).
  * A sticky bit or a file store without POSIX attributes falls back to the
  * stock call.
  *
  * Everything else is stock: Spark's default FileContext checkpoint
  * manager, the state store provider, `.crc` sidecars, Spark's checkpoint
  * checksums, file modes, and every scheme other than `file:`.
  * [[ForkFreeLocalFs.settings]] is the one definition of the two
  * `spark.hadoop.*` settings that install it; GraftSession and
  * HarnessDefaults apply them.
  *
  * Two consequences of replacing the classes rather than their I/O:
  *  - `FileContextBasedCheckpointFileManager.isLocal` type-matches
  *    `LocalFs | RawLocalFs`, so it is false under [[ForkFreeLocalFs]]. In
  *    Spark 4.1.2 its only reader is `ChecksumCheckpointFileManager.isLocal`,
  *    which just delegates.
  *  - `FileSystem.get` caches by scheme, authority and user, not by conf, so
  *    `fs.file.impl` takes effect only if a session carrying it creates the
  *    JVM's first `file:` FileSystem. FileContext, which the checkpoint
  *    manager uses, has no such cache.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // PosixFilePermission lists owner/group/others rwx from bit 8 down to bit 0
      val perms = PosixFilePermission.values.zipWithIndex
        .collect { case (perm, i) if (mode & (1 << (8 - i))) != 0 => perm }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    val target =
      try if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString else ""
      catch { case _: IOException => "" }
    val status =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize, fs.getModificationTime,
          fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup, new Path(target), f)
      } catch {
        // a dangling link: File.exists is false, so getFileStatus throws
        case _: java.io.FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
      }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
    status
  }
}

/** The checksummed `FileSystem` for `fs.file.impl`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
private[core] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` for `fs.AbstractFileSystem.file.impl`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object ForkFreeLocalFs {
  /** The session settings that install the fork-free local filesystem. */
  val settings: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}
