package graft.core

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without process spawns.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` after every
  * mkdir and file create, and `readlink` for every `getFileLinkStatus`
  * (each `FileContext` rename asks for three). A streaming checkpoint,
  * its state-store deltas and a dynamic-overwrite write stage call these
  * about a hundred times per micro-batch. The two overrides do the same
  * work through `java.nio`; everything else is the stock class.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** The mode exactly as given (callers have applied the umask), like
    * `chmod`, which follows symlinks. Modes with bits POSIX attributes
    * cannot express (sticky) and non-POSIX hosts take the stock call. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, posixSet(mode))
  }

  /** The stock link status, with the `readlink` call made in-process: a
    * path that is not a link reads as its file status, a link as its
    * target's status carrying the qualified link target, a dangling link
    * as an empty status, and a missing path throws. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    // the stock call resolves the link from the path string as given
    val target = readLink(new File(f.toString))
    val status =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, new Path(target), f)
      } catch {
        case e: FileNotFoundException =>
          if (target.isEmpty) throw e
          new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath,
        status.getSymlink))
    status
  }
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission's order is owner rwx, group rwx, others rwx: bit 8 down to 0
  private def posixSet(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(perm)
    }
    set
  }

  /** `readlink` without `-f`: the link's own target, or "" when the path
    * is not a link or cannot be read. */
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString
    catch { case _: IOException | _: UnsupportedOperationException => "" }
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side that
  * streaming checkpoints use: the stock `ChecksumFs` over a delegate to
  * [[NioRawLocalFileSystem]], as Hadoop's `LocalFs` is over `RawLocalFs`.
  * Hadoop instantiates it with (URI, Configuration); like `LocalFs` it
  * always serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` with [[NioRawLocalFileSystem]] as the delegate. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
