package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem without the child processes.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem` forks `chmod` for every
  * `setPermission` and `readlink` for every `getFileLinkStatus`. Spark's
  * checkpoint manager calls both for each state-store delta, its `.crc`, its
  * checksum file and each offset/commit log entry, so a streaming micro-batch
  * spent most of its time forking. These two overrides make the same system
  * calls through `java.nio.file` and return exactly what the stock methods
  * return; every other method, including the atomic rename, is inherited.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod %04o` on the canonical path, as stock. The stock call still runs
    * when `libhadoop` is loaded (it forks nothing then) and whenever the
    * requested or the existing mode carries sticky/setuid/setgid bits: NIO
    * cannot set those, and a 4-digit `chmod` keeps a directory's setgid bit
    * where the `chmod(2)` behind NIO would clear it. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val file = pathToFile(p).getCanonicalFile.toPath
    if (NativeIO.isAvailable || (mode & ~0x1ff) != 0 ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file,
      PosixFilePermissions.fromString(new FsPermission(mode.toShort).toString))
  }

  /** Stock's default (non-`Stat`) link status: the status of `f` itself,
    * re-labelled as a symlink with its qualified target when `readlink`
    * names one, and a placeholder status for a dangling link. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = readLink(f)
    val status =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
    status
  }

  /** What stock gets from forking `readlink` on `new File(f.toString)`: the
    * trimmed target, or "" when the path is not a readable symlink. A
    * scheme-qualified path is relative to the working directory there too. */
  private def readLink(f: Path): String =
    try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException => "" }
}

/** `fs.file.impl`: stock `LocalFileSystem` (with its `.crc` files) over the
  * fork-free raw filesystem. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the one `FileContext` and so Spark's
  * checkpoint manager use: stock `LocalFs` (a `ChecksumFs` over `RawLocalFs`)
  * with the fork-free raw filesystem underneath. */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(uri, conf))

/** Stock `RawLocalFs`, whose constructors are package-private. */
private class InProcessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new InProcessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
  override def getServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
