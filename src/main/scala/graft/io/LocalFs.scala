package graft.io

import java.io.File
import java.net.URI
import java.nio.file.{Files, InvalidPathException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without the per-call processes.
  *
  * Without libhadoop (no `NativeIO`), `RawLocalFileSystem` runs `chmod`
  * for every `setPermission` — so for every create and mkdir — and
  * `readlink` for every `getFileLinkStatus`, which `FileContext` calls
  * on both sides of every rename. A streaming checkpoint (offset and
  * commit logs, RocksDB changelogs and their checksum files) goes through
  * exactly those calls several times per micro-batch. Both are redone
  * here in-process with `java.nio`, with the same effect on disk; a real
  * symlink still gets Hadoop's own link status. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod %04o` without the process: `unix:mode` hands the mode,
    * sticky bit included, to chmod(2). Like a numeric `chmod`, a
    * directory keeps its setuid/setgid bits. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
    val keep = if ((mode & 0xF000) == 0x4000) mode & 0xC00 else 0 // S_IFDIR: S_ISUID|S_ISGID
    Files.setAttribute(f, "unix:mode", Int.box(keep | (permission.toShort & 0x3FF)))
  }

  /** Hadoop probes `readlink` on `new File(f.toString)` (so a
    * `file:`-qualified path never reads as a link) and answers
    * `getFileStatus(f)` when it prints nothing. The same probe, in
    * process; a real link gets Hadoop's own answer. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (isLink(new File(f.toString))) super.getFileLinkStatus(f) else getFileStatus(f)

  private def isLink(f: File): Boolean =
    try Files.isSymbolicLink(f.toPath) catch { case _: InvalidPathException => false }
}

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NioRawLocalFileSystem]]:
  * the same delegate with the same overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
                                 FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The `file:` `AbstractFileSystem` ([[graft.Tables.configure]] installs
  * it as `fs.AbstractFileSystem.file.impl`): Hadoop's `LocalFs` — `.crc`
  * checksum siblings included — over [[NioRawLocalFs]]. */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
