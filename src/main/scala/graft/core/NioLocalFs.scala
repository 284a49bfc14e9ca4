package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import scala.jdk.CollectionConverters._

/** Hadoop's local filesystem without the shell. With no `libhadoop`,
  * stock `RawLocalFileSystem` starts a process for every `chmod` (each
  * `create` and `mkdirs`), every permission read (`ls -ld`, e.g. each
  * `LocatedFileStatus`) and every link read (`readlink`, each
  * `FileContext.rename`). This raw layer does those through
  * `java.nio.file` and returns the values the stock one does. Where the
  * default file store is not POSIX it is the stock class. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem.posix

  /** Follows links, as stock does: its `ls -ld` runs on the canonical path. */
  override def getFileStatus(f: Path): FileStatus = if (!posix) super.getFileStatus(f) else {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
    // the nine rwx bits (OWNER_READ, 0400 = 0x100, first); PosixFileAttributes
    // has no sticky bit (01000 = 0x200), so a directory's comes from its mode
    val mode = a.permissions.asScala.foldLeft(0)(_ | 0x100 >> _.ordinal) |
      (if (!a.isDirectory) 0 else 0x200 & Files.getAttribute(file.toPath, "unix:mode").asInstanceOf[Int])
    new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(f),
      a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
      new FsPermission(mode.toShort), a.owner.getName, a.group.getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  override def listStatus(f: Path): Array[FileStatus] =
    if (!posix || pathToFile(f).isDirectory) super.listStatus(f) // per entry: getFileStatus
    else Array(getFileStatus(f))

  /** As stock: a link carries its target's status, a dangling one
    * placeholders, and its target path comes back qualified. */
  override def getFileLinkStatus(f: Path): FileStatus = if (!posix) super.getFileLinkStatus(f) else {
    val p = pathToFile(f).toPath
    if (!Files.isSymbolicLink(p)) getFileStatus(f)
    else {
      val target = FSLinkResolver.qualifySymlinkTarget(getUri, f, new Path(Files.readSymbolicLink(p).toString))
      try {
        val st = getFileStatus(f)
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission,
          st.getOwner, st.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }

  /** `create` and `mkdirs` call this with the umasked mode. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!posix || permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermission.values
      .filter(q => (permission.toShort & 0x100 >> q.ordinal) != 0).toSet.asJava)

  override def setOwner(p: Path, username: String, groupname: String): Unit =
    if (!posix || (username == null && groupname == null)) super.setOwner(p, username, groupname)
    else {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      val names = FileSystems.getDefault.getUserPrincipalLookupService
      if (username != null) view.setOwner(names.lookupPrincipalByName(username))
      if (groupname != null) view.setGroup(names.lookupPrincipalByGroupName(groupname))
    }
}

object NioRawLocalFileSystem {
  /** The `unix` attribute view (for the mode) comes with the `posix` one. */
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` (`.crc`
  * sidecars, `FileSystem.getLocal` casts) over the raw layer above. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` twin, shaped as
  * stock `LocalFs` is (`ChecksumFs` over `RawLocalFs`). `FileContext`
  * constructs it by `(URI, Configuration)`; the URI is always `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
