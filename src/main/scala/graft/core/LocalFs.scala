package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

/** The local filesystem without forked shell commands on its write path.
  *
  * Without libhadoop (`NativeCodeLoader.isNativeCodeLoaded == false`)
  * Hadoop's `RawLocalFileSystem` forks `chmod` for every file it creates
  * and every directory `mkdirs` makes, and `readlink` on every
  * `FileContext.rename`. Each fork costs milliseconds in a large-heap
  * JVM, and a parquet write creates several files per task. This subclass
  * makes the same changes through `java.nio` syscalls: the same mode bits,
  * the same `.crc` sidecars (the checksummed wrappers below are Hadoop's
  * own). Whatever NIO cannot express exactly (a sticky bit, a filesystem
  * without POSIX attributes, a real symlink) takes the inherited path, as
  * does a status's lazily loaded permission, owner and group (one `ls -ld`
  * per status read, a few per load).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (!NioRawLocalFileSystem.posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.modeSet(mode))
  }

  /** A regular file or directory is its own link status; the inherited
    * code forks `readlink` to learn that.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {

  private val views = FileSystems.getDefault.supportedFileAttributeViews
  private val posix = views.contains("posix")

  private def modeSet(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // enum order is owner r/w/x, group r/w/x, others r/w/x: bits 8 down to 0
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(b)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed local filesystem over
  * [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` twin of
  * [[NioLocalFileSystem]]: Hadoop's `ChecksumFs` over the same raw
  * filesystem, mirroring `org.apache.hadoop.fs.local.LocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(NioLocalFs.raw(uri, conf))

object NioLocalFs {
  /** `org.apache.hadoop.fs.local.RawLocalFs` with the fork-free raw FS. */
  private def raw(uri: URI, conf: Configuration): DelegateToFileSystem =
    new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    }
}
