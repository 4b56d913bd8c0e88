package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** A local file system that starts no processes. Without Hadoop's
  * native library, the stock `RawLocalFileSystem` runs `chmod` for
  * every file or directory it creates with a permission and `readlink`
  * for every `FileContext` status lookup: 33 processes per steady
  * streaming micro-batch (its three metadata-log writes and the
  * parquet exporter's commit protocol). Here both are answered in
  * process through `java.nio`, and what `java.nio` does not cover
  * (the sticky bit, non-POSIX stores, symlinks) takes Hadoop's own
  * path. [[graft.GraftSession]] registers it for the `file` scheme. */
object LocalFs {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // above 0777: sticky
      else {
        // values() runs OWNER_READ (mode bit 8) down to OTHERS_EXECUTE (bit 0)
        val perms = PosixFilePermission.values.zipWithIndex
          .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }

    /** For anything but a symlink, Hadoop answers with `getFileStatus`
      * after a `readlink` process has found no link target. */
    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** the checksummed `FileSystem` (`fs.file.impl`). Spark's Hive build
    * registers Hive's `ProxyLocalFileSystem` for the scheme, whose one
    * change to `LocalFileSystem` is that a rename never replaces an
    * existing file; this keeps that. */
  class Checksummed extends LocalFileSystem(new Raw) {
    override def rename(src: Path, dst: Path): Boolean = {
      val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
      !dstIsFile && super.rename(src, dst)
    }
  }

  /** the checksummed `AbstractFileSystem` behind `FileContext`
    * (`fs.AbstractFileSystem.file.impl`) */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** Hadoop's `RawLocalFs` over [[Raw]]; its constructors are package-private */
  private class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
