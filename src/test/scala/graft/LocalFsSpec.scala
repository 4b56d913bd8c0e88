package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalFs

/** [[LocalFs.Raw]] answers `setPermission` and `getFileLinkStatus`
  * in process; what it creates and reports must match Hadoop's stock
  * `RawLocalFileSystem`, which shells out for both. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val conf = TestSession.spark.sessionState.newHadoopConf()

  private def init(fs: FileSystem): FileSystem = { fs.initialize(new java.net.URI("file:///"), conf); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val ours = init(new LocalFs.Raw)
  private lazy val umask = FsPermission.getUMask(conf).toShort.toInt

  /** full mode bits, sticky bit included */
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  private def both[T](body: (FileSystem, File) => T): (T, T) = {
    val root = Files.createTempDirectory("localfs_parity").toFile
    (body(stock, new File(root, "stock")), body(ours, new File(root, "ours")))
  }

  // 0600, 0644, 0700, 0755, 0777
  private val modes = Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff)

  test("create and mkdirs leave the same POSIX modes as stock under the session umask") {
    for (m <- modes) {
      val perm = new FsPermission(m.toShort)
      val files = both { (fs, f) =>
        fs.create(new Path(f.toURI), perm, false, 4096, 1.toShort, 1L << 20, null).close()
        mode(f)
      }
      assert(files == ((m & ~umask, m & ~umask)), f"file $m%o")
      val dirs = both { (fs, f) => assert(fs.mkdirs(new Path(f.toURI), perm)); mode(f) }
      assert(dirs == ((m & ~umask, m & ~umask)), f"dir $m%o")
    }
  }

  test("setPermission 1777 takes Hadoop's own path and keeps the sticky bit, as stock does") {
    val sticky = new FsPermission(0x3ff.toShort) // 01777
    val set = both { (fs, f) => assert(f.mkdir()); fs.setPermission(new Path(f.toURI), sticky); mode(f) }
    assert(set == ((0x3ff, 0x3ff)), set)
    // mkdirs applies the umask, which drops the sticky bit on both
    val made = both { (fs, f) => assert(fs.mkdirs(new Path(f.toURI), sticky)); mode(f) }
    assert(made == ((0x1ff & ~umask, 0x1ff & ~umask)), made)
  }

  /** what callers read off a link status, or the status's absence */
  private def linkStatus(fs: FileSystem, p: Path) =
    try {
      val s = fs.getFileLinkStatus(p)
      Right((s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime))
    } catch { case _: FileNotFoundException => Left("not found") }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a dangling symlink") {
    val root = Files.createTempDirectory("localfs_links")
    val file = Files.write(root.resolve("f"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    val dangling = Files.createSymbolicLink(root.resolve("x"), root.resolve("missing"))
    // the stock code finds links only on scheme-less paths: it runs
    // `readlink` on the path's string form, which a `file:` URI is not
    for (p <- Seq(file, dir, link, dangling);
         path <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(linkStatus(ours, path) == linkStatus(stock, path), path)
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(ours.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("rename never replaces an existing file, as the class the distribution registers does") {
    val registered = FileSystem.getFileSystemClass("file", new Configuration())
    val renames = Seq(registered.getDeclaredConstructor().newInstance(), new LocalFs.Checksummed)
      .map { fs =>
        init(fs)
        val root = Files.createTempDirectory("localfs_rename")
        val (a, b, c) = (root.resolve("a"), root.resolve("b"), root.resolve("c"))
        Files.write(a, Array[Byte](1)); Files.write(b, Array[Byte](2))
        val path = (p: java.nio.file.Path) => new Path(p.toUri)
        (fs.rename(path(a), path(b)), Files.readAllBytes(b).toSeq,
          fs.rename(path(a), path(c)), Files.exists(a), Files.readAllBytes(c).toSeq)
      }
    assert(renames.head == renames(1), registered)
  }

  test("a missing path throws FileNotFoundException on both") {
    val missing = new Path(Files.createTempDirectory("localfs_missing").resolve("nope").toUri)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }
}
