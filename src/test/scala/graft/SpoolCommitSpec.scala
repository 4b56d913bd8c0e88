package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Spool

/** [[Spool.commit]] lands a request under its name through a hidden
  * temp file, and leaves no temp file behind when it cannot. */
class SpoolCommitSpec extends AnyFunSuite {
  private def listing(dir: java.io.File): Set[String] = dir.list().toSet

  test("commit creates the directory and leaves only the named file") {
    val dir = Files.createTempDirectory("spool_commit").resolve("logs_pb").toFile
    val f = Spool.commit(dir, "req-1.pb", Array[Byte](1, 2, 3))
    assert(f == new java.io.File(dir, "req-1.pb"))
    assert(Files.readAllBytes(f.toPath).toSeq == Seq[Byte](1, 2, 3))
    assert(listing(dir) == Set("req-1.pb"))
  }

  test("a non-empty directory at the target name fails the commit and removes the temp file") {
    val dir = Files.createTempDirectory("spool_commit").toFile
    val occupied = Files.createDirectory(dir.toPath.resolve("req-2.pb"))
    Files.write(occupied.resolve("inside"), Array[Byte](9))
    intercept[java.io.IOException](Spool.commit(dir, "req-2.pb", Array[Byte](4, 5)))
    assert(listing(dir) == Set("req-2.pb"))
    assert(Files.isDirectory(occupied) && listing(occupied.toFile) == Set("inside"))
  }
}
