package graft.catalog

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** The fork-free local filesystem must be behavior-identical to stock
  * Hadoop `LocalFileSystem`: same class surface (it IS one), same
  * resulting permission bits from setPermission, same checksummed
  * create/read round-trip.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private def freshFs(): NioLocalFileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    FileSystem.get(java.net.URI.create("file:///"), conf)
      .asInstanceOf[NioLocalFileSystem]
  }

  private def modeOf(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission applies exact POSIX bits without a fork") {
    val fs = freshFs()
    val dir = java.nio.file.Paths.get(tmpDir("niofs"))
    val f = dir.resolve("a.txt")
    Files.write(f, "x".getBytes)
    val cases = Seq(
      ("rw-r--r--", new FsPermission(0x1a4.toShort)), // 0644
      ("rwxr-xr-x", new FsPermission(0x1ed.toShort)), // 0755
      ("rw-------", new FsPermission(0x180.toShort)), // 0600
      ("rw-rw-rw-", new FsPermission(0x1b6.toShort))) // 0666
    cases.foreach { case (expect, perm) =>
      fs.setPermission(new Path(f.toUri), perm)
      assert(modeOf(f) === expect, s"for ${perm.toShort.toOctalString}")
    }
    fs.close()
  }

  test("create + checksummed read round-trip matches LocalFileSystem") {
    val fs = freshFs()
    val dir = java.nio.file.Paths.get(tmpDir("niofs"))
    val p = new Path(dir.toString, "data.bin")
    val out = fs.create(p)
    out.write(Array.tabulate[Byte](1024)(i => (i % 97).toByte))
    out.close()
    // ChecksumFileSystem behavior preserved: crc sidecar written
    assert(Files.exists(dir.resolve(".data.bin.crc")),
      "checksum sidecar must still be written (LocalFileSystem semantics)")
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    assert(bytes.length === 1024 && bytes(96) === 96.toByte)
    // created file carries the umasked default permission, like stock
    val mode = modeOf(dir.resolve("data.bin"))
    assert(mode.startsWith("rw-"), s"unexpected mode $mode")
    fs.close()
  }

  test("mkdirs creates directories with sane permissions") {
    val fs = freshFs()
    val dir = java.nio.file.Paths.get(tmpDir("niofs"))
    val p = new Path(dir.toString, "x/y/z")
    assert(fs.mkdirs(p))
    val mode = modeOf(dir.resolve("x/y/z"))
    assert(mode.startsWith("rwx"), s"unexpected dir mode $mode")
    fs.close()
  }
}
