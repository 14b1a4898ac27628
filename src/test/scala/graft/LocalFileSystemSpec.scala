package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: the modes it sets are exactly the
  * ones Hadoop's forking `chmod` path sets. */
class LocalFileSystemSpec extends SparkTestBase {

  private def engineFs(): FileSystem = FileSystem.newInstance(
    URI.create("file:///"), spark.sessionState.newHadoopConf())

  /** `rwxr-x---` for 0750, built from the octal digits. */
  private def rwx(mode: Int): String = (0 until 9).map { i =>
    if ((mode & (0x100 >> i)) != 0) "rwx"(i % 3) else '-'
  }.mkString

  test("a GraftSession.builder session resolves file: to the engine " +
      "filesystem") {
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.get("fs.file.impl") == classOf[fs.LocalFileSystem].getName)
    val f = engineFs()
    try assert(f.getClass == classOf[fs.LocalFileSystem])
    finally f.close()
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ==
      classOf[fs.LocalFileSystem])
  }

  test("a GraftSession.builder session's FileContext resolves file: to " +
      "the engine filesystem") {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.getClass == classOf[fs.LocalFs])
  }

  test("the engine filesystem applies each of the 512 rwx modes exactly") {
    val dir = Files.createTempDirectory("graft_modes_")
    val file = Files.createFile(dir.resolve("f"))
    val f = engineFs()
    try (0 until 512).foreach { mode =>
      f.setPermission(new Path(file.toUri), new FsPermission(mode.toShort))
      assert(PosixFilePermissions.toString(
        Files.getPosixFilePermissions(file)) == rwx(mode),
        f"mode 0$mode%03o")
    } finally {
      f.close()
      Files.setPosixFilePermissions(file,
        PosixFilePermissions.fromString("rw-------"))
    }
  }

  test("a sticky-bit mode comes out as chmod sets it") {
    val dir = Files.createTempDirectory("graft_sticky_")
    val f = engineFs()
    try {
      f.setPermission(new Path(dir.toUri), new FsPermission(
        Integer.parseInt("1755", 8).toShort))
      assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] &
        Integer.parseInt("7777", 8)) == Integer.parseInt("1755", 8))
    } finally f.close()
  }
}
