package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The nio-permission local filesystem against Hadoop's own: same modes on
  * every directory, file and `.crc` it makes. Both instances are built
  * directly, so the JVM-wide `FileSystem` cache is never consulted. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def open(fs: LocalFileSystem): LocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private def hadoop() = open(new LocalFileSystem())
  private def nio() = open(new NioLocalFileSystem())

  /** Permission and special bits (07777) of `p`. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def hPath(p: JPath) = new Path(p.toUri)
  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(oct(s).toShort)

  /** Modes of `a/`, `a/b/`, a parquet-named file in it and its `.crc`, made
    * by `fs` under a fresh root, with explicit modes where given. */
  private def made(fs: LocalFileSystem, dirPerm: Option[FsPermission],
      filePerm: Option[FsPermission]): Map[String, Int] = {
    val root = Files.createTempDirectory("nio-fs")
    val dir = hPath(root.resolve("a/b"))
    assert(dirPerm.fold(fs.mkdirs(dir))(fs.mkdirs(dir, _)))
    val file = new Path(dir, "part-00000.parquet")
    val out = filePerm.fold(fs.create(file))(
      fs.create(file, _, true, 4096, 1.toShort, 1L << 25, null))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    Seq("a", "a/b", "a/b/part-00000.parquet", "a/b/.part-00000.parquet.crc")
      .map(r => r -> mode(root.resolve(r))).toMap
  }

  test("mkdirs and create give Hadoop's modes: default umask and explicit 0700/0600") {
    val default = made(nio(), None, None)
    assert(default === made(hadoop(), None, None))
    assert(default === Map("a" -> oct("755"), "a/b" -> oct("755"),
      "a/b/part-00000.parquet" -> oct("644"), "a/b/.part-00000.parquet.crc" -> oct("644")))
    val explicit = made(nio(), Some(perm("700")), Some(perm("600")))
    assert(explicit === made(hadoop(), Some(perm("700")), Some(perm("600"))))
    assert(explicit("a/b") === oct("700") && explicit("a/b/part-00000.parquet") === oct("600"))
  }

  test("a sticky mode and a setgid directory go through Hadoop's own chmod") {
    val root = Files.createTempDirectory("nio-fs-special")
    // nio cannot set the sticky bit: only Hadoop's chmod gives 1777
    val sticky = root.resolve("sticky")
    Files.createDirectory(sticky)
    nio().setPermission(hPath(sticky), perm("1777"))
    assert(mode(sticky) === oct("1777"))
    // a child of a setgid directory inherits setgid; a 4-digit `chmod`
    // keeps it where a nio chmod(2) would clear it
    val sgid = root.resolve("sgid")
    Files.createDirectory(sgid)
    assert(new ProcessBuilder("chmod", "2755", sgid.toString).start().waitFor() === 0)
    val byNio = hPath(sgid.resolve("nio"))
    val byHadoop = hPath(sgid.resolve("hadoop"))
    assert(nio().mkdirs(byNio) && hadoop().mkdirs(byHadoop))
    assert(mode(sgid.resolve("nio")) === mode(sgid.resolve("hadoop")))
    assert(mode(sgid.resolve("nio")) === oct("2755"))
  }
}
