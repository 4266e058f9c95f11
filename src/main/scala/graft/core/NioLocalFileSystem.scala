package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** Hadoop's checksummed local filesystem, with permissions set through
  * java.nio instead of a forked `chmod`.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process (`Shell.execCommand`), and the local
  * filesystem calls it for every directory it creates, every parquet file
  * and every `.crc` file: about 1,170 forks per perfbench store build. Here
  * a plain rwx mode is one `chmod(2)` through
  * `Files.setPosixFilePermissions`, with the same 9 bits. Everything else
  * falls through to Hadoop's own code: a mode with the sticky bit, a
  * directory that already carries setuid/setgid (the `chmod`
  * command keeps those on a directory under a 4-digit mode, nio would
  * clear them) and a file store without POSIX attributes. So directories,
  * files, `.crc` files and their modes come out as Hadoop's would.
  *
  * Installed per write by [[NioLocalFileSystem.writer]], never per session.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private[core] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0 || !setRwx(pathToFile(p).toPath, mode))
        super.setPermission(p, permission)
    }
  }

  /** Sets the 9 rwx bits of `mode` on `f`; false where Hadoop's `chmod`
    * must run instead (see the class doc). */
  private def setRwx(f: java.nio.file.Path, mode: Int): Boolean =
    scala.util.Try(Files.getAttribute(f, "unix:mode").asInstanceOf[Int]).toOption
      .exists { current =>
        val dirSetId = (current & 0xf000) == 0x4000 && (current & 0xc00) != 0 // S_IFDIR, 06000
        !dirSetId && {
          val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
          // OWNER_READ .. OTHERS_EXECUTE are declared in mode-bit order, 0400 .. 0001
          PosixFilePermission.values.foreach { pm =>
            if ((mode & (0x100 >> pm.ordinal)) != 0) perms.add(pm)
          }
          Files.setPosixFilePermissions(f, perms)
          true
        }
      }

  /** `df.write` with this filesystem installed for the `file` scheme of
    * THAT write only — every parquet write of the library goes through it.
    *
    * Spark copies writer options into the write job's own Hadoop conf
    * (`newHadoopConfWithOptions`), which the committer, the task writers
    * and the overwrite delete all resolve their filesystem from. Hadoop's
    * `FileSystem` cache is keyed by scheme, not by conf, so without
    * `disable.cache` `FileSystem.get` would hand back the `LocalFileSystem`
    * already cached for `file`; with it, the write gets its own instance.
    * The caller's session, its `SparkContext.hadoopConfiguration`, the
    * JVM-wide cache and every other scheme (hdfs, s3a) are untouched.
    */
  def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write
      .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
}
