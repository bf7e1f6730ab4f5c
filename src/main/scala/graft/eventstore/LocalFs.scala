package graft.eventstore

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset}

/** Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process for every file, `.crc` and directory a write creates (one
  * 25k-event batch over 64 streams: ≈196 forks). This sets the same
  * nine rwx bits with one `setPosixFilePermissions` call instead. A mode
  * with any other bit (sticky, setuid, setgid) or a filesystem without
  * POSIX attributes keeps the Hadoop path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        // "rw-r--r--"; not permission.toString: subclasses such as FsCreateModes override it
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object LocalFs {

  private[eventstore] val writeOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `ds.write` whose job uses [[NioLocalFileSystem]] for `file://`
    * paths. Spark copies writer options into the write job's Hadoop
    * conf only, so reads keep the JVM-cached default filesystem; the
    * cache is bypassed for the write because its key ignores the conf. */
  def write[T](ds: Dataset[T]): DataFrameWriter[T] = ds.write.options(writeOptions)
}
