package graft.io

import java.io.FileNotFoundException
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local `file:` file system with fork-free permission changes.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process. The parquet writer calls it for every data
  * file, `.crc` sidecar and directory it creates. This subclass applies
  * the same mode through `java.nio.file.Files.setPosixFilePermissions`
  * in the JVM. Everything else, checksums included, is the stock
  * `LocalFileSystem`. Modes NIO cannot express (the sticky bit) and file
  * systems without POSIX attributes take the stock path.
  *
  * Register it as `fs.file.impl`; [[graft.SessionDefaults]] does.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private val hasPosix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit || !hasPosix) super.setPermission(p, permission)
      else
        // without the sticky bit, FsPermission prints as "rwxr-x---"
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        catch { case e: NoSuchFileException =>
          throw new FileNotFoundException(e.getMessage)
        }
  }
}
