package graft.io

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` FileSystem of every engine session (`GraftSession` sets
  * `spark.hadoop.fs.file.impl`): Hadoop's stock checksummed
  * `LocalFileSystem`, so `.crc` sidecars are still written and verified,
  * over a raw layer whose one change is how it sets permissions.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file it creates, every `.crc` and every
  * directory — about 8 forks per output file of a partitioned write into
  * fresh `col=value/` dirs (~5.5 ms each on a 4-core host), which was
  * most of the export's write phase. `NioPermissions` sets the same mode
  * bits with one `chmod` system call through `java.nio`. */
class LocalFs extends LocalFileSystem(new LocalFs.NioPermissions)

object LocalFs {

  class NioPermissions extends RawLocalFileSystem {
    /** Stock behaviour when native IO is loaded (it already avoids the
      * fork), for the sticky bit (the one mode bit above `rwxrwxrwx` an
      * `FsPermission` carries; `PosixFilePermission` has none), and where
      * the platform has no POSIX attribute view (Windows). */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (NativeIO.isAvailable || permission.getStickyBit || view == null)
        super.setPermission(p, permission)
      else
        view.setPermissions(PosixFilePermissions.fromString(
          permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
            permission.getOtherAction.SYMBOL))
    }
  }
}
