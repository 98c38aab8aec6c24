package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` file system: Hadoop's checksummed
  * [[org.apache.hadoop.fs.LocalFileSystem]] over a raw local file system
  * that sets permissions in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and Hadoop calls it for every file and directory it creates
  * (each part file, its `.crc` twin, and the committer's `_temporary`
  * directories). On a 4-core host one such call cost 3.1-3.5 ms against
  * 0.03-0.04 ms for the same change through `java.nio`, and an HTAP
  * statement round forked about 57 of them, on the driver and on
  * executor threads. [[NioLocalFileSystem.Raw]] applies the mode Hadoop
  * has already computed (its default under the configured umask, or the
  * caller's) with `Files.setPosixFilePermissions`; everything else,
  * checksum files and their verification included, is Hadoop's own.
  * [[Engine.configure]] registers the class as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `PosixFilePermission`'s constants, from owner read (mode bit 0400)
    * down to others execute (0001). */
  private val Bits = PosixFilePermission.values()

  /** The nine rwx bits of `mode` as a permission set. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) set.add(Bits(i)))
    set
  }

  /** `RawLocalFileSystem` whose `setPermission` runs no process. A mode
    * with bits nio cannot express (sticky, setuid, setgid) and a store
    * without POSIX attributes go to Hadoop's own implementation. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xfff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
    }
  }
}
