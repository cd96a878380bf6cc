package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` FileSystem ([[Engine.session]] registers it as
  * `fs.file.impl`): Hadoop's checksummed `LocalFileSystem` over a raw
  * local FileSystem that sets permissions through java.nio.
  *
  * Without the native Hadoop library, Hadoop's raw local FileSystem
  * forks a `chmod` process for every `setPermission`, and every file
  * create, `.crc` create and directory made by `mkdirs` calls it — about
  * four forks per partition file of a partitioned write. Everything else
  * (files, checksums, permission bits) is Hadoop's own code.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` is one `chmod(2)` through
  * `Files.setPosixFilePermissions` instead of a forked `chmod` process.
  * It maps exactly the nine rwx bits; a mode with any other bit (sticky,
  * setuid, setgid), a file store without POSIX attributes, or a
  * directory that carries setuid/setgid (which `chmod 0755` keeps and
  * `chmod(2)` would clear) goes to Hadoop's own call.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val file = pathToFile(p).toPath
    val current =
      try Some(Files.getAttribute(file, "unix:mode").asInstanceOf[Int])
      catch { case _: UnsupportedOperationException | _: IllegalArgumentException => None }
    val keepsSpecialBits = current.exists(m => (m & 0xF000) == 0x4000 && (m & 0xC00) != 0)
    if (current.isEmpty || (mode & ~0x1FF) != 0 || keepsSpecialBits) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, NioRawLocalFileSystem.posix(mode))
  }
}

object NioRawLocalFileSystem {

  // owner rwx, group rwx, others rwx: bit 8 down to bit 0
  private val Order = PosixFilePermission.values()

  /** The POSIX permission set of the rwx bits of `mode`. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Order.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(Order(i)))
    s
  }
}
