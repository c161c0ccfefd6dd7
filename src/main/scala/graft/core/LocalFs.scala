package graft.core

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's filesystem for `file:` paths, registered by [[EngineConf]]
  * as `spark.hadoop.fs.file.impl`, so every local write of an engine
  * session goes through it, on the driver and on the executors:
  * checkpoint logs and state-store deltas, the RainStorm sink, IndexStore
  * and every other parquet write.
  *
  * It is Hadoop's checksummed `LocalFileSystem` (`.crc` files are kept,
  * and [[LocalCheckpointFileManager]] still sees a `LocalFileSystem`) with
  * two differences from Hadoop's own:
  *  - Permissions. Without Hadoop's native library,
  *    `RawLocalFileSystem.setPermission` launches a `chmod` process, once
  *    for every new file, once for its `.crc` and once for every new
  *    directory. Here a plain `rwxrwxrwx` mode is set with a `chmod`
  *    syscall through NIO instead. Hadoop's own path still runs where a
  *    syscall would give other bits than GNU `chmod`: a mode with the
  *    sticky bit, a directory that already has its setuid or setgid bit
  *    (numeric `chmod` keeps those on a directory, the syscall clears
  *    them), and a filesystem without POSIX attributes.
  *  - Rename. A rename onto an existing file returns false and leaves
  *    that file in place, as Hive's `ProxyLocalFileSystem` does. That is
  *    the class `file:` resolves to without this setting (it comes last
  *    in `hive-exec`'s service file), and `RainStormJob.textSink` relies
  *    on the contract.
  *
  * The kernel's process counter, threads included, rose by 8,234-9,171
  * per `rainstorm` benchmark run with Hadoop's path and by 654-713 with
  * this one, nearly all of it the JVM's threads (OPTIMIZATION_r21.md).
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {

  override def rename(src: Path, dst: Path): Boolean =
    !isExistingFile(dst) && super.rename(src, dst)

  private def isExistingFile(p: Path): Boolean =
    try getFileStatus(p).isFile
    catch { case _: FileNotFoundException => false }
}

object LocalFs {

  /** Hadoop's raw local filesystem, with a `chmod` syscall in place of a
    * `chmod` process where both give the same bits. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0 || !chmod(pathToFile(p).toPath, mode))
        super.setPermission(p, permission)
    }
  }

  private val S_IFMT = 0xf000    // 0170000
  private val S_IFDIR = 0x4000   // 0040000
  private val SetIdBits = 0xc00  // 06000

  // POSIX permission enum order is owner r/w/x, group r/w/x, others r/w/x
  private val Bits = PosixFilePermission.values.toSeq
    .zipWithIndex.map { case (perm, i) => perm -> (0x100 >> i) }

  /** Sets the nine permission bits of `f` with one syscall. False, and
    * nothing changed, where Hadoop's path must run instead. */
  private def chmod(f: NioPath, mode: Int): Boolean =
    try {
      val current = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      if ((current & S_IFMT) == S_IFDIR && (current & SetIdBits) != 0) false
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        Bits.foreach { case (perm, bit) => if ((mode & bit) != 0) perms.add(perm) }
        Files.setPosixFilePermissions(f, perms)
        true
      }
    } catch { case _: UnsupportedOperationException => false }
}
