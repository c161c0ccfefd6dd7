package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The engine's streaming checkpoint file manager, registered by
  * [[EngineConf]] through `spark.sql.streaming.checkpointFileManagerClass`.
  * Every checkpoint write goes through it: the source log, the offset log
  * (`walCommit`), the commit log (`commitOffsets`) and each state-store
  * delta file.
  *
  * A path that resolves to Hadoop's `LocalFileSystem` gets Spark's
  * `FileSystemBasedCheckpointFileManager`; every other filesystem gets
  * exactly what Spark would pick with the conf unset (its `FileContext`
  * manager, or the FileSystem one where `FileContext` is unsupported).
  * The decision is by the resolved FileSystem, not the literal scheme, so
  * scheme-less paths under the default `file:///` filesystem count as
  * local.
  *
  * Why: without Hadoop's native library, the local filesystem launches a
  * process for each permission change (`chmod` of a new file and of its
  * `.crc`) and, under `FileContext`, for each symlink lookup (`readlink`,
  * several per rename). One atomic checkpoint write launched ten
  * processes and took ≈28 ms through `FileContext`, against two and
  * ≈6 ms through the FileSystem API, and a micro-batch pays it once per
  * log and per state-store delta (OPTIMIZATION_r18.md). Locally nothing
  * is weakened: both managers
  * write a temp file and rename it, POSIX rename is atomic, and both check
  * for an existing destination before a no-overwrite rename. An
  * overwriting rename onto an existing file may keep that file; Spark asks
  * for overwrite only where a retried task rewrites the same state
  * version from the same input. HDFS and object stores keep Spark's
  * default (on HDFS, `FileContext` with its atomic overwrite-rename).
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    path.getFileSystem(conf) match {
      case _: LocalFileSystem =>
        new FileSystemBasedCheckpointFileManager(path, conf)
      case _ =>
        // Spark's own choice: the same conf without this class
        val plain = new Configuration(conf)
        plain.unset(LocalCheckpointFileManager.ConfKey)
        CheckpointFileManager.create(path, plain)
    }

  def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  def open(p: Path) = delegate.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  def exists(p: Path): Boolean = delegate.exists(p)
  def delete(p: Path): Unit = delegate.delete(p)
  def isLocal: Boolean = delegate.isLocal
  def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
