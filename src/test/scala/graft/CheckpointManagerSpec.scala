package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LocalCheckpointFileManager, LocalFs}
import graft.streaming.{RainStormApps, RainStormJob}

/** The engine's checkpoint file manager: which manager each filesystem
  * gets, and that checkpoints written under Spark's default manager stay
  * readable. */
class CheckpointManagerSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkTestSession()

  private def chosen(s: SparkSession, path: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(path), s.sessionState.newHadoopConf())
      match {
        case m: LocalCheckpointFileManager => m.delegate
        case m => m
      }

  test("local paths get the FileSystem-based manager, others Spark's") {
    val dir = tempDir("ckpt-select")
    // scheme-less and file: paths both resolve to LocalFileSystem
    assert(chosen(spark, dir.getPath)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(chosen(spark, dir.toURI.toString)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])

    // a viewfs mount over the same directory resolves offline to a
    // filesystem that is not LocalFileSystem: Spark's FileContext manager
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.viewfs.mounttable.graftck.link./ck", dir.toURI.toString)
    val fm = CheckpointFileManager.create(new Path("viewfs://graftck/ck"), conf)
    val m = fm.asInstanceOf[LocalCheckpointFileManager].delegate
    assert(m.isInstanceOf[FileContextBasedCheckpointFileManager])
    val os = fm.createAtomic(new Path("viewfs://graftck/ck/0"),
      overwriteIfPossible = false)
    os.write(7); os.close()
    assert(new java.io.File(dir, "0").length() == 1)
  }

  /** A `complexApp` checkpoint and output written by `first`, then the
    * same job restarted under the engine session: per key, the emitted
    * running counts are exactly 1..n. Returns the restarted query. */
  private def restartsUnderEngine(first: SparkSession,
      ckptMustUse: Class[_]): StreamingQuery = {
    val root = tempDir("ckpt-compat")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    def writeCsv(from: Int, until: Int): Unit = Files.write(
      new java.io.File(in, s"f$from.csv").toPath,
      (from until until).map(i => s"$i,k${i % 7},${if (i % 3 == 0) "x" else "y"}")
        .mkString("\n").getBytes("UTF-8"))
    val ops = RainStormApps.complexApp(2, "x", 1)

    assert(ckptMustUse.isInstance(chosen(first, ckpt)))
    writeCsv(0, 300)
    RainStormJob.start(first, in.getPath, ops, out, ckpt, stateful = true)
      .awaitTermination()

    writeCsv(300, 600)
    val restarted =
      RainStormJob.start(spark, in.getPath, ops, out, ckpt, stateful = true)
    restarted.awaitTermination()

    val emitted = TempDirs.committedLines(spark, out)
      .map { l => val Array(k, n) = l.split(":"); k -> n.toInt }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val want = (0 until 600).filter(_ % 3 == 0).groupBy(i => s"k${i % 7}")
      .map { case (k, v) => k -> (1 to v.size) }
    assert(emitted == want)
    restarted
  }

  test("a checkpoint written under Spark's default manager restarts") {
    val legacy = spark.newSession()
    legacy.conf.unset(LocalCheckpointFileManager.ConfKey)
    restartsUnderEngine(legacy, classOf[FileContextBasedCheckpointFileManager])
  }

  test("a checkpoint written by Hadoop's own local filesystem restarts") {
    // what `file:` resolves to without the engine's fs.file.impl
    val stock = FileSystem.getFileSystemClass("file", new Configuration())
    assert(stock != classOf[LocalFs])
    // the shared SparkContext carries the engine's key, so the session
    // names the stock class; uncached, so the engine's cached instance
    // is neither returned nor replaced. The checkpoint and the sink both
    // read the session's Hadoop conf, so both use the stock class.
    val plain = spark.newSession()
    plain.conf.set("fs.file.impl", stock.getName)
    plain.conf.set("fs.file.impl.disable.cache", "true")
    val dir = tempDir("ckpt-stock").getPath
    assert(new Path(dir).getFileSystem(plain.sessionState.newHadoopConf())
      .getClass == stock)
    restartsUnderEngine(plain, classOf[FileSystemBasedCheckpointFileManager])
  }

  test("a checkpoint written at another state width restarts at that width") {
    // the engine session runs 4 shuffle partitions; the checkpoint records
    // the width it was written with, and its state stays partitioned so
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "7")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val restarted = restartsUnderEngine(wide,
      classOf[FileSystemBasedCheckpointFileManager])
    val state = restarted.recentProgress.filter(_.numInputRows > 0)
      .last.stateOperators.head
    assert(state.numStateStoreInstances == 7)
    assert(state.numShufflePartitions == 7)
  }
}
