package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LocalCheckpointFileManager
import graft.streaming.{RainStormApps, RainStormJob}

/** The engine's checkpoint file manager: which manager each filesystem
  * gets, and that checkpoints written under Spark's default manager stay
  * readable. */
class CheckpointManagerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession()

  private def chosen(s: SparkSession, path: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(path), s.sessionState.newHadoopConf())
      match {
        case m: LocalCheckpointFileManager => m.delegate
        case m => m
      }

  test("local paths get the FileSystem-based manager, others Spark's") {
    val dir = Files.createTempDirectory("ckpt-select").toFile
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

  test("a checkpoint written under Spark's default manager restarts") {
    val root = Files.createTempDirectory("ckpt-compat").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    def writeCsv(from: Int, until: Int): Unit = Files.write(
      new java.io.File(in, s"f$from.csv").toPath,
      (from until until).map(i => s"$i,k${i % 7},${if (i % 3 == 0) "x" else "y"}")
        .mkString("\n").getBytes("UTF-8"))
    val ops = RainStormApps.complexApp(2, "x", 1)

    val legacy = spark.newSession()
    legacy.conf.unset(LocalCheckpointFileManager.ConfKey)
    assert(chosen(legacy, ckpt).isInstanceOf[FileContextBasedCheckpointFileManager])
    writeCsv(0, 300)
    RainStormJob.start(legacy, in.getPath, ops, out, ckpt, stateful = true)
      .awaitTermination()

    writeCsv(300, 600)
    RainStormJob.start(spark, in.getPath, ops, out, ckpt, stateful = true)
      .awaitTermination()

    // per key, the emitted running counts are exactly 1..n
    def parts(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(parts)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    val emitted = parts(new java.io.File(out))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
      .map { l => val Array(k, n) = l.split(":"); k -> n.toInt }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val want = (0 until 600).filter(_ % 3 == 0).groupBy(i => s"k${i % 7}")
      .map { case (k, v) => k -> (1 to v.size) }
    assert(emitted == want)
  }
}
