package graft

import java.nio.file.Files

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.streaming.RainStormJob

/** Temp directories of one suite, deleted in `afterAll`, after the
  * streaming queries still running on the default session have been
  * stopped (a running query would write into a directory being
  * deleted). */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val roots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A new directory under `java.io.tmpdir`, named `<prefix><random>`. */
  def tempDir(prefix: String): java.io.File = {
    val dir = Files.createTempDirectory(prefix).toFile
    roots.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try {
      SparkSession.getDefaultSession.foreach(_.streams.active.foreach(_.stop()))
      roots.forEach(JavaUtils.deleteRecursively(_))
    } finally super.afterAll()
}

object TempDirs {

  /** The lines of `RainStormJob.committed(spark, outDir)`, read through
    * the session's Hadoop filesystem. */
  def committedLines(spark: SparkSession, outDir: String): Seq[String] =
    RainStormJob.committed(spark, outDir).flatMap { p =>
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val src = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
      try src.getLines().toList finally src.close()
    }
}
