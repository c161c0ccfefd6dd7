package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf
import graft.core.{LocalCheckpointFileManager, LocalFs}
import graft.streaming.{RainStormApps, RainStormJob}
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache holds the q01-q33 family's working set:
  * a second pass over the family compiles nothing. The family generates
  * far more distinct sources than Spark's default cap of 100, so without
  * `EngineConf`'s cap the LRU cache evicts them between passes and the
  * second pass recompiles. A restarted streaming query finds its classes
  * too: the cache is keyed by classloader, and with artifact isolation
  * off every session's tasks share one. */
class CodegenCacheSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  private val family = SparkEntry.queries.toSeq
    .filter { case (n, _) => n.matches("q(0[1-9]|[12][0-9]|3[0-3])_.*") }
    .sortBy(_._1)

  private def pass(): Unit = family.foreach { case (_, fn) =>
    try fn(spark, sf).write.format("noop").mode("overwrite").save()
    finally spark.catalog.clearCache()
  }

  test("the session's codegen cache cap is EngineConf's") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) ==
      graft.core.EngineConf.CodegenCacheMaxEntries.toString)
    // the other shared settings too: the test session is built by
    // EngineConf.builder, like every engine session
    val shared = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.files.openCostInBytes" -> "512k",
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName,
      LocalCheckpointFileManager.ConfKey ->
        classOf[LocalCheckpointFileManager].getName)
    assert(shared.filter { case (k, v) => spark.conf.get(k) != v } == Nil)
  }

  test("a second pass over q01-q33 compiles no generated class") {
    assert(family.size == 33)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    pass()
    val c1 = compiles.getCount
    pass()
    assert(compiles.getCount - c1 == 0)
  }

  test("a stateful query restarted on its checkpoint compiles no " +
      "generated class") {
    val root = tempDir("codegen-restart")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val lines = RainStormApps.syntheticChurnLines(900)
    val ops = RainStormApps.complexApp(5, "Female", 11)
    // one AvailableNow run over a new file: start, one batch, stop
    def run(from: Int): Unit = {
      Files.write(new java.io.File(in, s"f$from.csv").toPath,
        lines.slice(from, from + 300).mkString("\n").getBytes("UTF-8"))
      RainStormJob.start(spark, in.getPath, ops, out, ckpt, stateful = true)
        .awaitTermination()
    }

    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    // the first run's batch finds no prior state; the second one's does,
    // and compiles the state deserializer that path needs
    run(0)
    run(300)
    val c1 = compiles.getCount
    run(600)
    assert(compiles.getCount - c1 == 0)
    // the restart ran a batch: the running counts reach the full input's
    val last = TempDirs.committedLines(spark, out)
      .map { l => val Array(k, n) = l.split(":"); k -> n.toInt }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
    assert(last == Map("0" -> 225, "1" -> 225))
  }
}
