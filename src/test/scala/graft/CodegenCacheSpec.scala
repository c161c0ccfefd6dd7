package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf
import graft.core.LocalCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache holds the q01-q33 family's working set:
  * a second pass over the family compiles nothing. The family generates
  * far more distinct sources than Spark's default cap of 100, so without
  * `EngineConf`'s cap the LRU cache evicts them between passes and the
  * second pass recompiles. */
class CodegenCacheSpec extends AnyFunSuite {

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
}
