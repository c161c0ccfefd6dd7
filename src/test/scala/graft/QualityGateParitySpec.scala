package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis
import graft.streaming.DocPipeline

/** The streaming quality gate and batch tx02 decide alike: at the default
  * thresholds `DocPipeline.qualityFilter` keeps exactly the documents
  * tx02_quality_score marks `keep`, over a stream as over a table. */
class QualityGateParitySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession()
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("stream/batch quality-gate parity: qualityFilter keeps exactly " +
      "tx02's keep verdicts") {
    val docs = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val verdicts = TextAnalysis.queries("tx02_quality_score")(spark, sf)
      .select(col("doc_id"), col("verdict")).as[(Long, String)].collect()
    val keep = verdicts.collect { case (id, "keep") => id }.toSet
    // both verdicts occur, so the comparison can tell the gate apart
    // from keep-all and drop-all
    assert(keep.nonEmpty && keep.size < verdicts.length)

    val batch = DocPipeline.qualityFilter(docs).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(batch == keep)

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = DocPipeline.qualityFilter(in.toDF().toDF("doc_id", "text"))
      .select(col("doc_id"))
      .writeStream.format("memory").queryName("quality_gate_parity")
      .start()
    try {
      val rows = docs.as[(Long, String)].collect().toSeq
      val (first, second) = rows.splitAt(rows.size / 2)
      in.addData(first: _*)
      q.processAllAvailable()
      in.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("quality_gate_parity").as[Long].collect()
    assert(streamed.length == streamed.toSet.size)
    assert(streamed.toSet == keep)
  }
}
