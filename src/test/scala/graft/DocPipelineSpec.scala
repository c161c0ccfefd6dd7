package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.DocPipeline

/** Streaming document ingest: quality gate + content dedup across
  * micro-batches, with whitespace-normalization catching disguised dups. */
class DocPipelineSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp((10 + minute) * 60000L)

  private val good =
    "spark group query row data slow small filter customer line the batch " +
    "value merge line table data stream join order sort scan hash window " +
    "vector key part agg big fast column dup"

  test("quality gate drops short/repetitive docs; dedup drops content dups") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val df = in.toDF().toDF("doc_id", "text", "ts")
    val q = DocPipeline.ingest(df, minTokens = 20, minTtr = 0.25)
      .writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append).start()

    in.addData(
      (1L, good, ts(0)),
      (2L, "too short", ts(1)),                      // fails minTokens
      (3L, Seq.fill(30)("spam").mkString(" "), ts(2)), // fails TTR
      (4L, good + " ", ts(3)))                       // dup of 1 (normalized)
    q.processAllAvailable()
    in.addData((5L, "  " + good, ts(4)),             // cross-batch dup of 1
      (6L, good.replace("spark", "flink"), ts(5)))   // near-dup but distinct
    q.processAllAvailable()
    q.stop()

    val kept = spark.table("ingest").select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(kept == Seq(1L, 6L))
  }

  test("streaming minhash-LSH finds near-dup pairs within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val df = in.toDF().toDF("doc_id", "text", "ts")
    // threshold below the true jaccard (~0.82) minus ~3 estimator std errs
    val q = DocPipeline.nearDupPairs(df, horizon = "10 minutes",
        threshold = 0.6)
      .writeStream.format("memory").queryName("neardup")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()

    val nearDup = good.replace("slow", "fast") // one word differs
    val unrelated = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")
    in.addData((1L, good, ts(0)), (10L, unrelated, ts(1)))
    q.processAllAvailable()
    in.addData((2L, nearDup, ts(4)))          // within horizon of doc 1
    q.processAllAvailable()
    in.addData((3L, good + " extra", ts(40))) // beyond horizon of doc 1
    // advance watermark far enough to close all join state
    in.addData((99L, unrelated + " tail words here", ts(90)))
    q.processAllAvailable()
    q.stop()

    val pairs = spark.table("neardup").select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))      // near-dup within horizon
    assert(!pairs.exists(p => p._1 == 10L || p._2 == 10L)) // unrelated
    assert(!pairs.contains((1L, 3L)))     // same content, outside horizon
  }

  test("state-store provider is a pure deployment knob: RocksDB run " +
      "emits the identical pair set") {
    // The round-12 state-store A/B (PLANS.md) showed identical output at
    // 100k docs; this pins provider-independence at spec scale. The provider
    // is read from SQLConf per query start, so a session-level set
    // scoped to this test is enough.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, String, Timestamp)]
      val df = in.toDF().toDF("doc_id", "text", "ts")
      val q = DocPipeline.nearDupPairs(df, horizon = "10 minutes",
          threshold = 0.6)
        .writeStream.format("memory").queryName("neardup_rocks")
        .outputMode(OutputMode.Append).start()
      val nearDup = good.replace("slow", "fast")
      val unrelated = ("alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi")
      in.addData((1L, good, ts(0)), (10L, unrelated, ts(1)))
      q.processAllAvailable()
      in.addData((2L, nearDup, ts(4)))
      q.processAllAvailable()
      in.addData((3L, good + " extra", ts(40)))
      in.addData((99L, unrelated + " tail words here", ts(90)))
      q.processAllAvailable()
      q.stop()
      val pairs = spark.table("neardup_rocks").select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)))
      assert(!pairs.exists(p => p._1 == 10L || p._2 == 10L))
      assert(!pairs.contains((1L, 3L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("ingest over a parquet file source, stopped after its first batch " +
      "and restarted from its checkpoint, emits the batch expectation " +
      "exactly once") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import graft.core.Fingerprints
    val root = tempDir("ingest-restart")
    val in = new java.io.File(root, "in")
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    // 30 docs per chunk, one per second: 45 words from a 300-word
    // vocabulary (they pass the default gate), every 10th doc too short
    // to pass, and every 7th plus each chunk's second an exact copy (up
    // to whitespace) of the doc 5 ids earlier, so copies cross every
    // chunk boundary, the restart's included
    val words = (0 until 300).map(i => s"w$i")
    def text(id: Long): String =
      if (id >= 5 && (id % 7 == 3 || id % 30 == 1)) text(id - 5) + "  "
      else if (id % 10 == 9) "too short"
      else (0 until 45).map(j =>
        words(((id * 7919 + j * 104729 + j * j) % 300).toInt)).mkString(" ")
    def writeChunk(k: Int): Unit = graft.core.ParquetFiles.writeSingle(
      (k * 30L until (k + 1) * 30L)
        .map(id => (id, new Timestamp(1704067200000L + id * 1000), text(id)))
        .toDF("doc_id", "ts", "text"),
      new java.io.File(in, s"chunk-$k.parquet"))
    def start() = DocPipeline.ingest(
      spark.readStream.schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(in.getPath))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      Seq(0, 1).foreach(writeChunk)
      // run 1: stopped as soon as its first batch is committed (the
      // second may be in flight: its uncommitted output must stay
      // invisible and the batch replay on restart)
      val q1 = start()
      while (!q1.recentProgress.exists(_.numInputRows > 0)) {
        if (!q1.isActive) q1.awaitTermination()
        Thread.sleep(10)
      }
      q1.stop()
      assert(spark.read.parquet(out).count() > 0)
      // run 2: restarted from the checkpoint with two more chunks
      Seq(2, 3).foreach(writeChunk)
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      val fps = (df: org.apache.spark.sql.DataFrame) =>
        df.select(Fingerprints.content(col("text")).cast("string"))
          .as[String].collect().toSeq
      val want = fps(DocPipeline.qualityFilter(
        spark.read.parquet(in.getPath))).distinct.sorted
      val got = spark.read.parquet(out)
      assert(fps(got).sorted == want)
      assert(got.select("doc_id").distinct().count() == want.size,
        "a doc_id was emitted twice")
      assert(want.size < 120 - 12, "the fixture plants no duplicates")
    } finally org.apache.spark.network.util.JavaUtils.deleteRecursively(root)
  }

  test("scoreQuality: streamed classifier scores are row-identical to " +
      "batch tx28 (train offline, score online)") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val w = graft.operators.Learn.trainWeights(spark, sf)
    val want = SparkEntry.queries("tx28_quality_classifier")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    spark.catalog.clearCache()

    val docs = graft.core.Tables(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val in = MemoryStream[(Long, String, Timestamp)]
    val df = in.toDF().toDF("doc_id", "text", "ts")
    val q = DocPipeline.scoreQuality(df, w)
      .select("doc_id", "score_micro", "pred")
      .writeStream.format("memory").queryName("scored")
      .outputMode(OutputMode.Append).start()
    // two batches, split mid-corpus: scoring must be batch-invariant
    val (a, b) = docs.splitAt(docs.length / 2)
    in.addData(a.toSeq.map { case (id, t) => (id, t, ts(0)) })
    q.processAllAvailable()
    in.addData(b.toSeq.map { case (id, t) => (id, t, ts(1)) })
    q.processAllAvailable()
    q.stop()

    val got = spark.table("scored")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == want, "stream scores must equal batch tx28 exactly")
  }
}
