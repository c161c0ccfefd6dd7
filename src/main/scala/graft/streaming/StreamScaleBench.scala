package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Generated-scale streaming evidence for the DocPipeline ingest path.
  *
  * The BASELINE streaming bench runs the reference's own 10k-row
  * fixtures — right for the baseline comparison, but it never exercises
  * the bounded-state claims (fingerprint-only dedup state, watermarked
  * band-join state) above fixture scale. This main drip-feeds >= 1M
  * deterministic generated docs through `DocPipeline.ingest` as a real
  * file-source stream (maxFilesPerTrigger-bounded micro-batches), KILLS
  * the query mid-stream and restarts it from the checkpoint, and
  * reports:
  *
  *  - end-to-end input rec/s across both runs (wall clock includes the
  *    restart recovery),
  *  - steady-state per-batch processedRowsPerSecond (median over the
  *    batches of the second, warmed run),
  *  - the dedup operator's state-store footprint (rows + bytes) from
  *    the final progress. dropDuplicatesWithinWatermark evicts with the
  *    watermark of the PREVIOUS trigger, so the reported rows track the
  *    last trigger's survivors plus the horizon — bounded by trigger
  *    size + horizon, independent of corpus size (measured: 25.7k rows
  *    whether the corpus is 100k or 1M docs), which is the claim under
  *    test,
  *  - an exactly-once check: output rows after kill+restart equal the
  *    batch-computed expectation (quality gate + global fingerprint
  *    distinct — equivalent here because every planted duplicate lands
  *    within the horizon), with zero double-emits.
  *
  * A smaller (default 100k-doc) pass drives `nearDupPairs`' watermarked
  * band self-join at 10x the fixture scale and reports its join-state
  * size the same way.
  *
  * Usage: runMain graft.streaming.StreamScaleBench [nDocs] [nNearDup]
  * Writes one JSON line + bench_stream_scale.json.
  */
object StreamScaleBench {

  /** Deterministic doc chunk [lo, hi): ~5% near-in-time exact
    * duplicates (copy of a doc <= 19 ids earlier — well inside the
    * watermark horizon), 1000-word vocabulary (accidental whole-text
    * collisions are ~(1/1000)^40 — planted dups are the only dups),
    * 8..100-word lengths, ts = one doc per second. */
  private def docs(spark: SparkSession, lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    def h(c: org.apache.spark.sql.Column, salt: String) =
      xxhash64(c, lit(salt))
    spark.range(lo, hi, 1, 8).toDF("doc_id")
      .withColumn("base", when(
        pmod(h($"doc_id", "dup"), lit(100L)) < 5 && $"doc_id" >= 20,
        $"doc_id" - (pmod(h($"doc_id", "delta"), lit(19L)) + 1))
        .otherwise($"doc_id"))
      .withColumn("len",
        (pmod(h($"base", "len"), lit(93L)) + 8).cast("int"))
      .withColumn("text", array_join(transform(sequence(lit(1), $"len"),
        i => concat(lit("w"),
          pmod(xxhash64($"base", i, lit("w")), lit(1000L)))), " "))
      .withColumn("ts",
        (lit(1704067200L) + $"doc_id").cast("timestamp"))
      .select("doc_id", "ts", "text")
  }

  /** Drip-feed layout: nFiles single-file chunks in one source dir. */
  private def writeChunks(spark: SparkSession, dir: java.io.File,
      n: Long, nFiles: Int): Unit = {
    val per = n / nFiles
    (0 until nFiles).foreach { i =>
      graft.core.ParquetFiles.writeSingle(
        docs(spark, i * per, if (i == nFiles - 1) n else (i + 1) * per),
        new java.io.File(dir, f"chunk-$i%04d.parquet"))
    }
  }

  private def jnum(v: Double): String = f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nNear = if (args.length > 1) args(1).toLong else 100000L
    // Optional 3rd arg: near-dup join horizon. The DEFAULT store
    // (HDFSBacked) keeps live state as on-heap maps — at a long horizon
    // (hours of event time x 32 bands x 2 sides x 2 join stores) state
    // outgrows the heap, which is the real failure mode for a
    // production dedup stream. SPARK_GRAFT_STATE_STORE=rocksdb swaps in
    // the RocksDB provider (native memory + disk, snapshot/changelog
    // checkpointing) — the 100 TB-scale configuration; the bench
    // stamps which one ran so A/Bs are self-describing.
    val horizon = if (args.length > 2) args(2) else "10 minutes"
    val store = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs")
    val spark = graft.core.EngineConf.builder("graft-stream-scale")
      .config("spark.sql.streaming.stateStore.providerClass",
        if (store == "rocksdb")
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        else
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("stream-scale").toFile

    // ---- ingest (quality gate + fingerprint dedup) at nDocs ----------
    val in = new java.io.File(root, "in")
    writeChunks(spark, in, nDocs, 50)
    // batch-computed expectation: the gate's survivors, one per distinct
    // fingerprint (== watermark-horizon dedup here: planted dups are
    // <= 19 s apart, the horizon is minutes)
    val expected = DocPipeline.qualityFilter(
        spark.read.parquet(in.getPath))
      .select(graft.core.Fingerprints.content(col("text")))
      .distinct().count()

    val outDir = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    def startIngest() = DocPipeline.ingest(
      spark.readStream.schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", 2).parquet(in.getPath))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()

    // run 1: process ~half the input, then KILL mid-stream
    val t0 = System.nanoTime()
    val q1 = startIngest()
    var seen = 0L
    while (seen < nDocs / 2) {
      Thread.sleep(200)
      // A failed query stops reporting progress; without this check the
      // poll loop would spin forever instead of surfacing the error
      // (state-store OOM at a long horizon is exactly what the horizon
      // arg exists to probe).
      if (!q1.isActive) q1.awaitTermination()
      seen = q1.recentProgress.map(_.numInputRows).sum
    }
    q1.stop(); q1.awaitTermination()
    val killedAfterRows = seen

    // run 2: restart from the checkpoint, drain the rest (an in-flight
    // batch at kill time is replayed; the file sink's commit log keeps
    // its uncommitted output invisible, so no double emit)
    val q2 = startIngest()
    q2.processAllAvailable()
    val wallS = (System.nanoTime() - t0) / 1e9
    val p2 = q2.recentProgress.filter(_.numInputRows > 0)
    val steadyRates = p2.map(_.processedRowsPerSecond).sorted
    val steady =
      if (steadyRates.isEmpty) 0.0 else steadyRates(steadyRates.length / 2)
    val lastState = p2.reverse.flatMap(_.stateOperators.headOption)
      .headOption
    val (stateRows, stateBytes) = lastState
      .map(s => (s.numRowsTotal, s.memoryUsedBytes)).getOrElse((-1L, -1L))
    q2.stop(); q2.awaitTermination()

    val outRows = spark.read.parquet(outDir).count()
    val dupEmits = spark.read.parquet(outDir)
      .groupBy(col("doc_id")).count().filter(col("count") > 1).count()
    val exactlyOnce = outRows == expected && dupEmits == 0

    // ---- near-dup band join at nNear ---------------------------------
    val nin = new java.io.File(root, "nin")
    // 50 chunks -> 2-file triggers hold 1/25 of the corpus (4000 s of
    // event time at the default nNear). The stream-stream join evicts
    // with the END-of-batch watermark, so the REPORTED state rows are
    // horizon-exact regardless of trigger size (measured: 76,864 =
    // 600 s x 32 bands x 2 sides x 2 join stores at the default
    // horizon; 921,664 at 2 hours — both match the formula to the
    // row). Trigger size still bounds the WITHIN-batch state peak
    // (batch + horizon rows live during processing), so finer triggers
    // keep the peak near the steady value the horizon claim is about.
    writeChunks(spark, nin, nNear, 50)
    val nOut = new java.io.File(root, "nout").getPath
    val nt0 = System.nanoTime()
    val nq = DocPipeline.nearDupPairs(
      spark.readStream.schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", 2).parquet(nin.getPath),
      horizon = horizon)
      .writeStream.format("parquet")
      .option("path", nOut)
      .option("checkpointLocation", new java.io.File(root, "nckpt").getPath)
      .trigger(Trigger.AvailableNow()).start()
    nq.awaitTermination()
    val nearWallS = (System.nanoTime() - nt0) / 1e9
    val nearState = nq.recentProgress.reverse
      .flatMap(_.stateOperators.headOption).headOption
    val (nsRows, nsBytes) = nearState
      .map(s => (s.numRowsTotal, s.memoryUsedBytes)).getOrElse((-1L, -1L))
    val nearPairs = spark.read.parquet(nOut)
      .select("d1", "d2").distinct().count()

    val json =
      s"""{"metric":"stream_scale","n_docs":$nDocs,""" +
        s""""ingest_rec_s":${jnum(nDocs / wallS)},""" +
        s""""steady_batch_rec_s":${jnum(steady)},""" +
        s""""wall_s":${jnum(wallS)},""" +
        s""""killed_after_rows":$killedAfterRows,""" +
        s""""out_rows":$outRows,"expected_rows":$expected,""" +
        s""""exactly_once_after_restart":$exactlyOnce,""" +
        s""""dedup_state_rows":$stateRows,""" +
        s""""dedup_state_bytes":$stateBytes,""" +
        s""""neardup_docs":$nNear,""" +
        s""""neardup_rec_s":${jnum(nNear / nearWallS)},""" +
        s""""neardup_pairs":$nearPairs,""" +
        s""""neardup_state_rows":$nsRows,""" +
        s""""neardup_state_bytes":$nsBytes,""" +
        s""""neardup_horizon":"$horizon","state_store":"$store"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_stream_scale.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
