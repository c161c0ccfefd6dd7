package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** End-to-end parity tests for the streaming RainStorm jobs: the canonical
  * "simple" and "complex" apps (BASELINE.md workloads) run as streams over
  * dripped CSV files; final results must equal the batch answer, and a
  * kill/restart from checkpoint must not duplicate or lose records
  * (recovery parity with reference src/Streaming/worker.py:327-368).
  */
class RainStormSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession()
  import spark.implicits._

  /** A Traffic-Signs-like CSV corpus: id,kind,post,category */
  private def writeCsv(dir: java.io.File, from: Int, until: Int): Unit = {
    val kinds = Seq("Stop", "Yield", "Speed", "Warning")
    val posts = Seq("Punched Telespar", "Unpunched Telespar", "Wood")
    val lines = (from until until).map { i =>
      s"$i,${kinds(i % kinds.size)},${posts(i % posts.size)},cat${i % 5}"
    }
    val f = new java.io.File(dir, s"part-$from.csv")
    Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
  }

  private def readOut(out: java.io.File): Seq[String] = {
    def all(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(all) else Seq(f)
    all(out).filter(f => f.getName.startsWith("part-") &&
        !f.getName.endsWith(".crc"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
  }

  test("simple app: stream == batch, restart-safe") {
    val root = Files.createTempDirectory("rs-simple").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    val ckpt = new java.io.File(root, "ckpt").getPath

    writeCsv(in, 0, 500)
    val ops = RainStormApps.simpleApp("Stop", 0, 3)
    val q1 = RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
      stateful = false)
    q1.awaitTermination()

    // second wave of files + restart from the same checkpoint
    writeCsv(in, 500, 1000)
    val q2 = RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
      stateful = false)
    q2.awaitTermination()

    val got = readOut(out).sorted
    val want = (0 until 1000).filter(_ % 4 == 0) // kind == "Stop"
      .map(i => s"$i:cat${i % 5}").sorted
    assert(got == want)
  }

  test("complex app: final per-key counts == batch groupBy count") {
    val root = Files.createTempDirectory("rs-complex").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    val ckpt = new java.io.File(root, "ckpt").getPath

    writeCsv(in, 0, 300)
    val ops = RainStormApps.complexApp(2, "Wood", 1)
    val q1 = RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
      stateful = true)
    q1.awaitTermination()
    writeCsv(in, 300, 600)
    val q2 = RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
      stateful = true)
    q2.awaitTermination()

    // Per-update emission: the LAST count per key is the final state.
    val finalCounts = readOut(out)
      .map { l => val Array(k, v) = l.split(":", 2); (k, v.toLong) }
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).max) }
    val want = (0 until 600).filter(_ % 3 == 2) // post == "Wood"
      .groupBy(i => s"${Seq("Stop", "Yield", "Speed", "Warning")(i % 4)}")
      .map { case (k, is) => (k, is.size.toLong) }
    assert(finalCounts == want)

    // Emission cardinality: one output row per matching input record
    // (reference framework emits per input, tests/sample2_op2.py:17).
    assert(readOut(out).size == (0 until 600).count(_ % 3 == 2))
  }

  test("op chains generalize past the reference's fixed 2-op topology") {
    val root = Files.createTempDirectory("rs-chain").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    writeCsv(in, 0, 200)
    // 4 operators: regex filter -> flatMap fan-out(2x) -> project -> filter
    val ops = Seq(
      ExprOp(df => df.filter(col("value").rlike("Stop|Yield"))),
      FlatMapOp(kv => Seq(kv, KV(kv.key + "#dup", kv.value))),
      ExprOp(df => df.withColumn("cols", split(col("value"), ","))
        .select(col("cols").getItem(0).as("key"),
          col("cols").getItem(1).as("value"))),
      ExprOp(df => df.filter(col("value") === "Stop")))
    val q = RainStormJob.start(spark, in.getPath, ops, out.getPath,
      new java.io.File(root, "ckpt").getPath, stateful = false)
    q.awaitTermination()
    // kinds cycle Stop,Yield,Speed,Warning; Stop|Yield filter keeps i%4<2,
    // fan-out doubles, final filter keeps only Stop (i%4==0)
    assert(readOut(out).size == 2 * (0 until 200).count(_ % 4 == 0))
  }

  test("compaction consolidates batch outputs losslessly (merge analogue)") {
    val root = Files.createTempDirectory("rs-compact").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    val ckpt = new java.io.File(root, "ckpt").getPath
    val ops = RainStormApps.simpleApp("Stop", 0, 3)
    // three waves -> three batch-* directories of small files
    (0 until 3).foreach { w =>
      writeCsv(in, w * 100, (w + 1) * 100)
      RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
        stateful = false).awaitTermination()
    }
    val before = readOut(out).sorted
    assert(out.listFiles().count(_.getName.startsWith("batch-")) == 3)
    val n = RainStormJob.compact(spark, out.getPath, targetFiles = 1)
    assert(n == before.size)
    assert(out.listFiles().count(_.getName.startsWith("batch-")) == 0)
    assert(readOut(out).sorted == before) // same records, fewer files
  }

  test("textSink: a replayed batch id replaces the batch, staging never leaks") {
    val out = new java.io.File(
      Files.createTempDirectory("rs-sink").toFile, "out")
    val rows = (0 until 40).map(i => (s"k$i", s"v$i")).toDF("key", "value")
    val want = (0 until 40).map(i => s"k$i:v$i").sorted
    val sink = RainStormJob.textSink(out.getPath) _
    def files(b: String): Seq[String] =
      new java.io.File(out, b).list().toSeq.sorted
    def lines(b: String): Seq[String] =
      readOut(new java.io.File(out, b)).sorted

    // the replay of batch 7 runs with a different partition count: one
    // copy of the rows, in the replay's single part file
    sink(rows.repartition(4), 7L)
    assert(files("batch-7").count(_.startsWith("part-")) == 4)
    sink(rows.coalesce(1), 7L)
    assert(lines("batch-7") == want)
    assert(files("batch-7").count(_.startsWith("part-")) == 1)

    // a crashed attempt's staging directory is replaced, not merged
    val stale = new java.io.File(out, "_staging-batch-8"); stale.mkdirs()
    Files.write(new java.io.File(stale, "part-00009").toPath,
      "stale:row\n".getBytes("UTF-8"))
    sink(rows.filter(col("key") === "k1"), 8L)
    assert(lines("batch-8") == Seq("k1:v1"))

    // an empty batch is an empty, visible directory
    sink(rows.filter(lit(false)), 9L)
    assert(files("batch-9").isEmpty)
    assert(out.list().toSeq.sorted == Seq("batch-7", "batch-8", "batch-9"))

    // compact() skips an in-flight staging directory and loses nothing
    val inflight = new java.io.File(out, "_staging-batch-10")
    inflight.mkdirs()
    Files.write(new java.io.File(inflight, "part-00000").toPath,
      "k99:v99\n".getBytes("UTF-8"))
    assert(RainStormJob.compact(spark, out.getPath, targetFiles = 1) == 41)
    assert(out.list().toSeq.sorted == Seq("_staging-batch-10", "compacted-1"))
    assert(lines("compacted-1") == (want :+ "k1:v1").sorted)
    assert(lines("_staging-batch-10") == Seq("k99:v99"))
  }

  test("textSink writes through the session's Hadoop conf") {
    // a session-level filesystem setting, uncached so the engine's cached
    // `file:` instance is neither returned nor replaced
    val session = spark.newSession()
    session.conf.set("fs.file.impl", classOf[RecordingLocalFs].getName)
    session.conf.set("fs.file.impl.disable.cache", "true")
    RecordingLocalFs.renamed.clear()
    val out = new java.io.File(
      Files.createTempDirectory("rs-sink-conf").toFile, "out")
    val rows = session.range(40)
      .selectExpr("concat('k', id) AS key", "concat('v', id) AS value")
      .repartition(2)
    RainStormJob.textSink(out.getPath)(rows, 3L)

    val batch = new java.io.File(out, "batch-3")
    val parts = batch.list().toSet
      .filter(n => n.startsWith("part-") && !n.endsWith(".crc"))
    assert(parts.size == 2)
    // the tasks' part-file renames and the driver's batch commit
    import scala.jdk.CollectionConverters._
    assert(RecordingLocalFs.renamed.asScala.toSet == parts + "batch-3")
    assert(readOut(batch).sorted == (0 until 40).map(i => s"k$i:v$i").sorted)
  }

  test("rainstorm CLI listener prints one line per committed batch") {
    val root = Files.createTempDirectory("rs-progress").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    (0 until 3).foreach(w => writeCsv(in, w * 100, (w + 1) * 100))
    val printed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = graft.cli.Main.batchProgress(printed.add(_))
    spark.streams.addListener(listener)
    try {
      val q = RainStormJob.pipeline(
          RainStormJob.lineSource(spark, in.getPath, maxFilesPerTrigger = 1),
          RainStormApps.complexApp(2, "Wood", 1))
        .writeStream.outputMode("update")
        .foreachBatch(RainStormJob.textSink(
          new java.io.File(root, "out").getPath) _)
        .option("checkpointLocation", new java.io.File(root, "ckpt").getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (printed.size < 3 && System.nanoTime() < deadline)
        Thread.sleep(20)
      val got = printed.toArray.toSeq.map(_.toString)
      assert(got.size == 3)
      got.zipWithIndex.foreach { case (l, i) =>
        assert(l.matches(s"\\[rainstorm\\] batch $i: 100 input rows, " +
          "addBatch \\d+ ms, walCommit \\d+ ms, commitOffsets \\d+ ms, " +
          "state rows 4"), l)
      }
    } finally spark.streams.removeListener(listener)
  }

  test("flatMapOp escape hatch matches reference flatMap contract") {
    val root = Files.createTempDirectory("rs-flatmap").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    writeCsv(in, 0, 100)
    // duplicate every record with an upper-cased value; drop cat0 rows
    val op = FlatMapOp { kv =>
      val cat = kv.value.split(",")(3)
      if (cat == "cat0") Nil
      else Seq(kv, KV(kv.key, kv.value.toUpperCase))
    }
    val q = RainStormJob.start(spark, in.getPath, Seq(op), out.getPath,
      new java.io.File(root, "ckpt").getPath, stateful = false)
    q.awaitTermination()
    assert(readOut(out).size == 2 * (0 until 100).count(_ % 5 != 0))
  }
}

/** The engine's `file:` filesystem, recording the name of every rename
  * target, from the driver and the tasks alike (local mode: one JVM). */
class RecordingLocalFs extends graft.core.LocalFs {
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    RecordingLocalFs.renamed.add(dst.getName)
    super.rename(src, dst)
  }
}

object RecordingLocalFs {
  val renamed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
