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
class RainStormSpec extends AnyFunSuite with TempDirs {

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

  private def readOut(out: java.io.File): Seq[String] =
    TempDirs.committedLines(spark, out.getPath)

  /** `k<i>:v<i>` rows for `ids`, in sink input shape. */
  private def kv(ids: Range) =
    ids.map(i => (s"k$i", s"v$i")).toDF("key", "value")

  private def kvLines(ids: Range): Seq[String] =
    ids.map(i => s"k$i:v$i").sorted

  test("simple app: stream == batch, restart-safe") {
    val root = tempDir("rs-simple")
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
    val root = tempDir("rs-complex")
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
    val root = tempDir("rs-chain")
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
    val root = tempDir("rs-compact")
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
    val out = new java.io.File(tempDir("rs-sink"), "out")
    val rows = kv(0 until 40)
    val want = kvLines(0 until 40)
    val sink = RainStormJob.textSink(out.getPath) _
    def files(b: String): Seq[String] =
      new java.io.File(out, b).list().toSeq.sorted

    // the replay of batch 7 runs with a different partition count: one
    // copy of the rows, in the replay's single part file
    sink(rows.repartition(4), 7L)
    assert(files("batch-7").count(_.startsWith("part-")) == 4)
    sink(rows.coalesce(1), 7L)
    assert(readOut(out).sorted == want)
    assert(files("batch-7").count(_.startsWith("part-")) == 1)

    // a crashed attempt's staging directory is replaced, not merged
    val stale = new java.io.File(out, "_staging-batch-8"); stale.mkdirs()
    Files.write(new java.io.File(stale, "part-00009").toPath,
      "stale:row\n".getBytes("UTF-8"))
    sink(rows.filter(col("key") === "k1"), 8L)
    assert(readOut(out).sorted == (want :+ "k1:v1").sorted)

    // an empty batch is an empty, visible directory
    sink(rows.filter(lit(false)), 9L)
    assert(files("batch-9").isEmpty)
    assert(out.list().toSeq.sorted == Seq("batch-7", "batch-8", "batch-9"))

    // compact() skips an in-flight staging directory and loses nothing;
    // the committed output never includes it
    val inflight = new java.io.File(out, "_staging-batch-10")
    inflight.mkdirs()
    Files.write(new java.io.File(inflight, "part-00000").toPath,
      "k99:v99\n".getBytes("UTF-8"))
    assert(RainStormJob.compact(spark, out.getPath, targetFiles = 1) == 41)
    assert(out.list().toSeq.sorted == Seq("_staging-batch-10", "compacted-1"))
    assert(files("compacted-1") ==
      Seq("._consumed.crc", ".part-00000.crc", "_consumed", "part-00000"))
    assert(readOut(out).sorted == (want :+ "k1:v1").sorted)
    assert(Files.readAllLines(new java.io.File(inflight, "part-00000").toPath)
      .toArray.toSeq == Seq("k99:v99"))

    // an empty batch alone is compacted away too
    sink(rows.filter(lit(false)), 11L)
    assert(RainStormJob.compact(spark, out.getPath, targetFiles = 1) == 0)
    assert(out.list().toSeq.sorted ==
      Seq("_staging-batch-10", "compacted-1", "compacted-2"))
    assert(readOut(out).sorted == (want :+ "k1:v1").sorted)
  }

  test("textSink writes through the session's Hadoop conf") {
    // a session-level filesystem setting, uncached so the engine's cached
    // `file:` instance is neither returned nor replaced
    val session = spark.newSession()
    session.conf.set("fs.file.impl", classOf[RecordingLocalFs].getName)
    session.conf.set("fs.file.impl.disable.cache", "true")
    // the renames are recorded as files, so executors in other JVMs
    // report them too
    val renamed = tempDir("rs-sink-renamed")
    session.conf.set(RecordingLocalFs.DirKey, renamed.getPath)
    val out = new java.io.File(tempDir("rs-sink-conf"), "out")
    val rows = session.range(40)
      .selectExpr("concat('k', id) AS key", "concat('v', id) AS value")
      .repartition(2)
    RainStormJob.textSink(out.getPath)(rows, 3L)

    val batch = new java.io.File(out, "batch-3")
    val parts = batch.list().toSet
      .filter(n => n.startsWith("part-") && !n.endsWith(".crc"))
    assert(parts.size == 2)
    // the tasks' part-file renames and the driver's batch commit
    assert(renamed.list().toSet == parts + "batch-3")
    assert(readOut(out).sorted == kvLines(0 until 40))
  }

  test("compaction: a crash at any point shows every record once, " +
      "and a rerun converges") {
    // the session's own `file:` filesystem, which fails at one point of
    // the compaction's commit; uncached, as in the sink test above
    val crashing = spark.newSession()
    crashing.conf.set("fs.file.impl", classOf[CrashingLocalFs].getName)
    crashing.conf.set("fs.file.impl.disable.cache", "true")
    val want = kvLines(0 until 30)
    for (point <- Seq("staged", "renamed", "deleting")) {
      val out = new java.io.File(tempDir(s"rs-crash-$point"), "out")
      (0 until 3).foreach { b =>
        RainStormJob.textSink(out.getPath)(kv(b * 10 until b * 10 + 10)
          .repartition(2), b.toLong)
      }
      CrashingLocalFs.arm(point)
      try intercept[CrashingLocalFs.Crash] {
        RainStormJob.compact(crashing, out.getPath, targetFiles = 1)
      } finally CrashingLocalFs.arm("")

      val listed = CrashingLocalFs.listed.get
      assert(TempDirs.committedLines(crashing, out.getPath).sorted == want,
        point)
      assert(CrashingLocalFs.listed.get > listed, "committed used the " +
        "session's filesystem")
      assert(readOut(out).sorted == want, point)

      val redone = if (point == "staged") want.size else 0
      assert(RainStormJob.compact(crashing, out.getPath, targetFiles = 1)
        == redone, point)
      assert(readOut(out).sorted == want, point)
      assert(out.list().toSeq.sorted == Seq("compacted-1"), point)
    }
  }

  test("manifests of the earlier identity formats still consume their " +
      "batches") {
    val out = new java.io.File(tempDir("rs-manifest"), "out")
    (0 until 3).foreach { b =>
      RainStormJob.textSink(out.getPath)(kv(b * 10 until b * 10 + 10)
        .repartition(2), b.toLong)
    }
    // The identity as earlier releases wrote it: every file of the batch
    // directory, `.crc` sidecars included, in name order.
    def identity(b: java.io.File): String = {
      val files = b.listFiles().filter(_.isFile).sortBy(_.getName)
      val md = java.security.MessageDigest.getInstance("MD5")
      files.foreach { f =>
        md.update(s"${f.getName}:${f.length()}:".getBytes("UTF-8"))
        md.update(Files.readAllBytes(f.toPath).take(64))
      }
      s"${b.getName}|${files.length}|${files.map(_.length()).sum}|" +
        md.digest().map("%02x".format(_)).mkString
    }
    val id0 = identity(new java.io.File(out, "batch-0"))
    assert(id0.split('|')(1) == "4") // two parts, two sidecars
    val legacy1 = identity(new java.io.File(out, "batch-1"))
      .split('|').take(3).mkString("|")
    // compacted-1 holds batches 0 and 1, as a crashed compaction left it
    val c = new java.io.File(out, "compacted-1"); c.mkdirs()
    Files.write(new java.io.File(c, "part-00000-0-c000.txt").toPath,
      kvLines(0 until 20).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(new java.io.File(c, "_consumed").toPath,
      s"$id0\n$legacy1".getBytes("UTF-8"))

    assert(readOut(out).sorted == kvLines(0 until 30))
    assert(RainStormJob.compact(spark, out.getPath, targetFiles = 1) == 10)
    assert(out.list().toSeq.sorted == Seq("compacted-1", "compacted-2"))
    assert(readOut(out).sorted == kvLines(0 until 30))
  }

  test("rainstorm CLI listener prints one line per committed batch") {
    val root = tempDir("rs-progress")
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
    val root = tempDir("rs-flatmap")
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
  * target, from the driver and the tasks alike, as an empty file of that
  * name in the local directory its configuration names under `DirKey`
  * (executors share the host's filesystem in local and local-cluster
  * mode, not the driver's JVM). */
class RecordingLocalFs extends graft.core.LocalFs {
  private var dir: String = _

  override def initialize(name: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(name, conf)
    dir = conf.get(RecordingLocalFs.DirKey)
  }

  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (dir != null)
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, dst.getName),
        Array.emptyByteArray)
    super.rename(src, dst)
  }
}

object RecordingLocalFs {
  val DirKey = "graft.test.renamedDir"
}

/** The engine's `file:` filesystem, failing at one point of
  * `RainStormJob.compact`'s commit when armed: "staged" before the rename
  * to `compacted-<n>`, "renamed" right after it, "deleting" at the second
  * delete of a `batch-*` directory. Counts its directory listings. */
class CrashingLocalFs extends graft.core.LocalFs {
  import CrashingLocalFs._
  import org.apache.hadoop.fs.{FileStatus, Path}

  override def listStatus(p: Path): Array[FileStatus] = {
    listed.incrementAndGet()
    super.listStatus(p)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val commit = dst.getName.startsWith("compacted-")
    if (commit && armed == "staged") throw new Crash
    val done = super.rename(src, dst)
    if (commit && armed == "renamed") throw new Crash
    done
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (armed == "deleting" && p.getName.startsWith("batch-") &&
        deletes.incrementAndGet() == 2) throw new Crash
    super.delete(p, recursive)
  }
}

object CrashingLocalFs {
  class Crash extends java.io.IOException("injected crash")

  @volatile private var armed = ""
  private val deletes = new java.util.concurrent.atomic.AtomicInteger()
  val listed = new java.util.concurrent.atomic.AtomicLong()

  def arm(point: String): Unit = { deletes.set(0); armed = point }
}
