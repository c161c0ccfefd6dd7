package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{RainStormApps, RainStormJob}

/** Throughput parity with BASELINE.md: the reference's simple app sustains
  * ~84 rec/s (Traffic Signs) / ~330 rec/s (Customer Churn) on 10k-row CSVs
  * over a 9-task cluster (reports/Streaming.pdf p.2); its Spark Streaming
  * comparison managed ~93 / ~365. Metric = output records / wall seconds
  * from job start to last output. The engine must beat both comfortably on
  * one machine.
  */
class ThroughputSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()

  test("simple app >= 10x the reference's ~84-330 rec/s on 10k rows") {
    val root = tempDir("rs-thru")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    // 10k-row CSV in the Traffic-Signs shape; ~60% match the filter.
    val lines = (0 until 10000).map { i =>
      val kind = if (i % 10 < 6) "Unpunched Telespar" else "Wood post"
      s"$i,sign_$i,$kind,cat${i % 7}"
    }
    Files.write(new java.io.File(in, "signs.csv").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    // Warm up the streaming machinery once (class loading, codegen) so the
    // measurement reflects steady-state throughput, which is what the
    // reference's chart measures across its 10k-row run.
    val win = new java.io.File(root, "win"); win.mkdirs()
    Files.write(new java.io.File(win, "w.csv").toPath,
      "0,sign,Unpunched Telespar,cat0".getBytes("UTF-8"))
    RainStormJob.start(spark, win.getPath,
      RainStormApps.simpleApp("Unpunched Telespar", 0, 3),
      new java.io.File(root, "wout").getPath,
      new java.io.File(root, "wckpt").getPath, stateful = false)
      .awaitTermination()

    val t0 = System.nanoTime()
    val q = RainStormJob.start(spark, in.getPath,
      RainStormApps.simpleApp("Unpunched Telespar", 0, 3), out.getPath,
      new java.io.File(root, "ckpt").getPath, stateful = false)
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9

    val nOut = TempDirs.committedLines(spark, out.getPath).size

    assert(nOut == 6000)
    val rate = nOut / secs
    info(f"simple-app throughput: $rate%.0f rec/s over $secs%.2f s")
    // reference: ~84 rec/s; its Spark Streaming baseline: ~365 rec/s
    assert(rate > 1000, f"rate $rate%.0f rec/s not > 1000")
  }

  test("complex (stateful) app beats the reference's stateful path") {
    val root = tempDir("rs-thru2")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    val lines = (0 until 10000).map { i =>
      val post = if (i % 3 == 0) "Punched Telespar" else "Wood post"
      s"$i,kind${i % 4},$post,cat${i % 7}"
    }
    Files.write(new java.io.File(in, "signs.csv").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    val t0 = System.nanoTime()
    val q = RainStormJob.start(spark, in.getPath,
      RainStormApps.complexApp(2, "Punched Telespar", 3), out.getPath,
      new java.io.File(root, "ckpt").getPath, stateful = true)
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9

    val outputs = TempDirs.committedLines(spark, out.getPath)
    // per-update emission: one output per matching input (3334 matches)
    assert(outputs.size == (0 until 10000).count(_ % 3 == 0))
    val rate = outputs.size / secs
    info(f"complex-app throughput: $rate%.0f rec/s over $secs%.2f s")
    // the reference's stateful path measures ~0.1 rec/s on its metric; its
    // input-consumption bound is its simple-app ~84 rec/s — beat that.
    assert(rate > 500, f"rate $rate%.0f rec/s not > 500")
  }
}
