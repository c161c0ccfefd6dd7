package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{RainStormApps, RainStormJob, RainStormOp}

/** The `rainstorm` workload: the paper's keyed dataflow through
  * `RainStormJob.lineSource`/`pipeline`/`textSink`. Each pipeline drains
  * a fixed backlog, then serves an open-loop file stream; the stateful
  * one is then stopped and restarted from its checkpoint. */
object Stream {

  private final case class Pipe(name: String, ops: Seq[RainStormOp],
      stateful: Boolean)

  private val Pipes = Seq(
    Pipe("stateless", RainStormApps.simpleApp("France", 1, 2), stateful = false),
    Pipe("stateful", RainStormApps.complexApp(5, "Female", 11), stateful = true))

  /** Open-loop files per latency window (fewer only with `--smoke`):
    * 200 files leave ten samples beyond the 95th percentile. */
  private val Window = 200

  private final case class Sizes(lines: Int, backlog: Int, maxFiles: Int,
      openLines: Int, rate: Double, openFiles: Int, restarts: Int,
      restartFiles: Int, triggerMs: Long)

  def run(ctx: Ctx): Unit = {
    val sz = if (ctx.smoke) Sizes(50, 4, 2, 20, 20.0, 20, 2, 2, 100L)
      else Sizes(200, 40, 4, 50, 50.0, math.max(200, (50.0 * ctx.seconds / 2).toInt),
        3, 4, 100L)
    val rnd = new SplittableRandom(ctx.seed)
    var nextRow = 0L
    // `rows` collects every line written, for the exactly-once check
    def newFile(dir: File, name: String, rows: mutable.Buffer[String],
        lines: Int = sz.lines): Unit = {
      val ls = Inputs.churnLines(rnd, nextRow, lines)
      nextRow += lines
      rows ++= ls
      Inputs.writeAtomic(dir, name, ls)
    }
    def dirs(tag: String): (File, File, File) = {
      val base = new File(ctx.runDir, s"stream/$tag")
      val in = new File(base, "in"); in.mkdirs()
      (in, new File(base, "out"), new File(base, "ckpt"))
    }

    // set-up: session start plus one tiny run of each pipeline, repeated
    var spark: SparkSession = null
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Session.create(ctx.nproc, ctx.runDir)
      Pipes.foreach { p =>
        val (in, out, ck) = dirs(s"warm$i-${p.name}")
        Inputs.writeAtomic(in, "w.csv", Inputs.churnLines(new SplittableRandom(i), 0, 20))
        start(spark, p, in, out, ck, sz.maxFiles, Trigger.AvailableNow(), None)
          .awaitTermination()
      }
      (System.nanoTime() - t0) / 1e9
    }
    ctx.e2e("setup_s") = Stats.median(setups)
    ctx.series("setup_s") = setups
    // warm-up drain of each pipeline at the measured file size, untimed
    Pipes.foreach { p =>
      val (in, out, ck) = dirs(s"warm-${p.name}")
      (0 until sz.backlog / 4).foreach(f => newFile(in, f"f$f%05d.csv", mutable.Buffer()))
      start(spark, p, in, out, ck, sz.maxFiles, Trigger.AvailableNow(), None)
        .awaitTermination()
    }
    ctx.stamp(spark, new File(ctx.fixtures, "sf0.001"))

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    var drainUntraced, drainTraced = 0.0
    val recovers, restores = mutable.ArrayBuffer.empty[Double]
    // per-file latencies in windows of `Window` consecutive files
    val windows = mutable.ArrayBuffer.empty[Seq[Double]]
    var late = 0.0
    var files = 0

    Pipes.foreach { p =>
      // (a) backlog drain at a fixed maxFilesPerTrigger; with tracing it
      // runs twice, untraced and traced, for the overhead figure (in
      // opposite orders for the two pipelines, so warm-up favours neither)
      val arms = if (!ctx.trace) Seq(false)
        else if (p.stateful) Seq(true, false) else Seq(false, true)
      arms.foreach { on =>
        val tag = if (on) s"${p.name}-drain-traced" else s"${p.name}-drain"
        val (in, out, ck) = dirs(tag)
        val rows = mutable.Buffer.empty[String]
        (0 until sz.backlog).foreach(f => newFile(in, f"f$f%05d.csv", rows))
        ctx.attempted += 1
        try {
          tracer.foreach(_.active = on)
          val t0 = System.nanoTime()
          val q = start(spark, p, in, out, ck, sz.maxFiles, Trigger.AvailableNow(),
            tracer.filter(_ => on).map(tr => (tr, s"${p.name}-drain")))
          q.awaitTermination()
          val s = (System.nanoTime() - t0) / 1e9
          tracer.foreach(_.active = false)
          if (on) drainTraced += s
          else {
            drainUntraced += s
            ctx.detail(s"${p.name}_rec_s") = rows.size / s
          }
          verify(p, out, rows)
        } catch { case e: Throwable => ctx.fail(s"${p.name}-drain", e) }
        finally tracer.foreach(_.active = false)
      }

      // (b) open loop: one generator thread writes files on a fixed
      // schedule; each file's latency runs from its due time to the commit
      // of the micro-batch that consumed it
      val (in, out, ck) = dirs(s"${p.name}-open")
      val rows = mutable.Buffer.empty[String]
      ctx.attempted += 1
      try {
        tracer.foreach(_.active = true)
        val q = start(spark, p, in, out, ck, 1000, Trigger.ProcessingTime(sz.triggerMs),
          tracer.map(tr => (tr, p.name)))
        // a priming file, consumed before the schedule starts, keeps query
        // start-up out of the first files' latency
        newFile(in, "p00000.csv", rows, sz.openLines)
        awaitRows(q, sz.openLines.toLong)
        val due = new Array[Double](sz.openFiles)
        val wrote = new Array[Double](sz.openFiles)
        val t0 = System.currentTimeMillis() + 100.0
        val gen = new Thread(() => (0 until sz.openFiles).foreach { i =>
          due(i) = t0 + i * 1000.0 / sz.rate
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait.toLong)
          newFile(in, f"f$i%05d.csv", rows, sz.openLines)
          wrote(i) = System.currentTimeMillis().toDouble
        }, "graftbench-open-loop")
        gen.start()
        gen.join()
        awaitRows(q, (sz.openFiles + 1L) * sz.openLines)
        q.stop()
        val lat = fileLatencies(q.recentProgress.toSeq, due, sz.openLines)
        val w = math.min(Window, sz.openFiles)
        windows ++= lat.grouped(w).filter(_.size == w)
        ctx.detail(s"${p.name}_latency_ms_p50") = Stats.quantile(lat, 0.5)
        ctx.detail(s"${p.name}_latency_ms_p95") = Stats.quantile(lat, 0.95)
        late = math.max(late, due.indices.map(i => wrote(i) - due(i)).max)
        files += sz.openFiles
        tracer.foreach(tr => streamLayers(ctx, tr, p.name, q.recentProgress.toSeq))

        // (c) stateful only: stop, add input, restart on the checkpoint,
        // repeated; recovery is the time from restart to the first
        // committed batch
        if (p.stateful) (1 to sz.restarts).foreach { k =>
          (0 until sz.restartFiles).foreach(i =>
            newFile(in, f"r$k%02d-$i%05d.csv", rows, sz.openLines))
          val t1 = System.currentTimeMillis()
          val r = start(spark, p, in, out, ck, 1000, Trigger.ProcessingTime(sz.triggerMs),
            tracer.map(tr => (tr, s"${p.name}-restart$k")))
          awaitRows(r, sz.restartFiles.toLong * sz.openLines)
          r.stop()
          val first = r.recentProgress.filter(_.numInputRows > 0).minBy(_.batchId)
          recovers += (commitMs(first) - t1) / 1e3
          restores += first.durationMs.asScala.get("addBatch").map(_.toDouble).getOrElse(0.0)
        }
        tracer.foreach(_.active = false)
        verify(p, out, rows)
      } catch { case e: Throwable => ctx.fail(s"${p.name}-open", e) }
      finally tracer.foreach(_.active = false)
    }

    ctx.e2e("suite_s") = drainUntraced
    val recover = Stats.median(recovers.toSeq)
    ctx.e2e("cold_s") = recover
    ctx.detail("recover_s") = recover
    ctx.series("recover_s") = recovers.toSeq
    if (restores.nonEmpty) ctx.layer("stateful.state.restore_ms") = Stats.median(restores.toSeq)
    // each figure is the median over the windows, so a host stall that
    // queues one window's files moves one sample rather than the figure
    def perWindow(f: Seq[Double] => Double) = Stats.median(windows.toSeq.map(f))
    ctx.e2e("latency_ms_geomean") = perWindow(Stats.geomean)
    ctx.e2e("latency_ms_p50") = perWindow(Stats.quantile(_, 0.5))
    ctx.e2e("latency_ms_p95") = perWindow(Stats.quantile(_, 0.95))
    ctx.series("latency_ms_p95") = windows.toSeq.map(Stats.quantile(_, 0.95))
    ctx.layer("gen.late_ms_max") = late
    ctx.layer("gen.files") = files.toDouble
    tracer.foreach { tr =>
      ctx.layer("trace.overhead_share") = drainTraced / drainUntraced - 1.0
      ctx.layerFromTracer(tr, 1)
    }
    spark.stop()
  }

  private def start(spark: SparkSession, p: Pipe, in: File, out: File, ck: File,
      maxFiles: Int, trigger: Trigger, trace: Option[(Tracer, String)]): StreamingQuery = {
    val sink = RainStormJob.textSink(out.getPath) _
    val traced: (Dataset[Row], Long) => Unit = trace match {
      case None => sink
      case Some((tr, tag)) => (ds, id) => {
        val batch = tr.idFor(s"$tag:$id")
        tr.span("sink", batch)(_ => sink(ds, id))
      }
    }
    RainStormJob.pipeline(RainStormJob.lineSource(spark, in.getPath, maxFiles), p.ops)
      .writeStream
      .outputMode(if (p.stateful) OutputMode.Update() else OutputMode.Append())
      .foreachBatch(traced)
      .option("checkpointLocation", ck.getPath)
      .trigger(trigger)
      .start()
  }

  private def awaitRows(q: StreamingQuery, rows: Long): Unit = {
    val deadline = System.nanoTime() + 90L * 1000000000L
    while (q.recentProgress.map(_.numInputRows).sum < rows) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"stream did not consume $rows rows")
      Thread.sleep(20)
    }
  }

  private def commitMs(pr: StreamingQueryProgress): Double =
    java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble +
      pr.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)

  /** Files have equal line counts, so cumulative `numInputRows` tells how
    * many files each micro-batch had consumed by its commit. The first
    * `lines` rows are the priming file. */
  private def fileLatencies(progress: Seq[StreamingQueryProgress], due: Array[Double],
      lines: Int): Seq[Double] = {
    var consumed = -lines.toLong
    val out = mutable.ArrayBuffer.empty[Double]
    progress.filter(_.numInputRows > 0).sortBy(_.batchId).foreach { pr =>
      val before = math.max(0L, consumed / lines).toInt
      consumed += pr.numInputRows
      val after = math.min(math.max(0L, consumed / lines).toInt, due.length)
      (before until after).foreach(i => out += commitMs(pr) - due(i))
    }
    out.toSeq
  }

  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Micro-batch phases and state-store figures from the progress
    * objects, plus spans for each batch and its phases. */
  private def streamLayers(ctx: Ctx, tr: Tracer, name: String,
      progress: Seq[StreamingQueryProgress]): Unit = {
    val data = progress.filter(_.numInputRows > 0)
    def d(pr: StreamingQueryProgress, k: String): Double =
      pr.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)
    val order = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets")
    data.foreach { pr =>
      val id = tr.idFor(s"$name:${pr.batchId}")
      val end = commitMs(pr)
      val start = end - d(pr, "triggerExecution")
      tr.add(Span(id, s"batch:${pr.batchId}", 0L, start, end))
      var at = start
      order.foreach { k =>
        val len = d(pr, k)
        if (len > 0) tr.add(Span(tr.nextId(), s"phase:$k", id, at, at + len))
        at += len
      }
    }
    val sinkMs = tr.all.filter(s => s.kind == "sink" &&
      data.exists(pr => tr.idFor(s"$name:${pr.batchId}") == s.parent))
      .map(s => s.end - s.start)
    val pre = s"$name."
    ctx.layer(pre + "stream.batches") = data.size.toDouble
    ctx.layer(pre + "stream.rows_per_batch_p50") = p50(data.map(_.numInputRows.toDouble))
    ctx.layer(pre + "stream.source_ms_p50") = p50(data.map(pr => d(pr, "latestOffset") + d(pr, "getBatch")))
    ctx.layer(pre + "stream.plan_ms_p50") = p50(data.map(d(_, "queryPlanning")))
    ctx.layer(pre + "stream.add_batch_ms_p50") = p50(data.map(d(_, "addBatch")))
    ctx.layer(pre + "stream.checkpoint_ms_p50") = p50(data.map(pr => d(pr, "walCommit") + d(pr, "commitOffsets")))
    ctx.layer(pre + "stream.sink_ms_p50") = p50(sinkMs)
    val st = data.flatMap(_.stateOperators.headOption)
    ctx.layer(pre + "state.rows") = st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    ctx.layer(pre + "state.mem_mb") = st.lastOption.map(_.memoryUsedBytes / 1e6).getOrElse(0.0)
    ctx.layer(pre + "state.instances") = st.lastOption.map(_.numStateStoreInstances.toDouble).getOrElse(0.0)
    ctx.layer(pre + "state.commit_ms_p50") = p50(st.map(_.commitTimeMs.toDouble))
    ctx.layer(pre + "state.update_ms_p50") = p50(st.map(_.allUpdatesTimeMs.toDouble))
  }

  /** Exactly-once output check. Stateless: every France row appears once
    * as `CustomerId:Surname`. Stateful: per key the emitted running counts
    * are exactly 1..n, n the number of filtered input rows with that key. */
  private def verify(p: Pipe, out: File, rows: collection.Seq[String]): Unit = {
    def parts(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(parts)
      else if (f.getName.startsWith("part-") && !f.getName.endsWith(".crc")) Seq(f)
      else Nil
    val got = parts(out).flatMap { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.getLines().toList finally s.close()
    }
    val cols = rows.map(_.split(","))
    if (!p.stateful) {
      val want = cols.filter(_.exists(_.contains("France")))
        .map(c => s"${c(1)}:${c(2)}").sorted
      if (got.sorted != want.toSeq)
        throw new IllegalStateException(
          s"${p.name}: ${got.size} output rows, expected ${want.size} exactly once")
    } else {
      val want = cols.filter(_(5) == "Female").groupBy(_(11)).map { case (k, v) => k -> v.size }
      val emitted = got.map { l => val i = l.lastIndexOf(':'); l.take(i) -> l.drop(i + 1).toInt }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
      val ok = emitted.keySet == want.keySet &&
        want.forall { case (k, n) => emitted(k) == (1 to n) }
      if (!ok)
        throw new IllegalStateException(s"${p.name}: per-key running counts " +
          s"${emitted.map { case (k, v) => k -> v.size }} do not match ${want}")
    }
  }
}
