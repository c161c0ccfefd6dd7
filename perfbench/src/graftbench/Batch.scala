package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.MemProbe

import graft.SparkEntry
import graft.operators.Grep

/** The batch workloads: a fixed panel of `SparkEntry.queries` (plus, on
  * `olap`, LogQuerier greps through `Grep.grepLogs`/`grepCount`), run by
  * one closed-loop client. */
object Batch {

  /** `index` names the panel queries that build an IndexStore artifact on
    * first touch; their cold-pass times are the index build cost. */
  final case class Panel(fixture: String, queries: Seq[String],
      grep: Boolean, index: Seq[String])

  val Panels: Map[String, Panel] = Map(
    "olap" -> Panel("sf0.1", Seq(
      "q01_pricing_summary", "q05_broadcast_join", "q19_scalar_subquery",
      "ev01_sessionize", "rs02_complex_app"), grep = true, Nil),
    "corpus" -> Panel("sf0.1", Seq(
      "dd09_clusters_from_pairs", "sim03_ivf_knn", "em03_kmeans_census",
      "tx19_mixture_sample"),
      grep = false, Seq("dd09_clusters_from_pairs", "sim03_ivf_knn")),
    "corpus_open" -> Panel("open0.1", Seq(
      "dd02_jaccard_pairs", "dd06_dedup_clusters", "dd09_clusters_from_pairs",
      "dd14_cluster_canonical", "dd17_incremental_probe"),
      grep = false, Seq("dd09_clusters_from_pairs", "dd17_incremental_probe")))

  /** One measured operation: `build` constructs the plan (running any
    * eager work the operator does), `exec` runs it to completion, and
    * `check` runs it and throws unless the result is right. */
  private trait Op {
    def name: String
    def build(spark: SparkSession): AnyRef
    def exec(plan: AnyRef): Unit
    def check(spark: SparkSession, ctx: Ctx, fixture: String): Unit
  }

  private final class QueryOp(val name: String, dir: String) extends Op {
    def build(spark: SparkSession): AnyRef = SparkEntry.queries(name)(spark, dir)
    def exec(plan: AnyRef): Unit = plan.asInstanceOf[DataFrame]
      .write.format("noop").mode("overwrite").save()
    def check(spark: SparkSession, ctx: Ctx, fixture: String): Unit =
      ctx.checkDigest(fixture, name, Digest(SparkEntry.queries(name)(spark, dir)))
  }

  private final class GrepOp(val name: String, glob: String, pattern: String,
      fixed: Boolean, want: Map[String, Long]) extends Op {
    def build(spark: SparkSession): AnyRef =
      Grep.grepCount(Grep.grepLogs(spark, glob, pattern, fixed = fixed))
    def exec(plan: AnyRef): Unit = {
      val got = plan.asInstanceOf[DataFrame].collect()
        .map(r => new File(r.getString(0)).getName -> r.getLong(1)).toMap
      val expect = want + ("TOTAL" -> want.values.sum)
      if (got != expect)
        throw new IllegalStateException(s"$name: counts $got, expected $expect")
    }
    /** The expected counts come from the log generator. */
    def check(spark: SparkSession, ctx: Ctx, fixture: String): Unit =
      exec(build(spark))
  }

  private def ops(p: Panel, dir: String, logs: File, want: Map[String, Map[String, Long]]): Seq[Op] =
    p.queries.map(q => new QueryOp(q, dir)) ++
      (if (!p.grep) Nil else Inputs.GrepPatterns.map { case (n, pat, fixed) =>
        new GrepOp(n, new File(logs, "*.log").getPath, pat, fixed, want(n))
      })

  def run(ctx: Ctx): Unit = {
    val p = Panels(ctx.workload)
    val fixture = if (ctx.smoke) "sf0.001" else p.fixture
    val dir = new File(ctx.fixtures, fixture).getPath
    val tiny = new File(ctx.fixtures, "sf0.001").getPath
    val (machines, lines) = if (ctx.smoke) (2, 500) else (4, 25000)
    val logs = new File(ctx.runDir, "logs")
    val want = if (p.grep) Inputs.writeLogs(logs, ctx.seed, machines, lines) else Map.empty[String, Map[String, Long]]
    val tinyLogs = new File(ctx.runDir, "logs_warm")
    val tinyWant = if (p.grep) Inputs.writeLogs(tinyLogs, ctx.seed + 1, 2, 200) else want
    val real = ops(p, dir, logs, want)
    val warm = ops(p, tiny, tinyLogs, tinyWant)

    // set-up: session start plus the panel's first operation at sf0.001,
    // repeated; the median is the reported set-up time
    var spark: SparkSession = null
    def warmUp(ops: Seq[Op]): Unit = ops.foreach { op =>
      try op.exec(op.build(spark)) catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Session.create(ctx.nproc, ctx.runDir)
      warmUp(warm.take(1))
      (System.nanoTime() - t0) / 1e9
    }
    // one untimed pass over the whole panel at sf0.001 warms the JIT and
    // the code generator before anything is measured
    warmUp(warm)
    ctx.e2e("setup_s") = Stats.median(setups)
    ctx.series("setup_s") = setups
    ctx.stamp(spark, new File(dir))

    // cold pass: empty index store; every operation timed once, its
    // result digested and checked
    Inputs.deleteTree(ctx.indexDir)
    System.gc()
    val cold = real.map { op =>
      val t0 = System.nanoTime()
      ctx.attempted += 1
      try op.check(spark, ctx, fixture)
      catch { case e: Throwable => ctx.fail(op.name, e) }
      spark.catalog.clearCache()
      op.name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    ctx.e2e("cold_s") = cold.values.sum
    ctx.series("cold_s") = real.map(op => cold(op.name))
    val indexCold = p.index.map(q => q -> cold(q))
    ctx.detail("index_cold_s") = indexCold.map(_._2).sum
    ctx.layer("index.cold_s") = indexCold.map(_._2).sum
    indexCold.foreach { case (q, t) => ctx.layer(s"index.${q.take(5).stripSuffix("_")}_cold_s") = t }
    ctx.layer("index.bytes") = Inputs.treeBytes(ctx.indexDir).toDouble

    // one untimed pass at the real size: the JIT goes on speeding every
    // operation up for many passes, steeply at first, and the first pass
    // after the cold one sits on that steep start
    System.gc()
    warmUp(real)

    // warm passes; with tracing, untraced and traced passes alternate
    // (U T T U, which cancels the JIT's steady speed-up) so the difference
    // between them is the tracing overhead
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val untraced = mutable.Map.empty[String, mutable.Buffer[Double]]
    val traced = mutable.Map.empty[String, mutable.Buffer[Double]]
    val start = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    def enough = if (ctx.trace) pass >= 4 && pass % 4 == 0 else pass >= 3
    while (!enough || elapsed < ctx.seconds) {
      val on = tracer.isDefined && (pass % 4 == 1 || pass % 4 == 2)
      System.gc()
      tracer.foreach(_.active = on)
      real.foreach { op =>
        val t = tracer.filter(_ => on) match {
          case Some(tr) => tracedOp(tr, spark, op, ctx)
          case None => timedOp(spark, op, ctx)
        }
        if (!t.isNaN)
          (if (on) traced else untraced).getOrElseUpdate(op.name, mutable.Buffer()) += t
      }
      tracer.foreach(_.active = false)
      pass += 1
    }

    val n = untraced.values.map(_.size).minOption.getOrElse(0)
    ctx.series("untraced_pass_s") = (0 until n).map(i => untraced.values.map(_(i)).sum)
    // per-operation medians over the passes, then summarised
    val perOp = real.flatMap(op => untraced.get(op.name).map(ts => Stats.median(ts.toSeq)))
    ctx.e2e("suite_s") = perOp.sum
    ctx.e2e("latency_ms_geomean") = Stats.geomean(perOp) * 1e3
    ctx.e2e("latency_ms_p50") = Stats.quantile(perOp, 0.5) * 1e3
    ctx.e2e("latency_ms_p95") = Stats.quantile(perOp, 0.95) * 1e3
    ctx.detail("query_geomean_s") = Stats.geomean(perOp)
    ctx.detail("passes") = n.toDouble
    real.foreach(op => untraced.get(op.name).foreach { ts =>
      ctx.perQuery(op.name) = Stats.median(ts.toSeq)
      ctx.series(s"op:${op.name}") = ts.toSeq
    })

    tracer.foreach { tr =>
      val passes = traced.values.map(_.size).maxOption.getOrElse(1).max(1)
      val tracedSuite = real.flatMap(op => traced.get(op.name).map(ts => Stats.median(ts.toSeq))).sum
      ctx.layer("trace.overhead_share") = tracedSuite / perOp.sum - 1.0
      ctx.layerFromTracer(tr, passes)
    }
    spark.stop()
  }

  private def timedOp(spark: SparkSession, op: Op, ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    ctx.attempted += 1
    val t = try { op.exec(op.build(spark)); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable => ctx.fail(op.name, e); Double.NaN }
    spark.catalog.clearCache()
    t
  }

  private def tracedOp(tr: Tracer, spark: SparkSession, op: Op, ctx: Ctx): Double = {
    val q = tr.nextId()
    tr.querySpan = q
    val t0 = System.nanoTime()
    ctx.attempted += 1
    val t = try {
      tr.span(s"query:${op.name}", 0L, q) { qid =>
        val plan = tr.span("build", qid)(_ => op.build(spark))
        plan match {
          case df: DataFrame => tr.phases(df.queryExecution)
          case _ => ()
        }
        tr.span("exec", qid)(_ => op.exec(plan))
      }
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable => ctx.fail(op.name, e); Double.NaN }
    tr.peak("mem.storage_peak_bytes", MemProbe.storageUsed.toDouble)
    tr.drain()
    spark.catalog.clearCache()
    t
  }
}
