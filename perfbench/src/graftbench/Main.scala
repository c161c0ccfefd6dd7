package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State and results of one benchmark run. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val nproc: Int, val fixtures: File, val runDir: File,
    val smoke: Boolean, expected: Map[String, Map[String, String]],
    record: Boolean) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Double]
  val perQuery = mutable.LinkedHashMap.empty[String, Double]
  /** Raw samples behind the medians (set-up repetitions, pass totals). */
  val series = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val recorded = mutable.Map.empty[String, mutable.Map[String, String]]
  var stampJson = "{}"

  val indexDir = new File(sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    new File(runDir, "index").getPath))

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
  }

  def checkDigest(fixture: String, query: String, got: String): Unit =
    if (record) recorded.getOrElseUpdate(fixture, mutable.Map.empty)(query) = got
    else expected.get(fixture).flatMap(_.get(query)) match {
      case Some(want) if want == got => ()
      case Some(want) => throw new IllegalStateException(
        s"result digest $got, expected $want")
      case None => throw new IllegalStateException(
        s"no expected digest for $query on $fixture")
    }

  /** Fixture fingerprint plus the run's environment. */
  def stamp(spark: SparkSession, dir: File): Unit = {
    val fp = Inputs.fingerprint(spark, dir)
      .map { case (t, q) => t -> q.mkString("[", ",", "]") }
    stampJson = Json.obj(Seq(
      "fixture" -> Json.str(dir.getName),
      "fixture_layout" -> Json.str("[bytes,rows,row_groups,files]"),
      "tables" -> Json.obj(fp),
      "nproc" -> nproc.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version)))
  }

  /** Per-layer metrics from the tracer, per traced pass. */
  def layerFromTracer(tr: Tracer, passes: Int): Unit = {
    tr.drain()
    val c = tr.snapshot.withDefaultValue(0.0)
    val p = passes.toDouble
    val spans = tr.all
    def spanMs(kind: String) = spans.filter(_.kind == kind).map(s => s.end - s.start).sum
    val wallMs = spanMs("query") + spanMs("batch")
    layer("operators.build_s") = spanMs("build") / p / 1e3
    layer("operators.build_jobs") = c("operators.build_jobs") / p
    Seq("analysis", "optimization", "planning").foreach(ph =>
      layer(s"catalyst.${ph}_s") = c(s"catalyst.${ph}_ms") / p / 1e3)
    layer("sched.jobs") = c("sched.jobs") / p
    layer("sched.stages") = c("sched.stages") / p
    layer("sched.tasks") = c("sched.tasks") / p
    layer("sched.tiny_task_share") =
      if (c("sched.tasks") > 0) c("sched.tiny_tasks") / c("sched.tasks") else 0.0
    layer("sched.overhead_s") = c("sched.overhead_ms") / p / 1e3
    layer("sched.core_busy_share") =
      if (wallMs > 0) c("exec.task_run_ms") / (wallMs * nproc) else 0.0
    layer("sched.stage_reuse_share") =
      if (c("sched.stages_total") > 0) c("sched.stages_skipped") / c("sched.stages_total") else 0.0
    layer("exec.task_run_s") = c("exec.task_run_ms") / p / 1e3
    layer("exec.task_cpu_s") = c("exec.task_cpu_ns") / p / 1e9
    layer("exec.input_mb") = c("exec.input_bytes") / p / 1e6
    layer("exec.input_rows") = c("exec.input_rows") / p
    layer("shuffle.write_mb") = c("shuffle.write_bytes") / p / 1e6
    layer("shuffle.read_mb") = c("shuffle.read_bytes") / p / 1e6
    layer("shuffle.records") = c("shuffle.records") / p
    layer("shuffle.fetch_wait_s") = c("shuffle.fetch_wait_ms") / p / 1e3
    layer("mem.spill_mb") = c("mem.spill_bytes") / p / 1e6
    layer("mem.gc_s") = c("mem.gc_ms") / p / 1e3
    layer("mem.peak_exec_mb") = c("mem.peak_exec_bytes") / 1e6
    layer("mem.storage_mb_peak") = c("mem.storage_peak_bytes") / 1e6
    layer("codegen.compiles") = c("codegen.compiles") / p
    layer("jit.compile_s") = c("jit.compile_ms") / p / 1e3
    val self = tr.selfTimeMs.withDefaultValue(0.0)
    Seq("query", "build", "exec", "catalyst", "job", "stage", "batch", "phase", "sink")
      .foreach(k => layer(s"self.${k}_s") = self(k) / p / 1e3)
    Files.write(new File(runDir, "spans.json").toPath,
      tr.json(s"$workload-$seed").getBytes(UTF_8))
  }

  def resultJson: String = {
    val rss = peakRssMb
    e2e("peak_rss_mb") = rss
    val total = attempted.max(1)
    detail("error_rate") = failed.toDouble / total
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"),
      "smoke" -> smoke.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> Json.nums(e2e.toSeq),
      "per_layer" -> Json.nums(layer.toSeq),
      "detail" -> Json.nums(detail.toSeq),
      "per_query_s" -> Json.nums(perQuery.toSeq),
      "series" -> Json.obj(series.toSeq.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") }),
      "stamp" -> stampJson))
  }

  private def peakRssMb: Double = {
    val s = scala.io.Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally s.close()
  }
}

/** Entry point of the benchmark JVM.
  *
  * {{{
  * graftbench.Main fixtures <dir>
  * graftbench.Main run <workload> <seed> <seconds> <trace 0|1> <fixtures> <runDir>
  *     <digests.tsv> <out.json> [smoke] [record]
  * graftbench.Main dump <fixtureDir> <outDir> <query,query,...>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "fixtures" :: dir :: Nil =>
      val runDir = new File(dir, ".gen")
      val spark = Session.create(Runtime.getRuntime.availableProcessors, runDir)
      try Inputs.generateFixtures(spark, new File(dir))
      finally { spark.stop(); Inputs.deleteTree(runDir) }
    case "run" :: w :: seed :: secs :: trace :: fx :: runDir :: digests :: out :: flags =>
      val expected = if (new File(digests).isFile) DigestFile.read(new File(digests))
        else Map.empty[String, Map[String, String]]
      val ctx = new Ctx(w, seed.toLong, secs.toDouble, trace == "1",
        Runtime.getRuntime.availableProcessors, new File(fx), new File(runDir),
        flags.contains("smoke"), expected, flags.contains("record"))
      w match {
        case "rainstorm" => Stream.run(ctx)
        case _ if Batch.Panels.contains(w) => Batch.run(ctx)
        case _ => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Files.write(new File(out).toPath, ctx.resultJson.getBytes(UTF_8))
      if (flags.contains("record"))
        ctx.recorded.foreach { case (fixture, m) =>
          Files.write(new File(s"$out.digests.$fixture").toPath,
            m.toSeq.sorted.map { case (q, d) => s"$q\t$d" }
              .mkString("", "\n", "\n").getBytes(UTF_8))
        }
    case "dump" :: dir :: out :: queries :: Nil =>
      // results as parquet for the DuckDB oracle compare, with the digest
      // of exactly the rows written
      val runDir = new File(out, ".run")
      val spark = Session.create(Runtime.getRuntime.availableProcessors, runDir)
      val names = queries.split(",").toSeq
      val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }
      Files.write(new File(out, "oracle_sql.json").toPath, Json.obj(oracle.toSeq.sorted
        .map { case (q, sql) => q -> Json.str(sql) }).getBytes(UTF_8))
      val lines = names.map { q =>
        val path = new File(out, q).getPath
        graft.SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(path)
        spark.catalog.clearCache()
        s"$q\t${Digest(spark.read.parquet(path))}"
      }
      Files.write(new File(out, "digests.tsv").toPath,
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
      spark.stop()
      Inputs.deleteTree(runDir)
    case _ =>
      System.err.println("usage: see graftbench.Main")
      sys.exit(2)
  }
}

/** Expected digests, one `<fixture>\t<query>\t<rows>:<hashsum>` line
  * each (the runner flattens `digests.json` into this form). */
object DigestFile {
  def read(f: File): Map[String, Map[String, String]] = {
    val s = scala.io.Source.fromFile(f, "UTF-8")
    try s.getLines().filter(_.nonEmpty).map(_.split("\t")).toList
      .groupBy(_(0)).map { case (fx, rows) => fx -> rows.map(r => r(1) -> r(2)).toMap }
    finally s.close()
  }
}
