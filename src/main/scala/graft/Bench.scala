package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE compact JSON line for the driver plus a full
  * per-query detail file (`bench_full.json`).
  *
  * The headline line is deliberately small (<= 1 kB for a full run,
  * BenchHeadlineSpec): a harness that keeps only a bounded tail of
  * stdout must get it whole, and a line carrying every query at full
  * double precision overflows that tail (round 1's line was ~2.2 kB and
  * failed to parse). The complete per-query map, the index build split
  * and the fixture stamp live in bench_full.json and on an earlier
  * stdout line.
  */
object Bench {

  /** Representative queries inlined into the headline JSON (one or two per
    * operator family); the full map is in bench_full.json. */
  private[graft] val Headline = Seq(
    "q01_pricing_summary", "q03_topk_orders", "q05_broadcast_join",
    "q13_cube", "q19_scalar_subquery", "q23_percentiles",
    "dd01_exact_dedup", "dd03_minhash_lsh", "dd06_dedup_clusters",
    "sim01_knn_bruteforce", "tx08_tfidf_pairs", "ev01_sessionize",
    "gr01_grep_lines", "rs01_simple_app")

  /** Queries that consume a lazily-built persisted IndexStore artifact
    * (pair table / IVF cells / PQ codebook+codes). Their first timed
    * pass pays the one-time index BUILD — real user-facing work that a
    * plain min-of-2 would silently swallow (dd09's sf2 passes were
    * [41.3 s, 0.53 s] and the headline said 0.53) — so the bench wipes
    * the sfDir's index store up front (pass 1 = deterministic
    * build+query, pass 2 = steady state) and reports both: the
    * `queries` maps carry the steady number, bench_full.json's
    * `index_build` carries {first_pass_s, steady_s, build_s}. Within a
    * pass the FIRST query to touch an artifact builds it (alphabetical
    * order: dd09 builds the pair table that dd10/dd14 reuse;
    * sim03_ivf_knn the IVF index that sim03_probe reuses; sim05_pq_knn
    * the PQ codebook+codes that sim05_probe reuses). */
  private val IndexBacked = Seq(
    "dd09_clusters_from_pairs", "dd10_dedup_corpus_from_pairs",
    "dd14_cluster_canonical", "dd17_incremental_probe",
    "sim03_ivf_knn", "sim03_probe", "sim05_pq_knn", "sim05_probe",
    "gx01_pagerank", "gx02_triangles")

  /** dd05 gate: the exact O(N^2) all-pairs baseline exists as dd07's
    * recall anchor at spec'd scales (<= sf1), not as a scale path — at
    * sf2 it was 13% of the whole bench total and growing ~N^2 (91.7 s,
    * 3.1x for 2x), drowning the scale-path trend the sidecars exist to
    * show. Above the sf1 corpus size (GateVectors embeddings) it is
    * excluded from the timed passes and the JSON says so; its anchor
    * role (bit-exact vs the numpy checker at sf1) is unchanged. sim08 is
    * the kNN-graph twin of dd05's role: the exact O(N^2) anchor the
    * scale path (sim09) is recall-checked against — same gate, same
    * rationale. */
  private val ExactPairAnchors = Set("dd05_embedding_neardup", "sim08_knn_graph")
  private val GateVectors = 60000L

  /** Program argument that makes this main the streaming child JVM. */
  private val StreamingChild = "--streaming-child"

  private def jnum(v: Double): String = f"$v%.3f"

  private def jmap(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"\"$k\":${jnum(v)}" }.mkString("{", ",", "}")

  /** The fields both JSON lines open with: total, protocol, failures. */
  private def totalsJson(results: Seq[(String, Double)]): String =
    s"""{"metric":"total","value":${jnum(results.map(_._2).filter(_ >= 0).sum)},"unit":"sec","protocol":"min2","failures":${results.count(_._2 < 0)},"n_queries":${results.size}"""

  /** The streaming rates, their protocol and the dropped-rows field. An
    * empty rates map marks "streaming section did not run" (e.g. missing
    * fixture checkout) as distinct from "removed". */
  private[graft] def streamingJson(streaming: Seq[(String, Double)],
      dropped: String): String =
    ""","streaming_rec_s":""" + jmap(streaming) +
      (if (streaming.nonEmpty)
        ""","streaming_protocol":"child-jvm;median-of-3;host-swing see BENCH_streaming_ab.json""""
       else "") + dropped

  /** The dd05 gate stamp ("" below [[GateVectors]] embeddings) and the
    * campaign skip stamp ("" when nothing is skipped). */
  private[graft] def gateStamps(nVec: Long, skipSet: Set[String],
      skipReason: String): String =
    (if (nVec > GateVectors)
      s""","dd05_gated":"excluded ${ExactPairAnchors.toSeq.sorted.mkString("+")}: O(N^2) recall anchors, corpus ${nVec} vectors > 60k sf1 bound (PLANS.md)""""
      else "") +
    (if (skipSet.nonEmpty)
      s""","skipped":"${skipSet.toSeq.sorted.mkString("+")}: ${jesc(skipReason)}""""
     else "")

  /** The headline line: the totals, the [[Headline]] queries, the
    * streaming section and the gate/skip stamps, plus a pointer to
    * bench_full.json, which carries everything else. */
  private[graft] def headline(results: Seq[(String, Double)],
      streamJson: String, stamps: String, sfDir: String): String =
    totalsJson(results) + ""","queries":""" +
      jmap(results.filter(r => Headline.contains(r._1))) +
      s"""$streamJson$stamps,"detail":"bench_full.json","sf":"$sfDir"}"""

  /** JSON string escape for free-text fields interpolated into the
    * sidecars (r14 advisor: a quote/backslash in SPARK_GRAFT_BENCH_SKIP's
    * reason produced an unparseable BENCH file). */
  private def jesc(s: String): String = s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case c if c < ' '  => f"\\u${c.toInt}%04x"
    case c             => c.toString
  }

  /** The measurement window, stamped into every sidecar (VERDICT r14
    * "what's wrong" #1: two rounds of officials were collected in the
    * end-of-round contended window and nothing in the artifact said so —
    * with the window stamped, a consumer can line a run up against the
    * host's campaign schedule instead of guessing). */
  private def windowJson(startMs: Long): String = {
    val endMs = System.currentTimeMillis()
    val iso = (ms: Long) => java.time.Instant.ofEpochMilli(ms)
      .toString.takeWhile(_ != '.') + "Z"
    s""""run_window":"${iso(startMs)}..${iso(endMs)}""""
  }

  /** Run the streaming section in a fresh child JVM (same classpath and
    * JVM flags as this one, program argument [[StreamingChild]]) and read
    * its bench_streaming.json: the rates and the dropped-rows field. Launched
    * AFTER the batch passes, so the child's JVM holds nothing but the
    * streaming micro-bench — the sidecars' quiet protocol, driven by the
    * bench itself. Returns no rates (distinct from a measured zero) if
    * the child fails; its stdout/stderr land in
    * bench_streaming_child.log. */
  private def streamingInChild(): (Seq[(String, Double)], String) = {
    import scala.jdk.CollectionConverters._
    try {
      val jvm = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getPath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = (Seq(jvm) ++ jvmArgs ++ Seq("-cp",
        System.getProperty("java.class.path"), "graft.Bench",
        StreamingChild)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(true)
      pb.redirectOutput(new java.io.File("bench_streaming_child.log"))
      val p = pb.start()
      val code = p.waitFor()
      if (code != 0) {
        System.err.println(s"[bench] streaming child exited $code " +
          "(see bench_streaming_child.log)")
        return (Seq.empty, "")
      }
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_streaming.json")), "UTF-8")
      // digits allowed in key names (e.g. a future win10s row) but not
      // leading — a truncated capture would silently corrupt the sidecar
      val rates = """"([a-z][a-z0-9_]*)":([0-9.]+)""".r.findAllMatchIn(json)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter(_._1 != "metric").toSeq
      val dropped = ""","streaming_dropped":"(?:[^"\\]|\\.)*"""".r
        .findFirstIn(json).getOrElse("")
      (rates, dropped)
    } catch { case e: Exception =>
      System.err.println(s"[bench] streaming child failed: ${e.getMessage}")
      (Seq.empty, "")
    }
  }

  /** Fixture fingerprint: the physical quadruple (bytes/rows/rowGroups/
    * files) per table straight from [[graft.core.Tables.layout]]'s footer
    * read, plus an md5 of the documents table's first part file. Stamped
    * into every bench sidecar so cross-round per-query deltas are only
    * ever read against IDENTICAL fixture bytes — the r9/r10 "same
    * generator, 2x different files" drift (PLANS.md §3; an r11
    * regeneration A/B with the r9-era 128 MB block size reproduced the
    * SMALL files, so block size is ruled out and the r9-era inflation
    * remains unreproducible from HEAD) becomes detectable at a glance
    * instead of after a week of confounded numbers. */
  private def fixtureJson(spark: SparkSession, sfDir: String): String = {
    val dir = new java.io.File(sfDir)
    val tables = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val perTable = tables.map { t =>
      val l = graft.core.Tables.layout(spark, t.getPath)
      s""""${t.getName.stripSuffix(".parquet")}":[${l.bytes},${l.rows},${l.rowGroups},${l.files}]"""
    }.mkString("{", ",", "}")
    val md5 = tables.find(_.getName == "documents.parquet").map { t =>
      val part = if (t.isDirectory)
        t.listFiles().filter(f => !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")).sortBy(_.getName).headOption
          .getOrElse(t)
        else t
      val d = java.security.MessageDigest.getInstance("MD5")
      val in = new java.io.FileInputStream(part)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n > 0) { d.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      d.digest().map("%02x".format(_)).mkString
    }.getOrElse("absent")
    s""""fixture":{"tables":$perTable,"documents_md5":"$md5","layout":"[bytes,rows,row_groups,files]"}"""
  }

  def main(args: Array[String]): Unit = {
    val runStartMs = System.currentTimeMillis()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.EngineConf.builder("graft-bench")
      // Multi-hour single-context campaigns (sf8): shuffle FILES are
      // deleted by ContextCleaner only after their dependencies are
      // GC'd, and the default periodicGC interval is 30 MIN — on a big
      // heap that barely collects, hours of dead shuffle files pile up
      // on local disk (r14: the sf8 pass filled the host's ~94 GB
      // usable). 2 min caps the dead-file window; per-query System.gc()
      // (below) handles the common case, this is the backstop.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Streaming section: SPARK_GRAFT_STREAMING=child (default) runs the
    // batch passes in this process, then the streaming micro-bench in a
    // FRESH child JVM; "skip" leaves it out. The streaming rows are
    // scale-INVARIANT (fixed 10k-row fixtures), so an in-process
    // measurement inherits the batch surface's heap debris and GC debt —
    // r10's in-process full bench read streaming ~2x below the quiet
    // sidecar protocol for exactly this reason (and r7's sf2 rows
    // depressed ~2.6x under a concurrent batch gate). The child runs
    // AFTER the batch passes complete, in a JVM whose only work is the
    // streaming section — the quiet protocol, driven BY the bench.
    if (args.contains(StreamingChild)) {
      val (streaming, dropped) = streamingMedianOf3(spark)
      val streamJson = """{"metric":"streaming"""" +
        streamingJson(streaming, dropped) +
        s""",${windowJson(runStartMs)},"sf":"$sfDir"}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_streaming.json"),
        (streamJson + "\n").getBytes("UTF-8"))
      println(streamJson)
      spark.stop()
      return
    }
    val skipStreaming =
      sys.env.getOrElse("SPARK_GRAFT_STREAMING", "child") match {
        case "child" => false
        case "skip"  => true
        case other   => throw new IllegalArgumentException(
          s"SPARK_GRAFT_STREAMING=$other: expected child or skip")
      }

    // dd05 gate (see ExactPairAnchors)
    val nVec = try graft.core.Tables(spark, sfDir, "embeddings").count()
      catch { case _: Throwable => 0L }
    val gateDd05 = nVec > GateVectors
    // Optional subset run (comma-separated names): the targeted-sidecar
    // dev loop — e.g. the sf4 pair-kernel trend point only times the five
    // pair kernels instead of paying for the full query surface.
    // an empty-but-set variable means "no subset", not "match nothing"
    // (a shell `VAR=''` passthrough silently benched zero queries)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // Campaign-level exclusions, STAMPED in the JSON (a silent cap reads
    // as "covered everything"): SPARK_GRAFT_BENCH_SKIP=q1,q2;reason.
    // Exists for the closed-fixture sf8 point, where gx01/gx02's exact
    // tau=0.5 pair mine is quadratic BY FIXTURE CONSTRUCTION (saturated
    // 27k-shingle vocab -> per-key df grows with N; >37 GB of shuffle
    // before dying at sf8) — the same class as the dd05/sim08 gate; the
    // gx family's linearity evidence lives on the open-vocabulary
    // fixture (BENCH_open_sf{1..8}_gx.json, alpha ~= 0.05).
    // PairBudget degradation stamps (degrade_<query>.json, written by
    // the kernels when a pair-volume budget lowers a df cap): clear
    // stale ones up front, collect fresh ones into the sidecar after
    // the passes — a budget-bounded run must say so in the artifact.
    Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("degrade_.*\\.json")).foreach(_.delete())
    val (skipSet, skipReason) = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map { v =>
        val parts = v.split(';')
        (parts(0).split(',').map(_.trim).filter(_.nonEmpty).toSet,
          if (parts.length > 1) parts(1) else "unspecified")
      }.getOrElse((Set.empty[String], ""))
    val benchQueries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .filterNot { case (n, _) => gateDd05 && ExactPairAnchors(n) }
      .filterNot { case (n, _) => skipSet(n) }

    // Warm every query's codegen/scan path at the tiniest sf so timed
    // numbers measure the query, not one-time JVM/compile startup
    // (otherwise whichever query runs first absorbs ~3-8 s of warmup).
    // The warmup dir is sfDir's sf0.001 sibling when present so a custom
    // SPARK_GRAFT_SF_DIR keeps warmup and measurement on the same dataset.
    val warmSib = new java.io.File(
      new java.io.File(sfDir).getParentFile, "sf0.001")
    val warmDir = if (warmSib.isDirectory) warmSib.getPath else sfDir
    val (_, warmCompiles) = countingCompiles {
      benchQueries.foreach { case (_, fn) =>
        try fn(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        finally spark.catalog.clearCache()
      }
    }

    // Deterministic index-build accounting (see IndexBacked): wipe the
    // measured dataset's persisted index store so pass 1 always pays the
    // build and pass 2 is always steady-state — without this, whether a
    // stale index from an earlier run exists silently decides what the
    // first pass measures. AFTER the warmup loop: when the sf0.001
    // sibling is absent warmup falls back to sfDir itself and would
    // rebuild every index off the clock, silently voiding the invariant
    // (with a distinct warmDir the ordering is a no-op). Deleted through
    // the Hadoop FS API — IndexStore supports SPARK_GRAFT_INDEX_DIR on
    // HDFS/S3, where a java.io.File delete silently no-ops and a stale
    // remote index would decide what pass 1 measures.
    val idxRoot = new org.apache.hadoop.fs.Path(
      graft.core.IndexStore.root(sfDir))
    idxRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(idxRoot, true)

    // Per-query watermarks (pass 2 only — the timed min's usual source):
    // [gc_ms during the query, storage bytes STILL held after
    // clearCache+GC, heap bytes after]. The r10 verdict's ask: when a
    // full-surface run reads above a dedicated run, these say whether
    // the gap is GC debt / storage residue (harness contention) or the
    // query itself — attribution instead of argument.
    val watermarks = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long)]
    def timedPass(record: Boolean = false): Seq[(String, Double)] =
      benchQueries.map { case (name, fn) =>
        val gc0 = org.apache.spark.sql.graftx.MemProbe.gcMillis
        val t0 = System.nanoTime()
        // noop sink materializes every output column (a count() would let
        // Catalyst prune the projections being measured).
        // failed queries report -1, never a bogus near-zero "great" time;
        // elapsed is captured before clearCache so cache teardown is not
        // billed to the query
        var elapsed = -1.0
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          elapsed = (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        finally {
          spark.catalog.clearCache() // drop per-query persisted indexes
          // Cross-query pressure: clearCache drops DATASET caches, but a
          // heavy query also leaves broadcast blocks and heap debris
          // whose cleanup rides ContextCleaner's reference queue — which
          // only drains after a driver GC. Across 100+ queries that lag
          // accumulates storage-memory pressure that evicts the NEXT
          // heavy query's persists (r9 sf4: tx14 grew 4.07x inside the
          // full-surface run vs 1.83x dedicated). Force the GC here, off
          // the clock (elapsed is already captured), and only after
          // queries heavy enough to have left debris — a full GC after
          // every sub-second query would cost more wall than it frees.
          if (elapsed < 0 || elapsed >= 2.0) System.gc()
          if (record) {
            import org.apache.spark.sql.graftx.MemProbe
            watermarks(name) = (MemProbe.gcMillis - gc0,
              MemProbe.storageUsed, MemProbe.heapUsed)
          }
        }
        name -> elapsed
      }
    // Two timed passes, per-query min. A transient host stall (GC storm,
    // co-scheduled work) hits a contiguous time window; with two
    // temporally separated measurements the minimum discards the stalled
    // one instead of recording it as a plan regression. (Round 5's driver
    // bench recorded q13_cube at 32 s under co-scheduled load vs its
    // steady-state 0.7 s — exactly the artifact this protocol removes.)
    // Both raw pass times are emitted alongside the min (and the headline
    // carries a protocol tag) so consumers can tell min-of-2 results from
    // the single-pass protocol of rounds <= 5 — the metric definitions
    // differ and cross-round comparisons must not conflate them.
    val (pass1, compiles1) = countingCompiles(timedPass())
    val (pass2, compiles2) = countingCompiles(timedPass(record = true))
    val results = pass1.zip(pass2).map { case ((name, a), (_, b)) =>
      name -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }

    // Streaming throughput in BASELINE.md's own units (output rec/s on the
    // reference's two canonical 10k-row apps; reference: ~84 rec/s simple).
    val (streaming, dropped) =
      if (skipStreaming) (Seq.empty, "") else streamingInChild()
    val streamJson = streamingJson(streaming, dropped)
    // Per-pass totals and code-generator compiles (its cache misses).
    // With the class cache sized to the working set (EngineConf) a timed
    // pass compiles only sources no earlier pass generated (tens at
    // sf0.1); hundreds per pass mean the cache thrashes again.
    def passTotal(p: Seq[(String, Double)]) = p.map(_._2).filter(_ >= 0).sum
    val passTotalsJson =
      s""","pass_totals_s":[${jnum(passTotal(pass1))},${jnum(passTotal(pass2))}],"codegen_compiles":{"warmup":$warmCompiles,"pass1":$compiles1,"pass2":$compiles2}"""
    val passesJson = pass1.zip(pass2).map { case ((k, a), (_, b)) =>
      s""""$k":[${jnum(a)},${jnum(b)}]""" }.mkString("{", ",", "}")
    // Index build cost, split out per IndexBacked query: build_s is the
    // first-touch premium over steady state (clamped at 0 — noise can
    // make a warm pass slower than a cold one on non-building reusers).
    val indexJson = pass1.zip(pass2)
      .filter { case ((k, _), _) => IndexBacked.contains(k) }
      .map { case ((k, a), (_, b)) =>
        val build = if (a >= 0 && b >= 0) math.max(0.0, a - b) else -1.0
        s""""$k":{"first_pass_s":${jnum(a)},"steady_s":${jnum(b)},"build_s":${jnum(build)}}"""
      }.mkString(""","index_build":{""", ",", "}")
    // fold any degradation stamps written during the passes into the
    // sidecar (each file is one JSON object emitted by PairBudget)
    val degradeJson = {
      val files = Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.matches("degrade_.*\\.json")).sortBy(_.getName)
      if (files.isEmpty) "" else files.map { f =>
        val obj = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8").trim
        s""""${f.getName.stripPrefix("degrade_").stripSuffix(".json")}":$obj"""
      }.mkString(""","degraded":{""", ",", "}")
    }
    val stamps = gateStamps(nVec, skipSet, skipReason)
    val fixJson = try fixtureJson(spark, sfDir)
      catch { case e: Exception => s""""fixture":{"error":"${e.getClass.getSimpleName}"}""" }
    val wmJson = watermarks.map { case (k, (gc, st, hp)) =>
      s""""$k":[$gc,$st,$hp]""" }.mkString(
      """"watermarks_pass2":{""", ",",
      """},"watermarks_layout":"[gc_ms,storage_bytes_after,heap_bytes_after]"""")
    val fullJson =
      s"""${totalsJson(results)},"queries":${jmap(results)},"passes":$passesJson$passTotalsJson$indexJson$streamJson$degradeJson$stamps,$fixJson,$wmJson,${windowJson(runStartMs)},"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      (fullJson + "\n").getBytes("UTF-8"))
    println(s"BENCH_DETAIL $fullJson")
    println(headline(results, streamJson, stamps, sfDir))
    spark.stop()
  }

  /** Runs `body` and counts the classes Spark's code generator compiled
    * meanwhile (`CodegenMetrics` counts one compilation per cache miss). */
  private def countingCompiles[T](body: => T): (T, Long) = {
    val c = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = c.getCount
    val r = body
    (r, c.getCount - c0)
  }

  /** MEDIAN-of-3 (r14, VERDICT r13 "what's wrong" #1): the r13 artifact
    * carried max-of-2 rates measured as the tail of the round's heaviest
    * campaign — 2,925/720 rec/s where the same-HEAD quiet run read
    * 3,380/1,126, with BENCH_streaming_ab.json documenting a 1.46x
    * same-code host swing. Max-of-2 under sustained contention still
    * reports a contended number; the median of three spaced passes
    * rejects one bad pass outright and the protocol is stamped in the
    * JSON so consumers can tell the eras apart. (The child JVM already
    * isolates from the batch surface's heap; this addresses HOST-level
    * co-running load.)
    *
    * A row that cannot run (its input fixture is missing) is dropped
    * alone; the others are still measured. Returns the rates and a
    * `streaming_dropped` JSON field naming the dropped rows and why ("" when
    * none). */
  private def streamingMedianOf3(
      spark: SparkSession): (Seq[(String, Double)], String) =
    try {
      val passes = (1 to 3).map { i =>
        if (i > 1) Thread.sleep(2000) // let fs/page-cache effects settle
        streamingRates(spark)
      }
      val rows = passes.head.map(_._1).map { k =>
        val runs = passes.map(_.toMap.apply(k))
        k -> runs.collectFirst { case Left(why) => why }
          .toLeft(runs.collect { case Right(v) => v }.sorted.apply(1))
      }
      val dropped = rows.collect { case (k, Left(why)) => (k, why) }
        .groupBy(_._2).toSeq
        .map { case (why, ks) => ks.map(_._1).mkString("+") + ": " + why }
        .sorted.mkString("; ")
      (rows.collect { case (k, Right(v)) => (k, v) },
        if (dropped.isEmpty) ""
        else s""","streaming_dropped":"${jesc(dropped)}"""")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] streaming bench failed: ${e.getMessage}")
      (Seq.empty, "") }

  /** Measure BASELINE.md's four streaming rows end-to-end (10k-row CSV →
    * streaming job → text sink), in output rec/s, the reference's metric
    * (reports/Streaming.pdf p.2-3):
    *
    *  - Traffic Signs simple/complex run on the reference's OWN
    *    `TrafficSigns_10000` fixture with the published workloads (pattern
    *    `Unpunched Telespar` → project(OBJECTID, Sign_Type); filter
    *    Sign_Type=Stop → count by Category), so the comparison shares the
    *    exact input bytes with the published charts (ref ~84 / ~0.101).
    *  - Customer Churn simple/complex run on a synthesized 10k CSV in the
    *    Kaggle churn schema (the fixture is not in the repo) with the
    *    published workloads: pattern France → project(CustomerId,
    *    Surname); filter Gender=Female → count by IsActiveMember
    *    (ref ~330 / ~0.128).
    *
    * Each row is measured on its own: a row whose input file is absent
    * (the reference fixture) comes back as Left(why) and the other rows
    * still run. Inputs, outputs and checkpoints live under one temp
    * directory, deleted when the rows are measured.
    */
  private def streamingRates(
      spark: SparkSession): Seq[(String, Either[String, Double])] = {
    val root = java.nio.file.Files.createTempDirectory("bench-stream").toFile
    try streamingRows(spark, root)
    finally org.apache.spark.network.util.JavaUtils.deleteRecursively(root)
  }

  /** [[streamingRates]]' four rows, measured under `root`. */
  private def streamingRows(spark: SparkSession, root: java.io.File)
      : Seq[(String, Either[String, Double])] = {
    import graft.streaming.{RainStormApps, RainStormJob, RainStormOp}
    import java.nio.file.Files

    def run(name: String, write: java.io.File => Unit,
        ops: Seq[RainStormOp], stateful: Boolean): Either[String, Double] = {
      val in = new java.io.File(root, s"in-$name"); in.mkdirs()
      try write(in)
      catch { case e: java.nio.file.NoSuchFileException =>
        return Left(s"missing ${new java.io.File(e.getFile).getName}") }
      val out = new java.io.File(root, s"out-$name")
      val t0 = System.nanoTime()
      RainStormJob.start(spark, in.getPath, ops, out.getPath,
        new java.io.File(root, s"ckpt-$name").getPath, stateful)
        .awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      Right(spark.read.text(RainStormJob.committed(spark, out.getPath)
        .map(_.toString): _*).count() / secs)
    }

    // Warm the streaming machinery (class loading, codegen) off the clock.
    run("warmup", in => Files.write(new java.io.File(in, "w.csv").toPath,
        "0,sign,Unpunched Telespar,cat0".getBytes("UTF-8")),
      RainStormApps.simpleApp("Unpunched Telespar", 0, 3), stateful = false)

    // Fixture root is overridable so a host without the reference checkout
    // can still run this section (the default matches this container).
    val fixtureRoot = sys.env.getOrElse("SPARK_GRAFT_FIXTURES",
      "/root/reference/test_files")
    def copyFixture(in: java.io.File): Unit =
      Files.copy(java.nio.file.Paths.get(fixtureRoot, "TrafficSigns_10000"),
        new java.io.File(in, "signs.csv").toPath)

    // Kaggle churn schema fixture, shared with ChurnFixtureSpec's goldens.
    def writeChurn(in: java.io.File): Unit =
      Files.write(new java.io.File(in, "churn.csv").toPath,
        RainStormApps.syntheticChurnLines(10000)
          .mkString("\n").getBytes("UTF-8"))

    Seq(
      "simple_app" -> run("simple_app", copyFixture,
        RainStormApps.simpleApp("Unpunched Telespar", 2, 3),
        stateful = false),
      "complex_app" -> run("complex_app", copyFixture,
        RainStormApps.complexApp(3, "Stop", 8), stateful = true),
      "churn_simple" -> run("churn_simple", writeChurn,
        RainStormApps.simpleApp("France", 1, 2), stateful = false),
      "churn_complex" -> run("churn_complex", writeChurn,
        RainStormApps.complexApp(5, "Female", 11), stateful = true))
  }
}
