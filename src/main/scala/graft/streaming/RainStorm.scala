package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.SerializableConfiguration

/** The record model of the reference engine: a (key, value) string pair
  * (reference src/Streaming/worker.py:52-62 `encode_key_val`/`decode_key_val`,
  * one JSON object per line). */
case class KV(key: String, value: String)

/** An operator in a RainStorm pipeline. The reference's contract is a
  * subprocess that maps `(key, value) -> List[(key, value)] | None`
  * (reference src/Streaming/framework.py:11-70, dispatch at :60) — i.e.
  * flatMap with None = filter — optionally holding a `dict` of state
  * (tests/sample2_op2.py:6-20). Three tiers here, best first:
  *
  *  - [[ExprOp]]: a declarative DataFrame transform. Catalyst sees through
  *    it (pushdown, pruning, codegen) — use for every filter/project/agg
  *    shape. This is what the reference's opaque executables can never get.
  *  - [[FlatMapOp]]: the escape hatch for genuinely opaque user logic,
  *    matching the reference's contract exactly. An optimization barrier,
  *    same as every reference operator is.
  *  - [[StatefulCountOp]]: the reference's only stateful shape — running
  *    count-by-key with one output PER INPUT RECORD, no barrier
  *    ("we don't use a barrier", reports/Streaming.pdf p.3; state protocol
  *    framework.py:52-54). Implemented on `flatMapGroupsWithState` so the
  *    per-update emission cardinality is preserved; state lives in Spark's
  *    checkpointed state store, which is what replaces the reference's
  *    HyDFS-log replay recovery (worker.py:327-368).
  */
sealed trait RainStormOp
final case class ExprOp(f: DataFrame => DataFrame) extends RainStormOp
final case class FlatMapOp(f: KV => IterableOnce[KV]) extends RainStormOp
final case class StatefulCountOp(keyOf: KV => String) extends RainStormOp

/** A RainStorm job: source -> op chain -> sink, generalized from the
  * reference's fixed source -> op1 -> op2 -> leader-sink topology
  * (leader wiring src/Streaming/leader.py:155-208, `get_workers(2 *
  * num_tasks)` at :182-184) to arbitrary-length chains.
  *
  * What the reference builds by hand maps onto Spark primitives:
  *  - hash shuffle by key (worker.py:256-262)      -> groupByKey exchange;
  *  - ack/resend transport (worker.py:118-186)     -> task retry + epoch replay;
  *  - tuple-id dedup for exactly-once (worker.py:446-453, leader.py:241-246)
  *                                                  -> checkpointed offsets +
  *                                                     idempotent batch sink;
  *  - processed-log recovery (worker.py:327-368)   -> state-store checkpoint.
  *
  * At scale the source is already split per file/partition (no manual
  * `sha1(stream_id) % num_tasks` filter like worker.py:513-515 — every
  * reader reads ONLY its split instead of scanning everything and dropping
  * (n-1)/n of it).
  */
object RainStormJob {

  /** Text-file line source with provenance keys, the analogue of the HyDFS
    * line source (worker.py:473-520): key = "<file>:<line-id>". */
  def lineSource(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 100): DataFrame = {
    import spark.implicits._
    // Provenance key = file + content hash (monotonically_increasing_id is
    // not allowed on streams). The reference's "<file>:<lineno>" key exists
    // to give tuples a dedup identity (worker.py:513-515); in Structured
    // Streaming that job is done by checkpointed source offsets, so the key
    // only carries provenance.
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .select(
        concat_ws(":", input_file_name(),
          xxhash64(input_file_name(), col("value"))).as("key"),
        col("value"))
  }

  /** Apply one operator to a KV-shaped (streaming) DataFrame. */
  def applyOp(df: DataFrame, op: RainStormOp): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    op match {
      case ExprOp(f) => f(df)
      case FlatMapOp(f) => df.as[KV].flatMap(f).toDF()
      case StatefulCountOp(keyOf) =>
        df.as[KV]
          .groupByKey(keyOf)
          .flatMapGroupsWithState[Long, KV](
            OutputMode.Update, GroupStateTimeout.NoTimeout) {
            (key: String, rows: Iterator[KV], state: GroupState[Long]) =>
              var n = state.getOption.getOrElse(0L)
              // one emission per input record, like tests/sample2_op2.py:17
              val out = rows.map { _ => n += 1; KV(key, n.toString) }.toList
              state.update(n)
              out.iterator
          }.toDF()
    }
  }

  def pipeline(source: DataFrame, ops: Seq[RainStormOp]): DataFrame =
    ops.foldLeft(source)(applyOp)

  /** Exactly-once text sink, the analogue of the leader's batched
    * `key:value` flush (src/Streaming/leader.py:248-284): one atomically
    * renamed directory `batch-<batchId>` per micro-batch, holding one
    * `part-<partition>` text file (with its `.crc` sidecar) per non-empty
    * partition of the batch. An empty batch yields an empty directory.
    *
    * The write is one Spark job. Each task writes its partition through
    * the Hadoop FileSystem API to a per-attempt temp file and renames it
    * into the hidden `_staging-batch-<batchId>` directory; the driver then
    * deletes any `batch-<batchId>` an earlier attempt left and renames the
    * staging directory into place. So a batch becomes visible whole or not
    * at all, and a replay after failure replaces the batch instead of
    * duplicating it, even when it runs with a different partition count
    * (idempotence replaces the reference's leader-side dedup,
    * leader.py:241-246). A stale staging directory from a crashed attempt
    * is deleted before the job, never merged.
    *
    * Not `DataFrameWriter.text`: its commit protocol (job and task temp
    * directories, per-task commit renames, `_SUCCESS`) and the Hadoop
    * conf it ships with every task were most of a small batch's sink time
    * (OPTIMIZATION_r18.md). */
  def textSink(outDir: String)(batch: Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit = {
    // Distributed write — records never funnel through the driver the way
    // every reference record funnels through the leader (leader.py:212-246).
    val sc = batch.sparkSession.sparkContext
    val conf = broadcastConf(sc)
    val target = new Path(outDir, s"batch-$batchId")
    val staging = new Path(outDir, s"_staging-batch-$batchId")
    val fs = target.getFileSystem(sc.hadoopConfiguration)
    fs.delete(staging, true)
    if (!fs.mkdirs(staging))
      throw new java.io.IOException(s"cannot create $staging")
    val stagingDir = staging.toString
    val rows = batch
      .select(concat_ws(":", batch.columns.map(col): _*).as("value"))
      .queryExecution.toRdd
    sc.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) =>
      if (it.hasNext) {
        val dir = new Path(stagingDir)
        val fs = dir.getFileSystem(conf.value.value)
        val part = new Path(dir, f"part-${ctx.partitionId()}%05d")
        val tmp = new Path(dir,
          f".part-${ctx.partitionId()}%05d-${ctx.taskAttemptId()}.tmp")
        // non-recursive (the builder's default): a straggler attempt
        // cannot recreate a staging directory already renamed away
        val os = fs.createFile(tmp).overwrite(true).build()
        try {
          try it.foreach { r => r.getUTF8String(0).writeTo(os); os.write('\n') }
          finally os.close()
        } catch { case e: Throwable => fs.delete(tmp, false); throw e }
        // a rename that loses to an earlier attempt of the same partition
        // keeps that attempt's (identical) file
        if (!fs.rename(tmp, part)) {
          fs.delete(tmp, false)
          if (!fs.exists(part))
            throw new java.io.IOException(s"rename $tmp -> $part failed")
        }
      })
    fs.delete(target, true)
    if (!fs.rename(staging, target))
      throw new java.io.IOException(s"rename $staging -> $target failed")
  }

  // The sink's Hadoop conf, broadcast once per live SparkContext rather
  // than shipped with every task.
  private var sinkConf: (SparkContext, Broadcast[SerializableConfiguration]) =
    null

  private def broadcastConf(
      sc: SparkContext): Broadcast[SerializableConfiguration] = synchronized {
    if (sinkConf == null || (sinkConf._1 ne sc))
      sinkConf = (sc,
        sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
    sinkConf._2
  }

  /** Small-file compaction for a directory of per-batch outputs — the
    * analogue of HyDFS's multi-writer append + `merge` protocol
    * (reference src/FileSystem/file_system.py:286-365): many small
    * atomically-visible appends are periodically consolidated into few
    * large text files. At 100 TB this is the nightly job that keeps scan
    * partition counts sane.
    *
    * Inputs are the committed `batch-*` directories only; a sink's
    * `_staging-batch-*` directory is neither read nor deleted.
    *
    * Crash-safe by manifest: the consolidated output is written to a
    * dot-prefixed staging dir (invisible to `batch-*` readers), a
    * `_consumed` manifest naming the input dirs is placed inside, and the
    * staging dir is atomically renamed to `compacted-<n>` BEFORE the
    * consumed inputs are deleted. A rerun after a crash first deletes any
    * input dir named by an existing manifest (its data already lives in a
    * committed compacted dir), so records are never duplicated.
    *
    * Known window: if the process crashes between the rename and the input
    * deletion, readers see BOTH the compacted dir and the consumed inputs
    * (duplicates) until the next compact() run cleans them up — same
    * read-uncommitted window the reference's merge has between replica
    * pushes (file_system.py:286-365). Exactly-once readers should read
    * only `compacted-*` plus batches newer than the latest manifest.
    */
  def compact(spark: SparkSession, outDir: String, targetFiles: Int): Long = {
    val dir = new java.io.File(outDir)
    def list(prefix: String): Array[java.io.File] =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
    // Manifests record content identity, not just names — a rebuilt stream
    // (fresh checkpoint, same outDir) reuses batch ids, and deleting its
    // NEW batch-0 because an old manifest mentions "batch-0" would silently
    // lose data. Identity = name | file count | total bytes | MD5 over each
    // file's (name, length, first 64 bytes), so "same count and byte total
    // but different data" rebuilds are still distinguished.
    def dirIdentity(b: java.io.File): String = {
      val files = Option(b.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).sortBy(_.getName)
      val md = java.security.MessageDigest.getInstance("MD5")
      files.foreach { f =>
        md.update(s"${f.getName}:${f.length()}:".getBytes("UTF-8"))
        val in = new java.io.FileInputStream(f)
        try {
          // loop: a single read() may legally return fewer than 64 bytes,
          // which would make the identity depend on IO chunking
          val buf = new Array[Byte](64)
          var off = 0
          var n = in.read(buf, off, buf.length - off)
          while (n > 0) {
            off += n
            n = if (off < buf.length) in.read(buf, off, buf.length - off)
                else -1
          }
          if (off > 0) md.update(buf, 0, off)
        } finally in.close()
      }
      val hash = md.digest().map("%02x".format(_)).mkString
      s"${b.getName}|${files.length}|${files.map(_.length()).sum}|$hash"
    }
    // manifests written before the md5 segment was added carry only
    // `name|count|bytes` — accept that prefix as a match, or an upgraded
    // compactor would treat already-committed inputs as unconsumed and
    // re-compact them (duplicating records)
    def legacyIdentity(id: String): String =
      id.split('|').take(3).mkString("|")
    // recovery: drop inputs already committed into a compacted dir
    val consumed = list("compacted-").flatMap { c =>
      val m = new java.io.File(c, "_consumed")
      if (m.isFile)
        new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
          .split("\n").filter(_.nonEmpty)
      else Array.empty[String]
    }.toSet
    list("batch-").filter { b =>
      val id = dirIdentity(b)
      consumed(id) || consumed(legacyIdentity(id))
    }.foreach { b =>
      b.listFiles().foreach(_.delete()); b.delete()
    }
    val batchDirs = list("batch-")
    if (batchDirs.isEmpty) return 0L
    val df = spark.read.text(batchDirs.map(_.getPath): _*)
    val n = df.count()
    val gen = list("compacted-").map(_.getName.stripPrefix("compacted-").toLong)
      .foldLeft(0L)(math.max) + 1
    val staging = new java.io.File(dir, s".compact-staging-$gen")
    df.repartition(targetFiles).write.mode("overwrite").text(staging.getPath)
    java.nio.file.Files.write(new java.io.File(staging, "_consumed").toPath,
      batchDirs.map(dirIdentity).mkString("\n").getBytes("UTF-8"))
    val target = new java.io.File(dir, s"compacted-$gen")
    if (!staging.renameTo(target))
      throw new java.io.IOException(s"rename $staging -> $target failed")
    batchDirs.foreach { b => b.listFiles().foreach(_.delete()); b.delete() }
    n
  }

  /** Assemble and start the full job. `outputMode` must be Update when the
    * chain contains a stateful op (per-update emission), Append otherwise. */
  def start(spark: SparkSession, inputDir: String, ops: Seq[RainStormOp],
      outputDir: String, checkpoint: String,
      stateful: Boolean): StreamingQuery = {
    val out = pipeline(lineSource(spark, inputDir), ops)
    out.writeStream
      .outputMode(if (stateful) OutputMode.Update() else OutputMode.Append())
      .foreachBatch(textSink(outputDir) _)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}

/** The reference's two demo apps as op chains (BASELINE.md workloads). */
object RainStormApps {
  /** "Simple app": regex filter -> project columns (idx1, idx2) of a CSV
    * value (tests/mp4_demo1.py:8-15). Declarative: the whole thing is one
    * codegen'd projection, no per-record closure. */
  def simpleApp(pattern: String, idx1: Int, idx2: Int): Seq[RainStormOp] = Seq(
    ExprOp(df => df.filter(col("value").rlike(pattern))),
    // get() (not getItem) tolerates rows with too few naive-split fields —
    // e.g. continuation fragments of quoted embedded newlines in
    // Traffic_Signs.csv — as NULL instead of an ANSI index error (the
    // reference's row[idx] would kill the worker on those lines,
    // tests/sample1_op2.py:11; a crashed stream is the one semantics not
    // worth reproducing)
    ExprOp(df => df
      .withColumn("cols", split(col("value"), ","))
      .select(expr(s"get(cols, $idx1)").as("key"),
        expr(s"get(cols, $idx2)").as("value"))))

  /** Deterministic synthetic fixture in the Kaggle bank-churn schema the
    * reference's published churn benchmarks ran on (reports/Streaming.pdf
    * p.2-3; the CSV itself is not in the reference repo, so this is a
    * same-schema stand-in): RowNumber,CustomerId,Surname,CreditScore,
    * Geography(4),Gender(5),Age,Tenure,Balance,NumOfProducts,HasCrCard,
    * IsActiveMember(11),EstimatedSalary,Exited. Shared by Bench's churn
    * throughput rows and ChurnFixtureSpec's golden-parity tests so both
    * run on identical bytes. */
  def syntheticChurnLines(n: Int): IndexedSeq[String] =
    (0 until n).map { i =>
      val geo = Seq("France", "Spain", "Germany")(i % 3)
      val gender = if (i % 2 == 0) "Female" else "Male"
      s"$i,${15600000 + i},Surname$i,${500 + i % 350},$geo,$gender," +
        s"${20 + i % 60},${i % 10},${i * 37 % 100000}.5,${1 + i % 4}," +
        s"${i % 2},${(i / 2) % 2},${40000 + i % 60000}.1,${i % 5 == 0}"
    }

  /** "Complex app": equality filter on a CSV column, re-key by another
    * column, stateful running count (tests/sample2_op{1,2}.py). */
  def complexApp(filterIdx: Int, filterVal: String,
      keyIdx: Int): Seq[RainStormOp] = Seq(
    // get(): a row without the filter field compares NULL === v -> false
    // and is dropped, matching the guarded replica semantics (see
    // simpleApp note on the reference's crash behavior)
    ExprOp(df => df
      .withColumn("cols", split(col("value"), ","))
      .filter(expr(s"get(cols, $filterIdx)") === filterVal)
      .select(expr(s"get(cols, $keyIdx)").as("key"), col("value"))),
    StatefulCountOp(_.key))
}
