package graft.streaming

import java.io.IOException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.TaskContext
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
    * `key:value` flush (src/Streaming/leader.py:248-284): one directory
    * `batch-<batchId>` per micro-batch, holding one `part-<partition>`
    * text file (with its `.crc` sidecar) per non-empty partition; an empty
    * batch yields an empty directory. One Spark job ([[writeParts]])
    * writes `_staging-batch-<batchId>` and [[commit]] renames it into
    * place, so records never funnel through the driver (as every reference
    * record funnels through the leader, leader.py:212-246), a batch is
    * visible whole or not at all, and a replay after failure replaces it
    * instead of duplicating it, even with another partition count
    * (idempotence replaces the leader-side dedup, leader.py:241-246).
    *
    * Not `DataFrameWriter.text`: its commit protocol and the Hadoop conf
    * it ships with every task were most of a small batch's sink time
    * (OPTIMIZATION_r18.md). The session's Hadoop conf is used, as by the
    * checkpoint, so a per-session setting (say `fs.file.impl`) reaches the
    * output too; it is read and broadcast once per session. */
  def textSink(outDir: String)(batch: Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit = {
    val (hadoopConf, conf) = sinkConf(batch.sparkSession)
    val target = new Path(outDir, s"batch-$batchId")
    commit(target.getFileSystem(hadoopConf),
        new Path(outDir, s"_staging-batch-$batchId"), target) { staging =>
      writeParts(batch.select(concat_ws(":", batch.columns.map(col): _*)),
        staging, conf)
    }
  }

  /** One Spark job writing the string column of `lines` into the existing
    * `dir`: a `part-<partition>` file per non-empty partition, each via a
    * per-attempt temp file and a rename. Returns the number of lines. */
  private def writeParts(lines: DataFrame, dir: Path,
      conf: Broadcast[SerializableConfiguration]): Long = {
    lines.sparkSession.sparkContext.runJob(lines.queryExecution.toRdd,
      (ctx: TaskContext, it: Iterator[InternalRow]) => {
        var n = 0L
        if (it.hasNext) {
          val fs = dir.getFileSystem(conf.value.value)
          val part = new Path(dir, f"part-${ctx.partitionId()}%05d")
          val tmp = new Path(dir,
            f".part-${ctx.partitionId()}%05d-${ctx.taskAttemptId()}.tmp")
          // non-recursive (the builder's default): a straggler attempt
          // cannot recreate a staging directory already renamed away
          val os = fs.createFile(tmp).overwrite(true).build()
          try {
            try it.foreach { r =>
              r.getUTF8String(0).writeTo(os); os.write('\n'); n += 1 }
            finally os.close()
          } catch { case e: Throwable => fs.delete(tmp, false); throw e }
          // a rename that loses to an earlier attempt of the same partition
          // keeps that attempt's (identical) file
          if (!fs.rename(tmp, part)) {
            fs.delete(tmp, false)
            if (!fs.exists(part))
              throw new IOException(s"rename $tmp -> $part failed")
          }
        }
        n
      }).sum
  }

  /** Makes `target` appear whole or not at all: `write` fills a fresh
    * `staging` directory (a stale one from a crashed attempt is deleted,
    * never merged), then one rename replaces `target` with it. */
  private def commit[T](fs: FileSystem, staging: Path, target: Path)(
      write: Path => T): T = {
    fs.delete(staging, true)
    if (!fs.mkdirs(staging)) throw new IOException(s"cannot create $staging")
    val result = write(staging)
    fs.delete(target, true)
    if (!fs.rename(staging, target))
      throw new IOException(s"rename $staging -> $target failed")
    result
  }

  // Per session, not per batch: a broadcast per batch added ≈10 ms to
  // the `rainstorm` benchmark's per-batch sink time (p50, 4 cores).
  // Weak keys, so an entry goes with its session.
  private val sinkConfs = new java.util.WeakHashMap[SparkSession,
    (Configuration, Broadcast[SerializableConfiguration])]()

  private def sinkConf(s: SparkSession) = sinkConfs.synchronized {
    sinkConfs.computeIfAbsent(s, _ => {
      val conf = s.sessionState.newHadoopConf()
      (conf, s.sparkContext.broadcast(new SerializableConfiguration(conf)))
    })
  }

  /** The committed output of a [[textSink]] directory: the part files of
    * every `compacted-<n>` directory and of every `batch-<id>` that no
    * `_consumed` manifest names, read through the session's Hadoop conf.
    * Never a staging directory, a hidden file or a `.crc` sidecar. Every
    * reader of sink output reads this, and [[compact]] picks its inputs
    * by the same rule, so no reader sees a record twice. */
  def committed(spark: SparkSession, outDir: String): Seq[Path] = {
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val (compacted, live, _) = outputs(fs, dir)
    (compacted ++ live).flatMap(parts(fs, _))
  }

  private def parts(fs: FileSystem, d: Path): Seq[Path] =
    fs.listStatus(d).toSeq.map(_.getPath).filter(_.getName.startsWith("part-"))

  /** `dir`'s `compacted-<n>` directories, and its `batch-<id>` ones split
    * into those no manifest names (live) and those one names (consumed). */
  private def outputs(fs: FileSystem, dir: Path)
      : (Seq[Path], Seq[Path], Seq[Path]) = {
    val subdirs = if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
    def named(prefix: String) = subdirs.filter(_.getName.startsWith(prefix))
    val compacted = named("compacted-")
    val manifest = compacted.map(new Path(_, "_consumed")).filter(fs.exists)
      .flatMap { m =>
        val src = scala.io.Source.fromInputStream(fs.open(m), "UTF-8")
        try src.getLines().filter(_.nonEmpty).toList finally src.close()
      }.toSet
    val (consumed, live) = named("batch-").partition { b =>
      manifest.nonEmpty && {
        val id = dirIdentity(fs, b)
        manifest(id) || manifest(legacyIdentity(id))
      }
    }
    (compacted, live, consumed)
  }

  /** A batch directory's identity in a `_consumed` manifest: content, not
    * just the name, because a rebuilt stream (fresh checkpoint, same
    * outDir) reuses batch ids, and deleting its NEW batch-0 for an old
    * manifest's "batch-0" would lose data. Identity = name | file count |
    * total bytes | MD5 over each file's (name, length, first 64 bytes) in
    * name order. The files include the `.crc` sidecars a checksummed
    * filesystem hides, so its raw filesystem is read, as on disk. */
  private def dirIdentity(fs: FileSystem, b: Path): String = {
    val raw = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    val files = raw.listStatus(b).filter(_.isFile).sortBy(_.getPath.getName)
    val md = java.security.MessageDigest.getInstance("MD5")
    val head = new Array[Byte](64)
    files.foreach { f =>
      md.update(s"${f.getPath.getName}:${f.getLen}:".getBytes("UTF-8"))
      val n = math.min(f.getLen, head.length.toLong).toInt
      val in = raw.open(f.getPath)
      try in.readFully(head, 0, n) finally in.close()
      md.update(head, 0, n)
    }
    val hash = md.digest().map("%02x".format(_)).mkString
    s"${b.getName}|${files.length}|${files.map(_.getLen).sum}|$hash"
  }

  // manifests written before the md5 segment was added carry only
  // `name|count|bytes`; without this match their inputs would be
  // compacted again (duplicating records)
  private def legacyIdentity(id: String): String =
    id.split('|').take(3).mkString("|")

  /** Small-file compaction of a [[textSink]] directory into `targetFiles`
    * part files, the analogue of HyDFS's multi-writer append + `merge`
    * (reference src/FileSystem/file_system.py:286-365). Returns the number
    * of records compacted. The inputs are the live batches of
    * [[committed]] (never a `_staging-batch-*`). The sink's [[writeParts]]
    * writes them into `.compact-staging-<n>`, next to a `_consumed`
    * manifest of their identities, and the commit point is the rename to
    * `compacted-<n>`: from then on [[committed]] skips the consumed
    * batches, and deleting them is garbage collection. So a crash at any
    * point shows every record exactly once, where the reference's merge
    * shows duplicates between replica pushes; a rerun deletes what a
    * crashed run left. */
  def compact(spark: SparkSession, outDir: String, targetFiles: Int): Long = {
    val (hadoopConf, conf) = sinkConf(spark)
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(hadoopConf)
    val (compacted, live, consumed) = outputs(fs, dir)
    consumed.foreach(fs.delete(_, true))
    if (live.isEmpty) return 0L
    val gen = compacted.map(_.getName.stripPrefix("compacted-").toLong)
      .foldLeft(0L)(math.max) + 1
    val n = commit(fs, new Path(dir, s".compact-staging-$gen"),
        new Path(dir, s"compacted-$gen")) { staging =>
      val lines = spark.read.text(live.flatMap(parts(fs, _)).map(_.toString): _*)
      val written = writeParts(lines.repartition(targetFiles), staging, conf)
      val os = fs.create(new Path(staging, "_consumed"))
      try os.write(live.map(dirIdentity(fs, _)).mkString("\n").getBytes("UTF-8"))
      finally os.close()
      written
    }
    live.foreach(fs.delete(_, true))
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
