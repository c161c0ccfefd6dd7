package graft.core

import org.apache.spark.sql.SparkSession

/** How an engine session is configured. Every session the engine builds
  * (Bench, Verify, PlanDump, the `graft.cli.Main` verbs and the test
  * session) comes from [[builder]]; the benchmark harness applies
  * [[apply]] to its own builder. A site-only setting (Bench's
  * `periodicGC` interval) is set on the returned builder at its site.
  *
  * `spark.sql.codegen.cache.maxEntries` sizes Spark's cache of compiled
  * generated classes, an LRU keyed by context classloader plus source
  * text. Spark's default of 100 entries is far below this engine's
  * working set, so the cache missed on almost every lookup and warm
  * passes recompiled their generated code with Janino: 309-310 of the
  * q01-q33 family's 325 classes on a second sf0.001 pass
  * (`CodegenCacheSpec`). Measured with `graft.Bench` at sf0.1 on 4
  * cores (its `codegen_compiles` field, two runs): 1,818-1,822 distinct
  * sources in the sf0.001 warm-up, 314-328 more in the first sf0.1 pass
  * and 23-27 in the second, at most 2,173 in all. 8192 keeps more than
  * twice that, so each class compiles once per JVM. The cost is what the
  * cache keeps alive: +18 MB of metaspace at the end of that run
  * (198 -> 216 MB), plus the source text of its keys on the heap, about
  * 23 MB (10.6 KB mean per source). The cap is a bound, not a
  * reservation.
  *
  * This is a static SQL conf: `CodeGenerator` reads it once per JVM,
  * from the active session's conf, when it is first used. A session
  * built without this function before that moment leaves the cap at 100
  * for the whole JVM.
  *
  * `spark.sql.artifact.isolation.enabled=false` runs every session's
  * tasks in the executor's one default classloader. That cache's key
  * includes the classloader, and with isolation on each session gets its
  * own: every streaming query start clones its session, so every start
  * and every restart of a query recompiled all the generated code its
  * first batch ran (81 compiles per `rainstorm` benchmark run, 15 on
  * each stateful restart; OPTIMIZATION_r23.md). Isolation keeps the
  * jars, files and classes a session adds with `addArtifact` from other
  * sessions. The engine adds none (`KnobInventorySpec` pins that), and
  * `spark.jars` is application-wide, shipped to the default classloader
  * either way, so turning it off gives nothing up here. Also a static
  * conf: it holds from the builder that creates the JVM's SparkContext.
  *
  * The two AQE settings keep Spark's defaults, which won the A/B
  * measurements recorded in OPTIMIZATION_r17.md: coalescing inside cache
  * materialization (`canChangeCachedPlanOutputPartitioning=true`) won
  * 11 % at sf0.1 but lost 18 % at open sf2, because a coalesced cache
  * loses the hash partitioning that downstream joins reuse; and
  * `parallelismFirst=false` serialized the compute-dense post-shuffle
  * stages.
  *
  * `file:` paths resolve to [[LocalFs]], Hadoop's checksummed local
  * filesystem with permissions set by a `chmod` syscall: without Hadoop's
  * native library, its own local filesystem launches a `chmod` process
  * for every new file, `.crc` and directory, on the driver and on every
  * executor. Streaming checkpoints go through
  * [[LocalCheckpointFileManager]], which writes local checkpoints through
  * Hadoop's FileSystem API instead of `FileContext` (no process launch
  * per file, against ten; `FileContext` still launches `readlink` for its
  * symlink lookups) and leaves every other filesystem on Spark's default
  * manager.
  *
  * File splits: single-file tables at sf>=1.0 are ~100 MB, and under the
  * 128 MB default every scan of one is a single partition that starves
  * the whole plan; 16 MB keeps `local[N]` scans at cluster parallelism.
  * The 4 MB default open cost floors the split size at 4 MB, which caps
  * a 20 MB table at ~5 splits whatever its row-group layout; the
  * fixtures are one file per table (no small-file amplification to
  * guard against), so a 512 KB floor, below ScaleData's 2 MB row
  * groups, lets split planning use the row groups and mid-size tables
  * scan at full width.
  *
  * `nanosAsLong` makes `events.ts` readable when a fixture stores it as
  * TIMESTAMP(NANOS); `Tables.normalizeEventTs` handles that and the
  * other physical forms. Sessions run in UTC so date arithmetic matches
  * the DuckDB oracle, and without the web UI.
  */
object EngineConf {
  val CodegenCacheMaxEntries = 8192

  /** Task slots of a local session: `SPARK_GRAFT_CPUS`, else the host's
    * core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.codegen.cache.maxEntries",
      CodegenCacheMaxEntries.toString)
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
    .config(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.files.maxPartitionBytes", "16m")
    .config("spark.sql.files.openCostInBytes", "512k")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The engine's session builder: [[apply]], the master
    * (`SPARK_GRAFT_MASTER`, else `local[cpus]`), one shuffle partition
    * per slot, and the [[Topology]] plumbing a multi-executor master
    * needs. */
  def builder(app: String, cpus: Int = EngineConf.cpus): SparkSession.Builder =
    Topology(apply(SparkSession.builder())
      .appName(app)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString))
}
