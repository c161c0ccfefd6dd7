package graft.core

import org.apache.spark.sql.SparkSession

/** Engine-level session settings, applied to the builder of every
  * session the engine creates (Bench, Verify, JobProfile, PlanDump, the
  * `graft.cli.Main` verbs, StreamScaleBench, the test session and the
  * benchmark harness).
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
  * The two AQE settings keep Spark's defaults, which won the A/B
  * measurements recorded in OPTIMIZATION_r17.md: coalescing inside cache
  * materialization (`canChangeCachedPlanOutputPartitioning=true`) won
  * 11 % at sf0.1 but lost 18 % at open sf2, because a coalesced cache
  * loses the hash partitioning that downstream joins reuse; and
  * `parallelismFirst=false` serialized the compute-dense post-shuffle
  * stages.
  *
  * Streaming checkpoints go through [[LocalCheckpointFileManager]], which
  * writes local checkpoints through Hadoop's FileSystem API instead of
  * `FileContext` (two process launches per file instead of ten) and
  * leaves every other filesystem on Spark's default manager.
  */
object EngineConf {
  val CodegenCacheMaxEntries = 8192

  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.codegen.cache.maxEntries",
      CodegenCacheMaxEntries.toString)
    .config(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "false")
}
