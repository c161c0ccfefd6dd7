package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming training-data ingest: the batch text/dedup operators
  * (graft.operators.{TextAnalysis, Dedup}) recomposed over an unbounded
  * document stream — quality gate, then exact content dedup within the
  * watermark horizon.
  *
  * This is the shape a 100 TB/day corpus intake actually runs: cheap
  * per-row scoring in the scan, then a state-store dedup keyed on a
  * 16-byte fingerprint (never the body), with the watermark bounding
  * state — the same bounded-state discipline the reference's ever-growing
  * dedup dict lacks (reference src/Streaming/worker.py:446-453,
  * SURVEY.md §7.4(4)).
  */
object DocPipeline {

  /** Per-row quality gate: token count and type-token ratio thresholds.
    * At the defaults it keeps exactly the docs tx02_quality_score marks
    * `keep`: it is the same kernel,
    * [[graft.operators.TextAnalysis.qualityKept]]. */
  def qualityFilter(docs: DataFrame, minTokens: Int = 40,
      minTtr: Double = 0.25): DataFrame =
    graft.operators.TextAnalysis.qualityKept(docs, minTokens, minTtr)

  /** Exact content dedup within the watermark horizon, keyed on the md5
    * of whitespace-normalized text — only fingerprints enter the state
    * store. */
  def dedupByContent(docs: DataFrame, lateness: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", graft.core.Fingerprints.content(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")

  /** Full ingest: gate then dedup. */
  def ingest(docs: DataFrame, minTokens: Int = 40, minTtr: Double = 0.25,
      lateness: String = "10 minutes"): DataFrame =
    dedupByContent(qualityFilter(docs, minTokens, minTtr), lateness)

  /** Model-scored quality: the tx28 classifier applied to the stream —
    * batch-trained weights arrive as literals (train offline on the
    * corpus snapshot via `Learn.trainWeights`, score online; the
    * parameter-server read path), the feature extraction and rational
    * sigmoid are the SAME code the batch query runs, and the whole
    * stage is a stateless projection: no state store, no watermark, no
    * extra shuffle — it composes in front of [[dedupByContent]] exactly
    * like [[qualityFilter]]. Zero-token docs drop (same filter as
    * batch). Appends score_micro and pred; parity with batch tx28 is
    * asserted row-exact in DocPipelineSpec. The chars feature is
    * computed under a reserved internal column (`__n_chars`) so a
    * caller's own `n_chars` column — if the stream carries one — is
    * never overwritten or dropped; batch parity holds because
    * ScaleData defines n_chars == length(text) (the batch query reads
    * the stored column, this path recomputes it — same value by that
    * generator invariant). */
  def scoreQuality(docs: DataFrame, weights: Array[Long]): DataFrame =
    graft.operators.Learn.withFeatures(
        docs.withColumn("__n_chars", length(col("text"))),
        charsCol = "__n_chars")
      .withColumn("score_micro",
        graft.operators.Learn.scoreColumn(weights))
      .withColumn("pred", expr(
        "CAST(CASE WHEN score_micro >= 500000 THEN 1 ELSE 0 END AS BIGINT)"))
      .drop("x0", "x1", "x2", "x3", "x4", "x5", "y", "__n_chars")

  /** Streaming NEAR-dup detection: MinHash signatures computed per row in
    * the scan (shingles via the native kernel, NumPerms mins as one nested
    * array expression — no stateful aggregation needed, so the only state
    * is the join's), LSH band buckets exploded, and candidate pairs found
    * by a watermarked stream-stream self-join on (band, bucket-hash)
    * bounded to `horizon` — band-bucket state evicts as time advances.
    *
    * Join state carries only the compact signature (NumPerms longs), never
    * document content: Jaccard is ESTIMATED as the fraction of agreeing
    * signature slots (the standard unbiased MinHash estimator,
    * std-err ~ sqrt(j(1-j)/NumPerms) ≈ 0.035 at j=0.8) — calibrate
    * `threshold` accordingly. Bit-compatible with batch dd03: identical
    * permutation hashes (xxhash64(int-perm, shingle)) and identical band
    * keys (hash over the 4 slot values + band id).
    *
    * The per-row signature runs through the native codegen minhash_sig
    * kernel (same as batch dd03) and is evaluated once per join side —
    * the streaming self-join cannot share a persist barrier, so the 2x
    * is the price of unboundedness; the batch dd03 path remains the
    * high-throughput formulation.
    *
    * Width: the signature is the heaviest map side in the engine
    * (NumPerms x |shingles| hash evals per row, ~100-1000x shingle
    * grade) and it runs BELOW the join's (band, bh) exchange, so a
    * micro-batch scanning few source files inherits file-split width
    * for exactly the stage that dominates — measured 4-of-32 cores on
    * 20k-doc/2-file triggers. One narrow exchange of (doc_id, ts, text)
    * up front buys full width: the streaming twin of Tables.wide,
    * unconditional because a stream's batch size is unknowable at plan
    * time and at any size where the width matters the signature work
    * dwarfs the exchange (a tiny batch loses sub-ms).
    */
  def nearDupPairs(docs: DataFrame, horizon: String = "10 minutes",
      threshold: Double = 0.8): DataFrame = {
    import graft.operators.Dedup.{Bands, NumPerms}
    val rowsPerBand = NumPerms / Bands
    // Same construction as batch dd03 (native minhash_sig kernel, band
    // structs built as a CreateArray and exploded) — NOT the equivalent
    // higher-order-function formulation. The HOF form hid a plan bomb:
    // InferFiltersFromGenerate puts `size(bk) > 0` above the explode,
    // and predicate pushdown inlines the alias chain into that filter —
    // four element_at(sig) copies per band lambda, EACH re-deriving the
    // full NumPerms signature, evaluated below the repartition at
    // file-split width (measured: a 20k-doc micro-batch spent 700 s in
    // two scan tasks doing 128x the honest signature work). A CreateArray
    // generator child sidesteps the inference (its size is static) and
    // element_at over the materialized sig COLUMN is a cheap ref; the
    // native kernel keeps the per-row cost codegen'd and bit-identical
    // to dd03.
    val sig = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .withColumn("sh", org.apache.spark.sql.graftx.WordShinglesFunctions
        .word_shingles(col("text"), 3))
      .filter(size(col("sh")) >= 1)
      .select(col("doc_id"), col("ts"),
        org.apache.spark.sql.graftx.NGramFunctions
          .minhash_sig(col("sh"), NumPerms).as("sig"))
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        hash((0 until rowsPerBand).map(i =>
            element_at(col("sig"), b * rowsPerBand + i + 1)) :+ lit(b): _*)
          .as("bh"))
    }
    val exploded = sig
      .select(col("doc_id"), col("ts"), col("sig"),
        explode(array(bandStructs: _*)).as("k"))
      .select(col("doc_id"), col("ts"), col("sig"),
        col("k.band").as("band"), col("k.bh").as("bh"))
    val a = exploded.toDF("a_doc", "a_ts", "a_sig", "a_band", "a_bh")
      .withWatermark("a_ts", horizon)
    val b = exploded.toDF("b_doc", "b_ts", "b_sig", "b_band", "b_bh")
      .withWatermark("b_ts", horizon)
    // NOTE: the doc-id ordering must NOT be a </> predicate in the join
    // condition — Spark's streaming state-watermark extraction tries to
    // interpret every less-than as a time bound and fails on non-time
    // attributes. Use =!= and canonicalize (least, greatest) after.
    a.join(b,
        col("a_band") === col("b_band") && col("a_bh") === col("b_bh") &&
          col("a_doc") =!= col("b_doc") &&
          col("b_ts").between(
            col("a_ts") - expr(s"INTERVAL $horizon"),
            col("a_ts") + expr(s"INTERVAL $horizon")))
      .select(least(col("a_doc"), col("b_doc")).as("d1"),
        greatest(col("a_doc"), col("b_doc")).as("d2"),
        (expr("size(filter(zip_with(a_sig, b_sig, (x, y) -> x = y), v -> v))")
          .cast("double") / NumPerms).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
      // A pair colliding in multiple bands (or seen in both join orders)
      // emits multiple times; consumers dedup on (d1, d2). (A chained
      // streaming dropDuplicates after a stream-stream join trips planner
      // limitations here.)
  }
}
