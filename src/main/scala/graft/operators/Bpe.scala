package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Tables

/** BPE tokenizer training — merge-rule induction over the corpus
  * word-frequency relation, plus corpus-wide application of the learned
  * merges. The one tokenizer-side operator every LLM-data pipeline runs
  * before anything downstream (token counting, packing, mixture weights
  * all presuppose a vocabulary), and the third member of the
  * driver-coordinated iterative family (Clustering's k-means, Learn's
  * GD/power iteration): aggregate → driver argmax → literal-folded next
  * pass.
  *
  * The reference has no tokenizer machinery (its text surface is regex
  * grep + `split(",")`, reference src/RainStorm/leader.py,
  * tests/sample1_op2.py:9); builder-brief surface.
  *
  * Semantics = standard Sennrich BPE (ACL'16) on the word-frequency
  * table: each step counts ALL adjacent symbol pairs (overlapping —
  * "aaa" counts (a,a) twice), picks the most frequent (ties broken by
  * (lhs, rhs) byte order so the rule is total), and applies the merge
  * everywhere greedily left-to-right non-overlapping ("aaa" + (a,a) →
  * "aa","a") — exactly the reference implementation's count/apply
  * split. Both engines replay the identical integer counts and the
  * identical plain-substring replace, so the DuckDB oracle is bit-exact
  * with no tolerance.
  *
  * Symbol sequences travel as pipe-fenced strings — "the" → "|t||h||e|"
  * — because the merge step is then ONE codegen'd `replace`:
  * "|a||b|" → "|ab|". The fences make the substring search
  * boundary-safe (a symbol "xa" never matches a pattern anchored at
  * "|a"), which a bare space-separated encoding cannot guarantee, and
  * safe because the tokenizer alphabet is [a-z0-9] — '|' cannot occur
  * inside a symbol. Token counts never re-split: tokens = pipes/2.
  *
  * Scale shape (the 100 TB question):
  *  - the corpus is touched ONCE: one scan → (word, freq) hash
  *    aggregate with map-side combine. Everything iterative runs on
  *    that vocabulary relation, which Heaps' law bounds sublinearly in
  *    the corpus (measured on the open-vocab fixture by tx24; the same
  *    bound that sizes tx14's trigram broadcast).
  *  - each merge step is one scan of the PERSISTED vocab relation with
  *    the k learned merges folded in as a chain of literal `replace`
  *    calls (no intermediate materialization per step, no join), an
  *    explode of adjacent pairs (rows ≈ vocabulary characters), one
  *    pair-count aggregate, and a 1-row TakeOrderedAndProject argmax —
  *    the only shuffle is the pair count, and it is vocab-sized, never
  *    corpus-sized.
  *  - application (tx30) is a pure projection — encode, k chained
  *    literal replaces, arithmetic on lengths — inside one corpus scan,
  *    with a |langs|-sized rollup above it. Zero joins; nothing
  *    corpus-sized ever shuffles.
  *  - Merges is fixed at 10 and unrolled in BOTH engines (the gx01
  *    protocol — the oracle replays the same 10 chained steps, so
  *    convergence never enters the compare). A production vocabulary is
  *    ~30k merges: same plan per step, but fold the replace chain into
  *    batches (re-materializing the vocab encoding every ~100 merges)
  *    so the projection expression stays codegen-sized; the per-step
  *    cost is vocab-bounded either way, so merge count scales the
  *    constant, not the corpus term.
  */
object Bpe {

  /** Merge-rule count — fixed and unrolled in both engines. */
  private[graft] val Merges = 10

  /** Word → pipe-fenced char sequence: "the" → "|t||h||e|". */
  private val encExpr = "regexp_replace(w, '(.)', '|$1|')"
  private val encSql = """regexp_replace(w, '(.)', '|\1|', 'g')"""

  /** The k learned merges folded over an encoded column as literal
    * substring replaces — "|a||b|" → "|ab|", greedy left-to-right. */
  private[graft] def applyMerges(enc: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(enc) { case (e, (a, b)) =>
      call_function("replace", e, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }

  /** Train the merge table: (lhs, rhs, weighted pair count) per step.
    * One corpus scan builds the persisted word-frequency relation; each
    * step derives the current encoding from the last MATERIALIZED
    * encoding by folding the merges learned since (k literal replaces
    * beat k materialized intermediates at small k). */
  private def train(s: SparkSession, d: String): Seq[(String, String, Long)] =
    trainN(s, d, Merges)

  /** Production-scale trainer: every `batch` merges the encoded vocab
    * relation is RE-MATERIALIZED with the pending replaces applied, so
    * the projection expression a step folds stays codegen-sized (<=
    * `batch` chained replaces) no matter how many thousand merges are
    * requested — the strategy the scaladoc promised for a ~30k-merge
    * production vocabulary, exercised at 1k merges (BENCH_bpe1k.json).
    * Rebase changes WHERE the fold starts, never WHAT it computes:
    * replaces compose associatively over the encoding, so batched and
    * unbatched training emit the identical merge table (asserted by
    * BpeSpec on a real corpus). Per-step cost is vocab-bounded either
    * way (the pair-count aggregate is the only shuffle, vocab-sized);
    * the old persisted generation is dropped only after the new one is
    * materialized, so at most two vocab relations ever coexist. */
  private[graft] def trainN(s: SparkSession, d: String, nMerges: Int,
      batch: Int = 100): Seq[(String, String, Long)] =
    trainOnDocs(Tables.wide(s, d, "documents", "text"), nMerges, batch,
      rowsHint = Tables.layout(s, s"$d/documents.parquet").rows)

  /** [[trainN]] over an ARBITRARY docs relation carrying `text` — the
    * pipeline capstone trains its vocabulary on the staged (filtered,
    * deduplicated, span-cleaned, decontaminated, sampled, split)
    * corpus, which is what a real tokenizer run sees. */
  private[graft] def trainOnDocs(docs: DataFrame, nMerges: Int,
      batch: Int = 100,
      rowsHint: Long = -1L): Seq[(String, String, Long)] = {
    // Occupancy-gated width for the persisted vocab relation (r16,
    // Tables.gatedParts; rowsHint = the caller's measured doc count):
    // every merge step re-scans wf, and at shuffle.partitions width the
    // 10-step train paid 10x CPUS task launches over a KB-scale vocab
    // cache (profiled 0.1-0.33 s per step at sf0.1/32c). coalesce keeps
    // the count aggregate's map-side combine and adds no exchange; gate
    // off (>= 1k docs/core) leaves the plan byte-identical.
    val gate = if (rowsHint >= 0L)
      graft.core.Tables.gatedParts(docs.sparkSession, rowsHint) else None
    def gatedC(df: DataFrame): DataFrame =
      gate.map(df.coalesce).getOrElse(df)
    var wf = gatedC(docs
      .select(explode(expr(TextAnalysis.tokensExpr)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), expr(encExpr).as("enc")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merges = ArrayBuffer.empty[(String, String, Long)]
    val pending = ArrayBuffer.empty[(String, String)]
    var exhausted = false
    for (_ <- 1 to nMerges if !exhausted) {
      val best = wf
        .select(col("freq"),
          applyMerges(col("enc"), pending.toSeq).as("em"))
        .select(col("freq"),
          split(expr("trim(BOTH '|' FROM em)"), "\\|\\|").as("syms"))
        .where(size(col("syms")) >= 2)
        // adjacent positions, OVERLAPPING (the count side of BPE):
        // (syms[i], syms[i+1]) for every i — transform's index is
        // 0-based over the size-1 slice, element_at is 1-based
        .select(col("freq"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), (x, i) -> " +
            "named_struct('a', x, 'b', element_at(syms, i + 2)))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("c"))
        // per-partition heaps + driver merge (TakeOrderedAndProject),
        // never a global sort; ASCII byte order ties in both engines
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val r = best(0)
        merges += ((r.getString(0), r.getString(1), r.getLong(2)))
        pending += ((r.getString(0), r.getString(1)))
        if (pending.length >= batch) {
          val next = wf
            .select(col("freq"),
              applyMerges(col("enc"), pending.toSeq).as("enc"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          next.count() // materialize BEFORE dropping the parent
          wf.unpersist(blocking = false)
          wf = next
          pending.clear()
        }
      }
    }
    wf.unpersist(blocking = false)
    merges.toSeq
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The learned merge table: step, the merged pair, the new symbol,
    // and the weighted adjacency count that won the step. 10 rows.
    "tx29_bpe_merges" -> ((s, d) => {
      import s.implicits._
      train(s, d).zipWithIndex.map { case ((a, b, c), i) =>
        (i + 1L, a, b, a + b, c)
      }.toDF("step", "lhs", "rhs", "merged", "pair_count")
    }),

    // The learned merges applied corpus-wide: per-language document,
    // word, character, and post-merge BPE token totals — the
    // "compression" read on the induced vocabulary, and the shape the
    // packing/mixture planners (tx18/tx19) consume. Application is one
    // scan; tokens are counted as pipes/2 without re-splitting.
    "tx30_bpe_segment" -> ((s, d) => {
      val merges = train(s, d).map(m => (m._1, m._2))
      val enc = expr(
        "array_join(transform(toks, w -> regexp_replace(w, '(.)', '|$1|'))," +
          " ' ')")
      Tables.wide(s, d, "documents", "lang", "text")
        .withColumn("toks", expr(TextAnalysis.tokensExpr))
        .withColumn("em", applyMerges(enc, merges))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(expr("size(toks)")).cast("long").as("n_words"),
          sum(expr("aggregate(transform(toks, t -> length(t)), 0L," +
            " (acc, x) -> acc + x)")).as("n_chars"),
          sum(expr("(length(em) - length(replace(em, '|', ''))) div 2"))
            .as("bpe_tokens"))
    })
  )

  // ------------------------------------------------------------- oracles
  /** The training chain as CTEs: w0 = word frequencies (pipe-encoded),
    * then per step k: split → overlapping adjacent pairs (two zipped
    * unnests over offset list slices) → argmax → replace. MATERIALIZED
    * is load-bearing on w_k and b_k (the gx01/Learn lesson: b_k is
    * referenced three times inside w_k's replace and again by the final
    * select — inlined CTEs re-run the whole upstream chain per
    * reference). */
  private val trainCtes: String = trainCtesOn("documents")

  /** [[trainCtes]] with the corpus CTE parameterized — the pipeline
    * capstone trains on its staged corpus relation. `rel` must expose a
    * `text` column. */
  private[graft] def trainCtesOn(rel: String): String = {
    val steps = (1 to Merges).map { k =>
      val prev = if (k == 1) "w0" else s"w${k - 1}"
      s"""l$k AS (
         |  SELECT freq, string_split(trim(enc, '|'), '||') AS l
         |  FROM $prev),
         |pc$k AS (
         |  SELECT a, b, SUM(freq) AS c FROM (
         |    SELECT freq, unnest(l[:len(l)-1]) AS a, unnest(l[2:]) AS b
         |    FROM l$k WHERE len(l) >= 2)
         |  GROUP BY a, b),
         |b$k AS MATERIALIZED (
         |  SELECT a, b, c FROM pc$k ORDER BY c DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT freq, replace(enc,
         |    concat('|', (SELECT a FROM b$k), '||', (SELECT b FROM b$k), '|'),
         |    concat('|', (SELECT a FROM b$k), (SELECT b FROM b$k), '|'))
         |    AS enc
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (
       |  SELECT unnest(${TextAnalysis.tokensSql}) AS w FROM $rel),
       |w0 AS MATERIALIZED (
       |  SELECT COUNT(*) AS freq, $encSql AS enc FROM tok GROUP BY w),
       |$steps""".stripMargin
  }

  /** The k learned merges as nested replaces with scalar-subquery
    * patterns — the oracle twin of [[applyMerges]]. */
  private[graft] def applySql(inner: String): String =
    (1 to Merges).foldLeft(inner) { (e, k) =>
      s"""replace($e,
         |  concat('|', (SELECT a FROM b$k), '||', (SELECT b FROM b$k), '|'),
         |  concat('|', (SELECT a FROM b$k), (SELECT b FROM b$k), '|'))"""
        .stripMargin
    }

  def oracleSql: Map[String, String] = Map(
    "tx29_bpe_merges" -> {
      val rows = (1 to Merges).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS step, a AS lhs, b AS rhs,
           |  a || b AS merged, CAST(c AS BIGINT) AS pair_count
           |FROM b$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH $trainCtes\n$rows"
    },

    "tx30_bpe_segment" -> {
      val encDoc = """array_to_string(list_transform(toks,
        | w -> regexp_replace(w, '(.)', '|\1|', 'g')), ' ')""".stripMargin
      s"""WITH $trainCtes,
         |de AS (
         |  SELECT lang, ${TextAnalysis.tokensSql} AS toks FROM documents),
         |app AS (
         |  SELECT lang, toks, ${applySql(encDoc)} AS em FROM de)
         |SELECT lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(toks)) AS BIGINT) AS n_words,
         |  CAST(SUM(coalesce(
         |    list_sum(list_transform(toks, t -> length(t))), 0))
         |    AS BIGINT) AS n_chars,
         |  CAST(SUM((length(em) - length(replace(em, '|', ''))) // 2)
         |    AS BIGINT) AS bpe_tokens
         |FROM app GROUP BY lang""".stripMargin
    }
  )
}
