package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.core.{Fingerprints, Tables, Num}

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language-ID heuristics, and content fingerprinting.
  *
  * The reference's only text machinery is regex search + `split(",")` inside
  * user operators (reference tests/sample1_op1.py:10, sample1_op2.py:9,
  * src/LogQuerier/server.py:30-36); this module is the superset a 100 TB
  * corpus pipeline needs. Everything is Column-expression based (array
  * lambdas — `transform`/`filter`/`aggregate` — are codegen-friendly and
  * never leave the JVM), so each query is one scan, one narrow projection,
  * and at most one tiny aggregate exchange.
  */
object TextAnalysis {

  /** Tokenize: lowercase alphanumeric runs ("BPE-ish" regex tokenizer). */
  val tokensExpr = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
  // DuckDB twin: its regexp_extract_all has no group argument.
  val tokensSql = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** tx23's fixed keyword query (all three terms exist in the corpus
    * vocabulary at every SF). */
  val BmTerms = Seq("spark", "table", "query")

  /** The per-source mixture thresholds of tx19 (shared by pp01's stage
    * 5) as a LITERAL MAP column: source -> (((m*w) DIV tw) * 2^20) DIV n
    * with w = md5-derived weight, tw = sum w, m = min (n*tw) DIV w.
    *
    * r15: the old formulation built tw -> m -> th as a chain of three
    * dependent one-row aggregates crossJoined back — three SEQUENTIAL
    * broadcast materializations per run for arithmetic on a
    * |sources|-row relation. The census is aggregation-bounded (recipe
    * sources, the broadcast-legality argument the old chain already
    * relied on), so it is COLLECTED once (the tx09 langTots precedent)
    * and the exact integer chain runs on the driver: identical values —
    * Spark's BIGINT DIV and Scala's Long `/` agree on these nonnegative
    * operands, and `w` still comes from the Spark md5 expression
    * (collected, never re-derived driver-side). A NULL source carries
    * w = NULL and never survived the equi-join; it is excluded here,
    * and element_at(map, NULL) = NULL keeps dropping those docs.
    * Returns None on an empty census (no documents). */
  private[graft] def mixtureThresholds(docs: DataFrame): Option[Column] = {
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", Fingerprints.bucket(col("source"), 3L) + 1)
      .collect()
      .flatMap(r => Option(r.get(0)).map(src =>
        (src.asInstanceOf[String], r.getLong(1), r.getLong(2))))
    if (stats.isEmpty) None
    else {
      val tw = stats.map(_._3).sum
      val m = stats.map { case (_, n, w) => (n * tw) / w }.min
      Some(map(stats.flatMap { case (src, n, w) =>
        Seq(lit(src), lit((((m * w) / tw) * 1048576L) / n))
      }: _*))
    }
  }

  /** tx19's mixture sample of `docs` (pp01's stage 5): the docs whose
    * md5 bucket of 2^20 falls under their source's threshold in
    * [[mixtureThresholds]]; no rows when `docs` is empty. */
  private[graft] def mixtureSample(docs: DataFrame): DataFrame =
    mixtureThresholds(docs) match {
      case None => docs.filter(lit(false))
      case Some(th) => docs.filter(Fingerprints.bucket(col("doc_id"),
        1048576L) < element_at(th, col("source")))
    }

  /** tx02's keep verdict from a doc's token count and distinct-token
    * count: at least `minTokens` tokens and a type-token ratio of at
    * least `minTtr`. */
  private def keeps(nTok: Column, nTypes: Column, minTokens: Int = 40,
      minTtr: Double = 0.25): Column =
    nTok >= minTokens && nTypes.cast("double") / nTok >= minTtr

  /** The docs tx02 marks `keep`, with their columns unchanged: pp01's
    * stage 1 and the streaming gate (`DocPipeline.qualityFilter`). */
  def qualityKept(docs: DataFrame, minTokens: Int = 40,
      minTtr: Double = 0.25): DataFrame =
    docs.withColumn("__t", expr(tokensExpr))
      .filter(keeps(size(col("__t")), size(array_distinct(col("__t"))),
        minTokens, minTtr))
      .drop("__t")

  /** tx20's seeded permutation of `docs` (pp01's stage 7): adds
    * `shuffle_key` = md5("42:" + doc_id) and `pos`, the exact 1-based
    * global rank in (shuffle_key, doc_id) order. `docs` is persisted
    * inside the rank kernel, so carry only the columns needed after. */
  private[graft] def shuffleOrder(docs: DataFrame, rowsHint: Long): DataFrame =
    Scale.globalRank(
        docs.withColumn("shuffle_key",
          md5(concat(lit("42:"), col("doc_id").cast("string")).cast("binary"))),
        Seq(col("shuffle_key"), col("doc_id")), rowsHint = rowsHint)
      .withColumnRenamed("__rank", "pos")
      .drop("__n")

  /** Sequence-packing window size in tokens (tx18's and pp01's C). */
  val PackC = 512L

  /** tx18's packing (pp01's stage 9): the docs with `tokens` > 0 laid end
    * to end in the total order `order` and cut into [[PackC]]-token
    * windows, one (doc_id, window_id, win_tokens) row per window a doc
    * overlaps. The offsets are an exact distributed running sum
    * ([[Scale.globalCumsum]], which persists its input). */
  private[graft] def packWindows(docs: DataFrame, order: Seq[Column],
      tokens: String, rowsHint: Long): DataFrame =
    Scale.globalCumsum(docs.filter(col(tokens) > 0), order, col(tokens),
        rowsHint = rowsHint)
      .withColumn("window_id", explode(expr(
        s"sequence((__cum - $tokens) DIV $PackC, (__cum - 1) DIV $PackC)")))
      .select(col("doc_id"), col("window_id"),
        (least(col("__cum"), (col("window_id") + lit(1L)) * PackC) -
          greatest(col("__cum") - col(tokens), col("window_id") * PackC))
          .as("win_tokens"))

  /** The (doc_id, source, sg) word-trigram shingle relation tx13/tx17
    * share — persisted and force-materialized (Tables.mat) because every
    * consumer fans out into 2+ concurrent exchanges of one action. */
  private def docShingles(s: SparkSession, d: String): DataFrame =
    // wideMin(1000), not wide (r16): this persisted relation is built
    // once and re-scanned by 3 consumers; below wide's 10k gate the
    // shingle pass ran at the 2-task scan width on every core count —
    // the occupancy width (rows/1k) parallelizes the build without
    // r9's full-parallelism exchange regression
    Tables.mat(Tables.wideMin(s, d, "documents", 1000,
        "doc_id", "source", "text")
      .select(col("doc_id"), col("source"),
        explode(org.apache.spark.sql.graftx.WordShinglesFunctions
          .word_shingles(col("text"), 3)).as("sg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Raw Bloom-decontamination relation (doc_id, n_sh, n_hits,
    * contamination, contaminated) — the sketch path a user runs; the
    * driver-gated tx17 entry wraps it with the one-sidedness audit. */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame =
    bloomFrom(docShingles(s, d))

  /** [[bloomDecontaminate]] over an already-persisted shingle relation —
    * tx17 shares ONE relation between the exact (tx13) and sketch sides
    * instead of shingling the corpus twice into two identical persists
    * (r15; guide §1.2 "don't compute things twice"). */
  private def bloomFrom(sh: DataFrame): DataFrame = {
      import org.apache.spark.sql.graftx.BloomFunctions._
      // 1M expected items / 9.6M bits = 1% fpp at capacity, ~1.2 MB on
      // the wire regardless of how the benchmark set grows toward it.
      // The merged sketch is collected and shipped ONCE per executor as a
      // broadcast variable (might_contain_broadcast): embedded as a binary
      // literal it rode in every task binary (2.3 and 5.8 MiB task
      // binaries measured at sf0.01). A bounded driver hop like sim05's
      // query LUT — it scales with the SKETCH SIZE (fixed at build
      // time), never with the corpus.
      val bfBytes = sh.filter(col("source") === "src0")
        .agg(bloom_filter_agg(xxhash64(col("sg")), 1000000L, 9585059L)
          .as("bf"))
        .head.getAs[Array[Byte]]("bf")
      val probe = if (bfBytes == null) lit(false) // no benchmark shingles
        else might_contain_broadcast(
          sh.sparkSession.sparkContext.broadcast(BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bfBytes))),
          xxhash64(col("sg")))
      val hits = sh.filter(col("source") =!= "src0")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(probe.cast("long")).as("n_hits"))
      val frac = round(col("n_hits").cast("double") / col("n_sh"), 6)
      hits.select(col("doc_id"), col("n_sh"), col("n_hits"),
        frac.as("contamination"), (frac >= 0.5).as("contaminated"))
  }

  /** tx13's exact decontamination over an already-persisted shingle
    * relation — shared with tx17 (one shingle pass, one persist). */
  private def decontaminateFrom(sh: DataFrame): DataFrame =
    contamination(sh.filter(col("source") =!= "src0"),
      sh.filter(col("source") === "src0").select(col("sg")).distinct())

  /** tx13's contamination kernel (pp01's stage 4): per doc of `corp`
    * (doc_id, sg), its shingle count n_sh, how many of them are in
    * `bench` (one distinct `sg` column, broadcast) as n_shared, that
    * share to 6 dp, and the >= 0.5 verdict. A doc without shingles has
    * no row. */
  private[graft] def contamination(corp: DataFrame,
      bench: DataFrame): DataFrame = {
      val tot = corp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val shr = corp.join(broadcast(bench), Seq("sg"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared0"))
      val frac = round(coalesce(col("n_shared0"), lit(0L)).cast("double")
        / col("n_sh"), 6)
      tot.join(shr, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_sh"),
          coalesce(col("n_shared0"), lit(0L)).as("n_shared"),
          frac.as("contamination"), (frac >= 0.5).as("contaminated"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: corpus-level stats per language. The per-doc token
    // count stays in the scan projection; only (lang -> 3 longs) shuffles.
    "tx01_token_stats" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(col("lang"), expr(s"size($tokensExpr)").as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"))
    }),

    // Quality scoring: type-token ratio, stopword ratio, length signal —
    // the standard cheap pre-filters before expensive dedup/training.
    // Integer counts + one double division each: bit-identical on both
    // engines without rounding.
    "tx02_quality_score" -> ((s, d) => {
      Tables(s, d, "documents")
        .withColumn("toks", expr(tokensExpr))
        .withColumn("n_tok", expr("size(toks)"))
        .withColumn("n_types", expr("size(array_distinct(toks))"))
        .withColumn("n_stop",
          expr("size(filter(toks, t -> t IN ('the', 'a')))"))
        .filter(col("n_tok") > 0)
        .select(
          col("doc_id"),
          col("n_tok"),
          (col("n_types").cast("double") / col("n_tok")).as("ttr"),
          (col("n_stop").cast("double") / col("n_tok")).as("stop_ratio"),
          when(keeps(col("n_tok"), col("n_types")), "keep")
            .otherwise("drop").as("verdict"))
    }),

    // Language-ID heuristic: marker-token votes (the n-gram-frequency
    // approach compressed to a deterministic rule so the DuckDB oracle can
    // replicate it bit-for-bit). Output is the confusion matrix against the
    // labeled lang column.
    "tx03_langid_confusion" -> ((s, d) => {
      Tables(s, d, "documents")
        .withColumn("toks", expr(tokensExpr))
        .withColumn("n_en",
          expr("size(filter(toks, t -> t IN ('the', 'a', 'data', 'key')))"))
        .withColumn("n_tok", expr("size(toks)"))
        .withColumn("predicted",
          when(col("n_tok") === 0, "unk")
            .when(col("n_en").cast("double") / col("n_tok") >= 0.10, "en")
            .otherwise("unk"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Winnowing fingerprints (native rolling-hash expression,
    // org.apache.spark.sql.graftx.WinnowFingerprint): doc pairs sharing
    // >= 5 selected k-gram hashes — substring-level near-dup evidence.
    // FULLY oracled (r12): DuckDB replays the polynomial rolling hash in
    // HUGEINT mod-2^64 arithmetic and the window-min selection per doc —
    // see the oracleSql entry for the replay's exactness argument.
    "tx05_winnow_pairs" -> ((s, d) => {
      val fp = Tables.wide(s, d, "documents", "doc_id", "text")
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graftx.GraftFunctions
            .winnow_fingerprint(col("text"))).as("f"))
        .distinct()
      // the shared bounded inverted-index kernel (InvertedIndex): the
      // stop-key cap also closes a scale hole the old postings self-join
      // had — a boilerplate fingerprint shared by ~1e6 docs would have
      // produced ~1e12 join pairs; capped keys (zero rank signal) now
      // drop with aggregation state bounded at cap+1. Never at test SFs.
      graft.core.InvertedIndex
        .pairCounts(fp, col("f"), col("doc_id"))
        .select(col("d1"), col("d2"), col("c").as("n_shared"))
        .filter(col("n_shared") >= 5)
    }),

    // BPE-ish subword pre-tokenizer count (GPT-2-style: space-prefixed
    // letter runs, digit runs, punctuation runs) — the unit that tracks
    // real tokenizer budgets far better than whitespace words.
    "tx06_bpe_token_count" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(col("source"),
          expr("size(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0))")
            .as("n_bpe"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).as("total_bpe_tokens"),
          max(col("n_bpe")).as("max_bpe_tokens"))
    }),

    // Stratified sampling by language — the corpus-balancing step of a
    // training-data pipeline. Keep-decision = md5(doc_id) bucket < the
    // stratum's percentage: hash-based deterministic sampling, so the
    // sample is reproducible across runs, partitionings, AND engines
    // (unlike Bernoulli sampleBy(seed), whose stream of draws is
    // Spark-internal) — which also makes it exactly DuckDB-oracled. At
    // 100 TB this is one scan with a codegen'd predicate, no state.
    "tx07_stratified_sample" -> ((s, d) => {
      val bucket = Fingerprints.bucket(col("doc_id"), 100L)
      Tables(s, d, "documents")
        .filter(col("lang") =!= "en" || bucket < 50)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
    }),

    // IDF-weighted shingle cosine pairs — sparse-vector text similarity
    // via the inverted index: idf weights live on (doc, shingle) postings
    // (shingles as terms keep document frequency low — raw unigrams on a
    // small vocabulary make the term self-join quadratic), pair dot
    // products come from a term self-join with a df cap, norms from a
    // per-doc aggregate. Scores round to 6 dp so partition-order double
    // drift (~1e-14) cannot flip the threshold cross-engine.
    //
    // PAIR GENERATION IS NORM-RATIO PRUNED (the AllPairs bound carried
    // from Jaccard to weighted cosine): dot(A,B) sums w^2 over SHARED
    // terms, so dot <= min(|A|_w^2, |B|_w^2) and cos <= min(nrm)/max(nrm)
    // — a pair whose tf-idf norms differ by more than the threshold
    // ratio is a lossless drop, exactly as set sizes bound Jaccard. The
    // prune runs inside PairsWithinRatio at GENERATION time (the double
    // explode materializes every df^2/2 pair row first — the dominant
    // cost once df grows; measured sf1->sf2: 21.7 -> 67.0 s, 3.1x for
    // 2x, while length-pruned dd02 held 1.93x). Packed lengths are the
    // QUANTIZED norms floor(nrm * 100); quantization is made lossless by
    // (a) saturating norms under 1.0 to LenCap — the kernel treats
    // LenCap as "unknown, always keep" — so the <=1% relative error
    // bound holds for every pruned value (q >= 100), and (b) running the
    // kernel at tau = 0.88: a kept pair needs cos >= 0.8999995 =>
    // norm ratio >= 0.8999995, and the quantized ratio is then
    // >= 0.8899995 > 0.88. Scoring still uses EXACT norms via the
    // shuffle join — the packed value prunes, it never scores.
    "tx08_tfidf_pairs" -> ((s, d) => tfidfPairs(s, d)),


    // Profile-based language ID via character trigrams — the real n-gram
    // method (tx03 is the compressed marker-word heuristic). Classifier:
    // multinomial log-likelihood against per-language trigram profiles
    // (argmax_L sum_g cnt(doc,g) * ln P_L(g)), the profile method that
    // dominates raw-overlap and Cavnar-Trenkle rank distance on this
    // corpus (measured: 52% vs 41% overall at sf0.001; the corpus's five
    // "languages" share one ~31-token vocabulary with ~10% relative
    // frequency deltas, so per-doc signal is inherently weak — see
    // NewOpsSpec for the calibration analysis). Log-probs are scaled to
    // integers (round(ln(p)*1e6)) so scoring is exact 64-bit arithmetic —
    // bit-identical across engines and across partitionings; unseen
    // trigrams get a floor of ln(0.5/total). Profiles are tiny
    // (langs x trigrams) and broadcast; the corpus-side work is one
    // explode + one grouped count, and everything downstream runs on the
    // (doc, trigram) aggregate — the shape holds at corpus scale.
    "tx09_charngram_langid" -> ((s, d) => {
      // wideMin(1000), not wide (r16): the char-ngram count kernel is a
      // full byte pass per document (~6x word-shingle grade), and below
      // wide's 10k-row gate the whole dc build ran at the 2-task scan
      // width (profiled as the 0.4-0.5 s 2-task jobs dominating tx09 at
      // every core count); the occupancy width (rows/1k) parallelizes
      // it without the full-parallelism exchange r9 measured as a
      // regression at this size.
      val docs = Tables.wideMin(s, d, "documents", 1000,
          "doc_id", "lang", "text")
        .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
      // (doc, lang, trigram) counts via the native CharNGramCounts kernel:
      // the per-doc aggregate is computed inside the scan (one byte pass,
      // codegen), so dc is a narrow projection — no corpus-wide explode,
      // no (doc, gram) shuffle. Persisted: profiles AND scoring derive
      // from it.
      val dc = docs
        .select(col("doc_id"), col("lang"),
          explode(org.apache.spark.sql.graftx.NGramFunctions
            .char_ngram_counts(col("t"), 3)).as("e"))
        .select(col("doc_id"), col("lang"),
          col("e.g").as("g"), col("e.cnt").as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // NULL-lang docs are UNLABELED (r14 null-key hardening): they
      // train no profile — a supervised profile keyed on the label
      // cannot learn from unlabeled rows, and a NULL pseudo-language
      // would anyway diverge engine-vs-oracle through the pivot (Spark)
      // vs USING-join (DuckDB) NULL paths. They still get scored and
      // appear in the confusion matrix under lang = NULL.
      val lc = dc.filter(col("lang").isNotNull)
        .groupBy(col("lang"), col("g")).agg(sum(col("cnt")).as("cnt"))
      val ltot = lc.groupBy(col("lang")).agg(sum(col("cnt")).as("tot"))
      // The language set and per-language unseen-gram floors are tiny —
      // collect them (one small job over the persisted dc) and pivot the
      // profiles into one lp column PER LANGUAGE. Scoring is then a single
      // broadcast join of dc against the pivoted profile plus one grouped
      // aggregate with |langs| sum columns, and argmax is a projection
      // (greatest over (ll, -idx) structs — same "ll desc, cand asc"
      // tie-break as before). The previous shape crossJoined dc with the
      // language list (|langs|-fold fanout of the corpus-side rows) and
      // ran a (doc, cand)-grouped aggregate plus a top-k exchange — this
      // one never fans out and shuffles only (doc, lang) groups.
      val langTots = ltot.collect()
        .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      val langNames = langTots.map(_._1)
      // trigram-free corpus (empty, or every text under 3 chars): no
      // profiles exist — every doc is 'unk', as the pre-pivot formulation
      // returned (an empty langNames would otherwise crash the agg below)
      if (langNames.isEmpty) {
        docs.select(col("lang"), lit("unk").as("predicted"))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n_docs"))
      } else {
      // Spark's round() is HALF_UP via BigDecimal — replicate exactly
      // (scala math.round is floor(x+0.5): differs on negative ties)
      def halfUp(x: Double): Long =
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val flp = langTots.map { case (_, tot) =>
        halfUp(math.log(0.5 / tot) * 1e6) }
      // Pivot emits one column PER LANGUAGE VALUE; rename them positionally
      // (pivot preserves the explicit langNames order) to a reserved lp_<i>
      // prefix so a language string that collides with a real column name
      // ("doc_id", "g", ...) or contains a dot can't break resolution.
      val profWide = lc.join(broadcast(ltot), "lang")
        .select(col("lang"), col("g"),
          round(log(col("cnt").cast("double") / col("tot")) * 1e6)
            .cast("long").as("lp"))
        .groupBy(col("g")).pivot("lang", langNames).agg(first(col("lp")))
        .toDF("g" +: langNames.indices.map(i => s"lp_$i"): _*)
      val score = dc.select(col("doc_id"), col("lang"), col("g"), col("cnt"))
        .join(broadcast(profWide), Seq("g"), "left_outer")
        .groupBy(col("doc_id"), col("lang"))
        .agg(langNames.indices.map { i =>
          sum(col("cnt") * coalesce(col(s"lp_$i"), lit(flp(i)))).as(s"ll_$i")
        }.head, langNames.indices.tail.map { i =>
          sum(col("cnt") * coalesce(col(s"lp_$i"), lit(flp(i)))).as(s"ll_$i")
        }: _*)
      val bestStructs = langNames.indices.map(i =>
        struct(col(s"ll_$i").as("ll"), lit(-i).as("ni")))
      val pred = score.withColumn("best",
          if (bestStructs.size > 1) greatest(bestStructs: _*)
          else bestStructs.head)
        .select(col("doc_id"), col("lang"),
          element_at(typedLit(langNames.toSeq), -col("best.ni") + 1)
            .as("predicted"))
      // per-doc relation: NOT broadcast — at scale this is a co-shuffled
      // doc_id join (only docs with zero trigrams need the reinstated row)
      docs.select(col("doc_id"), col("lang"))
        .join(pred.select(col("doc_id"), col("predicted")),
          Seq("doc_id"), "left_outer")
        .select(col("lang"),
          coalesce(col("predicted"), lit("unk")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
      }
    }),

    // Exact token heavy hitters: tokens carrying >= 1% of all token
    // occurrences. One explode + one groupBy; the total is a broadcast
    // scalar. The exact twin of the tx11 sketch.
    "tx10_token_heavy_hitters" -> ((s, d) => {
      val tok = Tables.wide(s, d, "documents", "text")
        .select(explode(expr(tokensExpr)).as("t"))
      val total = tok.agg(count(lit(1)).as("n_total"))
      tok.groupBy(col("t")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .filter(col("n") >= col("n_total") * 0.01)
        .select(col("t"), col("n"))
    }),

    // Count-min-sketch estimates for the exact heavy hitters — the
    // mergeable-sketch path that replaces a full groupBy at 100 TB the way
    // HLL replaces distinct. The sketch build is distributed (tree-
    // aggregated partials); only the bounded heavy-hitter set is estimated
    // driver-side. The estimates are sketch-specific, so the driver-gated
    // output is the DERIVED BOUND (VERDICT r11 #4): the heavy-hitter
    // token set and exact counts are DuckDB-pinned (tx10's oracle), and
    // the CMS one-sided guarantee — exact <= est <= exact + ceil(eps*N)
    // — is asserted in-engine per token (the same bound the r11 sidecar
    // checker graded, previously only in the spec).
    "tx11_cms_token_counts" -> ((s, d) => {
      val tok = Tables(s, d, "documents")
        .select(explode(expr(tokensExpr)).as("t"))
      val sketch = tok.stat.countMinSketch(col("t"),
        eps = 0.0001, confidence = 0.99, seed = 42)
      val slack = math.ceil(1e-4 * sketch.totalCount()).toLong
      val hh = queries("tx10_token_heavy_hitters")(s, d)
        .collect() // bounded: only tokens above 1% of the corpus
      import s.implicits._
      hh.toSeq.map { r =>
        val est = sketch.estimateCount(r.getString(0))
        (r.getString(0), r.getLong(1),
          est >= r.getLong(1), est <= r.getLong(1) + slack)
      }.toDF("t", "n_exact", "est_ge_exact", "est_le_eps_bound")
    }),

    // Content fingerprinting: md5 over whitespace-normalized text. Exact-dup
    // detection joins on this 16-byte key instead of the full document —
    // at 100 TB the shuffle carries fingerprints, not bodies.
    "tx04_fingerprint" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.core.Fingerprints.content(col("text")).as("fp"))
    }),

    // Repetition-based quality flags (the Gopher-style repetition rules
    // adapted to this corpus): per-doc distinct-token ratio and the
    // fraction of word bigrams taken by the single most frequent bigram.
    // One narrow scan + one (doc, bigram) aggregate whose fan-out is the
    // token count — the shape is a strict subset of the shingling
    // pipelines that already run at corpus scale. The keep flag compares
    // ROUNDED ratios so the cross-engine decision can't flap on a low bit.
    "tx12_quality_flags" -> ((s, d) => {
      // native kernels (codegen byte passes), not interpreted HOF lambdas:
      // word_grams(n=2) preserves bigram frequencies (non-distinct mode),
      // word_shingles(n=1) gives the distinct token count, and the token
      // count is |bigrams| + 1 for every doc that survives the n >= 2
      // filter — so no third pass
      val g = org.apache.spark.sql.graftx.WordShinglesFunctions
      val toks = Tables.wide(s, d, "documents", "doc_id", "text")
        .select(col("doc_id"),
          g.word_grams(col("text"), 2).as("bg"),
          size(g.word_shingles(col("text"), 1)).as("nd"))
        .select(col("doc_id"), col("bg"), col("nd"),
          (size(col("bg")) + 1).as("n"))
        .filter(size(col("bg")) >= 1)
      val top = toks
        .select(col("doc_id"), col("n"), col("nd"),
          explode(col("bg")).as("b"))
        .groupBy(col("doc_id"), col("n"), col("nd"), col("b"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("n"), col("nd"))
        .agg(max(col("c")).as("mx"))
      val dr = round(col("nd").cast("double") / col("n"), 6)
      val bf = round(col("mx").cast("double") / (col("n") - 1), 6)
      top.select(col("doc_id"), col("n").as("n_tokens"),
        dr.as("distinct_ratio"), bf.as("top_bigram_frac"),
        (dr >= 0.35 && bf <= 0.10).as("keep"))
    }),

    // Benchmark decontamination: flag corpus documents whose word-trigram
    // sets overlap a holdout/benchmark set (here: source 'src0') by >= 50%.
    // The benchmark shingle set is small BY NATURE (eval sets are of
    // bounded size at any corpus scale) -> broadcast; the corpus side is
    // one shingle scan + a per-doc count, never a corpus-corpus join.
    // LM-style quality scoring — the perplexity-filter analogue: each doc
    // scored by its mean per-trigram log-likelihood under the GLOBAL
    // corpus trigram model (low score = statistically unlike the corpus
    // = noise/boilerplate candidate). Completes the quality triad with
    // tx02 (surface heuristics) and tx12 (repetition). Same integer-
    // scaled log-prob trick as tx09: scoring is exact 64-bit arithmetic,
    // bit-identical across engines and partitionings; one gram scan,
    // profile broadcast, one per-doc aggregate.
    "tx14_lm_quality" -> ((s, d) => {
      val dc = Tables.wide(s, d, "documents", "doc_id", "text")
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graftx.NGramFunctions
            .char_ngram_counts(lower(col("text")), 3)).as("e"))
        .select(col("doc_id"), col("e.g").as("g"), col("e.cnt").as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = dc.agg(sum(col("cnt")).as("t"))
      val prof = dc.groupBy(col("g")).agg(sum(col("cnt")).as("gc"))
        .crossJoin(broadcast(tot))
        .select(col("g"),
          round(log(col("gc").cast("double") / col("t")) * 1e6)
            .cast("long").as("lp"))
      dc.join(broadcast(prof), "g")
        .groupBy(col("doc_id"))
        .agg((sum(col("cnt") * col("lp")).cast("double") / sum(col("cnt"))
          / 1e6).as("llraw"))
        .select(col("doc_id"), round(col("llraw"), 6).as("ll"),
          (round(col("llraw"), 6) >= -5.42).as("keep"))
    }),

    // PII redaction — the scrubbing pass every public-corpus pipeline
    // runs before training: mask emails/phones, log per-doc hit counts
    // for the audit trail. The synthetic corpus carries no PII, so a
    // deterministic contact block is APPENDED first (explicit fixture
    // construction, mirrored verbatim in the oracle); what the oracle
    // then verifies cross-engine is the redaction machinery itself —
    // pattern hit counts and the redacted text (compared as md5 so the
    // full string never ships). Patterns avoid backslash classes
    // ([.] not \.) so one regex string is valid in both Java regex and
    // DuckDB's RE2. One scan, all codegen regex expressions, zero
    // shuffle — at 100 TB this is scan-bound, exactly as it should be.
    "tx15_pii_redact" -> ((s, d) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
      val phone = "[+]1-555-[0-9]{4}"
      Tables(s, d, "documents")
        .withColumn("raw", concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"),
          expr(s"size(regexp_extract_all(raw, '$email', 0))")
            .cast("long").as("n_emails"),
          expr(s"size(regexp_extract_all(raw, '$phone', 0))")
            .cast("long").as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("raw"), email, "<EMAIL>"),
            phone, "<PHONE>")).as("redacted_md5"))
    }),

    // Deterministic train/val/test split (90/5/5) — hash-bucket
    // assignment via the same portable md5 idiom as tx07, so membership
    // is reproducible across runs, partitionings, AND engines, and any
    // consumer can recompute a document's split without an assignment
    // table. The pipeline property that matters: a document NEVER
    // changes split when the corpus grows (assignment depends only on
    // doc_id), unlike randomSplit/sample whose draws shift with
    // partitioning. One scan + a (lang x split)-sized aggregate.
    "tx16_corpus_split" -> ((s, d) => {
      val bucket = Fingerprints.bucket(col("doc_id"), 100L)
      Tables(s, d, "documents")
        .withColumn("split",
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // Sketch-tier decontamination: tx13 broadcasts the DISTINCT
    // benchmark shingle set as raw strings — exact, but the broadcast
    // grows with the eval suite. This variant compresses membership
    // into Spark's own Bloom filter (graftx.BloomFunctions wraps the
    // unregistered BloomFilterAggregate/BloomFilterMightContain that
    // power runtime join filtering): fixed ~9.6 bits per shingle at
    // 1% fpp, ~50x smaller than the string payload, and insertion is
    // idempotent so the build side needs NO distinct exchange. Error
    // is one-sided — a probe never misses a true member — so the
    // flagged set is a guaranteed SUPERSET of tx13's exact flags: a
    // contaminated document can never slip through; a clean one may
    // rarely be over-flagged (the spec gates both properties).
    //
    // Driver-gated form (VERDICT r11 #4): the raw sketch relation is
    // [[bloomDecontaminate]]; the queries entry joins it against tx13's
    // exact per-doc relation (itself DuckDB-oracled) and emits the
    // one-sidedness bounds per document — hits_ge_exact (a Bloom probe
    // never undercounts a true member) and flag_superset_ok (an
    // exact-contaminated doc is always sketch-flagged). The doc domain
    // and exact distinct-shingle counts are DuckDB-pinned.
    "tx17_bloom_decontaminate" -> ((s, d) => {
      // ONE shared shingle relation for both sides (r15): the old form
      // called bloomDecontaminate + tx13 back-to-back, each shingling
      // the corpus into its own identical persist — two full passes and
      // double the cache footprint for the same rows
      val sh = docShingles(s, d)
      val bloom = bloomFrom(sh)
      val exact = decontaminateFrom(sh)
      exact.as("e").join(bloom.as("b"),
          col("e.doc_id") === col("b.doc_id"), "full_outer")
        .select(
          coalesce(col("e.doc_id"), col("b.doc_id")).as("doc_id"),
          col("e.n_sh"),
          coalesce(col("b.n_hits") >= col("e.n_shared"), lit(false))
            .as("hits_ge_exact"),
          coalesce(!col("e.contaminated") || col("b.contaminated"),
            lit(false)).as("flag_superset_ok"))
    }),

    
    // Sequence packing ("concatenate and chunk"): the final shaping step
    // of an LLM training pipeline — documents are tokenized, laid out in
    // one deterministic global token stream, and cut into fixed-size
    // context windows; a document spanning a boundary contributes to
    // every window it overlaps. Emits one (doc_id, window_id, win_tokens)
    // row per overlap. The global token offset is an exact distributed
    // running sum (Scale.globalCumsum: range repartition + parallel
    // per-partition windows + a partition-count-bounded offset collect),
    // and the window fan-out is a narrow sequence() explode of ~n_tok/C
    // rows per doc — one range exchange total, linear in total tokens.
    "tx18_sequence_pack" -> ((s, d) =>
      // rowsHint (r16): the ranged persist gets an occupancy-gated width
      // from the documents footer rows; no-op at >= 1k docs/core
      packWindows(Tables(s, d, "documents")
          .select(col("doc_id"),
            expr(s"CAST(size($tokensExpr) AS BIGINT)").as("n_tok")),
        Seq(col("doc_id")), "n_tok",
        rowsHint = Tables.layout(s, s"$d/documents.parquet").rows)),

    // Mixture rebalancing sample: hit a target source mixture (integer
    // weights w_s, here derived from the source id) WITHOUT upsampling —
    // the data-mixing step before training (Pile/Dolma-style recipes).
    // A |sources|-row aggregate gives per-source counts; the largest
    // feasible total is M = min_s((n_s * W) DIV w_s), each source keeps
    // keep_s = (M * w_s) DIV W docs, and membership is decided by a
    // deterministic md5 hash-bucket threshold thresh_s = (keep_s *
    // 2^20) DIV n_s — all-integer arithmetic end to end, so any engine
    // on any partitioning selects the same doc set. The stats build
    // side is aggregation-bounded (|sources| rows), so its broadcast
    // join-back is 100 TB-legal; kept counts are binomial around keep_s
    // by design — exact-count selection would need a per-source rank,
    // a |sources|-partition window funnel this formulation refuses.
    // Weights stand in for a user-supplied recipe table; they derive
    // from md5(source) (not a parse of the id's digits) so ANY source
    // string gets a weight — a non-numeric id would parse to NULL in
    // Spark (silently skewing the mixture) but raise in DuckDB.
    "tx19_mixture_sample" -> ((s, d) =>
      mixtureSample(Tables(s, d, "documents"))
        .select(col("doc_id"), col("source"))),

    // Deterministic training-order shuffle: the last shaping step before
    // sequence packing — a seeded global permutation of the corpus so
    // every epoch (and every engine, and every re-run) reads documents
    // in the same pseudo-random order. The permutation key is the
    // portable md5 of "42:<doc_id>" (lowercase hex compares identically
    // across engines); the exact 1-based global position comes from
    // Scale.globalRank — range repartition + parallel per-partition
    // row_number + partition-count-bounded offsets, never the
    // no-partition window funnel the plan audit rejects. doc_id is the
    // tie-break so the order is total even under md5 collisions.
    "tx20_corpus_shuffle" -> ((s, d) =>
      shuffleOrder(Tables(s, d, "documents").select(col("doc_id")),
          rowsHint = Tables.layout(s, s"$d/documents.parquet").rows)
        .select(col("doc_id"), col("shuffle_key"), col("pos"))),

    // Cross-source contamination matrix: distinct word-trigram Jaccard
    // between every source pair — the recipe-level "is split A leaking
    // into split B" diagnostic (tx13 answers it per-document against one
    // benchmark source; this answers it source-by-source). Postings
    // shape: the corpus collapses to distinct (shingle, source) rows —
    // one shuffle keyed by shingle — and pair fan-out per shingle is
    // bounded by |sources|^2, a recipe constant, never by corpus size.
    // The per-source set sizes are an aggregate of |sources| rows:
    // broadcast-legal at any corpus scale.
    "tx21_source_overlap" -> ((s, d) => {
      val g = org.apache.spark.sql.graftx.WordShinglesFunctions
      // mat(): ss feeds the sizes aggregate and BOTH self-join sides of
      // one action — cold-cache concurrent first-touch re-ran the
      // shingle+distinct upstream per branch (Tables.mat; measured as
      // 3 parallel ~0.8 s jobs at sf0.1)
      // wideMin(1000) as in docShingles (r16): occupancy-width shingle
      // build instead of the 2-task scan width
      val ss = Tables.mat(Tables.wideMin(s, d, "documents", 1000,
          "source", "text")
        .select(col("source"),
          explode(g.word_shingles(col("text"), 3)).as("sh"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = ss.select(col("sh"), col("source").as("s1"))
        .join(ss.select(col("sh"), col("source").as("s2")), "sh")
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("s1"),
          col("n").as("n1"))), "s1")
        .join(broadcast(sizes.select(col("source").as("s2"),
          col("n").as("n2"))), "s2")
        .select(col("s1"), col("s2"), col("inter"),
          round(col("inter").cast("double") /
            (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
    }),

    "tx13_decontaminate" -> ((s, d) =>
      // persisted + force-materialized (docShingles): three consumers
      // (benchmark distinct, per-doc totals, shared counts) would
      // otherwise each re-run the shingle scan — concurrently, on the
      // cold cache (Tables.mat)
      decontaminateFrom(docShingles(s, d))),

    // Intra-document repetition signals (the Gopher/MassiveText repetition
    // filters, Rae et al. 2021 §A1.1): fraction of duplicate word
    // occurrences and the share of the most-repeated bigram. Everything is
    // an array-lambda over the token list, so the query is ONE scan with
    // NO shuffle at any corpus size (output grain = document): the per-doc
    // bigram mode comes from the sorted-run trick — sort the bigram array,
    // then the longest equal-adjacent run IS the modal count — instead of
    // a (doc, bigram) exchange.
    "tx22_repetition_stats" -> ((s, d) => {
      Tables.wide(s, d, "documents", "doc_id", "text")
        .withColumn("toks", expr(tokensExpr))
        .withColumn("n_tok", expr("size(toks)"))
        .filter(col("n_tok") >= 2)
        .withColumn("bgs", expr(
          "array_sort(transform(sequence(0, size(toks) - 2), " +
            "i -> concat(toks[i], ' ', toks[i + 1])))"))
        // guard size<2 explicitly: sequence(1, 0) DESCENDS in Spark, and
        // the aggregate would walk bogus indices instead of no-opping
        .withColumn("max_bg", expr(
          """IF(size(bgs) < 2, 1, aggregate(
            |  sequence(1, size(bgs) - 1),
            |  named_struct('cur', 1, 'best', 1),
            |  (acc, i) -> IF(bgs[i] = bgs[i - 1],
            |    named_struct('cur', acc.cur + 1,
            |      'best', GREATEST(acc.best, acc.cur + 1)),
            |    named_struct('cur', 1, 'best', acc.best)),
            |  acc -> acc.best))""".stripMargin))
        .select(col("doc_id"), col("n_tok"),
          round(lit(1.0) - expr("size(array_distinct(toks))").cast("double")
            / col("n_tok"), 6).as("dup_word_frac"),
          round(col("max_bg").cast("double") / (col("n_tok") - 1), 6)
            .as("top_bigram_frac"))
    }),

    // BM25 keyword search: top-10 documents for a fixed conjunctive-OR
    // term query (Robertson/Sparck-Jones idf, k1 = 1.2, b = 0.75) — the
    // retrieval primitive behind corpus exploration and hard-negative
    // mining. Scale shape: the corpus scan keeps only rows matching the
    // (tiny, literal) term list, tf aggregates on (doc, term), df and the
    // corpus stats are |terms|- and 1-row aggregates broadcast back, and
    // the final top-10 is TakeOrderedAndProject (per-partition heaps +
    // driver merge — no global sort). Doc length and avgdl use exact
    // integer-valued sums, so both engines compute identical doubles; the
    // summed score rounds to 6dp with a doc_id tie-break for a
    // deterministic cut.
    "tx23_bm25_topk" -> ((s, d) => {
      val dl = Tables(s, d, "documents")
        .select(col("doc_id"), expr(tokensExpr).as("toks"))
        .select(col("doc_id"), expr("size(toks)").cast("double").as("dl"),
          col("toks"))
      val stats = dl.agg(count(lit(1)).cast("double").as("nd"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))
      val tf = dl
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("t"))
        .filter(col("t").isin(BmTerms: _*))
        .groupBy(col("doc_id"), col("dl"), col("t"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
      // per-term scores are summed SCALED (floor(w*1e9 + 0.5) as exact
      // longs, the repo's Num convention): a plain double SUM's addend
      // order differs between Spark partial aggregation and DuckDB, and
      // at a 6dp-rounding boundary that low-bit drift could flip the
      // top-10 cut. The 1e9 scale keeps ~3 sub-1e3 addends far inside
      // long range and the /1e9 + 6dp round far above the scaling error.
      tf.join(broadcast(df), "t")
        .crossJoin(broadcast(stats))
        .withColumn("w",
          log((col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * col("tf") * 2.2
            / (col("tf") + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy(col("doc_id"))
        .agg(round(sum(floor(col("w") * 1e9 + 0.5)) / 1e9, 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(10)
    }),

    // Vocabulary-growth (Heaps'-law) curve at two unit sizes: cumulative
    // distinct UNIGRAM and WORD-TRIGRAM counts at each corpus decile —
    // the corpus-diversity diagnostic behind "is more data still adding
    // new vocabulary / new n-grams". Computed by FIRST-OCCURRENCE
    // inversion, not by re-scanning a growing prefix per checkpoint: one
    // unit-keyed exchange per unit size (vocab-bounded aggregation
    // state) pins each unit's first doc_id, each unit lands in the
    // decile of that first occurrence, and the <= 10-row decile censuses
    // cumulate through a triangular broadcast join (bounded at 10x10 —
    // deliberately NOT a no-partition window, which the plan audit
    // bans). Trigrams use the same native WordShingles kernel as the
    // dedup family.
    "tx24_vocab_growth" -> ((s, d) => {
      val maxd = Tables(s, d, "documents").agg(max(col("doc_id")).as("maxd"))
      def census(unit: org.apache.spark.sql.Column, name: String) =
        Tables(s, d, "documents")
          .select(col("doc_id"), explode(unit).as("u"))
          .groupBy(col("u")).agg(min(col("doc_id")).as("fd"))
          .crossJoin(broadcast(maxd))
          .groupBy(expr("(fd * 10) DIV (maxd + 1)").as("decile"))
          .agg(count(lit(1)).as(name))
      val joined = census(expr(tokensExpr), "n1")
        .join(census(org.apache.spark.sql.graftx.WordShinglesFunctions
          .word_shingles(col("text"), 3), "n3"), Seq("decile"), "full_outer")
        .select(col("decile"), coalesce(col("n1"), lit(0L)).as("n1"),
          coalesce(col("n3"), lit(0L)).as("n3"))
      joined.as("a")
        .join(broadcast(joined.as("b")), col("b.decile") <= col("a.decile"))
        .groupBy(col("a.decile").as("dec"))
        .agg(sum(col("b.n1")).as("vocab_unigram"),
          sum(col("b.n3")).as("vocab_trigram"))
        .select(((col("dec") + 1) * 10).as("pct"),
          col("vocab_unigram"), col("vocab_trigram"))
    }),

    // DSIR-style importance weights (Xie et al., NeurIPS'23 "Data
    // Selection for Language Models via Importance Resampling"): score
    // every raw document by the log-likelihood ratio of a hashed-unigram
    // bag-of-words model of the TARGET domain (source = 'src0', the same
    // benchmark convention tx13/tx17 use) against the RAW pool —
    // the standard pretraining-data selection signal (sample raw docs
    // proportional to exp(weight) to match the target distribution).
    // Feature hashing (md5 -> 4096 buckets, the tx16 parity trick) keeps
    // the model CONSTANT-SIZED no matter how the vocabulary grows, which
    // is what makes this a 100 TB operator: the bucket census is one
    // map-side-combinable <= B-row aggregate, the log-ratio table is a
    // B-bounded broadcast (aggregate-bounded, audit-legal), and the
    // per-doc score is one doc_id-keyed exchange. Two exchanges total,
    // both linear; nothing scales with |vocab| or |target|.
    // Cross-engine exactness: per-bucket log-ratios are computed once
    // (identical expression shape in DuckDB), scaled to BIGINT at 1e9
    // (tx23's convention — order-independent integer sums), and
    // add-1-smoothed so target-only/raw-only buckets stay finite.
    "tx25_dsir_weights" -> ((s, d) => {
      val B = 4096
      val bucket = Fingerprints.bucket(col("t"), B)
      val tok = Tables.wide(s, d, "documents", "doc_id", "source", "text")
        .select(col("doc_id"), col("source"),
          explode(expr(tokensExpr)).as("t"))
        .select(col("doc_id"), col("source"), bucket.as("b"))
      val census = tok.groupBy(col("b")).agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("cr"))
      val totals = census.agg(sum(col("ct")).as("st"),
        sum(col("cr")).as("sr"))
      // identical op order to the oracle: (ct+1)/(st+B) / ((cr+1)/(sr+B)),
      // one ln, scaled-floor to BIGINT
      val lr = census.crossJoin(broadcast(totals))
        .select(col("b"), floor(log(
          ((col("ct") + 1).cast("double") / (col("st") + B).cast("double")) /
            ((col("cr") + 1).cast("double") / (col("sr") + B).cast("double")))
          * 1e9 + 0.5).cast("long").as("slr"))
      // 6dp output via INTEGER half-away-from-zero on the exact scaled
      // sum — round(sum/1e9, 6) on a double flipped 3 of 47,511 rows at
      // sf1 (engines decimalize the quotient differently at a .5e-6
      // boundary); (s + 500) DIV 1000 on the guarded-positive long is
      // engine-exact, and r6/1e6 maps equal integers to equal doubles.
      tok.filter(col("source") =!= "src0")
        .join(broadcast(lr), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("slr")).as("ssum"))
        .select(col("doc_id"),
          (when(col("ssum") >= 0, expr("(ssum + 500) DIV 1000"))
            .otherwise(-expr("(-ssum + 500) DIV 1000"))
            .cast("double") / 1e6).as("dsir_logratio"))
    }),

    // Per-document token (Shannon) entropy — the quality signal that
    // separates natural prose from keyword stuffing / boilerplate /
    // low-diversity spam at a glance: H = ln(n) - (1/n) * sum_t c_t ln c_t
    // over the token census. Shape: two aggregates, two exchanges — the
    // (doc, token) census shuffles map-side-combined census rows, then
    // the per-doc rollup re-shuffles on doc_id (HashPartitioning(doc, t)
    // does NOT satisfy a doc_id-only clustering — subset grouping needs
    // its own exchange; the reverse, superset grouping, is ev15's
    // one-exchange case). Both exchanges move AGGREGATED relations
    // (census <= distinct (doc, token) pairs, rollup = one row per doc),
    // never the raw token stream — a single pre-repartition on doc_id
    // would fuse them into one exchange but ship every raw token
    // unreduced, strictly more bytes. Linear either way.
    // Cross-engine exactness: the sum over tokens is accumulation-order-
    // sensitive in doubles, so each c*ln(c) term is floor-scaled to a
    // BIGINT at 1e9 (tx23's convention) and summed exactly; the final
    // H is transcendental (never sits on a decimal rounding boundary,
    // unlike tx25's integer-ratio sums), so round(H, 6) agrees.
    "tx26_token_entropy" -> ((s, d) => {
      val census = Tables.wide(s, d, "documents", "doc_id", "text")
        .select(col("doc_id"), explode(expr(tokensExpr)).as("t"))
        .groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("c"))
      census.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_types"),
          sum(floor(col("c").cast("double") * log(col("c").cast("double"))
            * 1e9 + 0.5).cast("long")).as("sclnc"))
        .select(col("doc_id"), col("n_tok"), col("n_types"),
          round(log(col("n_tok").cast("double")) -
            col("sclnc").cast("double") / 1e9 / col("n_tok").cast("double"),
            6).as("entropy"))
    }),

    // Document-frequency spectrum: how many distinct terms appear in
    // exactly 2^k..2^(k+1)-1 documents, for unigrams and for the word
    // trigrams every pair kernel keys on. This is the engine's OWN tuning
    // evidence made queryable: the postings-cap design (InvertedIndex.
    // StopKeyCap — drop shingles above a df ceiling from pair generation)
    // and the CMS/heavy-hitter thresholds (tx10/tx11) are all claims
    // about this histogram's tail, and on a Heaps-law corpus its shape is
    // the difference between a bounded and an exploding candidate set.
    // Shape: distinct (doc, term) partial-aggregates map-side, one
    // exchange per unit keyed on the term, then the bucket rollup is
    // <= 64 rows. Buckets are floor(log2(df)) via length(bin(df)) - 1 —
    // pure integer arithmetic in both engines (log2() as a double puts
    // exact powers of two ON a rounding boundary, the tx25 class of
    // cross-engine flip).
    "tx27_docfreq_spectrum" -> ((s, d) => {
      def spectrum(unit: Column, name: String) =
        Tables.wide(s, d, "documents", "doc_id", "text")
          .select(col("doc_id"), explode(unit).as("u"))
          .distinct()
          .groupBy(col("u")).agg(count(lit(1)).as("df"))
          .groupBy((length(bin(col("df"))) - 1).cast("long").as("log2_df"))
          .agg(count(lit(1)).as(name))
      spectrum(expr(tokensExpr), "n_unigrams")
        .join(spectrum(org.apache.spark.sql.graftx.WordShinglesFunctions
          .word_shingles(col("text"), 3), "n_shingles"),
          Seq("log2_df"), "full_outer")
        .select(col("log2_df"),
          coalesce(col("n_unigrams"), lit(0L)).as("n_unigrams"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"))
    })
  )

  /** tx08's body, df-cap parameterized (r15). `capOverride` pins the
    * cap explicitly (spec replay tier); otherwise the cap is
    * [[graft.core.InvertedIndex.StopKeyCap]] unless the
    * [[graft.core.PairBudget]] disk-budget hook (OFF by default) lowers
    * it with a stamped loss — the closed-sf8 degradation mode. The df
    * relation handed to the hook is only evaluated when a budget is
    * set; the unbudgeted plan is unchanged. */
  private[graft] def tfidfPairs(s: SparkSession, d: String,
      capOverride: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.graftx.PairsWithinRatio
    val NormScale = 100
    val sh = Tables.wide(s, d, "documents", "doc_id", "text")
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graftx.WordShinglesFunctions
          .word_shingles(col("text"), 3)).as("t"))
    // Occupancy-gated t-exchange (r16, Tables.keyedAt/gatedParts): tw's
    // aggregate, the shw join, and through them the shw/norms persists
    // were 32-partition relations re-scanned by 2-3 branches each — the
    // sf0.1 per-pass task-launch floor. Gate bound = the documents
    // footer row count; off (plan byte-identical) at >= 1k docs/core.
    val docRows = Tables.layout(s, s"$d/documents.parquet").rows
    val shg = Tables.keyedAt(s, docRows, sh, col("t"))
    val n = Tables(s, d, "documents")
      .agg(count(lit(1)).cast("double").as("nd"))
    // ~24 bytes per generated pair row (two packed longs + the weight)
    // in the explode's shuffle — the volume the budget bounds
    val cap = capOverride.getOrElse(graft.core.PairBudget.dfCap(
      sh.groupBy(col("t")).agg(count(lit(1)).as("df")),
      graft.core.InvertedIndex.StopKeyCap, 24.0, "tx08_tfidf_pairs"))
    // df via a COUNT aggregate, not a bounded_collect grouping: the
    // partial aggregate collapses each map partition to at most |vocab|
    // rows before the wire, so the exchange carries ~partitions x vocab
    // counts where the old first grouping shuffled every posting into
    // full collect_list state — and then rebuilt the SAME state a second
    // time after the norm attach. The stop-key cap (df <= StopKeyCap)
    // keeps its old semantics: capped terms drop from norms AND pairs,
    // exactly as the oracle's HAVING clause prescribes. `tw` is
    // vocabulary-sized (an aggregate, so broadcast-legal by the audit
    // rule) but shingle vocabulary grows with the corpus — the join
    // below stays a shuffle join on t, never a broadcast build.
    val tw = shg.groupBy(col("t"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .crossJoin(broadcast(n))
      .select(col("t"),
        (log(col("nd") / col("df")) * log(col("nd") / col("df"))).as("w2"))
    // Postings restricted to surviving terms with the per-term weight
    // attached — one t-keyed shuffle join. minDf = 1 semantics are
    // preserved: singleton terms survive tw (df = 1) and count toward
    // norms; pair generation drops them naturally (a 1-element list
    // emits no pairs). Persisted: norms and the packed rebuild both
    // read it.
    // mat() on both fan-out persists (Tables.mat): shw feeds norms AND
    // the packed rebuild; norms feeds the qn attach AND both final
    // join-backs — cold-cache concurrent first-touch re-ran the
    // shingle+weight join per branch (profiled as 6 parallel ~0.5-0.65 s
    // jobs at sf0.1)
    val shw = Tables.mat(shg.join(tw.hint("shuffle_hash"), Seq("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val norms = Tables.mat(Tables.keyedAt(s, docRows, shw, col("doc_id"))
      .groupBy("doc_id").agg(sqrt(sum(col("w2"))).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Pack the quantized norm into the doc id (len << 48 | id). Both
    // sides of the norm attach are postings- or doc-sized —
    // co-partitioned shuffle join on doc_id, never a broadcast (norms
    // is one row per DOCUMENT).
    val qn = when(col("nrm") * NormScale < 100, lit(PairsWithinRatio.LenCap))
      .otherwise(least(floor(col("nrm") * NormScale).cast("long"),
        lit(PairsWithinRatio.LenCap)))
    val packed = shw
      .join(norms.select(col("doc_id"), qn.as("qn")).hint("shuffle_hash"),
        Seq("doc_id"))
      .select(col("t"),
        (shiftleft(col("qn"), 48) + col("doc_id")).as("pd"))
    // The ONE postings grouping in the query (the old shape ran two):
    // state-capped per-term lists of packed (norm, id) longs. w is
    // recomputed from the list size — identical to tw's by
    // construction, since every posting of a surviving term reaches
    // here.
    val repacked = graft.core.InvertedIndex
      .groupedPostings(packed, col("t"), col("pd"))
      .crossJoin(broadcast(n))
      .select(col("ds"),
        (log(col("nd") / size(col("ds"))) *
          log(col("nd") / size(col("ds")))).as("ww"))
    val dots = repacked
      .select(col("ww"), PairsWithinRatio
        .pairs_within_ratio(col("ds"), 0.88).as(Seq("d1p", "d2p")))
      .groupBy(col("d1p"), col("d2p"))
      .agg(sum(col("ww")).as("dot"))
      .select(col("d1p").bitwiseAND(lit(PairsWithinRatio.IdMask)).as("d1"),
        col("d2p").bitwiseAND(lit(PairsWithinRatio.IdMask)).as("d2"),
        col("dot"))
    // Norm join-back is a co-partitioned SHUFFLE join on doc_id, never a
    // broadcast: `norms` is one row per DOCUMENT (~16+ GB at 1e9 docs,
    // over the broadcast hard cap — the query would fail at target
    // scale). The >=0.9 pair side is tiny; the hint pins SHJ so AQE
    // cannot re-broadcast the per-doc relation at test scale
    // (PlanAuditSpec asserts the shape).
    val normsJ = norms.hint("shuffle_hash")
    dots
      .join(normsJ.as("n1"), col("d1") === col("n1.doc_id"))
      .join(normsJ.as("n2"), col("d2") === col("n2.doc_id"))
      .select(col("d1"), col("d2"),
        round(col("dot") / (col("n1.nrm") * col("n2.nrm")), 6).as("sim"))
      .filter(col("sim") >= 0.9)
  }

  def oracleSql: Map[String, String] = Map(
    "tx01_token_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($tokensSql)) AS BIGINT) AS total_tokens,
         |  CAST(SUM(len($tokensSql)) AS DOUBLE) / COUNT(*) AS avg_tokens
         |FROM documents GROUP BY lang""".stripMargin,

    "tx02_quality_score" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_tok,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         |  CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS DOUBLE)
         |    / len(toks) AS stop_ratio,
         |  CASE WHEN len(toks) >= 40 AND
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.25
         |    THEN 'keep' ELSE 'drop' END AS verdict
         |FROM t WHERE len(toks) > 0""".stripMargin,

    "tx03_langid_confusion" ->
      s"""WITH t AS (SELECT lang, $tokensSql AS toks FROM documents),
         |  p AS (SELECT lang,
         |    CASE WHEN len(toks) = 0 THEN 'unk'
         |      WHEN CAST(len(list_filter(toks,
         |        t -> t IN ('the', 'a', 'data', 'key'))) AS DOUBLE)
         |        / len(toks) >= 0.10 THEN 'en'
         |      ELSE 'unk' END AS predicted
         |    FROM t)
         |SELECT lang, predicted, COUNT(*) AS n_docs
         |FROM p GROUP BY lang, predicted""".stripMargin,

    "tx08_tfidf_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, s AS t FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |    FROM t WHERE len(w) >= 3)),
        |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM sh GROUP BY t
        |          HAVING COUNT(*) <= 1000),
        |w AS (SELECT doc_id, sh.t, ln(nd.nd / df) AS w
        |      FROM sh JOIN dfreq ON sh.t = dfreq.t CROSS JOIN nd),
        |nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w
        |        GROUP BY doc_id),
        |dots AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(a.w * b.w) AS dot
        |  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, round(dot / (n1.nrm * n2.nrm), 6) AS sim
        |FROM dots JOIN nrm n1 ON d1 = n1.doc_id
        |JOIN nrm n2 ON d2 = n2.doc_id
        |WHERE round(dot / (n1.nrm * n2.nrm), 6) >= 0.9""".stripMargin,

    // tx05: a FULL cross-engine replay of the winnowing kernel
    // (WinnowFingerprint: K=24-byte grams, W=16 windows, base 257, 64-bit
    // wraparound). Exactness argument:
    //  - the fixture text is pure ASCII — ASSERTED in the codes CTE
    //    (error() fires on any row where octet_length(encode(text)) !=
    //    length(text)), so unicode(text[i]) IS the UTF-8 byte the Scala
    //    kernel hashes, and a future non-ASCII fixture fails LOUDLY
    //    instead of diverging silently. The guard must be CASE WHEN, not
    //    `ok OR error(...)`: DuckDB constant-folds error('literal') at
    //    plan time and does NOT short-circuit OR over a scan, so both
    //    OR forms throw even on all-ASCII data (measured); CASE branches
    //    are documented-lazy;
    //  - gram hashes fold in HUGEINT with an explicit mod 2^64, exactly
    //    Scala's Long wraparound; comparisons happen on the SIGNED view
    //    (h >= 2^63 -> h - 2^64) because the kernel's window-argmin
    //    compares signed longs;
    //  - the kernel's rightmost-min tie rule and consecutive-pick dedup
    //    only affect WHICH INDEX is picked, never the picked VALUE (ties
    //    are equal values), and tx05 takes DISTINCT (doc_id, f) anyway —
    //    so the fingerprint SET per doc is exactly the distinct window
    //    minima, which is what this query emits;
    //  - the InvertedIndex stop-key cap (df in [2, 1000]) is the HAVING.
    "tx05_winnow_pairs" ->
      """WITH codes AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) + 1),
        |      i -> unicode(text[i])::HUGEINT) AS cs,
        |    length(text) AS n
        |  FROM documents WHERE
        |    -- one CASE carries BOTH conditions: SQL guarantees no
        |    -- conjunct order, so the length filter must gate the ASCII
        |    -- assertion inside the CASE (a sub-24-char non-ASCII doc is
        |    -- excluded from gram hashing and must NOT fire error())
        |    CASE WHEN length(text) < 24 THEN FALSE
        |      WHEN octet_length(encode(text)) = length(text) THEN TRUE
        |      ELSE error('tx05 oracle assumes ASCII text (char ops must '
        |        || 'equal the UTF-8 bytes the kernel hashes); doc_id='
        |        || doc_id) END),
        |grams AS (
        |  SELECT doc_id, n - 23 AS ng,
        |    list_transform(range(1, n - 22), p ->
        |      list_reduce(list_slice(cs, p, p + 23),
        |        (a, b) -> (a * 257 + b)
        |          % 18446744073709551616::HUGEINT)) AS hu
        |  FROM codes),
        |signed AS (
        |  SELECT doc_id, ng,
        |    list_transform(hu, h ->
        |      CASE WHEN h >= 9223372036854775808::HUGEINT
        |        THEN (h - 18446744073709551616::HUGEINT)::BIGINT
        |        ELSE h::BIGINT END) AS hs
        |  FROM grams),
        |fps AS (
        |  SELECT DISTINCT doc_id, f FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      list_transform(range(0, greatest(ng - 16, 0) + 1), w0 ->
        |        list_min(list_slice(hs, w0 + 1, least(w0 + 16, ng)))))) AS f
        |    FROM signed)),
        |live AS (
        |  SELECT f FROM fps GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 1000)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
        |FROM fps a JOIN fps b USING (f) JOIN live USING (f)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5""".stripMargin,

    "tx06_bpe_token_count" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(lower(text),
        |    ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) AS BIGINT)
        |    AS total_bpe_tokens,
        |  CAST(MAX(len(regexp_extract_all(lower(text),
        |    ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) AS BIGINT)
        |    AS max_bpe_tokens
        |FROM documents GROUP BY source""".stripMargin,

    "tx04_fingerprint" ->
      s"""SELECT doc_id,
        |  ${graft.core.Fingerprints.sqlContent("text")} AS fp
        |FROM documents""".stripMargin,

    // duckdb range(a, b) is exclusive-stop => 1..len-2, matching Spark's
    // inclusive sequence(1, len-2); substr/substring are both 1-based and
    // character-oriented. Scores are exact BIGINT sums of integer-scaled
    // log-probs (round is half-away-from-zero in both engines), so the
    // argmax is bit-identical cross-engine.
    "tx09_charngram_langid" ->
      """WITH docs AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
        |tri AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, length(t) - 1),
        |      i -> substr(t, i, 3))) AS g
        |  FROM docs WHERE length(t) >= 3),
        |dc AS (SELECT doc_id, lang, g, COUNT(*) AS cnt
        |       FROM tri GROUP BY 1, 2, 3),
        |lc AS (SELECT lang, g, CAST(SUM(cnt) AS BIGINT) AS cnt
        |       FROM dc WHERE lang IS NOT NULL GROUP BY 1, 2),
        |ltot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot
        |         FROM lc GROUP BY 1),
        |prof AS (SELECT lc.lang AS cand, g,
        |    CAST(round(ln(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
        |  FROM lc JOIN ltot USING (lang)),
        |langs AS (SELECT lang AS cand,
        |    CAST(round(ln(0.5 / tot) * 1e6) AS BIGINT) AS flp
        |  FROM ltot),
        |score AS (
        |  SELECT doc_id, cand, SUM(cnt * COALESCE(lp, flp)) AS ll
        |  FROM (SELECT doc_id, g, cnt FROM dc) dc2
        |  CROSS JOIN langs LEFT JOIN prof USING (cand, g)
        |  GROUP BY 1, 2),
        |pred AS (SELECT doc_id, cand AS predicted FROM (
        |  SELECT doc_id, cand, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY ll DESC, cand ASC) AS rn FROM score) WHERE rn = 1)
        |SELECT d.lang, COALESCE(p.predicted, 'unk') AS predicted,
        |  COUNT(*) AS n_docs
        |FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
        |GROUP BY 1, 2""".stripMargin,

    "tx10_token_heavy_hitters" ->
      s"""WITH tok AS (
         |  SELECT unnest($tokensSql) AS t FROM documents)
         |SELECT t, COUNT(*) AS n FROM tok GROUP BY t
         |HAVING COUNT(*) >= (SELECT COUNT(*) FROM tok) * 0.01""".stripMargin,

    // md5 hex is engine-identical; '0x'-prefixed cast is DuckDB's hex
    // parse, conv(..,16,10) is Spark's. Same 32-bit prefix, same bucket.
    "tx07_stratified_sample" ->
      """SELECT lang, COUNT(*) AS n_sampled FROM documents
        |WHERE lang <> 'en' OR
        |  (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |    % 100) < 50
        |GROUP BY lang""".stripMargin,
    // tx11_cms_token_counts: intentionally no oracle (sketch-specific).

    "tx12_quality_flags" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS w FROM documents),
         |m AS (
         |  SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd,
         |    (SELECT max(cnt) FROM (
         |       SELECT COUNT(*) AS cnt
         |       FROM unnest(list_transform(range(1, len(w)),
         |         i -> w[i] || ' ' || w[i+1])) AS u(b)
         |       GROUP BY b)) AS mx
         |  FROM t WHERE len(w) >= 2)
         |SELECT doc_id, n AS n_tokens,
         |  round(CAST(nd AS DOUBLE) / n, 6) AS distinct_ratio,
         |  round(CAST(mx AS DOUBLE) / (n - 1), 6) AS top_bigram_frac,
         |  (round(CAST(nd AS DOUBLE) / n, 6) >= 0.35 AND
         |   round(CAST(mx AS DOUBLE) / (n - 1), 6) <= 0.10) AS keep
         |FROM m""".stripMargin,

    "tx14_lm_quality" ->
      """WITH dc AS (
        |  SELECT doc_id, s AS g, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, length(lower(text)) - 1),
        |      i -> substr(lower(text), i::INT, 3))) AS s
        |    FROM documents WHERE length(lower(text)) >= 3)
        |  GROUP BY doc_id, s),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM dc),
        |prof AS (
        |  SELECT g, CAST(round(ln(CAST(SUM(cnt) AS DOUBLE)
        |    / (SELECT t FROM tot)) * 1e6) AS BIGINT) AS lp
        |  FROM dc GROUP BY g)
        |SELECT dc.doc_id,
        |  round(CAST(SUM(dc.cnt * prof.lp) AS DOUBLE)
        |    / SUM(dc.cnt) / 1e6, 6) AS ll,
        |  round(CAST(SUM(dc.cnt * prof.lp) AS DOUBLE)
        |    / SUM(dc.cnt) / 1e6, 6) >= -5.42 AS keep
        |FROM dc JOIN prof ON dc.g = prof.g
        |GROUP BY dc.doc_id""".stripMargin,

    "tx21_source_overlap" ->
      s"""WITH t AS (SELECT source, $tokensSql AS w FROM documents),
         |sh AS (SELECT DISTINCT source, s FROM (
         |  SELECT source, unnest(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         |  FROM t WHERE len(w) >= 3)),
         |sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
         |i AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT i.s1, i.s2, i.inter,
         |  round(CAST(i.inter AS DOUBLE) / (x.n + y.n - i.inter), 6)
         |    AS jaccard
         |FROM i JOIN sz x ON i.s1 = x.source
         |JOIN sz y ON i.s2 = y.source""".stripMargin,

    "tx13_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, source, $tokensSql AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source, s FROM (
         |  SELECT doc_id, source, unnest(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         |  FROM t WHERE len(w) >= 3)),
         |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
         |SELECT sh.doc_id, COUNT(*) AS n_sh,
         |  CAST(COUNT(bench.s) AS BIGINT) AS n_shared,
         |  round(CAST(COUNT(bench.s) AS DOUBLE) / COUNT(*), 6)
         |    AS contamination,
         |  round(CAST(COUNT(bench.s) AS DOUBLE) / COUNT(*), 6) >= 0.5
         |    AS contaminated
         |FROM sh LEFT JOIN bench ON sh.s = bench.s
         |WHERE sh.source <> 'src0'
         |GROUP BY sh.doc_id""".stripMargin,
    // tx17's derived bound: DuckDB pins the doc domain and exact
    // distinct-shingle counts (tx13's CTEs); the Bloom one-sidedness
    // booleans are asserted in-engine against the oracled tx13 relation
    "tx17_bloom_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, source, $tokensSql AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source, s FROM (
         |  SELECT doc_id, source, unnest(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         |  FROM t WHERE len(w) >= 3))
         |SELECT doc_id, COUNT(*) AS n_sh, TRUE AS hits_ge_exact,
         |  TRUE AS flag_superset_ok
         |FROM sh WHERE source <> 'src0'
         |GROUP BY doc_id""".stripMargin,

    // tx11's derived bound: tx10's oracle pins tokens + exact counts;
    // the CMS one-sided bounds are asserted in-engine
    "tx11_cms_token_counts" ->
      s"""WITH tok AS (
         |  SELECT unnest($tokensSql) AS t FROM documents)
         |SELECT t, COUNT(*) AS n_exact, TRUE AS est_ge_exact,
         |  TRUE AS est_le_eps_bound
         |FROM tok GROUP BY t
         |HAVING COUNT(*) >= (SELECT COUNT(*) FROM tok) * 0.01""".stripMargin,

    "tx15_pii_redact" ->
      """WITH r AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or +1-555-'
        |    || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '[+]1-555-[0-9]{4}'))
        |    AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(raw,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}', '<EMAIL>', 'g'),
        |    '[+]1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM r""".stripMargin,

    "tx16_corpus_split" ->
      """WITH b AS (SELECT lang, n_chars,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |    % 100 AS bk
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM b GROUP BY 1, 2""".stripMargin,

    "tx18_sequence_pack" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($tokensSql) AS BIGINT) AS n_tok FROM documents),
         |c AS (SELECT doc_id, n_tok,
         |    CAST(SUM(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM t WHERE n_tok > 0)
         |SELECT doc_id, w AS window_id,
         |  least(cum, (w + 1) * 512) - greatest(cum - n_tok, w * 512)
         |    AS win_tokens
         |FROM c, unnest(generate_series((cum - n_tok) // 512,
         |  (cum - 1) // 512)) AS u(w)""".stripMargin,

    "tx19_mixture_sample" ->
      """WITH s AS (SELECT source, COUNT(*) AS n,
        |    CAST(('0x' || substr(md5(source), 1, 8))::UBIGINT % 3 + 1
        |      AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM s),
        |m AS (SELECT MIN((n * tw) // w) AS m FROM s, t),
        |th AS (SELECT source, (((m * w) // tw) * 1048576) // n AS thresh
        |  FROM s, t, m)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN th ON d.source = th.source
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |  % 1048576 < th.thresh""".stripMargin,

    // tx20: the oracle's global window IS the formulation the engine
    // refuses at scale — fine for DuckDB on sf0.01, and it pins the
    // distributed rank's exactness bit-for-bit.
    "tx20_corpus_shuffle" ->
      """SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |  CAST(ROW_NUMBER() OVER (
        |    ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS pos
        |FROM documents""".stripMargin,

    // tx22: the oracle takes the (doc, bigram) grouping route; the engine
    // takes the shuffle-free sorted-run route — modal counts must agree.
    "tx22_repetition_stats" ->
      s"""WITH l AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
         |  FROM l WHERE len(toks) >= 2),
         |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2),
         |bm AS (SELECT doc_id, MAX(c) AS mx FROM bc GROUP BY 1)
         |SELECT l.doc_id, CAST(len(toks) AS INT) AS n_tok,
         |  round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
         |    / len(toks), 6) AS dup_word_frac,
         |  round(CAST(bm.mx AS DOUBLE) / (len(toks) - 1), 6)
         |    AS top_bigram_frac
         |FROM l JOIN bm ON l.doc_id = bm.doc_id
         |WHERE len(toks) >= 2""".stripMargin,

    // the term list interpolates from BmTerms — single source of truth
    // with the Spark side; per-term scores sum as floor(w*1e9 + 0.5)
    // BIGINTs (order-independent exact sum, mirroring the engine)
    "tx23_bm25_topk" ->
      s"""WITH dl AS (SELECT doc_id, CAST(len($tokensSql) AS DOUBLE) AS dl,
         |    $tokensSql AS toks FROM documents),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
         |    SUM(dl) / COUNT(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM dl)
         |  WHERE t IN (${BmTerms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2, 3),
         |df AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
         |  GROUP BY 1)
         |SELECT doc_id, round(SUM(CAST(floor(
         |    ln((nd - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
         |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |    * 1e9 + 0.5) AS BIGINT)) / 1e9, 6) AS bm25
         |FROM tf JOIN df USING (t), st GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id ASC LIMIT 10""".stripMargin,

    // tx24: trigram unit mirrors pairCtes' shingle spelling (distinct
    // word trigrams per doc — WordShingles emits the distinct set)
    "tx24_vocab_growth" ->
      s"""WITH m AS (SELECT MAX(doc_id) AS maxd FROM documents),
         |t1 AS (SELECT doc_id, unnest($tokensSql) AS u FROM documents),
         |f1 AS (SELECT u, MIN(doc_id) AS fd FROM t1 GROUP BY u),
         |c1 AS (SELECT (fd * 10) // (maxd + 1) AS decile, COUNT(*) AS n1
         |  FROM f1, m GROUP BY 1),
         |w AS (SELECT doc_id, $tokensSql AS w FROM documents),
         |t3 AS (SELECT DISTINCT doc_id, u FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u
         |  FROM w WHERE len(w) >= 3)),
         |f3 AS (SELECT u, MIN(doc_id) AS fd FROM t3 GROUP BY u),
         |c3 AS (SELECT (fd * 10) // (maxd + 1) AS decile, COUNT(*) AS n3
         |  FROM f3, m GROUP BY 1),
         |j AS (SELECT COALESCE(c1.decile, c3.decile) AS decile,
         |    COALESCE(n1, 0) AS n1, COALESCE(n3, 0) AS n3
         |  FROM c1 FULL OUTER JOIN c3 ON c1.decile = c3.decile)
         |SELECT CAST((decile + 1) * 10 AS BIGINT) AS pct,
         |  CAST(SUM(n1) OVER (ORDER BY decile) AS BIGINT) AS vocab_unigram,
         |  CAST(SUM(n3) OVER (ORDER BY decile) AS BIGINT) AS vocab_trigram
         |FROM j""".stripMargin,

    // tx25: bucket hashing mirrors tx16's md5-hex parity; the log-ratio
    // expression shape ((ct+1)/(st+B)) / ((cr+1)/(sr+B)) and the 1e9
    // scaled-floor match the Spark side operation for operation
    "tx25_dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id, source, unnest($tokensSql) AS t
         |  FROM documents),
         |bk AS (SELECT doc_id, source,
         |    CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT % 4096 AS BIGINT)
         |      AS b
         |  FROM tok),
         |c AS (SELECT b,
         |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ct,
         |    CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cr
         |  FROM bk GROUP BY b),
         |t AS (SELECT CAST(SUM(ct) AS BIGINT) AS st,
         |    CAST(SUM(cr) AS BIGINT) AS sr FROM c),
         |lr AS (SELECT b, CAST(floor(ln(
         |      (CAST(ct + 1 AS DOUBLE) / CAST(st + 4096 AS DOUBLE)) /
         |      (CAST(cr + 1 AS DOUBLE) / CAST(sr + 4096 AS DOUBLE)))
         |    * 1e9 + 0.5) AS BIGINT) AS slr
         |  FROM c, t),
         |s AS (SELECT doc_id, CAST(SUM(slr) AS BIGINT) AS ssum
         |  FROM bk JOIN lr USING (b) WHERE source <> 'src0'
         |  GROUP BY doc_id)
         |SELECT doc_id,
         |  CAST(CASE WHEN ssum >= 0 THEN (ssum + 500) // 1000
         |       ELSE -((-ssum + 500) // 1000) END AS DOUBLE) / 1e6
         |    AS dsir_logratio
         |FROM s""".stripMargin,

    // tx26: the c*ln(c) scaled-BIGINT terms and the H expression mirror
    // the Spark side operation for operation
    "tx26_token_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS t
         |  FROM documents),
         |c AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
         |    COUNT(*) AS n_types,
         |    CAST(SUM(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
         |      * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sclnc
         |  FROM c GROUP BY 1)
         |SELECT doc_id, n_tok, n_types,
         |  round(ln(CAST(n_tok AS DOUBLE)) -
         |    CAST(sclnc AS DOUBLE) / 1e9 / CAST(n_tok AS DOUBLE), 6)
         |    AS entropy
         |FROM g""".stripMargin,

    // tx27: DuckDB bin(BIGINT) is minimal-width like Spark's bin(), so
    // length(bin(df)) - 1 = floor(log2(df)) exactly in both engines; the
    // trigram CTE mirrors tx24's (same tokenization, distinct per doc
    // like the word_shingles kernel)
    "tx27_docfreq_spectrum" ->
      s"""WITH t1 AS (SELECT DISTINCT doc_id, u FROM (
         |    SELECT doc_id, unnest($tokensSql) AS u FROM documents)),
         |f1 AS (SELECT u, COUNT(*) AS df FROM t1 GROUP BY u),
         |c1 AS (SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_df,
         |    COUNT(*) AS n1 FROM f1 GROUP BY 1),
         |w AS (SELECT doc_id, $tokensSql AS w FROM documents),
         |t3 AS (SELECT DISTINCT doc_id, u FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u
         |  FROM w WHERE len(w) >= 3)),
         |f3 AS (SELECT u, COUNT(*) AS df FROM t3 GROUP BY u),
         |c3 AS (SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_df,
         |    COUNT(*) AS n3 FROM f3 GROUP BY 1)
         |SELECT log2_df, coalesce(n1, 0) AS n_unigrams,
         |  coalesce(n3, 0) AS n_shingles
         |FROM c1 FULL OUTER JOIN c3 USING (log2_df)""".stripMargin
  )
}
