package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Tables

/** pp01 — the end-to-end corpus-preparation CAPSTONE (VERDICT r11 #2).
  *
  * Every stage of a training-data pipeline exists in this engine as a
  * separately-oracled query; this job COMPOSES them into one
  * materialized run over one corpus read, the way a real data team ships
  * a training set (the reference's own 3-stage dataflow —
  * reports/Streaming.pdf p.1, source -> op1 -> op2 — is the tiny
  * ancestor of exactly this shape):
  *
  *   1 quality        tx02's keep predicate (>= 40 tokens, TTR >= 0.25)
  *                    [TextAnalysis.qualityKept]
  *   2 dedup          dd08: >= 0.8 shingle-Jaccard clusters on the
  *                    SURVIVING corpus, keep the min-id representative
  *                    [Dedup.jaccardPairsOf, clusterMembersFromPairs,
  *                    withoutDuplicates]
  *   3 span_dedup     dd19: cut every >= 15-token run shared with an
  *                    earlier doc; text is REWRITTEN (cleaned)
  *                    [Dedup.seedGrams, spanCut, spanCleaned]
  *   4 decontaminate  tx13 vs the src0 benchmark (benchmark shingles
  *                    come from the ORIGINAL corpus — the eval suite is
  *                    external and does not get quality-filtered);
  *                    benchmark-source docs leave the corpus here too
  *                    [TextAnalysis.contamination]
  *   5 mixture        tx19's deterministic source-weighted sampling,
  *                    weights computed on the staged corpus
  *                    [TextAnalysis.mixtureSample]
  *   6 split_train    tx16's hash split, train (90%) kept
  *                    [graft.core.Fingerprints.bucket]
  *   7 shuffle        tx20's seeded global permutation (md5("42:"+id))
  *                    [TextAnalysis.shuffleOrder]
  *   8 bpe_segment    tx29/tx30: a 10-merge BPE vocabulary trained ON
  *                    THE STAGED CORPUS, applied per doc -> n_bpe
  *                    [Bpe.trainOnDocs, segmented, tokenCount]
  *   9 pack           tx18's C=512 windows over the exact global token
  *                    cumsum IN SHUFFLE ORDER (stages 7-9 compose)
  *                    [TextAnalysis.packWindows]
  *
  * The bracketed kernel of each stage is the function its standalone
  * query calls, so a fix lands in both; this file adds only each
  * stage's persists, column choices and lineage.
  *
  * Output = the lineage table: one row per stage with rows_in/rows_out
  * and a 60-bit ORDER-INDEPENDENT fingerprint of the stage's output
  * relation (bit_xor of md5-prefix integers over canonical row strings
  * — the only aggregate both engines reproduce bit-for-bit without
  * imposing a global order on a distributed relation). The DuckDB
  * oracle replays ALL NINE stages as one CTE chain (the recursive
  * dedup closure, the span intervals, the staged-vocabulary BPE train
  * included) and must match every count and every fingerprint — so a
  * single document diverging anywhere in the composition fails the
  * gate.
  *
  * Scale shape (the 100 TB question): the corpus is read ONCE into a
  * persisted base relation; every stage chains from the previous
  * stage's persisted output (the job never re-reads parquet — asserted
  * by the spec on the final stage's plan). The kernels are the audited
  * ones the standalone queries run: bounded inverted-index pair
  * generation, driver union-find only under the 1M-edge guard, span df
  * via one shuffle, broadcast-able mixture/threshold relations
  * (|sources| rows), globalRank/globalCumsum instead of no-partition
  * windows, and a vocab-bounded BPE train. Nothing corpus-sized ever
  * sits on the driver: the lineage rows are 9 scalars per stage.
  */
object Pipeline {

  import TextAnalysis.PackC

  /** Stage 3 — dd19's span cut, emitting the CLEANED text (the
    * standalone dd19 emits its md5; downstream stages need the words). */
  private def spanDedup(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      split(col("text"), " ").as("w"))
    // persisted + mat() inside the stage's CacheScope: grams feeds the
    // seed census and the join probe side concurrently (dd19's shape —
    // see Tables.mat); one generation pass instead of two
    val grams = Tables.mat(graft.core.CacheScope.track(
      Dedup.seedGrams(base).persist(StorageLevel.MEMORY_AND_DISK)))
    Dedup.spanCut(base, grams)
      .select(col("doc_id"), Dedup.spanCleaned.as("text"),
        col("lang"), col("source"))
  }

  /** Stage 4 — tx13 vs the ORIGINAL corpus's src0 shingles; the
    * benchmark source itself leaves the training corpus here. */
  private def decontaminate(staged: DataFrame,
      original: DataFrame): DataFrame = {
    val g = org.apache.spark.sql.graftx.WordShinglesFunctions
    val bench = original.filter(col("source") === "src0")
      .select(explode(g.word_shingles(col("text"), 3)).as("sg"))
      .distinct()
    val corp = staged.filter(col("source") =!= "src0")
    val sh = graft.core.CacheScope.track(
      corp.select(col("doc_id"),
          explode(g.word_shingles(col("text"), 3)).as("sg"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val bad = TextAnalysis.contamination(sh, bench)
      .filter(col("contaminated")).select(col("doc_id"))
    // shingle-less docs (fully span-cut) never reach `sh` and are KEPT
    // (contamination 0) — the oracle's left-join mirrors this
    corp.join(bad, Seq("doc_id"), "left_anti")
  }

  /** Stage 8 — the staged-vocabulary BPE applied per doc. */
  private def segment(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    docs.withColumn("__t", expr(TextAnalysis.tokensExpr))
      .withColumn("__em", Bpe.segmented("__t", merges))
      .withColumn("n_bpe", Bpe.tokenCount("__em"))
      .drop("__t", "__em")

  /** Order-independent 60-bit relation fingerprint: bit_xor over rows of
    * the md5-prefix integer of the canonical ':'-joined row string.
    * 15 hex chars keep the value inside a signed 64-bit lane in BOTH
    * engines; xor is the one exact aggregate that needs no row order.
    *
    * Returned WITH the row count from ONE aggregate action (r15, guide
    * §1.2 "remove passes"): the lineage needs both per stage, and the
    * old count()-then-fingerprint pair cost a second full pass over the
    * just-persisted stage output — 9 extra cache scans per run (~0.15-
    * 0.25 s each at sf0.1, and a full cached-corpus re-read per stage at
    * scale). The aggregate materializes the persist exactly like count()
    * did (caching is plan-level: the scan materializes whole rows, the
    * projection runs above the cache), and both values are identical to
    * the two-action form by construction (same rows, same expressions). */
  private def countAndFp(df: DataFrame, parts: Seq[Column]): (Long, Long) = {
    val r = df.select(conv(substring(md5(concat_ws(":", parts: _*)), 1, 15),
        16, 10).cast("long").as("fp"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(fp)"), lit(0L)))
      .head
    (r.getLong(0), r.getLong(1))
  }

  /** Runs the nine stages, materializing each; returns the lineage rows
    * and the staged frames (for the read-once plan audit in the spec —
    * every stage's executed plan must read its input from the persisted
    * parent, never re-scan parquet). */
  private[graft] def run(s: SparkSession, d: String,
      keepFrames: Boolean = false)
      : (Seq[(Int, String, Long, Long, Long)], Seq[(String, DataFrame)]) = {
    // THE one corpus read of the whole job (read-once contract)
    val base = Tables.wide(s, d, "documents",
        "doc_id", "text", "lang", "source")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lineage = ArrayBuffer.empty[(Int, String, Long, Long, Long)]
    val frames = ArrayBuffer.empty[(String, DataFrame)]
    // the persisted PRE-cut handle per stage: unpersist must target this
    // frame, never the cut one — CacheManager keys cache entries on the
    // original persisted plan, so unpersisting the LogicalRDD-leaf cut
    // frame is a silent no-op (r13 advisor: q6's blocks leaked that way)
    val persisted = ArrayBuffer.empty[(String, DataFrame)]
    var prevN = base.count()
    // Stage-boundary PLAN CUT + persist LIFECYCLE (r13, VERDICT r12
    // "what's wrong" #1). Two defects shared one root:
    //  * PLAN NESTING — building stage N+1 on stage N's DataFrame embeds
    //    N's whole build plan inside N+1's; every multi-consumer stage
    //    (dedup's pair self-join, decontaminate probing base AND its
    //    input, the rank kernel reading its ranged relation twice)
    //    MULTIPLIES the embedded subtrees. Nine stages in, one count()
    //    planned a ~1.1M-line tree (139k rendered InMemoryTableScans) and
    //    every action paid ~15 s of DRIVER-side planning on 2k rows —
    //    data-independent, hence the measured sf0.1-slower-than-sf1
    //    inversion and the bench's [108.8, 350.1] passes. PlanCut.cut
    //    severs each materialized stage to a one-leaf LogicalRDD over its
    //    cached-scan RDD, so every downstream plan is one stage deep.
    //  * PERSIST LEAK — all nine frames plus base stayed MEMORY_AND_DISK
    //    until the bench's post-query clearCache. Each parent now
    //    unpersists as soon as its child's count() lands; q6 (consumed by
    //    both stage 7 and the BPE train) waits for the merge computation,
    //    base survives until stage 4 (decontaminate probes it).
    // keepFrames=true (the spec's audit) retains every frame's blocks.
    var livePrev: DataFrame = null
    // df is BY-NAME: the stage build runs inside a CacheScope, so every
    // scratch persist a kernel makes (globalRank's ranged relation, the
    // dedup shingle index, decontaminate's shingle explode, CC labels)
    // is released the moment this stage's output materializes — without
    // the scope they lived to the end of the run (r14; the q6 leak's
    // unflagged siblings). The drain is safe under keepFrames too: the
    // audit's fresh-action probes execute the stage's own cached-scan
    // RDD, never the scratch it was built from.
    def stage(ord: Int, name: String, df: => DataFrame,
        fpParts: Seq[Column]): DataFrame = graft.core.CacheScope.scoped {
      // Occupancy-gated stage-cache width (r16, Tables.gatedParts): the
      // bound is the PARENT stage's materialized count (prevN, driver-
      // known). Rows only shrink through stages 1-8; stage 9 (pack)
      // explodes window_id (one row per window a doc spans), so there
      // prevN can be below the stage's output and the gate may give the
      // last persisted stage too few partitions at small inputs (perf
      // only, results are unaffected). Each persisted
      // stage output stops being a shuffle.partitions-wide cache whose
      // every later pass (the fused count+fp, the child kernel's map
      // side) schedules CPUS tasks over KB-scale partitions. coalesce,
      // not repartition: no exchange — the kernel's last stage just
      // lands in n tasks. Gate off (>= 1k rows/core) leaves the plan
      // byte-identical.
      val gated = graft.core.Tables.gatedParts(s, prevN) match {
        case Some(n) => df.coalesce(n)
        case None    => df
      }
      val p = gated.persist(StorageLevel.MEMORY_AND_DISK)
      // one action: materializes the persist AND returns (count, fp) —
      // see countAndFp (the old count-then-fingerprint pair re-read the
      // fresh cache once per stage for nothing)
      val (n, fp) = countAndFp(p, fpParts)
      val cut = org.apache.spark.sql.graftx.PlanCut.cut(p)
      lineage += ((ord, name, prevN, n, fp))
      frames += ((name, cut))
      persisted += ((name, p))
      prevN = n
      // the child is materialized: its parent's blocks are now dead
      // (q6 = ord 6 is held past stage 7 for the BPE train; released
      // explicitly below)
      if (!keepFrames && livePrev != null && ord != 7)
        livePrev.unpersist(blocking = false)
      livePrev = p
      cut
    }
    val docFp = Seq(col("doc_id"), col("text"))
    // base is materialized (count above) — sever it too, so stage 1 and
    // decontaminate's probe side plan over a one-leaf cached scan
    val baseCut = org.apache.spark.sql.graftx.PlanCut.cut(base)
    val q1 = stage(1, "quality", TextAnalysis.qualityKept(baseCut), docFp)
    val q2 = stage(2, "dedup", Dedup.withoutDuplicates(q1,
      Dedup.clusterMembersFromPairs(Dedup.jaccardPairsOf(q1))), docFp)
    val q3 = stage(3, "span_dedup", spanDedup(q2), docFp)
    val q4 = stage(4, "decontaminate", decontaminate(q3, baseCut), docFp)
    if (!keepFrames) base.unpersist(blocking = false)
    // the stage-5 threshold census is |sources|-bounded: one collect,
    // exact driver arithmetic ([[TextAnalysis.mixtureThresholds]])
    val q5 = stage(5, "mixture", TextAnalysis.mixtureSample(q4), docFp)
    val q6 = stage(6, "split_train", q5.filter(
      graft.core.Fingerprints.bucket(col("doc_id"), 100L) < 90), docFp)
    // prevN, the input stage's driver-known count, bounds the occupancy
    // gate of the rank and cumsum kernels' ranged persists (r16)
    val q7 = stage(7, "shuffle", TextAnalysis.shuffleOrder(q6, prevN),
      Seq(col("doc_id"), col("pos")))
    val merges = Bpe.trainOnDocs(q6, Bpe.Merges, rowsHint = prevN)
      .map(m => (m._1, m._2))
    // release the PERSISTED stage-6 frame (the cut q6 is a LogicalRDD
    // leaf CacheManager cannot match — unpersisting it did nothing)
    if (!keepFrames)
      persisted.find(_._1 == "split_train").foreach(
        _._2.unpersist(blocking = false))
    val q8 = stage(8, "bpe_segment", segment(q7, merges),
      Seq(col("doc_id"), col("n_bpe")))
    stage(9, "pack", TextAnalysis.packWindows(
        q8.select(col("doc_id"), col("pos"), col("n_bpe")),
        Seq(col("pos")), "n_bpe", prevN),
      Seq(col("doc_id"), col("window_id"), col("win_tokens")))
    // every lineage row (counts + fingerprints) is already a driver-side
    // value; the last frame's blocks are dead weight too
    if (!keepFrames) livePrev.unpersist(blocking = false)
    (lineage.toSeq, frames.toSeq)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pp01_corpus_prep" -> ((s, d) => {
      import s.implicits._
      run(s, d)._1.toDF("ord", "stage", "rows_in", "rows_out", "out_fp")
    })
  )

  // ------------------------------------------------------------- oracle

  private def fpSql(rel: String, str: String): String =
    s"""(SELECT coalesce(bit_xor(CAST(('0x' ||
       |  substr(md5($str), 1, 15))::UBIGINT AS BIGINT)), 0)
       |  FROM $rel)""".stripMargin

  private val tokSql = TextAnalysis.tokensSql

  /** The whole nine-stage pipeline replayed as one DuckDB CTE chain —
    * stage CTEs reuse the per-stage oracles' proven idioms verbatim
    * (pair CTEs + recursive closure from dd08, span intervals from
    * dd19, shingle contamination from tx13, thresholds from tx19/tx16,
    * the global-window rank from tx20, the staged BPE train from
    * tx29/tx30, windows from tx18). */
  private lazy val pp01Oracle: String = {
    val encDoc = """array_to_string(list_transform(toks,
      | w -> regexp_replace(w, '(.)', '|\1|', 'g')), ' ')""".stripMargin
    val L = Dedup.SpanSeedLen
    s"""WITH RECURSIVE
       |pbase AS (SELECT doc_id, text, lang, source FROM documents),
       |q1 AS MATERIALIZED (SELECT * FROM pbase
       |  WHERE len($tokSql) >= 40
       |    AND CAST(len(list_distinct($tokSql)) AS DOUBLE)
       |        / len($tokSql) >= 0.25),
       |d2t AS (SELECT doc_id, $tokSql AS w FROM q1),
       |d2sh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |  FROM d2t WHERE len(w) >= 3)),
       |d2sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM d2sh GROUP BY doc_id),
       |d2ok AS (SELECT s FROM d2sh GROUP BY s HAVING COUNT(*) <= 1000),
       |d2shp AS MATERIALIZED (SELECT d2sh.doc_id, d2sh.s FROM d2sh
       |  JOIN d2ok ON d2sh.s = d2ok.s),
       |d2p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
       |  FROM d2shp a JOIN d2shp b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |d2jp AS MATERIALIZED (SELECT d1, d2 FROM d2p
       |  JOIN d2sz s1 ON d1 = s1.doc_id JOIN d2sz s2 ON d2 = s2.doc_id
       |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8),
       |d2e AS MATERIALIZED (SELECT d1, d2 FROM d2jp UNION ALL SELECT d2, d1 FROM d2jp),
       |d2n AS (SELECT DISTINCT d1 AS node FROM d2e),
       |reach(node, r) AS (
       |  SELECT node, node FROM d2n
       |  UNION
       |  SELECT re.node, e.d2 FROM reach re JOIN d2e e ON re.r = e.d1),
       |d2m AS MATERIALIZED (SELECT node, MIN(r) AS rep FROM reach GROUP BY node),
       |q2 AS MATERIALIZED (SELECT * FROM q1
       |  WHERE doc_id NOT IN (SELECT node FROM d2m WHERE node <> rep)),
       |spw AS MATERIALIZED (SELECT doc_id, lang, source, string_split(text, ' ') AS w
       |  FROM q2),
       |spg AS (SELECT doc_id, unnest(list_transform(range(len(w) - ${L - 1}),
       |    i -> {'p': i, 'g': array_to_string(w[(i+1):(i+$L)], ' ')})) AS pg
       |  FROM spw WHERE len(w) >= $L),
       |spgp AS MATERIALIZED (SELECT doc_id, pg.p AS p, pg.g AS gram FROM spg),
       |spst AS MATERIALIZED (SELECT gram, MIN(doc_id) AS md,
       |    COUNT(DISTINCT doc_id) AS nd
       |  FROM spgp GROUP BY gram),
       |spnc AS MATERIALIZED (SELECT spgp.doc_id, spgp.p FROM spgp JOIN spst USING (gram)
       |  WHERE spst.nd >= 2 AND spgp.doc_id <> spst.md),
       |spl AS (SELECT doc_id, p, lag(p) OVER (
       |    PARTITION BY doc_id ORDER BY p ASC) AS pp FROM spnc),
       |spm AS (SELECT doc_id, p, SUM(CASE WHEN pp IS NULL OR p - pp > $L
       |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY p ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM spl),
       |spiv AS MATERIALIZED (SELECT doc_id, MIN(p) AS a, MAX(p) + ${L - 1} AS b
       |  FROM spm GROUP BY doc_id, grp),
       |spcut AS (SELECT doc_id,
       |    unnest(list_transform(range(b - a + 1), x -> a + x)) AS pos
       |  FROM spiv),
       |sptok AS (SELECT doc_id,
       |    unnest(list_transform(range(len(w)), i -> {'i': i, 't': w[i+1]}))
       |    AS it
       |  FROM spw),
       |sptk AS (SELECT doc_id, it.i AS i, it.t AS t FROM sptok),
       |spkeep AS MATERIALIZED (SELECT sptk.doc_id, sptk.i, sptk.t FROM sptk
       |  LEFT JOIN spcut ON sptk.doc_id = spcut.doc_id
       |    AND sptk.i = spcut.pos
       |  WHERE spcut.pos IS NULL),
       |spcl AS MATERIALIZED (SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS cleaned
       |  FROM spkeep GROUP BY doc_id),
       |q3 AS MATERIALIZED (SELECT spw.doc_id, coalesce(spcl.cleaned, '') AS text,
       |    spw.lang, spw.source
       |  FROM spw LEFT JOIN spcl ON spw.doc_id = spcl.doc_id),
       |dcb AS MATERIALIZED (SELECT DISTINCT s FROM (
       |  SELECT unnest(list_transform(range(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |  FROM (SELECT $tokSql AS w FROM pbase WHERE source = 'src0')
       |  WHERE len(w) >= 3)),
       |dcsh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |  FROM (SELECT doc_id, $tokSql AS w FROM q3 WHERE source <> 'src0')
       |  WHERE len(w) >= 3)),
       |dcc AS MATERIALIZED (SELECT dcsh.doc_id, COUNT(*) AS n_sh, COUNT(dcb.s) AS n_hit
       |  FROM dcsh LEFT JOIN dcb ON dcsh.s = dcb.s GROUP BY dcsh.doc_id),
       |q4 AS MATERIALIZED (SELECT q3.* FROM q3 LEFT JOIN dcc USING (doc_id)
       |  WHERE q3.source <> 'src0' AND (dcc.doc_id IS NULL OR
       |    round(CAST(n_hit AS DOUBLE) / n_sh, 6) < 0.5)),
       |mxs AS MATERIALIZED (SELECT source, COUNT(*) AS n,
       |    CAST(('0x' || substr(md5(source), 1, 8))::UBIGINT % 3 + 1
       |      AS BIGINT) AS w
       |  FROM q4 GROUP BY source),
       |mxt AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM mxs),
       |mxm AS MATERIALIZED (SELECT MIN((n * tw) // w) AS m FROM mxs, mxt),
       |mxth AS MATERIALIZED (SELECT source, (((m * w) // tw) * 1048576) // n AS thresh
       |  FROM mxs, mxt, mxm),
       |q5 AS MATERIALIZED (SELECT q4.* FROM q4 JOIN mxth ON q4.source = mxth.source
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
       |    % 1048576 < mxth.thresh),
       |q6 AS MATERIALIZED (SELECT * FROM q5
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
       |    % 100 < 90),
       |shf AS MATERIALIZED (SELECT doc_id, text,
       |    CAST(ROW_NUMBER() OVER (
       |      ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
       |      AS BIGINT) AS pos
       |  FROM q6),
       |${Bpe.trainCtesOn("q6")},
       |seg AS MATERIALIZED (SELECT doc_id, pos,
       |    CAST((length(em) - length(replace(em, '|', ''))) // 2
       |      AS BIGINT) AS n_bpe
       |  FROM (SELECT doc_id, pos, ${Bpe.applySql(encDoc)} AS em
       |    FROM (SELECT doc_id, pos, $tokSql AS toks FROM shf))),
       |pkc AS MATERIALIZED (SELECT doc_id, n_bpe,
       |    CAST(SUM(n_bpe) OVER (ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM seg WHERE n_bpe > 0),
       |pk AS MATERIALIZED (SELECT doc_id, wid AS window_id,
       |    least(cum, (wid + 1) * $PackC)
       |      - greatest(cum - n_bpe, wid * $PackC) AS win_tokens
       |  FROM pkc, unnest(generate_series((cum - n_bpe) // $PackC,
       |    (cum - 1) // $PackC)) AS u(wid))
       |SELECT 1 AS ord, 'quality' AS stage,
       |  (SELECT COUNT(*) FROM pbase) AS rows_in,
       |  (SELECT COUNT(*) FROM q1) AS rows_out,
       |  ${fpSql("q1", "CAST(doc_id AS VARCHAR) || ':' || text")} AS out_fp
       |UNION ALL SELECT 2, 'dedup', (SELECT COUNT(*) FROM q1),
       |  (SELECT COUNT(*) FROM q2),
       |  ${fpSql("q2", "CAST(doc_id AS VARCHAR) || ':' || text")}
       |UNION ALL SELECT 3, 'span_dedup', (SELECT COUNT(*) FROM q2),
       |  (SELECT COUNT(*) FROM q3),
       |  ${fpSql("q3", "CAST(doc_id AS VARCHAR) || ':' || text")}
       |UNION ALL SELECT 4, 'decontaminate', (SELECT COUNT(*) FROM q3),
       |  (SELECT COUNT(*) FROM q4),
       |  ${fpSql("q4", "CAST(doc_id AS VARCHAR) || ':' || text")}
       |UNION ALL SELECT 5, 'mixture', (SELECT COUNT(*) FROM q4),
       |  (SELECT COUNT(*) FROM q5),
       |  ${fpSql("q5", "CAST(doc_id AS VARCHAR) || ':' || text")}
       |UNION ALL SELECT 6, 'split_train', (SELECT COUNT(*) FROM q5),
       |  (SELECT COUNT(*) FROM q6),
       |  ${fpSql("q6", "CAST(doc_id AS VARCHAR) || ':' || text")}
       |UNION ALL SELECT 7, 'shuffle', (SELECT COUNT(*) FROM q6),
       |  (SELECT COUNT(*) FROM shf),
       |  ${fpSql("shf", "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")}
       |UNION ALL SELECT 8, 'bpe_segment', (SELECT COUNT(*) FROM shf),
       |  (SELECT COUNT(*) FROM seg),
       |  ${fpSql("seg", "CAST(doc_id AS VARCHAR) || ':' || CAST(n_bpe AS VARCHAR)")}
       |UNION ALL SELECT 9, 'pack', (SELECT COUNT(*) FROM seg),
       |  (SELECT COUNT(*) FROM pk),
       |  ${fpSql("pk", "CAST(doc_id AS VARCHAR) || ':' || CAST(window_id AS VARCHAR) || ':' || CAST(win_tokens AS VARCHAR)")}""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "pp01_corpus_prep" -> pp01Oracle
  )
}
