package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import graft.core.{ExactMeans, Tables}

/** Distributed learning over the corpus — the driver-coordinated
  * iterative-training operator class (aggregate statistics → driver
  * update → broadcast-as-literals next pass) that k-means (Clustering)
  * introduced, extended to second-moment methods (PCA) and
  * gradient-descent classifier training.
  *
  * The reference has no learning operators (its DAG is fixed stateless
  * transforms + a counting reducer, reference src/RainStorm/leader.py);
  * these are builder-brief surface for a training-data pipeline:
  * PCA is the standard preconditioner for embedding search/SemDeDup
  * (variance-ranked rotation; whitening), and a cheap logistic quality
  * classifier trained ON the cluster over extracted features is the
  * CCNet/fastText-style filter step every corpus pipeline runs before
  * expensive dedup.
  *
  * Everything is INTEGER fixed-point (micro-units, 1e-6) after the one
  * float→micro conversion at the scan, like gx01's PageRank — so the
  * DuckDB oracles replay the identical arithmetic bit-for-bit: no
  * cross-engine libm (exp/atan) and no order-dependent double sums
  * anywhere. Division is TRUNCATION toward zero in both engines
  * (Spark `div` = Java long division; DuckDB `//` measured -7//3 = -2;
  * scala BigInt `/` = BigInteger.divide) — pinned by LearnSpec because,
  * unlike the all-positive gx family, these kernels divide NEGATIVE
  * quantities (centered moments, signed gradients).
  *
  * Scale shape (the 100 TB question):
  *  - PCA never materializes a pairwise relation: ONE corpus scan
  *    accumulates the 2145 raw moments (count, 64 sums, 64·65/2
  *    products) imperatively per partition — long arithmetic inside a
  *    partition (overflow headroom: |x_micro| ≤ 4e6 AND rows/partition
  *    < 5e5 ⇒ |partial| ≤ 8e18 < 2^63, BOTH requires enforced in the
  *    hot loop so out-of-contract inputs fail loudly instead of
  *    wrapping; a 16 MB split of 64-dim float rows holds ~61k rows,
  *    8× headroom) — then exactly (partitions × 2145) rows shuffle into a
  *    DECIMAL(38,0) final sum, which is the overflow-safe cross-
  *    partition accumulator (a raw long sum is NOT safe at 4e11 rows).
  *    This is the treeAggregate pattern as a relational two-phase agg;
  *    mapPartitions is used deliberately: 2145 independent agg
  *    EXPRESSIONS would blow plan construction (the Clustering k~100
  *    lesson) and a posexplode would shuffle N·2145 rows.
  *  - the eigensolve runs on the driver over the 64×64 integer moment
  *    matrix (BigInt, exact) — d² scalars, independent of corpus size.
  *    Power iteration normalizes by the L∞ norm (max |component|), not
  *    L2, so normalization stays in integer division (no isqrt).
  *  - the per-vector projection is a pure literal-vector projection
  *    (64 codegen'd multiply-adds; no join, no shuffle).
  *  - logistic-regression training holds the persisted feature relation
  *    and reshuffles NOTHING per step: each of the [[GdIters]] fixed iterations is
  *    one aggregate (6 decimal sums → 6 driver longs), the parameter-
  *    server pattern with the weight vector as literals, like
  *    Clustering's centroid loop.
  */
object Learn {

  /** Fixed-point scale: 1 unit = 1e-6. */
  private val Scale = 1000000L

  /** Embedding dimensionality (TESTDATA.md fixture contract; asserted
    * against the actual array at the scan). */
  private val Dim = 64

  /** Moment-vector layout: [0]=count, [1..Dim]=sums, then the upper
    * triangle of the product matrix in (j ascending, k from j) order. */
  private val NMoments = 1 + Dim + Dim * (Dim + 1) / 2

  /** Power-iteration count — fixed and unrolled in BOTH engines (the
    * gx01 protocol: convergence tolerance never enters the compare).
    * 60, not the pair-family's 5-12: the fixture embeddings have a
    * near-degenerate spectrum (top two eigvals within 7 %), so the
    * per-step contraction is ~0.93 — 12 steps left the iterate at 0.53
    * correlation with the true PC (measured), 60 reach 0.9994 and an
    * eigenvalue within 0.01 %. Each step costs one d²-row matvec in
    * either engine — iteration count is free at any corpus size. */
  private val PowerIters = 60

  /** Gradient-descent step count for tx28, same fixed-unroll protocol,
    * with an integer learning rate (w ← w − lr·G/n). (24, lr=16) was
    * swept on the fixture: it reaches 94 % accuracy vs the 69 %
    * majority baseline; 8 steps at lr=1 were still at baseline. */
  private val GdIters = 24
  private val Lr = 16L

  /** em03 k-means shape: K clusters, fixed unrolled Lloyd steps (the
    * gx01 protocol — the oracle replays the same chained iterations, so
    * convergence never enters the compare). */
  private val KmK = 8
  private val KmIters = 5

  /** Raw integer moments of the embedding table in one distributed pass:
    * count, per-dim micro sums, upper-triangle micro-product sums.
    * Exact and partitioning-independent: integer adds inside a
    * partition, DECIMAL(38,0) across partitions. */
  private def moments(s: SparkSession, d: String): Array[BigInt] = {
    import s.implicits._
    // kernel-grade per-row cost (2145 multiply-adds) — width-normalize
    // at dd03's low floor, not the default shingle-grade one
    val parts = Tables.wideMin(s, d, "embeddings", 1000L, "embedding")
      .select(col("embedding")).as[Array[Float]]
      .mapPartitions { it =>
        val acc = new Array[Long](NMoments)
        val xm = new Array[Long](Dim)
        var rows = 0L
        while (it.hasNext) {
          val e = it.next()
          require(e.length == Dim, s"embedding dim ${e.length} != $Dim")
          var j = 0
          while (j < Dim) {
            xm(j) = math.floor(e(j).toDouble * Scale + 0.5).toLong
            // the per-partition long-partial overflow analysis assumes
            // bounded components; out-of-contract magnitudes must fail
            // loudly, not wrap the partials. Jointly with the row guard
            // below: 5e5 rows x (4e6)^2 = 8e18 < 2^63.
            require(math.abs(xm(j)) <= 4L * Scale,
              s"|component| ${e(j)} exceeds the |x| <= 4.0 contract")
            j += 1
          }
          acc(0) += 1L
          j = 0
          var t = 1 + Dim
          while (j < Dim) {
            acc(1 + j) += xm(j)
            var k = j
            while (k < Dim) { acc(t) += xm(j) * xm(k); t += 1; k += 1 }
            j += 1
          }
          rows += 1L
        }
        // long-overflow guard for the in-partition partials, joint with
        // the |x| <= 4.0 magnitude guard above (see scaladoc); a 16 MB
        // split of 64-dim float rows holds ~61k rows — 8x headroom
        require(rows < 500000L,
          s"partition holds $rows rows; re-split input below 5e5 rows/task")
        acc.iterator.zipWithIndex.map { case (v, i) => (i, v) }
      }.toDF("idx", "partial")
    val got = parts.groupBy("idx")
      .agg(sum(col("partial").cast(DecimalType(38, 0))).as("m"))
      .collect()
    val out = Array.fill(NMoments)(BigInt(0))
    got.foreach(r => out(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger))
    out
  }

  /** Dominant eigenpair of the (n-scaled) covariance numerator.
    *
    * Mr(j,k) = (n·P(j,k) − S(j)·S(k)) // n — the biased-covariance
    * numerator divided by n once, exactly, so the ORACLE's 128-bit
    * HUGEINT never overflows in the matvec (raw M grows ~n², and
    * vᵀMv passes 1.7e38 near n≈4e5). Driver-side BigInt is unbounded;
    * the division is mirrored purely for the oracle's arithmetic range.
    *
    * Power iteration from v0 = (1e6,…,1e6), L∞-normalized each step:
    * v ← (Mr·v)·1e6 // max|Mr·v| — all integer, trunc division. The
    * sign is whatever the iteration converges to; both engines run the
    * identical integers so no sign convention is needed. */
  /** Number of principal components em01 emits — the top-k subspace
    * SemDeDup-style whitening consumes. Each extra component costs only
    * driver arithmetic (one more power iteration + one d²-scalar
    * deflation on the SAME moment matrix) and one more literal column
    * in the projection; the distributed moment pass is paid ONCE. */
  private[graft] val PcaK = 4

  private final case class Pca(n: BigInt, mr: Array[Array[BigInt]],
      vs: Array[Array[Long]])

  /** Power-iterate one dominant eigenvector of `m` (L∞-normalized to
    * Scale, integer-exact — see the case-class scaladoc). */
  private def powerVec(m: Array[Array[BigInt]]): Array[BigInt] = {
    var v = Array.fill(Dim)(BigInt(Scale))
    for (_ <- 1 to PowerIters) {
      val u = Array.tabulate(Dim) { jj =>
        var acc = BigInt(0)
        var kk = 0
        while (kk < Dim) { acc += m(jj)(kk) * v(kk); kk += 1 }
        acc
      }
      val maxAbs = u.map(_.abs).max
      // all-zero covariance (constant input): keep the current vector —
      // any unit direction is an eigenvector; never reached on real data
      if (maxAbs > 0) v = u.map(x => x * Scale / maxAbs)
    }
    v
  }

  /** Top-[[PcaK]] eigenpairs by power iteration + HOTELLING DEFLATION,
    * all on the driver over the one distributed moment pass: after
    * component c converges, m ← m − (λ·v·vᵀ)/(vᵀv) with λ = (vᵀmv)/(vᵀv),
    * every division trunc (BigInt /), mirrored operator-for-operator by
    * the oracle's HUGEINT `//` chain — so the slight non-orthogonality
    * trunc division introduces is IDENTICAL in both engines and the
    * compare stays bit-exact. Magnitudes: |m| ≤ ~1e15, λ·v_j·v_k ≤
    * ~1e15·1e12 = 1e27 « HUGEINT's 1.7e38. */
  private def solvePca(s: SparkSession, d: String): Option[Pca] = {
    val mo = moments(s, d)
    val n = mo(0)
    if (n == 0) return None
    val mr = Array.ofDim[BigInt](Dim, Dim)
    var t = 1 + Dim
    var j = 0
    while (j < Dim) {
      var k = j
      while (k < Dim) {
        val m = (n * mo(t) - mo(1 + j) * mo(1 + k)) / n
        mr(j)(k) = m; mr(k)(j) = m
        t += 1; k += 1
      }
      j += 1
    }
    val work = mr.map(_.clone())
    val vs = Array.ofDim[Array[Long]](PcaK)
    for (c <- 0 until PcaK) {
      val v = powerVec(work)
      vs(c) = v.map(_.toLong)
      if (c < PcaK - 1) {
        var vv = BigInt(0); var vmv = BigInt(0)
        var jj = 0
        while (jj < Dim) {
          vv += v(jj) * v(jj)
          var kk = 0
          while (kk < Dim) { vmv += work(jj)(kk) * v(jj) * v(kk); kk += 1 }
          jj += 1
        }
        if (vv > 0) {
          val lam = vmv / vv
          jj = 0
          while (jj < Dim) {
            var kk = 0
            while (kk < Dim) {
              work(jj)(kk) -= (lam * v(jj) * v(kk)) / vv
              kk += 1
            }
            jj += 1
          }
        }
      }
    }
    Some(Pca(n, mr, vs))
  }

  // ---------------------------------------------------------------- em03
  /** Micro-unit embedding rows for the k-means passes — (vec_id, x[64])
    * with the one float→micro conversion of the PCA pass. */
  private def microRows(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.wideMin(s, d, "embeddings", 1000L, "vec_id", "embedding")
      .as[(Long, Array[Float])]
      .map { case (id, e) =>
        require(e.length == Dim, s"embedding dim ${e.length} != $Dim")
        (id, e.map { x =>
          val m = math.floor(x.toDouble * Scale + 0.5).toLong
          // same bounded-magnitude contract as the moment pass: the
          // k-means partial/dist overflow headroom assumes |x| <= 4.0
          require(math.abs(m) <= 4L * Scale,
            s"|component| $x exceeds the |x| <= 4.0 contract")
          m
        })
      }
  }

  /** argmin over the K centroids with the (dist, k) tie order the
    * oracle's ROW_NUMBER replays: strictly-less keeps the lowest k. */
  private def nearest(x: Array[Long], c: Array[Array[Long]]): (Int, Long) = {
    var bk = 0; var bd = Long.MaxValue
    var k = 0
    while (k < c.length) {
      var dist = 0L; var j = 0
      while (j < Dim) {
        val df = x(j) - c(k)(j); dist += df * df; j += 1
      }
      if (dist < bd) { bd = dist; bk = k }
      k += 1
    }
    (bk, bd)
  }

  /** Integer-exact Lloyd's k-means and its census: K=8 seeds = the
    * lowest-vec_id embeddings, 5 unrolled iterations, centroid update =
    * trunc division of exact micro sums, then one census pass under the
    * converged centroids. All arithmetic replays bit-for-bit in the
    * oracle (trunc div contract pinned by LearnSpec); an empty cluster
    * deterministically keeps its previous centroid in BOTH engines
    * (COALESCE against the prior iterate), so the chain is total.
    *
    * Every pass runs over the ONE persisted micro relation, and each is
    * ONE shuffle-free job: the argmin is a typed projection and the
    * per-cluster count + 64 sums are exact [[ExactMeans]] partials merged
    * on the driver; the K×Dim centroid matrix lives driver-side, the
    * parameter-server pattern shared with tx28/em01. The census's
    * per-row scaled inertia (dist div 1e6) is divided BEFORE summation —
    * mirrored in the oracle. `nearest`'s long distances stay in range
    * under the ENFORCED magnitude contract |x|,|c| ≤ 4e6 micro.
    *
    * Returns (cluster, n_vecs, mean_sqdist_micro) for every non-empty
    * cluster; empty for an empty corpus. */
  private def kmeansCensus(s: SparkSession, d: String)
      : Seq[(Long, Long, Long)] = {
    import s.implicits._
    val rows = microRows(s, d).persist()
    try {
      val seeds = rows.orderBy(col("_1")).limit(KmK).collect()
      // k = min(KmK, n): a corpus below K seeds clusters with what it
      // has — the oracle's LIMIT takes the same prefix, so both engines
      // run the identical smaller k instead of diverging by crash
      var c = seeds.map(_._2.clone())
      for (_ <- 1 to KmIters) {
        val cb = c
        val sums = ExactMeans(rows.map { case (_, x) =>
          (nearest(x, cb)._1, x) }.toDF("k", "x"), 0)
        c = Array.tabulate(cb.length) { k =>
          sums.get(k) match {
            case Some(m) => Array.tabulate(Dim)(j => (m.sum(j) / m.count(j)).toLong)
            case None => cb(k) // empty: keep prior centroid
          }
        }
      }
      val cf = c
      ExactMeans(rows.map { case (_, x) =>
          val (k, dist) = nearest(x, cf)
          (k, Array(dist / Scale)) // per-row scale div, oracle-mirrored
        }.toDF("k", "sq"), 0)
        .toSeq.sortBy(_._1).map { case (k, m) =>
          (k.toLong, m.count(0), (m.sum(0) / m.count(0)).toLong) }
    } finally rows.unpersist()
  }

  // ---------------------------------------------------------------- tx28
  /** Feature extraction shared by the Spark query and (as SQL) the
    * oracle: 6 micro-unit integer features per document (bias, capped
    * length, type-token ratio, stopword ratio, char-length signal, avg
    * token length). Docs with zero tokens are excluded (same filter
    * both engines).
    *
    * The label distills tx02's hard keep/drop heuristic (n_tok ≥ 40 AND
    * ttr ≥ 1/4, integer form) into a smooth score — the standard
    * "train a cheap classifier on rule labels" pipeline step. An
    * is-English label was tried first and is UNLEARNABLE here: the
    * synthetic corpus gives every language the same stopword/ttr
    * surface statistics (measured: stop-ratio en 0.062 vs non-en 0.069
    * — barely separable, and inverted). */
  private val FeatDim = 6

  /** The tx28 feature projection over ANY relation carrying (text,
    * n_chars) — stateless, so the same columns score a STREAM
    * (DocPipeline.scoreQuality) with batch-trained weights; zero-token
    * docs are dropped (same filter everywhere). Appends x0..x5 and y,
    * keeps every input column. `charsCol` names the character-count
    * column (default the stored `n_chars`); a streaming caller passes
    * its own derived column so it never has to shadow `n_chars`. */
  private[graft] def withFeatures(df: DataFrame,
      charsCol: String = "n_chars"): DataFrame =
    df
      .withColumn("toks", expr(TextAnalysis.tokensExpr))
      .withColumn("n_tok", expr("size(toks)"))
      .filter(col("n_tok") > 0)
      .withColumns(Map(
        "x0" -> lit(Scale),
        // ${Scale}L, never a bare int literal: size() is INT and
        // INT * 1000000 silently wraps past ~2e3 tokens (ANSI off)
        "x1" -> expr(s"(least(n_tok, 512L) * ${Scale}L) div 512L"),
        "x2" -> expr(s"(size(array_distinct(toks)) * ${Scale}L) div n_tok"),
        "x3" -> expr("size(filter(toks, t -> t IN ('the', 'a')))" +
          s" * ${Scale}L div n_tok"),
        "x4" -> expr(s"(least($charsCol, 4000L) * ${Scale}L) div 4000L"),
        // avg token length (chars, trunc), capped at 16 — tokens are
        // ASCII by the tokenizer regex, so char counts agree x-engine
        "x5" -> expr("(least(aggregate(transform(toks, t -> length(t)), 0L," +
          s" (a, x) -> a + x) div n_tok, 16L) * ${Scale}L) div 16L"),
        "y" -> expr("CAST(CASE WHEN n_tok >= 40 AND" +
          " size(array_distinct(toks)) * 4 >= n_tok" +
          " THEN 1 ELSE 0 END AS BIGINT)")))
      .drop("toks", "n_tok")

  private def featuresDf(s: SparkSession, d: String): DataFrame =
    withFeatures(
      Tables.wide(s, d, "documents", "doc_id", "text", "lang", "n_chars"))
      .select(col("doc_id"), col("x0"), col("x1"), col("x2"), col("x3"),
        col("x4"), col("x5"), col("y"))

  private val featuresSql: String =
    s"""SELECT doc_id,
       |  CAST($Scale AS BIGINT) AS x0,
       |  (least(len(toks), 512) * $Scale) // 512 AS x1,
       |  (len(list_distinct(toks)) * $Scale) // len(toks) AS x2,
       |  len(list_filter(toks, t -> t IN ('the', 'a')))
       |    * $Scale // len(toks) AS x3,
       |  (least(n_chars, 4000) * $Scale) // 4000 AS x4,
       |  (least(list_sum(list_transform(toks, t -> length(t)))
       |    // len(toks), 16) * $Scale) // 16 AS x5,
       |  CAST(CASE WHEN len(toks) >= 40 AND
       |    len(list_distinct(toks)) * 4 >= len(toks)
       |    THEN 1 ELSE 0 END AS BIGINT) AS y
       |FROM (SELECT doc_id, lang, n_chars, ${TextAnalysis.tokensSql} AS toks
       |      FROM documents)
       |WHERE len(toks) > 0""".stripMargin

  /** z → σ in micro-units with the RATIONAL sigmoid
    * σ(z) = 1/2 + z / (2·(1 + |z|)) — one division, no exp, so both
    * engines compute the identical integer (libm exp is not
    * correctly-rounded and differs across runtimes; this nonlinearity
    * is the standard "fast sigmoid" and keeps training exact). */
  private def sigmaMicroExpr(z: String): String =
    s"500000L + (($z) * ${Scale}L div (${Scale}L + abs($z))) div 2L"
  private def sigmaMicroSql(z: String): String =
    s"500000 + ((($z) * $Scale) // ($Scale + abs($z))) // 2"

  private def zExpr(w: Array[Long]): String =
    (0 until FeatDim).map(j => s"x$j * ${w(j)}L")
      .mkString("(", " + ", s") div ${Scale}L")

  /** The trained score as a stateless column over x0..x5 — the piece a
    * STREAM applies (train offline, score online; weights as literals,
    * the parameter-server read path). */
  private[graft] def scoreColumn(w: Array[Long]): Column =
    expr(sigmaMicroExpr(zExpr(w)))

  /** tx28's training loop, exposed so other surfaces (the streaming
    * ingest) reuse the ONE trainer: 24 full-batch integer gradient
    * steps over the persisted feature relation — each step is one
    * 6-sum aggregate (exact decimal) and a driver weight update. */
  private[graft] def trainWeights(s: SparkSession, d: String): Array[Long] = {
    val feats = featuresDf(s, d).persist(StorageLevel.MEMORY_AND_DISK)
    val w = trainOn(feats)
    feats.unpersist()
    w
  }

  /** The gradient loop over an already-persisted feature relation —
    * shared by trainWeights (streaming callers, who drop the features)
    * and tx28 (which scores over the same persist, no second corpus
    * pass). */
  private def trainOn(feats: DataFrame): Array[Long] = {
    val n = feats.count()
    val w = Array.fill(FeatDim)(0L)
    if (n > 0) {
      for (_ <- 1 to GdIters) {
        // err = σ(z) − y·1e6; per-row gradient g_j = err·x_j div 1e6.
        // err is factored into ONE projection below the aggregate (r15):
        // inlining it into all 6 gradient sums made the analyzer/codegen
        // chew 6 copies of the sigmoid tree per step x 24 steps — same
        // integers, ~6x smaller expression tree per iteration.
        val errExpr =
          s"(${sigmaMicroExpr(zExpr(w))}) - y * ${Scale}L"
        val gradCols = (0 until FeatDim).map(j =>
          sum(expr(s"(__err * x$j) div ${Scale}L")
            .cast(DecimalType(38, 0))).as(s"g$j"))
        val g = feats.withColumn("__err", expr(errExpr))
          .agg(gradCols.head, gradCols.tail: _*).collect()(0)
        var j = 0
        while (j < FeatDim) {
          val gj = BigInt(g.getDecimal(j).toBigInteger)
          // w ← w − lr·G/n (trunc), lr and order mirrored in the oracle
          w(j) = (BigInt(w(j)) - gj * Lr / n).toLong
          j += 1
        }
      }
    }
    w
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Top-PcaK principal components of the embedding table, projected:
    // (vec_id, pc1_micro..pc4_micro) — the whitening subspace, not just
    // the dominant direction. Moments in ONE exact distributed pass;
    // power iteration + Hotelling deflation on the driver (see
    // solvePca); projection as one literal-matrix codegen projection
    // (PcaK x Dim multiply-adds, no join, no shuffle). Bit-exact vs the
    // oracle's unrolled CTE replay of the same integers, deflation
    // included.
    "em01_pca_project" -> ((s, d) => {
      solvePca(s, d) match {
        case None =>
          s.range(0).selectExpr("id AS vec_id" +:
            (1 to PcaK).map(c => s"id AS pc${c}_micro"): _*)
        case Some(p) =>
          val xj = (0 until Dim).map { j =>
            floor(element_at(col("embedding"), j + 1).cast("double")
              * Scale + 0.5).cast("long")
          }
          val raws = (0 until PcaK).map { c =>
            (0 until Dim).map(j => xj(j) * lit(p.vs(c)(j)))
              .reduce(_ + _).as(s"_praw$c")
          }
          Tables.wide(s, d, "embeddings", "vec_id", "embedding")
            .select(col("vec_id") +: raws: _*)
            .selectExpr("vec_id" +:
              (0 until PcaK).map(c =>
                s"_praw$c div ${Scale}L AS pc${c + 1}_micro"): _*)
      }
    }),

    // Spectrum summary of the same solve: corpus size, dominant
    // eigenvalue (micro-units of the biased covariance), and its
    // explained share of total variance (micro ratio). One row; the
    // heavy lifting is the same distributed moment pass.
    "em02_pca_variance" -> ((s, d) => {
      solvePca(s, d) match {
        case None =>
          s.range(0).selectExpr("id AS n", "id AS eigval_micro",
            "id AS explained_micro")
        case Some(p) =>
          var vmv = BigInt(0); var vv = BigInt(0); var tr = BigInt(0)
          var j = 0
          while (j < Dim) {
            vv += BigInt(p.vs(0)(j)) * p.vs(0)(j)
            tr += p.mr(j)(j)
            var k = 0
            while (k < Dim) {
              vmv += p.mr(j)(k) * p.vs(0)(j) * p.vs(0)(k); k += 1
            }
            j += 1
          }
          // Rayleigh quotient in Mr units (≈ n·1e12·λ), rescaled to
          // micro-units of the biased covariance; share of trace(Mr).
          val eigRaw = vmv / vv
          val eig = eigRaw / (p.n * Scale)
          val share = if (tr > 0) eigRaw * Scale / tr else BigInt(0)
          import s.implicits._
          Seq((p.n.toLong, eig.toLong, share.toLong))
            .toDF("n", "eigval_micro", "explained_micro")
      }
    }),

    // Cluster census under integer-exact Lloyd's k-means (K=8, 5
    // unrolled iterations): per-cluster membership count and mean
    // scaled squared distance — the occupancy/compactness diagnostic
    // behind every centroid-partitioned operator here (IVF cells,
    // SemDeDup windows), as a first-class oracled surface. The final
    // assignment is one more distributed pass under the converged
    // literals; output is K rows.
    "em03_kmeans_census" -> ((s, d) => {
      // a local relation: the census is computed over the same cached
      // micro rows as the Lloyd passes, then released
      s.createDataFrame(kmeansCensus(s, d))
        .toDF("cluster", "n_vecs", "mean_sqdist_micro")
    }),

    // Logistic quality classifier (rule-label distillation from surface
    // features), trained by GdIters full-batch integer gradient steps:
    // per step ONE aggregate over the persisted feature relation
    // (6 exact decimal sums) → driver weight update → next pass
    // re-scores with the new literals. Output: per-doc final score +
    // prediction + label. The persist amortizes the GdIters training
    // aggregates only; it is RELEASED (blocking=false) before the lazy
    // scoring relation is returned, so library callers never leak a
    // cached relation — the final scoring pass recomputes the features
    // once (~1/25th of the query's scans; inside host band at sf1).
    "tx28_quality_classifier" -> ((s, d) => {
      val feats = featuresDf(s, d).persist(StorageLevel.MEMORY_AND_DISK)
      val w = trainOn(feats)
      // r15: the persist now stays live through the returned scoring
      // relation, so the final pass reads the cached features instead of
      // re-running the token/feature projection over the corpus (the old
      // pre-return unpersist recomputed it — one full extra corpus pass,
      // ~25 corpus-scan-equivalents -> 24+cache-read). Same lifecycle as
      // every other per-query persist here (tx09's dc, dd03's postings):
      // Verify/Bench clearCache() after each query releases it; library
      // callers who only want weights use trainWeights, which still
      // unpersists.
      feats
        .select(col("doc_id"), scoreColumn(w).as("score_micro"), col("y"))
        .selectExpr("doc_id", "score_micro",
          "CAST(CASE WHEN score_micro >= 500000 THEN 1 ELSE 0 END AS BIGINT)"
            + " AS pred", "y")
    })
  )

  // ------------------------------------------------------------- oracles
  /** Per-component final-vector CTE name: component 1 keeps the legacy
    * names (mm, v0..v60 — em02's oracle references them), components
    * 2..PcaK get vc{c}_* over the deflated matrix mmc{c}. */
  private def vecFinal(c: Int): String =
    if (c == 1) s"v$PowerIters" else s"vc${c}_$PowerIters"

  /** Shared moment/power CTE prefix: ex → (vec_id, j, x_micro);
    * mom/sv/nn → raw moments; mm → Mr; per component a PowerIters-step
    * power chain, and between components the HOTELLING DEFLATION pair
    * (df{c}: vmv/vv scalars; mmc{c}: m − (λ·v·vᵀ)//vv with λ = vmv//vv)
    * — operator-for-operator the solvePca driver arithmetic. All
    * HUGEINT past the first sum so nothing overflows through sf1-scale
    * oracle runs (the n-division in mm is WHY — see solvePca). */
  private val pcaCtes: String = {
    def iterChain(mat: String, vp: String, pp: String): String =
      (1 to PowerIters).map { t =>
        val prev = if (t == 1) s"${vp}0" else s"$vp${t - 1}"
        // MATERIALIZED is load-bearing (the gx01 oracle lesson, sharper):
        // v_t reads p_t twice (the value + the MAX subquery); an inlined
        // p_t re-evaluates its whole upstream per reference — 2^60 chain
        // re-evaluations. Measured hanging at 12 iterations already.
        s"""$pp$t AS MATERIALIZED (SELECT m.j, SUM(m.m * v.v) AS u
           |  FROM $mat m JOIN $prev v ON m.k = v.j GROUP BY m.j),
           |$vp$t AS MATERIALIZED (SELECT j,
           |  (u * $Scale) // (SELECT MAX(ABS(u)) FROM $pp$t) AS v
           |  FROM $pp$t)""".stripMargin
      }.mkString(",\n")
    val comp1 = s"""v0 AS (SELECT j, CAST($Scale AS HUGEINT) AS v
       |  FROM range(1, ${Dim + 1}) AS r(j)),
       |${iterChain("mm", "v", "p")}""".stripMargin
    val rest = (2 to PcaK).map { c =>
      val prevMat = if (c == 2) "mm" else s"mmc${c - 1}"
      val pv = vecFinal(c - 1)
      s"""df$c AS MATERIALIZED (SELECT
         |  (SELECT SUM(m.m * va.v * vb.v) FROM $prevMat m
         |     JOIN $pv va ON m.j = va.j JOIN $pv vb ON m.k = vb.j) AS vmv,
         |  (SELECT SUM(v * v) FROM $pv) AS vv),
         |mmc$c AS MATERIALIZED (
         |  SELECT m.j, m.k,
         |    m.m - ((d.vmv // d.vv) * va.v * vb.v) // d.vv AS m
         |  FROM $prevMat m CROSS JOIN df$c d
         |  JOIN $pv va ON m.j = va.j JOIN $pv vb ON m.k = vb.j),
         |vc${c}_0 AS (SELECT j, CAST($Scale AS HUGEINT) AS v
         |  FROM range(1, ${Dim + 1}) AS r(j)),
         |${iterChain(s"mmc$c", s"vc${c}_", s"pc${c}_")}""".stripMargin
    }.mkString(",\n")
    s"""ex AS MATERIALIZED (
       |  SELECT vec_id, r.j,
       |    CAST(FLOOR(CAST(embedding[r.j] AS DOUBLE) * $Scale + 0.5)
       |      AS BIGINT) AS x
       |  FROM embeddings CROSS JOIN range(1, ${Dim + 1}) AS r(j)),
       |nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |mom AS MATERIALIZED (
       |  SELECT a.j AS j, b.j AS k, SUM(CAST(a.x AS HUGEINT) * b.x) AS p
       |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |sv AS (SELECT j, SUM(CAST(x AS HUGEINT)) AS sj FROM ex GROUP BY j),
       |mm AS MATERIALIZED (
       |  SELECT mom.j, mom.k,
       |    (CAST(nn.n AS HUGEINT) * mom.p - s1.sj * s2.sj) // nn.n AS m
       |  FROM mom CROSS JOIN nn
       |  JOIN sv s1 ON mom.j = s1.j JOIN sv s2 ON mom.k = s2.j),
       |$comp1,
       |$rest""".stripMargin
  }

  /** em03's CTE chain: exk → micro rows; c0 = lowest-vec_id seeds;
    * per iteration dist → ROW_NUMBER argmin (the (dist, k) tie order
    * [[nearest]] replays) → trunc-div centroid update COALESCEd against
    * the prior iterate (empty-cluster rule). MATERIALIZED on a_t/c_t —
    * each is read twice (update + next distance), the p_t/v_t lesson. */
  private val kmeansCtes: String = {
    val iters = (1 to KmIters).map { t =>
      val prev = if (t == 1) "c0" else s"c${t - 1}"
      s"""d$t AS (
         |  SELECT e.vec_id, c.k, SUM((e.x - c.c) * (e.x - c.c)) AS dist
         |  FROM exk e JOIN $prev c ON e.j = c.j GROUP BY 1, 2),
         |a$t AS MATERIALIZED (
         |  SELECT vec_id, k FROM (
         |    SELECT vec_id, k,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, k)
         |        AS rn
         |    FROM d$t) WHERE rn = 1),
         |c$t AS MATERIALIZED (
         |  SELECT p.k, p.j, COALESCE(u.c, p.c) AS c
         |  FROM $prev p LEFT JOIN (
         |    SELECT a.k, e.j,
         |      SUM(CAST(e.x AS HUGEINT)) // COUNT(*) AS c
         |    FROM a$t a JOIN exk e USING (vec_id) GROUP BY a.k, e.j) u
         |  ON p.k = u.k AND p.j = u.j)""".stripMargin
    }.mkString(",\n")
    s"""exk AS MATERIALIZED (
       |  SELECT vec_id, r.j,
       |    CAST(FLOOR(CAST(embedding[r.j] AS DOUBLE) * $Scale + 0.5)
       |      AS BIGINT) AS x
       |  FROM embeddings CROSS JOIN range(1, ${Dim + 1}) AS r(j)),
       |sidx AS (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $KmK)),
       |c0 AS MATERIALIZED (
       |  SELECT s.k, e.j, CAST(e.x AS HUGEINT) AS c
       |  FROM exk e JOIN sidx s USING (vec_id)),
       |$iters""".stripMargin
  }

  private val tx28Oracle: String = {
    val zSql = (0 until FeatDim)
      .map(j => s"f.x$j * w.w$j").mkString("(", " + ", s") // $Scale")
    val iters = (1 to GdIters).map { t =>
      val prev = if (t == 1) "w0" else s"w${t - 1}"
      val grads = (0 until FeatDim).map(j =>
        s"w.w$j - SUM((((${sigmaMicroSql(zSql)}) - f.y * $Scale) * f.x$j)"
          + s" // $Scale) * $Lr // (SELECT COUNT(*) FROM feat) AS w$j")
        .mkString(",\n    ")
      // MATERIALIZED: the final SELECT references w24 four times (two
      // sigmoid replays + the CASE) — inlined CTEs re-run the whole
      // 24-step chain per reference (the same class as the p_t/v_t
      // blowup in pcaCtes, linear here but still a 4x training replay)
      s"""w$t AS MATERIALIZED (
         |  SELECT $grads
         |  FROM feat f CROSS JOIN $prev w GROUP BY ${
        (0 until FeatDim).map(j => s"w.w$j").mkString(", ")})"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH feat AS MATERIALIZED ($featuresSql),
       |w0 AS (SELECT ${(0 until FeatDim)
        .map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")}),
       |$iters
       |SELECT f.doc_id,
       |  CAST(${sigmaMicroSql(zSql)} AS BIGINT) AS score_micro,
       |  CAST(CASE WHEN ${sigmaMicroSql(zSql)} >= 500000
       |    THEN 1 ELSE 0 END AS BIGINT) AS pred,
       |  f.y
       |FROM feat f CROSS JOIN w$GdIters w""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "em01_pca_project" -> {
      val cols = (1 to PcaK).map(c =>
        s"CAST(SUM(ex.x * w$c.v) // $Scale AS BIGINT) AS pc${c}_micro")
        .mkString(",\n  ")
      val joins = (1 to PcaK).map(c =>
        s"JOIN ${vecFinal(c)} w$c ON ex.j = w$c.j").mkString("\n")
      s"""WITH $pcaCtes
         |SELECT ex.vec_id,
         |  $cols
         |FROM ex $joins
         |GROUP BY ex.vec_id""".stripMargin
    },

    "em02_pca_variance" ->
      s"""WITH $pcaCtes,
         |st AS (SELECT
         |  (SELECT SUM(mm.m * va.v * vb.v) FROM mm
         |     JOIN v$PowerIters va ON mm.j = va.j
         |     JOIN v$PowerIters vb ON mm.k = vb.j) AS vmv,
         |  (SELECT SUM(v * v) FROM v$PowerIters) AS vv,
         |  (SELECT SUM(m) FROM mm WHERE j = k) AS tr)
         |SELECT CAST(nn.n AS BIGINT) AS n,
         |  CAST((st.vmv // st.vv) // (nn.n * $Scale) AS BIGINT)
         |    AS eigval_micro,
         |  CAST(CASE WHEN st.tr > 0
         |    THEN ((st.vmv // st.vv) * $Scale) // st.tr
         |    ELSE 0 END AS BIGINT) AS explained_micro
         |FROM st, nn
         |WHERE nn.n > 0""".stripMargin,

    "em03_kmeans_census" ->
      s"""WITH $kmeansCtes,
         |df AS (
         |  SELECT e.vec_id, c.k, SUM((e.x - c.c) * (e.x - c.c)) AS dist
         |  FROM exk e JOIN c$KmIters c ON e.j = c.j GROUP BY 1, 2),
         |af AS (
         |  SELECT vec_id, k, dist FROM (
         |    SELECT vec_id, k, dist,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, k)
         |        AS rn
         |    FROM df) WHERE rn = 1)
         |SELECT CAST(k AS BIGINT) AS cluster,
         |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(dist // $Scale) // COUNT(*) AS BIGINT)
         |    AS mean_sqdist_micro
         |FROM af GROUP BY k""".stripMargin,

    "tx28_quality_classifier" -> tx28Oracle
  )
}
