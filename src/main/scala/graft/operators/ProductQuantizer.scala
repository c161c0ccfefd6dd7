package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.ExactMeans

/** Product quantization — the memory-side scale path for ANN search.
  *
  * sim02 (LSH) and sim03 (IVF) cut the *scan fraction*; PQ cuts the *bytes
  * per vector*: a 64-dim float vector (256 B) compresses to M=8 one-byte
  * codes, so a 100 TB embedding corpus fits hot in ~3 TB of executor
  * memory and candidate scoring never touches the original vectors
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * IEEE TPAMI 2011 — public reference; no counterpart in
  * /root/reference, which has no vector machinery at all).
  *
  * Shape, Spark-first:
  *  - **Training** learns M independent k-means codebooks, one per
  *    disjoint dimension slice. All M subspaces train JOINTLY: each Lloyd
  *    iteration is ONE shuffle-free job over the persisted corpus (assign
  *    codes for every subspace as a projection, explode to (subspace,
  *    code, slice), exact per-key means) — not M separate k-means
  *    drivers, which would cost M× the scans and M× the job round-trips.
  *  - **Encoding** is a pure projection (M argmin-over-literal-centroid
  *    `least()` chains) — no shuffle, no join, codegen end to end.
  *  - **Scoring** (asymmetric distance computation) joins nothing: the
  *    per-query lookup tables (M × Kc dot products against a ~tiny query
  *    set) broadcast as literal arrays and each encoded row folds its M
  *    codes through them in one `aggregate` lambda.
  *
  * Determinism mirrors [[Clustering]]: init takes the Kc lowest vec_ids'
  * subvectors (no RNG), assignment ties break on the lower code id, means
  * use exact scaled-long sums — results are partition-order independent.
  */
object ProductQuantizer {

  /** Codebook for subspace `m`: surviving (code id, centroid) pairs,
    * id-sorted; ids are stable (a cell that empties drops out, matching
    * Lloyd's on empty cells, and its id is never reassigned). */
  type Codebook = Seq[Seq[(Int, Seq[Double])]]

  /** Dimension slice `m` of the embedding as array<double> (slice is
    * 1-based; float widens to double exactly). */
  private def subv(m: Int, dsub: Int): Column =
    transform(slice(col("embedding"), m * dsub + 1, dsub),
      x => x.cast("double"))

  /** All M codes in one native codegen pass (graftx.PQCodes). */
  private def codes(cb: Codebook, dsub: Int): Column =
    org.apache.spark.sql.graftx.PQCodesFunctions
      .pq_codes(col("embedding"), cb, dsub)

  /** Train M codebooks of up to `kc` centroids over `dsub`-wide slices of
    * `e`'s `embedding` column. `e` should be persisted by the caller — the
    * corpus is scanned once per iteration plus once for init. */
  def train(e: DataFrame, m: Int, dsub: Int, kc: Int,
      iters: Int): Codebook = {
    require(m >= 1 && dsub >= 1 && kc >= 1 && iters >= 1)
    // init: subvectors of the kc lowest vec_ids (deterministic, no RNG)
    val initRows = e.select(col("vec_id") +:
        (0 until m).map(mi => subv(mi, dsub).as(s"s_$mi")): _*)
      .orderBy(col("vec_id")).limit(kc).collect()
    var cents: Codebook = (0 until m).map { mi =>
      initRows.toSeq.zipWithIndex.map { case (r, j) =>
        (j, r.getAs[scala.collection.Seq[Double]](s"s_$mi").toSeq) }
    }
    if (initRows.isEmpty) return cents // empty corpus: m empty codebooks

    var it = 0
    while (it < iters) {
      // one job per iteration: all M codes from the native kernel, the
      // matching slice re-cut by subspace id, then exact scaled-long
      // per-(subspace, code) means (graft.core.ExactMeans, keyed
      // m * kc + code; code ids are init ranks < kc)
      val sums = ExactMeans(e
        .select(col("embedding"),
          posexplode(codes(cents, dsub)).as(Seq("m", "code")))
        .select((col("m") * kc + col("code")).as("key"),
          slice(col("embedding"), col("m") * dsub + 1, lit(dsub)).as("v")),
        Clustering.MeanScale)
      cents = (0 until m).map { mi =>
        sums.toSeq.filter(_._1 / kc == mi)
          .map { case (key, c) => (key % kc, c.means) }
          .sortBy(_._1)
      }
      it += 1
    }
    cents
  }

  /** Encode every vector as its M nearest-centroid codes — a pure
    * projection (`vec_id`, `codes: array<int>`). */
  def encode(e: DataFrame, cb: Codebook, dsub: Int): DataFrame =
    if (cb.forall(_.isEmpty)) // untrained (empty corpus): nothing to encode
      e.select(col("vec_id"),
        typedLit(Seq.empty[Int]).as("codes")).limit(0)
    else
      e.select(col("vec_id"), codes(cb, dsub).as("codes"))

  /** Dense M × kc lookup table `f(centroid)` with 0.0 in dropped-cell
    * slots (never referenced: codes only name surviving cells). */
  def lut(cb: Codebook, kc: Int, f: Seq[Double] => Double): Seq[Seq[Double]] =
    cb.map { cents =>
      val m = cents.toMap
      (0 until kc).map(j => m.get(j).map(f).getOrElse(0.0))
    }
}
