package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ExactMeans
import graft.functions.VectorFunctions.l2

/** Lloyd's k-means over an embedding column — the real coarse quantizer
  * behind an IVF index (sim03 builds its inverted lists from these cells).
  *
  * Deterministic by construction: initialization takes the k lowest
  * vec_ids (no RNG), assignment ties break on the lower centroid id, and
  * per-dimension means use exact scaled-integer sums (graft.core.Num
  * pattern, computed by graft.core.ExactMeans in one shuffle-free job
  * per iteration) so results do not depend on partitioning.
  *
  * Centroids live driver-side between iterations (k x dim doubles — tiny),
  * so assignment is a pure projection: k fused l2 evaluations against
  * literal vectors and a least() over (cdist, cl) structs. No join, no
  * shuffle, no window — the corpus is touched exactly once per iteration
  * (vs the previous crossJoin + per-vec_id rank window, which shuffled the
  * whole corpus k-fold every round; that formulation made the IVF build
  * ~3x slower and would shuffle 100 TB per iteration at scale). The
  * returned assignment is recomputed against the FINAL centroids, so
  * (assignments, centroids) are mutually consistent — an IVF probe that
  * assigns a query to its nearest returned centroid searches exactly the
  * inverted list its members were assigned to.
  */
object Clustering {

  /** Decimal grid of the exact centroid sums: floor(v * 1e10 + 0.5). */
  private[operators] val MeanScale = 10

  /** Nearest-centroid id as a projection over literal centroids; keeps the
    * embedding column so callers need no join back to the corpus.
    *
    * Assignment runs through the native [[NearestCentroid]] expression
    * (one codegen'd loop over a reference-carried double[k][dim]) rather
    * than `least()` over k `struct(l2, cl)` subtrees: the struct form's
    * expression tree grows linearly in k and its zip_with/aggregate
    * lambdas are interpreted, which made plan CONSTRUCTION alone take
    * minutes at dd13's k ~ 100 (119 s measured at sf1.0) and pushed
    * scoring off whole-stage codegen. Ties keep the lower cluster id in
    * both formulations. */
  private def assign(e: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      org.apache.spark.sql.graftx.NearestCentroidFunctions.nearest_centroid(
        col("embedding"),
        cents.map(_._2.toArray).toArray,
        cents.map(_._1).toArray).as("cl"))

  /** Returns (assignments: vec_id -> (embedding, cluster), centroids).
    * `rowsHint` >= 0 occupancy-gates the cached corpus width (r16,
    * Tables.gatedParts): at small inputs the full-parallelism
    * repartition spread KB-scale vectors over CPUS partitions and every
    * Lloyd pass paid CPUS task launches; the gate is off (full width,
    * the sf8-measured shape) at >= 1k vectors/core. */
  def kmeansFull(e: DataFrame, k: Int, iters: Int,
      rowsHint: Long = -1L): (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 1)
    val s = e.sparkSession
    // The corpus is scanned iters+2 times (init, one mean pass per
    // iteration, final assignment) — materialize it once up front rather
    // than re-reading the source every pass. Stays persisted because the
    // returned assignment lazily references it; callers/benchmarks drop it
    // via clearCache.
    //
    // Repartitioned to FULL parallelism first: assignment is the one
    // stage whose per-row cost grows with k (k*dim flops), and the
    // source's file-split partitioning silently caps its parallelism —
    // measured at sf8 (400k vectors, one ~110 MB parquet file, 16 MB
    // splits): ~7 scan partitions left 25/32 cores idle and ONE
    // assignment pass took 68 s; the same pass is sub-second at full
    // width. One cheap one-time exchange of a relation that is about to
    // be cached and re-scanned iters+2 times; results are partitioning-
    // independent by construction (order-independent scaled-long means,
    // row-wise assignment, deterministic init).
    val ein = e.select(col("vec_id"), col("embedding"))
      .repartition((if (rowsHint >= 0L)
          graft.core.Tables.gatedParts(s, rowsHint) else None)
        .getOrElse(s.sparkContext.defaultParallelism))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // init: the k lowest vec_ids (no RNG), re-keyed 0..k-1; float widens
    // to double exactly
    var cents: Seq[(Int, Seq[Double])] =
      ein.orderBy(col("vec_id")).limit(k).collect().toSeq
        .zipWithIndex
        .map { case (r, i) =>
          (i, r.getAs[scala.collection.Seq[Any]]("embedding")
            .map(_.asInstanceOf[Number].doubleValue).toSeq) }
    if (cents.isEmpty) {
      // empty input: no centroids exist — degrade to empty relations
      // (assign() over zero structs would otherwise crash)
      ein.unpersist(blocking = false)
      return (e.select(col("vec_id"), col("embedding"),
          lit(0).as("cl")).limit(0),
        s.createDataFrame(Seq.empty[(Int, Seq[Double])]).toDF("cl", "cvec"))
    }

    var it = 0
    while (it < iters) {
      // new centroids: per-dimension exact scaled-long means in one
      // shuffle-free job (graft.core.ExactMeans); a cluster that loses
      // all members drops out (k shrinks), matching Lloyd's on empty cells
      cents = ExactMeans(assign(ein, cents).select(col("cl"),
          col("embedding")), MeanScale)
        .toSeq.sortBy(_._1).map { case (cl, c) => (cl, c.means) }
      it += 1
    }
    (assign(ein, cents), s.createDataFrame(cents).toDF("cl", "cvec"))
  }

  /** Two-level Lloyd's for LARGE k (k ~ N/TargetM, dd13's SemDeDup
    * regime): ~sqrt(k) coarse cells via [[kmeansFull]], then an
    * independent Lloyd's of ~sqrt(k) sub-centroids INSIDE each coarse
    * cell, assignment via the grouped codegen kernel
    * ([[org.apache.spark.sql.graftx.NearestCentroidInGroup]]). Returns
    * the same (assignments with embedding, centroids) shape as
    * [[kmeansFull]]; cluster ids are `g * k2 + sub` — injective and
    * stable, NOT dense (callers that need 0..k-1 ids — none today — must
    * re-key).
    *
    * Why: flat assignment is O(N*k) distance evaluations per pass —
    * with k = N/512 that is N^2/512, the one quadratic left in dd13
    * (measured: its sf2->sf4 growth was 3.3x for 2x data while the
    * windowed pair stage is linear by construction). Two-level costs
    * N * (k1 + k2) ~ N * 2*sqrt(k) per pass: ~10x less at sf4, ~5e4x
    * at 1e9 vectors. The partition it produces is a valid quantization
    * cell structure (FAISS's IMI/coarse-quantizer shape) — near-identical
    * vectors still co-locate (coarse ties break on lower id, then sub
    * ties likewise), which is the property SemDeDup's within-cell
    * windows need; it is NOT the same partition flat Lloyd's would
    * converge to, and does not need to be.
    *
    * Deterministic end-to-end: deterministic coarse pass, per-cell init
    * = the k2 lowest vec_ids (row_number over (g, vec_id)), exact
    * scaled-long means, lower-id tie-breaks at both levels. */
  /** Below this k the FLAT kernel wins and [[kmeansTwoLevelFull]]
    * delegates to it: each Lloyd pass has a k-INDEPENDENT scan-bound
    * floor (then a posexplode + (cl, dim) means aggregation — measured
    * 13.4 s total flat train at sf2 of which assignment is ~1.3 s at
    * k=195), and two-level pays that machinery for BOTH levels
    * (measured 44.6 s at the same point — a 3x regression where the
    * assignment it optimizes was 10% of cost). Flat assignment grows
    * linearly in k (~1.3 s x k/195 per pass at sf2 density), so the
    * two-level overhead amortizes around k ~ 2e3; above it the flat
    * N*k term only grows while the two-level one grows as sqrt(k). */
  val TwoLevelMinK = 2048

  def kmeansTwoLevelFull(e: DataFrame, k: Int, iters: Int,
      minK: Int = TwoLevelMinK,
      rowsHint: Long = -1L): (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 1)
    if (k <= minK) return kmeansFull(e, k, iters, rowsHint)
    val s = e.sparkSession
    val k1 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(k.toDouble / k1).toInt)
    // coarse level: the flat kernel (k1 ~ sqrt(k) keeps it cheap); its
    // returned assignment is a projection over the internally-persisted
    // corpus, so re-evaluating it per sub-pass costs one N*k1 scan, not
    // a second cached copy of the corpus
    val (coarse, _) = kmeansFull(e, k1, iters, rowsHint)
    val ca = coarse.withColumnRenamed("cl", "g")
    // per-cell init: the k2 lowest vec_ids of each coarse cell (k rows
    // collected — same driver-size class as the flat init)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("vec_id"))
    val initRows = ca.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k2)
      .select(col("g"), (col("rn") - 1).as("sub"), col("embedding"))
      .collect()
    if (initRows.isEmpty)
      return (e.select(col("vec_id"), col("embedding"),
          lit(0).as("cl")).limit(0),
        s.createDataFrame(Seq.empty[(Int, Seq[Double])]).toDF("cl", "cvec"))
    def vecOf(r: org.apache.spark.sql.Row, i: Int): Seq[Double] =
      r.getAs[scala.collection.Seq[Any]](i)
        .map(_.asInstanceOf[Number].doubleValue).toSeq
    // group -> id-sorted (sub id, centroid)
    var cents: Map[Int, Seq[(Int, Seq[Double])]] =
      initRows.groupBy(_.getInt(0)).view.mapValues(_.toSeq
        .map(r => (r.getInt(1), vecOf(r, 2))).sortBy(_._1)).toMap
    // dense-by-group-id arrays for the kernel (empty for absent groups —
    // unreachable: every coarse id in `ca` seeded at least one sub)
    def denseArrays: (Array[Array[Array[Double]]], Array[Array[Int]]) = {
      val gMax = cents.keys.max
      val cs = Array.tabulate(gMax + 1)(g =>
        cents.getOrElse(g, Nil).map(_._2.toArray).toArray)
      val ids = Array.tabulate(gMax + 1)(g =>
        cents.getOrElse(g, Nil).map(_._1).toArray)
      (cs, ids)
    }
    def assignSub: Column = {
      val (cs, ids) = denseArrays
      org.apache.spark.sql.graftx.NearestCentroidInGroupFunctions
        .nearest_centroid_in_group(col("embedding"), col("g"), cs, ids)
    }
    var it = 0
    while (it < iters) {
      // one corpus pass: coarse re-assign (projection over the cached
      // corpus) + grouped sub-assign + exact scaled-long means per
      // (g, sub), keyed g * k2 + sub (sub ids are init ranks < k2)
      val sums = ExactMeans(ca.select(
          (col("g") * k2 + assignSub).as("key"),
          col("embedding")), MeanScale)
      cents = sums.toSeq.groupBy(_._1 / k2).map { case (g, subs) =>
        g -> subs.map { case (key, c) => (key % k2, c.means) }
          .sortBy(_._1)
      }
      it += 1
    }
    // flat injective id: g * k2 + sub (sub ids are init ranks < k2)
    val assigned = ca
      .select(col("vec_id"), col("embedding"),
        (col("g") * k2 + assignSub).as("cl"))
    val centroidRows = cents.toSeq.sortBy(_._1).flatMap { case (g, subs) =>
      subs.map { case (sub, cv) => (g * k2 + sub, cv) } }
    (assigned, s.createDataFrame(centroidRows).toDF("cl", "cvec"))
  }

  /** Returns (assignments: vec_id -> cluster, centroids: cluster -> vec). */
  def kmeans(e: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val (assigned, centroids) = kmeansFull(e, k, iters)
    (assigned.select(col("vec_id"), col("cl")), centroids)
  }

  /** Within-cluster sum of squared distances — the convergence metric. */
  def wss(e: DataFrame, assigned: DataFrame, centroids: DataFrame): Double =
    e.join(assigned, "vec_id").join(broadcast(centroids), "cl")
      .withColumn("d", l2(col("embedding"), col("cvec")))
      .select((col("d") * col("d")).as("d2"))
      .agg(sum(col("d2"))).collect()(0).getDouble(0)
}
