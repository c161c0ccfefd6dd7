package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: skew-salted aggregation and bucketing helpers.
  *
  * The reference's only parallelism knob is `num_tasks` with sha1-mod
  * routing (reference src/Streaming/worker.py:256-262) — a hot key lands
  * on one task and stays there. These are the standard Spark counters to
  * that failure mode at 100 TB.
  */
object Scale {

  /** Two-phase (salted) aggregation: phase 1 aggregates on (key, salt) so
    * a hot key spreads over `salts` reducers; phase 2 merges the partials.
    * Correct for any commutative-monoid aggregate expressed as (partial,
    * merge) column pairs — here counts and sums, the common cases.
    *
    * AQE's skew handling covers joins; skewed *aggregation* keys still
    * concentrate partials on one reducer when cardinality is low — salting
    * is the fix the optimizer can't apply for you.
    */
  def saltedAgg(df: DataFrame, key: Column, salts: Int,
      aggs: (Column, String)*): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(spark_partition_id(), monotonically_increasing_id()),
        lit(salts)))
    val phase1 = salted.groupBy(key.as("__key"), col("__salt"))
      .agg(aggs.head._1.as(s"__p0"),
        aggs.tail.zipWithIndex.map { case ((c, _), i) =>
          c.as(s"__p${i + 1}")
        }: _*)
    // merge partials: counts and sums both merge by SUM
    phase1.groupBy(col("__key"))
      .agg(sum(col("__p0")).as(aggs.head._2),
        aggs.tail.zipWithIndex.map { case ((_, name), i) =>
          sum(col(s"__p${i + 1}")).as(name)
        }: _*)
      .withColumnRenamed("__key", "key")
  }

  /** Top-k rows per group via the custom whole-operator plan
    * ([[org.apache.spark.sql.graftx.TopKPerGroup]]): bounded per-group
    * heaps inside each input partition, then a shuffle carrying at most
    * k rows per (group x partition) — vs the window formulation's
    * shuffle-everything + full per-group sort. Supply a total order
    * (unique tie-break column last) for deterministic output. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], k: Int,
      orderBy: Column*): DataFrame =
    org.apache.spark.sql.graftx.TopKFunctions
      .topKPerGroup(df, groupCols, k, orderBy: _*)

  /** [[topKPerGroup]] with in-heap dedup on `dedupCols`: rows equal on
    * (group, dedup key) MUST be identical under the order (LSH
    * multi-table candidates rescored deterministically are the canonical
    * case); one representative per key survives, so no upstream
    * `groupBy(key).agg(max)` — and its full-key-domain hash-aggregate
    * exchange — is needed. */
  def topKPerGroupDistinct(df: DataFrame, groupCols: Seq[String], k: Int,
      dedupCols: Seq[String], orderBy: Column*): DataFrame =
    org.apache.spark.sql.graftx.TopKFunctions
      .topKPerGroupDistinct(df, groupCols, k, dedupCols, orderBy: _*)

  /** Occupancy-adaptive sign-LSH plane count: expected bucket occupancy
    * is N/2^B, so holding occupancy ~`target` (B = log2(N/target)) keeps
    * per-bucket collision-join fan-out O(1) in N — with B fixed the
    * candidate volume grows N^2/2^B (dd07 measured 35x for a 10x step).
    * Floored so behavior at spec'd test scales is unchanged; capped
    * because bucket ids are long-typed bit patterns (and recall at a
    * given threshold decays with B — the caller's table count trades
    * against it). */
  def lshPlanes(n: Long, target: Int = 64, floor: Int = 8,
      cap: Int = 24): Int =
    math.max(floor, math.min(cap,
      math.ceil(math.log(math.max(1L, n).toDouble / target) /
        math.log(2)).toInt))

  /** Exact 1-based global rank under `order` WITHOUT a single-partition
    * window: `Window.orderBy` with no partition spec funnels the whole
    * relation through one task (Spark itself warns), which is the one
    * formulation that cannot survive an unbounded input. Here the global
    * order is a distributed range repartition, ranks are per-partition
    * `row_number` (parallel window keyed on the partition id) plus
    * partition offsets from a partition-COUNT-bounded driver collect
    * (32-ish longs — independent of N).
    *
    * `order` must be a total order (unique tie-break last): rank
    * assignment is then exact regardless of where range sampling places
    * partition boundaries. Output adds `__rank` (long) and `__n` (long,
    * the relation size, for quantile arithmetic); `__pid` is dropped.
    */
  def globalRank(df: DataFrame, order: Seq[Column],
      rowsHint: Long = -1L): DataFrame = {
    val (ranged, offExpr, total) = partitionOffsets(df, order, lit(1L),
      rowsHint)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(order: _*)
    ranged
      .withColumn("__rank", row_number().over(w).cast("long") + offExpr)
      .withColumn("__n", lit(total))
      .drop("__pid", "__v")
  }

  /** Exact inclusive running sum of `value` under the total order
    * `order`, distributed the same way as [[globalRank]]: range
    * repartition, a parallel per-partition running-sum window (keyed on
    * the partition id — never the no-partition window funnel), and
    * per-partition offsets from a partition-COUNT-bounded driver collect
    * (32-ish longs, independent of N). `order` must be a total order.
    * Output adds `__cum` (long, inclusive running sum) and keeps every
    * input column. */
  def globalCumsum(df: DataFrame, order: Seq[Column],
      value: Column, rowsHint: Long = -1L): DataFrame = {
    val (ranged, offExpr, _) = partitionOffsets(df, order, value, rowsHint)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ranged.withColumn("__cum", sum(col("__v")).over(w) + offExpr)
      .drop("__pid", "__v")
  }

  /** Shared scaffolding for [[globalRank]]/[[globalCumsum]]: range
    * repartition under `order`, tag rows with `__pid`/`__v` (NULL values
    * count as 0 so a partition of all-NULL values cannot poison the
    * offset collect), and build the per-partition exclusive-prefix
    * offset expression from a partition-COUNT-bounded driver collect.
    * The ranged relation stays persisted (MEMORY_AND_DISK) because the
    * offset job and the caller's window job both consume it; like every
    * per-query persist in this codebase, the session-level
    * `catalog.clearCache()` after each query releases it. Returns
    * (tagged relation, offset column, grand total).
    *
    * The offsets are baked into the plan as a literal map, and its values
    * differ run to run: Spark's `RangePartitioner` seeds its boundary
    * sample from the RDD id, which depends on how many RDDs the context
    * made before, so partition sizes move. Results stay exact because
    * `order` is total: every boundary placement ranks the same rows the
    * same way. `tools/plandiff.py` ignores the values, not the keys. */
  private def partitionOffsets(df: DataFrame, order: Seq[Column],
      value: Column, rowsHint: Long = -1L): (DataFrame, Column, Long) = {
    // rowsHint >= 0 enables the occupancy gate (r16, Tables.gatedParts):
    // the ranged relation is persisted and consumed by BOTH the offset
    // job and the caller's window pass, so at small inputs its
    // shuffle.partitions width charged 2x CPUS task launches per call;
    // the gate derives the range-partition count from the caller's
    // measured row bound and is off (default plan) at >= 1k rows/core.
    val tagged = df.withColumn("__v", coalesce(value.cast("long"), lit(0L)))
    // floor 2: a gated width of 1 would plan as Exchange
    // singlepartition — structurally the no-partition window funnel
    // this kernel exists to refuse (and what TopKPlanSpec's q28 audit
    // asserts against); two range partitions keep the distributed
    // shape at identical cost for the sub-2k-row inputs the floor hits
    val byRange = (if (rowsHint >= 0L)
        graft.core.Tables.gatedParts(df.sparkSession, rowsHint)
      else None) match {
      case Some(n) => tagged.repartitionByRange(math.max(2, n), order: _*)
      case None    => tagged.repartitionByRange(order: _*)
    }
    val ranged = graft.core.CacheScope.track(byRange
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sums = ranged.groupBy(col("__pid")).agg(sum(col("__v")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = sums.map { case (pid, s) =>
      val o = acc; acc += s; pid -> o
    }
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(
        map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*),
        col("__pid")), lit(0L))
    (ranged, offExpr, acc)
  }

  /** Exact NTILE(k) from [[globalRank]] output — the standard SQL bucket
    * arithmetic (first `n % k` buckets take one extra row), matching
    * Spark's and DuckDB's NTILE bit-for-bit without their global-window
    * plan. Guarded so n < k never divides by zero (THEN branch covers
    * every rank when `__q` = 0). */
  def ntileFromRank(k: Int): Column = expr(
    s"""CASE WHEN __rank <= (__n % $k) * (__n DIV $k + 1)
       |  THEN CAST((__rank - 1) DIV (__n DIV $k + 1) AS INT) + 1
       |  ELSE CAST((__n % $k) +
       |    (__rank - (__n % $k) * (__n DIV $k + 1) - 1) DIV (__n DIV $k)
       |    AS INT) + 1
       |END""".stripMargin)
}
