package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Tables, Num}

/** Second relational tranche: outer joins, non-equi (range) joins, scalar
  * subqueries, the scalar-function surface, and the SQL front-end.
  *
  * None of these exist in the reference (SURVEY.md §2.4: joins "none",
  * §2.5: no scalar library) — they complete the engine surface a user
  * would expect when switching from any real analytics stack.
  */
object Relational2 {

  import Num._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Left outer join preserving customers with zero open orders.
    "q16_left_outer" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val o = Tables(s, d, "orders").filter(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_open_orders"))
    }),

    // Full outer join across two event-type views keyed by user.
    "q17_full_outer" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val buys = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("bu")).agg(count(lit(1)).as("n_buys"))
      val errs = e.filter(col("event_type") === "error")
        .groupBy(col("user_id").as("eu")).agg(count(lit(1)).as("n_errors"))
      buys.join(errs, col("bu") === col("eu"), "full_outer")
        .select(coalesce(col("bu"), col("eu")).as("user_id"),
          coalesce(col("n_buys"), lit(0L)).as("n_buys"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
    }),

    // Range (non-equi) join against an inline band dimension. The band
    // table is tiny -> broadcast nested-loop, the correct plan: each row
    // probes the broadcast bands, nothing shuffles.
    "q18_range_join" -> ((s, d) => {
      val bands = s.createDataFrame(Seq(
        ("small", 0.0, 1000.0), ("medium", 1000.0, 10000.0),
        ("large", 10000.0, 100000.0), ("huge", 100000.0, 1e18)))
        .toDF("band", "lo", "hi")
      Tables(s, d, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("volume"))
    }),

    // Correlated scalar subquery, expressed via SQL on registered views —
    // Catalyst decorrelates it into an aggregate + join.
    "q19_scalar_subquery" -> ((s, d) => {
      Tables.registerAll(s, d)
      // order-independent decimal mean in the subquery: a plain AVG(double)
      // is partition-order dependent and could flip boundary comparisons
      s.sql("""
        SELECT p_brand, COUNT(*) AS n_parts
        FROM part
        WHERE p_retailprice >
          (SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(30,2))) AS DOUBLE)
             / COUNT(*)
           FROM part p2 WHERE p2.p_brand = part.p_brand)
        GROUP BY p_brand""")
    }),

    // Scalar-function surface: strings and dates in one projection.
    "q20_scalar_functions" -> ((s, d) => {
      Tables(s, d, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).as("prio_upper"),
          substring(col("o_orderstatus"), 1, 1).as("status1"),
          length(col("o_orderpriority")).as("prio_len"),
          concat_ws("|", col("o_orderstatus"), col("o_orderpriority"))
            .as("tagged"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
          datediff(lit("2002-01-01").cast("date"),
            col("o_orderdate").cast("date")).as("days_to_2002"))
    }),

    // UNION ALL with provenance tags (bag semantics, vs q11's set ops).
    "q21_union_all" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"), lit("finished").as("src"))
        .unionByName(
          o.filter(col("o_totalprice") > 50000)
            .select(col("o_custkey"), lit("big").as("src")))
        .groupBy(col("src")).agg(count(lit(1)).as("n"))
    }),

    // Exact interpolated percentiles per group (same R-7 interpolation as
    // DuckDB's quantile_cont over identical inputs). NOT the built-in
    // `percentile()` aggregate: that one buffers every value of a group
    // inside ONE aggregation state (an OpenHashMap merged on a
    // |groups|-partition shuffle), so with few huge groups — exactly this
    // query's shape — per-executor state grows with the relation and
    // OOMs long before 100 TB (the same unbounded-state class as a
    // per-document broadcast). Instead the values are range-ranked in
    // parallel (Scale.globalRank over (status, price): distributed sort
    // + per-partition row_number, driver state = one offset per
    // partition), group-local ranks fall out by subtracting the group's
    // first global rank (a |groups|-row broadcast), and each percentile
    // reads exactly its two boundary ranks. Ties in price need no
    // tie-break: equal values are interchangeable at a rank, so the
    // value AT each rank — all this query reads — is deterministic.
    // Interpolation is the same lower + frac*(upper - lower), with
    // h = p*(n-1) evaluated in the same double arithmetic both engines
    // use; round(4) absorbs last-ulp drift as before.
    "q23_percentiles" -> ((s, d) => {
      rankPercentiles(
        Tables(s, d, "orders"), "o_orderstatus", "o_totalprice",
        Seq(0.5 -> "med", 0.95 -> "p95"))
        .select(col("o_orderstatus"),
          round(col("med"), 4).as("median_price"),
          round(col("p95"), 4).as("p95_price"),
          col("__gn").as("n"))
    }),

    // Moment statistics. Spark's stddev/corr merge partial moments
    // (partition-order-dependent in the last ulps), so results round to
    // 4 dp on both sides — drift is ~1e-12 relative, far inside the
    // rounding guard.
    "q24_moments" -> ((s, d) => {
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("qty_price_corr"),
          round(avg(col("l_discount")), 4).as("avg_disc"))
    }),

    // Data-quality audit: per-column null rates and value ranges in one
    // scan — the table-health pass a training pipeline runs before
    // ingesting a new drop. One partial-agg pass, 1-row output.
    "q25_data_audit" -> ((s, d) => {
      Tables(s, d, "orders").agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_custkey").isNull.cast("long")).as("null_custkey"),
        sum(col("o_totalprice").isNull.cast("long")).as("null_totalprice"),
        sum((col("o_totalprice") <= 0).cast("long")).as("nonpos_totalprice"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        countDistinct(col("o_orderstatus")).as("n_statuses"),
        min(col("o_orderdate")).cast("date").as("first_date"),
        max(col("o_orderdate")).cast("date").as("last_date"))
    }),

    // Approximate percentile sketch. At 100 TB the mergeable sketch
    // replaces a full sort the same way HLL replaces a distinct shuffle.
    // The sketch values are engine-specific, so the driver-gated output
    // is the DERIVED BOUND (VERDICT r11 #4): group counts DuckDB-pinned,
    // plus the rank-error window the r11 sidecar checker graded — the
    // approx value must lie inside the EXACT percentiles at p +/- 0.02
    // (accuracy 10000 => rank error <= 1e-4*n, two orders inside the
    // window; the interpolated bound is strictly inside the discrete
    // +/-0.02-rank one for n >= ~100).
    // The EXACT bounds come from the rank-based kernel q23 uses (see
    // [[rankPercentiles]]), NOT the built-in percentile() aggregate:
    // the r12 first cut ran four percentile() aggs alongside the
    // sketch, and that aggregate buffers every value of a group in one
    // aggregation state — measured 5.9/13.2/31.0 s at sf1/2/4 (~2.3x
    // per 2x, group-sized executor state) vs q23's 2.7/3.3/4.9 s on
    // the identical relation. The sketch agg and the bounds relation
    // join on the few-row group domain.
    "q26_approx_percentiles" -> ((s, d) => {
      val sk = Tables(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("m_apx"),
          expr("approx_percentile(o_totalprice, 0.95, 10000)").as("p_apx"))
      val bounds = rankPercentiles(
        Tables(s, d, "orders"), "o_orderstatus", "o_totalprice",
        Seq(0.48 -> "m_lo", 0.52 -> "m_hi", 0.93 -> "p_lo", 0.97 -> "p_hi"))
      // null-safe group-key join: both aggregations emit a row for a
      // NULL o_orderstatus; `<=>` keeps it where `=` would drop it.
      sk.as("__s").join(broadcast(bounds).as("__b"),
          col("__s.o_orderstatus") <=> col("__b.o_orderstatus"))
        .select(col("__s.o_orderstatus").as("o_orderstatus"),
          col("n_orders"),
          (col("m_apx") >= col("m_lo") && col("m_apx") <= col("m_hi"))
            .as("p50_in_bounds"),
          (col("p_apx") >= col("p_lo") && col("p_apx") <= col("p_hi"))
            .as("p95_in_bounds"))
    }),

    // Moving window frame: 7-day trailing average of daily revenue.
    // Daily totals are exact decimal sums first, so the frame average is
    // arithmetic over identical doubles; rounded to absorb any frame
    // accumulation-order differences between engines.
    // The frame's window has no partition, so every row goes through one
    // task — the shape q28 refuses below. Here it is bounded: the window
    // runs over `daily`, one row per order DATE, so its input is the
    // calendar span of the orders (2,405 days in ScaleData's fixtures,
    // about 2,400 for TPC-H's seven years), not the order count, at any
    // scale factor. The per-order work is the distributed aggregate.
    "q27_moving_avg" -> ((s, d) => {
      val daily = Tables(s, d, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(dsum(col("o_totalprice")).as("revenue"))
      val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
      daily.select(col("day"), col("revenue"),
        round(avg(col("revenue")).over(w), 4).as("ma7"))
    }),

    // Ranking into quantile buckets: customers by total spend. NOT the
    // textbook `ntile(4) over (order by ...)`: a no-partition window
    // funnels one row per CUSTOMER through a single task — the one
    // formulation that dies at 10^8+ customers. Scale.globalRank ranks
    // via a distributed range repartition + parallel per-partition
    // row_number (driver state = one offset per partition), and the
    // NTILE bucket arithmetic is reproduced exactly, so output is
    // row-identical to the window form and to DuckDB's NTILE (the
    // oracle below still uses the textbook SQL).
    "q28_customer_quartiles" -> ((s, d) => {
      val spend = Tables(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("spend"))
      Scale.globalRank(spend,
          Seq(col("spend").desc, col("o_custkey").asc),
          // rowsHint (r16): spend is custkey-bounded; the gate sizes the
          // rank kernel's ranged persist from the customer footer rows
          rowsHint = graft.core.Tables.layout(
            s, s"$d/customer.parquet").rows)
        .withColumn("quartile", Scale.ntileFromRank(4))
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("spend")).as("quartile_spend"))
    }),

    // Ordered string aggregation: alphabetical nation roster per region.
    "q29_string_agg" -> ((s, d) => {
      val n = Tables(s, d, "nation")
      val r = Tables(s, d, "region")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
          .as("nations"))
    }),

    // Top-k per group through the custom whole-operator plan (logical node
    // + strategy + partial/final physical operator, graftx.TopKPerGroup):
    // the exchange carries at most k rows per (group x input partition)
    // instead of every row, and nothing is fully sorted. Total order
    // (price DESC, orderkey ASC tie-break) makes output deterministic and
    // row-identical to the window-rank oracle.
    "q30_topk_per_group" -> ((s, d) => {
      Scale.topKPerGroup(
        Tables(s, d, "orders")
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_orderstatus"), 3,
        col("o_totalprice").desc, col("o_orderkey").asc)
    }),

    // The SQL front end over registered views (same engine, text surface).
    "q22_sql_surface" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(s"""
        SELECT n_name, COUNT(*) AS n_customers,
          ${sqlDsum("c_acctbal")} AS total_balance
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")
    }),

    // GROUPING SETS — the general form rollup (q09) and cube (q13) are
    // sugar for: two independent one-column groupings plus the grand
    // total in ONE pass (Spark expands to a single Expand + aggregate, so
    // the fact table is scanned once, not three times). Built on
    // Dataset.groupingSets so the sum is the ONE canonical Num.dsum
    // kernel — a hand-spelled SQL copy of the scaled-decimal formula
    // would silently break cross-engine hash parity if it drifted
    // (Tables.scala's warning on Num).
    "q31_grouping_sets" -> ((s, d) =>
      Tables(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("volume"))),

    // Unpivot (melt): wide per-status metrics to long (metric, value)
    // rows — the inverse of ev03's pivot, completing the reshape surface.
    // A pure projection + generate over the tiny aggregated relation; all
    // heavy lifting stays in the one grouped aggregate before it.
    "q32_unpivot" -> ((s, d) => {
      Tables(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(dsum(col("o_totalprice")).as("sum_price"),
          max(col("o_totalprice")).as("max_price"),
          count(lit(1)).cast("double").as("n_orders"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("sum_price"), col("max_price"), col("n_orders")),
          "metric", "value")
    }),

    // Deterministic per-group MODE — Spark's builtin `mode()` breaks ties
    // arbitrarily (and differently from DuckDB's), so the mode is spelled
    // as a (group, value) census + a rank over the census with an explicit
    // total order (count DESC, value ASC): bit-identical on both engines.
    // The census is aggregate-bounded (|status| x |priority| rows), so the
    // rank window rides a tiny partitioned exchange, never the corpus.
    "q33_group_mode" -> ((s, d) => {
      val c = Tables(s, d, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("n").desc, col("o_orderpriority").asc)
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("n").as("n_mode"))
    })
  )

  /** Exact interpolated percentiles per group via the rank-based kernel
    * (q23's rationale, verbatim): NOT the built-in `percentile()`
    * aggregate — that one buffers every value of a group inside ONE
    * aggregation state (an OpenHashMap merged on a |groups|-partition
    * shuffle), so with few huge groups per-executor state grows with
    * the relation and OOMs long before 100 TB. Instead the values are
    * range-ranked in parallel (Scale.globalRank: distributed sort +
    * per-partition row_number, driver state = one offset per
    * partition), group-local ranks fall out by subtracting the group's
    * first global rank (a |groups|-row broadcast), and each percentile
    * reads exactly its two boundary ranks. Ties need no tie-break:
    * equal values are interchangeable at a rank. Interpolation is the
    * same R-7 lower + frac*(upper - lower) DuckDB's quantile_cont uses,
    * with h = p*(n-1) in the same double arithmetic.
    *
    * Returns one row per group: (group, __gn, <tag> per requested
    * percentile), values unrounded. Boundary-rank picks and the
    * interpolation fraction ride as row-level columns (constant per
    * group) aggregated with max — each rank matches exactly one row,
    * so max over one value + nulls selects it. */
  private def rankPercentiles(df: DataFrame, group: String, value: String,
      ps: Seq[(Double, String)]): DataFrame = {
    val ranked = Scale.globalRank(df.select(col(group), col(value)),
      Seq(col(group).asc, col(value).asc))
    val bounds = ranked.groupBy(col(group))
      .agg(min(col("__rank")).as("__start"), count(lit(1)).as("__gn"))
    // null-safe: a NULL group key ranks and aggregates like any other
    // group; the equi-join form would silently drop its bounds row.
    val g = ranked.as("__r").join(broadcast(bounds).as("__b"),
        col(s"__r.$group") <=> col(s"__b.$group"))
      .select(col("__r.*"), col("__b.__start"), col("__b.__gn"))
      .withColumn("__grank", col("__rank") - col("__start") + 1)
    def parts(p: Double, tag: String) = {
      val h = (col("__gn") - 1).cast("double") * lit(p)
      Seq(
        when(col("__grank") === floor(h) + 1, col(value)).as(s"__vlo_$tag"),
        when(col("__grank") === ceil(h) + 1, col(value)).as(s"__vhi_$tag"),
        (h - floor(h)).as(s"__frac_$tag"))
    }
    val aggs = ps.map { case (_, tag) =>
      (max(col(s"__vlo_$tag")) + max(col(s"__frac_$tag")) *
        (max(col(s"__vhi_$tag")) - max(col(s"__vlo_$tag")))).as(tag)
    } :+ max(col("__gn")).as("__gn")
    g.select(Seq(col(group), col("__gn")) ++
        ps.flatMap { case (p, t) => parts(p, t) }: _*)
      .groupBy(col(group))
      .agg(aggs.head, aggs.tail: _*)
  }

  def oracleSql: Map[String, String] = Map(
    "q31_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
         |  ${sqlDsum("o_totalprice")} AS volume
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
        .stripMargin,

    // DuckDB's UNPIVOT emits rows in value-list order per input row;
    // row/column order is irrelevant to the gate (sorted compare), so a
    // portable UNION ALL spells the same relation.
    "q32_unpivot" ->
      s"""WITH w AS (
         |  SELECT o_orderstatus,
         |    ${sqlDsum("o_totalprice")} AS sum_price,
         |    MAX(o_totalprice) AS max_price,
         |    CAST(COUNT(*) AS DOUBLE) AS n_orders
         |  FROM orders GROUP BY o_orderstatus)
         |SELECT o_orderstatus, 'sum_price' AS metric, sum_price AS value FROM w
         |UNION ALL
         |SELECT o_orderstatus, 'max_price', max_price FROM w
         |UNION ALL
         |SELECT o_orderstatus, 'n_orders', n_orders FROM w""".stripMargin,

    "q33_group_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |    ORDER BY n DESC, o_orderpriority ASC) AS rn FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_mode
        |FROM r WHERE rn = 1""".stripMargin,

    "q30_topk_per_group" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q16_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_open_orders
        |FROM customer LEFT JOIN (SELECT * FROM orders
        |  WHERE o_orderstatus = 'O') o ON c_custkey = o.o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q17_full_outer" ->
      """WITH b AS (SELECT user_id AS bu, COUNT(*) AS n_buys FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |e AS (SELECT user_id AS eu, COUNT(*) AS n_errors FROM events
        |  WHERE event_type = 'error' GROUP BY user_id)
        |SELECT COALESCE(bu, eu) AS user_id,
        |  COALESCE(n_buys, 0) AS n_buys, COALESCE(n_errors, 0) AS n_errors
        |FROM b FULL OUTER JOIN e ON bu = eu""".stripMargin,

    "q18_range_join" ->
      s"""WITH bands(band, lo, hi) AS (VALUES
         |  ('small', 0.0, 1000.0), ('medium', 1000.0, 10000.0),
         |  ('large', 10000.0, 100000.0), ('huge', 100000.0, 1e18))
         |SELECT band, COUNT(*) AS n_orders,
         |  ${sqlDsum("o_totalprice")} AS volume
         |FROM orders JOIN bands
         |  ON o_totalprice >= lo AND o_totalprice < hi
         |GROUP BY band""".stripMargin,

    "q19_scalar_subquery" ->
      """SELECT p_brand, COUNT(*) AS n_parts
        |FROM part
        |WHERE p_retailprice >
        |  (SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(30,2))) AS DOUBLE)
        |     / COUNT(*)
        |   FROM part p2 WHERE p2.p_brand = part.p_brand)
        |GROUP BY p_brand""".stripMargin,

    "q20_scalar_functions" ->
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS prio_upper,
        |  substring(o_orderstatus, 1, 1) AS status1,
        |  length(o_orderpriority) AS prio_len,
        |  concat_ws('|', o_orderstatus, o_orderpriority) AS tagged,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |    DATE '2002-01-01') AS INT) AS days_to_2002
        |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin,

    "q21_union_all" ->
      """SELECT src, COUNT(*) AS n FROM (
        |  SELECT o_custkey, 'finished' AS src FROM orders
        |    WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_custkey, 'big' AS src FROM orders
        |    WHERE o_totalprice > 50000)
        |GROUP BY src""".stripMargin,

    "q22_sql_surface" ->
      s"""SELECT n_name, COUNT(*) AS n_customers,
         |  ${sqlDsum("c_acctbal")} AS total_balance
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin,

    // q26's derived bound: DuckDB pins the group domain and counts; the
    // rank-error window is asserted in-engine against exact percentiles
    "q26_approx_percentiles" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  TRUE AS p50_in_bounds, TRUE AS p95_in_bounds
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q27_moving_avg" ->
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    ${sqlDsum("o_totalprice")} AS revenue
         |  FROM orders GROUP BY 1)
         |SELECT day, revenue,
         |  round(AVG(revenue) OVER (ORDER BY day
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
         |FROM daily""".stripMargin,

    "q28_customer_quartiles" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, ${sqlDsum("o_totalprice")} AS spend
         |  FROM orders GROUP BY o_custkey)
         |SELECT quartile, COUNT(*) AS n_customers,
         |  ${sqlDsum("spend")} AS quartile_spend
         |FROM (SELECT o_custkey, spend,
         |        NTILE(4) OVER (ORDER BY spend DESC, o_custkey ASC)
         |          AS quartile
         |      FROM spend)
         |GROUP BY quartile""".stripMargin,

    "q29_string_agg" ->
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q23_percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95_price,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q25_data_audit" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_custkey,
        |  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_totalprice,
        |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nonpos_totalprice,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price,
        |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
        |  CAST(MIN(o_orderdate) AS DATE) AS first_date,
        |  CAST(MAX(o_orderdate) AS DATE) AS last_date
        |FROM orders""".stripMargin,

    "q24_moments" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        |  round(avg(l_discount), 4) AS avg_disc
        |FROM lineitem GROUP BY l_returnflag""".stripMargin
  )
}
