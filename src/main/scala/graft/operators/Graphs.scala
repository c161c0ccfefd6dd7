package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative / multi-way graph analytics over the document-similarity
  * graph — the operator class (loop of joins over a persisted edge
  * relation) nothing else in the surface exercises.
  *
  * The reference has no graph operators at all (its topology "graph" is
  * the static operator DAG parsed from argv, reference
  * src/RainStorm/leader.py — never a data-plane relation); these are
  * builder-brief surface for a training-data pipeline: PageRank over the
  * near-duplicate/template graph scores *hub-ness* (a document sharing
  * boilerplate with thousands of pages is a template, not content — rank,
  * unlike raw degree, also sees its neighborhood), and per-node triangle
  * counts / clustering coefficients separate tight near-dup cliques
  * (mirror sites: high LCC) from star-shaped template reuse (low LCC at
  * the hub) — the two structures need opposite curation actions.
  *
  * Graph: undirected edges = document pairs with shingle-Jaccard >= 0.5
  * ([[Dedup.jaccardGraph]] — dd02's exact generation-pruned kernel at a
  * looser threshold, so the graph is denser than the 0.8 dedup one but
  * still similarity-gated; both engines compute the identical edge set).
  *
  * Everything downstream of the edge mine is INTEGER arithmetic in
  * micro-units (ranks, coefficients), so the DuckDB oracles are bit-exact
  * — no cross-engine double-quotient rounding (the ev18/tx27 lesson).
  *
  * Scale shape (the 100 TB question):
  *  - the edge relation is mined once, degree pre-joined, repartitioned
  *    by source and persisted — every PageRank iteration then reshuffles
  *    ONLY the node-sized rank relation (16 bytes/row) against the
  *    partitioning-reusing edge probe, plus the unavoidable transpose
  *    (groupBy destination). Per-iteration cost = 2 node-relation
  *    shuffles, never an edge re-exchange. This is the GraphX/Pregel
  *    pattern expressed relationally.
  *  - ranks are node-sized (~16 GB at 1e9 docs) — over Spark's 8 GB
  *    broadcast hard cap, so the per-iteration join is pinned
  *    shuffle-hash (build = ranks, the narrow side per partition).
  *  - triangle enumeration is two self-joins of the edge list with the
  *    a < b < c orientation (each triangle materializes exactly once);
  *    join fan-out is bounded by the same df cap that bounds the pair
  *    kernel itself. Self-joins are pinned to shuffle-hash: the edge
  *    table is corpus-near-dup-sized and must never be a broadcast
  *    build.
  */
object Graphs {

  /** Similarity threshold for graph edges — deliberately looser than the
    * dedup family's 0.8: rank/triangle structure is about the template
    * NEIGHBORHOOD, which 0.8 prunes to near-exact copies only. */
  private val GxTau = 0.5

  /** Fixed-point scale: 1 rank unit = 1e-6. */
  private val Scale = 1000000L

  /** Damping factor 0.85 in micro-units. */
  private val Damp = 850000L

  /** Teleport mass (1 - d) in micro-units. */
  private val Teleport = 150000L

  /** Power-iteration count. Fixed and unrolled in BOTH engines — the
    * oracle is the same 5 chained CTEs, so convergence tolerance never
    * enters the comparison. */
  private val Iters = 5

  /** Undirected τ-graph as directed edge list (u, v) — both
    * orientations, so out-degree = degree and there are no dangling
    * nodes by construction (every node in the relation has >= 1
    * out-edge; PageRank needs no dangling-mass term). */
  private def edges(jp: DataFrame): DataFrame =
    jp.select(col("d1").as("u"), col("d2").as("v"))
      .union(jp.select(col("d2").as("u"), col("d1").as("v")))

  /** The τ=0.5 similarity-graph edge table, mined ONCE per dataset and
    * persisted under [[graft.core.IndexStore]] (dd09's pair-table
    * topology: in a real pipeline the graph is an artifact — PageRank,
    * triangles, and any future analytic probe the same parquet instead
    * of each re-running the pair kernel, which dominated both queries:
    * sf1 gx01 20.5 s / gx02 16.8 s fused vs ~seconds steady). Path is
    * τ-versioned so Graphs can never read a table mined at another
    * threshold. */
  private def edgeTable(s: SparkSession, d: String)
      : graft.core.IndexStore.Artifact =
    graft.core.IndexStore.loadOrBuild(s,
      graft.core.IndexStore.root(d) +
        s"/jp_tau${math.round(GxTau * 100)}")(
      Dedup.jaccardGraph(s, d, GxTau).select(col("d1"), col("d2")))

  /** floor(x * 0.85) in micro-units without 128-bit arithmetic:
    * x = q*S + r  =>  floor(x*D/S) = q*D + floor(r*D/S) exactly (q*D is
    * integral), and each term stays under 2^63 for any x < ~9e12 —
    * far above any reachable rank mass (total mass is bounded by
    * nodes * Scale and a single node's rank by its in-mass). The naive
    * x*D overflows at x ~ 1e13, which a 1e9-node hub chain can reach. */
  private def dampFloor(x: String): String =
    s"(($x) div $Scale) * $Damp + ((($x) % $Scale) * $Damp) div $Scale"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PageRank over the τ=0.5 similarity graph, 5 unrolled iterations,
    // integer micro-unit fixed point (bit-exact vs the oracle's chained
    // CTEs). rank0 = Scale for every graph node; per edge u->v the
    // damped contribution floor(0.85 * (rank(u) div deg(u))) flows, and
    // rank'(v) = Teleport + sum. Nodes outside the graph (no edge at
    // τ) are deliberately absent: centrality is defined on the graph.
    "gx01_pagerank" -> ((s, d) => {
      // the edge table loads from the persisted mine (edgeTable); the
      // degree relation is still referenced more than once (ew build +
      // rank0 + the final join) — persist it or every reference re-scans
      // (measured pre-IndexStore: 3 full pair-kernel runs, 6.8 -> 2.6 s
      // at sf0.1 for the persist; the same re-execution class as sim05's
      // CollapseProject find)
      // NOTE (r15): deg/ew fan out into concurrent first-touch jobs
      // (duplicated upstream compute, see Tables.mat), but the upstream
      // here is a CHEAP parquet read of the persisted mine + one small
      // aggregate — a mat() barrier on jp/deg/ew was measured slower on
      // wall at sf0.1 (quiet full run 2.18 -> 2.48 s) and reverted: the
      // barrier only pays where the duplicated upstream is expensive.
      val table = edgeTable(s, d)
      val jp = table.df.persist(StorageLevel.MEMORY_AND_DISK)
      // occupancy-gated exchange widths (r16, Tables.keyedAt): deg and
      // ew are persisted relations consumed by every pagerank iteration
      // — at shuffle.partitions width each of the 5 iterations paid
      // 32-task launches over KB-scale caches (profiled 0.07-0.35 s per
      // pass). Gate bound = the mined edge table's manifest row count
      // (2x pairs = directed edge count); off at >= 1k edges/core.
      val edgeRows = 2 * table.rows
      val e = edges(jp)
      val deg = graft.core.Tables.keyedAt(s, edgeRows, e, col("u"))
        .groupBy("u").agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // degree pre-joined so each iteration reads (u, v, deg) straight
      // off the persisted partition-aligned probe; shuffle-hash, never
      // broadcast (deg is node-sized)
      val ew = e.join(deg.hint("shuffle_hash"), "u")
        .repartition(graft.core.Tables.gatedParts(s, edgeRows)
          .getOrElse(s.sessionState.conf.numShufflePartitions), col("u"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var r = deg.select(col("u").as("node"), lit(Scale).as("r"))
      for (_ <- 1 to Iters) {
        r = ew.join(r.hint("shuffle_hash"), col("u") === col("node"))
          .select(col("v"), expr("r div deg").as("contrib"))
          .groupBy("v")
          .agg(sum(expr(dampFloor("contrib"))).as("m"))
          .select(col("v").as("node"), (lit(Teleport) + col("m")).as("r"))
      }
      r.join(deg.hint("shuffle_hash"), col("node") === col("u"))
        .select(col("node").as("doc_id"), col("deg").as("degree"),
          col("r").as("rank_micro"))
    }),

    // Per-node triangle count + local clustering coefficient over the
    // same graph. Triangles enumerated once each via the a < b < c
    // orientation on the (d1 < d2) edge list: (a,b)x(b,c) wedges
    // semi-joined against the closing (a,c) edge. LCC in micro-units:
    // (2T * 1e6) div (deg*(deg-1)) — integer in both engines.
    "gx02_triangles" -> ((s, d) => {
      val jp = edgeTable(s, d).df
        .persist(StorageLevel.MEMORY_AND_DISK) // read 3x (wedge x2 + close)
      val tri = jp.as("ab")
        .join(jp.as("bc").hint("shuffle_hash"),
          col("ab.d2") === col("bc.d1"))
        .select(col("ab.d1").as("a"), col("ab.d2").as("b"),
          col("bc.d2").as("c"))
        .join(jp.as("ac").hint("shuffle_hash"),
          col("a") === col("ac.d1") && col("c") === col("ac.d2"),
          "left_semi")
      val perNode = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("t"))
      val deg = edges(jp).groupBy("u").agg(count(lit(1)).as("deg"))
      deg.join(perNode.hint("shuffle_hash"), col("u") === col("n"), "left")
        .select(col("u").as("doc_id"),
          coalesce(col("t"), lit(0L)).as("triangles"),
          expr(s"CASE WHEN deg >= 2 THEN " +
            s"(coalesce(t, 0L) * 2L * $Scale) div (deg * (deg - 1L)) " +
            "ELSE 0L END").as("lcc_micro"))
    })
  )

  /** jp-at-τ=0.5 CTE on Dedup's shared pair prefix (exact double
    * quotient >= 0.5 — same IEEE division of exact integers both
    * engines, the proven dd02 boundary treatment). */
  private val jp50 =
    s"""${Dedup.pairCtesSql},
       |jp50 AS MATERIALIZED (
       |  SELECT d1, d2
       |  FROM p JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
       |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.5)""".stripMargin

  /** DuckDB floor(x*0.85): `//` is DuckDB's integer division — floor,
    * = Spark's `div` truncation on the all-positive operands here. */
  private def dampFloorSql(x: String): String =
    s"(($x) // $Scale) * $Damp + ((($x) % $Scale) * $Damp) // $Scale"

  private val pagerankOracle: String = {
    val iters = (1 to Iters).map { k =>
      val prev = if (k == 1) "r0" else s"i${k - 1}"
      s"""i$k AS (
         |  SELECT e.v AS node,
         |    $Teleport + SUM(${dampFloorSql("p.r // d.deg")}) AS r
         |  FROM e JOIN $prev p ON e.u = p.node JOIN deg d ON e.u = d.u
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $jp50,
       |e AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM jp50
       |      UNION ALL SELECT d2, d1 FROM jp50),
       |deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM e GROUP BY u),
       |r0 AS (SELECT u AS node, CAST($Scale AS BIGINT) AS r FROM deg),
       |$iters
       |SELECT f.node AS doc_id, CAST(deg.deg AS BIGINT) AS degree,
       |  CAST(f.r AS BIGINT) AS rank_micro
       |FROM i$Iters f JOIN deg ON f.node = deg.u""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "gx01_pagerank" -> pagerankOracle,

    "gx02_triangles" ->
      s"""WITH $jp50,
         |tri AS MATERIALIZED (
         |  SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
         |  FROM jp50 ab
         |  JOIN jp50 bc ON ab.d2 = bc.d1
         |  JOIN jp50 ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2),
         |pern AS (
         |  SELECT x AS n, COUNT(*) AS t FROM (
         |    SELECT a AS x FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri)
         |  GROUP BY 1),
         |e AS (SELECT d1 AS u FROM jp50 UNION ALL SELECT d2 FROM jp50),
         |deg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY u)
         |SELECT deg.u AS doc_id,
         |  CAST(coalesce(pern.t, 0) AS BIGINT) AS triangles,
         |  CAST(CASE WHEN deg.deg >= 2 THEN
         |    (coalesce(pern.t, 0) * 2 * $Scale) // (deg.deg * (deg.deg - 1))
         |    ELSE 0 END AS BIGINT) AS lcc_micro
         |FROM deg LEFT JOIN pern ON deg.u = pern.n""".stripMargin
  )
}
