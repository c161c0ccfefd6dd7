package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Disk-budgeted degradation for the exact pair kernels (VERDICT r14
  * "what's wrong" #3): on a saturated closed-vocabulary fixture the
  * per-key df grows with N, so the generated pair volume Σ df·(df-1)/2
  * is quadratic BY FIXTURE CONSTRUCTION and the kernel eventually dies
  * at the OS disk wall (closed sf8 tx08: >75 GB of live shuffle against
  * ~94 GB usable). This hook turns "dies at the wall" into "bounded
  * with a stamped loss": when a budget is set and the PROJECTED pair
  * bytes exceed it, the df cap is lowered to the largest value whose
  * projected volume fits, and the dropped mass is written to
  * `degrade_<name>.json` (picked up by Bench into the sidecar) — a
  * silent cap would read as full coverage.
  *
  * OFF by default: no budget set → the base cap is returned without
  * touching the df relation, and the plan is byte-identical to the
  * unbudgeted one (driver correctness gate, open-fixture ladders, and
  * every spec run with the hook dormant).
  *
  * Semantics under degradation are the stop-key semantics the kernels
  * already define: a term over the cap drops from BOTH pair generation
  * and (for tf-idf) norms — the result is the exact kernel over the
  * df ≤ cap vocabulary, not an approximation of the uncapped one. At
  * 100 TB this is the honest operating mode: an exact all-pairs kernel
  * over an adversarially saturated vocabulary has quadratic output, and
  * the choice is a stamped df budget or an unserviceable job.
  */
object PairBudget {

  /** Active pair-volume budget in GB: `-Dgraft.pairs.budget.gb`. */
  def budgetGb: Option[Double] =
    sys.props.get("graft.pairs.budget.gb")
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
      .filter(_ > 0)

  /** Effective df cap for a pair kernel whose per-key df relation is
    * `dfRel` (must expose a `df` long column; keys above `baseCap` are
    * already stop-keys and never counted against the budget). Returns
    * `baseCap` untouched — no job runs — when no budget is set. With a
    * budget, runs ONE vocabulary-sized histogram aggregate (distinct df
    * values ≤ baseCap, so the collect is bounded by construction),
    * walks it in ascending df, and keeps the largest cap whose
    * cumulative projected volume (pairs × bytesPerPair) fits. If
    * degradation triggers, stamps `degrade_<name>.json` in the cwd. */
  def dfCap(dfRel: => DataFrame, baseCap: Int, bytesPerPair: Double,
      name: String): Int = budgetGb match {
    case None => baseCap
    case Some(gb) =>
      val hist = dfRel.filter(col("df").between(2, baseCap))
        .groupBy(col("df")).agg(count(lit(1)).as("nt"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val budgetBytes = gb * 1e9
      var kept = 0.0
      var capEff = baseCap
      var fits = true
      var dropTerms = 0L
      var dropPairs = 0.0
      hist.foreach { case (df, nt) =>
        val add = nt.toDouble * df * (df - 1) / 2.0 * bytesPerPair
        if (fits && kept + add <= budgetBytes) kept += add
        else {
          if (fits) { capEff = (df - 1).toInt; fits = false }
          dropTerms += nt
          dropPairs += nt.toDouble * df * (df - 1) / 2.0
        }
      }
      if (!fits) {
        val stamp =
          s"""{"query":"$name","budget_gb":$gb,"base_cap":$baseCap,""" +
          s""""df_cap":$capEff,"projected_bytes_kept":${kept.toLong},""" +
          s""""terms_dropped":$dropTerms,"pairs_dropped":${dropPairs.toLong}}"""
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"degrade_$name.json"),
          (stamp + "\n").getBytes("UTF-8"))
        System.err.println(s"[pair-budget] $name: df cap $baseCap -> " +
          s"$capEff under ${gb} GB budget ($dropTerms terms, " +
          s"~${dropPairs.toLong} pairs dropped; stamped)")
      }
      capEff
  }
}
