package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.graftx.{CrossPairsWithinRatio, PairsWithinRatio}
import org.apache.spark.sql.graftx.WordShinglesFunctions.word_shingles
import graft.core.InvertedIndex

/** Adversarial-skew audit for the pair kernels. The uniform-corpus specs
  * prove exactness; the 100 TB failure mode is SKEW — one hot shingle,
  * one mega-document, one cluster holding half the corpus — where a
  * kernel that is linear on uniform data silently goes quadratic. Each
  * planted worst case asserts BOTH an explicit candidate-count bound
  * (the work the kernel may do) and unchanged exact output (the bound
  * must be a lossless prune or a spec'd df-cap drop, never a recall
  * trade the oracle can't see).
  */
class SkewSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  private val Cap = InvertedIndex.StopKeyCap

  // ---- kernel level -------------------------------------------------

  private def runKernel(packed: Seq[Long], tau: Double): Seq[(Long, Long)] = {
    import spark.implicits._
    Seq(packed).toDF("ds")
      .select(PairsWithinRatio.pairs_within_ratio(col("ds"), tau)
        .as(Seq("d1p", "d2p")))
      .select(col("d1p").bitwiseAND(lit(PairsWithinRatio.IdMask)).as("d1"),
        col("d2p").bitwiseAND(lit(PairsWithinRatio.IdMask)).as("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("hot key at exactly the df cap: worst-case fan-out is C(cap,2), " +
      "emitted exactly once each") {
    // every doc the same length -> every pair in-ratio: the absolute
    // worst case a df-capped key can hand the generator
    val packed = (0L until Cap.toLong).map(id => (40L << 48) | id)
    val got = runKernel(packed, 0.8)
    assert(got.size == Cap.toLong * (Cap - 1) / 2, s"got ${got.size}")
    assert(got.toSet.size == got.size, "duplicate pairs emitted")
    assert(got.forall { case (a, b) => a < b })
  }

  test("df cap is a hard boundary: cap survives, cap+1 is dropped whole") {
    import spark.implicits._
    def postings(df: Int) =
      (0 until df).map(d => ("k", d.toLong)).toDF("s", "doc_id")
    val atCap = InvertedIndex
      .groupedPostings(postings(Cap), col("s"), col("doc_id")).count()
    val overCap = InvertedIndex
      .groupedPostings(postings(Cap + 1), col("s"), col("doc_id")).count()
    assert(atCap == 1 && overCap == 0,
      s"df=$Cap kept $atCap keys, df=${Cap + 1} kept $overCap")
  }

  test("mega-doc length skew: a 30k-shingle doc among 20-shingle docs " +
      "generates ZERO candidates; a saturated one degrades to no-prune") {
    val small = (0L until 100L).map(id => (20L << 48) | id)
    // below LenCap: the ratio window prunes every pair it touches
    val mega = runKernel(small :+ ((30000L << 48) | 500L), 0.8)
    assert(!mega.exists { case (a, b) => a == 500L || b == 500L },
      "ratio prune failed under extreme length skew")
    assert(mega.size == 100L * 99 / 2)
    // at/above LenCap the length is UNKNOWN: prune must degrade to
    // keep-everything (wrong drops are correctness bugs; the exact
    // Jaccard filter downstream discards these candidates)
    val sat = runKernel(
      small :+ ((PairsWithinRatio.LenCap << 48) | 500L), 0.8)
    assert(sat.count { case (a, b) => a == 500L || b == 500L } == 100,
      "saturated length must pair with everything (no-prune)")
  }

  test("cross kernel, cap-sized key split new/old: exactly new x old " +
      "candidates, never new x new or old x old") {
    import spark.implicits._
    val nNew = 300; val nOld = Cap - nNew
    val post = (0 until Cap)
      .map(d => ("k", d.toLong, 40L, d < nNew)).toDF("s", "doc_id", "n", "f")
    val got = InvertedIndex.pairCountsLengthPrunedCross(post, col("s"),
      col("doc_id"), col("n"), col("f"), 0.8)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == nNew * nOld, s"got ${got.length}")
    assert(got.forall { case (a, b) =>
      (a < nNew) != (b < nNew) }, "a same-side pair leaked through")
  }

  // ---- corpus level (through the real dd02/dd06 queries) ------------

  /** Driver-layout single-file documents table. */
  private def writeDocs(dir: java.io.File,
      docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    graft.core.ParquetFiles.writeSingle(
      docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      new java.io.File(dir, "documents.parquet"))
  }

  private def clusterText(tag: String) =
    (0 until 30).map(i => s"$tag$i").mkString(" ")

  test("a cluster holding 50% of the corpus: dd02/dd06 exact on the " +
      "full clique, candidate work bounded by C(cluster,2)") {
    val root = tempDir("skew-half")
    val n = 400; val half = 200
    // 200 identical docs + 200 docs with fully private vocabularies
    val docs = (0 until n).map { i =>
      (i.toLong, if (i < half) clusterText("c")
      else (0 until 30).map(j => s"u${i}x$j").mkString(" "))
    }
    writeDocs(root, docs)
    val pairs = SparkEntry.queries("dd02_jaccard_pairs")(
      spark, root.getPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    spark.catalog.clearCache()
    // exact output: the full clique at jaccard 1.0, nothing else
    val want = (for (a <- 0 until half; b <- a + 1 until half)
      yield (a.toLong, b.toLong, 1.0)).toSet
    assert(pairs.toSet == want,
      s"got ${pairs.length} pairs, want ${want.size}")
    // candidate-count bound: per shared shingle the generator may emit
    // at most C(df,2); the cluster's 28 shingles each have df=200
    val post = graft.core.Tables.wide(spark, root.getPath, "documents",
      "doc_id", "text")
      .select(col("doc_id"), explode(word_shingles(col("text"), 3)).as("s"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
    val candidates = InvertedIndex.pairCountsLengthPruned(post, col("s"),
      col("doc_id"), col("n"), 0.8)
      .agg(sum(col("c"))).collect()(0).getLong(0)
    spark.catalog.clearCache()
    assert(candidates == 28L * half * (half - 1) / 2,
      s"candidate volume $candidates is not the analytic bound")
    val census = SparkEntry.queries("dd06_dedup_clusters")(
      spark, root.getPath).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    assert(census.toSeq == Seq((0L, half.toLong)))
  }

  test("a cluster larger than the df cap: its shingles are stop-keys — " +
      "zero candidates from the clique, planted normal pairs unaffected") {
    val root = tempDir("skew-cap")
    val big = Cap + 500
    val docs = (0 until big).map(i => (i.toLong, clusterText("c"))) ++
      Seq((big.toLong, clusterText("p")), ((big + 1).toLong, clusterText("p")))
    writeDocs(root, docs)
    // candidate audit FIRST: the 1500-clique must contribute nothing
    val post = graft.core.Tables.wide(spark, root.getPath, "documents",
      "doc_id", "text")
      .select(col("doc_id"), explode(word_shingles(col("text"), 3)).as("s"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
    val cand = InvertedIndex.pairCountsLengthPruned(post, col("s"),
      col("doc_id"), col("n"), 0.8).collect()
    spark.catalog.clearCache()
    assert(cand.length == 1 && cand(0).getLong(0) == big.toLong,
      s"stop-key cap leaked ${cand.length} candidate pairs")
    // exact output under the spec'd df-cap semantics (the DuckDB oracle
    // carries the same HAVING df <= cap): only the planted pair
    val pairs = SparkEntry.queries("dd02_jaccard_pairs")(
      spark, root.getPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    spark.catalog.clearCache()
    assert(pairs.toSeq == Seq((big.toLong, (big + 1).toLong, 1.0)))
  }
}
