package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 operators: repetition stats (tx22), vocab growth (tx24),
  * containment pairs (dd15), cluster canonical selection (dd14), MMR
  * rerank (sim07). Oracled entries (tx22/tx24/dd14/dd15/ev14/q33) are
  * additionally gated by the DuckDB compare; these specs pin the
  * non-SQL invariants and the independent-formulation equalities. */
class Round9Spec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  test("tx22: sorted-run bigram mode == (doc, bigram) groupBy mode on " +
      "the real corpus") {
    // the engine computes the per-doc modal bigram count WITHOUT a
    // shuffle via the sorted-adjacent-run trick; recompute it through
    // the obvious (doc, bigram) census and compare every doc.
    val got = SparkEntry.queries("tx22_repetition_stats")(spark, sf)
      .select(col("doc_id"), col("n_tok"), col("top_bigram_frac"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
      .toMap
    val toks = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        expr(graft.operators.TextAnalysis.tokensExpr).as("toks"))
      .filter(size(col("toks")) >= 2)
    val census = toks
      .select(col("doc_id"), size(col("toks")).as("n_tok"),
        explode(expr(
          "transform(sequence(0, size(toks) - 2), " +
            "i -> concat(toks[i], ' ', toks[i + 1]))")).as("bg"))
      .groupBy(col("doc_id"), col("n_tok"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(max(col("c")).as("mx"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        math.rint(r.getLong(2).toDouble / (r.getInt(1) - 1) * 1e6) / 1e6)))
      .toMap
    assert(got.keySet == census.keySet)
    got.foreach { case (doc, (n, frac)) =>
      val (cn, cfrac) = census(doc)
      assert(n == cn, s"doc $doc n_tok")
      assert(math.abs(frac - cfrac) < 1e-9,
        s"doc $doc top_bigram_frac: engine $frac vs census $cfrac")
    }
  }

  test("tx24: vocab growth is monotone at both unit sizes and the " +
      "endpoints are the exact corpus vocabularies") {
    val rows = SparkEntry.queries("tx24_vocab_growth")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sliding(2).forall(w =>
      w.length < 2 || w(0) <= w(1)), "unigram curve must be monotone")
    assert(rows.map(_._3).sliding(2).forall(w =>
      w.length < 2 || w(0) <= w(1)), "trigram curve must be monotone")
    // the synthetic corpus's trigram space is rich enough that the curve
    // must actually GROW across deciles (the unigram one saturates)
    assert(rows.last._3 > rows.head._3,
      "trigram curve is flat — degenerate checkpointing")
    val docs = graft.core.Tables(spark, sf, "documents")
    val vocab1 = docs
      .select(explode(expr(graft.operators.TextAnalysis.tokensExpr))
        .as("tok"))
      .agg(countDistinct(col("tok"))).head.getLong(0)
    val vocab3 = docs
      .select(explode(org.apache.spark.sql.graftx.WordShinglesFunctions
        .word_shingles(col("text"), 3)).as("sh"))
      .agg(countDistinct(col("sh"))).head.getLong(0)
    assert(rows.last._2 == vocab1,
      s"unigram endpoint ${rows.last._2} != exact $vocab1")
    assert(rows.last._3 == vocab3,
      s"trigram endpoint ${rows.last._3} != exact $vocab3")
  }

  test("dd15: containment pairs == brute-force shingle containment at " +
      "tau = 0.9") {
    // independent formulation: per-doc distinct trigram sets, all pairs
    // via the (tiny at sf0.001) self-join, exact intersection counts.
    val got = SparkEntry.queries("dd15_containment_pairs")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val sets = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        org.apache.spark.sql.graftx.WordShinglesFunctions
          .word_shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[String]](1).toSet)
      .filter(_._2.nonEmpty)
    val want = (for {
      (d1, s1) <- sets; (d2, s2) <- sets if d1 < d2
      c = (s1 & s2).size.toLong if c > 0
      cont = math.rint(c.toDouble / math.min(s1.size, s2.size) * 1e6) / 1e6
      if cont >= 0.9
    } yield (d1, d2) -> ((c, cont))).toMap
    assert(got.keySet == want.keySet,
      s"missing=${(want.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- want.keySet).take(5)}")
    got.foreach { case (k, (c, cont)) =>
      assert(want(k)._1 == c && math.abs(want(k)._2 - cont) < 1e-9, s"$k")
    }
  }

  test("dd15: a subset document is caught by containment but invisible " +
      "to Jaccard") {
    import spark.implicits._
    // doc 2 is the first third of doc 1: containment 1.0, Jaccard ~0.33
    val words = (1 to 90).map(i => s"w$i")
    val dir = tempDir("dd15").toPath
    Seq(
      (1L, words.mkString(" "), "en", "s1", 0L),
      (2L, words.take(30).mkString(" "), "en", "s1", 0L),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "), "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val cont = SparkEntry.queries("dd15_containment_pairs")(
      spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    val jac = SparkEntry.queries("dd02_jaccard_pairs")(spark, dir.toString)
      .collect()
    assert(jac.isEmpty, "J(1,2) ~ 0.33 must be below the 0.8 gate")
  }

  test("sim07: MMR rerank invariants — top-1 parity, pool membership, " +
      "determinism, and no worse redundancy than plain top-k") {
    def run() = SparkEntry.queries("sim07_mmr_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val a = run().sortBy(t => (t._1, t._2))
    val b = run().sortBy(t => (t._1, t._2))
    assert(a.toSeq == b.toSeq, "two runs must pick identical sets")
    val sim01 = SparkEntry.queries("sim01_knn_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQ = a.groupBy(_._1)
    val s1byQ = sim01.groupBy(_._1)
    assert(byQ.keySet == s1byQ.keySet)
    // step 1 has no diversity penalty -> rank-1 must equal the plain
    // nearest neighbor
    byQ.foreach { case (q, picks) =>
      assert(picks.minBy(_._2)._3 == s1byQ(q).minBy(_._2)._3,
        s"qid $q rank-1 differs from sim01")
      assert(picks.length == graft.operators.Similarity.K)
      assert(picks.map(_._3).distinct.length == picks.length)
    }
    // redundancy: mean pairwise cosine within the MMR picks must not
    // exceed plain top-k's (that is the entire point of the operator)
    val vecs = graft.core.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray)
      .toMap
    def cos(x: Array[Double], y: Array[Double]) = {
      val dt = x.zip(y).map { case (u, v) => u * v }.sum
      dt / (math.sqrt(x.map(u => u * u).sum) *
        math.sqrt(y.map(u => u * u).sum))
    }
    def meanPairwise(ids: Seq[Long]) = {
      val ps = for { i <- ids.indices; j <- i + 1 until ids.length }
        yield cos(vecs(ids(i)), vecs(ids(j)))
      ps.sum / ps.length
    }
    val mmrRed = byQ.toSeq.map(kv => meanPairwise(kv._2.map(_._3).toSeq))
    val topkRed = s1byQ.toSeq.map(kv => meanPairwise(kv._2.map(_._3).toSeq))
    assert(mmrRed.sum / mmrRed.length <= topkRed.sum / topkRed.length + 1e-9,
      s"MMR mean redundancy ${mmrRed.sum / mmrRed.length} vs " +
        s"top-k ${topkRed.sum / topkRed.length}")
  }
}
