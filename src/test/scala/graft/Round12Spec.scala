package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 additions: ExactSubstr-style duplicated-span extraction
  * (dd18), the event transition matrix (ev18), and the document-frequency
  * spectrum (tx27). All three carry DuckDB oracles (the bit-exactness
  * gate); these specs pin what oracle equality cannot express — span
  * MAXIMALITY against an independent brute-force recompute, probability
  * normalization, and histogram mass conservation. */
class Round12Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  // ---- dd18 ---------------------------------------------------------

  /** Independent single-machine recompute of maximal duplicated spans:
    * every L-token window, grams in >= 2 distinct docs, consecutive
    * duplicated positions merged into maximal islands. */
  private def bruteSpans(L: Int): Set[(Long, Long, Long, Long)] = {
    val docs = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ")))
      .filter(_._2.length >= L)
    val gramDocs = new java.util.HashMap[String, java.util.HashSet[Long]]()
    docs.foreach { case (id, w) =>
      (0 to w.length - L).foreach { p =>
        gramDocs.computeIfAbsent(w.slice(p, p + L).mkString(" "),
          _ => new java.util.HashSet[Long]()).add(id)
      }
    }
    docs.flatMap { case (id, w) =>
      val dupPos = (0 to w.length - L).filter(p =>
        gramDocs.get(w.slice(p, p + L).mkString(" ")).size >= 2)
      // merge consecutive positions into maximal islands
      dupPos.foldLeft(List.empty[(Int, Int)]) {
        case ((a, b) :: rest, p) if p == b + 1 => (a, p) :: rest
        case (acc, p)                          => (p, p) :: acc
      }.map { case (a, b) =>
        (id, a.toLong, (b + L - 1).toLong, (b - a + L).toLong)
      }
    }.toSet
  }

  test("dd18: spans equal the brute-force maximal-island recompute " +
      "exactly (ids, offsets, lengths)") {
    val got = SparkEntry.queries("dd18_exact_substring_spans")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = bruteSpans(operators.Dedup.SpanSeedLen)
    assert(want.nonEmpty, "fixture must contain planted duplicated spans")
    assert(got == want)
  }

  test("dd18: islands are maximal — no two spans of one doc are " +
      "mergeable, and every span is >= the seed length") {
    val L = operators.Dedup.SpanSeedLen
    val spans = SparkEntry.queries("dd18_exact_substring_spans")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.forall { case (_, a, b, len) =>
      len >= L && b - a + 1 == len })
    spans.groupBy(_._1).values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          // adjacent seed positions would have merged: the next island's
          // first seed (s2) must start >= 2 positions after the previous
          // island's last seed (e1 - L + 1)
          assert(s2 - (e1 - L + 1) >= 2, "mergeable islands survived")
        case _ => ()
      }
    }
  }

  test("dd19: cleaned corpus equals the brute-force cut (per-seed " +
      "min-doc canonical rule), and token mass is conserved") {
    val L = operators.Dedup.SpanSeedLen
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ")))
    val stats = new java.util.HashMap[String, (Long, java.util.HashSet[Long])]()
    docs.filter(_._2.length >= L).foreach { case (id, w) =>
      (0 to w.length - L).foreach { p =>
        val g = w.slice(p, p + L).mkString(" ")
        val cur = stats.get(g)
        if (cur == null) {
          val s0 = new java.util.HashSet[Long](); s0.add(id)
          stats.put(g, (id, s0))
        } else { cur._2.add(id); stats.put(g, (math.min(cur._1, id), cur._2)) }
      }
    }
    val want = docs.map { case (id, w) =>
      val cut = new java.util.HashSet[Int]()
      if (w.length >= L) (0 to w.length - L).foreach { p =>
        val (md, ds) = stats.get(w.slice(p, p + L).mkString(" "))
        if (ds.size >= 2 && id != md) (p until p + L).foreach(cut.add(_))
      }
      val clean = w.zipWithIndex.collect {
        case (t, i) if !cut.contains(i) => t }.mkString(" ")
      id -> (w.length.toLong, cut.size.toLong, md5hex(clean))
    }.toMap
    val got = SparkEntry.queries("dd19_substring_dedup_corpus")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got == want)
    assert(got.values.exists(_._2 > 0), "fixture must exercise a cut")
    // canonical holders and untouched docs keep their original text
    val orig = docs.toMap
    got.foreach { case (id, (ntok, ncut, fp)) =>
      assert(ncut >= 0 && ncut <= ntok)
      if (ncut == 0) assert(fp == md5hex(orig(id).mkString(" ")))
    }
  }

  // ---- ev18 ---------------------------------------------------------

  test("ev18: transition counts equal the brute-force per-user sequence " +
      "recompute, and each row's probability is the integer-rounded " +
      "quotient") {
    val events = graft.core.Tables(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val want = events.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (e._2, e._3)).map(_._4).sliding(2).collect {
        case Array(a, b) => (a, b)
      }
    }.toSeq.groupBy(x => x).map { case (k, v) => k -> v.size.toLong }
    val rows = SparkEntry.queries("ev18_event_transitions")(spark, sf)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2),
        r.getLong(3))))
      .toMap
    assert(rows.keySet == want.keySet)
    assert(rows.forall { case (k, (n, _)) => n == want(k) })
    val tot = want.groupBy(_._1._1).map { case (f, m) =>
      f -> m.values.sum }
    rows.foreach { case ((f, _), (n, p)) =>
      assert(p == (n * 2000000L + tot(f)) / (tot(f) * 2L))
    }
    // per-from_type probabilities normalize to 1e6 within rounding slack
    rows.toSeq.groupBy(_._1._1).foreach { case (f, rs) =>
      val s = rs.map(_._2._2).sum
      assert(math.abs(s - 1000000L) <= rs.size / 2 + 1,
        s"from=$f p_micro sum $s")
    }
  }

  // ---- sim08 / sim09 ------------------------------------------------

  /** Brute-force exact kNN graph with the queries' rank order (rounded
    * cosine DESC, dst ASC; HALF_UP at 6dp exactly like Spark's round). */
  private lazy val bruteGraph: Map[Long, Seq[(Int, Long, Double)]] = {
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val vs = graft.core.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      .map { case (id, v) =>
        (id, v, math.sqrt(v.map(x => x * x).sum)) }
    val K = operators.Similarity.K
    vs.map { case (id, v, n) =>
      val top = vs.filter(_._1 != id).map { case (j, w, m) =>
        (j, r6(v.zip(w).map { case (a, b) => a * b }.sum / (n * m)))
      }.sortBy { case (j, c) => (-c, j) }.take(K)
      id -> top.zipWithIndex.map { case ((j, c), i) => (i + 1, j, c) }.toSeq
    }.toMap
  }

  test("sim08: exact kNN graph equals brute force (ranks, ids, scores)") {
    val got = SparkEntry.queries("sim08_knn_graph")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (s0, rs) =>
        s0 -> rs.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq }
    assert(got.keySet == bruteGraph.keySet)
    got.foreach { case (s0, rs) => assert(rs == bruteGraph(s0), s"src=$s0") }
  }

  test("sim09: LSH kNN graph edges are exact-scored, deterministic, " +
      "find every >= 0.9 top neighbor, and recall@K clears the floor") {
    spark.catalog.clearCache()
    // raw builder: the driver-gated queries entry now wraps the graph
    // in the derived-bound audit (r12); the edge invariants live here
    val run1 = operators.Similarity.knnGraphLsh(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    spark.catalog.clearCache()
    val run2 = operators.Similarity.knnGraphLsh(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(run1.toSet == run2.toSet, "hash-seeded LSH must be deterministic")
    // every emitted score is the exact (rounded) cosine — precision 1
    val exact = bruteGraph // top-K only; recompute full for edge check
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val vs = graft.core.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .map { case (id, v) => id -> ((v, math.sqrt(v.map(x => x * x).sum))) }
      .toMap
    run1.foreach { case (s0, _, d0, c) =>
      val (v, n) = vs(s0); val (w, m) = vs(d0)
      assert(c == r6(v.zip(w).map { case (a, b) => a * b }.sum / (n * m)),
        s"non-exact edge $s0 -> $d0")
    }
    // ranks are consistent per src: 1..deg with the (cos, dst) order,
    // and every src's dst list is DISTINCT — a CompactHeap dedup
    // regression (duplicate dst in two arena slots) surfaces here as a
    // repeated neighbor, since multi-table LSH collisions feed each
    // pair to the heap several times
    run1.groupBy(_._1).values.foreach { es =>
      val sorted = es.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to es.length).toSeq)
      assert(sorted.sameElements(
        es.sortBy(e => (-e._4, e._3))), "rank order drifted")
      val dsts = es.map(_._3)
      assert(dsts.distinct.length == dsts.length,
        s"duplicate dst in src=${es.head._1}'s neighbor list: " +
          dsts.mkString(","))
    }
    // multiprobe miss probability for cos >= 0.9 at (B, L=8) is ~1e-4
    // per pair: every such true top-1 neighbor must be present
    val edges = run1.map(e => (e._1, e._3)).toSet
    exact.foreach { case (s0, rs) =>
      val (_, d1, c1) = rs.head
      if (c1 >= 0.9)
        assert(edges.contains((s0, d1)), s"missed high-cos top-1 of $s0")
    }
    // mean recall@K against the exact graph (floor measured on this
    // fixture with margin; mid-cosine neighbors are intrinsically hard
    // for sign-LSH at B ~ 8 planes — see dd07's GW note)
    val rec = exact.toSeq.map { case (s0, rs) =>
      rs.count(t => edges.contains((s0, t._2))).toDouble / rs.length }
    val mean = rec.sum / rec.size
    info(f"sim09 mean recall@K = $mean%.3f")
    assert(mean >= 0.30, f"recall floor: $mean%.3f")
  }

  test("sim09: the source-sliced selection emits EXACTLY the one-pass " +
      "rows (r12 slicing is a cost rewrite, never a semantic one)") {
    // slicing kicks in automatically only past the partial-coverage
    // bound (~10^5 sources); force it here and pin row identity — each
    // source lives in exactly one hash slice, candidates are the same
    // hamming<=1 collision set (symmetric), and the rescore is
    // deterministic, so the union of per-slice top-k must equal the
    // exploded one-pass selection bit-for-bit.
    def run(slices: Int): Set[(Long, Int, Long, Double)] = {
      spark.catalog.clearCache()
      operators.Similarity.knnGraphLsh(spark, sf, slices).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
    }
    val onePass = run(1)
    val sliced = run(3)
    assert(sliced == onePass,
      s"sliced != one-pass: only-sliced ${(sliced -- onePass).take(3)}, " +
        s"only-one-pass ${(onePass -- sliced).take(3)}")
  }

  // ---- tx27 ---------------------------------------------------------

  test("tx27: spectrum mass equals the brute-force df census for both " +
      "unigrams and trigram shingles") {
    val docs = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tokre = "[a-z0-9]+".r
    def hist(units: Seq[(Long, String)]): Map[Long, Long] =
      units.distinct.groupBy(_._2).map { case (_, v) => v.size.toLong }
        .groupBy(df => 63L - java.lang.Long.numberOfLeadingZeros(df))
        .map { case (b, v) => b -> v.size.toLong }
    val uni = docs.flatMap { case (id, t) =>
      tokre.findAllIn(t).map(id -> _) }.toSeq
    val tri = docs.flatMap { case (id, t) =>
      val w = tokre.findAllIn(t).toArray
      w.sliding(3).withFilter(_.length == 3).map(g => id -> g.mkString(" "))
    }.toSeq
    val wantU = hist(uni)
    val wantT = hist(tri)
    val got = SparkEntry.queries("tx27_docfreq_spectrum")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got.keySet == (wantU.keySet ++ wantT.keySet))
    got.foreach { case (b, (n1, n3)) =>
      assert(n1 == wantU.getOrElse(b, 0L), s"unigram bucket $b")
      assert(n3 == wantT.getOrElse(b, 0L), s"shingle bucket $b")
    }
    // mass conservation: every distinct term lands in exactly one bucket
    assert(got.values.map(_._1).sum == uni.distinct.map(_._2).distinct.size)
    assert(got.values.map(_._2).sum == tri.distinct.map(_._2).distinct.size)
  }
}
