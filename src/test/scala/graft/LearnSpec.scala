package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** em01/em02/tx28 carry bit-exact DuckDB oracles (the driver gate);
  * these specs pin what the oracle cannot:
  *  - the cross-engine DIVISION contract the whole integer fixed-point
  *    design rests on (Spark `div`, scala BigInt `/`, DuckDB `//` all
  *    truncate toward zero — the Learn family is the first to divide
  *    NEGATIVE quantities, where truncation and floor differ),
  *  - the distributed moment/training passes against independent
  *    pure-Scala recomputes that share no code with either engine,
  *  - that the solve finds the actual principal direction (planted
  *    dominant component) and the classifier actually learns (accuracy
  *    above the majority baseline), and
  *  - the plan shapes that decide 100 TB survival.
  */
class LearnSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  private val Scale = 1000000L
  private val Dim = 64

  test("integer division truncates toward zero in Spark and BigInt " +
      "(matches DuckDB's measured `//`)") {
    // DuckDB measured: -7 // 3 = -2, 7 // -3 = -2 (trunc). Pin the other
    // two legs of the three-engine contract.
    val r = spark.sql("SELECT -7L div 3L, 7L div -3L, -7L % 3L").first()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (-2L, -2L, -1L))
    assert(BigInt(-7) / 3 == BigInt(-2) && BigInt(7) / -3 == BigInt(-2))
    assert(BigInt(-7) % 3 == BigInt(-1))
  }

  /** Pure-Scala BigInt replay of the em01 spec straight from the raw
    * floats: micro-round, raw moments, Mr = (nP − SSᵀ) // n, then FOUR
    * components — 60 L∞ power iterations each with Hotelling deflation
    * between them (m ← m − (λ·v·vᵀ)//vv, λ = vmv//vv, every division
    * trunc) — and the uncentered projections. Maps and loops only —
    * no Spark, no SQL. */
  private def brutePca(x: Array[Array[Float]])
      : (Array[Array[Long]], Map[Int, Seq[Long]]) = {
    val n = BigInt(x.length)
    val xm = x.map(_.map(f => math.floor(f.toDouble * Scale + 0.5).toLong))
    val s = Array.tabulate(Dim)(j => BigInt(xm.map(_(j)).sum))
    val mr = Array.tabulate(Dim, Dim) { (j, k) =>
      val p = xm.map(r => BigInt(r(j)) * r(k)).sum
      (n * p - s(j) * s(k)) / n
    }
    val work = mr.map(_.clone())
    val comps = (0 until 4).map { c =>
      var v = Array.fill(Dim)(BigInt(Scale))
      for (_ <- 1 to 60) {
        val u = Array.tabulate(Dim)(j =>
          (0 until Dim).map(k => work(j)(k) * v(k)).sum)
        val mx = u.map(_.abs).max
        if (mx > 0) v = u.map(_ * Scale / mx)
      }
      if (c < 3) {
        val vv = v.map(b => b * b).sum
        val vmv = (0 until Dim).map(j =>
          (0 until Dim).map(k => work(j)(k) * v(j) * v(k)).sum).sum
        if (vv > 0) {
          val lam = vmv / vv
          for (j <- 0 until Dim; k <- 0 until Dim)
            work(j)(k) -= (lam * v(j) * v(k)) / vv
        }
      }
      v
    }
    val proj = xm.zipWithIndex.map { case (r, i) =>
      i -> comps.map(v =>
        ((0 until Dim).map(j => BigInt(r(j)) * v(j)).sum / Scale).toLong)
    }.toMap
    (comps.map(_.map(_.toLong).toArray).toArray, proj)
  }

  test("em01: all four component projections equal the independent " +
      "BigInt recompute (deflation included) exactly on the fixture") {
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).sortBy(_._1)
    val (_, want) = brutePca(raw.map(_._2))
    val got = SparkEntry.queries("em01_pca_project")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong(_)))
      .toMap
    spark.catalog.clearCache()
    val wantById = raw.map(_._1).zipWithIndex
      .map { case (id, i) => id -> want(i) }.toMap
    assert(got == wantById)
  }

  test("em01/em02: planted dominant direction is recovered " +
      "(synthetic corpus, known spectrum)") {
    val dir = tempDir("learn-planted").getPath
    // u = alternating-sign ramp, deterministic noise from the indices —
    // one direction carries ~100x the variance of any noise axis
    val u = Array.tabulate(Dim)(j =>
      (if (j % 2 == 0) 1.0 else -1.0) * (j + 1) / Dim)
    val un = { val n = math.sqrt(u.map(x => x * x).sum); u.map(_ / n) }
    val m = 2000
    val rows = (0 until m).map { i =>
      val a = (i - m / 2) * 0.01
      val emb = Array.tabulate(Dim)(j =>
        (a * un(j) + ((i * 31 + j * 7) % 11 - 5) * 0.001).toFloat)
      (i.toLong, emb.toSeq, 0)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("em01_pca_project")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    spark.catalog.clearCache()
    // Pearson correlation of pc1 with the planted coefficient
    val a = (0 until m).map(i => (i - m / 2) * 0.01)
    val p = (0 until m).map(i => got(i.toLong))
    def corr(x: Seq[Double], y: Seq[Double]): Double = {
      val (mx, my) = (x.sum / x.size, y.sum / y.size)
      val cov = x.zip(y).map { case (xi, yi) => (xi - mx) * (yi - my) }.sum
      val (sx, sy) = (math.sqrt(x.map(v => (v - mx) * (v - mx)).sum),
        math.sqrt(y.map(v => (v - my) * (v - my)).sum))
      cov / (sx * sy)
    }
    assert(math.abs(corr(a, p)) > 0.99,
      s"pc1 must track the planted direction, corr=${corr(a, p)}")
    // em02's eigenvalue vs an independent double-precision power
    // iteration (L2-normalized — different normalization, different
    // arithmetic) on the micro-rounded covariance
    val xm = rows.map(_._2.map(f =>
      math.floor(f.toDouble * Scale + 0.5)).toArray)
    val mean = Array.tabulate(Dim)(j => xm.map(_(j)).sum / m)
    val c = Array.tabulate(Dim, Dim) { (j, k) =>
      xm.map(r => (r(j) - mean(j)) * (r(k) - mean(k))).sum / m
    }
    var v = Array.fill(Dim)(1.0)
    for (_ <- 1 to 200) {
      val w = Array.tabulate(Dim)(j =>
        (0 until Dim).map(k => c(j)(k) * v(k)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
    }
    val lam = (0 until Dim).map(j =>
      (0 until Dim).map(k => c(j)(k) * v(k)).sum * v(j)).sum
    val gotEig = SparkEntry.queries("em02_pca_variance")(spark, dir)
      .collect()(0)
    spark.catalog.clearCache()
    assert(gotEig.getLong(0) == m.toLong)
    val eigMicro = lam / Scale // micro-units of the biased covariance
    assert(math.abs(gotEig.getLong(1) - eigMicro) <= eigMicro * 0.02,
      s"eigval_micro ${gotEig.getLong(1)} vs independent $eigMicro")
  }

  /** Pure-Scala replay of the tx28 training spec from re-derived
    * features (own tokenizer pass over the raw text — Java regex, not
    * Spark's codegen path). */
  private def bruteTrain(feats: Seq[(Array[Long], Long)])
      : (Array[Long], Map[Array[Long], Long]) = {
    val n = BigInt(feats.size)
    def tdiv(a: BigInt, b: BigInt): BigInt = a / b // BigInt / truncates
    def sig(x: Array[Long], w: Array[Long]): Long = {
      val z = tdiv((0 until 6).map(j => BigInt(x(j)) * w(j)).sum, Scale)
      (500000 + tdiv(tdiv(z * Scale, Scale + z.abs), 2)).toLong
    }
    val w = Array.fill(6)(0L)
    for (_ <- 1 to 24) {
      val g = Array.fill(6)(BigInt(0))
      feats.foreach { case (x, y) =>
        val err = BigInt(sig(x, w)) - y * Scale
        (0 until 6).foreach(j => g(j) += tdiv(err * x(j), Scale))
      }
      (0 until 6).foreach(j =>
        w(j) = (BigInt(w(j)) - g(j) * 16 / n).toLong)
    }
    (w, Map.empty)
  }

  test("tx28: scores equal an independent pure-Scala integer replay, " +
      "and the classifier beats the majority baseline") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tokRe = "[a-z0-9]+".r
    val feats = docs.map { case (id, text, nChars) =>
      val toks = tokRe.findAllIn(text.toLowerCase).toSeq
      val nTok = toks.size.toLong
      if (nTok == 0) None
      else {
        val nTypes = toks.distinct.size.toLong
        val x = Array(
          Scale,
          math.min(nTok, 512L) * Scale / 512L,
          nTypes * Scale / nTok,
          toks.count(t => t == "the" || t == "a") * Scale / nTok,
          math.min(nChars, 4000L) * Scale / 4000L,
          math.min(toks.map(_.length.toLong).sum / nTok, 16L) * Scale / 16L)
        val y = if (nTok >= 40 && nTypes * 4 >= nTok) 1L else 0L
        Some((id, x, y))
      }
    }.flatten
    val (w, _) = bruteTrain(feats.map(f => (f._2, f._3)).toSeq)
    def sig(x: Array[Long]): Long = {
      val z = (0 until 6).map(j => BigInt(x(j)) * w(j)).sum / Scale
      (500000 + (z * Scale / (Scale + z.abs)) / 2).toLong
    }
    val want = feats.map(f => f._1 -> (sig(f._2), f._3)).toMap
    val got = SparkEntry.queries("tx28_quality_classifier")(spark, sf)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    spark.catalog.clearCache()
    assert(got.keySet == want.keySet)
    got.foreach { case (id, (score, pred, y)) =>
      assert((score, y) == want(id), s"doc $id")
      assert(pred == (if (score >= 500000) 1L else 0L))
    }
    val acc = got.values.count { case (_, p, y) => p == y }.toDouble /
      got.size
    val base = math.max(got.values.count(_._3 == 1L),
      got.values.count(_._3 == 0L)).toDouble / got.size
    assert(acc > base + 0.05,
      s"classifier must beat the majority baseline: acc=$acc base=$base")
  }

  test("tx28: training is deterministic across runs") {
    val q = SparkEntry.queries("tx28_quality_classifier")
    val a = q(spark, sf).collect().map(_.toString).sorted
    spark.catalog.clearCache()
    val b = q(spark, sf).collect().map(_.toString).sorted
    spark.catalog.clearCache()
    assert(a.sameElements(b))
  }

  test("plan shapes: em01's projection is join-free and the moment " +
      "pass shuffles only (partitions x moments) rows") {
    val plan = SparkEntry.queries("em01_pca_project")(spark, sf)
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(!plan.contains("Join"),
      "pc1 projection must be a literal-vector projection, not a join")
  }

  /** Pure-Scala BigInt replay of em03: micro-round, lowest-vec_id
    * seeds, 5 Lloyd steps with (dist, k) tie order and trunc-div
    * updates (empty cluster keeps its centroid), final census with the
    * per-row dist div Scale. Maps and loops only — no Spark, no SQL. */
  test("em03: census equals a pure-Scala integer k-means replay") {
    val raw = graft.core.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray
        .map(x => BigInt(math.floor(x.toDouble * Scale + 0.5).toLong))))
      .sortBy(_._1)
    var c: Array[Array[BigInt]] = raw.take(8).map(_._2.map(identity))
    def near(x: Array[BigInt]): (Int, BigInt) = {
      var bk = 0; var bd: BigInt = null
      for (k <- c.indices) {
        var dd = BigInt(0)
        for (j <- 0 until Dim) { val f = x(j) - c(k)(j); dd += f * f }
        if (bd == null || dd < bd) { bd = dd; bk = k }
      }
      (bk, bd)
    }
    for (_ <- 1 to 5) {
      val byK = raw.groupBy(r => near(r._2)._1)
      c = c.indices.toArray.map { k =>
        byK.get(k) match {
          case Some(m) =>
            Array.tabulate(Dim)(j => m.map(_._2(j)).sum / m.length)
          case None => c(k)
        }
      }
    }
    val want = raw.groupBy(r => near(r._2)._1).map { case (k, m) =>
      val inertia = m.map(r => near(r._2)._2 / Scale).sum
      (k.toLong, m.length.toLong, (inertia / m.length).toLong)
    }.toSet
    val got = SparkEntry.queries("em03_kmeans_census")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    spark.catalog.clearCache()
    assert(got == want)
    assert(got.size == 8 && got.toSeq.map(_._2).sum == raw.length)
  }
}
