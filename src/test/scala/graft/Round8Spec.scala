package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 operators: span dedup (dd11), PII redaction (tx15),
  * deterministic corpus split (tx16), Bloom decontamination (tx17). */
class Round8Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  test("dd11: per-doc dup-span stats match brute force on a known corpus") {
    import spark.implicits._
    // 25-word docs -> 2 non-overlapping 10-word spans each, 5 words tail.
    // d1/d2 share span A (their first 10 words); d3 is disjoint; d4 has
    // 9 words (below one span) and must not appear at all.
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val b = (1 to 10).map(i => s"b$i").mkString(" ")
    val c = (1 to 10).map(i => s"c$i").mkString(" ")
    val e = (1 to 10).map(i => s"e$i").mkString(" ")
    val tail = "t1 t2 t3 t4 t5"
    val dir = java.nio.file.Files.createTempDirectory("dd11")
    Seq(
      (1L, s"$a $b $tail", "en", "s1", 0L),
      (2L, s"$a $c $tail", "en", "s1", 0L),
      (3L, s"$e $e $tail", "en", "s1", 0L), // span e duplicated IN-doc only
      (4L, "w1 w2 w3 w4 w5 w6 w7 w8 w9", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dd11_span_dedup")(spark, dir.toString)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // d3: span e occurs twice but in ONE distinct doc -> not duplicated
    assert(got == Map(
      1L -> ((2L, 1L, 0.5, false)),
      2L -> ((2L, 1L, 0.5, false)),
      3L -> ((2L, 0L, 0.0, true))))
  }

  test("tx15: redacted text contains no residual pattern hits and every " +
      "doc logs the constructed contact block") {
    val out = SparkEntry.queries("tx15_pii_redact")(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // the appended block guarantees >= 1 email and >= 1 phone everywhere
    assert(rows.forall(_.getLong(1) >= 1L), "every doc has the email")
    assert(rows.forall(_.getLong(2) >= 1L), "every doc has the phone")
    // independent residual check: re-run the patterns over the actual
    // redacted STRING (not the md5) rebuilt the same way
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
    val phone = "[+]1-555-[0-9]{4}"
    val residual = graft.core.Tables(spark, sf, "documents")
      .withColumn("raw", concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .select(regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
        phone, "<PHONE>").as("red"))
      .filter(expr(s"size(regexp_extract_all(red, '$email', 0)) > 0") ||
        expr(s"size(regexp_extract_all(red, '$phone', 0)) > 0"))
      .count()
    assert(residual == 0L, "redaction left pattern hits behind")
  }

  test("tx16: split assignment is a deterministic function of doc_id " +
      "alone — stable across runs and under corpus growth") {
    val q = SparkEntry.queries("tx16_corpus_split")
    val r1 = q(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val r2 = q(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(r1 == r2, "two runs must agree exactly")
    assert(r1.keys.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // growth invariance: assignment computed over HALF the corpus equals
    // the full-corpus assignment on the shared docs (true because the
    // bucket depends on doc_id only — the property randomSplit lacks)
    val bucket = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) " +
        "AS BIGINT) % 100")
    val full = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), bucket.as("bk"))
    val half = graft.core.Tables(spark, sf, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), bucket.as("bk2"))
    val diff = full.join(half, "doc_id")
      .filter(col("bk") =!= col("bk2")).count()
    assert(diff == 0L)
  }

  test("tx17: bloom flags are a superset of tx13's exact flags, with " +
      "bounded over-flagging") {
    val exact = SparkEntry.queries("tx13_decontaminate")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    spark.catalog.clearCache()
    val bloom = graft.operators.TextAnalysis.bloomDecontaminate(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    spark.catalog.clearCache()
    assert(bloom.keySet == exact.keySet, "same corpus-side documents")
    exact.foreach { case (doc, (nSh, nShared, flagged)) =>
      val (bSh, bHits, bFlag) = bloom(doc)
      assert(bSh == nSh, s"doc $doc: shingle totals must agree")
      // one-sided error: a probe never misses a true member
      assert(bHits >= nShared,
        s"doc $doc: bloom hits $bHits below true shared $nShared")
      if (flagged) assert(bFlag, s"doc $doc: contaminated doc slipped " +
        "through the bloom filter (violates one-sided error)")
    }
    // over-flagging stays rare at 1% fpp: docs flagged by bloom but not
    // by the exact pass are boundary cases only
    val extra = bloom.count { case (doc, (_, _, f)) =>
      f && !exact(doc)._3 }
    assert(extra <= math.max(2, exact.size / 20),
      s"$extra of ${exact.size} docs over-flagged — fpp far above spec")
  }

  test("tx17: the executed plan holds no binary literal over 64 KiB") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.types.BinaryType
    val df = SparkEntry.queries("tx17_bloom_decontaminate")(spark, sf)
    assert(df.collect().nonEmpty)
    val helper = new AdaptiveSparkPlanHelper {}
    val literals = helper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.expressions.flatMap(_.collect {
        case Literal(b: Array[Byte], BinaryType) => b.length })
    }.flatten
    spark.catalog.clearCache()
    assert(literals.forall(_ <= 64 * 1024),
      s"binary literals of ${literals.sorted.reverse.take(3)} bytes in the plan")
  }
}
