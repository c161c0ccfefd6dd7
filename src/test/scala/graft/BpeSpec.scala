package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge induction (tx29) + corpus segmentation (tx30). The DuckDB
  * oracle replays the same relational plan, so these specs pin what
  * oracle equality cannot: agreement with an INDEPENDENT pure-Scala
  * BPE trainer (hash maps and string scans — no SQL, no pipe fences,
  * no replace tricks shared with either engine), the overlap semantics
  * (count overlapping adjacencies, merge greedily non-overlapping),
  * and the count/segment consistency between the two queries. */
class BpeSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  private def tokens(text: String): Array[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toArray

  /** Reference BPE trainer: symbol sequences as Vector[String], pair
    * counts by position scan (overlapping), merge by explicit greedy
    * left-to-right reconstruction — structurally nothing in common with
    * the fenced-string replace kernel under test. */
  private def refTrain(words: Map[String, Long], steps: Int)
      : List[(String, String, Long)] = {
    var seqs: Map[Vector[String], Long] =
      words.groupMapReduce(_._1.map(_.toString).toVector)(_._2)(_ + _)
    var out = List.empty[(String, String, Long)]
    for (_ <- 1 to steps) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      seqs.foreach { case (sq, f) =>
        (0 until sq.length - 1).foreach(i =>
          counts((sq(i), sq(i + 1))) += f)
      }
      if (counts.nonEmpty) {
        val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) =>
          (-n, x, y)
        }
        out :+= ((a, b, c))
        seqs = seqs.groupMapReduce(_._1 match { case sq =>
          val r = Vector.newBuilder[String]
          var i = 0
          while (i < sq.length) {
            if (i + 1 < sq.length && sq(i) == a && sq(i + 1) == b) {
              r += (a + b); i += 2
            } else { r += sq(i); i += 1 }
          }
          r.result()
        })(_._2)(_ + _)
      }
    }
    out
  }

  private def corpusWords: Map[String, Long] =
    graft.core.Tables(spark, sf, "documents")
      .select(col("text")).collect()
      .flatMap(r => tokens(r.getString(0)))
      .groupMapReduce(identity)(_ => 1L)(_ + _)

  test("tx29: merge table equals the independent pure-Scala BPE " +
      "trainer on the fixture corpus (pairs, order, counts)") {
    val got = SparkEntry.queries("tx29_bpe_merges")(spark, sf)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toList
    val want = refTrain(corpusWords, got.length)
    assert(got.length == 10, "fixture corpus must sustain all 10 merges")
    assert(got == want)
  }

  test("tx29: overlap semantics — counts overlapping adjacencies, " +
      "merges greedily non-overlapping (the aaaa case)") {
    // planted vocabulary where the two semantics disagree: 'aaaa' has
    // THREE (a,a) adjacencies (overlap count) but merges to exactly
    // TWO 'aa' symbols (greedy application), so step 2's winning count
    // sees the post-merge sequences, not a re-count of raw adjacency
    val words = Map("aaaa" -> 10L, "bc" -> 9L)
    val m = refTrain(words, 2)
    assert(m(0) == (("a", "a", 30L))) // 3 adjacencies x freq 10
    // after merging: 'aa aa' -> (aa,aa) count 10, beats (b,c)=9
    assert(m(1) == (("aa", "aa", 10L)))
    // and the engine agrees on the same planted corpus via a temp table
    val tmp = tempDir("bpe").getPath
    import spark.implicits._
    words.toSeq.zipWithIndex
      .flatMap { case ((w, f), i) => Seq.fill(f.toInt)((i.toLong, w)) }
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("tx29_bpe_merges")(spark, tmp)
      .orderBy("step").limit(2).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toList
    assert(got == m)
  }

  test("tx30: per-language totals are consistent — bpe_tokens between " +
      "words (full compression) and chars (none), and chars match an " +
      "independent recount") {
    val rows = SparkEntry.queries("tx30_bpe_segment")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (words, chars, bpe) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(bpe >= words && bpe <= chars,
        s"lang ${r.getString(0)}: bpe=$bpe outside [$words, $chars]")
      assert(bpe < chars, "10 merges must compress something")
    }
    val wantChars = graft.core.Tables(spark, sf, "documents")
      .select(col("lang"), col("text")).collect()
      .groupMapReduce(_.getString(0))(r =>
        tokens(r.getString(1)).map(_.length.toLong).sum)(_ + _)
    rows.foreach(r =>
      assert(r.getLong(3) == wantChars(r.getString(0))))
  }

  test("batched rebase (trainN batch=5) == unbatched on a real corpus, " +
      "and both equal the independent trainer at 24 merges") {
    // the production-scale path: re-materializing the encoded vocab
    // every `batch` merges must change WHERE the replace fold starts,
    // never WHAT it computes — the 24-merge run crosses four rebase
    // boundaries and must equal the single-chain run merge-for-merge
    val batched = graft.operators.Bpe.trainN(spark, sf, 24, batch = 5)
    val unbatched = graft.operators.Bpe.trainN(spark, sf, 24, batch = 1000)
    assert(batched == unbatched)
    assert(batched.length >= 20, "corpus must sustain most of 24 merges")
    assert(batched.toList == refTrain(corpusWords, batched.length))
  }

  test("tx29/tx30: deterministic across runs") {
    val a = SparkEntry.queries("tx29_bpe_merges")(spark, sf)
      .collect().toSeq.map(_.toString).sorted
    val b = SparkEntry.queries("tx29_bpe_merges")(spark, sf)
      .collect().toSeq.map(_.toString).sorted
    assert(a == b)
  }
}
