package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-shaping operators (this round): exact distributed running sum
  * (Scale.globalCumsum), sequence packing into fixed context windows
  * (tx18), mixture-rebalancing sampling (tx19), and incremental
  * snapshot dedup (dd12).
  */
class CorpusShapingSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  /** Replicates the portable md5 bucket used by tx16/tx19/dd12. */
  private def md5Bucket(key: String, mod: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    java.lang.Long.parseLong(hex, 16) % mod
  }

  test("globalCumsum: exact inclusive running sum under a total order, " +
      "independent of input partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1L to 1000L).map(i => (i, rnd.nextInt(50).toLong))
    val df = rnd.shuffle(rows).toDF("id", "v").repartition(17)
    val got = operators.Scale.globalCumsum(df, Seq(col("id")), col("v"))
      .select(col("id"), col("__cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var acc = 0L
    rows.foreach { case (id, v) =>
      acc += v
      assert(got(id) == acc, s"cumsum mismatch at id=$id")
    }
  }

  test("tx18: every window except the last holds exactly C tokens, " +
      "per-doc contributions reassemble each document, ids contiguous") {
    val C = 512L
    val out = SparkEntry.queries("tx18_sequence_pack")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // window occupancy: full C everywhere but the final window
    val byWin = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val maxW = byWin.keys.max
    assert(byWin.keys.min == 0L)
    assert((0L to maxW).forall(byWin.contains), "window ids not contiguous")
    byWin.foreach { case (w, tot) =>
      if (w < maxW) assert(tot == C, s"window $w holds $tot tokens")
      else assert(tot > 0 && tot <= C)
    }
    // per-doc totals match the tokenizer count (reassembly is lossless)
    val nTok = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), expr(
        s"CAST(size(${operators.TextAnalysis.tokensExpr}) AS BIGINT)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_._1).foreach { case (doc, rows) =>
      assert(rows.map(_._3).sum == nTok(doc), s"doc $doc token loss")
      // a doc's windows are one contiguous run (it is a contiguous span)
      val ws = rows.map(_._2).sorted.toSeq
      assert(ws == (ws.head to ws.last).toSeq,
        s"doc $doc spans non-adjacent")
    }
  }

  test("tx19: selected doc set equals an independent driver-side " +
      "replication of the integer mixture arithmetic") {
    val docs = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val w = n.keys.map(s => s -> (md5Bucket(s, 3L) + 1)).toMap
    val tw = w.values.sum
    val m = n.keys.map(s => n(s) * tw / w(s)).min
    val thresh = n.keys.map(s => s -> (m * w(s) / tw) * 1048576 / n(s)).toMap
    val expected = docs.filter { case (id, s) =>
      md5Bucket(id.toString, 1048576L) < thresh(s)
    }.toSet
    val got = SparkEntry.queries("tx19_mixture_sample")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(got == expected)
    assert(got.nonEmpty, "sample selected nothing at sf0.001")
  }

  test("tx19: per-source kept counts concentrate on the integer target " +
      "keep_s (binomial bound), so the mixture arithmetic is live") {
    val n = graft.core.Tables(spark, sf, "documents")
      .groupBy(col("source")).agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = n.keys.map(s => s -> (md5Bucket(s, 3L) + 1)).toMap
    val tw = w.values.sum
    val m = n.keys.map(s => n(s) * tw / w(s)).min
    val got = SparkEntry.queries("tx19_mixture_sample")(spark, sf)
      .groupBy(col("source")).agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    n.keys.foreach { s =>
      val keep = m * w(s) / tw
      val k = got.getOrElse(s, 0L)
      // md5 buckets are ~uniform, so k ~ Binomial(n_s, keep/n_s); a
      // 5-sigma band (+1 for threshold floor) fails any broken
      // threshold (e.g. keep-everything or keep-nothing) while never
      // flaking on a correct one.
      val slack = 5 * math.sqrt(keep.toDouble) + 1
      assert(math.abs(k - keep) <= slack,
        s"$s kept $k, target $keep (slack $slack)")
      assert(k <= n(s), s"$s upsampled")
    }
  }

  test("tx20: positions are an exact 1..N permutation matching a " +
      "driver-side replication of the seeded md5 order") {
    val got = SparkEntry.queries("tx20_corpus_shuffle")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = got.length
    assert(n > 0)
    assert(got.map(_._3).sorted.toSeq == (1L to n).toSeq,
      "positions are not a 1..N permutation")
    // independent replication: JVM md5 of "42:<id>", sort by (hex, id)
    def key(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"42:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = got.map(_._1).sorted.map(id => (key(id), id))
      .sorted.zipWithIndex.map { case ((k, id), i) => id -> (i + 1L) }.toMap
    got.foreach { case (id, hex, pos) =>
      assert(hex == key(id), s"doc $id key mismatch")
      assert(pos == expected(id), s"doc $id position mismatch")
    }
  }

  test("dd12: new-batch docs match prefix fingerprints against the " +
      "existing corpus only, and the join is a pinned shuffle join") {
    import spark.implicits._
    // ids 1..60; md5 buckets put {8,20,25,28,30,37,40,43,59} in the new
    // batch (>= 90). doc 8 (new) shares its 30-token prefix with doc 3
    // (existing) -> dup; docs 20 and 25 (both new) share a prefix with
    // each other only -> NOT dups (the existing corpus has no copy).
    val ids = (1L to 60L)
    def prefix(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val text = ids.map { i =>
      val p =
        if (i == 8 || i == 3) prefix("shared")
        else if (i == 20 || i == 25) prefix("newonly")
        else prefix(s"u$i")
      // docs 28 (new) and 5 (existing) are token-free: their fp must be
      // NULL, never a shared md5('') that would fake a dup pair
      if (i == 28 || i == 5) i -> "!!! ... ???"
      else i -> s"$p tail$i extra$i"
    }.toMap
    val dir = tempDir("dd12").toPath
    ids.map(i => (i, text(i), "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val q = SparkEntry.queries("dd12_snapshot_dedup")(spark, dir.toString)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && !plan.contains("Broadcast"),
      s"fp join must stay a shuffle join:\n$plan")
    val got = q.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(2))).toSet
    val newIds = Set(8L, 20L, 25L, 28L, 30L, 37L, 40L, 43L, 59L)
    assert(got.map(_._1) == newIds)
    assert(got.contains((8L, 3L, true)))
    got.filter(_._1 != 8L).foreach { case (id, dupOf, isDup) =>
      assert(!isDup && dupOf == -1L, s"doc $id wrongly flagged")
    }
  }
}
