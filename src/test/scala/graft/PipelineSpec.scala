package graft

import org.scalatest.funsuite.AnyFunSuite

/** pp01 corpus-prep capstone: lineage sanity + the read-once contract.
  * Cross-engine correctness (every stage count and fingerprint vs the
  * nine-stage DuckDB CTE replay) is the driver gate's job; these pin
  * the engine-side structural properties the oracle cannot see. */
class PipelineSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  test("pp01: lineage is complete, doc stages are monotone, counts chain") {
    spark.catalog.clearCache()
    val (lineage, _) = operators.Pipeline.run(spark, sf)
    // PERSIST-LIFECYCLE pin (r13 advisor: q6.unpersist targeted the cut
    // LogicalRDD frame — a silent no-op that leaked stage 6's blocks for
    // the rest of the run). unpersist removes the CacheManager entry
    // synchronously even with blocking=false, so after a keepFrames=false
    // run the SQL cache must be EMPTY.
    assert(spark.sharedState.cacheManager.isEmpty,
      "pp01 leaked persisted stage frames (unpersist must target the " +
        "persisted pre-cut handle, never the PlanCut frame)")
    spark.catalog.clearCache()
    assert(lineage.map(_._2) == Seq("quality", "dedup", "span_dedup",
      "decontaminate", "mixture", "split_train", "shuffle", "bpe_segment",
      "pack"))
    // every stage's rows_in equals the previous stage's rows_out
    lineage.sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 == a._4, s"${b._2}: rows_in ${b._3} != ${a._2} out ${a._4}")
    }
    // filter stages only ever shrink; shuffle/segment preserve counts
    lineage.filter(l => l._1 <= 6).foreach(l =>
      assert(l._4 <= l._3, s"${l._2} grew the corpus"))
    val byName = lineage.map(l => l._2 -> l).toMap
    assert(byName("shuffle")._3 == byName("shuffle")._4)
    assert(byName("bpe_segment")._3 == byName("bpe_segment")._4)
    // something must survive the whole pipeline at sf0.001
    assert(byName("pack")._4 > 0, "empty packed corpus")
  }

  test("pp01: stage 3 cuts planted spans exactly as dd19 does") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    // 40 docs of 45 words from a 300-word vocabulary (each passes the
    // quality gate; no two are near-duplicates), with two planted spans
    // of at least SpanSeedLen words: SpanSeedLen + 5 words in docs 3, 11
    // and 25, SpanSeedLen + 1 in docs 7 and 30. Every doc reaches stage
    // 3, so dd19 over the same table sees the same docs.
    val L = operators.Dedup.SpanSeedLen
    val spanA = (0 until L + 5).map(i => s"a$i")
    val spanB = (0 until L + 1).map(i => s"b$i")
    val planted = Map(3 -> spanA, 11 -> spanA, 25 -> spanA,
      7 -> spanB, 30 -> spanB)
    def text(id: Int): String = {
      val w = (0 until 45).map(j => s"w${(id * 119 + j * 29 + j * j) % 300}")
      (w.take(10) ++ planted.getOrElse(id, Nil) ++ w.drop(10)).mkString(" ")
    }
    val dir = tempDir("pp01-spans")
    graft.core.ParquetFiles.writeSingle((0 until 40)
        .map(id => (id.toLong, text(id), Seq("en", "fr")(id % 2), s"src${id % 4}"))
        .toDF("doc_id", "text", "lang", "source"),
      new java.io.File(dir, "documents.parquet"))
    try {
      val (lineage, frames) =
        operators.Pipeline.run(spark, dir.getPath, keepFrames = true)
      val byName = lineage.map(l => l._2 -> l).toMap
      assert(byName("dedup")._4 == 40, "a fixture doc left before stage 3")
      assert(byName("span_dedup")._5 != byName("dedup")._5,
        "stage 3 cut nothing")
      val staged = frames.toMap.apply("span_dedup")
        .select(col("doc_id"), md5(col("text")))
        .as[(Long, String)].collect().toMap
      val dd19 = SparkEntry.queries("dd19_substring_dedup_corpus")(
          spark, dir.getPath)
        .select("doc_id", "clean_fp", "n_cut")
        .as[(Long, String, Long)].collect()
      assert(staged == dd19.map(r => r._1 -> r._2).toMap)
      // the non-canonical copies are cut, and only they: 11, 25 and 30
      assert(dd19.filter(_._3 > 0).map(r => r._1 -> r._3).toMap ==
        Map(11L -> (L + 5L), 25L -> (L + 5L), 30L -> (L + 1L)))
    } finally {
      spark.catalog.clearCache()
      org.apache.spark.network.util.JavaUtils.deleteRecursively(dir)
    }
  }

  test("pp01: READ-ONCE + BOUNDED PLANS — the whole nine-stage run " +
      "reads the documents parquet once (byte-counted), every stage is " +
      "plan-severed, and no fresh action re-scans parquet") {
    import scala.jdk.CollectionConverters._
    // the EMPIRICAL read-once contract: Hadoop FileSystem statistics
    // count every byte the local-FS scheme reads across all in-process
    // task threads. run() may read documents.parquet once (column-
    // pruned, so a single scan reads LESS than the file size); a stage
    // that re-scanned parquet would add ~another scan's worth.
    def fileBytesRead: Long =
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    def diskSize(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(diskSize).sum).getOrElse(0L)
    val docBytes = diskSize(new java.io.File(s"$sf/documents.parquet"))
    val before = fileBytesRead
    // keepFrames: every frame's blocks are retained for the fresh-action
    // probes below (the r13 eager-unpersist lifecycle is off here)
    val (_, frames) = operators.Pipeline.run(spark, sf, keepFrames = true)
    val delta = fileBytesRead - before
    try {
      assert(delta <= (docBytes * 1.25).toLong + (1 << 20),
        s"pipeline read $delta file bytes for a $docBytes-byte corpus — " +
          "some stage re-scans parquet instead of its cached parent")
      assert(delta > 0, "pipeline read nothing — the byte audit is broken")
      // every stage frame is severed to a one-leaf LogicalRDD over its
      // materialized cache scan (the r13 fix for the exponential plan
      // nesting that made every pp01 action pay ~15 s of driver-side
      // planning at sf0.1)
      frames.foreach { case (name, df) =>
        val lp = df.queryExecution.logical
        assert(lp.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
          s"stage $name is not plan-severed: ${lp.getClass.getName}")
      }
      // regression guard for the blowup itself: a FRESH action on the
      // deepest frame must plan a tiny tree (the unsevered r12 form
      // planned ~1.1M lines here) and never touch parquet
      frames.foreach { case (name, df) =>
        val ep = df.groupBy().count().queryExecution.executedPlan.toString
        assert(ep.linesIterator.length < 200,
          s"stage $name plans ${ep.linesIterator.length} lines — lineage " +
            "is accreting again")
        assert(!ep.contains("FileScan"), s"stage $name re-scans parquet")
      }
    } finally spark.catalog.clearCache()
  }
}
