package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** Golden-parity for the reference's Customer-Churn workloads
  * (reports/Streaming.pdf p.2-3: simple app = pattern `*France*` ->
  * project(CustomerId, Surname); complex app = filter Gender=Female ->
  * running count by IsActiveMember). The churn CSV itself is not in the
  * reference repo, so the input is the deterministic Kaggle-schema
  * synthetic from `RainStormApps.syntheticChurnLines` — the same bytes
  * Bench's churn throughput rows run on.
  *
  * Goldens were computed ONCE with an independent Python replica of the
  * reference operator semantics (re.search / naive line.split(",") /
  * dict running counts — tests/sample1_op{1,2}.py, sample2_op{1,2}.py)
  * over the same 10,000 generated lines, and are inlined below. The apps
  * run through the full streaming path (file source -> op chain ->
  * idempotent per-batch text sink), not a batch shortcut.
  */
class ChurnFixtureSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()

  private def stageChurn(): java.io.File = {
    val root = tempDir("churn-fix")
    val in = new java.io.File(root, "in"); in.mkdirs()
    Files.write(new java.io.File(in, "churn.csv").toPath,
      RainStormApps.syntheticChurnLines(10000)
        .mkString("\n").getBytes("UTF-8"))
    root
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def runApp(ops: Seq[RainStormOp], stateful: Boolean): Seq[String] = {
    val root = stageChurn()
    val out = new java.io.File(root, "out")
    val q = RainStormJob.start(spark, new java.io.File(root, "in").getPath,
      ops, out.getPath, new java.io.File(root, "ckpt").getPath, stateful)
    q.awaitTermination()
    TempDirs.committedLines(spark, out.getPath)
  }

  test("churn simple app (*France* -> CustomerId,Surname) matches goldens") {
    val got = runApp(RainStormApps.simpleApp("France", 1, 2),
      stateful = false)
    assert(got.size == 3334)
    assert(md5(got.sorted.mkString("\n")) ==
      "203518598e92f996f71ddf25f739e586")
  }

  test("churn complex app (Gender=Female -> count by IsActiveMember) " +
      "matches goldens, per-update cardinality included") {
    val got = runApp(RainStormApps.complexApp(5, "Female", 11),
      stateful = true)
    // Per-update emission: one output row per matching record, so the
    // multiset of emissions per key is exactly {k:1 .. k:final} and the
    // sorted concatenation is deterministic.
    assert(got.size == 5000)
    assert(md5(got.sorted.mkString("\n")) ==
      "2d36a1619010e94c33a59002a209d570")
    val finalCounts = got
      .map { l => val i = l.lastIndexOf(':'); (l.substring(0, i),
        l.substring(i + 1).toLong) }
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).max) }
    assert(finalCounts == Map("0" -> 2500L, "1" -> 2500L))
  }
}
