package graft

import java.nio.file.{Files, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** Parity on the reference's OWN fixtures: the Traffic-Signs corpus every
  * reference demo and benchmark runs on (reference test_files/
  * Traffic_Signs.csv and TrafficSigns_10000; reference tests/
  * sample1_op{1,2}.py, sample2_op{1,2}.py; reports/Streaming.pdf p.2).
  *
  * Goldens were computed ONCE with an independent Python replica of the
  * reference operators (re.search / line.split(",") / dict counts — the
  * reference's exact semantics, including its NAIVE comma split) and are
  * inlined below. Traffic_Signs.csv contains 5,077 rows whose quoted
  * fields (`"16"" X 42"""`) make the naive split diverge from a real CSV
  * parse at field 6 (SURVEY §7.4(2)) — these counts therefore pin the
  * engine to the reference's bug-compatible `split(",")` path: a
  * quote-aware parser would produce different numbers (e.g. the complex
  * app's per-category totals shift by hundreds).
  *
  * The apps run through the full streaming path (RainStormJob: file
  * source -> op chain -> idempotent per-batch text sink), not a batch
  * shortcut, so this is end-to-end final-state equality.
  */
class ReferenceFixturesSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()

  private val fixtures = "/root/reference/test_files"
  // overridable with the knob `graft.Bench` reads for the same files
  private val fixtureRoot = sys.env.getOrElse("SPARK_GRAFT_FIXTURES", fixtures)

  /** Copy a read-only fixture into a fresh streaming input dir. */
  private def stage(name: String): java.io.File = {
    val root = tempDir(s"ref-fix-$name")
    val in = new java.io.File(root, "in"); in.mkdirs()
    Files.copy(new java.io.File(fixtureRoot, name).toPath,
      new java.io.File(in, name).toPath, StandardCopyOption.REPLACE_EXISTING)
    root
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def runApp(fixture: String, ops: Seq[RainStormOp],
      stateful: Boolean): Seq[String] = {
    val root = stage(fixture)
    val out = new java.io.File(root, "out")
    val q = RainStormJob.start(spark, new java.io.File(root, "in").getPath,
      ops, out.getPath, new java.io.File(root, "ckpt").getPath, stateful)
    q.awaitTermination()
    TempDirs.committedLines(spark, out.getPath)
  }

  test("simple app over TrafficSigns_10000 matches the reference goldens") {
    // reference demo: filter re.search("Punched Telespar"), emit
    // (row[2]=OBJECTID, row[3]=Sign_Type)   [tests/sample1_op{1,2}.py]
    val got = runApp("TrafficSigns_10000",
      RainStormApps.simpleApp("Punched Telespar", 2, 3), stateful = false)
    assert(got.size == 5151)
    assert(md5(got.sorted.mkString("\n")) ==
      "522e71d50abe48aedca63f4f752ad9e9")
  }

  test("simple app over Traffic_Signs.csv (quoted rows) matches goldens") {
    val got = runApp("Traffic_Signs.csv",
      RainStormApps.simpleApp("Streetname", 2, 3), stateful = false)
    assert(got.size == 4177)
    assert(md5(got.sorted.mkString("\n")) ==
      "d39f4b1dd19e02fac904fdc5666c8fbe")
  }

  test("complex app over Traffic_Signs.csv: bug-compatible final counts") {
    // reference demo: filter row[6] == "Punched Telespar", running count
    // by row[8]   [tests/sample2_op{1,2}.py]. Under a QUOTE-AWARE parse
    // these totals would differ (5,077 rows shift at field 6); equality
    // here proves the engine keeps the reference's naive-split semantics.
    val got = runApp("Traffic_Signs.csv",
      RainStormApps.complexApp(6, "Punched Telespar", 8), stateful = true)
    val finalCounts = got
      .map { l => val i = l.lastIndexOf(':'); (l.substring(0, i),
        l.substring(i + 1).toLong) }
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).max) }
    val want = Map(
      " " -> 3L, "Custom" -> 145L, "Guide" -> 48L, "MTD" -> 110L,
      "Object Marker" -> 104L, "Parking" -> 2006L, "Regulatory" -> 2316L,
      "School" -> 263L, "Streetname" -> 2798L, "Warning" -> 333L)
    assert(finalCounts == want)
    // per-update emission cardinality: one output row per matching record
    assert(got.size == want.values.sum)
  }
}
