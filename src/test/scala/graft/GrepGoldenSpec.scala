package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Grep

/** Port of the reference's LogQuerier golden-count test strategy
  * (reference tests/Log Querier/test.py:33-132 over generate_log.py):
  * synthesize Common-Log-Format logs per "machine" with KNOWN pattern
  * frequencies, then assert exact per-machine and total match counts for
  * frequent / medium / rare / regex patterns.
  */
class GrepGoldenSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()

  private val nMachines = 4
  private val linesPer = 1000

  // deterministic corpus: frequent on ~60% of lines, medium ~30%, rare ~10%
  // (the reference generator's split, generate_log.py:8-12), plus /product/N
  // URLs on every 5th line for the regex workload.
  private lazy val logDir: String = {
    val dir = tempDir("golden-logs")
    (1 to nMachines).foreach { m =>
      val sb = new StringBuilder
      (0 until linesPer).foreach { i =>
        val marker =
          if (i % 10 < 6) "GET_frequent" else if (i % 10 < 9) "PUT_medium"
          else "DEL_rare"
        val url = if (i % 5 == 0) s"/product/${i / 5}" else "/home"
        sb.append(s"""10.0.$m.$i - - [01/Jan/2026:00:00:00] "$marker $url" 200 $i\n""")
      }
      Files.write(new java.io.File(dir, s"machine.$m.log").toPath,
        sb.toString.getBytes("UTF-8"))
    }
    dir.getPath
  }

  private def counts(pattern: String): (Map[String, Long], Long) = {
    val lines = Grep.grepLogs(spark, s"$logDir/*.log", pattern)
    val perFile = Grep.grepCount(lines).collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("count"))).toMap
    val total = perFile("TOTAL")
    (perFile.filter(_._1 != "TOTAL").map { case (f, c) =>
      f.substring(f.lastIndexOf('/') + 1) -> c
    }, total)
  }

  test("frequent pattern: exact per-machine and total counts") {
    val (per, total) = counts("GET_frequent")
    assert(per.size == nMachines)
    assert(per.values.forall(_ == 600L))
    assert(total == 600L * nMachines)
  }

  test("medium and rare patterns") {
    assert(counts("PUT_medium")._2 == 300L * nMachines)
    assert(counts("DEL_rare")._2 == 100L * nMachines)
  }

  test("regex pattern /product/<digits>") {
    val (per, total) = counts("/product/[0-9]+")
    assert(per.values.forall(_ == 200L))
    assert(total == 200L * nMachines)
  }

  test("pattern absent everywhere yields only a zero TOTAL row") {
    val lines = Grep.grepLogs(spark, s"$logDir/*.log", "NO_SUCH_TOKEN_XYZ")
    val rows = Grep.grepCount(lines).collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("count") == 0L)
  }

  test("-i: case-insensitive matches regardless of pattern case") {
    val lines = Grep.grepLogs(spark, s"$logDir/*.log", "get_FREQUENT",
      ignoreCase = true)
    assert(lines.count() == 600L * nMachines)
    // and without -i the same pattern matches nothing
    assert(Grep.grepLogs(spark, s"$logDir/*.log", "get_FREQUENT").count() == 0)
  }

  test("-v: inverted match returns exactly the complement") {
    val n = Grep.grepLogs(spark, s"$logDir/*.log", "GET_frequent",
      invert = true).count()
    assert(n == (linesPer - 600L) * nMachines)
    // -v -i compose: invert of the case-folded match
    val ni = Grep.grepLogs(spark, s"$logDir/*.log", "get_FREQUENT",
      ignoreCase = true, invert = true).count()
    assert(ni == (linesPer - 600L) * nMachines)
  }

  test("-F: metacharacters are literal; ERE path treats them as syntax") {
    // "/product/[0-9]+" as a FIXED string appears on no line...
    assert(Grep.grepLogs(spark, s"$logDir/*.log", "/product/[0-9]+",
      fixed = true).count() == 0)
    // ...but a literal bracket-free fragment matches as plain text
    assert(Grep.grepLogs(spark, s"$logDir/*.log", "/product/10",
      fixed = true).count() > 0)
  }

  test("--limit caps the line output; --out writes it distributed") {
    // drive the REAL CLI body (cli.Main.runDgrep) so the toLocalIterator
    // streaming path, the CollectLimit wiring from DgrepArgs, and the
    // --out distributed write are what is under test, not a re-creation
    import graft.cli.Main.{runDgrep, DgrepArgs}
    val glob = s"$logDir/*.log"
    // a limit caps the emitted match set at the PLAN level (CollectLimit
    // — the scan stops early, the driver never gathers the full set)
    val got = scala.collection.mutable.Buffer[String]()
    runDgrep(spark, glob,
      DgrepArgs(Set.empty, "GET_frequent", Some(7), None), got += _)
    assert(got.length == 7)
    assert(got.forall(_.contains("GET_frequent")))
    // the unlimited stdout path streams every match
    val all = scala.collection.mutable.Buffer[String]()
    runDgrep(spark, glob,
      DgrepArgs(Set.empty, "GET_frequent", None, None), all += _)
    assert(all.length == 600 * nMachines)
    // --out's distributed text write round-trips every match without a
    // driver gather
    val outDir = tempDir("dgrep-out")
    val target = new java.io.File(outDir, "matches")
    runDgrep(spark, glob,
      DgrepArgs(Set.empty, "GET_frequent", None, Some(target.getPath)))
    assert(spark.read.text(target.getPath).count() == 600L * nMachines)
  }

  test("-c with --limit composes like grep -c -m: per-file counts " +
      "saturate, TOTAL sums the capped counts") {
    import graft.cli.Main.{runDgrep, DgrepArgs}
    val got = scala.collection.mutable.Buffer[String]()
    runDgrep(spark, s"$logDir/*.log",
      DgrepArgs(Set('c'), "GET_frequent", Some(10), None), got += _)
    val counts = got.map(_.split(": ")).map(a => a(0) -> a(1).toLong).toMap
    assert(counts("TOTAL") == 10L * nMachines)
    assert(counts.filter(_._1 != "TOTAL").values.forall(_ == 10L))
    // and -c --out writes the (file-set-bounded) counts distributed
    val outDir = tempDir("dgrep-cout")
    val target = new java.io.File(outDir, "counts")
    runDgrep(spark, s"$logDir/*.log",
      DgrepArgs(Set('c'), "GET_frequent", None, Some(target.getPath)))
    val rows = spark.read.text(target.getPath).collect()
      .map(_.getString(0).split(": ")).map(a => a(0) -> a(1).toLong).toMap
    assert(rows("TOTAL") == 600L * nMachines)
  }

  test("matching lines carry their source file, scatter/gather style") {
    val lines = Grep.grepLogs(spark, s"$logDir/*.log", "DEL_rare")
      .withColumn("machine",
        regexp_extract(col("file"), "machine\\.(\\d+)\\.log", 1))
    val perMachine = lines.groupBy("machine").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perMachine == (1 to nMachines).map(m => m.toString -> 100L).toMap)
  }
}
