package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Inventory of the engine's settings, read from the main sources as
  * text (no Spark). Every session comes from `EngineConf.builder`, and
  * the environment variables and system properties the engine reads are
  * exactly the ones listed here (README "Settings"). A new knob, or a
  * second hand-built session, has to change this list on purpose. */
class KnobInventorySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val knobs = Set(
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_PASSES",
    "SPARK_GRAFT_BENCH_SKIP",
    "SPARK_GRAFT_BLOCK",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_FIXTURES",
    "SPARK_GRAFT_INDEX_DIR",
    "SPARK_GRAFT_JARS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_PAIR_BUDGET_GB",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_STATE_STORE",
    "SPARK_GRAFT_STREAMING",
    "SPARK_GRAFT_TABLES",
    "graft.pairs.budget.gb")

  /** Source text with comments blanked out; string literals are kept. */
  private def code(text: String): String = {
    val out = new StringBuilder(text.length)
    var i = 0
    def at(s: String) = text.startsWith(s, i)
    while (i < text.length) {
      if (at("//")) {
        while (i < text.length && text(i) != '\n') i += 1
      } else if (at("/*")) {
        val end = text.indexOf("*/", i + 2)
        i = if (end < 0) text.length else end + 2
        out += ' '
      } else if (at("\"\"\"")) {
        val end = text.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) text.length else end + 3
        out ++= text.substring(i, stop); i = stop
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < text.length && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, text.length)
        out ++= text.substring(i, stop); i = stop
      } else if (at("'\"'") || at("'\\\"'")) {
        val n = if (at("'\"'")) 3 else 4
        out ++= text.substring(i, i + n); i += n
      } else {
        out += text(i); i += 1
      }
    }
    out.toString
  }

  private lazy val sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val w = Files.walk(root)
    try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .sortBy(_.toString)
      .map(p => p -> code(new String(Files.readAllBytes(p), "UTF-8")))
    finally w.close()
  }

  test("one SparkSession.builder() call outside ScaleData, in EngineConf") {
    val builder = """SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    val sites = for {
      (p, src) <- sources if p.getFileName.toString != "ScaleData.scala"
      _ <- builder.findAllMatchIn(src)
    } yield root.relativize(p).toString
    assert(sites == Seq("graft/core/EngineConf.scala"))
  }

  test("the env vars and system properties read are the listed knobs") {
    val read = """(?:sys\.(?:env|props)|System\.getenv)\s*(?:\.\s*(?:get|getOrElse|contains|apply)\s*)?\(\s*"([^"]+)"""".r
    val any = """sys\.(?:env|props)\b|System\.getenv\b""".r
    val names = sources.flatMap { case (_, src) =>
      read.findAllMatchIn(src).map(_.group(1)) }.toSet
    val unnamed = sources.collect { case (p, src)
      if any.findAllMatchIn(src).size != read.findAllMatchIn(src).size =>
        root.relativize(p).toString }
    assert(unnamed.isEmpty, "reads whose name is not a literal")
    assert(names -- knobs == Set.empty[String], "unlisted knobs")
    assert(knobs -- names == Set.empty[String], "listed knobs no longer read")
  }
}
