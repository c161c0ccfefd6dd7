package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s headline line stays within the 1 kB that a bounded
  * stdout tail keeps whole (no Spark: the line is rendered from a full
  * run's shape). */
class BenchHeadlineSpec extends AnyFunSuite {

  test("a full run's headline is at most 1,000 bytes and valid JSON") {
    // every query at a three-digit time, the four streaming rows at
    // five-digit rates and the dd05 gate stamp of an sf8 corpus
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 123.456)
    val streaming = Seq("simple_app", "complex_app", "churn_simple",
      "churn_complex").map(_ -> 12345.678)
    val line = Bench.headline(results, Bench.streamingJson(streaming, ""),
      Bench.gateStamps(400000L, Set.empty, ""), "testdata_gen/open/sf8")
    val bytes = line.getBytes("UTF-8").length
    assert(bytes <= 1000, s"headline is $bytes bytes: $line")

    val json = new ObjectMapper().readTree(line)
    assert(json.get("queries").fieldNames.asScala.toSet ==
      Bench.Headline.toSet)
    assert(json.get("streaming_rec_s").size == 4)
    assert(json.get("n_queries").asInt == results.size)
    assert(json.get("dd05_gated").asText.startsWith("excluded dd05"))
    assert(json.get("detail").asText == "bench_full.json")
    assert(!json.has("fixture") && !json.has("index_build"))
  }
}
