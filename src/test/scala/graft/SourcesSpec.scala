package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format breadth (SURVEY §2.1): the engine's tables are not
  * parquet-bound — a corpus round-trips bit-identically through every
  * columnar/text format Spark ships, so a deployment can pick by storage
  * constraints without touching query code. (CSV is exercised with the
  * documents table, whose text column stresses quoting; timestamps ride
  * the binary formats, whose precision is lossless.)
  */
class SourcesSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  val sf = "/root/testdata/sf0.001"

  private def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  test("documents round-trip identically through parquet, orc, json, csv") {
    val src = graft.core.Tables(spark, sf, "documents")
    val cols = src.columns.toSeq
    val want = canon(src, cols)
    assert(want.nonEmpty)
    val dir = tempDir("fmt").getPath

    src.write.parquet(s"$dir/p")
    assert(canon(spark.read.parquet(s"$dir/p"), cols) == want, "parquet")

    src.write.orc(s"$dir/o")
    assert(canon(spark.read.orc(s"$dir/o"), cols) == want, "orc")

    // json/csv are schemaless on read: re-impose the source schema
    src.write.json(s"$dir/j")
    assert(canon(spark.read.schema(src.schema).json(s"$dir/j"), cols) == want,
      "json")

    src.write.option("header", true).csv(s"$dir/c")
    assert(canon(spark.read.schema(src.schema).option("header", true)
      .csv(s"$dir/c"), cols) == want, "csv")
  }

  test("events (timestamps) round-trip identically through parquet, orc, " +
      "json") {
    val src = graft.core.Tables(spark, sf, "events")
    val cols = src.columns.toSeq
    val want = canon(src, cols)
    assert(want.nonEmpty)
    val dir = tempDir("fmt-ev").getPath

    src.write.parquet(s"$dir/p")
    assert(canon(spark.read.parquet(s"$dir/p"), cols) == want, "parquet")

    src.write.orc(s"$dir/o")
    assert(canon(spark.read.orc(s"$dir/o"), cols) == want, "orc")

    // json's DEFAULT timestampFormat carries milliseconds only — a real
    // deployment choosing json must set a micros-preserving format, which
    // is exactly what this leg documents
    val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    src.write.option("timestampFormat", fmt).json(s"$dir/j")
    assert(canon(spark.read.schema(src.schema)
      .option("timestampFormat", fmt).json(s"$dir/j"), cols) == want, "json")
  }
}
