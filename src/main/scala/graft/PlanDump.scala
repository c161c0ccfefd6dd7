package graft

/** Dev-only plan dumper (r15 optimization round): writes each named
  * query's `.explain("formatted")` output to `<outDir>/<query>.txt`,
  * under the same session conf as Bench so the dumped plan is the one
  * the bench executes. Usage:
  * `sbt "runMain graft.PlanDump <outDir> <query> [query...]"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.head
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.EngineConf.builder("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    args.tail.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, d)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$n.txt"),
          txt.getBytes("UTF-8"))
        println(s"PLANDUMP wrote $n")
      } catch { case e: Throwable =>
        println(s"PLANDUMP FAILED $n: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
