package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.IndexStore

/** The IndexStore artifact contract: a manifest written last describes
  * the artifact (the schema `spark.read.parquet` infers, the footer row
  * count, named stats), marks it complete, and lets warm reads skip the
  * schema-inference and sizing jobs. */
class IndexStoreSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()

  private def sample = spark.range(0, 300, 1, 3).select(col("id"),
    (col("id") % 4).cast("int").as("cl"),
    array(col("id").cast("double"), lit(0.5)).as("vec"),
    concat(lit("d"), col("id")).as("name"))

  test("round trip: read's schema is spark.read.parquet's, the manifest " +
      "counts the rows and keeps named stats") {
    for (parts <- Seq(Nil, Seq("cl"))) {
      val dir = new java.io.File(tempDir("idx-rt"), "a").getPath
      val m = IndexStore.write(spark, dir, sample, partitionBy = parts,
        stats = Map("max_id" -> max("id")))
      val a = IndexStore.read(spark, dir)
      val inferred = spark.read.parquet(dir)
      assert(a.df.schema == inferred.schema, parts)
      assert(a.manifest == m, parts)
      assert(a.rows == inferred.count() && a.rows == 300, parts)
      assert(a.stat("max_id") == 299L, parts)
      assert(a.df.except(inferred).isEmpty, parts)
    }
  }

  test("a directory with parquet and _SUCCESS but no manifest is not " +
      "ready and is rebuilt in place") {
    val dir = new java.io.File(tempDir("idx-old"), "a").getPath
    spark.range(5).write.parquet(dir)
    assert(new java.io.File(dir, "_SUCCESS").exists())
    assert(!IndexStore.ready(spark, dir))
    var builds = 0
    def build = { builds += 1; sample }
    val a = IndexStore.loadOrBuild(spark, dir)(build)
    assert(builds == 1 && IndexStore.ready(spark, dir))
    assert(a.rows == 300 && a.df.count() == 300)
    assert(a.df.columns.toSeq == Seq("id", "cl", "vec", "name"))
    // ready now: the second touch reads, it does not build
    assert(IndexStore.loadOrBuild(spark, dir)(build).rows == 300)
    assert(builds == 1)
  }

  test("warm dd09 and sim03 start no schema-inference or count job") {
    val sf = "/root/testdata/sf0.01"
    val names = Seq("dd09_clusters_from_pairs", "sim03_ivf_knn")
    def runAll(): Unit = names.foreach { q =>
      SparkEntry.queries(q)(spark, sf).collect()
      spark.catalog.clearCache()
    }
    runAll() // builds the sf0.01 artifacts if they are missing
    // each job's stage names carry its call site ("count at X.scala:N");
    // a last marker job shows every earlier start has been delivered
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val marker = "index-store-spec-marker"
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.job.description") == marker)
          delivered.countDown()
        else j.stageInfos.foreach(st => sites.add(st.name))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      runAll()
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).collect()
      finally sc.setJobDescription(null)
      assert(delivered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = sites.asScala.toSeq
    assert(all.nonEmpty)
    val banned = all.filter(n =>
      n.startsWith("parquet at ") || n.startsWith("count at "))
    assert(banned.isEmpty, s"call sites: ${all.distinct.mkString(", ")}")
  }
}
