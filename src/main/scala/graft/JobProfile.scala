package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only per-JOB profiler (not part of the driver contract; the r15
  * optimization round's measurement harness, guide §1).
  *
  * `sbt "runMain graft.JobProfile <query> [query...]"` runs each named
  * query at SPARK_GRAFT_SF_DIR (default sf0.1) against the noop sink with
  * a listener that prints one line per Spark JOB — duration, stage count,
  * task count, shuffle bytes — so a multi-action query's wall clock can be
  * attributed to its actions (persist materializations, collects, the
  * final noop write) instead of guessed at. Uses the engine session
  * (`EngineConf.builder`), as Bench does, so numbers line up with the sidecars; JOBPROFILE_WARMUP=1 replicates
  * Bench's all-queries sf0.001 warmup.
  */
object JobProfile {

  private class L extends SparkListener {
    case class J(start: Long, desc: String,
        var stages: Int = 0, var tasks: Int = 0,
        var shufRead: Long = 0, var shufWrite: Long = 0,
        var input: Long = 0, var names: List[String] = Nil)
    private val jobs = scala.collection.concurrent.TrieMap.empty[Int, J]
    private val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs(e.jobId) = J(e.time,
        Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        j.tasks += si.numTasks
        j.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        j.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        j.input += si.taskMetrics.inputMetrics.bytesRead
        j.names ::= si.rddInfos.sortBy(_.id).flatMap(r =>
          Option(r.scope).flatten.map(_.name)).distinct.mkString(">").take(90)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { j =>
        val s = (e.time - j.start) / 1e3
        println(f"JOB ${e.jobId}%4d ${s}%8.3fs stages=${j.stages}%3d " +
          f"tasks=${j.tasks}%5d in=${j.input / 1e6}%9.1fMB " +
          f"sr=${j.shufRead / 1e6}%9.1fMB sw=${j.shufWrite / 1e6}%9.1fMB  ${j.desc.take(40)} :: ${j.names.reverse.mkString(" | ")}")
      }
  }

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.EngineConf.builder("graft-jobprofile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.get("JOBPROFILE_WARMUP").contains("1")) {
      val sib = new java.io.File(new java.io.File(d).getParentFile, "sf0.001")
      val warmDir = if (sib.isDirectory) sib.getPath else d
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        finally spark.catalog.clearCache()
      }
      println("========== warmup done ==========")
    }
    spark.sparkContext.addSparkListener(new L)
    args.foreach { n =>
      println(s"========== $n ==========")
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, d)
        .write.format("noop").mode("overwrite").save()
      println(f"== $n total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
