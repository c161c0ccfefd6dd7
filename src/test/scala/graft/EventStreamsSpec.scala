package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{SessionEvent, SessionOut}

/** Event-time streaming semantics: watermarked windows drop late data,
  * dedup-within-watermark drops replays, session windows close on gap. */
class EventStreamsSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(minute * 60000L)

  test("windowed counts finalize and late data beyond watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedCounts(df, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append).start()
    // window [0,10): 2 clicks; then advance watermark far past it
    in.addData((ts(1), "click", 1.0), (ts(3), "click", 2.0))
    q.processAllAvailable()
    in.addData((ts(60), "view", 1.0)) // watermark -> 55min
    q.processAllAvailable()
    // too late for [0,10): must be ignored
    in.addData((ts(2), "click", 100.0))
    in.addData((ts(80), "view", 1.0)) // watermark 75 > 70: closes [60,70)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wc")
      .select("window_start", "event_type", "n_events").collect()
      .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1),
        r.getLong(2))).toSet
    assert(rows.contains((0L, "click", 2L))) // late row NOT counted
    assert(rows.contains((60L, "view", 1L)))
  }

  test("dropDuplicatesWithinWatermark removes replayed event ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val df = in.toDF().toDF("event_id", "ts")
    val q = EventStreams.dedupEvents(df, "5 minutes")
      .writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, ts(1)), (2L, ts(2)), (1L, ts(1))) // in-batch dup
    q.processAllAvailable()
    in.addData((1L, ts(1)), (3L, ts(3))) // cross-batch replay of id 1
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dd").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-stream interval join pairs purchases with in-window clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val cdf = clicks.toDF().toDF("event_id", "user_id", "ts")
    val bdf = buys.toDF().toDF("event_id", "user_id", "ts")
    val q = EventStreams.clickToPurchase(cdf, bdf, "10 minutes")
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    clicks.addData((100L, 7L, ts(11)), (101L, 7L, ts(14)),
      (102L, 8L, ts(12)))
    buys.addData((200L, 7L, ts(15)))   // pairs with clicks 100 and 101
    buys.addData((201L, 7L, ts(40)))   // out of window: no pairs
    buys.addData((202L, 9L, ts(16)))   // no clicks for user 9
    q.processAllAvailable()
    // advance both watermarks so results finalize
    clicks.addData((103L, 1L, ts(90)))
    buys.addData((203L, 1L, ts(91)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ssj")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((200L, 100L)) && pairs.contains((200L, 101L)))
    assert(!pairs.exists(_._1 == 201L) && !pairs.exists(_._1 == 202L))
  }

  test("sessionize extends session start for admitted late events") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(in.toDS(), gapSeconds = 300)
      .writeStream.format("memory").queryName("sess_late")
      .outputMode(OutputMode.Append).start()
    in.addData(SessionEvent(3, ts(10)))
    q.processAllAvailable()
    // late event 2 min earlier: within gap AND within watermark
    in.addData(SessionEvent(3, ts(8)))
    q.processAllAvailable()
    in.addData(SessionEvent(9, ts(60)), SessionEvent(9, ts(90))) // advance wm
    q.processAllAvailable()
    q.stop()
    val s = spark.table("sess_late").as[SessionOut].collect()
      .filter(_.user_id == 3)
    assert(s.length == 1)
    assert(s(0).session_start == ts(8) && s(0).session_end == ts(10)
      && s(0).n_events == 2)
  }

  test("streaming windowed counts over real events == batch daily counts") {
    // drive the actual events parquet through the file-stream source
    val sf = "/root/testdata/sf0.001"
    // the file-stream source wants a directory: stage the file into one
    val dir = tempDir("ev-stream").toPath
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = graft.core.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = graft.streaming.EventStreams
      .windowedCounts(stream, "1 day", "0 seconds")
      .writeStream.format("memory").queryName("rt")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    // append mode only finalizes windows behind the watermark; compare the
    // finalized set against the same-day batch counts
    val streamed = spark.table("rt")
      .select(col("window_start").cast("date").as("day"), col("event_type"),
        col("n_events"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    val batch = SparkEntry.queries("q12_events_daily")(spark, sf)
      .select(col("day"), col("event_type"), col("n_events")).collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(streamed.subsetOf(batch))
    // all but the last (unfinalized) day must be present
    val days = batch.map(_._1)
    val finalizedDays = streamed.map(_._1)
    assert(finalizedDays == days - days.max)
  }

  test("streaming 7-day rolling actives == batch ev12 on finalized " +
      "windows") {
    // chained stateful aggregations (per-(window, user) dedup -> window
    // census) over the real events fixture; every finalized sliding
    // window must agree with batch ev12's trailing-7-day count for the
    // window's last day.
    val sf = "/root/testdata/sf0.001"
    val dir = tempDir("ra-stream").toPath
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = graft.core.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = graft.streaming.EventStreams
      .rollingActives(stream, lateness = "0 seconds")
      .writeStream.format("memory").queryName("ra")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ra")
      .select(date_add(col("window_start").cast("date"), 6).as("day"),
        col("active_users"))
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    assert(streamed.nonEmpty, "no finalized windows emitted")
    val batch = SparkEntry.queries("ev12_rolling_actives")(spark, sf)
      .collect().map(r => (r.get(0).toString, r.getLong(2))).toMap
    val common = streamed.keySet.intersect(batch.keySet)
    assert(common.nonEmpty, s"no overlap: streamed=${streamed.keySet}")
    common.foreach(d =>
      assert(streamed(d) == batch(d),
        s"day $d: streamed ${streamed(d)} vs batch ${batch(d)}"))
  }

  test("streaming funnel over real events == batch ev08 counts, fed in " +
      "REVERSE order") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("ev08_funnel")(spark, sf).collect()(0)
    val (nS, nC, nP) = (batch.getLong(0), batch.getLong(1), batch.getLong(2))
    assert(nS > 0 && nC > 0)
    val evts = graft.core.Tables(spark, sf, "events")
      .select("user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
    val in = MemoryStream[(Long, Timestamp, String)]
    val ds = in.toDS().toDF("user_id", "ts", "event_type")
      .as[EventStreams.FunnelEvent]
    val q = EventStreams.funnel(ds, "1 minute")
      .writeStream.format("memory").queryName("fn")
      .outputMode(OutputMode.Append).start()
    // worst-case out-of-order: the whole corpus reversed in one batch
    in.addData(evts.reverse.toSeq: _*)
    q.processAllAvailable()
    // two far-future sentinels: the first advances the watermark past the
    // corpus, the second fires the event-time timeouts that drain buffers
    val maxTs = evts.map(_._2.getTime).max
    in.addData((-1L, new Timestamp(maxTs + 86400000L), "view"))
    q.processAllAvailable()
    in.addData((-1L, new Timestamp(maxTs + 2 * 86400000L), "view"))
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("fn").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(hits.length == hits.distinct.length, "duplicate stage hits")
    def n(stage: String) = hits.count(_._2 == stage).toLong
    assert(n("signup") == nS, s"signup ${n("signup")} != $nS")
    assert(n("click_after") == nC, s"click ${n("click_after")} != $nC")
    assert(n("purchase_after") == nP, s"purchase ${n("purchase_after")} != $nP")
  }

  test("funnel: equal-timestamp stages chain (>= tie semantics) and " +
      "too-late events are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val ds = in.toDS().toDF("user_id", "ts", "event_type")
      .as[EventStreams.FunnelEvent]
    val q = EventStreams.funnel(ds, "1 minute")
      .writeStream.format("memory").queryName("fn_edge")
      .outputMode(OutputMode.Append).start()
    // user 1: signup, click, purchase all at the SAME instant — the batch
    // definition's >= comparisons admit the whole chain
    in.addData((1L, ts(10), "signup"), (1L, ts(10), "click"),
      (1L, ts(10), "purchase"))
    // user 2: signup only, far along — also advances the watermark
    in.addData((2L, ts(300), "signup"))
    q.processAllAvailable()
    // user 2's click at ts(5) is BELOW the watermark now: dropped as late,
    // so no click_after for user 2 even though 5 < 300 would qualify in
    // batch. (Watermark discipline, not funnel logic.)
    in.addData((2L, ts(5), "click"))
    in.addData((3L, ts(600), "signup")) // drain timeouts
    in.addData((3L, ts(900), "signup"))
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("fn_edge").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(hits.contains((1L, "signup")))
    assert(hits.contains((1L, "click_after")), "equal-ts click must chain")
    assert(hits.contains((1L, "purchase_after")), "equal-ts purchase must chain")
    assert(hits.contains((2L, "signup")))
    assert(!hits.contains((2L, "click_after")), "late click must be dropped")
  }

  test("session windows close after gap and carry correct bounds/counts") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(in.toDS(), gapSeconds = 300)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    // user 7: events at minute 10,12,14 (one session), then minute 40.
    // (Times start past 0 — a row exactly at the initial watermark would
    // be considered late and dropped.)
    in.addData(SessionEvent(7, ts(10)), SessionEvent(7, ts(12)),
      SessionEvent(7, ts(14)))
    q.processAllAvailable()
    in.addData(SessionEvent(7, ts(40))) // gap >5min: closes first session
    q.processAllAvailable()
    in.addData(SessionEvent(9, ts(60))) // push watermark to time out u7 s2
    q.processAllAvailable()
    in.addData(SessionEvent(9, ts(90)))
    q.processAllAvailable()
    q.stop()
    val sess = spark.table("sess").as[SessionOut].collect()
      .filter(_.user_id == 7).sortBy(_.session_start.getTime)
    assert(sess.length == 2)
    assert(sess(0).session_start == ts(10) && sess(0).session_end == ts(14)
      && sess(0).n_events == 3)
    assert(sess(1).session_start == ts(40) && sess(1).n_events == 1)
  }
}
