package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{Ingest, Sinks, StreamOps}

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double, event_id: Long)
case class Doc(ts: Timestamp, doc_id: Long, text: String)

/** S2–S8 streaming tests (SURVEY.md §2.4): scripted MemoryStream input,
  * processAllAvailable, assert exact state of the memory/parquet sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ev(sec: Long, typ: String, id: Long, user: Long = 1, v: Double = 1.0) =
    Ev(new Timestamp(sec * 1000), user, typ, v, id)

  private var qn = 0
  private def runToMemory(df: org.apache.spark.sql.DataFrame, mode: String): String = {
    qn += 1; val name = s"sink$qn"
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable(); q.stop()
    name
  }

  test("S2: tumbling 5s window counts by event_type") {
    val in = MemoryStream[Ev]
    in.addData(ev(0, "a", 1), ev(1, "a", 2), ev(3, "b", 3), ev(6, "a", 4))
    val name = runToMemory(StreamOps.tumblingCounts(in.toDF()), "complete")
    val rows = spark.table(name).orderBy("ws", "event_type")
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((0L, "a", 2L), (0L, "b", 1L), (5L, "a", 1L)))
  }

  test("S3: sliding 1min/30s windows overlap correctly") {
    val in = MemoryStream[Ev]
    in.addData(ev(10, "a", 1, v = 2.0), ev(40, "a", 2, v = 3.0))
    val name = runToMemory(StreamOps.slidingAgg(in.toDF()), "complete")
    val rows = spark.table(name).orderBy("ws")
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(3), r.getDouble(4)))
    // windows [-30,30):{e1}, [0,60):{e1,e2}, [30,90):{e2}
    assert(rows.toSeq == Seq((-30L, 1L, 2.0), (0L, 2L, 5.0), (30L, 1L, 3.0)))
  }

  test("S4: session windows split on >30s gaps per user") {
    val in = MemoryStream[Ev]
    in.addData(ev(0, "a", 1), ev(20, "a", 2), ev(100, "a", 3), // user 1: 2 sessions
      ev(0, "a", 4, user = 2))                                 // user 2: 1 session
    val name = runToMemory(StreamOps.sessionAgg(in.toDF()), "complete")
    val rows = spark.table(name).orderBy("user_id", "ss")
      .collect().map(r => (r.getLong(2), r.getTimestamp(0).getTime / 1000, r.getLong(3)))
    assert(rows.toSeq == Seq((1L, 0L, 2L), (1L, 100L, 1L), (2L, 0L, 1L)))
  }

  test("session_window boundary: an event exactly gap after the previous MERGES (split is strictly > gap)") {
    // Pins the boundary semantics q58's oracle depends on: session_window
    // treats the window as [start, last+gap] INCLUSIVE at the boundary —
    // an event at exactly last+gap extends the session; a split needs
    // diff STRICTLY greater than gap. This matches the oracle's
    // `tsu - lag(tsu) > gap` split condition exactly. (The events
    // fixture never exercises the boundary — no exact-12h consecutive
    // diffs at any SF, checked r9 — so this synthetic pin is the only
    // coverage.) Batch mode shares the operator with streaming.
    val batch = Seq(ev(0, "a", 1), ev(30, "a", 2), ev(45, "a", 3)).toDF()
    val sessions = StreamOps.sessionAgg(batch) // 30 s gap
      .orderBy("ss").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000, r.getLong(3)))
    // t=30 is exactly gap after t=0 → merged; one session [0, 45+30]
    assert(sessions.toSeq == Seq((0L, 75L, 3L)))
  }

  test("S5: streaming dedup by event_id within watermark") {
    val in = MemoryStream[Ev]
    val out = StreamOps.dedupByKey(in.toDF())
    val name = s"dedup${qn + 100}"
    val q = out.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData(ev(1, "a", 1), ev(2, "a", 1), ev(3, "a", 2))
    q.processAllAvailable()
    in.addData(ev(4, "a", 2), ev(5, "a", 3)) // id=2 is a cross-batch dup
    q.processAllAvailable(); q.stop()
    assert(spark.table(name).select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("S12: streaming curation dedups by content fingerprint and applies quality cuts") {
    val good1 = "the fast a query of and to in is " * 3 + "tail one"  // stopword-rich, long
    val good2 = "a scan the merge of and to in is " * 3 + "tail two"
    val lowQ  = "scan merge join filter window sort hash batch value " * 3 // no stopwords
    val short = "the a of"                                                 // < 60 chars
    val in = MemoryStream[Doc]
    val out = StreamOps.curateDocStream(in.toDF())
    val name = s"curate${qn + 200}"
    val q = out.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData(
      Doc(new Timestamp(1000), 1L, good1),
      Doc(new Timestamp(2000), 2L, good1.replace(" ", "  ")), // whitespace-variant dup of 1
      Doc(new Timestamp(3000), 3L, lowQ),
      Doc(new Timestamp(4000), 4L, short),
      Doc(new Timestamp(5000), 5L, good2))
    q.processAllAvailable()
    in.addData(Doc(new Timestamp(6000), 6L, good1)) // cross-batch exact dup of 1
    q.processAllAvailable(); q.stop()
    val rows = spark.table(name).select("doc_id", "stop_ratio").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    // doc 1 survives; 2 (dup), 3 (quality), 4 (length), 6 (cross-batch dup) cut
    assert(rows.map(_._1).toSeq == Seq(1L, 5L))
    assert(rows.forall(_._2 >= 0.02))
  }

  test("S13: streaming incremental screen flags batch docs against a static history index") {
    import graft.ext.NearDup
    val d = sf("sf0.001")
    val docs = graft.sources.Tables.documents(spark, d)
    val history = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    val expected = NearDup.screenIncrement(
      NearDup.historyIndex(history).persist(), incoming).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty)
    // stream the SAME incoming docs through two micro-batches
    val idx = NearDup.historyIndex(history).persist()
    val incRows = incoming.select("doc_id", "text").collect()
      .map(r => Doc(new Timestamp(1000), r.getLong(0), r.getString(1)))
    val (b1, b2) = incRows.splitAt(incRows.length / 2)
    val in = MemoryStream[Doc]
    val got = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
    val batchIds = scala.collection.mutable.ArrayBuffer[Long]()
    in.addData(b1.toSeq)
    val q = StreamOps.screenStream(
      in.toDF().select("doc_id", "text"), idx,
      (flagged, id) => {
        batchIds += id
        got ++= flagged.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      },
      tmpDir("ckpt"))
    q.awaitTermination() // AvailableNow: drains b1 then stops
    in.addData(b2.toSeq)
    val q2 = StreamOps.screenStream(
      in.toDF().select("doc_id", "text"), idx,
      (flagged, id) => {
        batchIds += id
        got ++= flagged.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      },
      tmpDir("ckpt"))
    q2.awaitTermination()
    idx.unpersist()
    // union of per-batch screens == the one-shot batch screen (screening
    // is per-doc against static history, so batch boundaries are invisible)
    assert(got.toSet == expected)
    assert(batchIds.nonEmpty)
  }

  test("S14: streaming funnel emits each completion once, equals batch funnel in-order") {
    val steps = Seq(("view", 0L), ("click", 3600L * 1000000), ("purchase", 24 * 3600L * 1000000))
    val in = MemoryStream[Ev]
    // batch 1 — u1: view@10, click@20; u2: click@5 (pre-view: no credit)
    in.addData(ev(10, "view", 1), ev(20, "click", 2), ev(5, "click", 3, user = 2))
    val out = StreamOps.funnelStream(in.toDF(), steps)
    val q = out.writeStream.format("memory").queryName("s14").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    val afterB1 = spark.table("s14").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    assert(afterB1 == Set((1L, 1, 10000000L), (1L, 2, 20000000L))) // u2 blocked
    // batch 2 — u1: purchase@30 completes; u2: intra-batch disorder
    // (click@40 arrives before view@50 in the SAME batch → event-time
    // sort refuses it; click@55 after the view qualifies)
    in.addData(ev(30, "purchase", 4), ev(50, "view", 5, user = 2),
      ev(40, "click", 6, user = 2), ev(55, "click", 7, user = 2))
    q.processAllAvailable(); q.stop()
    val hits = spark.table("s14").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(hits == Set(
      (1L, 1, "view", 10000000L), (1L, 2, "click", 20000000L),
      (1L, 3, "purchase", 30000000L),
      (2L, 1, "view", 50000000L), (2L, 2, "click", 55000000L)))
    // batch parity: the same rows through Relational.funnelUsers (micros)
    // produce exactly the streamed completion times
    val allRows = Seq(ev(10, "view", 1), ev(20, "click", 2), ev(5, "click", 3, user = 2),
      ev(30, "purchase", 4), ev(50, "view", 5, user = 2),
      ev(40, "click", 6, user = 2), ev(55, "click", 7, user = 2))
    val batch = graft.operators.Relational
      .funnelUsers(allRows.toDF(), steps).collect()
      .flatMap(r => (1 to 3).flatMap(i =>
        if (r.isNullAt(i)) None else Some((r.getLong(0), i, r.getLong(i)))))
      .toSet
    assert(batch == hits.map(h => (h._1, h._2, h._4)))
  }

  test("S15: streaming anomalies are prequential — scored against PRIOR batches only") {
    val in = MemoryStream[Ev]
    // batch 1: 31 warm-up events (values 1..31) — below nothing, just
    // builds moments; nothing can be scored yet (state starts empty)
    in.addData((1 to 31).map(i => ev(i, "a", i, v = i.toDouble)): _*)
    val out = StreamOps.anomalyStream(in.toDF(), threshold = 2.5, minCount = 30)
    val q = out.writeStream.format("memory").queryName("s15").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    assert(spark.table("s15").count() == 0)
    // batch 2: a spike and a dead-center value, scored against batch 1
    in.addData(ev(40, "a", 101, v = 100.0), ev(41, "a", 102, v = 16.0))
    q.processAllAvailable()
    val b2 = spark.table("s15").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val (n1, s1v, q1v) = (31L, (1 to 31).map(_.toDouble).sum,
      (1 to 31).map(i => i.toDouble * i).sum)
    val sd1 = math.sqrt((q1v - s1v * s1v / n1) / (n1 - 1))
    assert(b2.toSeq == Seq((101L, 100.0, (100.0 - s1v / n1) / sd1))) // id 102: z = 0
    // batch 3: the same spike value again — judged against moments that
    // now INCLUDE batch 2 (variance inflated by the first spike), so its
    // z is smaller but still flagged; exact prequential arithmetic
    in.addData(ev(50, "a", 103, v = 100.0))
    q.processAllAvailable(); q.stop()
    val (n2, s2v, q2v) = (n1 + 2, s1v + 100.0 + 16.0, q1v + 10000.0 + 256.0)
    val sd2 = math.sqrt((q2v - s2v * s2v / n2) / (n2 - 1))
    val b3 = spark.table("s15").collect()
      .map(r => (r.getLong(1), r.getDouble(3))).sortBy(_._1)
    val zExpected = (100.0 - s2v / n2) / sd2
    assert(b3.toSeq == Seq((101L, (100.0 - s1v / n1) / sd1), (103L, zExpected)))
    assert(zExpected < (100.0 - s1v / n1) / sd1 && zExpected > 2.5)
  }

  test("S14 eviction: funnel state drops once the completion horizon passes the watermark") {
    val h = 3600L
    val steps = Seq(("view", 0L), ("click", h * 1000000), ("purchase", h * 1000000))
    val in = MemoryStream[Ev]
    // u1 enters at t=100s; horizon = 100s + 2h
    in.addData(ev(100, "view", 1))
    val out = StreamOps.funnelStream(in.toDF(), steps, watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("s14ev").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    def stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows == 1L) // u1 tracked
    // u2 far in the future pushes the watermark past u1's horizon;
    // the timeout fires on the NEXT trigger after the watermark moves
    in.addData(ev(1000000, "view", 2, user = 2))
    q.processAllAvailable()
    in.addData(ev(1000001, "view", 3, user = 3))
    q.processAllAvailable()
    q.stop()
    // u1 evicted; u2/u3 still inside their horizons
    assert(stateRows == 2L)
    // eviction emitted nothing (timeouts close silently)
    assert(spark.table("s14ev").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("S14 parity on the REAL fixture: streamed funnel equals batch q101 chain") {
    // windows wide enough that every user's funnel instance spans the
    // whole fixture month -> single instance per user -> exact parity
    val steps = Seq(("view", 0L), ("click", 86400L * 1000000),
      ("purchase", 40L * 86400 * 1000000))
    val d = sf("sf0.001")
    val ev0 = graft.sources.Tables.events(spark, d)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .orderBy("ts").collect()
    val rows = ev0.map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getLong(4)))
    val in = MemoryStream[Ev]
    val out = StreamOps.funnelStream(in.toDF(), steps, watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("s14par").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    rows.grouped(400).foreach { batch =>        // time-ordered batches:
      in.addData(batch.toSeq); q.processAllAvailable() // per-user in-order
    }
    q.stop()
    val streamed = spark.table("s14par").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    val batch = graft.operators.Relational
      .funnelUsers(graft.sources.Tables.events(spark, d), steps)
      .collect().flatMap(r => (1 to 3).flatMap(i =>
        if (r.isNullAt(i)) None else Some((r.getLong(0), i, r.getLong(i))))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("S18: streaming transitions — intra-batch sort, cross-batch anchor, stale-event drop") {
    val in = MemoryStream[Ev]
    // batch 1 — u1: view@10 -> click@20; u2: lone view@5 (no emission)
    in.addData(ev(10, "view", 1), ev(20, "click", 2), ev(5, "view", 3, user = 2))
    val out = StreamOps.transitionStream(in.toDF())
    val q = out.writeStream.format("memory").queryName("s18").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    val b1 = spark.table("s18").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(b1 == Set((1L, "view", "click")))
    // batch 2 — u1: purchase@40 chains off the batch-1 anchor, then a
    // STALE event @15 (older than the anchor) is dropped, not chained;
    // u2: intra-batch disorder (click@30 added before error@25) must
    // sort to view@5 -> error@25 -> click@30
    in.addData(ev(40, "purchase", 5), ev(15, "signup", 7),
      ev(30, "click", 4, user = 2), ev(25, "error", 6, user = 2))
    q.processAllAvailable(); q.stop()
    val all = spark.table("s18").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    assert(all == Set(
      (1L, "view", "click", 10000000L, 20000000L),
      (1L, "click", "purchase", 20000000L, 40000000L),
      (2L, "view", "error", 5000000L, 25000000L),
      (2L, "error", "click", 25000000L, 30000000L)))
  }

  test("S18 eviction: an idle-gap timeout starts a NEW chain, no synthetic transition") {
    val in = MemoryStream[Ev]
    in.addData(ev(10, "view", 1))
    // 1 s idle gap, 0 s watermark: u1's anchor evicts once the
    // watermark (next batch's max event time) passes 10 s + 1 s
    val out = StreamOps.transitionStream(in.toDF(), watermark = "0 seconds",
      idleGapUs = 1000000L)
    val q = out.writeStream.format("memory").queryName("s18ev").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    // push the watermark far past the horizon with another user's event
    in.addData(ev(1000, "view", 2, user = 9))
    q.processAllAvailable()
    // u1 returns: anchor is gone -> no view->click transition emitted
    in.addData(ev(2000, "click", 3))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s18ev").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set.empty[(Long, String, String)])
  }

  test("S18 parity on the REAL fixture: streamed transitions equal batch q123 counts") {
    val d = sf("sf0.001")
    val ev0 = graft.sources.Tables.events(spark, d)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .orderBy("ts").collect()
    val rows = ev0.map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getLong(4)))
    val in = MemoryStream[Ev]
    // idle gap wider than the fixture span: no eviction, single chain
    val out = StreamOps.transitionStream(in.toDF(), watermark = "0 seconds",
      idleGapUs = 400L * 86400 * 1000000)
    val q = out.writeStream.format("memory").queryName("s18par").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    rows.grouped(400).foreach { batch =>        // time-ordered batches:
      in.addData(batch.toSeq); q.processAllAvailable() // per-user in-order
    }
    q.stop()
    val streamed = spark.table("s18par").collect()
      .groupBy(r => (r.getString(1), r.getString(2)))
      .map { case (k, v) => (k._1, k._2, v.length.toLong) }.toSet
    val batch = graft.operators.Relational
      .transitions(graft.sources.Tables.events(spark, d))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("S19: streaming attribution credits the in-horizon anchor, else direct") {
    val in = MemoryStream[Ev]
    // batch 1 — touches only, no credits
    in.addData(ev(100, "view", 1), ev(400, "click", 2), ev(100, "view", 3, user = 2))
    val out = StreamOps.attributionStream(in.toDF(), lookbackUs = 1000L * 1000000)
    val q = out.writeStream.format("memory").queryName("s19").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    assert(spark.table("s19").count() == 0)
    // batch 2 — u1 purchase@500: click@400 in horizon; u2 purchase@5000:
    // view@100 outside the 1000 s lookback -> direct; u3 same-instant
    // click+purchase@700: strict tt < ct refuses the touch -> direct
    in.addData(ev(500, "purchase", 5), ev(5000, "purchase", 6, user = 2),
      ev(700, "click", 7, user = 3), ev(700, "purchase", 8, user = 3))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s19").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, "click", 500000000L),
      (2L, "direct", 5000000000L),
      (3L, "direct", 700000000L)))
  }

  test("S19 parity on the REAL fixture: streamed credits equal batch q124 channels") {
    val d = sf("sf0.001")
    val ev0 = graft.sources.Tables.events(spark, d)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .orderBy("ts").collect()
    val rows = ev0.map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getLong(4)))
    val in = MemoryStream[Ev]
    val out = StreamOps.attributionStream(in.toDF(), watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("s19par").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    rows.grouped(400).foreach { batch =>
      in.addData(batch.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("s19par").collect()
      .groupBy(_.getString(1)).map { case (ch, v) => (ch, v.length.toLong) }.toSet
    val batch = graft.operators.Relational
      .lastTouch(graft.sources.Tables.events(spark, d), 7L * 86400000000L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("S17: streaming trend recovers a planted linear drift exactly, refined across batches") {
    val in = MemoryStream[Ev]
    // group "a": v = 2t + 5 (t in seconds) — integers, so the moment
    // arithmetic is exact in doubles and the fit is exactly (2, 5)
    in.addData((0 to 4).map(t => ev(t, "a", t + 1, v = 2.0 * t + 5)): _*)
    val out = StreamOps.trendStream(in.toDF())
    val q = out.writeStream.format("memory").queryName("s17").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    val b1 = spark.table("s17").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(b1.toSeq == Seq((5L, 2.0, 5.0)))
    // batch 2 continues the same line: fit refines, stays exact
    in.addData((5 to 9).map(t => ev(t, "a", t + 1, v = 2.0 * t + 5)): _*)
    q.processAllAvailable()
    // batch 3 breaks the line: slope must move off 2.0
    in.addData(ev(10, "a", 11, v = 1000.0))
    q.processAllAvailable(); q.stop()
    val fits = spark.table("s17").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(fits.length == 3)
    assert(fits(1) == ((10L, 2.0, 5.0)))
    assert(fits(2)._1 == 11L && fits(2)._2 > 10.0) // the outlier bends the fit
  }

  test("S16: streaming heavy hitters — Misra-Gries bounds exact on a scripted stream") {
    val in = MemoryStream[Ev]
    // k=2, group "a". batch 1 items (by user_id): 1,1,1,2,3
    // fold: {1:3}, +2 -> {1:3,2:1}, +3 full -> decrement-all -> {1:2}
    in.addData(ev(1, "a", 10, user = 1), ev(2, "a", 11, user = 1),
      ev(3, "a", 12, user = 1), ev(4, "a", 13, user = 2), ev(5, "a", 14, user = 3))
    val out = StreamOps.heavyHittersStream(in.toDF(), k = 2)
    val q = out.writeStream.format("memory").queryName("s16").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    val b1 = spark.table("s16").collect().map(r =>
      (r.getLong(1), r.getSeq[Long](2), r.getSeq[Long](3)))
    assert(b1.toSeq == Seq((5L, Seq(1L), Seq(2L))))
    // guarantee: any key with freq > n/(k+1) = 5/3 must be present — id 1 (freq 3) is
    // batch 2: 3,3,2 -> {1:2,3:2} then +2 full -> decrement-all -> {1:1,3:1}
    in.addData(ev(6, "a", 15, user = 3), ev(7, "a", 16, user = 3),
      ev(8, "a", 17, user = 2))
    q.processAllAvailable(); q.stop()
    val b2 = spark.table("s16").collect().map(r =>
      (r.getLong(1), r.getSeq[Long](2), r.getSeq[Long](3))).maxBy(_._1)
    assert(b2 == ((8L, Seq(1L, 3L), Seq(1L, 1L))))
    // lower bounds: counter <= true count, slack <= n/(k+1)
    val truth = Map(1L -> 3L, 2L -> 2L, 3L -> 3L)
    b2._2.zip(b2._3).foreach { case (id, c) =>
      assert(c <= truth(id) && truth(id) - c <= b2._1 / (2 + 1) + 1)
    }
  }

  test("S6: stream-static broadcast join enriches events") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("cust_id", "tier")
    val in = MemoryStream[Ev]
    in.addData(ev(0, "a", 1, user = 1), ev(1, "b", 2, user = 3))
    val name = runToMemory(
      StreamOps.streamStaticJoin(in.toDF(), dim, "user_id", "cust_id")
        .select($"event_id", $"tier"), "append")
    val rows = spark.table(name).orderBy("event_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("∅")))
    assert(rows.toSeq == Seq((1L, "gold"), (2L, "∅")))
  }

  test("S7: rows later than the watermark are dropped; within-horizon late rows counted") {
    val in = MemoryStream[Ev]
    val out = StreamOps.lateTolerantCounts(in.toDF(), "10 seconds", "10 seconds")
    val name = s"late${qn + 200}"
    val q = out.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData(ev(5, "a", 1), ev(12, "a", 2)); q.processAllAvailable() // wm → 2
    in.addData(ev(8, "a", 3)); q.processAllAvailable()  // late but within horizon → counts
    in.addData(ev(60, "a", 4)); q.processAllAvailable() // advances wm → 50, closes [0,10),[10,20)
    in.addData(ev(7, "a", 5)); q.processAllAvailable()  // beyond watermark → dropped
    q.stop()
    val rows = spark.table(name).orderBy("ws")
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1)))
    assert(rows.toSeq == Seq((0L, 2L), (10L, 1L))) // [0,10)={1,3}, [10,20)={2}; 5 dropped
  }

  test("S8: partitioned parquet sink + checkpoint restart: no loss, no dupes") {
    val srcDir = tmpDir("s8src"); val outDir = tmpDir("s8out"); val ckpt = tmpDir("s8ckpt")
    def writeFile(n: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(srcDir, n)
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
    }
    def envelope(id: Int, ms: Long) =
      s"""{"datastream_id":$id,"data":[{"dateTime":$ms,"offset":60000,"sample":{"v":$id}}]}"""
    writeFile("f1.json", Seq(envelope(1, 1718064000000L), envelope(2, 1718064001000L)))

    def startQuery() = {
      val raw = spark.readStream.text(srcDir)
      Sinks.parquetPartitioned(Ingest.dataPoints(Ingest.parse(raw)), outDir, ckpt,
        Trigger.ProcessingTime("100 milliseconds"))
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    writeFile("f2.json", Seq(envelope(3, 1718064002000L)))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop() // restart from checkpoint
    val got = spark.read.parquet(outDir).select("datastream_id").as[Int].collect().sorted
    assert(got.toSeq == Seq(1, 2, 3)) // f1 not re-ingested, f2 picked up
    // partition layout mirrors the Cassandra key (datastream_id, day)
    val dirs = new java.io.File(outDir).listFiles().map(_.getName).filter(_.startsWith("datastream_id="))
    assert(dirs.sorted.toSeq == Seq("datastream_id=1", "datastream_id=2", "datastream_id=3"))
  }

  test("S9: stream-stream interval join attributes clicks to impressions, bounded state") {
    // Realistic (non-epoch-0) event times: the interval join derives
    // per-side state watermarks by SUBTRACTING the horizon from the
    // global watermark, and near epoch 0 that arithmetic clamps and
    // filters the whole batch (verified empirically on Spark 4.1.2 —
    // same plan matches correctly at 2023-era timestamps).
    val base = 1700000000L
    val imps = MemoryStream[Ev]   // event_id = impression id, user_id = ad key
    val clicks = MemoryStream[Ev]
    val joined = StreamOps.streamStreamIntervalJoin(
      imps.toDF().select(col("user_id").as("ad"), col("ts").as("imp_ts"),
        col("event_id").as("imp_id")),
      clicks.toDF().select(col("user_id").as("c_ad"), col("ts").as("click_ts"),
        col("event_id").as("click_id")),
      lKey = "ad", lTs = "imp_ts", rKey = "c_ad", rTs = "click_ts",
      horizon = "20 seconds", watermark = "10 seconds")
      .select(col("imp_id"), col("click_id"))

    imps.addData(ev(base + 0, "imp", 100, user = 7), ev(base + 0, "imp", 200, user = 8))
    clicks.addData(
      ev(base + 5, "click", 101, user = 7),   // within [0, 20] of imp 100 → match
      ev(base + 25, "click", 102, user = 7),  // past the 20 s horizon → no match
      ev(base + 3, "click", 201, user = 9))   // wrong key → no match
    val name = runToMemory(joined, "append")
    val rows = spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((100L, 101L)))
  }

  test("S11: left-outer interval join emits unmatched impressions after watermark") {
    val base = 1700000000L // 2023-era (see S9's epoch-0 note)
    val imps = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val joined = StreamOps.streamStreamIntervalJoin(
      imps.toDF().select(col("user_id").as("ad"), col("ts").as("imp_ts"),
        col("event_id").as("imp_id")),
      clicks.toDF().select(col("user_id").as("c_ad"), col("ts").as("click_ts"),
        col("event_id").as("click_id")),
      lKey = "ad", lTs = "imp_ts", rKey = "c_ad", rTs = "click_ts",
      horizon = "20 seconds", watermark = "10 seconds",
      joinType = "left_outer")
      .select(col("imp_id"), col("click_id"))

    val name = s"s11_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    // imp 100 gets a click; imp 200 never does
    imps.addData(ev(base + 0, "imp", 100, user = 7), ev(base + 0, "imp", 200, user = 8))
    clicks.addData(ev(base + 5, "click", 101, user = 7))
    q.processAllAvailable()
    // matched pair emits promptly; the unmatched imp is still held —
    // a click could still arrive inside [0, 20 s]
    val mid = spark.table(name).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(mid == Set((100L, 101L)))
    // advance BOTH watermarks far past imp_ts + horizon: imp 200 can
    // no longer match → emits null-padded exactly once
    imps.addData(ev(base + 100, "imp", 300, user = 9))
    clicks.addData(ev(base + 100, "click", 999, user = 0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows == Set((100L, 101L), (200L, -1L)))
  }

  test("S10: flatMapGroupsWithState gap-splits sessions and times out idle keys") {
    val base = 1700000000L // 2023-era (see S9's epoch-0 note)
    val in = MemoryStream[Ev]
    val out = StreamOps.statefulSessions(in.toDF(), gapMs = 30000L,
      watermark = "10 seconds")
    val q = out.writeStream.format("memory").queryName("s10").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()

    // batch 1: user 1 opens a session (2 events), user 2 opens one
    in.addData(ev(base + 0, "a", 1), ev(base + 10, "a", 2),
      ev(base + 5, "a", 3, user = 2))
    q.processAllAvailable()
    // batch 2: user 1's 90 s gap > 30 s closes its first session inline
    in.addData(ev(base + 100, "a", 4))
    q.processAllAvailable()
    // batch 3: watermark (base+100 − 10 s) passes user 2's timeout
    // (base+5 + 30 s) → idle-key session emits WITHOUT new user-2 data;
    // user 1's gap closes its second session
    in.addData(ev(base + 200, "a", 5))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("s10").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        (r.getLong(2) / 1000 - base), (r.getLong(3) / 1000 - base))).toSet
    // user 1's base+200 session is still open → not emitted (Append)
    assert(rows == Set((1L, 2L, 0L, 10L), (1L, 1L, 100L, 100L), (2L, 1L, 5L, 5L)))
  }

  test("S12 under the RocksDB state store: identical curation output, provider engaged") {
    // S12's dedup state (one record per distinct fingerprint in the
    // horizon) is the op that actually grows with corpus rate at
    // 100 TB/day — the RocksDB posture matters most here.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val good1 = "the fast a query of and to in is " * 3 + "tail one"
      val good2 = "a scan the merge of and to in is " * 3 + "tail two"
      val in = MemoryStream[Doc]
      val q = StreamOps.curateDocStream(in.toDF())
        .writeStream.format("memory").queryName("s12rocks").outputMode("append")
        .option("checkpointLocation", tmpDir("ckpt")).start()
      in.addData(
        Doc(new Timestamp(1000), 1L, good1),
        Doc(new Timestamp(2000), 2L, good1.replace(" ", "  ")),
        Doc(new Timestamp(5000), 5L, good2))
      q.processAllAvailable()
      in.addData(Doc(new Timestamp(6000), 6L, good1)) // cross-batch dup
      q.processAllAvailable()
      val usedRocks = Option(q.lastProgress).exists(
        _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
      q.stop()
      val ids = spark.table("s12rocks").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 5L), "same survivors as the default-provider S12 run")
      assert(usedRocks, "progress metrics show no RocksDB state store activity")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("RocksDB sweep: every fMGWS operator (S14/S18/S19/S20/S21) runs green under the RocksDB provider") {
    // the r11 verdict item: S12 ran under RocksDB but the other custom-
    // state operators only ever ran on the default HDFS-backed store.
    // Each op here processes a small script under RocksDB; the assert
    // is rows-out + the provider's own metrics present (state actually
    // served by RocksDB, not silently fallen back).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = 1700000000L
      val steps = Seq(("view", 0L), ("click", 3600L * 1000000),
        ("purchase", 86400L * 1000000))
      val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
        ("S14 funnel", df => StreamOps.funnelStream(df, steps)),
        ("S18 transitions", df => StreamOps.transitionStream(df)),
        ("S19 attribution", df => StreamOps.attributionStream(df)),
        ("S20 retention", df => StreamOps.retentionStream(df)),
        ("S21 skipgrams", df => StreamOps.skipGramStream(df)))
      ops.zipWithIndex.foreach { case ((label, op), i) =>
        val in = MemoryStream[Ev]
        val q = op(in.toDF()).writeStream.format("memory")
          .queryName(s"rocks_sweep_$i").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData(
          ev(base + 0, "view", 1), ev(base + 10, "click", 2),
          ev(base + 20, "purchase", 3),
          ev(base + 86400, "view", 4), ev(base + 86420, "click", 5))
        q.processAllAvailable()
        // push the watermark far past the horizon so timeout-driven
        // emission (S20's path) fires too
        in.addData(ev(base + 90L * 86400, "view", 6, user = 2))
        q.processAllAvailable()
        val usedRocks = Option(q.lastProgress).exists(
          _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
        q.stop()
        val n = spark.table(s"rocks_sweep_$i").count()
        assert(n > 0, s"$label emitted no rows under RocksDB")
        assert(usedRocks, s"$label shows no RocksDB state metrics")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("S27: streaming SCD2 sink folds batches into a versioned dimension with history carried") {
    import graft.streaming.Sinks
    val init = Seq((1L, 10.0, "2024-01-01"), (2L, 5.0, "2024-01-01"))
      .toDF("k", "bal", "f")
      .select(col("k"), col("bal"), col("f").cast("date").as("valid_from"))
    val dim = tmpDir("dim")
    val day1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime / 1000
    val day2 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime / 1000
    val in = MemoryStream[Ev]
    val updates = in.toDF().select(col("user_id").as("k"),
      col("value").as("bal"), col("ts").cast("date").as("eff"))
    val q = Sinks.scd2Sink(updates, dim, tmpDir("ckpt"),
      Seq("k"), Seq("bal"), init)
    // batch 0: change k=1 (10→20) + an in-batch duplicate (the later
    // eff must win) — dedup-to-latest before the fold
    in.addData(ev(day1, "u", 1, user = 1, v = 15.0),
      ev(day1 + 86400, "u", 2, user = 1, v = 20.0))
    q.processAllAvailable()
    // batch 1: brand-new key 3 inserts; k=2 stays untouched
    in.addData(ev(day2, "u", 3, user = 3, v = 7.0))
    q.processAllAvailable()
    q.stop()
    val vmax = new java.io.File(dim).listFiles
      .filter(_.getName.startsWith("v=")).map(_.getName.drop(2).toLong).max
    val rows = spark.read.parquet(s"$dim/v=$vmax")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString),
        r.getBoolean(4))).toSet
    assert(rows == Set(
      (1L, 10.0, "2024-01-01", Some("2024-02-02"), false), // closed at WINNING eff
      (1L, 20.0, "2024-02-02", None, true),                // later dup won
      (2L, 5.0, "2024-01-01", None, true),                 // untouched
      (3L, 7.0, "2024-03-01", None, true)),                // inserted batch 1
      s"got $rows")
  }

  test("S29: streaming decontamination drops exactly the benchmark hits, restores bloom FPs") {
    // benchmark = every even fingerprint under 200; stream carries
    // 0..399 → exactly the 100 even-under-200 docs must drop, and ANY
    // bloom false positive among the rest must be restored by the
    // exact anti-join (output = exact clean set regardless of fpp)
    val benchmark = (0 until 200 by 2).map(i => s"fp$i").toDF("fp")
    val in = MemoryStream[Ev]
    val docs = in.toDF().select(col("event_id"),
      concat(lit("fp"), col("user_id")).as("fp"))
    val out = StreamOps.decontaminateStream(docs, benchmark, "fp",
      expectedItems = 200, fpp = 0.1) // high fpp ON PURPOSE: exercise FP restore
    val q = out.writeStream.format("memory").queryName("s29")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData((0 until 400).map(i => ev(i, "a", i, user = i)): _*)
    q.processAllAvailable(); q.stop()
    val kept = spark.table("s29").select("event_id").collect()
      .map(_.getLong(0)).toSet
    val expected = (0 until 400).filterNot(i => i < 200 && i % 2 == 0)
      .map(_.toLong).toSet
    assert(kept == expected,
      s"missing=${expected -- kept} extra=${kept -- expected}")
  }

  test("S27 restart: a new query on the same checkpoint continues the version chain") {
    import graft.streaming.Sinks
    val init = Seq((1L, 10.0, "2024-01-01")).toDF("k", "bal", "f")
      .select(col("k"), col("bal"), col("f").cast("date").as("valid_from"))
    val dim = tmpDir("dim"); val ckpt = tmpDir("ckpt")
    val day1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime / 1000
    val day2 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime / 1000
    def updates(in: MemoryStream[Ev]) = in.toDF().select(
      col("user_id").as("k"), col("value").as("bal"),
      col("ts").cast("date").as("eff"))
    val in1 = MemoryStream[Ev]
    val q1 = Sinks.scd2Sink(updates(in1), dim, ckpt, Seq("k"), Seq("bal"), init)
    in1.addData(ev(day1, "u", 1, user = 1, v = 20.0)) // close 10, open 20
    q1.processAllAvailable(); q1.stop()
    // restart against the SAME checkpoint + dimension (same source
    // instance — MemoryStream offsets live in the checkpoint, so a
    // fresh stream would replay nothing; a real Kafka source resumes
    // from its committed offsets the same way)
    in1.addData(ev(day2, "u", 2, user = 2, v = 7.0)) // insert k=2
    val q2 = Sinks.scd2Sink(updates(in1), dim, ckpt, Seq("k"), Seq("bal"), init)
    q2.processAllAvailable(); q2.stop()
    val vmax = new java.io.File(dim).listFiles
      .filter(_.getName.startsWith("v=")).map(_.getName.drop(2).toLong).max
    val rows = spark.read.parquet(s"$dim/v=$vmax")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString),
        r.getBoolean(4))).toSet
    // the post-restart fold must carry batch 0's closed history AND its
    // opened version, plus the new insert — nothing duplicated or lost
    assert(rows == Set(
      (1L, 10.0, "2024-01-01", Some("2024-02-01"), false),
      (1L, 20.0, "2024-02-01", None, true),
      (2L, 7.0, "2024-03-01", None, true)), s"got $rows")
  }

  test("S28: windowed approx-distinct tracks the exact count within the rsd band") {
    val in = MemoryStream[Ev]
    val out = StreamOps.distinctStream(in.toDF(), "user_id",
      size = "60 seconds", rsd = 0.02)
    val q = out.writeStream.format("memory").queryName("s28")
      .outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // 500 distinct users in window 0, 100 in window 1
    in.addData((1 to 1000).map(i => ev(i % 60, "a", i, user = i % 500)): _*)
    in.addData((1 to 200).map(i => ev(60 + i % 60, "a", 2000 + i, user = 1000 + i % 100)): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("s28").collect()
      .map(r => r.getTimestamp(0).getTime / 1000 -> r.getLong(2)).toMap
    assert(math.abs(got(0L) - 500L) <= 500 * 0.08, s"w0 ${got(0L)}")
    assert(math.abs(got(60L) - 100L) <= 100 * 0.08, s"w1 ${got(60L)}")
    // batch-mode parity: same operator over a static frame, exact anchor
    val statics = (1 to 1000).map(i => ev(i % 60, "a", i, user = i % 500)).toDF()
    val batch = StreamOps.distinctStream(statics, "user_id", size = "60 seconds")
      .collect().head.getLong(2)
    assert(batch == got(0L), "batch and streamed sketch must agree on identical input")
  }

  test("S33: burst alerts fire only at-threshold, late data escalates, batch parity") {
    val in = MemoryStream[Ev]
    val out = StreamOps.burstStream(in.toDF(), "user_id", threshold = 5L,
      size = "60 seconds")
    val q = out.writeStream.format("memory").queryName("s33")
      .outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // user 1: 6 events in minute 0 → alert; user 2: 3 events → silent
    in.addData((1 to 6).map(i => ev(i, "a", i, user = 1)) ++
      (1 to 3).map(i => ev(i, "a", 100 + i, user = 2)): _*)
    q.processAllAvailable()
    val first = spark.table("s33").collect()
    assert(first.map(r => r.getLong(0)).toSet == Set(1L))
    assert(first.head.getLong(2) == 6L)
    // late-but-in-watermark events lift user 2 past the threshold
    in.addData((4 to 8).map(i => ev(i, "a", 200 + i, user = 2)): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("s33").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(2)).max }
    assert(got(2L) == 8L, s"user 2 escalated count: $got")
    // batch parity: same operator over the static union
    val statics = ((1 to 6).map(i => ev(i, "a", i, user = 1)) ++
      (1 to 8).map(i => ev(i, "a", 300 + i, user = 2))).toDF()
    val batch = StreamOps.burstStream(statics, "user_id", 5L, "60 seconds")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batch == Map(1L -> 6L, 2L -> 8L))
  }

  test("S35: streaming EWMA folds in event-time order, drops cross-batch regressions") {
    val base = 1700000000L
    val in = MemoryStream[Ev]
    val out = StreamOps.ewmaStream(in.toDF(), alpha = 0.5)
    val q = out.writeStream.format("memory").queryName("s35")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // batch 1 arrives OUT of order — the op must fold 10, 20, 30 by
    // event time regardless: levels 10, 15, 22.5
    in.addData(ev(base + 20, "a", 3, v = 30.0), ev(base + 0, "a", 1, v = 10.0),
      ev(base + 10, "a", 2, v = 20.0))
    q.processAllAvailable()
    // batch 2: one in-order point (level 0.5·40 + 0.5·22.5 = 31.25) and
    // one REGRESSION behind the anchor → dropped, level untouched; then
    // two points in the SAME millisecond whose µs order is the reverse
    // of their event_id order: µs order folds id 6 (.500001 s, v 50)
    // first → 0.5·50 + 0.5·31.25 = 40.625, then id 5 (.500002 s, v 60)
    // → 0.5·60 + 0.5·40.625 = 50.3125 (an ms fold would take id 5 first)
    def atMicros(sec: Long, us: Int) = {
      val t = new Timestamp(sec * 1000); t.setNanos(us * 1000); t
    }
    in.addData(ev(base + 30, "a", 4, v = 40.0), ev(base + 5, "a", 9, v = 999.0),
      ev(base + 40, "a", 5, v = 60.0).copy(ts = atMicros(base + 40, 500002)),
      ev(base + 40, "a", 6, v = 50.0).copy(ts = atMicros(base + 40, 500001)))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s35").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma")).toMap
    assert(got == Map(1L -> 10.0, 2L -> 15.0, 3L -> 22.5, 4L -> 31.25,
      6L -> 40.625, 5L -> 50.3125),
      s"got $got")
  }

  test("S36: streaming CUSUM alarms at threshold crossing, resets, ignores in-band noise") {
    val base = 1700000000L
    val in = MemoryStream[Ev]
    // mu0=10, slack=1, h=5: values 12,12,12 accumulate S+ = 1,2,3;
    // 15 pushes S+ to 7 > 5 → alarm + reset; then 10s stay in-band;
    // a drop to 4 twice accumulates S- = 5, then 4 again → 10 > 5
    val out = StreamOps.cusumStream(in.toDF(), mu0 = 10.0, slack = 1.0,
      threshold = 5.0)
    val q = out.writeStream.format("memory").queryName("s36")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData(
      ev(base + 1, "a", 1, v = 12.0), ev(base + 2, "a", 2, v = 12.0),
      ev(base + 3, "a", 3, v = 12.0), ev(base + 4, "a", 4, v = 15.0),
      ev(base + 5, "a", 5, v = 10.0))
    q.processAllAvailable()
    in.addData(
      ev(base + 6, "a", 6, v = 4.0), ev(base + 7, "a", 7, v = 4.0),
      ev(base + 8, "a", 8, v = 4.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s36").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("direction"),
        r.getAs[Double]("statistic")))
    // S+ path: 1,2,3 then +4 → 7 > 5 at event 4 (alarm, reset); event 5
    // is in-band. S- path: event 6 → 5 (not > 5), event 7 → 10 > 5
    // (alarm, reset), event 8 rebuilds to 5 silently
    assert(got.toSet == Set((4L, "up", 7.0), (7L, "down", 10.0)), s"got ${got.toSeq}")
  }

  test("S37: deterministic reservoir sample is bottom-k by hash, replay-stable, emit-on-change only") {
    def bottomK(ids: Seq[Long], k: Int): Seq[Long] =
      ids.map(id => (StreamOps.mix64(id), id)).sorted.take(k).map(_._2).sorted
    val in = MemoryStream[Ev]
    val q = StreamOps.reservoirStream(in.toDF(), k = 3)
      .writeStream.format("memory").queryName("s37").outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData((1L to 6L).map(i => ev(i, "a", i)): _*)
    q.processAllAvailable()
    val afterB1 = spark.table("s37").collect()
      .map(r => (r.getLong(1), r.getSeq[Long](2).toSeq)).last
    assert(afterB1 == ((6L, bottomK(1L to 6L, 3))), s"b1: $afterB1")
    // batch 2: new ids — sample must equal batch bottom-k over the UNION
    in.addData((7L to 10L).map(i => ev(i, "a", i)): _*)
    q.processAllAvailable()
    val rows2 = spark.table("s37").collect()
      .map(r => (r.getLong(1), r.getSeq[Long](2).toSeq))
    val expect2 = bottomK(1L to 10L, 3)
    // emit-on-change: if the union's bottom-k equals batch 1's, no new
    // row was emitted and the last row still carries n=6 (the n==10
    // assertion belongs ONLY to the emit branch — r13 advice: a leading
    // unconditional assert made the no-re-emit branch dead code)
    if (expect2 == bottomK(1L to 6L, 3))
      assert(rows2.map(_._1).max == 6L, s"unchanged sample must not re-emit: ${rows2.toSeq}")
    else {
      assert(rows2.last._1 == 10L)
      assert(rows2.last._2 == expect2, s"b2: ${rows2.last}")
    }
    // batch 3: a DUPLICATE of an id already in the sample — counted,
    // but the sample cannot change, so nothing re-emits
    val dupId = expect2.head
    val before = spark.table("s37").count()
    in.addData(ev(100L, "a", dupId))
    q.processAllAvailable(); q.stop()
    assert(spark.table("s37").count() == before,
      "duplicate id must not re-emit the sample")
  }

  test("S34: heartbeat monitor alerts on silent keys only, once, with last-seen state") {
    // base offset: a ts equal to the INITIAL watermark (epoch 0) is
    // dropped as late by the stateful operator — the S10 base rule
    val base = 1700000000L
    val in = MemoryStream[Ev]
    val out = StreamOps.heartbeatMonitor(in.toDF(), silenceMs = 60000L)
    val q = out.writeStream.format("memory").queryName("s34")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // user 1 stays alive; user 2 heartbeats once then goes silent
    in.addData(ev(base + 0, "a", 1, user = 1), ev(base + 30, "a", 2, user = 1),
      ev(base + 0, "a", 3, user = 2))
    q.processAllAvailable()
    in.addData(ev(base + 200, "a", 4, user = 1)) // watermark → base+190 next batch
    q.processAllAvailable()
    in.addData(ev(base + 400, "a", 5, user = 1)) // wm base+190 > base+60 → user 2 fires
    q.processAllAvailable(); q.stop()
    val alerts = spark.table("s34").collect()
    assert(alerts.length == 1, s"exactly one alert: ${alerts.toSeq}")
    assert(alerts.head.getLong(0) == 2L &&
      alerts.head.getLong(1) == base * 1000000L &&
      alerts.head.getLong(2) == 1L)
  }

  test("S10 under the RocksDB state store: identical sessions, provider actually engaged") {
    // The cluster-scale state backend (StreamOps scaladoc): HDFS-backed
    // in-memory state holds every key on-heap; RocksDB spills to local
    // disk with incremental checkpointing — the 100 TB keyed-state
    // posture. Same scripted input as S10, provider swapped via conf;
    // results must be bit-identical and the progress metrics must show
    // RocksDB actually served the state rows.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = 1700000000L
      val in = MemoryStream[Ev]
      val out = StreamOps.statefulSessions(in.toDF(), gapMs = 30000L,
        watermark = "10 seconds")
      val q = out.writeStream.format("memory").queryName("s10rocks")
        .outputMode("append")
        .option("checkpointLocation", tmpDir("ckpt")).start()
      in.addData(ev(base + 0, "a", 1), ev(base + 10, "a", 2),
        ev(base + 5, "a", 3, user = 2))
      q.processAllAvailable()
      in.addData(ev(base + 100, "a", 4))
      q.processAllAvailable()
      in.addData(ev(base + 200, "a", 5))
      q.processAllAvailable()
      val usedRocks = Option(q.lastProgress).exists(
        _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
      q.stop()
      val rows = spark.table("s10rocks").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          (r.getLong(2) / 1000 - base), (r.getLong(3) / 1000 - base))).toSet
      assert(rows == Set((1L, 2L, 0L, 10L), (1L, 1L, 100L, 100L), (2L, 1L, 5L, 5L)))
      assert(usedRocks, "progress metrics show no RocksDB state store activity")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("S20: retention emits one row per NEW user-day with cohort offsets") {
    val day = 86400L
    val in = MemoryStream[Ev]
    // u1 active day0 (twice — dedup), day1; u2 active day2 only
    in.addData(ev(10, "view", 1), ev(20, "click", 2),
      ev(day + 5, "view", 3), ev(2 * day + 7, "view", 4, user = 2))
    val out = StreamOps.retentionStream(in.toDF(), horizonDays = 30)
    val q = out.writeStream.format("memory").queryName("s20").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    // day1 re-activity in a later batch must not re-emit; a stale
    // pre-cohort day for u2 is dropped
    in.addData(ev(day + 100, "view", 5), ev(day + 3, "view", 6, user = 2))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s20").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getDate(2).toString,
        r.getLong(3))).toSet
    assert(got == Set(
      (1L, "1970-01-01", "1970-01-01", 0L),
      (1L, "1970-01-01", "1970-01-02", 1L),
      (2L, "1970-01-03", "1970-01-03", 0L)))
  }

  test("S20 parity on the REAL fixture: streamed user-days equal batch q102 curves") {
    val d = sf("sf0.001")
    val ev0 = graft.sources.Tables.events(spark, d)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .orderBy("ts").collect()
    val rows = ev0.map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getLong(4)))
    val in = MemoryStream[Ev]
    val out = StreamOps.retentionStream(in.toDF(), horizonDays = 60,
      watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("s20par")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    rows.grouped(500).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("s20par").collect()
      .map(r => (r.getDate(1).toString, r.getLong(3), r.getLong(0)))
    // rebuild q102's curve from the emitted rows: distinct users per
    // (cohort, offset) — rows are already distinct per (user, day)
    def curve(off: Long) = streamed.filter(_._2 == off)
      .groupBy(_._1).map { case (c, v) => (c, v.map(_._3).distinct.length.toLong) }
    val nUsers = streamed.groupBy(_._1)
      .map { case (c, v) => (c, v.map(_._3).distinct.length.toLong) }
    val batch = graft.operators.Relational
      .retention(graft.sources.Tables.events(spark, d), Seq(1, 7, 14))
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(batch.nonEmpty)
    batch.foreach { case (c, (n, d1, d7, d14)) =>
      assert(nUsers.getOrElse(c, 0L) == n, s"n_users cohort $c")
      assert(curve(1).getOrElse(c, 0L) == d1, s"d1 cohort $c")
      assert(curve(7).getOrElse(c, 0L) == d7, s"d7 cohort $c")
      assert(curve(14).getOrElse(c, 0L) == d14, s"d14 cohort $c")
    }
  }

  test("S22 golden: batch-mode windowed PSI equals Relational.psiDrift exactly") {
    // ref: two groups with distinct continuous-ish distributions;
    // cur: group "a" stable, group "b" shifted
    val ref = ((1 to 997).map(i => ("a", (i * 7 % 997).toDouble)) ++
      (1 to 997).map(i => ("b", (i * 13 % 997).toDouble))).toDF("grp", "v")
    val cur = ((1 to 800).map(i => ("a", (i * 11 % 997).toDouble)) ++
      (1 to 800).map(i => ("b", 500.0 + (i * 17 % 997)))).toDF("grp", "v")
    val stats = StreamOps.psiReference(ref, "grp", "v")
    val curTs = cur.withColumn("ts", timestamp_seconds(lit(1000)))
    val streamed = StreamOps
      .psiStream(curTs, "grp", "v", stats, size = "3650 days")
      .collect().map(r => r.getAs[String]("grp") -> r.getAs[Double]("psi")).toMap
    val batch = graft.operators.Relational.psiDrift(
      ref.withColumn("isRef", lit(true))
        .unionByName(cur.withColumn("isRef", lit(false))),
      "grp", "v", col("isRef"), 10)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("psi")).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed("b") > 1.0 && math.abs(streamed("a")) < 0.05)
  }

  test("S22 streaming: per-window PSI rows emit with the reference broadcast") {
    val ref = (1 to 500).map(i => ("a", (i % 97).toDouble)).toDF("grp", "v")
    val stats = StreamOps.psiReference(ref, "grp", "v")
    val in = MemoryStream[Ev]
    val evs = in.toDF().select(col("ts"), col("event_type").as("grp"),
      col("value").as("v"))
    val out = StreamOps.psiStream(evs, "grp", "v", stats, size = "60 seconds")
    val q = out.writeStream.format("memory").queryName("s22").outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData((1 to 200).map(i => ev(i % 60, "a", i, v = (i % 97).toDouble + 300)): _*)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s22").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Double]("psi") > 1.0),
      "a fully-shifted window must read as drifted")
  }

  test("S30 golden: identical distribution reads exactly 0, binned D lower-bounds exact D") {
    val ref = ((1 to 997).map(i => ("a", (i * 7 % 997).toDouble)) ++
      (1 to 997).map(i => ("b", (i * 13 % 997).toDouble))).toDF("grp", "v")
    val stats = StreamOps.psiReference(ref, "grp", "v")
    // window = the reference itself → every boundary CDF pair is the
    // SAME integers through the same divide → D exactly 0.0
    val same = StreamOps.ksStream(
      ref.withColumn("ts", timestamp_seconds(lit(1000))),
      "grp", "v", stats, size = "3650 days")
      .collect().map(r => r.getAs[String]("grp") -> r.getAs[Double]("ks_d")).toMap
    assert(same == Map("a" -> 0.0, "b" -> 0.0), s"got $same")
    // shifted window: binned D̂ must detect it AND never exceed the
    // exact sup that batch ksDrift computes on the same composite
    val cur = ((1 to 800).map(i => ("a", (i * 11 % 997).toDouble)) ++
      (1 to 800).map(i => ("b", 500.0 + (i * 17 % 997)))).toDF("grp", "v")
    val binned = StreamOps.ksStream(
      cur.withColumn("ts", timestamp_seconds(lit(1000))),
      "grp", "v", stats, size = "3650 days")
      .collect().map(r => r.getAs[String]("grp") -> r.getAs[Double]("ks_d")).toMap
    val exact = graft.operators.Relational.ksDrift(
      ref.withColumn("isRef", lit(true))
        .unionByName(cur.withColumn("isRef", lit(false)))
        .withColumn("value", col("v")).withColumn("ts", timestamp_seconds(lit(0))),
      "grp", "v", col("isRef"))
      .collect().map(r => r.getAs[String]("grp") -> r.getAs[Double]("ks_d")).toMap
    Seq("a", "b").foreach { g =>
      assert(binned(g) <= exact(g) + 1e-6,
        s"$g: binned ${binned(g)} exceeds exact ${exact(g)}")
    }
    assert(binned("b") > 0.4, s"shifted group missed: ${binned("b")}")
    assert(binned("a") < 0.05, s"stable group flagged: ${binned("a")}")
  }

  test("S30 streaming: per-window KS rows emit against the broadcast reference") {
    val ref = (1 to 500).map(i => ("a", (i % 97).toDouble)).toDF("grp", "v")
    val stats = StreamOps.psiReference(ref, "grp", "v")
    val in = MemoryStream[Ev]
    val evs = in.toDF().select(col("ts"), col("event_type").as("grp"),
      col("value").as("v"))
    val out = StreamOps.ksStream(evs, "grp", "v", stats, size = "60 seconds")
    val q = out.writeStream.format("memory").queryName("s30").outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // every window value far above the reference support → window CDF
    // is 0 at every boundary → D = F_ref(b_9) = 0.9-ish
    in.addData((1 to 200).map(i => ev(i % 60, "a", i, v = (i % 97).toDouble + 300)): _*)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s30").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Double]("ks_d") > 0.8),
      "a fully-shifted window must read near the max binned D")
  }

  test("S31: windowed CMS probe estimates dominate exact counts within the εN band") {
    val in = MemoryStream[Ev]
    // one 60 s window: user 1 × 30 events, user 2 × 12, user 7 absent
    val out = StreamOps.cmsStream(in.toDF(), "user_id", Seq(1L, 2L, 7L),
      size = "60 seconds")
    val q = out.writeStream.format("memory").queryName("s31").outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    val evs = (1 to 30).map(i => ev(i % 50, "a", i, user = 1)) ++
      (1 to 12).map(i => ev(i % 50, "b", 100 + i, user = 2))
    in.addData(evs: _*)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s31").collect()
      .map(r => r.getAs[Long]("probe_key") ->
        (r.getAs[Long]("est_count"), r.getAs[Long]("n_events"))).toMap
    val epsN = (math.E / graft.ext.Sketches.CmsWidth * 42).toLong + 1
    assert(rows(1L)._1 >= 30 && rows(1L)._1 <= 30 + epsN, s"u1 ${rows(1L)}")
    assert(rows(2L)._1 >= 12 && rows(2L)._1 <= 12 + epsN)
    // an absent probe key may only carry collision mass ≤ εN
    assert(rows(7L)._1 <= epsN, s"absent key ${rows(7L)}")
    assert(rows(1L)._2 == 42)
  }

  test("S32: conversion lag emits exactly once per user, ignores pre-arm purchases") {
    val in = MemoryStream[Ev]
    val out = StreamOps.conversionLagStream(in.toDF(), "signup", "purchase")
    val q = out.writeStream.format("memory").queryName("s32").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    val base = 1704067200L
    in.addData(
      ev(base, "signup", 1, user = 1),
      ev(base + 3600, "purchase", 2, user = 1),   // u1 converts, lag 3600
      ev(base + 100, "purchase", 3, user = 2),    // u2: BEFORE signup → ignored
      ev(base + 200, "signup", 4, user = 2),
      ev(base + 50, "signup", 5, user = 3))       // u3 never converts
    q.processAllAvailable()
    in.addData(
      ev(base + 7200, "purchase", 6, user = 1),   // duplicate → no re-emit
      ev(base + 800, "purchase", 7, user = 2))    // u2 converts cross-batch, lag 600
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s32").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("lag_s")).toMap
    assert(rows == Map(1L -> 3600.0, 2L -> 600.0), s"got $rows")
  }

  test("RocksDB sweep r13: S32/S33/S34 run green on the production store, S27 replay unaffected") {
    // r12 verdict #6: the r12 stateful additions only ever ran on the
    // default HDFS-backed store. Same scripted inputs as their golden
    // tests, provider swapped; output must match and the progress
    // metrics must show RocksDB actually serving state.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // S32 conversion lag (fMGWS, NoTimeout)
      locally {
        val in = MemoryStream[Ev]
        val q = StreamOps.conversionLagStream(in.toDF(), "signup", "purchase")
          .writeStream.format("memory").queryName("s32r").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        val base = 1704067200L
        in.addData(ev(base, "signup", 1, user = 1),
          ev(base + 3600, "purchase", 2, user = 1),
          ev(base + 50, "signup", 3, user = 3))
        q.processAllAvailable()
        val usedRocks = Option(q.lastProgress).exists(
          _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
        q.stop()
        val rows = spark.table("s32r").collect()
          .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("lag_s")).toMap
        assert(rows == Map(1L -> 3600.0), s"S32 under RocksDB: $rows")
        assert(usedRocks, "S32 shows no RocksDB state metrics")
      }
      // S33 burst alerts (windowed agg state)
      locally {
        val in = MemoryStream[Ev]
        val q = StreamOps.burstStream(in.toDF(), "user_id", threshold = 5L,
            size = "60 seconds")
          .writeStream.format("memory").queryName("s33r").outputMode("update")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((1 to 6).map(i => ev(i, "a", i, user = 1)) ++
          (1 to 3).map(i => ev(i, "a", 100 + i, user = 2)): _*)
        q.processAllAvailable()
        val usedRocks = Option(q.lastProgress).exists(
          _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
        q.stop()
        val alerts = spark.table("s33r").collect()
        assert(alerts.map(_.getLong(0)).toSet == Set(1L) &&
          alerts.head.getLong(2) == 6L, s"S33 under RocksDB: ${alerts.toSeq}")
        assert(usedRocks, "S33 shows no RocksDB state metrics")
      }
      // S53 quota-capped admission (fMGWS, NoTimeout — the admitted
      // counter must persist and cap through the production store)
      locally {
        val in = MemoryStream[(String, Long)]
        val q = StreamOps.quotaFillStream(in.toDF().toDF("source", "doc_id"),
            Map("src0" -> 2L))
          .writeStream.format("memory").queryName("s53r").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData(("src0", 10L), ("src0", 4L))
        q.processAllAvailable()
        in.addData(("src0", 2L)) // counter at quota — must drop
        q.processAllAvailable()
        val usedRocks = Option(q.lastProgress).exists(
          _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
        q.stop()
        val got = spark.table("s53r").collect()
          .map(r => (r.getLong(1), r.getLong(2))).toSet
        assert(got == Set((4L, 1L), (10L, 2L)), s"S53 under RocksDB: $got")
        assert(usedRocks, "S53 shows no RocksDB state metrics")
      }
      // S34 heartbeat/liveness (fMGWS, EventTimeTimeout — the timeout
      // path must fire from RocksDB-held state)
      locally {
        val base = 1700000000L
        val in = MemoryStream[Ev]
        val q = StreamOps.heartbeatMonitor(in.toDF(), silenceMs = 60000L)
          .writeStream.format("memory").queryName("s34r").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData(ev(base + 0, "a", 1, user = 1), ev(base + 0, "a", 2, user = 2))
        q.processAllAvailable()
        in.addData(ev(base + 200, "a", 3, user = 1))
        q.processAllAvailable()
        in.addData(ev(base + 400, "a", 4, user = 1))
        q.processAllAvailable()
        val usedRocks = Option(q.lastProgress).exists(
          _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
        q.stop()
        val alerts = spark.table("s34r").collect()
        assert(alerts.length == 1 && alerts.head.getLong(0) == 2L,
          s"S34 under RocksDB: ${alerts.toSeq}")
        assert(usedRocks, "S34 shows no RocksDB state metrics")
      }
      // S27 SCD2 sink: foreachBatch is STATELESS streaming (the
      // dimension lives at rest, never in the state store — that's the
      // design), so the provider swap must be a no-op: same fold, and
      // the progress carries no state operators at all.
      locally {
        import graft.streaming.Sinks
        val init = Seq((1L, 10.0, "2024-01-01")).toDF("k", "bal", "f")
          .select(col("k"), col("bal"), col("f").cast("date").as("valid_from"))
        val dim = tmpDir("dim")
        val day1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime / 1000
        val in = MemoryStream[Ev]
        val updates = in.toDF().select(col("user_id").as("k"),
          col("value").as("bal"), col("ts").cast("date").as("eff"))
        val q = Sinks.scd2Sink(updates, dim, tmpDir("ckpt"),
          Seq("k"), Seq("bal"), init)
        in.addData(ev(day1, "u", 1, user = 1, v = 20.0))
        q.processAllAvailable()
        val noState = Option(q.lastProgress).forall(_.stateOperators.isEmpty)
        q.stop()
        val vmax = new java.io.File(dim).listFiles
          .filter(_.getName.startsWith("v=")).map(_.getName.drop(2).toLong).max
        val rows = spark.read.parquet(s"$dim/v=$vmax")
          .collect().map(r => (r.getLong(0), r.getDouble(1),
            r.getBoolean(4))).toSet
        assert(rows == Set((1L, 10.0, false), (1L, 20.0, true)),
          s"S27 under RocksDB conf: $rows")
        assert(noState, "S27 unexpectedly registered stateful operators")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("S31 under RocksDB: the 64 KB CMS window buffer runs on the production store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val out = StreamOps.cmsStream(in.toDF(), "user_id", Seq(1L, 2L),
        size = "60 seconds")
      val q = out.writeStream.format("memory").queryName("s31r")
        .outputMode("update")
        .option("checkpointLocation", tmpDir("ckpt")).start()
      in.addData((1 to 20).map(i => ev(i % 50, "a", i, user = 1)): _*)
      q.processAllAvailable()
      val usedRocks = Option(q.lastProgress).exists(
        _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
      q.stop()
      val rows = spark.table("s31r").collect()
        .map(r => r.getAs[Long]("probe_key") -> r.getAs[Long]("est_count")).toMap
      assert(rows(1L) >= 20, s"got $rows")
      assert(usedRocks, "progress metrics show no RocksDB state store activity")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("S26: stream-static AS-OF enrichment picks each event's effective dimension version") {
    import graft.operators.Warehouse
    val hist = Seq(
      (1L, 10.0, "2024-01-01", Option("2024-01-15"), false),
      (1L, 20.0, "2024-01-15", Option.empty[String], true),
      (2L, 5.0, "2024-01-01", Option.empty[String], true))
      .toDF("k", "bal", "f", "t", "is_current")
      .select(col("k"), col("bal"), col("f").cast("date").as("valid_from"),
        col("t").cast("date").as("valid_to"), col("is_current"))
    val day0 = java.sql.Timestamp.valueOf("2024-01-05 00:00:00").getTime / 1000
    val day20 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00").getTime / 1000
    val in = MemoryStream[Ev]
    val facts = in.toDF().select(col("event_id"), col("ts"),
      col("user_id").as("ck"))
    val out = Warehouse.asOfEnrich(facts, hist, "ck", "k")
      .select(col("event_id"), col("bal"))
    val q = out.writeStream.format("memory").queryName("s26").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData(
      ev(day0, "x", 1, user = 1),   // before the update → 10.0
      ev(day20, "x", 2, user = 1),  // after → 20.0
      ev(day0, "x", 3, user = 2))   // single-version key → 5.0
    q.processAllAvailable(); q.stop()
    val got = spark.table("s26").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("bal")).toMap
    assert(got == Map(1L -> 10.0, 2L -> 20.0, 3L -> 5.0))
  }

  test("S25: streamed sketch percentile bands stay within rank error of the exact q171 bands") {
    val d = sf("sf0.001")
    val ev0 = graft.sources.Tables.events(spark, d)
    // stream the fixture through the sketch op in true streaming mode
    val rows0 = ev0.select("ts", "user_id", "event_type", "value", "event_id")
      .orderBy("ts").collect()
    val rows = rows0.map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getLong(4)))
    val in = MemoryStream[Ev]
    val out = StreamOps.percentileBandStream(in.toDF(), "event_type", "value",
      watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("s25")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    rows.grouped(1500).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val sk = spark.table("s25").collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getString(1)) ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p95"))).toMap
    val exact = graft.operators.Relational
      .percentileBands(ev0, "event_type", "value")
      .collect().map(r => (r.getDate(1).toString, r.getString(0)) ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p95"), r.getAs[Long]("n"))).toMap
    assert(sk.nonEmpty && sk.keySet == exact.keySet)
    // per-cell value tolerance: the sketch at accuracy 10000 on
    // <10k-row windows is exact-to-near-exact; allow a whisker for
    // rank-1 ties
    exact.foreach { case (k, (p50, p95, n)) =>
      val (s50, s95) = sk(k)
      assert(math.abs(s50 - p50) <= math.max(1.0, 0.05 * math.abs(p50) + 1e-9),
        s"$k p50 sketch $s50 vs exact $p50 (n=$n)")
      assert(math.abs(s95 - p95) <= math.max(1.0, 0.05 * math.abs(p95) + 1e-9),
        s"$k p95 sketch $s95 vs exact $p95 (n=$n)")
    }
  }

  test("S24 parity: batch-mode windowed entropy equals Relational.entropy; collapse alerts") {
    val d = sf("sf0.001")
    val ev0 = graft.sources.Tables.events(spark, d)
    val cats = ev0.select("event_type").distinct()
      .as[String].collect().sorted.toSeq
    // one huge window over the whole fixture ≡ the batch audit with a
    // constant group (all categories present → same k normalization)
    val streamed = StreamOps.entropyStream(ev0, "event_type", cats,
      size = "3650 days").collect().head
    val batch = graft.operators.Relational
      .entropy(ev0.withColumn("g", lit("all")), "g", "event_type")
      .collect().head
    assert(streamed.getAs[Double]("entropy") == batch.getAs[Double]("entropy"))
    assert(streamed.getAs[Double]("entropy_norm") == batch.getAs[Double]("entropy_norm"))
    // streaming: a window fed a single label must read entropy 0
    val in = MemoryStream[Ev]
    val out = StreamOps.entropyStream(in.toDF(), "event_type",
      Seq("click", "view"), size = "60 seconds")
    val q = out.writeStream.format("memory").queryName("s24").outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData((1 to 50).map(i => ev(i % 60, "click", i)): _*)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s24").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Double]("entropy") == 0.0))
  }

  test("S23 parity: streamed windowed checksums equal the batch run on identical input") {
    val d = sf("sf0.001")
    val rendered = Seq(col("event_id").cast("string"),
      col("value").cast("decimal(18,2)").cast("string"))
    val batch = StreamOps.checksumStream(
      graft.sources.Tables.events(spark, d), "event_type", rendered)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("checksum"))).toMap
    val ev0 = graft.sources.Tables.events(spark, d)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .orderBy("ts").collect()
    val rows = ev0.map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getLong(4)))
    val in = MemoryStream[Ev]
    val out = StreamOps.checksumStream(in.toDF(), "event_type", rendered,
      watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("s23")
      .outputMode("complete") // all windows visible without watermark games
      .option("checkpointLocation", tmpDir("ckpt")).start()
    rows.grouped(1000).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("s23").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("checksum"))).toMap
    assert(streamed == batch && batch.nonEmpty)
  }

  test("S21: skip-gram ring emits band pairs only, drops stale, caps window") {
    val in = MemoryStream[Ev]
    // a b c d with maxSkip=2 → ab, ac, bc, bd, cd (no ad)
    in.addData(ev(10, "a", 1), ev(20, "b", 2), ev(30, "c", 3))
    val out = StreamOps.skipGramStream(in.toDF(), maxSkip = 2)
    val q = out.writeStream.format("memory").queryName("s21").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    q.processAllAvailable()
    // cross-batch: d at 40 pairs with b,c from state; stale event at 15
    // (older than ring head) is dropped
    in.addData(ev(40, "d", 4), ev(15, "x", 5))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s21").collect()
      .map(r => (r.getString(1), r.getString(2))).toList.sorted
    assert(got == List(("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")))
  }

  test("S21 parity on the REAL fixture: streamed pairs equal batch q138 counts") {
    val d = sf("sf0.001")
    val ev0 = graft.sources.Tables.events(spark, d)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .orderBy("ts").collect()
    val rows = ev0.map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getLong(4)))
    val in = MemoryStream[Ev]
    val out = StreamOps.skipGramStream(in.toDF(), maxSkip = 3,
      watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("s21par")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    rows.grouped(500).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("s21par").collect()
      .groupBy(r => (r.getString(1), r.getString(2)))
      .map { case (k, v) => k -> (v.length.toLong,
        v.map(_.getLong(0)).distinct.length.toLong) }
    val batch = graft.operators.Relational
      .skipGramPairs(graft.sources.Tables.events(spark, d), maxSkip = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_users"))).toMap
    assert(batch.nonEmpty && streamed.toMap == batch)
  }

  test("RocksDB sweep r14: S35/S36/S37/S38 run green on the production store") {
    // the r13 sweep covered S32/S33/S34 + S27; the operators added
    // since (EWMA, CUSUM, reservoir, CDC upsert) had only ever run on
    // the default HDFS-backed store. Same scripted inputs as their
    // golden tests, provider swapped; output must match and progress
    // metrics must show RocksDB actually serving state.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def usedRocks(q: org.apache.spark.sql.streaming.StreamingQuery) =
      Option(q.lastProgress).exists(
        _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
    try {
      val base = 1700000000L
      locally { // S35 EWMA
        val in = MemoryStream[Ev]
        val q = StreamOps.ewmaStream(in.toDF(), alpha = 0.5)
          .writeStream.format("memory").queryName("s35r").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData(ev(base + 20, "a", 3, v = 30.0), ev(base + 0, "a", 1, v = 10.0),
          ev(base + 10, "a", 2, v = 20.0))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        val got = spark.table("s35r").collect()
          .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma")).toMap
        assert(got == Map(1L -> 10.0, 2L -> 15.0, 3L -> 22.5), s"S35: $got")
        assert(rocks, "S35 shows no RocksDB state metrics")
      }
      locally { // S36 CUSUM
        val in = MemoryStream[Ev]
        val q = StreamOps.cusumStream(in.toDF(), mu0 = 10.0, slack = 1.0,
            threshold = 5.0)
          .writeStream.format("memory").queryName("s36r").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData(
          ev(base + 1, "a", 1, v = 12.0), ev(base + 2, "a", 2, v = 12.0),
          ev(base + 3, "a", 3, v = 12.0), ev(base + 4, "a", 4, v = 15.0))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        val got = spark.table("s36r").collect()
          .map(r => (r.getLong(2), r.getString(3), r.getDouble(4)))
        assert(got.toSet == Set((4L, "up", 7.0)), s"S36: ${got.toSeq}")
        assert(rocks, "S36 shows no RocksDB state metrics")
      }
      locally { // S37 reservoir
        def bottomK(ids: Seq[Long], k: Int): Seq[Long] =
          ids.map(id => (StreamOps.mix64(id), id)).sorted.take(k).map(_._2).sorted
        val in = MemoryStream[Ev]
        val q = StreamOps.reservoirStream(in.toDF(), k = 3)
          .writeStream.format("memory").queryName("s37r").outputMode("update")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((1L to 6L).map(i => ev(i, "a", i)): _*)
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        val got = spark.table("s37r").collect()
          .map(r => (r.getLong(1), r.getSeq[Long](2).toSeq)).last
        assert(got == ((6L, bottomK(1L to 6L, 3))), s"S37: $got")
        assert(rocks, "S37 shows no RocksDB state metrics")
      }
      locally { // S38 CDC upsert
        val in = MemoryStream[(Long, String, Long, String)]
        val q = StreamOps.cdcUpsertStream(
            in.toDF().toDF("k", "op", "version", "payload"))
          .writeStream.format("memory").queryName("s38r").outputMode("update")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((1L, "I", 1L, "a"), (1L, "U", 3L, "b"), (2L, "D", 2L, "x"))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        val got = spark.table("s38r").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getBoolean(4))).toSet
        assert(got == Set((1L, 3L, "b", false), (2L, 2L, "x", true)), s"S38: $got")
        assert(rocks, "S38 shows no RocksDB state metrics")
      }
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("S39: geofence transitions — enter/exit/cross emit once, same-zone moves silent, regressions dropped") {
    val zones = Seq(("A", 0L, 100L, 0L, 100L), ("B", 100L, 200L, 0L, 100L))
    val base = 1700000000L
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val ev = in.toDF().toDF("ts", "user_id", "event_id", "xi", "yi")
    val q = StreamOps.geofenceStream(ev, zones)
      .writeStream.format("memory").queryName("s39").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def at(sec: Long, id: Long, x: Long, y: Long, user: Long = 1L) =
      (new java.sql.Timestamp((base + sec) * 1000), user, id, x, y)
    // enter A (from outside), move within A (silent), cross to B —
    // delivered OUT of order within the batch; the fold is event-time
    in.addData(at(30, 3, 150, 50), at(10, 1, 50, 50), at(20, 2, 60, 60))
    q.processAllAvailable()
    def rows() = spark.table("s39").collect()
      .map(r => (r.getLong(2), r.getString(3), r.getString(4)))
    assert(rows().toSet == Set((1L, "outside", "A"), (3L, "A", "B")),
      s"b1: ${rows().toSeq}")
    // batch 2: a REGRESSION behind the anchor (would claim A again) is
    // dropped; an exit to outside emits; boundary x=100 belongs to B
    // (half-open boxes) — same zone as current, silent
    in.addData(at(15, 9, 55, 55), at(40, 4, 100, 50), at(50, 5, 500, 500))
    q.processAllAvailable(); q.stop()
    assert(rows().toSet == Set((1L, "outside", "A"), (3L, "A", "B"),
      (5L, "B", "outside")), s"b2: ${rows().toSeq}")
  }

  test("S38: CDC upsert materializer — last-writer wins, tombstones, resurrect, absorb late") {
    val in = MemoryStream[(Long, String, Long, String)]
    val q = StreamOps.cdcUpsertStream(in.toDF().toDF("k", "op", "version", "payload"))
      .writeStream.format("memory").queryName("s38").outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def rows() = spark.table("s38").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4)))
    // batch 1: in-batch last-writer (max version wins regardless of
    // arrival order), two keys, plus a same-version D>U tie on k=3
    in.addData((1L, "U", 3L, "b"), (1L, "I", 1L, "a"), (2L, "I", 2L, "x"),
      (3L, "U", 1L, "u"), (3L, "D", 1L, "d"))
    q.processAllAvailable()
    assert(rows().toSet == Set(
      (1L, 3L, "U", "b", false), (2L, 2L, "I", "x", false),
      (3L, 1L, "D", "d", true)), s"b1: ${rows().toSeq}")
    // batch 2: late lower version ABSORBED (no emit), delete emits a
    // tombstone, duplicate redelivery of the current winner is silent
    val n1 = rows().length
    in.addData((1L, "U", 2L, "late"), (1L, "U", 3L, "b"), (2L, "D", 5L, "-"))
    q.processAllAvailable()
    val b2 = rows()
    assert(b2.length == n1 + 1, s"only the tombstone may emit: ${b2.toSeq}")
    assert(b2.toSet.contains((2L, 5L, "D", "-", true)), s"b2: ${b2.toSeq}")
    // batch 3: higher-version insert RESURRECTS the deleted key
    in.addData((2L, "I", 7L, "y"))
    q.processAllAvailable(); q.stop()
    val last = rows().filter(_._1 == 2L).last
    assert(last == ((2L, 7L, "I", "y", false)), s"resurrect: $last")
    // parity with the batch form: the stream's final state per key
    // equals cdcMerge's winners over the same change set
    import spark.implicits._
    val allCh = Seq(
      (1L, "U", 3L, "b"), (1L, "I", 1L, "a"), (2L, "I", 2L, "x"),
      (3L, "U", 1L, "u"), (3L, "D", 1L, "d"),
      (1L, "U", 2L, "late"), (2L, "D", 5L, "-"), (2L, "I", 7L, "y"))
      .toDF("k", "op", "version", "payload")
    val batchFinal = graft.operators.Warehouse
      .cdcMerge(Seq.empty[(Long, String)].toDF("k", "payload"), allCh,
        "k", Seq("payload"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val streamFinal = rows().groupBy(_._1).map { case (k, rs) => k -> rs.last }
      .filter(!_._2._5).map { case (k, r) => k -> r._4 }
    assert(streamFinal == batchFinal,
      s"stream $streamFinal vs batch $batchFinal")
  }

  test("S39-poly: polygon zones resolve by exact ray-cast; concave notch reads outside") {
    val base = 1700000000L
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val ev = in.toDF().toDF("ts", "user_id", "event_id", "xi", "yi")
    val q = StreamOps.geofencePolyStream(ev, graft.operators.Spatial.demoZones)
      .writeStream.format("memory").queryName("s39p").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def at(sec: Long, id: Long, x: Long, y: Long, user: Long = 1L) =
      (new java.sql.Timestamp((base + sec) * 1000), user, id, x, y)
    // pent center → hook NOTCH (inside bbox, outside the C — the case
    // a box zone gets wrong) → hook spine → diamond∩band overlap
    // (first containing zone in list order: band)
    in.addData(at(10, 1, 25000, 25000), at(20, 2, 70000, 27000),
      at(30, 3, 85000, 27000), at(40, 4, 50000, 71000))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s39p").collect()
      .map(r => (r.getLong(2), r.getString(3), r.getString(4))).toSet
    assert(got == Set((1L, "outside", "pent"), (2L, "pent", "outside"),
      (3L, "outside", "hook"), (4L, "hook", "band")), s"got $got")
  }

  test("S39: idle eviction (opt-in) re-enters from outside after the gap") {
    val zones = Seq(("A", 0L, 100L, 0L, 100L))
    val base = 1700000000L
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val ev = in.toDF().toDF("ts", "user_id", "event_id", "xi", "yi")
    val q = StreamOps.geofenceStream(ev, zones, "0 seconds",
        idleGapUs = Some(30L * 1000000))
      .writeStream.format("memory").queryName("s39e").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def at(sec: Long, id: Long, x: Long, y: Long, user: Long = 1L) =
      (new java.sql.Timestamp((base + sec) * 1000), user, id, x, y)
    in.addData(at(10, 1, 50, 50))                  // u1 enters A
    q.processAllAvailable()
    in.addData(at(100, 2, 500, 500, user = 2L))    // watermark → 100 s
    q.processAllAvailable()
    in.addData(at(101, 3, 500, 500, user = 2L))    // batch fires u1's timeout
    q.processAllAvailable()
    in.addData(at(102, 4, 50, 50))                 // u1 returns, still in A
    q.processAllAvailable(); q.stop()
    val u1 = spark.table("s39e").collect()
      .filter(_.getLong(0) == 1L)
      .map(r => (r.getLong(2), r.getString(3), r.getString(4))).toSeq
    // WITHOUT eviction the return event is same-zone (silent); the
    // second outside→A proves the state was dropped at the idle gap
    assert(u1 == Seq((1L, "outside", "A"), (4L, "outside", "A")),
      s"u1 transitions: $u1")
  }

  test("S38: tombstone GC (opt-in) evicts past event-time retention; a late lower version re-materializes") {
    val base = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    val in = MemoryStream[(Long, String, Long, String, java.sql.Timestamp)]
    val q = StreamOps.cdcUpsertStream(
        in.toDF().toDF("k", "op", "version", "payload", "ts"),
        tombstoneRetentionUs = Some(30L * 1000000), watermark = "0 seconds")
      .writeStream.format("memory").queryName("s38g").outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def rows() = spark.table("s38g").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4)))
    in.addData((1L, "D", 5L, "-", ts(10)))         // tombstone; evict at 10+30 s
    q.processAllAvailable()
    assert(rows().toSet == Set((1L, 5L, "D", "-", true)), s"b1: ${rows().toSeq}")
    in.addData((9L, "I", 1L, "x", ts(100)))        // watermark → 100 s
    q.processAllAvailable()
    in.addData((9L, "I", 2L, "y", ts(101)))        // this batch fires the timer
    q.processAllAvailable()
    // POST-GC contract (the Kafka delete.retention.ms trade): a change
    // with a LOWER version than the collected tombstone re-materializes
    // the key — under infinite retention it would have been absorbed
    // (pinned absorbed in the base S38 golden)
    in.addData((1L, "U", 3L, "late", ts(102)))
    q.processAllAvailable(); q.stop()
    val k1 = rows().filter(_._1 == 1L).toSeq
    assert(k1 == Seq((1L, 5L, "D", "-", true), (1L, 3L, "U", "late", false)),
      s"k1 history: $k1")
  }

  test("S38: an absorbed late change does NOT extend the tombstone eviction horizon") {
    val base = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    val in = MemoryStream[(Long, String, Long, String, java.sql.Timestamp)]
    val q = StreamOps.cdcUpsertStream(
        in.toDF().toDF("k", "op", "version", "payload", "ts"),
        tombstoneRetentionUs = Some(30L * 1000000), watermark = "0 seconds")
      .writeStream.format("memory").queryName("s38h").outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def rows() = spark.table("s38h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4)))
    in.addData((1L, "D", 5L, "-", ts(10)))   // winner; horizon = 10+30 = 40 s
    q.processAllAvailable()
    // absorbed lower-version change at ts 35: the horizon must STAY 40
    // (arming from the batch-max ts would push it to 35+30 = 65)
    in.addData((1L, "U", 2L, "abs", ts(35)))
    q.processAllAvailable()
    in.addData((9L, "I", 1L, "x", ts(50)))   // wm → 50: fires the 40 s timer
    q.processAllAvailable()
    in.addData((9L, "I", 2L, "y", ts(51)))   // drains the timer batch
    q.processAllAvailable()
    // v3 < tombstone v5: re-materializes ONLY if the key was evicted
    // at the winner's own horizon — an extended (65 s) timer would
    // still be alive at wm 51 and absorb this
    in.addData((1L, "U", 3L, "late", ts(52)))
    q.processAllAvailable(); q.stop()
    val k1 = rows().filter(_._1 == 1L).toSeq
    assert(k1 == Seq((1L, 5L, "D", "-", true), (1L, 3L, "U", "late", false)),
      s"eviction horizon was extended by the absorbed row: $k1")
  }

  test("S40: streaming interval union — watermark-closed blocks emit once, batch parity") {
    val base = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    // (user, s, e) with s/e as offsets from base
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Long)]
    val iv = in.toDF().toDF("user_id", "ts", "s", "e")
    val q = StreamOps.intervalUnionStream(iv, watermark = "0 seconds")
      .writeStream.format("memory").queryName("s40").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def add(u: Long, s: Long, e: Long) =
      in.addData((u, ts(s), base + s, base + e))
    def rows() = spark.table("s40").collect()
      .map(r => (r.getLong(0), r.getLong(1) - base, r.getLong(2) - base,
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // batch 1, OUT of order: u1 builds [10,40) from three pieces
    // (overlap + touch), plus a disjoint [100,110); u2 one interval.
    // The max event time (100) advances the watermark, and
    // processAllAvailable runs the follow-up batch that fires timers —
    // so blocks ending before 100 close HERE, [100,110) stays open.
    add(1L, 20, 40); add(1L, 10, 25); add(1L, 25, 25); add(1L, 100, 110)
    add(2L, 15, 30)
    q.processAllAvailable()
    assert(rows().toSet == Set((1L, 10L, 40L, 3L, 30L, 35L),
      (2L, 15L, 30L, 1L, 15L, 15L)), s"after b1: ${rows().toSeq}")
    // batch 2: watermark → 200 closes [100,110) (merged out-of-order
    // pieces already gone), the new [200,210) stays open
    add(1L, 200, 210)
    q.processAllAvailable()
    val afterB2 = rows().toSet
    assert(afterB2.contains((1L, 100L, 110L, 1L, 10L, 10L)), s"$afterB2")
    assert(!afterB2.exists(r => r._1 == 1L && r._2 == 200L),
      s"open block leaked: $afterB2")
    // an unrelated key's far-future event closes u1's last block via
    // the armed timeout (no u1 traffic needed)
    add(9L, 500, 501)
    q.processAllAvailable()
    assert(rows().toSet.contains((1L, 200L, 210L, 1L, 10L, 10L)),
      s"timeout close missing: ${rows().toSeq}")
    add(9L, 900, 901)
    q.processAllAvailable(); q.stop()
    val streamed = rows().filter(r => r._1 == 1L || r._1 == 2L)
    import spark.implicits._
    val batchIv = Seq((1L, base + 20, base + 40), (1L, base + 10, base + 25),
      (1L, base + 25, base + 25), (1L, base + 100, base + 110),
      (1L, base + 200, base + 210), (2L, base + 15, base + 30))
      .toDF("user_id", "s", "e")
    val batch = graft.operators.Relational.intervalUnion(batchIv, "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val streamAgg = streamed.groupBy(_._1).map { case (u, bs) =>
      (u, bs.map(_._4).sum, bs.size.toLong, bs.map(_._5).sum, bs.map(_._6).sum)
    }.toSet
    assert(streamAgg == batch, s"stream $streamAgg vs batch $batch")
    // exactly-once: no block emitted twice
    assert(rows().length == rows().toSet.size, s"duplicate blocks: ${rows().toSeq}")
  }

  test("S42: streaming gaps emit once when the closing block finalizes; batch parity") {
    val base = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Long)]
    val q = StreamOps.intervalGapsStream(
        in.toDF().toDF("user_id", "ts", "s", "e"), watermark = "0 seconds")
      .writeStream.format("memory").queryName("s42").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def add(u: Long, s: Long, e: Long) =
      in.addData((u, ts(s), base + s, base + e))
    def rows() = spark.table("s42").collect()
      .map(r => (r.getLong(0), r.getLong(1) - base, r.getLong(2) - base, r.getLong(3)))
    // u1 blocks [10,40) (merged), [100,110); u2 one block
    add(1L, 20, 40); add(1L, 10, 25); add(1L, 100, 110); add(2L, 15, 30)
    q.processAllAvailable()
    // wm=100 closes [10,40) only -> no gap yet (its successor is open)
    assert(rows().isEmpty, s"premature gap: ${rows().toSeq}")
    add(1L, 200, 210)  // wm -> 200 closes [100,110) -> gap (40,100) final
    q.processAllAvailable()
    assert(rows().toSet == Set((1L, 40L, 100L, 60L)), s"b2: ${rows().toSeq}")
    add(9L, 500, 501)  // wm -> 500 closes [200,210) via timeout -> gap (110,200)
    q.processAllAvailable()
    assert(rows().toSet == Set((1L, 40L, 100L, 60L), (1L, 110L, 200L, 90L)),
      s"after timeout close: ${rows().toSeq}")
    // RESUME AFTER FULL CLOSE: every u1 block is now watermark-closed
    // (no open state) — the frontier-only state must survive so the
    // downtime gap (210, 1000) still pairs when the machine returns
    add(1L, 1000, 1010)
    q.processAllAvailable()
    add(9L, 2000, 2001)  // wm -> 2000 closes [1000,1010) -> gap (210,1000)
    q.processAllAvailable()
    assert(rows().toSet.contains((1L, 210L, 1000L, 790L)),
      s"resume-after-close gap missing: ${rows().toSeq}")
    add(9L, 9000, 9001)
    q.processAllAvailable(); q.stop()
    val got = rows().filter(r => r._1 == 1L || r._1 == 2L).toSet
    import spark.implicits._
    val batch = graft.operators.Relational.intervalGaps(
        Seq((1L, base + 20, base + 40), (1L, base + 10, base + 25),
          (1L, base + 100, base + 110), (1L, base + 200, base + 210),
          (1L, base + 1000, base + 1010),
          (2L, base + 15, base + 30)).toDF("user_id", "s", "e"), "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1) - base,
        r.getLong(2) - base, r.getLong(3))).toSet
    assert(got == batch, s"stream $got vs batch $batch")
    assert(rows().length == rows().toSet.size, "duplicate gaps")
  }

  test("S43: spherical circle geofences resolve by polynomial haversine; dateline zone works") {
    val base = 1700000000L
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val ev = in.toDF().toDF("ts", "user_id", "event_id", "la", "lo")
    val q = StreamOps.geofenceSphereStream(ev,
        graft.operators.Geo.demoCircleZones)
      .writeStream.format("memory").queryName("s43").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def at(sec: Long, id: Long, la: Long, lo: Long, user: Long = 1L) =
      (new java.sql.Timestamp((base + sec) * 1000), user, id, la, lo)
    // enter the dateline zone FROM THE OTHER SIDE of the antimeridian
    // (center lon +179.9°, point at -179.8° ≈ 33 km away), move out to
    // the equator zone, then far outside everything
    in.addData(at(10, 1, 0L, -179800000L), at(20, 2, -2000000L, -60000000L),
      at(30, 3, 40000000L, 40000000L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s43").collect()
      .map(r => (r.getLong(2), r.getString(3), r.getString(4))).toSet
    assert(got == Set((1L, "outside", "dateline"), (2L, "dateline", "equator"),
      (3L, "equator", "outside")), s"got $got")
  }

  test("S45: zone-scale geofence — DataFrame zones, nearest-wins overlap, batch resolution parity") {
    import spark.implicits._
    val base = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    // two OVERLAPPING zones near (10°, 20°) — nearest must win — plus
    // a dateline zone and a far one; radii within the 500 km grid
    val zones = Seq(
      (101L, 10000000L, 20000000L, 400000.0),
      (102L, 10500000L, 20500000L, 400000.0),
      (103L, 0L, 179900000L, 300000.0),
      (104L, -60000000L, -90000000L, 200000.0))
      .toDF("zone_id", "zla", "zlo", "radius_m")
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val q = StreamOps.geofenceZoneStream(
        in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"),
        zones, 500000.0)
      .writeStream.format("memory").queryName("s45").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // u1: outside → zone 101's center (overlap region resolves to the
    // NEAREST by (hav, zone_id)) → near 102's center → across the
    // dateline zone → far outside
    in.addData(
      (ts(10), 1L, 1L, 40000000L, 40000000L),     // outside
      (ts(20), 1L, 2L, 10000000L, 20000000L),     // 101 exactly
      (ts(30), 1L, 3L, 10500000L, 20500000L),     // overlap → nearest = 102
      (ts(40), 1L, 4L, 100000L, -179950000L),     // dateline wrap → 103
      (ts(50), 1L, 5L, -30000000L, 100000000L))   // outside
    q.processAllAvailable(); q.stop()
    val got = spark.table("s45").collect()
      .map(r => (r.getLong(2), r.getString(3), r.getString(4))).toSeq.sortBy(_._1)
    assert(got == Seq((2L, "outside", "101"), (3L, "101", "102"),
      (4L, "102", "103"), (5L, "103", "outside")), s"got $got")
    // parity: the stream's per-event resolution == the batch
    // nearest-zone rank (q260 machinery) over the same points
    val pts = Seq((2L, 10000000L, 20000000L), (3L, 10500000L, 20500000L),
      (4L, 100000L, -179950000L)).toDF("id", "la", "lo")
    val batch = graft.operators.Geo.sphericalZoneJoin(pts, zones, 500000.0)
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(org.apache.spark.sql.functions.col("hav"),
            org.apache.spark.sql.functions.col("zone_id"))))
      .filter(org.apache.spark.sql.functions.col("rk") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1).toString)).toMap
    assert(batch == Map(2L -> "101", 3L -> "102", 4L -> "103"),
      s"batch resolution diverged: $batch")
  }

  test("S44: proximity alerts — same-batch and cross-batch pairs once, eviction, no far pairs") {
    val base = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long)]
    // 30 s horizon: readings pair while both are in it
    val q = StreamOps.proximityStream(
        in.toDF().toDF("ts", "id", "la", "lo"), 150000.0,
        watermark = "30 seconds")
      .writeStream.format("memory").queryName("s44").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def rows() = spark.table("s44").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // batch 1: A(1) and B(2) ~109 km apart arrive TOGETHER → one pair;
    // C(3) far away → nothing
    in.addData((ts(10), 1L, 10000000L, 20000000L),
      (ts(12), 2L, 10000000L, 21000000L),
      (ts(11), 3L, -50000000L, -120000000L))
    q.processAllAvailable()
    val b1 = rows()
    assert(b1.length == 1 && b1.head._1 == 1L && b1.head._2 == 2L,
      s"same-batch pair wrong: ${b1.toSeq}")
    assert(b1.head._3 == graft.operators.Geo.havScala(
      10000000L, 20000000L, 10000000L, 21000000L), "hav not bit-identical")
    // batch 2 (in horizon): D(4) lands near A → cross-batch pair with
    // BOTH A and B, each exactly once
    in.addData((ts(20), 4L, 10100000L, 20100000L))
    q.processAllAvailable()
    val b2 = rows().toSet
    assert(b2.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 4L), (2L, 4L)),
      s"cross-batch pairs: $b2")
    assert(rows().length == rows().toSet.size, "duplicate pair events")
    // push the watermark far ahead (lone far reading) → A/B/D evict;
    // a NEW reading at A's spot pairs with nothing
    in.addData((ts(1000), 9L, -50000000L, 170000000L))
    q.processAllAvailable()
    in.addData((ts(1005), 5L, 10000000L, 20000000L))
    q.processAllAvailable(); q.stop()
    assert(rows().length == 3, s"post-eviction pair leaked: ${rows().toSeq}")
  }

  test("S44: batch parity — streamed fixture pairs == sphericalRadiusJoin, hav bit-identical") {
    val pts = graft.operators.Geo.customerPoints(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val base = 1700000000L
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long)]
    val q = StreamOps.proximityStream(
        in.toDF().toDF("ts", "id", "la", "lo"), 800000.0,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("s44p").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // two batches, split arbitrarily — pairs must not care
    val (h1, h2) = pts.splitAt(pts.length / 2)
    in.addData(h1.map(p => (new java.sql.Timestamp(base * 1000), p._1, p._2, p._3)).toSeq)
    q.processAllAvailable()
    in.addData(h2.map(p => (new java.sql.Timestamp((base + 5) * 1000), p._1, p._2, p._3)).toSeq)
    q.processAllAvailable(); q.stop()
    val got = spark.table("s44p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == got.toSet.size, "duplicate pairs")
    val want = graft.operators.Geo.sphericalRadiusJoin(
        graft.operators.Geo.customerPoints(spark, sf("sf0.001")), 800000.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "vacuous parity fixture")
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(3)} extra=${(got.toSet -- want).take(3)}")
  }

  test("S46: dwell visits close on zone change; outside silent; idle timeout closes; straggler dropped") {
    val base = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    val zones = Seq(("A", 0L, 0L, 200000.0), ("B", 0L, 10000000L, 200000.0))
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val q = StreamOps.dwellStream(
        in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"), zones,
        watermark = "0 seconds", idleGapUs = 60L * 1000000L)
      .writeStream.format("memory").queryName("s46").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def rows() = spark.table("s46").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    def us(sec: Long) = (base + sec) * 1000000L
    // visit 1: two A fixes (deliberately out of order in-batch), then
    // a B fix CLOSES the A visit — one row, exactly once
    in.addData((ts(20), 1L, 2L, 0L, 0L), (ts(10), 1L, 1L, 100000L, 0L),
      (ts(30), 1L, 3L, 0L, 10000000L))
    q.processAllAvailable()
    val vA = (1L, "A", us(10), us(20), 2L)
    assert(rows().toSeq == Seq(vA), s"b1: ${rows().toSeq}")
    // an outside fix closes the B visit; the outside run itself is silent
    in.addData((ts(40), 1L, 4L, 40000000L, 90000000L))
    q.processAllAvailable()
    val vB = (1L, "B", us(30), us(30), 1L)
    assert(rows().toSet == Set(vA, vB), s"b2: ${rows().toSeq}")
    // cross-batch straggler below the (tsu, event_id) anchor: dropped
    in.addData((ts(15), 1L, 9L, 0L, 10000000L))
    q.processAllAvailable()
    assert(rows().length == 2, s"straggler emitted: ${rows().toSeq}")
    // re-enter A, then idle past the 60 s gap: the timeout closes it
    in.addData((ts(50), 1L, 5L, 0L, 0L))
    q.processAllAvailable()
    in.addData((ts(200), 2L, 6L, 40000000L, 90000000L)) // watermark → 200
    q.processAllAvailable()
    in.addData((ts(201), 2L, 7L, 40000000L, 90000000L)) // fires u1 timeout
    q.processAllAvailable(); q.stop()
    val u1 = rows().filter(_._1 == 1L).toSet
    assert(u1 == Set(vA, vB, (1L, "A", us(50), us(50), 1L)), s"final: $u1")
    assert(rows().forall(_._1 == 1L), "outside-only user emitted a visit")
  }

  test("S46: batch parity — streamed trajectory fixture == q258 zone dwell rows") {
    val d = sf("sf0.001")
    val pts = graft.operators.Geo.eventPoints(spark, d)
      .select("user_id", "event_id", "tsu", "la", "lo").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val gap = 100L * 86400L * 1000000L // wider than any intra-run silence
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val q = StreamOps.dwellStream(
        in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"),
        graft.operators.Geo.dwellZones,
        watermark = "0 seconds", idleGapUs = gap)
      .writeStream.format("memory").queryName("s46p").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData(pts.map(p =>
      (new java.sql.Timestamp(p._3 * 1000), p._1, p._2, p._4, p._5)).toIndexedSeq)
    q.processAllAvailable()
    // sentinel user pushes the watermark past every timeout, a second
    // batch fires them — the final open visit per user closes
    val flushSec = pts.map(_._3).max + gap / 1000000L + 10L
    in.addData((new java.sql.Timestamp(flushSec * 1000), -1L, 1L,
      40000000L, 90000000L))
    q.processAllAvailable()
    in.addData((new java.sql.Timestamp((flushSec + 1) * 1000), -1L, 2L,
      40000000L, 90000000L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s46p").collect()
      .filter(_.getLong(0) != -1L)
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2) / 1000000L,
        r.getLong(3) / 1000000L, r.getLong(4)))
    assert(got.length == got.toSet.size, "duplicate visit rows")
    val want = graft.operators.Geo.q258(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(want.nonEmpty, "vacuous parity fixture")
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(3)} extra=${(got.toSet -- want).take(3)}")
  }

  test("S47: geo burst — steady traffic silent, burst alerts once, eviction re-warms the baseline") {
    val base = 1700000000L // divisible by the 10 s window
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    val in = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val q = StreamOps.geoBurstStream(
        in.toDF().toDF("ts", "la", "lo"),
        windowSeconds = 10L, mult = 3L, warmup = 4L,
        watermark = "0 seconds", idleGapUs = 50L * 1000000L)
      .writeStream.format("memory").queryName("s47").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def rows() = spark.table("s47").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def hot(sec: Long) = (ts(sec), 0L, 0L)                 // cell 18*73+36
    def far(sec: Long) = (ts(sec), 40000000L, 90000000L)   // distinct cell
    // five steady windows of 2 events, then a 12-event burst in w5
    in.addData(Seq(3L, 7L, 13L, 17L, 23L, 27L, 33L, 37L, 43L, 47L).map(hot) ++
      Seq(51L, 51L, 52L, 52L, 53L, 53L, 54L, 54L, 55L, 55L, 56L, 56L).map(hot))
    q.processAllAvailable()
    in.addData(far(58)) // wm → 58 (incl. the timeout batch): w0..w4 close
    q.processAllAvailable()
    assert(rows().isEmpty, s"steady traffic alerted: ${rows().toSeq}")
    in.addData(far(100)) // wm → 100: closes the burst window
    q.processAllAvailable()
    val a = rows()
    // baseline: 0→64→120→169→211→248 in 1/256 units over the steady run
    assert(a.toSeq == Seq((18L * 73L + 36L, base + 50L, 12L, 248L)),
      s"burst alerts: ${a.toSeq}")
    // idle past 50 s evicts the cell (wm 120 > lastSeen 56 + 50)...
    in.addData(far(120)); q.processAllAvailable()
    in.addData(far(121)); q.processAllAvailable()
    // ...so a post-return flood must RE-WARM, not alert against the
    // stale (tiny) baseline — with retained state warm=13 ≥ 4 would fire
    in.addData((1 to 50).map(i => hot(135)): _*)
    q.processAllAvailable()
    in.addData(far(160)); q.processAllAvailable()
    in.addData(far(161)); q.processAllAvailable(); q.stop()
    assert(rows().length == 1, s"post-eviction alert leaked: ${rows().toSeq}")
  }

  test("S48: resample emits each grid instant once — interp on bracket, hit on second-close, straggler ignored") {
    val base = 1700000000L // grid-aligned epoch
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val q = StreamOps.resampleStream(
        in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"), 10L,
        watermark = "0 seconds", idleGapUs = 60L * 1000000L)
      .writeStream.format("memory").queryName("s48").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def rows() = spark.table("s48").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the GeoSpec q265 unit fixture, shifted to an aligned epoch
    in.addData((ts(5), 1L, 1L, -1000L, 100L), (ts(25), 1L, 2L, 3000L, -500L),
      (ts(30), 1L, 3L, 5000L, 5000L))
    q.processAllAvailable()
    val interp = Set((1L, base + 10L, 0L, -50L), (1L, base + 20L, 2000L, -350L))
    assert(rows().toSet == interp, s"bracketed instants: ${rows().toSeq}")
    // a same-second lower-event_id straggler must NOT replace the
    // exact-hit candidate fix
    in.addData((ts(30), 1L, 0L, 99999L, 99999L))
    q.processAllAvailable()
    assert(rows().length == 2, s"straggler emitted: ${rows().toSeq}")
    // idle timeout closes the final second: the aligned hit emits with
    // the HIGHEST event_id fix of that second
    in.addData((ts(200), 2L, 9L, 40000000L, 90000000L))
    q.processAllAvailable()
    in.addData((ts(201), 2L, 10L, 40000000L, 90000000L))
    q.processAllAvailable(); q.stop()
    val u1 = rows().filter(_._1 == 1L).toSet
    assert(u1 == interp + ((1L, base + 30L, 5000L, 5000L)), s"final: $u1")
  }

  test("S48: batch parity — streamed trajectory fixture == q265 grid positions, bit-identical") {
    val d = sf("sf0.001")
    val pts = graft.operators.Geo.eventPoints(spark, d)
      .select("user_id", "event_id", "tsu", "la", "lo").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val gap = 100L * 86400L * 1000000L
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val q = StreamOps.resampleStream(
        in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"), 21600L,
        watermark = "0 seconds", idleGapUs = gap)
      .writeStream.format("memory").queryName("s48p").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData(pts.map(p =>
      (new java.sql.Timestamp(p._3 * 1000), p._1, p._2, p._4, p._5)).toIndexedSeq)
    q.processAllAvailable()
    val flushSec = pts.map(_._3).max + gap / 1000000L + 10L
    in.addData((new java.sql.Timestamp(flushSec * 1000), -1L, 1L, 0L, 0L))
    q.processAllAvailable()
    in.addData((new java.sql.Timestamp((flushSec + 1) * 1000), -1L, 2L, 0L, 0L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s48p").collect()
      .filter(_.getLong(0) >= 0L)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == got.toSet.size, "duplicate grid rows")
    val want = graft.operators.Geo.q265(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(want.nonEmpty, "vacuous parity fixture")
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(3)} extra=${(got.toSet -- want).take(3)}")
  }

  test("RocksDB sweep r16: S39/S40/S42-S50 stateful ops run green on the production store") {
    // the r14 sweep covered through S38; every stateful operator added
    // since (geofence family, interval union/gaps, proximity, zone
    // geofence, dwell, burst, resample) had only ever run on the
    // default HDFS-backed store. Minimal scripts here — the golden
    // tests pin exact values on the default store; this sweep proves
    // the production provider actually serves the state (rows out +
    // RocksDB metrics present, no silent fallback).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def usedRocks(q: org.apache.spark.sql.streaming.StreamingQuery) =
      Option(q.lastProgress).exists(
        _.stateOperators.exists(_.customMetrics.containsKey("rocksdbGetCount")))
    val base = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    try {
      locally { // S39 planar geofence
        val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
        val q = StreamOps.geofenceStream(
            in.toDF().toDF("ts", "user_id", "event_id", "xi", "yi"),
            Seq(("A", 0L, 100L, 0L, 100L)))
          .writeStream.format("memory").queryName("r16s39").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((ts(10), 1L, 1L, 50L, 50L))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        assert(spark.table("r16s39").count() > 0 && rocks, "S39 rocks")
      }
      locally { // S40 interval union + S42 gaps (same input shape)
        Seq(("S40", (df: org.apache.spark.sql.DataFrame) =>
            StreamOps.intervalUnionStream(df, "0 seconds")),
          ("S42", (df: org.apache.spark.sql.DataFrame) =>
            StreamOps.intervalGapsStream(df, "0 seconds"))).foreach {
          case (label, op) =>
            val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long)]
            val q = op(in.toDF().toDF("ts", "user_id", "s", "e"))
              .writeStream.format("memory").queryName(s"r16$label")
              .outputMode("append")
              .option("checkpointLocation", tmpDir("ckpt")).start()
            in.addData((ts(0), 1L, base + 0L, base + 60L),
              (ts(300), 1L, base + 300L, base + 360L))
            q.processAllAvailable()
            in.addData((ts(9000), 2L, base + 9000L, base + 9001L))
            q.processAllAvailable()
            in.addData((ts(9001), 2L, base + 9001L, base + 9002L))
            q.processAllAvailable()
            val rocks = usedRocks(q); q.stop()
            assert(spark.table(s"r16$label").count() > 0 && rocks,
              s"$label rocks")
        }
      }
      locally { // S43 spherical geofence
        val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
        val q = StreamOps.geofenceSphereStream(
            in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"),
            graft.operators.Geo.demoCircleZones)
          .writeStream.format("memory").queryName("r16s43").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((ts(10), 1L, 1L, 0L, -179800000L))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        assert(spark.table("r16s43").count() > 0 && rocks, "S43 rocks")
      }
      locally { // S44 proximity
        val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long)]
        val q = StreamOps.proximityStream(
            in.toDF().toDF("ts", "id", "la", "lo"), 150000.0,
            watermark = "30 seconds")
          .writeStream.format("memory").queryName("r16s44").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((ts(10), 1L, 10000000L, 20000000L),
          (ts(12), 2L, 10000000L, 21000000L))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        assert(spark.table("r16s44").count() > 0 && rocks, "S44 rocks")
      }
      locally { // S45 zone-scale geofence
        val zones = Seq((101L, 10000000L, 20000000L, 400000.0))
          .toDF("zone_id", "zla", "zlo", "radius_m")
        val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
        val q = StreamOps.geofenceZoneStream(
            in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"),
            zones, 500000.0)
          .writeStream.format("memory").queryName("r16s45").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((ts(10), 1L, 1L, 10000000L, 20000000L))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        assert(spark.table("r16s45").count() > 0 && rocks, "S45 rocks")
      }
      locally { // S46 dwell
        val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
        val q = StreamOps.dwellStream(
            in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"),
            Seq(("A", 0L, 0L, 200000.0), ("B", 0L, 10000000L, 200000.0)),
            watermark = "0 seconds", idleGapUs = 60L * 1000000L)
          .writeStream.format("memory").queryName("r16s46").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((ts(10), 1L, 1L, 0L, 0L), (ts(20), 1L, 2L, 0L, 10000000L))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        assert(spark.table("r16s46").count() > 0 && rocks, "S46 rocks")
      }
      locally { // S47 burst
        val in = MemoryStream[(java.sql.Timestamp, Long, Long)]
        val q = StreamOps.geoBurstStream(
            in.toDF().toDF("ts", "la", "lo"),
            windowSeconds = 10L, mult = 1L, warmup = 1L, minCount = 1L,
            watermark = "0 seconds")
          .writeStream.format("memory").queryName("r16s47").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData(Seq(5L, 11L, 12L, 13L, 14L, 15L).map(s => (ts(s), 0L, 0L)): _*)
        q.processAllAvailable()
        in.addData((ts(9000), 40000000L, 90000000L))
        q.processAllAvailable()
        in.addData((ts(9001), 40000000L, 90000000L))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        assert(spark.table("r16s47").count() > 0 && rocks, "S47 rocks")
      }
      locally { // S48 resample
        val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
        val q = StreamOps.resampleStream(
            in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"), 10L,
            watermark = "0 seconds")
          .writeStream.format("memory").queryName("r16s48").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((ts(5), 1L, 1L, -1000L, 100L), (ts(25), 1L, 2L, 3000L, -500L))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        assert(spark.table("r16s48").count() > 0 && rocks, "S48 rocks")
      }
      locally { // S50 zone-scale dwell (zone change closes a visit)
        val zones = Seq((101L, 10000000L, 20000000L, 400000.0))
          .toDF("zone_id", "zla", "zlo", "radius_m")
        val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
        val q = StreamOps.dwellZoneStream(
            in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"),
            zones, 500000.0, watermark = "0 seconds",
            idleGapUs = 60L * 1000000L)
          .writeStream.format("memory").queryName("r16s50").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((ts(10), 1L, 1L, 10000000L, 20000000L),
          (ts(20), 1L, 2L, 40000000L, 90000000L))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        assert(spark.table("r16s50").count() > 0 && rocks, "S50 rocks")
      }
      locally { // S49 speed screen (a same-second teleport pair flags)
        val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
        val q = StreamOps.speedAnomalyStream(
            in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"), 40.0)
          .writeStream.format("memory").queryName("r16s49").outputMode("append")
          .option("checkpointLocation", tmpDir("ckpt")).start()
        in.addData((ts(10), 1L, 1L, 0L, 0L), (ts(10), 1L, 2L, 45000000L, 90000000L))
        q.processAllAvailable()
        val rocks = usedRocks(q); q.stop()
        assert(spark.table("r16s49").count() > 0 && rocks, "S49 rocks")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("S50: zone-scale dwell — nearest-wins visits close on change; literal-dwell parity off overlap") {
    import spark.implicits._
    val base = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    def us(sec: Long) = (base + sec) * 1000000L
    // two overlapping 50 km circle zones, centers 77 km apart
    val zones = Seq((101L, 10000000L, 20000000L, 50000.0),
      (102L, 10500000L, 20500000L, 50000.0))
      .toDF("zone_id", "zla", "zlo", "radius_m")
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val q = StreamOps.dwellZoneStream(
        in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"),
        zones, 500000.0, watermark = "0 seconds", idleGapUs = 60L * 1000000L)
      .writeStream.format("memory").queryName("s50").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // u1: two fixes at 101's center, one in the OVERLAP but nearer to
    // 102 (nearest-wins closes the 101 run), then far outside
    in.addData(
      (ts(10), 1L, 1L, 10000000L, 20000000L),
      (ts(20), 1L, 2L, 10000000L, 20000000L),
      (ts(30), 1L, 3L, 10300000L, 20300000L),
      (ts(40), 1L, 4L, 40000000L, 40000000L))
    q.processAllAvailable()
    val got = spark.table("s50").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set((1L, "101", us(10), us(20), 2L),
      (1L, "102", us(30), us(30), 1L)), s"got $got")
    // parity with the literal-zone dwell machine on a non-overlap
    // trajectory: same fixes, same visits
    val in2 = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val q2 = StreamOps.dwellStream(
        in2.toDF().toDF("ts", "user_id", "event_id", "la", "lo"),
        Seq(("101", 10000000L, 20000000L, 50000.0),
          ("102", 10500000L, 20500000L, 50000.0)),
        watermark = "0 seconds", idleGapUs = 60L * 1000000L)
      .writeStream.format("memory").queryName("s50lit").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    val script = Seq( // past stream 1's watermark (ts 40)
      (ts(100), 3L, 1L, 10000000L, 20000000L),
      (ts(110), 3L, 2L, 10000000L, 20000000L),
      (ts(130), 3L, 4L, 40000000L, 40000000L))
    in2.addData(script); q2.processAllAvailable(); q2.stop()
    in.addData(script); q.processAllAvailable(); q.stop()
    val lit3 = spark.table("s50lit").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val zs3 = spark.table("s50").collect().filter(_.getLong(0) == 3L)
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(lit3 == Set((3L, "101", us(100), us(110), 2L)), s"literal: $lit3")
    assert(zs3 == lit3, s"zone-scale diverged: $zs3 vs $lit3")
  }

  test("S49: speed alerts == q262 batch rows bit-identically; straggler comparison dropped") {
    val d = sf("sf0.001")
    val pts = graft.operators.Geo.eventPoints(spark, d)
      .select("user_id", "event_id", "tsu", "la", "lo").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, Long, Long)]
    val q = StreamOps.speedAnomalyStream(
        in.toDF().toDF("ts", "user_id", "event_id", "la", "lo"), 40.0,
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("s49").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    in.addData(pts.map(p =>
      (new java.sql.Timestamp(p._3 * 1000), p._1, p._2, p._4, p._5)).toIndexedSeq)
    q.processAllAvailable()
    val want = graft.operators.Geo.q262(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
    def got() = spark.table("s49").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got().length == got().toSet.size, "duplicate alerts")
    assert(want.nonEmpty, "vacuous parity fixture")
    assert(got().toSet == want,
      s"missing=${(want -- got().toSet).take(3)} extra=${(got().toSet -- want).take(3)}")
    // a cross-batch straggler below the anchor adds NO comparison —
    // a teleport-far fix with an old (tsu, event_id) stays silent
    val u = pts.head._1
    val anchor = pts.filter(_._1 == u).map(p => (p._3, p._2)).max
    in.addData((new java.sql.Timestamp(anchor._1 * 1000), u, anchor._2 - 1,
      -89000000L, 0L))
    q.processAllAvailable(); q.stop()
    assert(got().toSet == want, s"straggler emitted: ${got().length}")
  }

  test("S51: streaming PC1 scores are bit-identical to batch q268 projections") {
    val d = sf("sf0.001")
    val emb = graft.sources.Tables.embeddings(spark, d)
    val comp = graft.ext.Similarity.topComponent(emb).toSeq
    val batch = graft.ext.Similarity.q268(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.pcaScoreStream(
        in.toDF().toDF("vec_id", "embedding"), comp)
      .writeStream.format("memory").queryName("s51").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    in.addData(all.take(all.length / 2).toIndexedSeq)
    in.addData(all.drop(all.length / 2).toIndexedSeq)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("s51").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.keySet == batch.keySet,
      s"coverage ${streamed.size} vs ${batch.size}")
    val diverged = streamed.filter { case (id, p) => batch(id) != p }
    assert(diverged.isEmpty,
      s"diverged for ${diverged.size}, e.g. ${diverged.headOption} vs ${diverged.headOption.map(x => batch(x._1))}")
  }

  test("S52: streaming LM-bucket routing is bit-identical to batch q269") {
    val d = sf("sf0.001")
    val docs = graft.sources.Tables.documents(spark, d)
    val model = graft.ext.TextOps.lmModel(docs)
    val batch = graft.ext.TextOps.q269(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    val in = MemoryStream[Doc]
    val q = StreamOps.lmBucketStream(in.toDF(), model)
      .writeStream.format("memory").queryName("s52").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // feed the WHOLE corpus, reference slice included: the operator
    // itself must exclude doc_id % LmRefMod == 0 for q269 parity
    // (r18 ADVICE fix — previously the test pre-filtered)
    val rows = docs.select("doc_id", "text").collect()
      .map(r => Doc(new Timestamp(0L), r.getLong(0), r.getString(1)))
    in.addData(rows.take(rows.length / 2).toIndexedSeq)
    in.addData(rows.drop(rows.length / 2).toIndexedSeq)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("s52").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(streamed.keySet == batch.keySet,
      s"coverage ${streamed.size} vs ${batch.size}")
    val diverged = streamed.filter { case (id, v) => batch(id) != v }
    assert(diverged.isEmpty, s"diverged for ${diverged.size}, " +
      s"e.g. ${diverged.headOption.map(x => (x, batch(x._1)))}")
    // all three buckets live on the fixture (non-vacuous routing)
    assert(streamed.values.map(_._2).toSet == Set("head", "middle", "tail"))
  }

  test("S53: quota-capped admission fills to quota in doc_id order, drops overflow and unquota'd sources") {
    val in = MemoryStream[(String, Long)]
    val q = StreamOps.quotaFillStream(in.toDF().toDF("source", "doc_id"),
      Map("src0" -> 2L, "src1" -> 1L))
      .writeStream.format("memory").queryName("s53").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    // in-batch ordering is doc_id ASC (4 admits before 10), not arrival
    in.addData(("src0", 10L), ("src0", 4L), ("src1", 7L), ("srcX", 1L))
    q.processAllAvailable()
    // both sources are at quota — every later arrival drops silently
    in.addData(("src0", 2L), ("src1", 1L), ("src1", 9L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("s53").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("src0", 4L, 1L), ("src0", 10L, 2L), ("src1", 7L, 1L)),
      s"got $got")
  }

  test("S53 parity on the REAL fixture: admitted stream union equals the batch q284 mixture slice") {
    // the live half of the mixture tier pinned to the batch half
    // (r18 verdict #2): quotas = the q283 plan's clamped n_selected,
    // corpus streamed in ascending doc_id order (the admission
    // operator's arrival contract for "the quota SMALLEST ids") in
    // three micro-batches — the admitted union must be EXACTLY the
    // doc_id <= sel_threshold slice q284 gates.
    val d = sf("sf0.001")
    val plan = graft.ext.Mixture.q283(spark, d).collect()
    val quotas = plan.map(r => r.getString(0) -> r.getLong(5)).toMap
    val thr = plan.filter(!_.isNullAt(4))
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val docs = graft.sources.Tables.documents(spark, d)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    val want = docs.filter { case (s, id) =>
      thr.get(s).exists(id <= _) }.toSet
    assert(want.nonEmpty, "vacuous parity fixture")
    val in = MemoryStream[(String, Long)]
    val q = StreamOps.quotaFillStream(in.toDF().toDF("source", "doc_id"), quotas)
      .writeStream.format("memory").queryName("s53par").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    docs.grouped(docs.length / 3 + 1).foreach { b =>
      in.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("s53par").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want,
      s"admitted ${got.size} vs batch slice ${want.size}; " +
        s"only-stream=${(got -- want).take(3)} only-batch=${(want -- got).take(3)}")
  }

  test("S41: streaming classifier scoring is bit-identical to batch training scores") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val dim = 64
    val w = graft.ext.Classifier.trainWeights(docs, dim, 16, 0.25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batchScores = graft.ext.Classifier.trainQuality(docs, dim, 16, 0.25)
      .collect().map(r => (r.getLong(0), (r.getDouble(3), r.getLong(2) == 1L))).toMap
    // stream the SAME corpus through the serving scorer
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.scoreStream(in.toDF().toDF("doc_id", "text"), w, dim)
      .writeStream.format("memory").queryName("s41").outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    in.addData(all.take(all.length / 2).toIndexedSeq)
    in.addData(all.drop(all.length / 2).toIndexedSeq)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("s41").collect()
      .map(r => (r.getLong(0), (r.getDouble(2), r.getBoolean(3)))).toMap
    assert(streamed.keySet == batchScores.keySet,
      s"doc coverage: ${streamed.size} vs ${batchScores.size}")
    val diverged = streamed.filter { case (id, sv) => batchScores(id) != sv }
    assert(diverged.isEmpty,
      s"scores diverged for ${diverged.size} docs, e.g. ${diverged.headOption} vs ${diverged.headOption.map(d => batchScores(d._1))}")
  }
}
