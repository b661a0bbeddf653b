package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.KafkaContractSource
import graft.streaming.StreamOps

/** `stream_live`: an open loop at [[Live.Rate]] envelopes/s. The
  * generator appends on a fixed schedule that does not slow when the
  * system does; each record carries its due time in the Kafka
  * `timestamp`. Pipeline: source → `Ingest` → events projection →
  * `StreamOps.ewmaStream` → streaming `noop` sink, trigger 0. The
  * window opens after [[Live.RampMs]] at the offered rate. A record's
  * latency runs from its due time to the commit of the batch whose
  * offset range holds it.
  *
  * The run is invalid (not reported) if the generator falls more than
  * [[Live.LateToleranceMs]] behind schedule or the unread backlog grows
  * by more than [[Live.GrowthToleranceS]] seconds of input. */
object Live extends Main.Workload {
  val Rate = 2000.0
  val Alpha = 0.3
  val WarmEnvelopes = 200L
  /** Unmeasured run-in at the offered rate. Batches keep getting faster
    * over its first 10–14 s (≈650 → ≈500 ms each on a 4-core host), and
    * a window that opens on that slope varies with how far the warm-up
    * got. */
  val RampMs = 10000.0
  val TickMs = 5L
  val LateToleranceMs = 250.0
  val GrowthToleranceS = 1.0

  final class State(val spark: SparkSession, val jobs: Option[JobLog], val progress: ProgressLog,
      val gen: Gen, val registry: String, val query: StreamingQuery) {
    val log = new TopicLog(gen, Streams.Topic)
    def next: Long = log.size
  }

  def setup(ctx: Main.Ctx, k: Int): State = {
    val (spark, jobs) = ctx.session()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val dir = ctx.fresh(s"live-$k")
    val reg = s"perfbench-live-$k"
    val q = ctx.tr.span("streamops", "ewmaStream.start") {
      val events = Streams.dataPoints(spark, reg).select(
        col("datastream_id").as("user_id"), col("datetime").as("ts"),
        get_json_object(col("sample"), "$.id").cast("long").as("event_id"),
        get_json_object(col("sample"), "$.v").cast("double").as("value"))
      val out = StreamOps.ewmaStream(events, Alpha)
      Checksum.observe(out, "ewma").writeStream.format("noop").option("checkpointLocation", dir.resolve("checkpoint").toString)
        .trigger(Trigger.ProcessingTime(0)).start()
    }
    val st = new State(spark, jobs, progress, Gen(ctx.seed), reg, q)
    ctx.tr.span("bench", "warmup") {
      KafkaContractSource.append(reg, st.log.records(st.gen.envelopes(0, WarmEnvelopes),
        _ => System.currentTimeMillis()))
      q.processAllAvailable()
    }
    st
  }

  def teardown(st: State): Unit = {
    st.query.stop()
    st.spark.stop()
  }

  def measure(ctx: Main.Ctx, st: State, r: Report): Unit = {
    val tr = ctx.tr
    val g = st.gen
    val t0 = tr.now + 20
    val winStart = t0 + RampMs
    val winEnd = winStart + ctx.opts.seconds * 1000
    def due(i: Long): Double = t0 + (i - WarmEnvelopes) * 1000 / Rate
    val appended = mutable.ArrayBuffer.empty[(Double, Long)] // (time, envelopes appended so far)
    var late = 0.0
    tr.span("bench", "generator") {
      var now = tr.now
      while (now < winEnd) {
        val upto = WarmEnvelopes + math.floor((now - t0) * Rate / 1000).toLong + 1
        if (upto > st.next) {
          val first = st.next
          val recs = st.log.records(g.envelopes(first, upto), i => due(i).toLong)
          tr.span("sources", "append", Map("records" -> recs.size.toDouble))(
            KafkaContractSource.append(st.registry, recs))
          val t = tr.now
          late = math.max(late, t - due(first))
          appended += ((t, upto))
        }
        Thread.sleep(TickMs)
        now = tr.now
      }
    }
    val drained = scala.util.Try(tr.span("bench", "drain")(st.query.processAllAvailable()))
    st.query.stop()
    st.progress.await(st.query)
    val all = st.progress.batches
    r.check("no batch failed", drained.isSuccess, drained.failed.map(_.toString).getOrElse(s"${all.size} batches"))

    // latency of every record due in the window, from its batch's commit
    val inWindow = (d: Double) => d >= winStart && d < winEnd
    val lat = all.flatMap(b => Stats.attribute(b.startOffsets, b.endOffsets, b.commitMs,
      (p, o) => due(st.log.index(p, o)), inWindow))
    val measured = all.filter(b => b.commitMs >= winStart && b.startMs < winEnd)
    r.attempted = measured.size.toLong
    r.timing("e2c_ms", "ms", lat)
    // rows committed within the window: the sustained rate
    val rows = all.filter(b => b.commitMs >= winStart && b.commitMs < winEnd).map { b =>
      b.endOffsets.toSeq.map { case (p, hi) =>
        (b.startOffsets.getOrElse(p, 0L) until hi).count(o => g.kind(st.log.index(p, o)) == Gen.Valid)
      }.sum.toLong * Gen.PointsPer
    }.sum
    r.e2e("items_per_s") = (rows / ctx.opts.seconds, "1/s")
    r.named("stream_rows_per_s") = (rows / ctx.opts.seconds, "1/s")
    r.extra("records_in_window") = lat.size

    // validity: generator on time, backlog flat
    val consumed = measured.map(b => b.commitMs -> b.endOffsets.values.sum)
    def appendedBy(t: Double) = appended.takeWhile(_._1 <= t).lastOption.map(_._2).getOrElse(WarmEnvelopes)
    val backlog = consumed.filter(_._1 < winEnd).map { case (t, c) => (appendedBy(t) - c).toDouble }
    r.layer("bench.generator_late_ms_max") = late
    r.layer("sources.backlog_records_max") = if (backlog.isEmpty) 0.0 else backlog.max
    r.extra("backlog_samples") = backlog
    if (late > LateToleranceMs)
      r.invalid = Some(f"generator ran $late%.0f ms late (tolerance $LateToleranceMs%.0f ms)")
    else if (Stats.backlogGrowing(backlog, Rate * GrowthToleranceS))
      r.invalid = Some(s"backlog grew over the run (${backlog.size} samples)")

    tr.span("bench", "check") { JobLog.tagged(st.spark, tr) {
      check(st, all, r)
      Transform.quarantineAndTime(st.spark, g, st.next, r, ctx.opts.trace, tr, ctx.fresh("transform"))
    }}
    if (!r.correct) r.failed = r.attempted

    val lastState = all.lastOption
    r.layer("streamops.state_rows") = lastState.map(_.stateRows.toDouble).getOrElse(0.0)
    r.layer("streamops.state_memory_bytes") = lastState.map(_.stateMemory.toDouble).getOrElse(0.0)
    r.layer("streamops.state_commit_ms_p50") = Streams.p50(measured.map(_.stateCommitMs.toDouble))
    r.layer("streamops.rows_dropped_by_watermark") = all.map(_.droppedByWatermark).sum.toDouble
    r.layer("streamops.rows_emitted") = all.flatMap(_.observed.get("ewma")).map(_.rows).sum.toDouble
    val gen = tr.spans.filter(s => s.name == "generator" || s.name == "warmup" || s.name == "drain")
    Streams.batchMetrics(ctx, measured, all, st.jobs, r, "ingest_streamops",
      b => Streams.enclosing(gen, b.startMs, tr.current))
  }

  /** Every valid row came out, none was dropped by the watermark, and
    * the emitted (stream, ts, id, value, level) tuples, hence each
    * stream's final level, equal a sequential EWMA recomputation. */
  def check(st: State, all: Seq[Batch], r: Report): Unit = {
    val got = all.flatMap(_.observed.get("ewma")).foldLeft(Checksum.zero)(_ + _)
    val want = new Checksum.Acc
    val level = mutable.HashMap.empty[Int, Double]
    (0L until st.next).foreach { i =>
      val e = st.gen.envelope(i)
      if (e.valid) e.points.foreach { p =>
        val v = p.value.toDouble
        val lvl = level.get(e.stream).fold(v)(l => Alpha * v + (1 - Alpha) * l)
        level(e.stream) = lvl
        want.add(new Checksum.Row().long(e.stream).long(p.dateTime * 1000).long(p.eventId)
          .double(v).double(lvl).hash)
      }
    }
    val dropped = all.map(_.droppedByWatermark).sum
    r.check("emitted rows = valid input rows", got.rows == Streams.validRows(st.gen, 0, st.next),
      s"emitted ${got.rows}, valid ${Streams.validRows(st.gen, 0, st.next)}")
    r.check("no watermark drops", dropped == 0, s"dropped $dropped")
    r.check("EWMA levels = sequential recomputation", got == want.result,
      s"emitted $got, recomputed ${want.result} over ${level.size} streams")
  }
}
