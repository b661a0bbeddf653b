package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.KafkaContractSource
import graft.streaming.{Ingest, Sinks}

/** `ingest_backlog`: a closed loop on the paper's pipeline. Append a
  * chunk of [[Backlog.Chunk]] envelopes to the topic, wait for
  * `processAllAvailable`, repeat. Source → `Ingest` →
  * `Sinks.parquetPartitioned` with a checkpoint, trigger 0. One op is
  * one chunk; its latency is append → committed. Capacity is committed
  * sink rows per second of those waits. The window opens after
  * [[Backlog.RampMs]] of unmeasured chunks: the first few batches of a
  * session run up to half again slower while the write path warms. */
object Backlog extends Main.Workload {
  /** One reference micro-batch of the roadmap's S1 model: 500
    * datastreams, each delivering one envelope per 5 s trigger. At this
    * size a batch is about a second of fixed per-batch and per-file
    * cost plus its rows, so the rate is the capacity at the reference
    * batch size, not at saturation. */
  val Chunk: Int = Gen.StreamCount
  val WarmEnvelopes = 100L
  val RampMs = 4000.0

  final class State(val spark: SparkSession, val jobs: Option[JobLog], val progress: ProgressLog,
      val gen: Gen, val registry: String, val dir: Path, val query: StreamingQuery) {
    val log = new TopicLog(gen, Streams.Topic)
    def next: Long = log.size
    def records(until: Long) = log.records(gen.envelopes(next, until), _ => System.currentTimeMillis())
  }

  def setup(ctx: Main.Ctx, k: Int): State = {
    val (spark, jobs) = ctx.session()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val dir = ctx.fresh(s"backlog-$k")
    val reg = s"perfbench-backlog-$k"
    val q = ctx.tr.span("sinks", "parquetPartitioned.start") {
      Sinks.parquetPartitioned(Streams.dataPoints(spark, reg), dir.resolve("sink").toString,
        dir.resolve("checkpoint").toString, Trigger.ProcessingTime(0))
    }
    val st = new State(spark, jobs, progress, Gen(ctx.seed), reg, dir, q)
    // warm-up: the first chunk compiles the plan and fills the JIT
    ctx.tr.span("bench", "warmup") {
      KafkaContractSource.append(reg, st.records(WarmEnvelopes))
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
    val rampEnd = tr.now + RampMs
    tr.span("bench", "ramp") {
      while (tr.now < rampEnd) {
        KafkaContractSource.append(st.registry, st.records(st.next + Chunk))
        st.query.processAllAvailable()
      }
    }
    val firstBatch = st.progress.batches.map(_.id).maxOption.getOrElse(-1L) + 1
    val first = st.next
    val end = tr.now + ctx.opts.seconds * 1000
    val waits = scala.collection.mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var error: Option[String] = None
    while (tr.now < end && error.isEmpty) {
      val from = st.next
      r.attempted += 1
      tr.span("bench", "chunk") {
        val recs = tr.span("bench", "generate")(st.records(from + Chunk))
        val t0 = tr.now
        try {
          tr.span("sources", "append", Map("records" -> recs.size.toDouble))(
            KafkaContractSource.append(st.registry, recs))
          tr.span("bench", "processAllAvailable")(st.query.processAllAvailable())
          waits += tr.now - t0
          rows += Streams.validRows(st.gen, from, from + Chunk)
        } catch { case e: Exception => error = Some(e.toString); r.failed += 1 }
      }
    }
    st.query.stop()
    st.progress.await(st.query)
    val measured = st.progress.batches.filter(_.id >= firstBatch)
    r.check("no batch failed", error.isEmpty, error.getOrElse(s"${waits.size} chunks"))

    val busyS = waits.sum / 1000
    r.e2e("items_per_s") = (rows / busyS, "1/s")
    r.named("ingest_rows_per_s") = (rows / busyS, "1/s")
    r.timing("batch_ms", "ms", waits.toSeq)
    r.extra("chunks") = waits.size
    r.extra("envelopes_measured") = st.next - first

    tr.span("bench", "check") { JobLog.tagged(st.spark, tr) {
      checkSink(st, r)
      Transform.quarantineAndTime(st.spark, st.gen, st.next, r, ctx.opts.trace, tr, ctx.fresh("transform"))
    }}
    if (!r.correct) r.failed = r.attempted
    sinkLog(st.dir.resolve("sink"), measured.map(_.id).toSet, r)
    r.layer("sinks.add_batch_ms_p50") = Streams.p50(measured.flatMap(_.durations.get("addBatch")).map(_.toDouble))
    r.layer("sources.backlog_records_max") =
      if (measured.isEmpty) 0.0 else measured.map(_.inputRows).max.toDouble
    val waitSpans = tr.spans.filter(s => s.name == "processAllAvailable" || s.name == "warmup" || s.name == "ramp")
    Streams.batchMetrics(ctx, measured, st.progress.batches, st.jobs, r, "ingest_sinks",
      b => Streams.enclosing(waitSpans, b.startMs, tr.current))
  }

  /** The sink holds exactly the predicted rows: same count and
    * order-insensitive checksum as the generator's valid envelopes. */
  def checkSink(st: State, r: Report): Unit = {
    val got = Checksum.of(st.spark.read.parquet(st.dir.resolve("sink").toString).select(
      col("datastream_id").cast("int"), col("day").cast("string"),
      unix_micros(col("datetime")), col("offset"), col("sample")))
    val want = new Checksum.Acc
    val day = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd").withZone(java.time.ZoneOffset.UTC)
    (0L until st.next).foreach { i =>
      val e = st.gen.envelope(i)
      if (e.valid) e.points.foreach { p =>
        want.add(new Checksum.Row().int(e.stream).string(day.format(java.time.Instant.ofEpochMilli(p.dateTime)))
          .long(p.dateTime * 1000).int(p.offset / 60000).string(p.sample).hash)
      }
    }
    r.check("sink rows and checksum", got == want.result, s"sink $got, predicted ${want.result}")
  }

  /** Files and bytes each measured batch added, from the sink's
    * `_spark_metadata` log (batch files and `.compact` snapshots). */
  def sinkLog(sink: Path, measured: Set[Long], r: Report): Unit = {
    val meta = sink.resolve("_spark_metadata")
    if (Files.isDirectory(meta)) {
      val entries = Files.list(meta).iterator().asScala.toSeq.flatMap { f =>
        val n = f.getFileName.toString
        scala.util.Try(n.stripSuffix(".compact").toLong).toOption.map(id => id -> f)
      }.sortBy(_._1)
      var seen = Set.empty[String]
      val perBatch = entries.map { case (id, f) =>
        val adds = Files.readAllLines(f).asScala.drop(1).flatMap { line =>
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          val j = JsonMethods.parse(line)
          (j \ "path", j \ "size") match {
            case (JString(p), JInt(sz)) if !seen(p) => Some(p -> sz.toLong)
            case _ => None
          }
        }
        seen ++= adds.map(_._1)
        id -> adds.toSeq
      }.filter { case (id, _) => measured(id) }
      val files = perBatch.map(_._2.size.toDouble)
      r.layer("sinks.files_per_batch") = Streams.p50(files)
      r.layer("sinks.bytes_per_batch") = Streams.p50(perBatch.map(_._2.map(_._2).sum.toDouble))
      r.layer("sinks.file_bytes_p50") = Streams.p50(perBatch.flatMap(_._2.map(_._2.toDouble)))
    }
  }
}
