package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A span: one call into a layer. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double, counts: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Span recorder. Spans live in memory and are written out with the
  * run's artifact. When `enabled` is false nothing is recorded, so the
  * untraced run pays only for the clock reads its own timings need. */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicInteger(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** Wall clock in epoch ms, at nanoTime resolution. */
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def newId(): Int = ids.incrementAndGet()
  def current: Int = stack.get.headOption.getOrElse(0)

  def add(s: Span): Unit = if (enabled) buf.synchronized { buf += s }

  /** Runs `body` inside a span that is a child of this thread's open
    * span. `counts` is read after `body` finishes. */
  def span[T](layer: String, name: String, counts: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!enabled) body else {
      val id = newId()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = now
      try body finally {
        stack.set(stack.get.tail)
        add(Span(id, parent, layer, name, t0, now, counts))
      }
    }

  def spans: Seq[Span] = buf.synchronized { buf.toList }
}

object Tracer {

  /** Self time of each span: its duration less the part of it that its
    * children cover (children clipped to the parent, overlaps merged). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var lo, hi = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (lo.isNaN || a > hi) { if (!lo.isNaN) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (lo.isNaN) covered else covered + hi - lo
  }

  /** The spans under `root` (itself included), without the subtrees
    * of spans matching `prune`. */
  def subtree(spans: Seq[Span], root: Int, prune: Span => Boolean): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] =
      if (prune(s)) Nil else s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    spans.find(_.id == root).toSeq.flatMap(walk)
  }

  /** Self time of the spans in `keep` summed per layer, in seconds;
    * self times are taken in the whole tree `spans`. */
  def selfByLayer(spans: Seq[Span], keep: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    keep.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1000 }
  }
}

/** Job, stage and task metrics from a [[SparkListener]]. A job is tied
  * to its caller through the `perfbench.span` local property, or, for
  * streaming jobs, through the micro-batch id Spark sets. */
final class JobLog extends SparkListener {
  final class Stage(val id: Int, val job: Int) {
    var start, end = 0.0
    var tasks, runMs, gcMs, shuffleWrite, spill = 0L
  }
  final class Job(val id: Int, val start: Double, val span: Int, val batch: Long) {
    var end = 0.0
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = new Job(e.jobId, e.time.toDouble, prop(JobLog.SpanProp).map(_.toInt).getOrElse(0),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage(s, e.jobId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { s =>
      s.start = i.submissionTime.getOrElse(0L).toDouble
      s.end = i.completionTime.getOrElse(0L).toDouble
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Waits (up to 10 s) until every job seen has ended. */
  def await(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(jobs.values.exists(_.end == 0)) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }

  def jobsOf(pred: Job => Boolean): Seq[Job] = synchronized { jobs.values.filter(pred).toList }
  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => ids(s.job) && s.end > 0).toList
  }

  /** Spans for every finished job and stage: a job under `parentOf(job)`
    * in layer `spark`, its stages under it in `workLayer(job)`. */
  def spans(tr: Tracer, parentOf: Job => Int, workLayer: Job => String): Seq[Span] = {
    await()
    spansNow(tr, parentOf, workLayer)
  }
  private def spansNow(tr: Tracer, parentOf: Job => Int, workLayer: Job => String): Seq[Span] = synchronized {
    jobs.values.filter(_.end > 0).toList.flatMap { j =>
      val jid = tr.newId()
      val ss = stages.values.filter(s => s.job == j.id && s.end > 0).toList
      Span(jid, parentOf(j), "spark", s"job.${j.id}", j.start, j.end,
        Map("stages" -> ss.size.toDouble, "tasks" -> ss.map(_.tasks).sum.toDouble)) ::
        ss.map(s => Span(tr.newId(), jid, workLayer(j), s"stage.${s.id}", s.start, s.end,
          Map("tasks" -> s.tasks.toDouble, "executor_run_ms" -> s.runMs.toDouble,
            "gc_ms" -> s.gcMs.toDouble, "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
            "spill_bytes" -> s.spill.toDouble)))
    }
  }
}

object JobLog {
  val SpanProp = "perfbench.span"

  /** Tags the jobs `body` submits from this thread with the tracer's
    * open span. */
  def tagged[T](spark: SparkSession, tr: Tracer)(body: => T): T = if (!tr.enabled) body else {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, tr.current.toString)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }
}

/** One micro-batch as its progress event reports it. */
final case class Batch(id: Long, startMs: Double, durations: Map[String, Long],
    inputRows: Long, startOffsets: Map[Int, Long], endOffsets: Map[Int, Long],
    stateRows: Long, stateMemory: Long, stateCommitMs: Long, droppedByWatermark: Long,
    observed: Map[String, Checksum]) {
  def commitMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Micro-batch progress from a [[StreamingQueryListener]]. Needed by the
  * untraced run too: the batch offsets and commit times are how record
  * latency is measured. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.nonEmpty && p.sources.head.endOffset != null && p.numInputRows > 0) {
      val st = p.stateOperators
      val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ProgressLog.offsets(p.sources.head.startOffset),
        ProgressLog.offsets(p.sources.head.endOffset),
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.commitTimeMs).sum, st.map(_.numRowsDroppedByWatermark).sum,
        p.observedMetrics.asScala.map { case (k, r) => k -> Checksum.fromRow(r) }.toMap)
      buf.synchronized { buf += b }
    }
  }

  def batches: Seq[Batch] = buf.synchronized { buf.toList }

  /** Waits (up to 10 s) until the query's last batch with input has
    * reached this listener; the listener bus delivers asynchronously. */
  def await(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).maxOption.foreach { last =>
      val deadline = System.currentTimeMillis() + 10000
      while (!batches.exists(_.id >= last) && System.currentTimeMillis() < deadline) Thread.sleep(10)
    }
}

object ProgressLog {

  /** Partition → offset from a Kafka-shaped offset JSON
    * (`{"topic":{"0":12,"1":9}}`); the benchmark reads one topic. */
  def offsets(json: String): Map[Int, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    if (json == null || json == "null") Map.empty
    else JsonMethods.parse(json) match {
      case JObject(topics) => topics.flatMap {
        case (_, JObject(parts)) => parts.collect { case (p, JInt(n)) => p.toInt -> n.toLong }
        case _ => Nil
      }.toMap
      case _ => Map.empty
    }
  }

  /** Phases of a micro-batch in the order Spark runs them. */
  val phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** A batch span with its phases laid end to end from the trigger
    * start (progress reports durations, not start times). Returns the
    * spans and the id of the `addBatch` span, under which the batch's
    * jobs go. */
  def spans(tr: Tracer, b: Batch, parent: Int, layerOf: String => String): (Seq[Span], Int) = {
    val bid = tr.newId()
    var t = b.startMs
    var addId = bid
    val ph = phases.flatMap { name =>
      b.durations.get(name).map { d =>
        val id = tr.newId()
        if (name == "addBatch") addId = id
        val s = Span(id, bid, layerOf(name), s"batch.$name", t, t + d)
        t += d
        s
      }
    }
    (Span(bid, parent, "spark", s"batch.${b.id}", b.startMs, b.commitMs,
      Map("input_rows" -> b.inputRows.toDouble, "state_rows" -> b.stateRows.toDouble)) +: ph, addId)
  }
}
