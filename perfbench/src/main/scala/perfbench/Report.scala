package perfbench

import scala.collection.mutable

/** What one run found: the metrics, the output checks and the
  * artifacts, rendered as JSON for `run.py`. */
final class Report(val workload: String) {
  /** End-to-end metrics, the names `BENCHMARK.json` lists. */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The same figures under the workload's own names (`batch_ms_p50`,
    * `e2c_ms_tail`, ...), with the percentile and count of each tail. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics; every name in [[Report.layerMetrics]] is
    * printed, 0 where the workload does not reach the layer. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  var invalid: Option[String] = None

  def check(name: String, ok: Boolean, detail: String): Boolean = {
    checks += ((name, ok, detail)); ok
  }
  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)

  /** Records a timing's p50 and tail under the workload's names
    * (`<base>_p50`, `<base>_tail`); with `e2e`, also as the end-to-end
    * `latency_ms` and `latency_tail_ms`. */
  def timing(base: String, unit: String, xs: Seq[Double], e2e: Boolean = true): Unit =
    if (xs.nonEmpty) {
      val s = Stats.summary(xs)
      if (e2e) {
        this.e2e("latency_ms") = (s.p50, unit)
        this.e2e("latency_tail_ms") = (s.tail, unit)
      }
      named(s"${base}_p50") = (s.p50, unit)
      named(s"${base}_tail") = (s.tail, unit)
      extra(s"${base}_summary") = Map("n" -> s.n, "p50" -> s.p50,
        "tail_percentile" -> s.tailName, "tail" -> s.tail)
    }

  def json(spans: Seq[Span], self: Map[String, Double], setupSelf: Map[String, Double],
      setupS: Seq[Double], loadavg: (String, String)): String =
    Json.render(Map(
      "workload" -> workload,
      "valid" -> invalid.isEmpty,
      "invalid_reason" -> invalid.getOrElse(""),
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "ops_failed_ratio" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted),
      "metrics" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> Report.layerMetrics.map(k => k -> layer.getOrElse(k, 0.0)).toMap,
      "checks" -> checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) },
      "setup_s_runs" -> setupS,
      "loadavg_start" -> loadavg._1,
      "loadavg_end" -> loadavg._2,
      "self_s_by_layer" -> self,
      "top_self_layer" -> (if (self.isEmpty) "" else self.maxBy(_._2)._1),
      "setup_self_s_by_layer" -> setupSelf,
      "extra" -> extra.toMap,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "counts" -> s.counts))))
}

object Report {
  val queryFields: Seq[String] =
    Seq("build_s", "run_s", "jobs", "shuffle_write_bytes", "spill_bytes", "driver_only_ms")
  val layers: Seq[String] =
    Seq("bench", "core", "sources", "ingest", "sinks", "streamops", "ingest_sinks", "ingest_streamops",
      "operators", "ext", "spark")

  /** Every per-layer metric, in `BENCHMARK.json` order. */
  val layerMetrics: Seq[String] = Seq(
    "sources.latest_offset_ms_p50", "sources.backlog_records_max",
    "ingest.quarantine_rows", "ingest.transform_rows_per_s", "ingest.transform_rows_per_s.local1",
    "sinks.add_batch_ms_p50", "sinks.wal_commit_ms_p50", "sinks.commit_offsets_ms_p50",
    "sinks.files_per_batch", "sinks.bytes_per_batch", "sinks.file_bytes_p50",
    "streamops.state_rows", "streamops.state_memory_bytes", "streamops.state_commit_ms_p50",
    "streamops.rows_dropped_by_watermark", "streamops.rows_emitted",
    "spark.query_planning_ms_p50", "spark.jobs_per_batch", "spark.tasks_per_batch",
    "spark.gc_ms", "spark.executor_run_ms", "jvm.peak_rss_mb", "bench.generator_late_ms_max") ++
    queryFields.map(f => s"light.$f") ++
    QueryMix.heavy.flatMap(q => queryFields.map(f => s"query.$q.$f")) ++
    layers.map(l => s"self_s.$l") ++
    Seq("trace.overhead_pct")
}

/** Minimal JSON rendering for the artifact (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
