package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{KafkaContractProvider, KafkaContractSource, KafkaSource}

/** What the two ingest workloads share: the contract-source topic, the
  * paper's source → `Ingest` chain, and the progress-derived figures. */
object Streams {
  val Topic = "datapoints"

  /** The paper's source: `KafkaSource.values` over a contract-source
    * topic, parsed and exploded by `Ingest`. */
  def dataPoints(spark: SparkSession, registry: String): DataFrame = {
    KafkaContractSource.put(registry, Nil)
    val cfg = KafkaSource.Config("contract:9092", Seq(Topic))
    val raw = spark.readStream.format(classOf[KafkaContractProvider].getName)
      .options(KafkaSource.options(cfg) + ("registry" -> registry)).load()
    graft.streaming.Ingest.dataPoints(graft.streaming.Ingest.parse(KafkaSource.values(raw)))
  }

  /** Datapoint rows the valid envelopes in `[from, until)` carry. */
  def validRows(g: Gen, from: Long, until: Long): Long =
    (from until until).count(i => g.kind(i) == Gen.Valid).toLong * Gen.PointsPer

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Phase medians, jobs and tasks per batch over `bs`; spans for the
    * batches and their jobs when tracing. `parentOf` picks the bench
    * span a batch ran under. `addLayer` labels the `addBatch` phase and
    * its jobs: whole-stage code generation fuses the `Ingest` parse and
    * explode into the same tasks as the sink write or the state update,
    * so that time is one measured figure, charged to a combined label
    * (`ingest_sinks`, `ingest_streamops`) rather than split by guess.
    * The offset and commit logs (`walCommit`, `commitOffsets`) and
    * planning are the engine's own work. */
  def batchMetrics(ctx: Main.Ctx, bs: Seq[Batch], all: Seq[Batch], jobs: Option[JobLog],
      r: Report, addLayer: String, parentOf: Batch => Int): Unit = {
    def phase(name: String) = p50(bs.flatMap(_.durations.get(name)).map(_.toDouble))
    r.layer("sources.latest_offset_ms_p50") = phase("latestOffset")
    r.layer("spark.query_planning_ms_p50") = phase("queryPlanning")
    r.layer("sinks.wal_commit_ms_p50") = phase("walCommit")
    r.layer("sinks.commit_offsets_ms_p50") = phase("commitOffsets")
    r.extra("batches") = bs.map(b => Map("id" -> b.id, "start_ms" -> b.startMs,
      "input_rows" -> b.inputRows, "durations_ms" -> b.durations,
      "state_rows" -> b.stateRows, "dropped_by_watermark" -> b.droppedByWatermark))
    jobs.foreach { jl =>
      val ids = bs.map(_.id).toSet
      val js = jl.jobsOf(j => ids(j.batch))
      val st = jl.stagesOf(js)
      r.layer("spark.jobs_per_batch") = p50(bs.map(b => js.count(_.batch == b.id).toDouble))
      val jobBatch = js.map(j => j.id -> j.batch).toMap
      r.layer("spark.tasks_per_batch") =
        p50(bs.map(b => st.filter(s => jobBatch(s.job) == b.id).map(_.tasks).sum.toDouble))
      r.layer("spark.executor_run_ms") = st.map(_.runMs).sum.toDouble
      // batch spans under the bench span they ran in, jobs under addBatch
      val tr = ctx.tr
      val addOf = all.map { b =>
        val (ss, add) = ProgressLog.spans(tr, b, parentOf(b), {
          case "latestOffset" | "getBatch" => "sources"
          case "addBatch" => addLayer
          case _ => "spark"
        })
        ss.foreach(tr.add)
        b.id -> add
      }.toMap
      val layerOf = tr.spans.map(s => s.id -> s.layer).toMap
      jl.spans(tr, j => addOf.getOrElse(j.batch, if (j.span > 0) j.span else tr.current),
        j => if (j.batch >= 0) addLayer else layerOf.getOrElse(j.span, "bench")).foreach(tr.add)
    }
  }

  /** Innermost span of `candidates` open at time `t`, else `dflt`. */
  def enclosing(candidates: Seq[Span], t: Double, dflt: Int): Int =
    candidates.filter(s => s.start <= t && t <= s.end).sortBy(_.dur).headOption.map(_.id).getOrElse(dflt)
}
