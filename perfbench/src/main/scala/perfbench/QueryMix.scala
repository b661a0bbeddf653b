package perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import graft.SparkEntry

/** `query_mix`: a fixed list of batch analytics queries over the
  * bundled tables, each DataFrame written to `noop`, light queries first,
  * in a fixed order (every run is one cold pass, and the order decides
  * which query pays the JVM's warm-up). One op is one query:
  * `SparkEntry.queries(name)(spark, dir)` (build, which covers eager
  * checkpoints and probes in operator code) then the `noop` action
  * (run). Each result's row count and checksum must equal the recorded
  * expectation. */
object QueryMix extends Main.Workload {

  /** Dominated by per-job and driver overhead. */
  val light: Seq[String] = Seq("q06", "q15", "q17", "q36", "q55", "q89", "q131", "q176")
  /** Driver tiers and shuffle-bound work. */
  val heavy: Seq[String] = Seq("q28", "q91", "q129", "q145", "q34")

  /** The layer a query's code lives in. */
  def layerOf(id: String): String = id match {
    case "q55" => "ingest"
    case "q36" | "q28" | "q91" | "q145" | "q34" => "ext"
    case _ => "operators"
  }

  /** The tables the queries read. */
  val tables: Seq[String] = Seq("customer", "orders", "lineitem", "part", "events", "documents", "embeddings")

  final case class Expected(name: String, checksum: Checksum)

  final class State(val spark: SparkSession, val jobs: Option[JobLog], val expected: Map[String, Expected])

  def loadExpected(path: String): Map[String, Expected] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(path))) match {
      case JObject(qs) => qs.collect { case (id, o: JObject) =>
        def long(k: String) = (o \ k) match { case JInt(n) => n.toLong; case x => sys.error(s"$id.$k: $x") }
        val JString(name) = o \ "name"
        id -> Expected(name, Checksum(long("rows"), long("hi"), long("lo")))
      }.toMap
      case other => sys.error(s"bad expected file: $other")
    }
  }

  def setup(ctx: Main.Ctx, k: Int): State = {
    val (spark, jobs) = ctx.session()
    val expected = loadExpected(ctx.opts.expected)
    ctx.tr.span("sources", "Tables") {
      tables.foreach(t => graft.sources.Tables(spark, ctx.opts.data, t).schema)
    }
    new State(spark, jobs, expected)
  }

  def teardown(st: State): Unit = st.spark.stop()

  final case class Run(id: String, group: String, buildS: Double, runS: Double,
      spans: Seq[Int], ok: Boolean)

  def measure(ctx: Main.Ctx, st: State, r: Report): Unit = {
    val tr = ctx.tr
    val order = light.map(_ -> "light") ++ heavy.map(_ -> "heavy")
    val runs = order.map { case (id, group) =>
      r.attempted += 1
      val layer = layerOf(id)
      val exp = st.expected(id)
      var ids = Seq.empty[Int]
      val t0 = tr.now
      var t1 = t0
      val res = scala.util.Try {
        val df = tr.span(layer, s"query.$id.build") {
          ids :+= tr.current
          JobLog.tagged(st.spark, tr)(SparkEntry.queries(exp.name)(st.spark, ctx.opts.data))
        }
        t1 = tr.now
        val obs = Observation(s"ck_$id")
        var out = Checksum.zero
        tr.span(layer, s"query.$id.run", Map("rows" -> out.rows.toDouble)) {
          ids :+= tr.current
          JobLog.tagged(st.spark, tr) {
            Checksum.observe(df, obs).write.format("noop").mode("overwrite").save()
          }
          out = Checksum.fromMap(obs.get)
        }
        out
      }
      val t2 = tr.now
      st.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val ok = r.check(s"$id rows and checksum", res.toOption.contains(exp.checksum),
        res.fold(e => s"failed: $e", c => s"got $c, expected ${exp.checksum}"))
      if (!ok) r.failed += 1
      Run(id, group, (t1 - t0) / 1000, (t2 - t1) / 1000, ids, ok)
    }

    val secs = runs.map(x => x.buildS + x.runS)
    r.e2e("items_per_s") = (runs.size / secs.sum, "1/s")
    r.named("queries_per_s") = (runs.size / secs.sum, "1/s")
    // the queries differ too much for a median or tail over all of them
    // to be steady; the end-to-end latencies are the mean per query of
    // each group instead, the heavy group standing for the tail
    r.timing("query_ms", "ms", secs.map(_ * 1000), e2e = false)
    Seq("light" -> "latency_ms", "heavy" -> "latency_tail_ms").foreach { case (g, m) =>
      val gs = runs.filter(_.group == g).map(x => x.buildS + x.runS)
      r.named(s"queries_${g}_s") = (gs.sum, "s")
      r.e2e(m) = (gs.sum * 1000 / gs.size, "ms")
    }
    r.extra("queries") = runs.map(x => Map("id" -> x.id, "group" -> x.group,
      "build_s" -> x.buildS, "run_s" -> x.runS, "ok" -> x.ok))

    def fields(rs: Seq[Run]): Map[String, Double] = {
      val base = Map("build_s" -> rs.map(_.buildS).sum, "run_s" -> rs.map(_.runS).sum)
      st.jobs.fold(base) { jl =>
        jl.await()
        val spanIds = rs.flatMap(_.spans).toSet
        val js = jl.jobsOf(j => spanIds(j.span))
        val ss = jl.stagesOf(js)
        val wallMs = rs.map(x => (x.buildS + x.runS) * 1000).sum
        val jobMs = rs.map(x => Tracer.union(js.filter(j => x.spans.contains(j.span)).map(j => (j.start, j.end)))).sum
        base ++ Map("jobs" -> js.size.toDouble, "shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
          "spill_bytes" -> ss.map(_.spill).sum.toDouble, "driver_only_ms" -> math.max(0.0, wallMs - jobMs))
      }
    }
    fields(runs.filter(_.group == "light")).foreach { case (k, v) => r.layer(s"light.$k") = v }
    runs.filter(_.group == "heavy").foreach { x =>
      fields(Seq(x)).foreach { case (k, v) => r.layer(s"query.${x.id}.$k") = v }
    }
    st.jobs.foreach { jl =>
      val layerOf = tr.spans.map(s => s.id -> s.layer).toMap
      jl.spans(tr, j => if (j.span > 0) j.span else tr.current,
        j => layerOf.getOrElse(j.span, "bench")).foreach(tr.add)
      r.layer("spark.executor_run_ms") = jl.stagesOf(jl.jobsOf(_ => true)).map(_.runMs).sum.toDouble
    }
  }
}
