package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point; `run.py` builds the classpath and calls
  * it once per run.
  *
  * {{{
  * perfbench.Main --workload ingest_backlog|stream_live|query_mix
  *   --seed N --seconds S --trace 0|1 --cpus C --work DIR --data DIR
  *   --expected FILE --out FILE
  * perfbench.Main --mode transform --seed N --envelopes N --cpus 1 --out FILE
  * }}}
  *
  * A run sets up [[Main.SetupRepeats]] times (each a fresh session and
  * fresh inputs; the median is `setup_s`), measures on the last set-up
  * for `--seconds`, checks every output, and writes its artifact to
  * `--out`. With `--trace 1` it also records spans and Spark listener
  * metrics for the per-layer figures. */
object Main {
  val SetupRepeats = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, work: Path, data: String, expected: String, out: Path,
      mode: String, envelopes: Long)

  /** What every workload gets. */
  final class Ctx(val opts: Opts, val tr: Tracer) {
    def seed: Long = opts.seed

    /** An empty directory under the work dir. */
    def fresh(name: String): Path = {
      val d = opts.work.resolve(name)
      deleteTree(d)
      Files.createDirectories(d)
    }

    /** Starts a local session with the engine's defaults; with tracing
      * on, a [[JobLog]] listens to it. */
    def session(): (SparkSession, Option[JobLog]) = {
      val spark = tr.span("core", "Sessions.local")(graft.core.Sessions.local(opts.cpus, "perfbench"))
      spark.sparkContext.setLogLevel("WARN")
      val jobs = if (tr.enabled) {
        val j = new JobLog
        spark.sparkContext.addSparkListener(j)
        Some(j)
      } else None
      (spark, jobs)
    }
  }

  /** A workload: set up (repeatable), then measure and check once. */
  trait Workload {
    type State
    def setup(ctx: Ctx, k: Int): State
    def teardown(st: State): Unit
    def measure(ctx: Ctx, st: State, r: Report): Unit
  }

  val workloads: Map[String, Workload] = Map(
    "ingest_backlog" -> Backlog, "stream_live" -> Live, "query_mix" -> QueryMix)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val json = try {
      if (o.mode == "transform") Transform.local(o) else run(o)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.println(s"perfbench: run failed: $e")
        System.exit(3)
        ""
    }
    Files.createDirectories(o.out.getParent)
    Files.writeString(o.out, json)
    println(s"PERFBENCH_ARTIFACT ${o.out}")
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }

  def run(o: Opts): String = {
    val w = workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val tr = new Tracer(o.trace)
    val ctx = new Ctx(o, tr)
    val report = new Report(o.workload)
    val load0 = loadavg()
    val cpu0 = cpuTimes()
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var measureId = 0
    tr.span("bench", "run") {
      var st: w.State = null.asInstanceOf[w.State]
      (0 until SetupRepeats).foreach { k =>
        if (k > 0) tr.span("bench", "teardown")(w.teardown(st))
        val t0 = tr.now
        st = tr.span("core", s"setup.$k")(w.setup(ctx, k))
        setups += (tr.now - t0) / 1000
      }
      val gc0 = gcMs()
      tr.span("bench", "measure") { measureId = tr.current; w.measure(ctx, st, report) }
      report.layer("spark.gc_ms") = (gcMs() - gc0).toDouble
      w.teardown(st)
    }
    report.e2e("setup_s") = (Stats.median(setups.toSeq), "s")
    report.named("setup_s") = (Stats.median(setups.toSeq), "s")
    report.layer("jvm.peak_rss_mb") = peakRssMb()
    // self time per layer over the measure phase (ramp and window); the
    // output checks are the benchmark's own work and are left out
    val spans = tr.spans
    val self = Tracer.selfByLayer(spans, Tracer.subtree(spans, measureId, _.name == "check"))
    Report.layers.foreach(l => report.layer(s"self_s.$l") = self.getOrElse(l, 0.0))
    val setupSelf = Tracer.selfByLayer(spans, spans.filter(_.name.startsWith("setup."))
      .flatMap(s => Tracer.subtree(spans, s.id, _ => false)))
    report.extra("host_cpu_steal_share") = stealShare(cpu0, cpuTimes())
    report.json(spans, self, setupSelf, setups.toSeq, (load0, loadavg()))
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: => String): String = m.getOrElse(k, d)
    def req(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(get("workload", ""), req("seed").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", get("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      Paths.get(get("work", "work")).toAbsolutePath, get("data", ""), get("expected", ""),
      Paths.get(req("out")).toAbsolutePath, get("mode", "run"), get("envelopes", "0").toLong)
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Exception => "" }

  /** The host's CPU time counters (the `cpu` line of `/proc/stat`). */
  def cpuTimes(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    catch { case _: Exception => Array.empty }

  /** Share of CPU time the hypervisor gave to other guests in between. */
  def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.take(8).sum
      if (total <= 0) 0.0 else d(7).toDouble / total
    }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
