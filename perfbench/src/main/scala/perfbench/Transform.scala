package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.Ingest

/** The `Ingest` batch call on generated envelopes: the quarantine check
  * and the `ingest.transform_rows_per_s` timing. */
object Transform {
  val Repeats = 3
  val Timed = 10000L

  /** Envelopes `[from, until)` as a cached `value` column in one
    * partition per core, read from a text file of one envelope per line
    * under `dir`. */
  def raw(spark: SparkSession, g: Gen, from: Long, until: Long, dir: java.nio.file.Path): DataFrame = {
    val f = dir.resolve(s"envelopes-$from-$until.txt")
    val w = java.nio.file.Files.newBufferedWriter(f)
    try (from until until).foreach { i => w.write(g.envelope(i).json); w.newLine() }
    finally w.close()
    val df = spark.read.text(f.toString)
      .repartition(spark.sparkContext.defaultParallelism).cache()
    df.count()
    df
  }

  /** Median rows/s of `Ingest.dataPoints(Ingest.parse(raw))` into `noop`. */
  def rowsPerS(raw: DataFrame, rows: Long, tr: Tracer): Double =
    Stats.median((1 to Repeats).map { _ =>
      val t0 = tr.now
      tr.span("ingest", "Ingest.dataPoints") {
        JobLog.tagged(raw.sparkSession, tr) {
          Ingest.dataPoints(Ingest.parse(raw)).write.format("noop").mode("overwrite").save()
        }
      }
      rows / ((tr.now - t0) / 1000)
    })

  /** Checks that the quarantine holds exactly the malformed envelopes
    * of `[0, until)`. When `timed`, also times the transform on the
    * first [[Timed]] of them (the `local[1]` baseline times the same). */
  def quarantineAndTime(spark: SparkSession, g: Gen, until: Long, r: Report,
      timed: Boolean, tr: Tracer, dir: java.nio.file.Path): Unit = {
    val df = raw(spark, g, 0, until, dir)
    try {
      val bad = (0L until until).count(i => g.kind(i) != Gen.Valid).toLong
      val q = tr.span("ingest", "Ingest.quarantine") {
        JobLog.tagged(spark, tr)(Ingest.quarantine(Ingest.parse(df)).count())
      }
      r.layer("ingest.quarantine_rows") = q.toDouble
      r.check("quarantine = injected malformed", q == bad, s"quarantine $q, injected $bad")
    } finally df.unpersist()
    if (timed) {
      val n = math.min(until, Timed)
      val head = raw(spark, g, 0, n, dir)
      try r.layer("ingest.transform_rows_per_s") = rowsPerS(head, Streams.validRows(g, 0, n), tr)
      finally head.unpersist()
      r.extra("transform_envelopes") = n
    }
  }

  /** `--mode transform`: the single-threaded baseline, in its own
    * `local[cpus]` process. */
  def local(o: Main.Opts): String = {
    val tr = new Tracer(false)
    val spark = graft.core.Sessions.local(o.cpus, "perfbench-transform")
    spark.sparkContext.setLogLevel("WARN")
    val g = Gen(o.seed)
    val df = raw(spark, g, 0, o.envelopes, java.nio.file.Files.createDirectories(o.work))
    val v = rowsPerS(df, Streams.validRows(g, 0, o.envelopes), tr)
    Json.render(Map("cpus" -> o.cpus, "envelopes" -> o.envelopes, "rows_per_s" -> v))
  }
}
