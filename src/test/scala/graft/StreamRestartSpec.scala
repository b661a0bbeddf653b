package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming._

/** Kill/restart goldens for the stateful geo stream machines
  * (S44–S50) — r17 verdict item 3. S8 pins checkpoint recovery for
  * the ingest SINK and the RocksDB sweep pins provider metrics, but
  * nothing previously killed a visit/burst/resample/proximity query
  * mid-stream and asserted no-dup/no-loss across the recovered STATE.
  *
  * Each golden runs the same scripted input twice through the
  * exactly-once parquet file sink:
  *  - control: one query consumes every batch uninterrupted;
  *  - restart: the query is stopped (killed) after EVERY batch and a
  *    fresh query resumes from the same checkpoint for the next one,
  *    so recovered state carries each cross-batch interaction.
  * The two output sets must be identical: state recovery loses
  * nothing, the file-sink commit log duplicates nothing. Batch
  * boundaries are the same in both runs (timeout sweeps fire per
  * micro-batch, so differing boundaries would be a fixture bug, not
  * an engine bug). Scripts reuse the S44–S50 functional goldens'
  * fixtures with every stateful interaction placed ACROSS a restart:
  * cross-batch pair detection (S44), transition chains (S45), visit
  * close + idle timeout (S46/S50), burst baseline + eviction re-warm
  * (S47), bracket interpolation + final-second flush (S48), and the
  * previous-fix speed comparison (S49) — plus the classic analytics
  * machines (S14 funnel step times, S18 transition anchors, S19
  * last-touch anchors) and an S46 variant on the RocksDB provider.
  * Batch arrangement respects watermark progression: an event must
  * ride no later than the batch that advances the watermark past it
  * (or both runs would drop it equally and the golden would be
  * vacuous there). */
class StreamRestartSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val base = 1700000000L
  private def ts(sec: Long) = new Timestamp((base + sec) * 1000)

  /** Drive `transform` over the scripted batches into a parquet sink;
    * `restart = true` kills and restarts the query between every
    * batch. Returns the committed rows rendered as strings. */
  private def run[T <: Product : Encoder](
      transform: DataFrame => DataFrame, cols: Seq[String],
      batches: Seq[Seq[T]], restart: Boolean): Set[String] = {
    val in = MemoryStream[T]
    val out = tmpDir("rg_out"); val ckpt = tmpDir("rg_ckpt")
    def start() = transform(in.toDF().toDF(cols: _*))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    if (restart) batches.foreach { b =>
      val q = start(); in.addData(b); q.processAllAvailable(); q.stop()
    } else {
      val q = start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
    }
    spark.read.parquet(out).collect().map(_.mkString("|")).toSet
  }

  private def golden[T <: Product : Encoder](name: String,
      transform: DataFrame => DataFrame, cols: Seq[String],
      batches: Seq[Seq[T]], minRows: Int): Unit = {
    val control = run(transform, cols, batches, restart = false)
    val restarted = run(transform, cols, batches, restart = true)
    assert(control.size >= minRows,
      s"$name: vacuous control fixture (${control.size} rows)")
    assert(restarted == control, s"$name: lost=${(control -- restarted).take(3)} " +
      s"dup/extra=${(restarted -- control).take(3)}")
  }

  private def e(sec: Long, typ: String, id: Long, user: Long = 1): Ev =
    Ev(ts(sec), user, typ, 1.0, id)

  private def ev(sec: Long, typ: String, id: Long, user: Long = 1,
      v: Double = 1.0): Ev = Ev(ts(sec), user, typ, v, id)

  /** The [[run]] harness for UPDATE-mode machines (S33/S37/S38): the
    * parquet file sink is append-only, so updates drive a foreachBatch
    * that appends each micro-batch's update rows. Batch boundaries are
    * identical in both runs and every batch commits under a graceful
    * stop(), so the per-batch update sets — and therefore the appended
    * union — must be equal iff recovered state is exact. (This golden
    * pins STATE RECOVERY; the file-sink exactly-once half belongs to
    * the append-mode goldens — foreachBatch is at-least-once only
    * under mid-batch crashes, which the scripted stop() never does.) */
  private def runFb[T <: Product : Encoder](
      transform: DataFrame => DataFrame, cols: Seq[String],
      batches: Seq[Seq[T]], restart: Boolean): Set[String] = {
    val in = MemoryStream[T]
    val out = tmpDir("rgu_out"); val ckpt = tmpDir("rgu_ckpt")
    def start() = transform(in.toDF().toDF(cols: _*))
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => df.write.mode("append").parquet(out); () }
      .option("checkpointLocation", ckpt).start()
    if (restart) batches.foreach { b =>
      val q = start(); in.addData(b); q.processAllAvailable(); q.stop()
    } else {
      val q = start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
    }
    spark.read.parquet(out).collect().map(_.mkString("|")).toSet
  }

  private def goldenFb[T <: Product : Encoder](name: String,
      transform: DataFrame => DataFrame, cols: Seq[String],
      batches: Seq[Seq[T]], minRows: Int): Unit = {
    val control = runFb(transform, cols, batches, restart = false)
    val restarted = runFb(transform, cols, batches, restart = true)
    assert(control.size >= minRows,
      s"$name: vacuous control fixture (${control.size} rows)")
    assert(restarted == control, s"$name: lost=${(control -- restarted).take(3)} " +
      s"dup/extra=${(restarted -- control).take(3)}")
  }

  test("state classes keep the checkpoint schemas every stateful machine restores from") {
    // A stateful machine stores its state under the state class's
    // encoder schema, so a changed schema cannot restore a checkpoint
    // written before the change. These strings were generated from the
    // classes as they shipped; a new state shape is a new class.
    val drift = Seq[(Encoder[_], String)](
      Encoders.product[UserSessionState] ->
        "nEvents BIGINT NOT NULL,startMs BIGINT NOT NULL,lastMs BIGINT NOT NULL",
      Encoders.product[FunnelProgress] ->
        "times ARRAY<BIGINT>",
      Encoders.product[MomentState] ->
        "n BIGINT NOT NULL,s DOUBLE NOT NULL,q DOUBLE NOT NULL",
      Encoders.product[MgState] ->
        "ids ARRAY<BIGINT>,counts ARRAY<BIGINT>,n BIGINT NOT NULL",
      Encoders.product[TrendState] ->
        "n BIGINT NOT NULL,x0 BIGINT NOT NULL,sx DOUBLE NOT NULL,sy DOUBLE NOT NULL,sxx DOUBLE NOT NULL,syy DOUBLE NOT NULL,sxy DOUBLE NOT NULL",
      Encoders.product[TransitionAnchor] ->
        "tsu BIGINT NOT NULL,eventId BIGINT NOT NULL,eventType STRING",
      Encoders.product[TouchAnchor] ->
        "tsu BIGINT NOT NULL,eventId BIGINT NOT NULL,channel STRING",
      Encoders.product[RetentionState] ->
        "cohortDay INT NOT NULL,floorDay INT NOT NULL,recent ARRAY<INT>",
      Encoders.product[ConvState] ->
        "t0 BIGINT NOT NULL,converted BOOLEAN NOT NULL",
      Encoders.product[SkipRing] ->
        "tsus ARRAY<BIGINT>,eids ARRAY<BIGINT>,types ARRAY<STRING>",
      Encoders.product[HbState] ->
        "lastUs BIGINT NOT NULL,n BIGINT NOT NULL",
      Encoders.product[EwmaState] ->
        "tsu BIGINT NOT NULL,eventId BIGINT NOT NULL,level DOUBLE NOT NULL",
      Encoders.product[CusumState] ->
        "tsu BIGINT NOT NULL,eventId BIGINT NOT NULL,sPos DOUBLE NOT NULL,sNeg DOUBLE NOT NULL",
      Encoders.product[ReservoirState] ->
        "ids ARRAY<BIGINT>,hashes ARRAY<BIGINT>,n BIGINT NOT NULL",
      Encoders.product[CdcState] ->
        "version BIGINT NOT NULL,opRank INT NOT NULL,op STRING,payload STRING,tsUs BIGINT NOT NULL",
      Encoders.product[SpeedState] ->
        "tsu BIGINT NOT NULL,eid BIGINT NOT NULL,la BIGINT NOT NULL,lo BIGINT NOT NULL",
      Encoders.product[ResampleState] ->
        "tu BIGINT NOT NULL,eid BIGINT NOT NULL,las BIGINT NOT NULL,los BIGINT NOT NULL,lastGrid BIGINT NOT NULL",
      Encoders.product[BurstState] ->
        "lastClosed BIGINT NOT NULL,warm BIGINT NOT NULL,ewmaQ BIGINT NOT NULL,lastSeenUs BIGINT NOT NULL,ws ARRAY<BIGINT>,ns ARRAY<BIGINT>",
      Encoders.product[DwellState] ->
        "zone STRING,enterUs BIGINT NOT NULL,lastUs BIGINT NOT NULL,lastEvent BIGINT NOT NULL,n BIGINT NOT NULL",
      Encoders.product[GeoState] ->
        "tsu BIGINT NOT NULL,eventId BIGINT NOT NULL,zone STRING",
      Encoders.product[IntervalState] ->
        "bs ARRAY<BIGINT>,be ARRAY<BIGINT>,n ARRAY<BIGINT>,raw ARRAY<BIGINT>,closedUntil BIGINT NOT NULL",
      Encoders.product[ProxState] ->
        "ids ARRAY<BIGINT>,tsUs ARRAY<BIGINT>,las ARRAY<BIGINT>,los ARRAY<BIGINT>,hb ARRAY<BIGINT>,hc ARRAY<BIGINT>",
      Encoders.product[QuotaCount] ->
        "n BIGINT NOT NULL"
    ).collect { case (enc, ddl) if enc.schema.toDDL != ddl =>
      s"${enc.clsTag.runtimeClass.getSimpleName}: ${enc.schema.toDDL} != $ddl"
    }
    assert(drift.isEmpty, drift.mkString("\n"))
  }

  test("S14 restart: funnel step-completion state survives a kill mid-funnel") {
    // Ev is a case class (not a tuple) — drive the harness with its
    // natural column names via toDF-with-no-renames
    golden[Ev]("S14",
      df => StreamOps.funnelStream(df, Seq(("view", 0L),
        ("click", 3600L * 1000000), ("purchase", 24 * 3600L * 1000000))),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(10, "view", 1), e(20, "click", 2), e(5, "click", 3, user = 2)),
        // u1's purchase completes against RECOVERED step times
        Seq(e(30, "purchase", 4), e(50, "view", 5, user = 2)),
        Seq(e(55, "click", 7, user = 2))),
      minRows = 5)
  }

  test("S18 restart: the per-user transition anchor is recovered state") {
    golden[Ev]("S18",
      df => StreamOps.transitionStream(df),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(10, "view", 1), e(20, "click", 2), e(5, "view", 3, user = 2)),
        // chains off RECOVERED anchors; stale @15 drops; u2's pair
        // rides the same batch as @40 (watermark discipline)
        Seq(e(40, "purchase", 5), e(15, "signup", 7),
          e(30, "click", 4, user = 2), e(25, "error", 6, user = 2))),
      minRows = 4)
  }

  test("S19 restart: the last-touch anchor is recovered state") {
    golden[Ev]("S19",
      df => StreamOps.attributionStream(df, lookbackUs = 1000L * 1000000),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(100, "view", 1), e(400, "click", 2), e(100, "view", 3, user = 2)),
        // credits resolve against RECOVERED touches; u3's same-instant
        // pair rides the same batch as @5000 (watermark discipline)
        Seq(e(500, "purchase", 5), e(5000, "purchase", 6, user = 2),
          e(700, "click", 7, user = 3), e(700, "purchase", 8, user = 3))),
      minRows = 3)
  }

  test("S44 restart: cross-batch proximity pairs survive a kill between the batches") {
    golden("S44",
      df => StreamOps.proximityStream(df, 150000.0, watermark = "30 seconds"),
      Seq("ts", "id", "la", "lo"),
      Seq(
        // A and B pair in-batch; C is far
        Seq((ts(10), 1L, 10000000L, 20000000L),
          (ts(12), 2L, 10000000L, 21000000L),
          (ts(11), 3L, -50000000L, -120000000L)),
        // D pairs with RECOVERED A and B state after the kill
        Seq((ts(20), 4L, 10100000L, 20100000L)),
        // watermark push evicts; then a lone reading pairs with nothing
        Seq((ts(1000), 9L, -50000000L, 170000000L)),
        Seq((ts(1005), 5L, 10000000L, 20000000L))),
      minRows = 3)
  }

  test("S45 restart: geofence transition chain spans kills without dup or loss") {
    val zones = Seq(
      (101L, 10000000L, 20000000L, 400000.0),
      (102L, 10500000L, 20500000L, 400000.0),
      (103L, 0L, 179900000L, 300000.0),
      (104L, -60000000L, -90000000L, 200000.0))
      .toDF("zone_id", "zla", "zlo", "radius_m")
    golden("S45",
      df => StreamOps.geofenceZoneStream(df, zones, 500000.0),
      Seq("ts", "user_id", "event_id", "la", "lo"),
      Seq( // each transition's "previous zone" is recovered state
        Seq((ts(10), 1L, 1L, 40000000L, 40000000L)),
        Seq((ts(20), 1L, 2L, 10000000L, 20000000L)),
        Seq((ts(30), 1L, 3L, 10500000L, 20500000L)),
        Seq((ts(40), 1L, 4L, 100000L, -179950000L),
          (ts(50), 1L, 5L, -30000000L, 100000000L))),
      minRows = 4)
  }

  test("S46 restart: dwell visits close across kills; idle timeout fires post-recovery") {
    val zones = Seq(("A", 0L, 0L, 200000.0), ("B", 0L, 10000000L, 200000.0))
    golden("S46",
      df => StreamOps.dwellStream(df, zones,
        watermark = "0 seconds", idleGapUs = 60L * 1000000L),
      Seq("ts", "user_id", "event_id", "la", "lo"),
      Seq(
        Seq((ts(20), 1L, 2L, 0L, 0L), (ts(10), 1L, 1L, 100000L, 0L),
          (ts(30), 1L, 3L, 0L, 10000000L)), // closes visit A
        Seq((ts(40), 1L, 4L, 40000000L, 90000000L)), // closes B post-kill
        Seq((ts(15), 1L, 9L, 0L, 10000000L)),        // straggler drops
        Seq((ts(50), 1L, 5L, 0L, 0L)),               // re-enter A
        Seq((ts(200), 2L, 6L, 40000000L, 90000000L)), // wm → 200
        Seq((ts(201), 2L, 7L, 40000000L, 90000000L))), // timeout fires
      minRows = 3)
  }

  test("S47 restart: burst baseline and eviction re-warm survive kills") {
    def hot(sec: Long) = (ts(sec), 0L, 0L)
    def far(sec: Long) = (ts(sec), 40000000L, 90000000L)
    golden("S47",
      df => StreamOps.geoBurstStream(df, windowSeconds = 10L, mult = 3L,
        warmup = 4L, watermark = "0 seconds", idleGapUs = 50L * 1000000L),
      Seq("ts", "la", "lo"),
      Seq(
        // five steady windows + a 12-event burst — baseline is state
        Seq(3L, 7L, 13L, 17L, 23L, 27L, 33L, 37L, 43L, 47L).map(hot) ++
          Seq(51L, 51L, 52L, 52L, 53L, 53L, 54L, 54L, 55L, 55L, 56L, 56L).map(hot),
        Seq(far(58)),   // closes the steady windows (silent)
        Seq(far(100)),  // closes the burst window → ONE alert
        Seq(far(120)), Seq(far(121)), // idle eviction
        (1 to 50).map(_ => hot(135)), // post-return flood must re-warm
        Seq(far(160)), Seq(far(161))),
      minRows = 1)
  }

  test("S48 restart: bracket interpolation and final-second flush span kills") {
    golden("S48",
      df => StreamOps.resampleStream(df, 10L,
        watermark = "0 seconds", idleGapUs = 60L * 1000000L),
      Seq("ts", "user_id", "event_id", "la", "lo"),
      Seq(
        Seq((ts(5), 1L, 1L, -1000L, 100L)),
        // the bracket's left fix is recovered state
        Seq((ts(25), 1L, 2L, 3000L, -500L), (ts(30), 1L, 3L, 5000L, 5000L)),
        Seq((ts(30), 1L, 0L, 99999L, 99999L)), // straggler drops
        Seq((ts(200), 2L, 9L, 40000000L, 90000000L)),
        Seq((ts(201), 2L, 10L, 40000000L, 90000000L))), // timeout flush
      minRows = 3)
  }

  test("S49 restart: the previous-fix speed comparison is recovered state") {
    golden("S49",
      df => StreamOps.speedAnomalyStream(df, 50.0, watermark = "0 seconds"),
      Seq("ts", "user_id", "event_id", "la", "lo"),
      Seq( // ~3,300 km in 10 s across the kill → alert from recovered fix
        Seq((ts(10), 1L, 1L, 0L, 0L)),
        Seq((ts(20), 1L, 2L, 0L, 30000000L)),
        Seq((ts(30), 1L, 3L, 0L, 30010000L))), // ~100 km/s → also flags
      minRows = 1)
  }

  test("S46 restart under RocksDB: state recovery through the production store") {
    // the HDFS-backed default store recovers from the checkpoint's
    // delta files; RocksDB recovers from its own changelog/snapshot
    // machinery — a different code path worth its own kill/restart
    // golden (the r16 sweep asserts provider METRICS, not recovery)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val zones = Seq(("A", 0L, 0L, 200000.0), ("B", 0L, 10000000L, 200000.0))
      golden("S46-rocks",
        df => StreamOps.dwellStream(df, zones,
          watermark = "0 seconds", idleGapUs = 60L * 1000000L),
        Seq("ts", "user_id", "event_id", "la", "lo"),
        Seq(
          Seq((ts(20), 1L, 2L, 0L, 0L), (ts(10), 1L, 1L, 100000L, 0L),
            (ts(30), 1L, 3L, 0L, 10000000L)),
          Seq((ts(40), 1L, 4L, 40000000L, 90000000L)),
          Seq((ts(50), 1L, 5L, 0L, 0L)),
          Seq((ts(200), 2L, 6L, 40000000L, 90000000L)),
          Seq((ts(201), 2L, 7L, 40000000L, 90000000L))),
        minRows = 3)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("S50 restart: zone-scale dwell runs close across kills (nearest-wins state)") {
    val zones = Seq((101L, 10000000L, 20000000L, 50000.0),
      (102L, 10500000L, 20500000L, 50000.0))
      .toDF("zone_id", "zla", "zlo", "radius_m")
    golden("S50",
      df => StreamOps.dwellZoneStream(df, zones, 500000.0,
        watermark = "0 seconds", idleGapUs = 60L * 1000000L),
      Seq("ts", "user_id", "event_id", "la", "lo"),
      Seq(
        Seq((ts(10), 1L, 1L, 10000000L, 20000000L),
          (ts(20), 1L, 2L, 10000000L, 20000000L)),
        // overlap fix resolves nearest=102, closing the RECOVERED 101 run
        Seq((ts(30), 1L, 3L, 10300000L, 20300000L)),
        Seq((ts(40), 1L, 4L, 40000000L, 40000000L))), // closes 102
      minRows = 2)
  }

  // ---- r18 (r17 verdict #1): the remaining stateful machines, same
  // control-vs-restart discipline — each script places its defining
  // cross-batch state interaction ACROSS a kill, fixtures adapted from
  // the machines' functional goldens in StreamingSpec. ----

  test("S10 restart: open gap-sessions and idle timeouts are recovered state") {
    golden[Ev]("S10",
      df => StreamOps.statefulSessions(df, gapMs = 30000L,
        watermark = "10 seconds"),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(0, "a", 1), e(10, "a", 2), e(5, "a", 3, user = 2)),
        // u1's 90 s gap closes its RECOVERED first session
        Seq(e(100, "a", 4)),
        // watermark passes u2's idle timeout (armed pre-kill) AND
        // closes u1's recovered second session
        Seq(e(200, "a", 5))),
      minRows = 3)
  }

  test("S15 restart: prequential moments accumulated pre-kill score post-kill spikes") {
    golden[Ev]("S15",
      df => StreamOps.anomalyStream(df, threshold = 2.5, minCount = 30),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        // 31 warm-up values build the moments — all state, no output
        (1 to 31).map(i => ev(i, "a", i, v = i.toDouble)),
        // spike + dead-center value scored against RECOVERED moments
        Seq(ev(40, "a", 101, v = 100.0), ev(41, "a", 102, v = 16.0)),
        // same spike re-judged against moments that now include batch 2
        Seq(ev(50, "a", 103, v = 100.0))),
      minRows = 2)
  }

  test("S16 restart: Misra-Gries counters survive the kill mid-decrement-cycle") {
    golden[Ev]("S16",
      df => StreamOps.heavyHittersStream(df, k = 2),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        // fold ends {1:2} after a decrement-all — that counter state
        // is what batch 2 keeps folding into
        Seq(e(1, "a", 10), e(2, "a", 11), e(3, "a", 12),
          e(4, "a", 13, user = 2), e(5, "a", 14, user = 3)),
        Seq(e(6, "a", 15, user = 3), e(7, "a", 16, user = 3),
          e(8, "a", 17, user = 2))),
      minRows = 2)
  }

  test("S17 restart: regression moments refine across a kill, then bend on the outlier") {
    golden[Ev]("S17",
      df => StreamOps.trendStream(df),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        (0 to 4).map(t => ev(t, "a", t + 1, v = 2.0 * t + 5)),
        // continues the same line off RECOVERED moments
        (5 to 9).map(t => ev(t, "a", t + 1, v = 2.0 * t + 5)),
        Seq(ev(10, "a", 11, v = 1000.0))),
      minRows = 3)
  }

  test("S20 restart: the seen user-day set dedups against recovered state") {
    val day = 86400L
    golden[Ev]("S20",
      df => StreamOps.retentionStream(df, horizonDays = 30),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(10, "view", 1), e(20, "click", 2),
          e(day + 5, "view", 3), e(2 * day + 7, "view", 4, user = 2)),
        // day-1 re-activity must NOT re-emit (dedup vs recovered set);
        // u2's pre-cohort day is dropped against its recovered cohort
        Seq(e(day + 100, "view", 5), e(day + 3, "view", 6, user = 2))),
      minRows = 3)
  }

  test("S21 restart: the skip-gram ring pairs post-kill tokens with recovered ones") {
    golden[Ev]("S21",
      df => StreamOps.skipGramStream(df, maxSkip = 2),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(10, "a", 1), e(20, "b", 2), e(30, "c", 3)),
        // d pairs with the RECOVERED b, c; the stale token drops
        Seq(e(40, "d", 4), e(15, "x", 5))),
      minRows = 5)
  }

  test("S32 restart: a conversion completes against the recovered arm") {
    val base2 = 4067200L // keep the fixture's own epoch shape, offset from base
    golden[Ev]("S32",
      df => StreamOps.conversionLagStream(df, "signup", "purchase"),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(base2, "signup", 1), e(base2 + 3600, "purchase", 2),
          e(base2 + 100, "purchase", 3, user = 2), // pre-arm → ignored
          e(base2 + 200, "signup", 4, user = 2),
          e(base2 + 50, "signup", 5, user = 3)),   // never converts
        // u2 converts CROSS-KILL (lag 600); u1's duplicate is silent
        // against its recovered converted flag
        Seq(e(base2 + 7200, "purchase", 6), e(base2 + 800, "purchase", 7, user = 2))),
      minRows = 2)
  }

  test("S34 restart: the silence timer armed pre-kill fires post-recovery") {
    golden[Ev]("S34",
      df => StreamOps.heartbeatMonitor(df, silenceMs = 60000L),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(0, "a", 1), e(30, "a", 2), e(0, "a", 3, user = 2)),
        Seq(e(200, "a", 4)), // watermark → 190 next batch
        Seq(e(400, "a", 5))), // u2's recovered last-seen fires the alert
      minRows = 1)
  }

  test("S35 restart: the EWMA level and anchor are recovered state") {
    golden[Ev]("S35",
      df => StreamOps.ewmaStream(df, alpha = 0.5),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        // out-of-order batch folds 10, 20, 30 by event time
        Seq(ev(20, "a", 3, v = 30.0), ev(0, "a", 1, v = 10.0),
          ev(10, "a", 2, v = 20.0)),
        // in-order point folds into the RECOVERED level; the regression
        // behind the recovered anchor is dropped
        Seq(ev(30, "a", 4, v = 40.0), ev(5, "a", 9, v = 999.0))),
      minRows = 4)
  }

  test("S36 restart: the CUSUM accumulator builds to alarm across a kill") {
    golden[Ev]("S36",
      df => StreamOps.cusumStream(df, mu0 = 10.0, slack = 1.0, threshold = 5.0),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        // S+ = 1,2,3 then 15.0 pushes it to 7 > 5 → alarm + reset
        Seq(ev(1, "a", 1, v = 12.0), ev(2, "a", 2, v = 12.0),
          ev(3, "a", 3, v = 12.0), ev(4, "a", 4, v = 15.0),
          ev(5, "a", 5, v = 10.0)),
        Seq(ev(6, "a", 6, v = 4.0)), // S− = 5, silent — recovered next
        // the alarm CROSSES the kill: S− 5 → 10 > 5 from recovered state
        Seq(ev(7, "a", 7, v = 4.0), ev(8, "a", 8, v = 4.0))),
      minRows = 2)
  }

  test("S40 restart: open interval blocks and armed timeouts are recovered") {
    golden[(Long, Timestamp, Long, Long)]("S40",
      df => StreamOps.intervalUnionStream(df, watermark = "0 seconds"),
      Seq("user_id", "ts", "s", "e"),
      Seq(
        // out-of-order pieces build [10,40) + a disjoint open [100,110)
        Seq((1L, ts(20), base + 20, base + 40), (1L, ts(10), base + 10, base + 25),
          (1L, ts(25), base + 25, base + 25), (1L, ts(100), base + 100, base + 110),
          (2L, ts(15), base + 15, base + 30)),
        Seq((1L, ts(200), base + 200, base + 210)), // closes recovered [100,110)
        Seq((9L, ts(500), base + 500, base + 501)), // timeout closes [200,210)
        Seq((9L, ts(900), base + 900, base + 901))),
      minRows = 4)
  }

  test("S42 restart: the gap frontier survives kills even with no open blocks") {
    golden[(Long, Timestamp, Long, Long)]("S42",
      df => StreamOps.intervalGapsStream(df, watermark = "0 seconds"),
      Seq("user_id", "ts", "s", "e"),
      Seq(
        Seq((1L, ts(20), base + 20, base + 40), (1L, ts(10), base + 10, base + 25),
          (1L, ts(100), base + 100, base + 110), (2L, ts(15), base + 15, base + 30)),
        Seq((1L, ts(200), base + 200, base + 210)), // gap (40,100) finalizes
        Seq((9L, ts(500), base + 500, base + 501)), // timeout → gap (110,200)
        // EVERY u1 block is now closed — only the frontier survives the
        // next two kills; the downtime gap must still pair on return
        Seq((1L, ts(1000), base + 1000, base + 1010)),
        Seq((9L, ts(2000), base + 2000, base + 2001)), // gap (210,1000)
        Seq((9L, ts(9000), base + 9000, base + 9001))),
      minRows = 3)
  }

  test("S33 restart (update): the window count escalates from the recovered count") {
    goldenFb[Ev]("S33",
      df => StreamOps.burstStream(df, "user_id", threshold = 5L,
        size = "60 seconds"),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        (1 to 6).map(i => e(i, "a", i)) ++
          (1 to 3).map(i => e(i, "a", 100L + i, user = 2)),
        // u2's late lift crosses the threshold ONLY with the recovered
        // in-window count of 3
        (4 to 8).map(i => e(i, "a", 200L + i, user = 2))),
      minRows = 2)
  }

  test("S37 restart (update): the reservoir's bottom-k heap is recovered state") {
    goldenFb[Ev]("S37",
      df => StreamOps.reservoirStream(df, k = 3),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        (1L to 6L).map(i => e(i, "a", i)),
        // later candidates displace members of the RECOVERED sample
        // (emit-on-change: an unchanged union emits nothing — equality
        // then still pins the recovered n counter on the next change)
        (7L to 12L).map(i => e(i, "a", i)),
        (13L to 24L).map(i => e(i, "a", i))),
      minRows = 2)
  }

  test("S38 restart (update): CDC winners, tombstones and resurrection recover") {
    goldenFb[(Long, String, Long, String)]("S38",
      df => StreamOps.cdcUpsertStream(df),
      Seq("k", "op", "version", "payload"),
      Seq(
        Seq((1L, "U", 3L, "b"), (1L, "I", 1L, "a"), (2L, "I", 2L, "x"),
          (3L, "U", 1L, "u"), (3L, "D", 1L, "d")),
        // late lower version ABSORBED by the recovered winner; delete
        // emits a tombstone; duplicate redelivery is silent
        Seq((1L, "U", 2L, "late"), (1L, "U", 3L, "b"), (2L, "D", 5L, "-")),
        // higher-version insert resurrects the recovered tombstone
        Seq((2L, "I", 7L, "y"))),
      minRows = 4)
  }

  test("S38 restart (update): the tombstone GC timer armed pre-kill fires post-recovery") {
    goldenFb[(Long, String, Long, String, Timestamp)]("S38-gc",
      df => StreamOps.cdcUpsertStream(df,
        tombstoneRetentionUs = Some(30L * 1000000), watermark = "0 seconds"),
      Seq("k", "op", "version", "payload", "ts"),
      Seq(
        Seq((1L, "D", 5L, "-", ts(10))),   // tombstone; evict at 40 s
        Seq((9L, "I", 1L, "x", ts(100))),  // watermark → 100
        Seq((9L, "I", 2L, "y", ts(101))),  // fires the RECOVERED timer
        // post-GC: the lower version re-materializes — only possible if
        // the eviction actually happened across the kills
        Seq((1L, "U", 3L, "late", ts(102)))),
      minRows = 3)
  }

  test("S53 restart: the admitted counter is recovered — no re-admission past quota") {
    golden[(String, Long)]("S53",
      df => StreamOps.quotaFillStream(df, Map("src0" -> 3L, "src1" -> 1L)),
      Seq("source", "doc_id"),
      Seq(
        Seq(("src0", 10L), ("src0", 4L), ("src1", 7L)),
        // src0 admits ONE more (rank 3 off the recovered counter);
        // src1 is full — its arrival must drop
        Seq(("src0", 2L), ("src1", 9L)),
        // both full: a counter lost in the kill would re-admit these
        Seq(("src0", 99L), ("src0", 1L))),
      minRows = 4)
  }

  // ---- MID-BATCH kill goldens (r18 verdict #7) ----
  //
  // Everything above stops AFTER a committed batch — state recovery,
  // not sink atomicity under an UNCOMMITTED batch. Here the sink
  // itself crashes the designated epoch on its FIRST attempt, AFTER
  // its writes land (the crash-after-write-before-commit window: the
  // worst case for duplication). The restarted query replays that
  // epoch from rolled-back state; the sink is the idempotent
  // foreachBatch pattern (overwrite a batchId-keyed path), so a
  // correct replay produces byte-identical batch content and the
  // run-total equals the uninterrupted control — no dupes, no loss.

  /** Drive `transform` into an idempotent batchId-partitioned parquet
    * foreachBatch sink; when `killAt` is set, throw from inside the
    * sink on that epoch's first attempt after writing. Returns rows
    * rendered with their batch partition (content AND placement must
    * match the control). */
  private def runMidKill[T <: Product : Encoder](
      transform: DataFrame => DataFrame, cols: Seq[String],
      batches: Seq[Seq[T]], outMode: String,
      killAt: Option[Long]): Set[String] = {
    val in = MemoryStream[T]
    val out = tmpDir("mk_out"); val ckpt = tmpDir("mk_ckpt")
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = transform(in.toDF().toDF(cols: _*))
      .writeStream.outputMode(outMode)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          bid: Long) =>
        df.write.mode("overwrite").parquet(s"$out/b=$bid")
        if (killAt.contains(bid) && !fired.getAndSet(true))
          throw new RuntimeException("injected mid-batch crash")
        ()
      }
      .option("checkpointLocation", ckpt).start()
    var q = start()
    batches.foreach { b =>
      in.addData(b)
      try q.processAllAvailable()
      catch { case _: Exception =>
        scala.util.Try(q.stop())
        q = start()           // resume from the checkpoint: the failed
        q.processAllAvailable() // epoch replays against rolled-back state
      }
    }
    q.stop()
    killAt.foreach(_ => assert(fired.get,
      "mid-batch crash never fired — vacuous golden"))
    spark.read.parquet(out).collect().map(_.mkString("|")).toSet
  }

  /** One mid-batch-kill golden under BOTH state-store providers. */
  private def midKillGolden[T <: Product : Encoder](name: String,
      transform: DataFrame => DataFrame, cols: Seq[String],
      batches: Seq[Seq[T]], outMode: String, killAt: Long,
      minRows: Int): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    Seq(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .foreach { provider =>
        spark.conf.set(key, provider)
        try {
          val control = runMidKill(transform, cols, batches, outMode, None)
          val crashed = runMidKill(transform, cols, batches, outMode, Some(killAt))
          val p = provider.split('.').last
          assert(control.size >= minRows,
            s"$name/$p: vacuous control (${control.size} rows)")
          assert(crashed == control,
            s"$name/$p: lost=${(control -- crashed).take(3)} " +
              s"dup/extra=${(crashed -- control).take(3)}")
        } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
  }

  test("S53 mid-batch kill: fMGWS counter state rolls back and the replayed epoch re-admits identically") {
    midKillGolden[(String, Long)]("S53-mid",
      df => StreamOps.quotaFillStream(df, Map("src0" -> 3L, "src1" -> 1L)),
      Seq("source", "doc_id"),
      Seq(
        Seq(("src0", 10L), ("src1", 7L)),
        // killed epoch: admits ride the recovered batch-0 counter —
        // a non-rolled-back counter would skip rank 2 or drop the admit
        Seq(("src0", 4L), ("src1", 9L)),
        Seq(("src0", 2L), ("src0", 99L))),
      outMode = "append", killAt = 1L, minRows = 4)
  }

  test("S3 mid-batch kill: windowed-agg versioned state replays the uncommitted epoch exactly") {
    midKillGolden[Ev]("S3-mid",
      df => StreamOps.slidingAgg(df),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(ev(10, "a", 1), ev(40, "b", 2)),
        // killed epoch UPDATES windows opened in batch 0: replay from
        // un-rolled-back state would double-count these into cnt/sv
        Seq(ev(20, "a", 3, v = 2.0), ev(50, "b", 4, v = 5.0)),
        Seq(ev(70, "a", 5))),
      outMode = "update", killAt = 1L, minRows = 5)
  }

  test("S5 mid-batch kill: dropDuplicates state neither re-emits nor loses the replayed keys") {
    midKillGolden[Ev]("S5-mid",
      df => StreamOps.dedupByKey(df, watermark = "10 minutes"),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(10, "view", 1), e(11, "view", 2)),
        // killed epoch: id 1 is a cross-batch duplicate (must stay
        // suppressed through the replay), id 3 is new (must emit
        // exactly once despite the epoch running twice)
        Seq(e(12, "view", 1), e(13, "view", 3)),
        Seq(e(14, "view", 3), e(15, "view", 4))),
      outMode = "append", killAt = 1L, minRows = 3)
  }

  test("stateless mid-batch kill: the idempotent foreachBatch sink absorbs a pure replay") {
    // no state store at all — this isolates the SINK half of the
    // contract: at-least-once epoch delivery + batchId-keyed
    // overwrite = exactly-once output placement
    midKillGolden[Ev]("sink-mid",
      df => df.select("event_id", "event_type", "value"),
      Seq("ts", "user_id", "event_type", "value", "event_id"),
      Seq(
        Seq(e(10, "view", 1), e(11, "click", 2)),
        Seq(e(12, "view", 3)),
        Seq(e(13, "click", 4))),
      outMode = "append", killAt = 1L, minRows = 4)
  }

  test("S27 restart: killing after every batch folds the same dimension as one query") {
    import graft.streaming.Sinks
    import org.apache.spark.sql.functions.col
    val day1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime / 1000 - base
    val day2 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime / 1000 - base
    val day3 = java.sql.Timestamp.valueOf("2024-04-01 00:00:00").getTime / 1000 - base
    val batches: Seq[Seq[Ev]] = Seq(
      // in-batch duplicate: the later eff wins before the fold
      Seq(ev(day1, "u", 1, user = 1, v = 15.0),
        ev(day1 + 86400, "u", 2, user = 1, v = 20.0)),
      Seq(ev(day2, "u", 3, user = 3, v = 7.0)),  // new key inserts
      // k=1 changes AGAIN post-kill: closes the version opened by a
      // fold that itself ran in a killed-and-restarted query
      Seq(ev(day3, "u", 4, user = 1, v = 25.0)))
    def runScd(restart: Boolean): Set[String] = {
      import spark.implicits._
      val init = Seq((1L, 10.0, "2024-01-01"), (2L, 5.0, "2024-01-01"))
        .toDF("k", "bal", "f")
        .select(col("k"), col("bal"), col("f").cast("date").as("valid_from"))
      val dim = tmpDir("s27dim"); val ckpt = tmpDir("s27ckpt")
      val in = MemoryStream[Ev]
      def updates = in.toDF().select(col("user_id").as("k"),
        col("value").as("bal"), col("ts").cast("date").as("eff"))
      def start() = Sinks.scd2Sink(updates, dim, ckpt, Seq("k"), Seq("bal"), init)
      if (restart) batches.foreach { b =>
        val q = start(); in.addData(b); q.processAllAvailable(); q.stop()
      } else {
        val q = start()
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
        q.stop()
      }
      val vmax = new java.io.File(dim).listFiles
        .filter(_.getName.startsWith("v=")).map(_.getName.drop(2).toLong).max
      spark.read.parquet(s"$dim/v=$vmax").collect().map(_.mkString("|")).toSet
    }
    val control = runScd(restart = false)
    val restarted = runScd(restart = true)
    // k1: 10 closed, 20 closed, 25 current; k2 untouched; k3 inserted
    assert(control.size >= 5, s"vacuous S27 fixture: ${control.size} rows")
    assert(restarted == control, s"S27: lost=${(control -- restarted).take(3)} " +
      s"extra=${(restarted -- control).take(3)}")
  }
}
