package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** S10 custom state (top-level so product encoders resolve). */
case class UserSessionState(nEvents: Long, startMs: Long, lastMs: Long)
case class ClosedSession(user_id: Long, n_events: Long, start_ms: Long, end_ms: Long)

/** S14 funnel state: per-user step completion times (µs; -1 = open). */
case class FunnelProgress(times: Array[Long])
case class FunnelHit(user_id: Long, step_no: Int, step: String, ts_us: Long)

/** S15 anomaly state: running moments per group (n, Σv, Σv²). */
case class MomentState(n: Long, s: Double, q: Double)
case class Anomaly(group: String, event_id: Long, value: Double, z: Double)

/** S32 conversion state: per-user first-signup time (µs) and whether
  * the first qualifying purchase already emitted. */
case class ConvState(t0: Long, converted: Boolean)
case class ConvHit(user_id: Long, t0_us: Long, t1_us: Long, lag_s: Double)
case class HbState(lastUs: Long, n: Long)
case class HbAlert(user_id: Long, last_seen_us: Long, n_events: Long)

/** S53 admission state: per-source admitted-so-far counter (the whole
  * state — one fixed-size record per source). */
case class QuotaCount(n: Long)

/** S35 EWMA state: last smoothed level + the (tsu, event_id) anchor of
  * the last event folded in (the monotonic guard's total order). */
case class EwmaState(tsu: Long, eventId: Long, level: Double)
case class EwmaPoint(user_id: Long, ts_us: Long, event_id: Long,
  value: Double, ewma: Double)

/** S36 CUSUM state: Page's two one-sided statistics + the total-order
  * anchor. Two doubles + two longs per key, constant forever. */
case class CusumState(tsu: Long, eventId: Long, sPos: Double, sNeg: Double)
case class CusumAlarm(user_id: Long, ts_us: Long, event_id: Long,
  direction: String, statistic: Double)

/** S37 reservoir state: the k smallest (hash, id) pairs seen so far
  * plus the seen-count — hard k-bounded regardless of stream age. */
case class ReservoirState(ids: Array[Long], hashes: Array[Long], n: Long)
case class ReservoirSample(group: String, n_seen: Long, sample_ids: Array[Long])

/** S38 CDC-upsert state: the per-key WINNING change under the q245
  * total order — one row regardless of stream age. */
/** `tsUs` is the WINNING change's own event time (µs; MinValue when
  * retention is off) — the tombstone-GC timer arms from it, never
  * from absorbed rows' timestamps, so the eviction horizon is a pure
  * function of the winner and replay/batching cannot move it. */
case class CdcState(version: Long, opRank: Int, op: String, payload: String,
  tsUs: Long = Long.MinValue)
case class CdcRow(k: Long, version: Long, op: String, payload: String,
  deleted: Boolean)

/** S39 geofence state: last zone + the (tsu, event_id) monotonic
  * anchor. One string + two longs per key, constant forever. */
case class GeoState(tsu: Long, eventId: Long, zone: String)
case class GeoTransition(user_id: Long, ts_us: Long, event_id: Long,
  from_zone: String, to_zone: String)

/** S40 interval-union state: the OPEN merged blocks per key (parallel
  * arrays sorted by start) plus the closed-frontier second — state is
  * bounded by the number of disjoint in-flight blocks inside the
  * watermark horizon, never by stream age. */
case class IntervalState(bs: Array[Long], be: Array[Long],
  n: Array[Long], raw: Array[Long], closedUntil: Long)
case class ClosedBlock(user_id: Long, bs: Long, be: Long,
  n_iv: Long, covered_s: Long, raw_s: Long)

/** S42 gap row: one downtime window between consecutive closed
  * blocks (the live q254). */
case class GapRow(user_id: Long, gap_start: Long, gap_end: Long,
  gap_s: Long)

/** S46 dwell state: the user's current zone RUN — zone, enter anchor,
  * last-seen (tsu, event_id) anchor, event count. One run per key,
  * constant size; removed on idle eviction. */
case class DwellState(zone: String, enterUs: Long, lastUs: Long,
  lastEvent: Long, n: Long)
case class DwellVisit(user_id: Long, zone: String, enter_us: Long,
  exit_us: Long, n_events: Long)

/** S49 speed-screen state: the user's previous fix — four longs,
  * constant forever (or until opt-in idle eviction). */
case class SpeedState(tsu: Long, eid: Long, la: Long, lo: Long)
case class SpeedAlert(user_id: Long, event_id: Long, dt_s: Long,
  hav: Double, kz: Double)

/** S48 resample state: the user's current-second fix (SHIFTED
  * non-negative coordinates, the q265 convention), its (sec, eid)
  * frontier anchor, and the last grid instant emitted — five longs,
  * constant forever. */
case class ResampleState(tu: Long, eid: Long, las: Long, los: Long,
  lastGrid: Long)
case class GridPoint(user_id: Long, t: Long, la_i: Long, lo_i: Long)

/** S47 burst state: per grid cell, the closed-window frontier, the
  * EWMA baseline in 1/256 units (exact integer update — replay-
  * stable), the warmup counter, and the in-flight window counts
  * (parallel arrays, bounded by windows inside the watermark
  * horizon). */
case class BurstState(lastClosed: Long, warm: Long, ewmaQ: Long,
  lastSeenUs: Long, ws: Array[Long], ns: Array[Long])
case class BurstAlert(cell: Long, win_start_s: Long, n: Long,
  baseline_q256: Long)

/** S44 proximity state: the in-watermark readings exploded into one
  * (band, cell) grid key — parallel arrays; each reading carries its
  * HOME key so pair emission deduplicates to the smaller id's home
  * group. Bounded by in-watermark readings per 3×3 neighborhood. */
case class ProxState(ids: Array[Long], tsUs: Array[Long],
  las: Array[Long], los: Array[Long], hb: Array[Long], hc: Array[Long])
/** S44 output: one pair-detection event (id_a < id_b), `hav` the
  * defined polynomial haversine, `ts_us` the later reading's time. */
case class ProximityPair(id_a: Long, id_b: Long, hav: Double, ts_us: Long)

/** S16 heavy-hitter state: Misra–Gries counters (≤ k entries). */
case class MgState(ids: Array[Long], counts: Array[Long], n: Long)
case class MgSummary(group: String, n: Long, ids: Array[Long],
  lower_bounds: Array[Long])

/** S17 trend state: running regression moments per group. x0 anchors
  * the time axis at the group's first event so x stays small. */
case class TrendState(n: Long, x0: Long, sx: Double, sy: Double,
  sxx: Double, syy: Double, sxy: Double)
case class TrendFit(group: String, n: Long, slope: Double, intercept: Double)

/** S18 transition state: the per-user anchor — last event in the
  * (tsu, event_id) total order. One fixed-size record per live user. */
case class TransitionAnchor(tsu: Long, eventId: Long, eventType: String)
case class Transition(user_id: Long, from_type: String, to_type: String,
  from_us: Long, to_us: Long)

/** S19 attribution state: the per-user last TOUCH (non-conversion
  * event) in the total order. One fixed-size record per live user. */
case class TouchAnchor(tsu: Long, eventId: Long, channel: String)
case class Credit(user_id: Long, channel: String, conv_us: Long,
  conv_id: Long)

/** S20 retention state: the user's cohort (first-seen) epoch day plus
  * the active days already emitted inside the out-of-order horizon —
  * seen days more than `reorderDays` behind the max collapse into
  * `floorDay` (≤ which everything is known emitted), so the record
  * stays fixed-size no matter the stream age. */
case class RetentionState(cohortDay: Int, floorDay: Int, recent: Array[Int])
case class Activity(user_id: Long, cohort_day_ed: Int, active_day_ed: Int,
  offset_days: Int)

/** S21 skip-gram state: the per-user ring of the last `maxSkip` events
  * in the total order — fixed size k, the whole window the band
  * semantics ever needs. */
case class SkipRing(tsus: Array[Long], eids: Array[Long], types: Array[String])
case class SkipPair(user_id: Long, a_type: String, b_type: String,
  b_tsu: Long, b_id: Long)

/** The declared streaming operator surface S2–S7 (SURVEY.md §2.4) —
  * event-time upgrades of the reference's processing-time-only design.
  * Each takes a (streaming or batch) DataFrame with the events schema
  * (ts: timestamp, user_id, event_type, value, event_id).
  *
  * Stateful machines (S10 onwards) all run on one keyed event-time
  * fold, [[keyedRows]]. Its contract:
  *  - event time is a Long of epoch µs, `ts_us`, computed in Catalyst
  *    by `unix_micros(ts)`; no typed row carries a timestamp object;
  *  - every event-time timer is armed through `armTimeout`, clamped
  *    past the current watermark, and every (ts_us, event_id) anchor
  *    test goes through `stale`;
  *  - the state case classes above, with each machine's key type, ARE
  *    the checkpoint format: Spark stores state under their encoder
  *    schemas, so editing one in place breaks the restart of every
  *    deployed query (StreamRestartSpec pins their DDL). A new state
  *    shape is a new class.
  *
  * Scale notes: all stateful ops are keyed and watermarked, so state
  * is bounded and evicted; at cluster scale back them with the RocksDB
  * state store (`spark.sql.streaming.stateStore.providerClass`) —
  * exercised by StreamingSpec's RocksDB S10 run, which swaps the
  * provider and asserts identical results + live RocksDB metrics.
  */
object StreamOps {

  /** Encoders for the machines' typed rows, keys, state and output. */
  private object Enc extends org.apache.spark.sql.EncoderImplicits
  import Enc._

  /** A machine's typed input, ready to group by key and fold. */
  private final class KeyedRows[R](rows: Dataset[R]) {
    /** Group by `key` (its type is the state's key schema) and run `f`
      * once per key and micro-batch, under `timeout` and `mode`. */
    def fold[K: Encoder, S: Encoder, O: Encoder](key: R => K,
        timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout,
        mode: OutputMode = OutputMode.Append)(
        f: (K, Iterator[R], GroupState[S]) => Iterator[O]): DataFrame =
      rows.groupByKey(key).flatMapGroupsWithState(mode, timeout)(f).toDF()
  }

  /** The one way a stateful machine sees its input. With a `watermark`
    * the frame is watermarked on `ts` and gains `ts_us` = unix_micros(ts),
    * which carries the watermark's column metadata: Spark drops rows
    * behind the watermark before an event-time-timeout fold by reading
    * that column, so a machine with such a timeout keeps `ts_us` in its
    * row. Without a watermark the machine has no event time. `where`
    * filters after the watermark (the watermark sees every row); `cols`
    * project the typed row `R`. */
  private def keyedRows[R: Encoder](in: DataFrame, watermark: Option[String],
      where: Column = lit(true))(cols: Column*): KeyedRows[R] = {
    val timed = watermark.fold(in) { w =>
      val wm = in.withWatermark("ts", w)
      wm.select(col("*"),
        unix_micros(col("ts")).as("ts_us", wm.schema("ts").metadata))
    }
    new KeyedRows(timed.filter(where).select(cols: _*).as[R])
  }

  /** Arm the event-time timeout at `atMs`, clamped past the current
    * watermark: EventTimeTimeout rejects a timestamp at or behind it,
    * which a within-watermark late event could otherwise compute. */
  private def armTimeout(state: GroupState[_], atMs: Long): Unit =
    state.setTimeoutTimestamp(math.max(atMs, state.getCurrentWatermarkMs() + 1L))

  /** The monotonic guard of the (ts_us, event_id) total order: an event
    * at or behind the anchor (aUs, aId) is a stale straggler. */
  private def stale(tu: Long, id: Long, aUs: Long, aId: Long): Boolean =
    tu < aUs || (tu == aUs && id <= aId)

  /** S2 — tumbling event-time window counts (the event-time analog of
    * the reference's 5 s processing-time batch, RawDataIngestion.java:91). */
  def tumblingCounts(events: DataFrame, size: String = "5 seconds",
      watermark: String = "10 seconds"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))

  /** S3 — sliding window aggregation. */
  def slidingAgg(events: DataFrame, size: String = "1 minute",
      slide: String = "30 seconds", watermark: String = "2 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("cnt"), col("sv"))

  /** S4 — session windows per user (gap-based sessionization). */
  def sessionAgg(events: DataFrame, gap: String = "30 seconds",
      watermark: String = "2 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col("user_id"), col("n_events"))

  /** S5 — streaming dedup by key within the watermark horizon: the
    * exactly-once-per-key the reference only got from Cassandra upserts
    * (SURVEY.md §1.4.5). */
  def dedupByKey(events: DataFrame, watermark: String = "10 seconds"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** S12 — streaming curation stage (r10): the ingestion-side front of
    * the batch curation chain, run INSIDE the reference's streaming
    * topology so downstream batch curation starts from a pre-deduped,
    * pre-scored corpus. Takes a document stream (ts: timestamp,
    * doc_id, text) and applies
    *   - content-fingerprint EXACT dedup within the watermark horizon
    *     (md5 over whitespace-normalized text — q33's fingerprint;
    *     `dropDuplicatesWithinWatermark` keys one fixed-size state
    *     record per distinct doc, evicted as the watermark passes, so
    *     state is bounded by the horizon's distinct-doc count, not
    *     stream age — S5's doctrine on a content key),
    *   - narrow quality scoring + cuts (q30's n_chars / stopword-ratio
    *     signals via the COMPILED tokenRatio kernel — zero state, the
    *     q54 pipeline's cut thresholds).
    * Append-mode safe; the only shuffle is the dedup's key partition.
    * The cut rows can be fanned to a quarantine sink by the caller
    * (Sinks.fanOut) exactly like Ingest.quarantine's malformed rows. */
  def curateDocStream(docs: DataFrame, watermark: String = "10 seconds",
      minChars: Int = 60, minStopRatio: Double = 0.02): DataFrame =
    docs.withWatermark("ts", watermark)
      .withColumn("fp", md5(regexp_replace(col("text"), "\\s+", " ")))
      .dropDuplicatesWithinWatermark("fp")
      .withColumn("n_chars", length(col("text")).cast("bigint"))
      .withColumn("stop_ratio", graft.ext.TextOps.tokenRatioKernel(col("text"),
        Seq("the", "a", "of", "and", "to", "in", "is")))
      .filter(col("n_chars") >= minChars && col("stop_ratio") >= minStopRatio)

  /** S13 (r11) — streaming incremental near-dup screen: each
    * micro-batch of incoming documents is screened against a STATIC
    * pre-built [[graft.ext.NearDup.HistoryIndex]] via `foreachBatch` —
    * the streaming face of the q91 daily-increment shape (history is
    * sunk cost; only the batch's shingle/band frames are computed per
    * trigger, and the candidate join probes the persisted index —
    * never history × history, never batch state across triggers).
    * `onBatch` receives (flagged-frame, batchId); a deployment writes
    * the flagged ids to its quarantine sink there. foreachBatch (not a
    * stateful operator) is the right tool: the screen is a per-batch
    * BATCH computation against static state — no cross-batch streaming
    * state to manage, so exactly-once comes from the sink's batchId
    * idempotence as in Sinks.parquetPartitioned. */
  def screenStream(
      incoming: DataFrame,
      index: graft.ext.NearDup.HistoryIndex,
      onBatch: (DataFrame, Long) => Unit,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.ext.NearDup.screenIncrement(index, batch), batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** S6 — stream–static join: enrich the stream against a static
    * dimension (broadcast-sized dims stay map-side; no stream state). */
  def streamStaticJoin(events: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** S7 — late-data policy: rows later than the watermark are dropped
    * by the stateful aggregation; within-watermark late rows update
    * their window. (The watermark horizon IS the allowed lateness.) */
  def lateTolerantCounts(events: DataFrame, size: String, lateness: String): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("cnt"))

  /** S9 (r5) — stream–stream interval join: each left event joins right
    * events for the same key whose event time falls within
    * [left.ts, left.ts + horizon] — e.g. clicks attributed to the
    * impression they followed. Both sides are watermarked, and the time
    * bound is two-sided, so each side's join state is evictable once
    * the other side's watermark passes the interval — bounded state,
    * the requirement for an unbounded 100 TB/day run. Inner join:
    * unmatched rows simply never emit.
    *
    * Input frames must carry distinct column names (lKey/lTs vs
    * rKey/rTs) — Structured Streaming's join state keys on the
    * condition columns.
    *
    * S11 (r9) — `joinType = "left_outer"`: the attribution-with-
    * no-match case inner can't express (an impression with NO click
    * inside the horizon must still emit, null-padded). Outer emission
    * is watermark-driven: an unmatched left row emits only once the
    * watermark proves no future right row can land in its interval —
    * same bounded state, emission latency = horizon + watermark. */
  def streamStreamIntervalJoin(
      left: DataFrame, right: DataFrame,
      lKey: String, lTs: String, rKey: String, rTs: String,
      horizon: String = "20 seconds",
      watermark: String = "10 seconds",
      joinType: String = "inner"): DataFrame =
    left.withWatermark(lTs, watermark)
      .join(
        right.withWatermark(rTs, watermark),
        col(lKey) === col(rKey) &&
          col(rTs) >= col(lTs) &&
          col(rTs) <= col(lTs) + expr(s"interval $horizon"),
        joinType)

  // ---- batch-analog oracle gates (r8 verdict #7): Structured
  // Streaming's result-table semantics say a streaming aggregation's
  // final result equals the same plan run as a batch query over the
  // full input (SURVEY §2.4). The entries below run the EXACT StreamOps
  // transforms on the batch events table — `withWatermark` is a no-op in
  // batch (Catalyst's EliminateEventTimeWatermark) — which puts the
  // streaming operators themselves (window(), session_window()) under
  // the driver's DuckDB hash gate, not just under MemoryStream
  // ScalaTests. ----

  /** Q57 — S2's tumbling event-time window as a batch query: the same
    * `tumblingCounts` plan (window(ts, 1 hour) → count), hash-checked
    * against DuckDB `date_trunc('hour')` (Spark's windows are
    * epoch-aligned, so the hour window start IS the hour truncation).
    * Window start presented as epoch micros BIGINT — TIMESTAMP output
    * columns are the driver-hash-incompatible class (q24 history). */
  def q57(s: SparkSession, d: String): DataFrame =
    tumblingCounts(graft.sources.Tables.events(s, d), size = "1 hour", watermark = "1 hour")
      .select(unix_micros(col("ws")).as("ws_us"), col("event_type"), col("cnt"))
      .orderBy("ws_us", "event_type")

  /** Q58 — S4's session_window as a batch query: gap-based sessions per
    * user (12 h idle split, the q38 configuration) through the NATIVE
    * session_window operator, vs a DuckDB lag-mark-cumsum rebuild.
    * q38 gates the manual composition; this gates the operator. The
    * session end is last-event + gap by definition, so the oracle adds
    * the gap to MAX(tsu). Boundary semantics (an event exactly `gap`
    * after the previous): session_window MERGES it — the split requires
    * a diff STRICTLY greater than gap (verified empirically, pinned in
    * StreamingSpec with a synthetic exact-gap pair) — matching the
    * oracle's `tsu - lag(tsu) > gap` condition; the fixture has no
    * exact-12h consecutive diffs at any SF (checked r9) either way. */
  def q58(s: SparkSession, d: String): DataFrame =
    sessionAgg(graft.sources.Tables.events(s, d), gap = "12 hours", watermark = "12 hours")
      .select(col("user_id"),
        unix_micros(col("ss")).as("start_us"),
        unix_micros(col("se")).as("end_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")

  /** Q59 — S3's sliding window as batch: `slidingAgg` at size 1 h /
    * slide 30 min, so every event lands in EXACTLY two windows — the
    * overlap semantics the tumbling q57 can't exercise. The oracle
    * rebuilds the window set arithmetically (each event's two containing
    * starts are the 30-min grid points tsu−tsu%30m and that minus 30m;
    * Spark's window grid is epoch-aligned in multiples of the slide).
    * Presentation is counts only: slidingAgg's `sv` is a raw
    * double-`sum(value)`, whose addition order differs between engines —
    * the known unhashable class; the operator under gate is the window
    * assignment, which `cnt` pins completely. */
  def q59(s: SparkSession, d: String): DataFrame =
    slidingAgg(graft.sources.Tables.events(s, d),
        size = "1 hour", slide = "30 minutes", watermark = "1 hour")
      .select(unix_micros(col("ws")).as("ws_us"), unix_micros(col("we")).as("we_us"),
        col("event_type"), col("cnt"))
      .orderBy("ws_us", "event_type")

  /** Q60 — S9's stream–stream interval join as a batch query: the same
    * `streamStreamIntervalJoin` plan (equi key + two-sided event-time
    * bound) run over the batch events table — clicks attributed to the
    * view they followed within 1 h, per user. This is the LAST
    * SQL-expressible streaming operator (after q57/q58/q59's windows),
    * so the whole §2.4 batch-equivalence family is now under the
    * driver's DuckDB gate. Distinct from q44: that gates a manually
    * composed LEFT range join + aggregate; this gates the S9 operator
    * itself — inner join, two-sided bound, pair rows out (the shape
    * whose streaming form keeps join state evictable, StreamOps
    * scaladoc above). Timestamps presented as epoch micros BIGINT
    * (TIMESTAMP output is the driver-hash-incompatible class, q24
    * history); (view_id, click_id) is a unique total order. Pair
    * cardinality measured 5/46/370 at sf0.001/0.01/0.1 — the LIMIT is
    * a presentation cap per the §2.3 declaration rules, not load-
    * bearing at these SFs. */
  def q60(s: SparkSession, d: String): DataFrame = {
    val ev = graft.sources.Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vu"),
        col("ts").as("vts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("ts").as("cts"))
    streamStreamIntervalJoin(views, clicks, "vu", "vts", "cu", "cts",
        horizon = "1 hour", watermark = "1 hour")
      .select(col("view_id"), col("click_id"),
        unix_micros(col("vts")).as("vts_us"), unix_micros(col("cts")).as("cts_us"))
      .orderBy("view_id", "click_id")
      .limit(500)
  }

  /** S14 (r11) — streaming funnel: the real-time form of the batch
    * q101 (`Relational.funnelUsers`) — per user, detect completion of
    * an ordered step sequence (view → click ≤ w₂ → purchase ≤ w₃ …)
    * and EMIT each step completion exactly once, as it happens. This
    * is conversion tracking as a stream: the thing the batch form
    * answers tomorrow, this answers while the session is live.
    *
    * Semantics: greedy-earliest, matching the batch contract — step k
    * completes at the first event of its type STRICTLY after step k−1's
    * completion and within that step's window (same-timestamp events
    * resolve in step order, the batch `tsu > t` strictness). Each
    * micro-batch's rows are sorted by event time first, so intra-batch
    * disorder is invisible; CROSS-batch late data is the documented
    * streaming tradeoff: state holds completion times only (k longs),
    * never an event buffer, so an event older than an already-recorded
    * completion cannot retroactively improve it — under in-order
    * per-user delivery (Kafka key-partitioning by user gives exactly
    * this) the stream result EQUALS the batch result, pinned in
    * StreamingSpec's parity test.
    *
    * Scale posture: state is k longs per user with a funnel still open
    * — keyed-partitioned, fixed-size per key, Append output; idle-key
    * eviction past the last step's deadline is an EventTimeTimeout
    * add-on (the S10 pattern) when user cardinality demands it. */
  def funnelStream(
      events: DataFrame,
      steps: Seq[(String, Long)],
      watermark: String = "10 seconds"): DataFrame = {
    val stepIdx = steps.map(_._1).zipWithIndex.toMap
    val windowsUs = steps.map(_._2).toArray
    val k = steps.length
    // Times are epoch MICROS end to end (ts_us), so step windows take
    // the SAME micro units as the batch funnelUsers and the strict
    // tm > t comparisons agree with the batch chain at full precision
    // (the fixture's events are µs-distinct; an ms truncation diverged
    // on exactly that, caught by the parity test).
    // State EVICTION (r11 hardening): a funnel that completed, or whose
    // remaining deadlines have all passed, can never change — its state
    // is dead weight that would otherwise grow with lifetime user
    // cardinality. Every open funnel's last possible completion is
    // t1 + Σwindows (each step's deadline chains off the previous
    // completion, and completions are monotone), so an event-time
    // timeout at that horizon — clamped past the current watermark, the
    // S10 rule — lets the store drop the key with no correctness loss:
    // any later event fails the window filter anyway. Never-entered
    // users evict one horizon past the watermark.
    val totalWindowUs = windowsUs.sum
    keyedRows[(Long, String, Long)](events, Some(watermark))(
        col("user_id").cast("long"), col("event_type"), col("ts_us"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val t = state.getOption.map(_.times.clone())
              .getOrElse(Array.fill(k)(-1L))
            val evs = rows.collect {
              case (_, et, tu) if stepIdx.contains(et) => (tu, stepIdx(et))
            }.toArray.sortBy(identity)
            var emitted = List.empty[FunnelHit]
            evs.foreach { case (tm, i) =>
              if (t(i) < 0) {
                val ok = i == 0 ||
                  (t(i - 1) >= 0 && tm > t(i - 1) && tm <= t(i - 1) + windowsUs(i))
                if (ok) {
                  t(i) = tm
                  emitted ::= FunnelHit(uid, i + 1, steps(i)._1, tm)
                }
              }
            }
            // Completed funnels keep their state until the SAME horizon
            // (not removed eagerly): a late duplicate entry event must
            // not re-open an instance inside the original window. After
            // the horizon, a fresh entry starts a new funnel instance —
            // the recurring-funnel semantics; batch parity (q101's one
            // global instance) holds for streams whose events fall
            // within one horizon, which the parity test pins.
            state.update(FunnelProgress(t))
            val horizonMs =
              if (t(0) >= 0) t(0) / 1000 + totalWindowUs / 1000
              else state.getCurrentWatermarkMs() + totalWindowUs / 1000
            armTimeout(state, horizonMs)
            emitted.reverse.iterator
          }
      }
  }

  /** S15 (r11) — streaming anomaly detection: the real-time form of the
    * batch q103 (`Relational.zScoreOutliers`) — flag events whose value
    * sits beyond `threshold` σ of their group's distribution, as they
    * arrive. Semantics are PREQUENTIAL (test-then-train, the streaming-
    * statistics discipline): each micro-batch is scored against the
    * moments accumulated over PRIOR batches only, then folded into the
    * state — a score never depends on the event it judges or its batch
    * peers, so a burst of anomalies cannot mask itself by inflating the
    * variance it is judged against (within-batch self-masking is the
    * classic naive-implementation bug). The first `minCount` events of
    * a group are unscored warm-up (variance of near-nothing flags
    * everything).
    *
    * Contrast with q103, which scores against the FULL final moments —
    * the two agree in the limit but differ at the margin by design;
    * StreamingSpec pins the prequential arithmetic exactly.
    *
    * Scale: state is 3 numbers per group — the smallest state in the
    * engine; keyed-partitioned by group, Append output. Moment updates
    * are associative, so a 1000-executor deployment shards groups
    * freely. (Unbounded-n drift — a regime change poisoning old
    * moments — is an exponential-decay variant: multiply n/s/q by λ per
    * batch; one line, same state, documented not implemented.) */
  def anomalyStream(
      events: DataFrame,
      threshold: Double = 2.5,
      minCount: Long = 30,
      watermark: String = "10 seconds"): DataFrame = {
    keyedRows[(String, Long, Double, Long)](events, Some(watermark))(
        col("event_type"), col("event_id").cast("long"),
        col("value").cast("double"), col("ts_us"))
      .fold(_._1) { (grp, rows, state: GroupState[MomentState]) =>
          val st = state.getOption.getOrElse(MomentState(0L, 0.0, 0.0))
          // sort by event time (micros — ms ties of µs-distinct events
          // would fall to the id tie-break): deterministic fold order
          val batch = rows.toArray.sortBy(r => (r._4, r._2))
          val out = List.newBuilder[Anomaly]
          if (st.n >= minCount) {
            val mean = st.s / st.n
            val varr = (st.q - st.s * st.s / st.n) / (st.n - 1)
            val sd = math.sqrt(varr)
            if (sd > 0) batch.foreach { case (_, id, v, _) =>
              val z = (v - mean) / sd
              if (math.abs(z) > threshold) out += Anomaly(grp, id, v, z)
            }
          }
          val folded = batch.foldLeft(st) { case (m, (_, _, v, _)) =>
            MomentState(m.n + 1, m.s + v, m.q + v * v)
          }
          state.update(folded)
          out.result().iterator
      }
  }

  /** S16 (r11) — streaming heavy hitters: the real-time form of the
    * batch q99 skew report, under a HARD memory bound. Misra–Gries
    * with k counters per group: every key with true frequency
    * > n/(k+1) is GUARANTEED present (no false negatives), and each
    * surviving counter is a lower bound on its key's true count with
    * error ≤ (n − Σcounters)/(k+1) ≤ n/(k+1). That inequality is the
    * whole point: q99 needs a full count aggregation over the stream
    * history; this holds k longs per group FOREVER, at any stream
    * length — the sketch class (with count-min / space-saving) that
    * makes "top users right now" answerable in-stream at 100 TB/day.
    *
    * Emission: one summary row per group per micro-batch (the updated
    * sketch after folding the batch) — Append with the batch's rows
    * self-contained, sorted by (count desc, id) for determinism.
    * Decrement ties are resolved deterministically (all counters
    * decrement together — the classic algorithm has no tie choice).
    * Merging shard sketches (the multi-executor read path) is counter
    * addition + the same decrement, documented on the batch side.
    *
    * StreamingSpec pins the no-false-negative guarantee, the exact
    * lower-bound arithmetic on a scripted stream, and cross-batch
    * state carry. */
  def heavyHittersStream(
      events: DataFrame,
      k: Int = 8,
      watermark: String = "10 seconds"): DataFrame = {
    keyedRows[(String, Long, Long)](events, Some(watermark))(
        col("event_type"), col("user_id").cast("long"), col("ts_us"))
      .fold(_._1) { (grp, rows, state: GroupState[MgState]) =>
          val m = scala.collection.mutable.LongMap[Long]()
          val st = state.getOption.getOrElse(MgState(Array.empty, Array.empty, 0L))
          st.ids.zip(st.counts).foreach { case (id, c) => m(id) = c }
          var n = st.n
          // deterministic fold order (event time in micros, then key)
          rows.toArray.sortBy(r => (r._3, r._2))
            .foreach { case (_, id, _) =>
            n += 1
            if (m.contains(id)) m(id) += 1
            else if (m.size < k) m(id) = 1
            else {
              // decrement ALL counters; drop the zeroed ones
              m.keys.toArray.foreach { kk =>
                val c = m(kk) - 1
                if (c == 0) m.remove(kk) else m(kk) = c
              }
            }
          }
          val sorted = m.toArray.sortBy { case (id, c) => (-c, id) }
          state.update(MgState(sorted.map(_._1), sorted.map(_._2), n))
          Iterator.single(MgSummary(grp, n, sorted.map(_._1), sorted.map(_._2)))
      }
  }

  /** S17 (r11) — streaming trend fit: the real-time form of the batch
    * q115 regression — per group, maintain running least-squares
    * moments (n, Σx, Σy, Σx², Σy², Σxy: seven numbers of state) and
    * emit the updated slope/intercept after each micro-batch. x is
    * seconds since the group's FIRST event (anchoring keeps x² small
    * and the fit translation-invariant); y is the event value. The
    * moment update is associative and the batch fold is sorted by
    * (event-time micros, id), so results are deterministic for a given
    * batch partitioning of the stream; fits only emit once n ≥ 2 and
    * x has spread (vertical data has no slope).
    *
    * This is drift DETECTION wiring: a deployment alarms on slope sign
    * flips or magnitude jumps between consecutive emissions. State is
    * seven numbers per group — the S15 class; an exponential-decay
    * variant (multiply all moments by λ per batch) handles regime
    * changes, same state, documented not implemented. */
  def trendStream(
      events: DataFrame,
      watermark: String = "10 seconds"): DataFrame = {
    keyedRows[(String, Long, Double, Long)](events, Some(watermark))(
        col("event_type"), col("event_id").cast("long"),
        col("value").cast("double"), col("ts_us"))
      .fold(_._1) { (grp, rows, state: GroupState[TrendState]) =>
          val batch = rows.toArray.sortBy(r => (r._4, r._2))
          if (batch.isEmpty) Iterator.empty
          else {
            val st0 = state.getOption.getOrElse(
              TrendState(0L, batch.head._4 / 1000000L, 0, 0, 0, 0, 0))
            val st = batch.foldLeft(st0) { case (m, (_, _, v, tu)) =>
              val x = (tu / 1000000L - m.x0).toDouble
              TrendState(m.n + 1, m.x0, m.sx + x, m.sy + v,
                m.sxx + x * x, m.syy + v * v, m.sxy + x * v)
            }
            state.update(st)
            val varX = st.n * st.sxx - st.sx * st.sx
            if (st.n >= 2 && varX > 0) {
              val slope = (st.n * st.sxy - st.sx * st.sy) / varX
              Iterator.single(TrendFit(grp, st.n, slope,
                (st.sy - slope * st.sx) / st.n))
            } else Iterator.empty
          }
      }
  }

  /** S18 (r11) — streaming journey transitions: the real-time form of
    * the batch q123 (`Relational.transitions`) — emit each per-user
    * (from → to) event transition as it happens; the live transition
    * matrix is then one ordinary streaming aggregation downstream.
    *
    * Semantics: the state is the per-user ANCHOR — the last event in
    * the (tsu, event_id) total order, the same order the batch LEAD
    * chain uses. Each micro-batch's rows sort by that order first, so
    * intra-batch disorder is invisible; under per-user in-order
    * delivery across batches (Kafka key-partitioning) the emitted
    * multiset EQUALS the batch matrix, pinned by the real-fixture
    * parity test. A cross-batch regression (an event older than the
    * anchor) cannot retro-edit an emitted transition — state holds no
    * event buffer — so it is dropped, the documented at-once tradeoff
    * (the S14 class).
    *
    * Scale posture: state is ONE fixed-size record per live user,
    * evicted by EventTimeTimeout once the user has been idle past
    * `idleGapUs` behind the watermark; after eviction a returning user
    * starts a new chain (no synthetic transition across the gap —
    * exactly how a session boundary should read). */
  def transitionStream(
      events: DataFrame,
      watermark: String = "10 seconds",
      idleGapUs: Long = 3600L * 1000000): DataFrame = {
    keyedRows[(Long, String, Long, Long)](events, Some(watermark))(
        col("user_id").cast("long"), col("event_type"),
        col("event_id").cast("long"), col("ts_us"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[TransitionAnchor]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var anchor = state.getOption.orNull
            val out = Vector.newBuilder[Transition]
            rows.toArray.sortBy(r => (r._4, r._3)).foreach { case (_, et, eid, tsu) =>
              if (anchor == null || !stale(tsu, eid, anchor.tsu, anchor.eventId)) {
                if (anchor != null)
                  out += Transition(uid, anchor.eventType, et, anchor.tsu, tsu)
                anchor = TransitionAnchor(tsu, eid, et)
              }
            }
            state.update(anchor)
            armTimeout(state, anchor.tsu / 1000 + idleGapUs / 1000)
            out.result().iterator
          }
      }
  }

  /** S19 (r11) — streaming last-touch attribution: the real-time form
    * of the batch q124 (`Relational.lastTouch`) — each conversion
    * event emits its channel credit AS IT HAPPENS: the latest
    * preceding touch by the same user inside the lookback horizon, or
    * 'direct' if none. The live credit report is one ordinary
    * streaming aggregation downstream.
    *
    * Semantics: state is the per-user last TOUCH in the (tsu,
    * event_id) total order — under in-order per-user delivery the
    * anchor IS the batch row_number pick, so the emitted multiset
    * EQUALS q124's per-conversion credits (real-fixture parity test).
    * Intra-batch rows sort by event time first; a conversion and touch
    * at the same instant resolve exactly like batch (tt < ct strict).
    * Stale cross-batch events are dropped (the S18 tradeoff).
    *
    * Scale posture: ONE fixed-size record per live user; idle users
    * evict once the lookback horizon passes the watermark — a touch
    * older than the horizon can never be credited, so eviction is
    * lossless (a conversion after it reads 'direct' either way). */
  def attributionStream(
      events: DataFrame,
      conversionType: String = "purchase",
      lookbackUs: Long = 7L * 86400000000L,
      watermark: String = "10 seconds"): DataFrame = {
    keyedRows[(Long, String, Long, Long)](events, Some(watermark))(
        col("user_id").cast("long"), col("event_type"),
        col("event_id").cast("long"), col("ts_us"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[TouchAnchor]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var anchor = state.getOption.orNull
            var lastTsu = anchor match { case null => Long.MinValue; case a => a.tsu }
            val out = Vector.newBuilder[Credit]
            rows.toArray.sortBy(r => (r._4, r._3)).foreach { case (_, et, eid, tsu) =>
              if (et == conversionType) {
                val ch =
                  if (anchor != null && anchor.tsu < tsu &&
                      anchor.tsu >= tsu - lookbackUs) anchor.channel
                  else "direct"
                out += Credit(uid, ch, tsu, eid)
                if (tsu > lastTsu) lastTsu = tsu
              } else if (tsu > lastTsu ||
                  (anchor != null && tsu == anchor.tsu && eid > anchor.eventId)) {
                // a touch advances the anchor only forward in the total
                // order; stale (older-than-seen) events are dropped
                anchor = TouchAnchor(tsu, eid, et)
                lastTsu = tsu
              }
            }
            if (anchor != null) state.update(anchor)
            val horizonBase = if (anchor != null) anchor.tsu / 1000
              else state.getCurrentWatermarkMs()
            armTimeout(state, horizonBase + lookbackUs / 1000)
            out.result().iterator
          }
      }
  }

  /** S10 — arbitrary stateful processing on the keyed event-time fold
    * (SURVEY §2.4's custom-state row — the semantics session_window
    * can't express: a gap-split session that EMITS each closed session
    * exactly once, with per-key state the operator owns). Per user:
    * events extend the open session; a gap > `gapMs` closes it and
    * emits; an event-time timeout (watermark passing last event + gap)
    * closes an idle session without needing another event for that key.
    *
    * Scale posture: state is one fixed-size record per ACTIVE key (not
    * per event), keyed-partitioned by user — at 1000 executors each
    * holds |active users|/1000 records; timeouts evict idle keys so
    * state does not grow with stream age. Output is Append — safe for
    * any sink. */
  def statefulSessions(events: DataFrame, gapMs: Long = 30000L,
      watermark: String = "10 seconds"): DataFrame = {
    keyedRows[(Long, Long)](events, Some(watermark))(
        col("user_id").cast("long"), col("ts_us"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[UserSessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get; state.remove()
            Iterator.single(ClosedSession(uid, st.nEvents, st.startMs, st.lastMs))
          } else {
            // this machine counts in ms: floorDiv is the µs → ms floor
            val times = rows.map(r => Math.floorDiv(r._2, 1000L)).toArray.sorted
            var closed = List.empty[ClosedSession]
            var st = state.getOption.orNull
            times.foreach { t =>
              if (st == null) st = UserSessionState(1, t, t)
              else if (t - st.lastMs > gapMs) {
                closed ::= ClosedSession(uid, st.nEvents, st.startMs, st.lastMs)
                st = UserSessionState(1, t, t)
              } else
                st = UserSessionState(st.nEvents + 1, math.min(st.startMs, t), t)
            }
            state.update(st)
            armTimeout(state, st.lastMs + gapMs)
            closed.reverse.iterator
          }
      }
  }

  /** S20 (r11) — streaming cohort retention: the real-time form of the
    * batch q102 (`Relational.retention`) — each user emits one row per
    * NEW active day: (cohort_day, active_day, offset). The live cohort
    * curve (q102's countDistinct per cohort × offset) is one ordinary
    * streaming aggregation downstream, because rows are already
    * distinct per (user, day).
    *
    * Semantics: cohort = the user's first day in arrival order (under
    * per-user in-order delivery, the batch min — real-fixture parity
    * test). A day already emitted never re-emits (the batch DISTINCT
    * user-day); a cross-batch stale day earlier than the cohort day
    * cannot re-cohort and is dropped (the S18/S19 stale tradeoff);
    * offsets beyond `horizonDays` are dropped — the curve is declared
    * to end there.
    *
    * Scale posture: per-user state is cohortDay + a floor + the seen
    * days within `reorderDays` of the max — FIXED size regardless of
    * stream age or user lifetime (a raw seen-set would grow by one int
    * per active day forever — the leak this encoding exists to avoid).
    * Idle users evict once the watermark passes their horizon; past-
    * horizon rows are dropped anyway, so eviction is lossless — the
    * S19 argument. */
  def retentionStream(
      events: DataFrame,
      horizonDays: Int = 30,
      reorderDays: Int = 7,
      watermark: String = "10 seconds"): DataFrame = {
    keyedRows[(Long, Long)](events, Some(watermark))(
        col("user_id").cast("long"), col("ts_us"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[RetentionState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val days = rows.map(r => (Math.floorDiv(r._2, 1000L) / 86400000L).toInt)
              .toArray.sorted
            var st = state.getOption.getOrElse {
              val c = days.head // first arrival defines the cohort
              RetentionState(c, c - 1, Array.empty)
            }
            val out = Vector.newBuilder[Activity]
            days.foreach { d =>
              val fresh = d > st.floorDay && !st.recent.contains(d)
              val off = d - st.cohortDay
              if (fresh && off >= 0 && off <= horizonDays) {
                out += Activity(uid, st.cohortDay, d, off)
                val rec = (st.recent :+ d).sorted
                val floor = math.max(st.floorDay, rec.last - reorderDays)
                // collapse everything ≤ floor into the floor marker
                st = RetentionState(st.cohortDay, floor, rec.filter(_ > floor))
              }
            }
            state.update(st)
            val lastMs = (st.floorDay.toLong + reorderDays) * 86400000L
            armTimeout(state, lastMs + horizonDays.toLong * 86400000L)
            out.result().iterator
          }
      }
      .select(col("user_id"),
        date_add(lit("1970-01-01").cast("date"), col("cohort_day_ed")).as("cohort_day"),
        date_add(lit("1970-01-01").cast("date"), col("active_day_ed")).as("active_day"),
        col("offset_days").cast("long").as("offset_days"))
  }

  /** Reference statistics for S22: per-group decile bounds, smoothed
    * reference proportions and RAW per-bin counts. Bounds come from the
    * same grouped `percentile_disc` aggregation `Relational.psiDrift`
    * uses (ANSI: smallest v with cume_dist ≥ p) and bin counts from one
    * conditional-sum aggregation over the broadcast bounds — the
    * reference frame is never collected; only the groups × bins stats
    * frame (KBs) reaches the driver, so a 100 TB reference window is a
    * two-agg Spark job, not a driver OOM. The smoothing matches
    * `psiDrift` exactly so the streamed PSI is the same statistic; the
    * raw counts let `psiStream` skip bins empty on BOTH sides, exactly
    * as the batch (group, bin) count frame omits them. */
  def psiReference(ref: DataFrame, groupCol: String, valCol: String,
      nBins: Int = 10): Map[String, (Array[Double], Array[Double], Array[Long])] = {
    val ps = (1 until nBins).map(_.toDouble / nBins)
    val base = ref.select(col(groupCol).cast("string").as("g"),
      col(valCol).cast("double").as("v"))
    val bexprs = ps.zipWithIndex.map { case (p, i) =>
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY v)").as(s"b$i")
    }
    val bounds = base.groupBy("g").agg(bexprs.head, bexprs.tail: _*)
    val binCol = ps.indices.map(i =>
      when(col("v") > col(s"b$i"), 1).otherwise(0)) // strict >, q135 doctrine
      .reduce(_ + _)
    val cexprs = (0 until nBins).map(i =>
      sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"c$i"))
    base.join(broadcast(bounds), Seq("g"))
      .withColumn("bin", binCol)
      .groupBy("g")
      .agg(cexprs.head, cexprs.tail: _*)
      .join(broadcast(bounds), Seq("g"))
      .collect() // groups × (bins + bounds) rows only — KBs
      .map { r =>
        val counts = (0 until nBins).map(i => r.getAs[Long](s"c$i")).toArray
        val bnds = ps.indices.map(i => r.getAs[Double](s"b$i")).toArray
        val n = counts.sum.toDouble
        val props = counts.map(c => (c + 0.5) / (n + 0.5 * nBins))
        r.getAs[String]("g") -> ((bnds, props, counts))
      }.toMap
  }

  /** S22 (r11) — streaming PSI drift: the real-time form of the batch
    * q152 (`Relational.psiDrift`) — per tumbling event-time window and
    * group, the Population Stability Index of the window's value
    * distribution against fixed reference statistics (from
    * `psiReference`, broadcast as plan literals). The alert predicate
    * (psi > 0.25 → page someone) is one filter downstream.
    *
    * Shape: ONE windowed aggregation whose state is nBins conditional
    * counters per (window, group) — no custom state store, no second
    * stateful operator (the PSI fold runs over the nBins agg OUTPUTS
    * as an explicit left-to-right column chain, stateless and
    * deterministic, so chained-stateful-agg restrictions never
    * apply). Works identically on a batch frame (the golden test pins
    * streamed == `Relational.psiDrift` on the same split). */
  def psiStream(events: DataFrame, groupCol: String, valCol: String,
      ref: Map[String, (Array[Double], Array[Double], Array[Long])],
      size: String = "1 day", watermark: String = "10 seconds",
      nBins: Int = 10): DataFrame = {
    val groups = ref.keys.toSeq.sorted
    def binOf(g: String): org.apache.spark.sql.Column = {
      val (bounds, _, _) = ref(g)
      bounds.map(b => when(col(valCol) > b, 1).otherwise(0))
        .reduce(_ + _) + 1
    }
    val binCol = groups.tail.foldLeft(
      when(col(groupCol) === groups.head, binOf(groups.head))) {
      (acc, g) => acc.when(col(groupCol) === g, binOf(g))
    }
    val base = (if (events.isStreaming) events.withWatermark("ts", watermark)
                else events)
      .withColumn("bin", binCol)
      .filter(col("bin").isNotNull) // groups absent from the reference
    val aggs = (1 to nBins).map(i =>
      sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"c$i"))
    val counts = base
      .groupBy(window(col("ts"), size), col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
    val n = (1 to nBins).map(i => col(s"c$i")).reduce(_ + _)
    def paOf(i: Int): org.apache.spark.sql.Column = groups.tail.foldLeft(
      when(col(groupCol) === groups.head, lit(ref(groups.head)._2(i - 1)))) {
      (acc, g) => acc.when(col(groupCol) === g, lit(ref(g)._2(i - 1)))
    }
    // a bin empty on BOTH sides never appears in psiDrift's (group,
    // bin) count frame, so its term is absent from the batch fold —
    // mirror that by contributing an exact 0.0 (x + 0.0 == x) when the
    // reference count AND the window count are both zero
    def refZeroOf(i: Int): org.apache.spark.sql.Column = groups.tail.foldLeft(
      when(col(groupCol) === groups.head, lit(ref(groups.head)._3(i - 1) == 0L))) {
      (acc, g) => acc.when(col(groupCol) === g, lit(ref(g)._3(i - 1) == 0L))
    }
    val psi = (1 to nBins).map { i =>
      val pa = paOf(i)
      val pb = (col(s"c$i").cast("double") + lit(0.5d)) /
        (n.cast("double") + lit(0.5d * nBins))
      when(refZeroOf(i) && col(s"c$i") === lit(0L), lit(0d))
        .otherwise((pa - pb) * log(pa / pb))
    }.reduce(_ + _) // explicit left chain — deterministic fold order
    counts
      .select(col("window.start").as("ws"), col(groupCol),
        n.as("n_window"), round(psi, 6).as("psi"))
  }

  /** S25 (r11) — streaming latency/SLO percentile bands: per tumbling
    * window and group, approximate p50/p95/p99 via `approx_percentile`
    * — Spark's Greenwald–Khanna-class MERGEABLE sketch, the correct
    * streaming tier (an exact percentile needs the window's full value
    * multiset in state; the sketch keeps bounded state per (window,
    * group) and merges across partial aggregations — q52's 100 TB
    * argument applied to stream state). Accuracy knob: within
    * 1/accuracy rank error (q52's contract); the batch q171 is the
    * exact anchor, and the parity test bounds the sketch's rank error
    * against it on identical input. */
  def percentileBandStream(events: DataFrame, groupCol: String,
      valCol: String, size: String = "1 day",
      watermark: String = "10 seconds", accuracy: Int = 10000): DataFrame =
    (if (events.isStreaming) events.withWatermark("ts", watermark) else events)
      .groupBy(window(col("ts"), size), col(groupCol))
      .agg(count(lit(1)).as("n"),
        expr(s"approx_percentile($valCol, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile($valCol, 0.95, $accuracy)").as("p95"),
        expr(s"approx_percentile($valCol, 0.99, $accuracy)").as("p99"))
      .select(col("window.start").as("ws"), col(groupCol),
        col("n"), col("p50"), col("p95"), col("p99"))

  /** S28 (r12) — streaming windowed cardinality: distinct keys per
    * tumbling window via approx_count_distinct (HyperLogLog++ — the
    * MERGEABLE sketch tier; q141's argument applied to stream state:
    * an exact windowed distinct carries the window's full key set in
    * the store, the sketch keeps fixed registers per window and merges
    * across partial aggregations). `rsd` is the relative-standard-
    * deviation knob; the parity test bounds the sketch against the
    * exact batch count on identical input. */
  def distinctStream(events: DataFrame, keyCol: String,
      size: String = "1 day", watermark: String = "10 seconds",
      rsd: Double = 0.02): DataFrame =
    (if (events.isStreaming) events.withWatermark("ts", watermark)
     else events)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col(keyCol), rsd).as("n_distinct_approx"))
      .select(col("window.start").as("ws"), col("n_events"),
        col("n_distinct_approx"))

  /** S30 (r12) — streaming binned KS drift: the real-time companion of
    * the batch q185 (`Relational.ksDrift`), completing the streaming
    * drift family (S22 PSI = binned shape, S24 entropy = label balance,
    * S30 KS = CDF distance). Per tumbling window and group, the
    * Kolmogorov–Smirnov distance between the window's value CDF and a
    * fixed reference CDF, both EVALUATED AT the reference decile
    * boundaries — the same `psiReference` stats S22 broadcasts, no new
    * reference pass. Binning is what makes it streamable (the exact
    * sup needs the window's full value multiset in state; boundary
    * evaluation needs nBins counters per (window, group)), and the
    * binned statistic is a deterministic LOWER bound of the exact D:
    * D̂ = max_i |F_ref(b_i) − F_win(b_i)| ≤ sup_x |F_ref − F_win|,
    * with equality whenever the shift is visible at a boundary (the
    * contract test pins both). Shape: ONE windowed aggregation, the
    * max an explicit stateless greatest() over the cumulative-count
    * columns — no custom state, no second stateful operator. */
  def ksStream(events: DataFrame, groupCol: String, valCol: String,
      ref: Map[String, (Array[Double], Array[Double], Array[Long])],
      size: String = "1 day", watermark: String = "10 seconds",
      nBins: Int = 10): DataFrame = {
    val groups = ref.keys.toSeq.sorted
    def binOf(g: String): org.apache.spark.sql.Column = {
      val (bounds, _, _) = ref(g)
      bounds.map(b => when(col(valCol) > b, 1).otherwise(0))
        .reduce(_ + _) + 1
    }
    val binCol = groups.tail.foldLeft(
      when(col(groupCol) === groups.head, binOf(groups.head))) {
      (acc, g) => acc.when(col(groupCol) === g, binOf(g))
    }
    val base = (if (events.isStreaming) events.withWatermark("ts", watermark)
                else events)
      .withColumn("bin", binCol)
      .filter(col("bin").isNotNull) // groups absent from the reference
    val aggs = (1 to nBins).map(i =>
      sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"c$i"))
    val counts = base
      .groupBy(window(col("ts"), size), col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
    val n = (1 to nBins).map(i => col(s"c$i")).reduce(_ + _)
    // F_ref(b_i) as a per-group plan literal: exact long cumulatives
    // over the SAME strict-> binning the window side uses, one driver-
    // side IEEE divide each — identical doubles on every executor
    def cumRef(g: String, i: Int): Double = {
      val c = ref(g)._3
      c.take(i).sum.toDouble / c.sum
    }
    def cumRefOf(i: Int): org.apache.spark.sql.Column = groups.tail.foldLeft(
      when(col(groupCol) === groups.head, lit(cumRef(groups.head, i)))) {
      (acc, g) => acc.when(col(groupCol) === g, lit(cumRef(g, i)))
    }
    val ds = (1 until nBins).map { i =>
      val cw = (1 to i).map(j => col(s"c$j")).reduce(_ + _)
      abs(cumRefOf(i) - cw.cast("double") / n.cast("double"))
    }
    counts.select(col("window.start").as("ws"), col(groupCol),
      n.as("n_window"), round(greatest(ds: _*), 6).as("ks_d"))
  }

  /** S32 (r12) — streaming conversion-lag tracking: the real-time form
    * of the batch q205 (`Relational.conversionLag`) — per user, the
    * FIRST `fromType` event arms the state; the first `toType` event at
    * or after it emits (user, t0, t1, lag) EXACTLY ONCE, while the
    * conversion is happening (the batch form answers tomorrow). The
    * q205 semantics carry over precisely: pre-signup purchases are
    * ignored (they arrive before the state is armed, or fail the
    * t1 ≥ t0 filter inside a batch), later purchases don't re-emit.
    * Per-batch rows fold in (event-time, type-priority) order — a
    * same-batch signup+purchase pair converts with exact lag (signup
    * sorts first on ties, mirroring the batch ≥). State is two fields
    * per armed user; converted users keep a tombstone so duplicates
    * can't re-fire — the eviction horizon (evict converted/idle keys
    * one window past the watermark, the S14 pattern) is the documented
    * knob when user cardinality demands it. Downstream cohort/decile
    * aggregation is a stateless windowed agg over these emissions. */
  def conversionLagStream(events: DataFrame, fromType: String,
      toType: String, watermark: String = "10 seconds"): DataFrame = {
    keyedRows[(Long, String, Long)](events, Some(watermark),
        where = col("event_type").isin(fromType, toType))(
        col("user_id").cast("long"), col("event_type"), col("ts_us"))
      .fold(_._1) { (uid, rows, state: GroupState[ConvState]) =>
          var st = state.getOption.getOrElse(ConvState(-1L, converted = false))
          // event-time order; the from-type wins timestamp ties so a
          // same-instant pair arms then converts (lag 0), like batch ≥
          val evs = rows.toArray
            .map { case (_, et, tu) => (tu, if (et == fromType) 0 else 1) }
            .sortBy(identity)
          var out = List.empty[ConvHit]
          evs.foreach { case (tm, kind) =>
            if (kind == 0) {
              if (st.t0 < 0) st = ConvState(tm, st.converted)
            } else if (st.t0 >= 0 && !st.converted && tm >= st.t0) {
              out ::= ConvHit(uid, st.t0, tm, (tm - st.t0) / 1000000.0)
              st = ConvState(st.t0, converted = true)
            }
          }
          state.update(st)
          out.reverse.iterator
      }
  }

  /** S31 (r12) — streaming windowed Count-Min frequency estimates for
    * FIXED probe keys: the sketch-tier complement of S16's Misra–Gries
    * (MG discovers the top-k; CMS answers "how often did THIS key
    * occur in the window" with the never-under / ≤ true + εN
    * guarantee, for keys known up front — watched accounts, canary
    * ids, SLO-contract customers). State is ONE 64 KB CmsBuild buffer
    * per window (the Aggregator is partial-mergeable, so it composes
    * with streaming aggregation exactly like approx_count_distinct's
    * HLL in S28) — never a per-key counter map; probe hashes are plan
    * literals computed once. */
  def cmsStream(events: DataFrame, keyCol: String, probes: Seq[Long],
      size: String = "1 day", watermark: String = "10 seconds"): DataFrame = {
    val build = udaf(new graft.ext.Sketches.CmsBuild)
    val windowed = (if (events.isStreaming)
        events.withWatermark("ts", watermark) else events)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("n_events"),
        build(xxhash64(col(keyCol)), lit(1L)).as("sk"))
    val probeCol = explode(array(probes.map(p => struct(
      lit(p).as("probe_key"),
      lit(org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(p, org.apache.spark.sql.types.LongType, 42L)).as("h"))): _*))
    windowed
      .select(col("window.start").as("ws"), col("n_events"),
        probeCol.as("p"), col("sk"))
      .select(col("ws"), col("n_events"), col("p.probe_key").as("probe_key"),
        graft.ext.Sketches.cmsEstimateCol(col("sk"), col("p.h")).as("est_count"))
  }

  /** S29 (r12) — streaming decontamination prefilter: the ingest-path
    * form of q61/q62's benchmark screening. A Bloom filter is built
    * ONCE from the static benchmark's fingerprint set (a distributed
    * aggregation; bit-array bytes ride to executors in the task
    * closure) and every incoming doc probes it as a narrow filter —
    * definite non-matches (the overwhelming fraction; no false
    * negatives by construction) pass straight through with ZERO joins
    * and zero stream state. Only the might-match sliver takes the
    * exact stream-static anti-join against the (distinct, broadcast)
    * benchmark keys, which also restores Bloom false positives — the
    * output is therefore EXACTLY the clean set, the bloom is pure
    * prefilter (q61's identity argument, streamed). At 100 TB/day the
    * cost is one hash probe per doc plus a join on ~fpp of the
    * stream. */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame,
      keyCol: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val bf = benchmark.select(col(keyCol).cast("string").as(keyCol))
      .stat.bloomFilter(keyCol, expectedItems, fpp)
    val might = udf((s: String) => s != null && bf.mightContainString(s))
    val keys = broadcast(
      benchmark.select(col(keyCol).cast("string").as(keyCol)).distinct())
    val pass = docs.filter(!might(col(keyCol).cast("string")))
    val restored = docs.filter(might(col(keyCol).cast("string")))
      .join(keys, Seq(keyCol), "left_anti") // bloom FPs come back
    pass.unionByName(restored)
  }

  /** S24 (r11) — streaming label-balance monitor: per tumbling window,
    * the Shannon entropy of a categorical column against a FIXED
    * category list (from the reference corpus — the q169 audit on the
    * stream): a window whose entropy collapses means one label is
    * swamping the feed (a crawler stuck on one site, a language filter
    * gone wrong). Same shape as S22: ONE windowed aggregation with k
    * conditional counters, the −Σ p·ln p fold an explicit stateless
    * column chain in category-list order (pass the list sorted to
    * match the batch operator's value-order fold — the parity test
    * does). Categories outside the list are dropped (they belong in a
    * schema-drift alert, not a silent bucket). */
  def entropyStream(events: DataFrame, catCol: String,
      categories: Seq[String], size: String = "1 day",
      watermark: String = "10 seconds"): DataFrame = {
    val k = categories.length
    require(k > 1, "entropy needs ≥ 2 categories")
    val base = (if (events.isStreaming) events.withWatermark("ts", watermark)
                else events)
      .filter(col(catCol).isin(categories: _*))
    val aggs = categories.zipWithIndex.map { case (c, i) =>
      sum(when(col(catCol) === c, 1L).otherwise(0L)).as(s"c$i")
    }
    val counts = base.groupBy(window(col("ts"), size))
      .agg(aggs.head, aggs.tail: _*)
    val n = (0 until k).map(i => col(s"c$i")).reduce(_ + _)
    val h = (0 until k).map { i =>
      val p = col(s"c$i").cast("double") / n
      when(col(s"c$i") > 0, -p * log(p)).otherwise(lit(0.0d))
    }.reduce(_ + _)
    counts.select(col("window.start").as("ws"), n.as("n_window"),
      round(h, 6).as("entropy"),
      round(h / math.log(k.toDouble), 6).as("entropy_norm"))
  }

  /** S23 (r11) — streaming integrity checksums: per tumbling window
    * and group, q142's order-free reconciliation fingerprint (row
    * count + 40-bit md5-prefix SUM over a canonical render) as an
    * ordinary windowed aggregation. Run the SAME op over a rewritten
    * pipeline's stream (or its batch backfill — the op is
    * batch/stream-agnostic, and the parity test pins streamed ≡ batch
    * on identical input) and diff the KB-sized checksum rows to catch
    * divergence window-by-window, the streaming face of q142's
    * migration audit. Sum is commutative/associative → partial-agg
    * and out-of-order safe; state per (window, group) is two longs. */
  def checksumStream(events: DataFrame, groupCol: String,
      rendered: Seq[org.apache.spark.sql.Column],
      size: String = "1 day", watermark: String = "10 seconds"): DataFrame = {
    val h = conv(substring(md5(
      concat_ws("|", rendered: _*).cast("binary")), 1, 10), 16, 10)
      .cast("long")
    (if (events.isStreaming) events.withWatermark("ts", watermark) else events)
      .withColumn("rh", h)
      .groupBy(window(col("ts"), size), col(groupCol))
      .agg(count(lit(1)).as("n"), sum("rh").as("checksum"))
      .select(col("window.start").as("ws"), col(groupCol),
        col("n"), col("checksum"))
  }

  /** S21 (r11) — streaming skip-gram co-occurrence: the real-time form
    * of the batch q138 (`Relational.skipGramPairs`) — each arriving
    * event emits one (a_type → b_type) pair per predecessor among the
    * user's last `maxSkip` events in the (tsu, event_id) total order.
    * The live co-occurrence matrix (q138's counts) is one ordinary
    * downstream aggregation.
    *
    * Semantics: state is a per-user RING of exactly the last maxSkip
    * events — the entire window the band definition needs, so under
    * per-user in-order delivery the emitted pair multiset EQUALS the
    * batch band join's (real-fixture parity test). Intra-batch rows
    * sort by (tsu, event_id) first; a cross-batch stale event (older
    * than the ring head) is dropped, the S18/S19 tradeoff.
    *
    * Scale posture: k strings + 2k longs per live user — fixed; idle
    * users evict via EventTimeTimeout after `idleGapUs` (a returning
    * user starts a fresh window — same session-boundary semantics as
    * S18's eviction, and exactly what the batch form computes if its
    * input is date-partitioned). */
  def skipGramStream(
      events: DataFrame,
      maxSkip: Int = 3,
      idleGapUs: Long = 7L * 86400000000L,
      watermark: String = "10 seconds"): DataFrame = {
    keyedRows[(Long, String, Long, Long)](events, Some(watermark))(
        col("user_id").cast("long"), col("event_type"),
        col("event_id").cast("long"), col("ts_us"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[SkipRing]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var ring = state.getOption.getOrElse(
              SkipRing(Array.empty, Array.empty, Array.empty))
            val out = Vector.newBuilder[SkipPair]
            rows.toArray.sortBy(r => (r._4, r._3)).foreach { case (_, et, eid, tsu) =>
              if (ring.tsus.isEmpty ||
                  !stale(tsu, eid, ring.tsus.last, ring.eids.last)) {
                var i = 0
                while (i < ring.types.length) {
                  out += SkipPair(uid, ring.types(i), et, tsu, eid)
                  i += 1
                }
                val from = math.max(0, ring.tsus.length - (maxSkip - 1))
                ring = SkipRing(
                  ring.tsus.drop(from) :+ tsu,
                  ring.eids.drop(from) :+ eid,
                  ring.types.drop(from) :+ et)
              }
            }
            state.update(ring)
            val lastMs = if (ring.tsus.isEmpty) state.getCurrentWatermarkMs()
              else ring.tsus.last / 1000
            armTimeout(state, lastMs + idleGapUs / 1000)
            out.result().iterator
          }
      }
  }

  /** S33 (r12) — streaming burst-rate alerts: the real-time edge of
    * the batch q213 screen (`Relational.rateAnomaly` is the profile
    * view over history; this is the "page someone NOW" view). Per key
    * and tumbling minute, an exact event count; windows at or above
    * `threshold` emit an alert row. State is one counter per (key,
    * open window) — watermark-evicted, never a per-key history — so
    * state size is active-keys × active-windows regardless of stream
    * length; the count agg is partial-aggregated map-side before the
    * key×window shuffle. Update mode: a window re-fires when late
    * in-watermark data lifts it past the threshold (alerts can only
    * escalate — counts are monotone within a window). */
  def burstStream(events: DataFrame, keyCol: String, threshold: Long,
      size: String = "1 minute",
      watermark: String = "10 seconds"): DataFrame =
    (if (events.isStreaming) events.withWatermark("ts", watermark)
     else events)
      .groupBy(col(keyCol), window(col("ts"), size))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= threshold)
      .select(col(keyCol), col("window.start").as("ws"), col("n_events"))

  /** S34 (r12) — heartbeat/liveness monitor: the ABSENCE detector the
    * windowed family can't express (S33 fires on too-MANY events; a
    * key that stops emitting produces no row for any windowed agg to
    * see — only a state TIMEOUT can observe silence). Per key, state
    * is (last event-time, count) — two longs; when event time advances
    * `silenceMs` past a key's last heartbeat with nothing arriving,
    * the timeout fires ONE liveness-lost alert and tombstones the key
    * (a later event re-arms monitoring from scratch). Event-time
    * timeouts, so replay/backfill alerts identically to live runs;
    * state is strictly bounded at 2 longs × active keys, and a dead
    * key costs nothing after its alert. */
  def heartbeatMonitor(events: DataFrame, silenceMs: Long,
      watermark: String = "10 seconds"): DataFrame = {
    keyedRows[(Long, Long)](events, Some(watermark))(
        col("user_id").cast("long"), col("ts_us"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[HbState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(HbAlert(uid, st.lastUs, st.n))
          } else {
            val prev = state.getOption.getOrElse(HbState(Long.MinValue, 0L))
            var last = prev.lastUs; var n = prev.n
            rows.foreach { case (_, tu) => if (tu > last) last = tu; n += 1 }
            state.update(HbState(last, n))
            // fire when event time passes last-seen + silence, even when
            // this key's last heartbeat is already far behind
            armTimeout(state, last / 1000L + silenceMs)
            Iterator.empty
          }
      }
  }

  /** S35 — per-key streaming EWMA smoother: every event emits its
    * smoothed level `l ← α·v + (1−α)·l` (q126 is the batch/grid form;
    * this is the per-event low-latency read a dashboard plots). Rows
    * fold in (event-time, event_id) TOTAL order within each batch; a
    * CROSS-batch regression (an event at or behind the last folded
    * anchor) is DROPPED — the recurrence is order-defined, and
    * rewriting history would mean re-emitting every point since (the
    * standard monotonic-smoother contract; the watermark bounds how
    * much can arrive late enough to be dropped). State is one double
    * + the anchor — constant per key. */
  def ewmaStream(events: DataFrame, alpha: Double,
      watermark: String = "10 seconds"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha outside (0,1]")
    keyedRows[(Long, Long, Long, Double)](events, Some(watermark))(
        col("user_id").cast("long"), col("ts_us"),
        col("event_id").cast("long"), col("value").cast("double"))
      .fold(_._1) { (uid, rows, state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(
            EwmaState(Long.MinValue, Long.MinValue, 0.0))
          val out = rows.toSeq
            .sortBy { case (_, tu, id, _) => (tu, id) }
            .flatMap { case (_, tu, id, v) =>
              if (stale(tu, id, st.tsu, st.eventId)) None // regression: drop
              else {
                val lvl = if (st.tsu == Long.MinValue) v
                          else alpha * v + (1 - alpha) * st.level
                st = EwmaState(tu, id, lvl)
                Some(EwmaPoint(uid, tu, id, v, lvl))
              }
            }
          state.update(st)
          out.iterator
      }
  }

  /** S36 — streaming CUSUM changepoint alarm (Page 1954; q195 is the
    * batch retrospective form): per key, the two one-sided statistics
    * S⁺ ← max(0, S⁺ + v − μ₀ − k) and S⁻ ← max(0, S⁻ + μ₀ − v − k)
    * accumulate in (event-time, event_id) total order; crossing `h`
    * emits ONE alarm for that side and resets it (the classic
    * restart-after-signal protocol). Late cross-batch regressions are
    * dropped under the same monotonic contract as S35. State: two
    * doubles + the anchor — constant per key regardless of stream
    * age (the batch form's whole-history window, collapsed). */
  def cusumStream(events: DataFrame, mu0: Double, slack: Double,
      threshold: Double, watermark: String = "10 seconds"): DataFrame = {
    // A negative slack would let S+ and S- cross on the SAME event; the
    // else-if below emits only the "up" alarm and leaves S- above
    // threshold un-reset (mirrors ewmaStream's alpha domain check).
    require(slack >= 0, s"slack=$slack must be >= 0")
    require(threshold > 0, s"threshold=$threshold must be > 0")
    keyedRows[(Long, Long, Long, Double)](events, Some(watermark))(
        col("user_id").cast("long"), col("ts_us"),
        col("event_id").cast("long"), col("value").cast("double"))
      .fold(_._1) { (uid, rows, state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(
            CusumState(Long.MinValue, Long.MinValue, 0.0, 0.0))
          val out = rows.toSeq
            .sortBy { case (_, tu, id, _) => (tu, id) }
            .flatMap { case (_, tu, id, v) =>
              if (stale(tu, id, st.tsu, st.eventId)) None
              else {
                var sp = math.max(0.0, st.sPos + (v - mu0 - slack))
                var sn = math.max(0.0, st.sNeg + (mu0 - v - slack))
                val alarm =
                  if (sp > threshold) {
                    val a = CusumAlarm(uid, tu, id, "up", sp); sp = 0.0; Some(a)
                  } else if (sn > threshold) {
                    val a = CusumAlarm(uid, tu, id, "down", sn); sn = 0.0; Some(a)
                  } else None
                st = CusumState(tu, id, sp, sn)
                alarm
              }
            }
          state.update(st)
          out.iterator
      }
  }

  /** Deterministic 64-bit mix (splitmix64 finalizer) — the S37 sample
    * priority. Public so the batch-parity side computes the SAME
    * ranking. */
  def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** S37 — streaming deterministic reservoir sample: per group, the k
    * events with the SMALLEST splitmix64(event_id) priority (the
    * bottom-k-by-hash rule behind the batch exact-n sampler q89 and
    * the KMV sketch): a uniform-without-replacement sample that is
    * REPLAY-STABLE — arrival order, batching, and restarts cannot
    * change it, because MEMBERSHIP depends only on the id set seen
    * (a true RNG reservoir resamples differently per run; this is the
    * reproducibility contract a training-data pipeline needs). The
    * emitted `n` counts EVENTS processed — duplicate event_ids
    * increment it even though they can never change the sample; only
    * membership, not n, carries the id-set replay guarantee. State
    * is the k (hash, id) pairs + a count — hard-bounded forever; each
    * batch emits a group's refreshed sample ONLY if it changed
    * (Update mode). Parity: after any prefix, the sample equals the
    * batch bottom-k over the same ids (pinned in StreamingSpec). */
  def reservoirStream(events: DataFrame, k: Int): DataFrame = {
    keyedRows[(String, Long)](events, None)(
        col("event_type"), col("event_id").cast("long"))
      .fold(_._1, mode = OutputMode.Update) {
        (grp, rows, state: GroupState[ReservoirState]) =>
          val prev = state.getOption.getOrElse(
            ReservoirState(Array.empty, Array.empty, 0L))
          var n = prev.n
          // (hash, id) total order; id tiebreak makes duplicates inert
          var kept = prev.hashes.zip(prev.ids)
          var changed = false
          rows.foreach { case (_, id) =>
            n += 1
            val h = mix64(id)
            if (!kept.contains((h, id))) {
              val cand = (kept :+ ((h, id))).sorted.take(k)
              if (!(cand sameElements kept)) { kept = cand; changed = true }
            }
          }
          state.update(ReservoirState(kept.map(_._2), kept.map(_._1), n))
          if (changed || prev.n == 0L)
            Iterator.single(ReservoirSample(grp, n,
              kept.sortBy(_._2).map(_._2)))
          else Iterator.empty
      }
  }

  /** S38 — streaming CDC upsert materializer (the Kafka
    * compacted-topic / Debezium-sink shape; q245 `Warehouse.cdcMerge`
    * is the batch form): per key, keep the WINNING change under
    * q245's exact total order — (version DESC, op rank D > U > I,
    * payload DESC) — and emit the key's current row whenever the
    * winner CHANGES (Update mode). A D winner emits a TOMBSTONE
    * (`deleted = true`, the compaction marker); a later higher-version
    * I/U resurrects the key.
    *
    * Replay stability is STRONGER than the S35/S36 monotonic-drop
    * contract: the winner is an associative-commutative MAX over the
    * change set, so arrival order, batching, and restarts cannot
    * change the materialized state — late lower-version changes are
    * absorbed (not dropped) by construction, with no order anchor in
    * the state at all. State: one (version, op, payload) triple per
    * key, constant regardless of stream age.
    *
    * Input columns: k (long), op ∈ I/U/D, version (long),
    * payload (string). */
  def cdcUpsertStream(changes: DataFrame,
      tombstoneRetentionUs: Option[Long] = None,
      watermark: String = "10 seconds"): DataFrame = {
    def rank(op: String): Int =
      op match { case "D" => 3; case "U" => 2; case _ => 1 }
    // Tombstone GC (r14 verdict #5): a compacted topic's state is the
    // LIVE keyspace — Kafka itself deletes tombstones past
    // `delete.retention.ms`. With `tombstoneRetentionUs` set, the
    // input must carry an event-time `ts` column (the change's log
    // append time); a key whose winner is a delete is evicted once
    // the WATERMARK passes that change's ts + retention — EVENT-time
    // retention, so replay reproduces the same evictions (a
    // processing-time TTL would evict differently per run and, under
    // the default trigger, busy-loop empty micro-batches evaluating
    // timers — measured before this design was chosen). The
    // documented consequence (identical to Kafka compaction's): a
    // change with a LOWER version arriving after GC re-materializes
    // the key instead of being absorbed — the retention horizon IS
    // the absorb-late guarantee's boundary. Default None keeps the
    // infinite-retention materialization (a compacted topic IS a
    // keyspace-sized state by semantics).
    // A change without event time (no retention, or a null ts) carries
    // Long.MinValue: it never arms the GC timer. The µs column stays
    // the bare, nullable `ts_us` (decoded as an Option): a coalesce over
    // it would drop the watermark the event-time timeout requires.
    val retained = tombstoneRetentionUs.isDefined
    keyedRows[(Long, String, Long, String, Option[Long])](changes,
        tombstoneRetentionUs.map(_ => watermark))(
        col("k").cast("long"), col("op"), col("version").cast("long"),
        col("payload"), if (retained) col("ts_us") else lit(null).cast("long"))
      .fold(_._1, if (retained) GroupStateTimeout.EventTimeTimeout
          else GroupStateTimeout.NoTimeout, OutputMode.Update) {
        (k, rows, state: GroupState[CdcState]) =>
          if (state.hasTimedOut) {
            // retention passed with the tombstone still the winner:
            // drop the key (the tombstone row was already emitted)
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption
            // winner = max under the total order; fold is order-free.
            // The winner's OWN event time rides along (exact ties take
            // the MIN ts so even a duplicated winning change resolves
            // the same under any batching) — the GC timer arms from
            // it, never from absorbed rows, so a late lower-version
            // change cannot extend the eviction horizon
            val ord = Ordering.Tuple3[Long, Int, String]
            val best = rows.foldLeft(prev) { case (acc, (_, op, v, p, tsUs)) =>
              val cand = CdcState(v, rank(op), op, p, tsUs.getOrElse(Long.MinValue))
              Some(acc.fold(cand) { a =>
                val c = ord.compare((cand.version, cand.opRank, cand.payload),
                  (a.version, a.opRank, a.payload))
                if (c > 0) cand
                else if (c == 0) a.copy(tsUs = math.min(a.tsUs, cand.tsUs))
                else a
              })
            }
            def triple(s: CdcState) = (s.version, s.opRank, s.payload)
            val out = best match {
              case Some(w) if !prev.map(triple).contains(triple(w)) =>
                state.update(w)
                Iterator.single(CdcRow(k, w.version, w.op, w.payload,
                  w.op == "D"))
              case Some(w) =>
                state.update(w); Iterator.empty
              case None => Iterator.empty
            }
            // arm eviction while the winner is a tombstone (after
            // update: a timeout cannot be set on undefined state);
            // quiet keys keep their armed timestamp between batches
            (best, tombstoneRetentionUs) match {
              case (Some(w), Some(ret)) if w.op == "D" && w.tsUs != Long.MinValue =>
                armTimeout(state, w.tsUs / 1000 + ret / 1000)
              case _ => ()
            }
            out
          }
      }
  }

  /** S39 — streaming geofence transitions (the real-time form of the
    * q246/q247 spatial tier): events carry integer point coordinates
    * (`xi`, `yi` columns alongside user_id/ts/event_id); `zones` is a
    * TINY static list of half-open boxes [xLo, xHi) × [yLo, yHi) —
    * the q237 band-dimension doctrine: it compiles into one nested
    * CASE projection (first match in list order wins; no match =
    * "outside"), so the hot path stays a narrow map with NO join
    * before the stateful operator. Per user, a transition row emits
    * whenever the resolved zone CHANGES, in (event-time, event_id)
    * total order under the S35 monotonic regression-drop contract;
    * the first event enters from "outside". State: last zone + the
    * order anchor — constant per key. */
  def geofenceStream(events: DataFrame,
      zones: Seq[(String, Long, Long, Long, Long)],
      watermark: String = "10 seconds",
      idleGapUs: Option[Long] = None): DataFrame = {
    require(zones.nonEmpty, "zones must be non-empty")
    val zoneExpr = zones.foldRight(lit("outside")) {
      case ((name, xLo, xHi, yLo, yHi), rest) =>
        when(col("xi") >= xLo && col("xi") < xHi &&
             col("yi") >= yLo && col("yi") < yHi, lit(name)).otherwise(rest)
    }
    geofenceCore(events, zoneExpr, watermark, idleGapUs)
  }

  /** S39 polygon form — the streaming face of q250
    * ([[graft.operators.Spatial.pointInPolygon]]): zones are literal
    * polygon rings resolved by the same exact-BIGINT ray-cast,
    * compiled to one nested CASE projection (first containing zone in
    * list order wins) — the hot path stays a narrow no-join map, the
    * q237/S39 doctrine, with the transition state machine unchanged. */
  def geofencePolyStream(events: DataFrame,
      zones: Seq[(String, Seq[(Long, Long)])],
      watermark: String = "10 seconds",
      idleGapUs: Option[Long] = None): DataFrame = {
    require(zones.nonEmpty, "zones must be non-empty")
    geofenceCore(events,
      graft.operators.Spatial.polyZoneExpr(zones), watermark, idleGapUs)
  }

  /** S43 — spherical geofence transitions: the lat/lon form of S39
    * (events carry integer micro-degree `la`/`lo`; zones are circle
    * geofences — center + radius metres — the shape real geofencing
    * APIs take). Membership is the defined polynomial haversine
    * ([[graft.operators.Geo.resolveCircleZones]], the q255 batch
    * form, LAYERED — each zone's hav evaluates once in small
    * codegen-friendly Projects; a single inlined CASE measured
    * ~120 µs/row on the batch q255 floor) — still a narrow no-join
    * map ahead of the unchanged transition state machine.
    *
    * CUTOVER guidance (r16): the literal zone list is the O(10) fast
    * path. For 10³+ geofences, resolve membership with a stream-static
    * join against a zone DataFrame through
    * [[graft.operators.Geo.sphericalZoneJoin]]'s banded grid (zones as
    * data — constant plan; its zone-axis curve is flat to 10⁴ zones),
    * then feed the resolved zone into this same transition state
    * machine. */
  def geofenceSphereStream(events: DataFrame,
      zones: Seq[(String, Long, Long, Double)],
      watermark: String = "10 seconds",
      idleGapUs: Option[Long] = None): DataFrame = {
    require(zones.nonEmpty, "zones must be non-empty")
    geofenceResolved(
      graft.operators.Geo.resolveCircleZones(events, zones),
      watermark, idleGapUs)
  }

  /** S49 — streaming travel-speed screen: the live q262
    * ([[graft.operators.Geo.speedAnomalies]]) — every consecutive fix
    * pair of a user scores AT ARRIVAL: hav > kz(vMax·Δt) flags a
    * teleport the instant the second fix lands (the batch form waits
    * for the window; an ingest QA gate wants the alert inline). The
    * Scala polynomial forms ([[graft.operators.Geo.havScala]] /
    * [[graft.operators.Geo.kzScala]]) are op-for-op identical to the
    * batch SQL layers, so alerts carry BIT-IDENTICAL (hav, kz) to
    * q262's rows — pinned by the parity golden.
    *
    * Matching q262's LAG semantics exactly: EVERY consecutive pair in
    * (tsu, event_id) order is compared — same-second pairs included
    * (Δt = 0 ⇒ kz = 0; identical coordinates stay silent, a
    * same-second jump flags). Stragglers at-or-below the anchor drop
    * (the S39 frontier contract). State is four longs per user;
    * DEFAULT PERSISTENT (evicting forgets the last fix and silently
    * skips one comparison on return — the S39 trade, documented);
    * opt-in `idleGapUs` evicts quiet users. */
  def speedAnomalyStream(events: DataFrame, vMax: Double,
      watermark: String = "10 seconds",
      idleGapUs: Option[Long] = None): DataFrame = {
    require(vMax > 0, s"vMax=$vMax must be positive")
    keyedRows[(Long, Long, Long, Long, Long)](events, Some(watermark))(
        col("user_id").cast("long"), col("ts_us"),
        col("event_id").cast("long"),
        col("la").cast("long"), col("lo").cast("long"))
      .fold(_._1, if (idleGapUs.isDefined) GroupStateTimeout.EventTimeTimeout
          else GroupStateTimeout.NoTimeout) {
        (uid, rows, state: GroupState[SpeedState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[SpeedAlert]
            rows.toSeq
              .map { case (_, tu, eid, la, lo) =>
                (Math.floorDiv(tu, 1000000L), eid, la, lo) }
              .sortBy { case (t, eid, _, _) => (t, eid) }
              .foreach { case (t, eid, la, lo) =>
                if (st != null && stale(t, eid, st.tsu, st.eid)) {
                  // straggler below the anchor: dropped
                } else {
                  if (st != null) {
                    val dt = t - st.tsu
                    val radius = math.min(vMax * dt.toDouble, 20015086.0)
                    val hav = graft.operators.Geo.havScala(la, lo, st.la, st.lo)
                    val kz = graft.operators.Geo.kzScala(radius)
                    if (hav > kz) out += SpeedAlert(uid, eid, dt, hav, kz)
                  }
                  st = SpeedState(t, eid, la, lo)
                }
              }
            if (st != null) {
              state.update(st)
              idleGapUs.foreach(gap => armTimeout(state, st.tsu * 1000L + gap / 1000L))
            }
            out.iterator
          }
      }
  }

  /** S48 — streaming trajectory resampling: the live q265
    * ([[graft.operators.Geo.resampleTrajectory]]). Emits one
    * interpolated position per user per grid instant, EXACTLY ONCE,
    * as soon as it is determined: a non-hit instant is bracketed the
    * moment the NEXT fix arrives (under the S39 frontier contract no
    * fix can later land between the pair), and an exact-hit instant
    * emits when its SECOND closes — the next later-second fix proves
    * no higher-event_id fix at that second is coming (q265 takes the
    * LAST fix of a tied second), or the idle timeout closes it.
    *
    * The interpolation is the IDENTICAL exact-integer form as the
    * batch operator: shifted non-negative coordinates, one
    * Math.floorDiv per axis — a replayed stream and the batch query
    * produce bit-identical grid positions (pinned by the parity
    * golden over the sf0.001 trajectory fixture).
    *
    * State: five longs per user, constant. A user idle past
    * `idleGapUs` is evicted — their next fix restarts the grid at its
    * own span, so the cross-gap interpolation the batch computes is
    * deliberately NOT emitted (the S46 session-boundary trade; set
    * the gap wide for batch parity). Stragglers at-or-below the
    * (sec, event_id) anchor are dropped. */
  def resampleStream(events: DataFrame, gridSeconds: Long,
      watermark: String = "10 seconds",
      idleGapUs: Long = 3600L * 1000000L): DataFrame = {
    require(gridSeconds > 0 && idleGapUs > 0,
      s"gridSeconds=$gridSeconds idleGapUs=$idleGapUs must be positive")
    val G = gridSeconds
    keyedRows[(Long, Long, Long, Long, Long)](events, Some(watermark))(
        col("user_id").cast("long"), col("ts_us"),
        col("event_id").cast("long"),
        col("la").cast("long"), col("lo").cast("long"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[ResampleState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[GridPoint]
          if (state.hasTimedOut) {
            val st = state.get
            if (st.tu % G == 0L && st.tu > st.lastGrid)
              out += GridPoint(uid, st.tu,
                st.las - 90000000L, st.los - 180000000L)
            state.remove()
          } else {
            var st = state.getOption.orNull
            rows.toSeq
              .map { case (_, tu, eid, la, lo) =>
                (Math.floorDiv(tu, 1000000L), eid,
                  la + 90000000L, lo + 180000000L) }
              .sortBy { case (t, eid, _, _) => (t, eid) }
              .foreach { case (t, eid, las, los) =>
                if (st == null)
                  st = ResampleState(t, eid, las, los,
                    ((t + G - 1L) / G) * G - G) // g0 − G: nothing emitted yet
                else if (stale(t, eid, st.tu, st.eid)) {
                  // cross-batch straggler below the anchor: dropped
                } else if (t == st.tu) {
                  // same second, higher event_id: the hit-candidate
                  // fix is replaced (the q265 tied-second semantics)
                  st = st.copy(eid = eid, las = las, los = los)
                } else {
                  var g = st.lastGrid + G
                  var lastG = st.lastGrid
                  while (g < t) {
                    if (g == st.tu)
                      out += GridPoint(uid, g,
                        st.las - 90000000L, st.los - 180000000L)
                    else if (g > st.tu) {
                      val den = t - st.tu
                      out += GridPoint(uid, g,
                        Math.floorDiv(st.las * (t - g) + las * (g - st.tu),
                          den) - 90000000L,
                        Math.floorDiv(st.los * (t - g) + los * (g - st.tu),
                          den) - 180000000L)
                    }
                    lastG = g
                    g += G
                  }
                  st = ResampleState(t, eid, las, los, lastG)
                }
              }
            if (st != null) {
              state.update(st)
              armTimeout(state, st.tu * 1000L + idleGapUs / 1000L)
            }
          }
          out.iterator
      }
  }

  /** S47 — streaming geo BURST detection (emerging-hotspot alerts):
    * the live sibling of q264's grid-density clusters crossed with
    * q213's rate anomaly — per 5°-class grid cell, tumbling-window
    * event counts are compared against the cell's OWN EWMA baseline,
    * and a window whose count strictly exceeds `mult`× the baseline
    * (after `warmup` closed windows, and only at `minCount`+ events —
    * the absolute support floor every burst detector needs, or a
    * single event after a quiet spell "bursts" against a decayed-to-
    * zero baseline) emits ONE alert when the watermark closes it.
    *
    * Exactness/replay stability: the baseline is an exact integer
    * EWMA in 1/256 units — ewma' = (7·ewma + 256·n) DIV 8 — and
    * windows close in strict order behind a monotone frontier, so a
    * replay produces bit-identical alerts; empty windows decay the
    * baseline by the same factor (a run of k empties applies
    * min(k, 64) decay steps — beyond 64 the factor is < 2⁻¹¹ of
    * itself, and capping bounds the sweep for a cell waking after a
    * long sleep). Alerts report the baseline AS OF the window start.
    *
    * State per cell: frontier + two longs + the in-flight window
    * counts (bounded by windows inside the watermark horizon);
    * a cell idle past `idleGapUs` is EVICTED — it forgets its
    * baseline and re-warms on return (the S39-eviction trade, here
    * the right default: a dead cell's baseline is stale anyway).
    * Late rows at-or-below the frontier are dropped (the S14/S35
    * at-once watermark contract). */
  def geoBurstStream(events: DataFrame, resMicroDeg: Long = 5000000L,
      windowSeconds: Long = 60L, mult: Long = 3L, warmup: Long = 4L,
      minCount: Long = 4L, watermark: String = "10 seconds",
      idleGapUs: Long = 3600L * 1000000L): DataFrame = {
    require(resMicroDeg > 0 && 360000000L % resMicroDeg == 0L &&
      180000000L % resMicroDeg == 0L,
      s"res=$resMicroDeg µdeg must divide both 180e6 and 360e6")
    require(windowSeconds > 0 && mult >= 1 && warmup >= 1 && minCount >= 1 &&
      idleGapUs > 0,
      s"bad params: win=$windowSeconds mult=$mult warmup=$warmup gap=$idleGapUs")
    val winUs = windowSeconds * 1000000L
    val wide = 360000000L / resMicroDeg + 1L
    keyedRows[(Long, Long)](events, Some(watermark))(
        expr(s"((la + 90000000) DIV $resMicroDeg) * $wide + " +
          s"(lo + 180000000) DIV $resMicroDeg").as("cell"),
        col("ts_us"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (cell, rows, state: GroupState[BurstState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[BurstAlert]
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // sweep: close every window whose end the watermark passed,
          // in order, updating the baseline (empty runs decay)
          def closeUpTo(st0: BurstState): BurstState = {
            val maxClose = wmUs / winUs - 1L
            if (maxClose <= st0.lastClosed) return st0
            var ewma = st0.ewmaQ
            var warm = st0.warm
            var cursor = st0.lastClosed
            def decay(k: Long): Unit = {
              var i = 0L
              val kk = math.min(k, 64L)
              while (i < kk) { ewma = ewma * 7L / 8L; i += 1L }
              warm = math.min(warm + k, Long.MaxValue / 2)
            }
            val (close, keep) = st0.ws.zip(st0.ns).partition(_._1 <= maxClose)
            close.sortBy(_._1).foreach { case (w, n) =>
              decay(w - cursor - 1L)
              if (warm >= warmup && n >= minCount && n * 256L > mult * ewma)
                out += BurstAlert(cell, w * windowSeconds, n, ewma)
              ewma = (ewma * 7L + n * 256L) / 8L
              warm += 1L
              cursor = w
            }
            decay(maxClose - cursor)
            BurstState(maxClose, warm, ewma, st0.lastSeenUs,
              keep.map(_._1), keep.map(_._2))
          }
          var st = state.getOption.orNull
          if (!state.hasTimedOut) {
            val evs = rows.map(_._2).toArray
            if (st == null && evs.nonEmpty)
              st = BurstState(evs.min / winUs - 1L, 0L, 0L, Long.MinValue,
                Array.empty, Array.empty)
            if (st != null && evs.nonEmpty) {
              val m = scala.collection.mutable.LongMap.empty[Long]
              st.ws.indices.foreach(i => m(st.ws(i)) = st.ns(i))
              var seen = st.lastSeenUs
              evs.foreach { tu =>
                val w = tu / winUs
                if (w > st.lastClosed) { // frontier guard
                  m(w) = m.getOrElse(w, 0L) + 1L
                  if (tu > seen) seen = tu
                }
              }
              val ks = m.keys.toArray
              st = BurstState(st.lastClosed, st.warm, st.ewmaQ, seen,
                ks, ks.map(m))
            }
          }
          if (st != null) {
            st = closeUpTo(st)
            if (st.ws.isEmpty && wmUs >= st.lastSeenUs + idleGapUs &&
                st.lastSeenUs != Long.MinValue) {
              state.remove()
            } else {
              state.update(st)
              // wake when the earliest in-flight window can close, or
              // at the eviction horizon for an empty cell
              val nextUs =
                if (st.ws.nonEmpty) (st.ws.min + 1L) * winUs
                else st.lastSeenUs + idleGapUs
              armTimeout(state, nextUs / 1000L)
            }
          }
          out.iterator
      }
  }

  /** S46 — streaming zone DWELL visits: the live form of q258
    * ([[graft.operators.Geo.q258]]'s gaps-and-islands over resolved
    * circle zones). One output row per completed IN-ZONE visit —
    * emitted EXACTLY ONCE when the run CLOSES: either a later event
    * resolves to a different zone (the next run's first event is the
    * proof the old run ended), or the user goes idle past
    * `idleGapUs` (EventTimeTimeout). Unlike S39/S43, the idle bound
    * is REQUIRED here, not opt-in: live dwell is undecidable without
    * one — "still inside, quiet" and "gone" are indistinguishable
    * until the next fix — so the operator takes the session-boundary
    * reading explicitly. "outside" runs close silently.
    *
    * Ordering contract (the S39 frontier class): events must arrive
    * per user in event-time order ACROSS batches — cross-batch
    * stragglers at-or-below the state's (tsu, event_id) anchor are
    * dropped; intra-batch disorder is sorted away. Zone resolution is
    * the layered q255 polynomial column chain — a narrow no-join map
    * ahead of the single stateful operator; for 10³+ zones resolve
    * through the S45 grid join instead and feed the same machine (the
    * S43 cutover note).
    *
    * State: one run per key (a string + four longs) — constant
    * regardless of stream age; removed on idle eviction, so quiet
    * users cost nothing. Batch parity: with the idle gap wider than
    * every intra-run silence, enter/exit truncated to seconds equal
    * q258's rows exactly (pinned by the golden on the sf0.001
    * trajectory fixture). */
  def dwellStream(events: DataFrame,
      zones: Seq[(String, Long, Long, Double)],
      watermark: String = "10 seconds",
      idleGapUs: Long = 3600L * 1000000L): DataFrame = {
    require(zones.nonEmpty, "zones must be non-empty")
    require(idleGapUs > 0, s"idleGapUs=$idleGapUs must be positive")
    keyedRows[(Long, Long, Long, String)](
        graft.operators.Geo.resolveCircleZones(events, zones), Some(watermark))(
        col("user_id").cast("long"), col("ts_us"),
        col("event_id").cast("long"), col("zone"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[DwellState]) =>
          dwellRuns(uid, byEventTime(rows), state, idleGapUs)
      }
  }

  /** A resolved-zone machine's events — (ts_us, event_id, zone) — in
    * the (ts_us, event_id) fold order. */
  private def byEventTime(rows: Iterator[(Long, Long, Long, String)])
      : Seq[(Long, Long, String)] =
    rows.toSeq.map { case (_, tu, id, z) => (tu, id, z) }
      .sortBy { case (tu, id, _) => (tu, id) }

  /** The S46 run machine (S46 and S50): `evs` in (ts_us, event_id)
    * order extend or close the user's zone run; a closed in-zone run,
    * or one the idle timeout ends, emits its visit. */
  private def dwellRuns(uid: Long, evs: Seq[(Long, Long, String)],
      state: GroupState[DwellState], idleGapUs: Long): Iterator[DwellVisit] =
    if (state.hasTimedOut) {
      val st = state.get
      state.remove()
      if (st.zone != "outside")
        Iterator.single(DwellVisit(uid, st.zone, st.enterUs, st.lastUs, st.n))
      else Iterator.empty
    } else {
      var stOpt = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[DwellVisit]
      evs.foreach { case (tu, id, z) =>
        stOpt match {
          case Some(st) if stale(tu, id, st.lastUs, st.lastEvent) => () // straggler
          case Some(st) if st.zone == z =>
            stOpt = Some(st.copy(lastUs = tu, lastEvent = id, n = st.n + 1))
          case Some(st) =>
            if (st.zone != "outside")
              out += DwellVisit(uid, st.zone, st.enterUs, st.lastUs, st.n)
            stOpt = Some(DwellState(z, tu, tu, id, 1L))
          case None =>
            stOpt = Some(DwellState(z, tu, tu, id, 1L))
        }
      }
      stOpt.foreach { st =>
        state.update(st)
        armTimeout(state, st.lastUs / 1000 + idleGapUs / 1000)
      }
      out.iterator
    }

  /** Shared S39 state machine over a resolved-zone column.
    *
    * State retention (r14 verdict #5): by default geofence state is
    * DELIBERATELY persistent where S18/S19/S20 evict — eviction
    * forgets the current zone, so a returning user's first event
    * would re-emit a spurious "outside" → zone enter even though they
    * never left; a zone-presence monitor must not fabricate
    * transitions for quiet-but-present users. With `idleGapUs` set,
    * the operator takes the opposite trade (bounded state for
    * human-absence-scale gaps): a user idle past the gap is evicted
    * and their next event REENTERS from "outside" — the session-
    * boundary reading, correct when absence-of-signal means absence,
    * pinned by the S39 eviction golden. */
  private def geofenceCore(events: DataFrame,
      zoneExpr: org.apache.spark.sql.Column,
      watermark: String, idleGapUs: Option[Long]): DataFrame =
    geofenceResolved(events.withColumn("zone", zoneExpr),
      watermark, idleGapUs)

  /** The transition machine over a frame already carrying a resolved
    * `zone` column (lets multi-Project resolvers like the spherical
    * layers stay layered instead of collapsing into one giant CASE). */
  private def geofenceResolved(events: DataFrame,
      watermark: String, idleGapUs: Option[Long]): DataFrame =
    keyedRows[(Long, Long, Long, String)](events, Some(watermark))(
        col("user_id").cast("long"), col("ts_us"),
        col("event_id").cast("long"), col("zone"))
      .fold(_._1, if (idleGapUs.isDefined) GroupStateTimeout.EventTimeTimeout
          else GroupStateTimeout.NoTimeout) {
        (uid, rows, state: GroupState[GeoState]) =>
          geoTransitions(uid, byEventTime(rows), state, idleGapUs)
      }

  /** The S39 transition step (S39/S43 and S45): `evs` in (ts_us,
    * event_id) order emit a transition whenever the zone changes;
    * stragglers at or behind the anchor drop. */
  private def geoTransitions(uid: Long, evs: Seq[(Long, Long, String)],
      state: GroupState[GeoState], idleGapUs: Option[Long]): Iterator[GeoTransition] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      var st = state.getOption.getOrElse(
        GeoState(Long.MinValue, Long.MinValue, "outside"))
      val out = evs.flatMap { case (tu, id, z) =>
        if (stale(tu, id, st.tsu, st.eventId)) None
        else {
          val from = st.zone
          st = GeoState(tu, id, z)
          if (z != from) Some(GeoTransition(uid, tu, id, from, z)) else None
        }
      }
      state.update(st)
      idleGapUs.foreach { gap =>
        if (st.tsu != Long.MinValue) armTimeout(state, st.tsu / 1000 + gap / 1000)
      }
      out.iterator
    }

  /** S40 — streaming interval union (the live form of q248
    * `Relational.intervalUnion`, under the S38/q245 batch-parity
    * protocol): per key, overlapping-or-touching [s, e) epoch-second
    * intervals merge into blocks in state; a block is emitted EXACTLY
    * ONCE (Append mode) when the watermark passes its end — at that
    * point no non-late interval can extend it (an extender needs
    * s ≤ be, but event time IS s and the watermark guarantees
    * s ≥ wm > be). This is the uptime/SLA monitor shape: closed
    * blocks stream out with their covered seconds as sessions end.
    *
    * Input columns: user_id, ts (event time — the interval's START
    * instant as a timestamp), s, e (epoch seconds, s ≤ e; an
    * inverted interval fails fast, the batch operator's guard).
    *
    * Semantics match the batch sweep exactly: new block when
    * s > running-max-e (touching merges); per block bs = min s,
    * be = max e, n_iv = count, raw = Σ(e−s) — merging is
    * order-insensitive, so intra-batch disorder and batching are
    * invisible (parity with the batch operator pinned in the golden).
    *
    * State: the OPEN blocks inside the watermark horizon (parallel
    * long arrays) — bounded by in-flight disjoint sessions per key,
    * never stream age; the key's state is REMOVED once its last block
    * closes (safe: any non-late future interval must then start past
    * the closed frontier). Rows older than the watermark that slip in
    * while state lives are dropped by the closed-frontier guard (the
    * documented at-once watermark contract, the S14/S35 class);
    * EventTimeTimeout re-arms at the earliest open end so quiet keys
    * still close without new traffic. */
  def intervalUnionStream(iv: DataFrame,
      watermark: String = "10 seconds"): DataFrame =
    intervalBlocks(iv, watermark, "intervalUnionStream", keepFrontier = false) {
      (uid, _, closed) => closed.map { case (bs, be, n, raw) =>
        ClosedBlock(uid, bs, be, n, be - bs, raw) }.iterator
    }

  /** S42 — streaming interval GAPS (the live q254
    * `Relational.intervalGaps`, S40's complement): a downtime window
    * emits EXACTLY ONCE when the block that ENDS it closes — a gap is
    * only final once both flanking blocks are watermark-closed (an
    * open block's start can still move EARLIER if a non-late interval
    * merges in front of it, so gap-to-open would retro-edit). Same
    * state machine, same input contract as S40; batch parity with
    * `intervalGaps` pinned in the golden.
    *
    * STATE RETENTION differs from S40 on purpose: when a key's last
    * open block closes, S40 may remove the key (a block emits
    * independently), but a GAP pairs the next block against the
    * previous frontier — the canonical downtime scenario is exactly
    * "machine goes quiet, its last block watermark-closes, machine
    * returns hours later". Removing state there would silently
    * swallow that gap (the resumed key would look brand-new). So an
    * idle key keeps a FRONTIER-ONLY state: empty block arrays + the
    * closedUntil long — the same per-key footprint the batch
    * operator's LAG carries, bounded by distinct keys, never stream
    * age — and a resumed key's first closed block pairs against it. */
  def intervalGapsStream(iv: DataFrame,
      watermark: String = "10 seconds"): DataFrame =
    intervalBlocks(iv, watermark, "intervalGapsStream", keepFrontier = true) {
      (uid, prevUntil, cs) =>
        // every closed block's START finalizes the gap behind it: pair
        // each closed start with the end before it (the prior frontier,
        // or the previous closed block in this batch); the key's FIRST
        // block has nothing behind it
        val starts = if (prevUntil == Long.MinValue)
          cs.drop(1).map(_._1) else cs.map(_._1)
        val ends = if (prevUntil == Long.MinValue)
          cs.map(_._2) else prevUntil +: cs.map(_._2)
        starts.zip(ends).collect {
          case (gs, pe) if gs > pe => GapRow(uid, pe, gs, gs - pe)
        }.iterator
    }

  /** The S40/S42 block machine: per key, open blocks ∪ the batch's
    * intervals (inverted fails fast; at-or-before-frontier rows drop)
    * merge by the batch running-max sweep; blocks whose end the
    * watermark passed close, and `emit` gets (key, prior frontier,
    * closed blocks by start) as (bs, be, n, raw). With no open block
    * left the key is removed, or with `keepFrontier` keeps a
    * frontier-only state (no timeout: it is re-entered only when the
    * key resumes); open blocks re-arm at the earliest open end. The
    * row keeps `ts_us`, unread by the sweep, because the watermark's
    * late-row filter reads it. */
  private def intervalBlocks[O: Encoder](iv: DataFrame, watermark: String,
      op: String, keepFrontier: Boolean)(
      emit: (Long, Long, Vector[(Long, Long, Long, Long)]) => Iterator[O]): DataFrame =
    keyedRows[(Long, Long, Long, Long)](iv, Some(watermark))(
        col("user_id").cast("long"), col("ts_us"),
        col("s").cast("long"), col("e").cast("long"))
      .fold(_._1, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[IntervalState]) =>
          val prev = state.getOption.getOrElse(
            IntervalState(Array.empty, Array.empty, Array.empty, Array.empty,
              Long.MinValue))
          val fresh = rows.map { case (_, _, is, ie) =>
            require(is <= ie, s"$op: inverted interval " +
              s"e=$ie < s=$is for key $uid")
            (is, ie, 1L, ie - is)
          }.filter { case (is, _, _, _) =>
            // strict: a non-late row always has s > closedUntil (the
            // frontier closed only once the watermark passed it); a
            // late s == closedUntil row would have TOUCH-merged into
            // the closed block in batch — emitting it as a new block
            // would break parity, so it drops with the other late rows
            prev.closedUntil == Long.MinValue || is > prev.closedUntil
          }.toArray
          val items = (prev.bs.indices.map(i =>
              (prev.bs(i), prev.be(i), prev.n(i), prev.raw(i))) ++ fresh)
            .sortBy(t => (t._1, t._2))
          // the batch running-max sweep
          val merged = Vector.newBuilder[(Long, Long, Long, Long)]
          var cur: (Long, Long, Long, Long) = null
          items.foreach { case it @ (is, ie, in, ir) =>
            if (cur == null) cur = it
            else if (is > cur._2) { merged += cur; cur = it }
            else cur = (cur._1, math.max(cur._2, ie), cur._3 + in, cur._4 + ir)
          }
          if (cur != null) merged += cur
          val (closed, open) = merged.result()
            .partition(_._2 * 1000 < state.getCurrentWatermarkMs())
          if (open.isEmpty && !keepFrontier) state.remove()
          else {
            state.update(IntervalState(open.map(_._1).toArray,
              open.map(_._2).toArray, open.map(_._3).toArray,
              open.map(_._4).toArray, (prev.closedUntil +: closed.map(_._2)).max))
            if (open.nonEmpty) armTimeout(state, open.map(_._2).min * 1000 + 1)
          }
          emit(uid, prev.closedUntil, closed.sortBy(_._1))
      }

  /** The S45/S50 candidate stage: events exploded onto their
    * deduplicated 3×3 banded-grid neighborhood, LEFT-joined to the
    * persisted static zone-cell table — one row per (event, candidate
    * zone), "left" rows carrying None so zone-less events survive —
    * as (ts_us, user_id, event_id, la, lo, zone_id, zla, zlo, radius),
    * keyed by user. */
  private def zoneCandidates(events: DataFrame, zones: DataFrame,
      maxRadiusMeters: Double, watermark: String, opName: String)
      : KeyedRows[ZoneCandidate] = {
    val s = events.sparkSession
    import s.implicits._
    val (h, cells, wMax) = graft.operators.Geo.gridParams(maxRadiusMeters)
    val ncMap = map(cells.flatMap { case (b, nc) =>
      Seq(lit(b), lit(nc)) }.toIndexedSeq: _*)
    val bt = broadcast(cells.toDF("bt_band", "bt_nc"))
    val z = zones.select(col("zone_id").cast("long").as("zone_id"),
        col("zla").cast("long").as("lb"), col("zlo").cast("long").as("lob"),
        when(col("radius_m") > lit(0.0) &&
            col("radius_m") <= lit(maxRadiusMeters),
          col("radius_m").cast("double"))
          .otherwise(raise_error(concat(
            lit(s"$opName: radius outside (0, $maxRadiusMeters]: "),
            col("radius_m").cast("string")))).as("radius_m"))
      .withColumn("zband", expr(s"(lb + 90000000) DIV $h"))
      .join(bt, col("zband") === col("bt_band"))
      .select(col("zone_id"), col("lb"), col("lob"), col("radius_m"),
        col("zband"), expr("((lob + 180000000) * bt_nc) DIV 360000000").as("zcell"))
      .persist()
    z.count()
    val pre = events
      .select(col("ts"), col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("la").cast("long").as("la"), col("lo").cast("long").as("lo"))
      .withColumn("band", expr(s"(la + 90000000) DIV $h"))
      .withColumn("db", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("tb", col("band") + col("db"))
      .withColumn("ncT", element_at(ncMap, col("tb")))
      .withColumn("cellT0", expr("((lo + 180000000) * ncT) DIV 360000000"))
      .withColumn("gcell", explode(array_distinct(
        transform(array(lit(-1L), lit(0L), lit(1L)),
          dc => pmod(col("cellT0") + dc, col("ncT"))))))
    val joined = pre.join(z,
        pre("tb") === z("zband") && pre("gcell") === z("zcell") &&
          abs(pre("la") - z("lb")) <= h &&
          expr("abs(((lo - lob + 540000000) % 360000000) - 180000000)") <= wMax,
        "left_outer")
    keyedRows[ZoneCandidate](joined, Some(watermark))(
      col("ts_us"), col("user_id"), col("event_id"), col("la"), col("lo"),
      col("zone_id"), col("lb"), col("lob"), col("radius_m"))
  }

  private type ZoneCandidate = (Long, Long, Long, Long, Long,
    Option[Long], Option[Long], Option[Long], Option[Double])

  /** Each event's nearest qualifying zone over its candidate rows, as
    * (ts_us, event_id, zone) in fold order — the bit-stable (hav,
    * zone_id) order via the Scala polynomial forms (identical to the
    * batch q260 rank); no candidate inside its radius ⇒ "outside".
    * Shared by S45 and S50. */
  private def nearestZones(rows: Iterator[ZoneCandidate]): Seq[(Long, Long, String)] =
    rows.toSeq.groupBy(r => (r._1, r._3)).toSeq.sortBy(_._1).map {
      case ((tu, id), cand) =>
        val (pla, plo) = (cand.head._4, cand.head._5)
        val zone = cand.flatMap { c =>
          for (zid <- c._6; zla <- c._7; zlo <- c._8; r <- c._9)
            yield (graft.operators.Geo.havScala(pla, plo, zla, zlo), zid, r)
        }.filter { case (hv, _, r) => hv <= graft.operators.Geo.kzScala(r) }
          .sortBy { case (hv, zid, _) => (hv, zid) }
          .headOption.map(_._2.toString).getOrElse("outside")
        (tu, id, zone)
    }

  /** S45 — ZONE-SCALE streaming geofence transitions: S43 with the
    * zones as a DATAFRAME routed through the q256 banded grid — the
    * implemented form of the S43 cutover guidance (a literal zone
    * list compiles one plan column set per zone; 10³+ geofences need
    * zones as data). Events explode onto their deduplicated 3×3 grid
    * neighborhood and LEFT-join the static zone-cell table (a
    * stream-static join — stateless, so it legally precedes the one
    * stateful operator); per event, the state function resolves the
    * NEAREST qualifying zone by the bit-stable (hav, zone_id) order
    * using [[graft.operators.Geo.havScala]]/kzScala — the identical
    * float ops as the batch q260 rank — and feeds the S39/S43
    * transition machine (first event enters from "outside"; zone
    * names are the zone_id rendered as a string). Unmatched events
    * keep one null-zone row per exploded key, so "outside" resolution
    * needs no second join. State: last zone + the order anchor per
    * user — constant; parity with the batch resolution is pinned in
    * the golden. */
  def geofenceZoneStream(events: DataFrame, zones: DataFrame,
      maxRadiusMeters: Double, watermark: String = "10 seconds"): DataFrame =
    zoneCandidates(events, zones, maxRadiusMeters, watermark,
        "geofenceZoneStream")
      .fold(_._2) { (uid, rows, state: GroupState[GeoState]) =>
        geoTransitions(uid, nearestZones(rows), state, None)
      }

  /** S50 — ZONE-SCALE streaming dwell: S46's visit machine with S45's
    * zones-as-data resolution — the fleet-scale form (10³+ geofences
    * stay DATA through the banded grid; plan constant). Each event's
    * candidate rows resolve to the nearest qualifying zone by the
    * bit-stable (hav, zone_id) order, then the run logic is S46's
    * verbatim: a visit emits EXACTLY ONCE when a later event resolves
    * elsewhere or the REQUIRED idle gap passes; "outside" runs are
    * silent; stragglers drop at the (tsu, event_id) anchor. Golden
    * pins single-zone parity with [[dwellStream]] and the
    * nearest-wins overlap split. */
  def dwellZoneStream(events: DataFrame, zones: DataFrame,
      maxRadiusMeters: Double, watermark: String = "10 seconds",
      idleGapUs: Long = 3600L * 1000000L): DataFrame = {
    require(idleGapUs > 0, s"idleGapUs=$idleGapUs must be positive")
    zoneCandidates(events, zones, maxRadiusMeters, watermark,
        "dwellZoneStream")
      .fold(_._2, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state: GroupState[DwellState]) =>
          dwellRuns(uid, nearestZones(rows), state, idleGapUs)
      }
  }

  /** S44 — streaming proximity alerts: LIVE point-vs-point radius
    * detection (fleet collision / contact tracing — the streaming
    * sibling of the q249 batch join). Events carry (ts, id, la, lo —
    * integer micro-degrees, full ±90°); every pair of readings within
    * `radiusMeters` of DEFINED polynomial haversine, both inside the
    * watermark horizon, emits exactly one (id_a, id_b, hav) event.
    *
    * Plan: each reading is exploded onto its deduplicated 3×3
    * neighborhood of the q249 banded grid (band table rides in as a
    * tiny map LITERAL — no join before the stateful op) and grouped by
    * (band, cell); state per key is the in-watermark readings seen
    * there. A new reading probes the stored ones; a qualifying pair is
    * emitted ONLY in the smaller id's HOME cell (both readings carry
    * their home key), which both members provably share candidates
    * with — the same exactly-once argument as the batch grid, moved to
    * state time. Same-batch pairs dedupe by processing arrivals in
    * (ts, id) order against state ∪ earlier arrivals. The verify is
    * [[graft.operators.Geo.havScala]] — the IDENTICAL polynomial op
    * sequence as the batch layers, so a pair scores bit-identically to
    * q249 (batch parity pinned in the golden).
    *
    * State: readings newer than the watermark, per grid key — bounded
    * by in-horizon traffic density ×9, never stream age; quiet cells
    * evict via an event-time timeout at their oldest reading. Late
    * readings (ts < watermark) are dropped by Spark's late-data filter
    * upstream — the standard at-once watermark contract. */
  def proximityStream(events: DataFrame, radiusMeters: Double,
      watermark: String = "10 seconds"): DataFrame = {
    val (h, cells, _) = graft.operators.Geo.gridParams(radiusMeters)
    val k = graft.operators.Geo.havK(radiusMeters)
    val ncMap = map(cells.flatMap { case (b, nc) =>
      Seq(lit(b), lit(nc)) }.toIndexedSeq: _*)
    val exploded = events
      .select(col("ts"), col("id").cast("long").as("id"),
        col("la").cast("long").as("la"), col("lo").cast("long").as("lo"))
      .withColumn("band", expr(s"(la + 90000000) DIV $h"))
      .withColumn("nc0", element_at(ncMap, col("band")))
      .withColumn("hcell", expr("((lo + 180000000) * nc0) DIV 360000000"))
      .withColumn("db", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("tb", col("band") + col("db"))
      .withColumn("ncT", element_at(ncMap, col("tb")))
      .withColumn("cellT0", expr("((lo + 180000000) * ncT) DIV 360000000"))
      .withColumn("gcell", explode(array_distinct(
        transform(array(lit(-1L), lit(0L), lit(1L)),
          dc => pmod(col("cellT0") + dc, col("ncT"))))))
    keyedRows[(Long, Long, Long, Long, Long, Long, Long, Long)](
        exploded, Some(watermark))(
        col("ts_us"), col("id"), col("la"), col("lo"),
        col("band"), col("hcell"), col("tb"), col("gcell"))
      .fold(r => (r._7, r._8), GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state: GroupState[ProxState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.getOrElse(ProxState(Array.empty,
            Array.empty, Array.empty, Array.empty, Array.empty, Array.empty))
          val cur = scala.collection.mutable.ArrayBuffer.empty[
            (Long, Long, Long, Long, Long, Long)] // id, tsu, la, lo, hb, hc
          prev.ids.indices.foreach { i =>
            if (prev.tsUs(i) >= wmUs)
              cur += ((prev.ids(i), prev.tsUs(i), prev.las(i), prev.los(i),
                prev.hb(i), prev.hc(i)))
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[ProximityPair]
          // deterministic intra-batch order: (ts, id)
          rows.toArray.sortBy(r => (r._1, r._2)).foreach { n =>
            val nRec = (n._2, n._1, n._3, n._4, n._5, n._6)
            cur.foreach { st =>
              if (st._1 != nRec._1) {
                // orient to (smaller id = a); emit only in a's home key
                val (a, b) = if (st._1 < nRec._1) (st, nRec) else (nRec, st)
                if (a._5 == key._1 && a._6 == key._2) {
                  val hv = graft.operators.Geo.havScala(a._3, a._4, b._3, b._4)
                  if (hv <= k)
                    out += ProximityPair(a._1, b._1, hv,
                      math.max(a._2, b._2))
                }
              }
            }
            cur += nRec
          }
          if (cur.isEmpty) state.remove()
          else {
            state.update(ProxState(cur.map(_._1).toArray, cur.map(_._2).toArray,
              cur.map(_._3).toArray, cur.map(_._4).toArray,
              cur.map(_._5).toArray, cur.map(_._6).toArray))
            armTimeout(state, cur.map(_._2).min / 1000L + 1L)
          }
          out.iterator
      }
  }

  /** S41 — streaming quality-classifier scoring: the SERVING half of
    * q251 (train batch, score live — the FineWeb gate applied to an
    * ingest stream). The batch-trained weight vector
    * (`Classifier.trainWeights`, ≤ dim rows) rides in as a map
    * LITERAL, so the hot path is one stateless narrow projection: no
    * join, no state, no shuffle — tokenize, hash, and fold the margin
    * entirely within the row.
    *
    * EXACT batch parity (pinned in the golden): the in-row fold adds
    * w_b·tf_b over the doc's distinct buckets in ascending order —
    * the identical float-op sequence as the batch margin fold
    * (q79-class ordered fold), so a doc scores bit-identically
    * whether it arrives in the training batch or on the stream.
    * Buckets unseen in training score 0.0 (the serving convention for
    * out-of-vocabulary mass).
    *
    * Per-row cost (r16, the LINEARIZED fold): one array_sort + a
    * run-length fold — O(tokens log tokens), INDEPENDENT of dim. The
    * first cut re-scanned the bucket array with `size(filter(...))`
    * per distinct bucket (O(distinct-buckets × tokens): flat at the
    * shipped dim ≤ 128, quadratic pressure past it); the run-length
    * fold closes each bucket's run with the SAME `w_b · tf_b` multiply
    * and the same ascending adds from 0.0, so scores stay
    * bit-identical — the golden is the proof. */
  def scoreStream(docs: DataFrame, weights: Seq[(Long, Double)], dim: Int,
      threshold: Double = 0.5): DataFrame = {
    require(dim > 0 && weights.nonEmpty && weights.size <= dim,
      s"need 1..$dim weights, got ${weights.size}")
    val wmap = map(weights.flatMap { case (b, w) =>
      Seq(lit(b), lit(w)) }.toIndexedSeq: _*)
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val buckets = transform(toks, t =>
      pmod(conv(substring(md5(t.cast("binary")), 1, 8), 16, 10)
        .cast("long"), lit(dim.toLong)))
    val p = lit(0.5) * (lit(1.0) + (col("m") / (lit(1.0) + abs(col("m")))))
    // close the finished run: acc + w(prev) · run  (the identical
    // multiply-then-add the per-bucket form performed)
    def closeRun(st: Column): Column =
      st.getField("acc") + coalesce(element_at(wmap, st.getField("prev")),
        lit(0.0)) * st.getField("run").cast("double")
    docs.select(col("doc_id"), buckets.as("bk"))
      .withColumn("m", aggregate(
        array_sort(col("bk")),
        struct(lit(0.0).as("acc"), lit(-1L).as("prev"), lit(0L).as("run")),
        (st, x) => struct(
          when(st.getField("run") === 0L || x === st.getField("prev"),
            st.getField("acc")).otherwise(closeRun(st)).as("acc"),
          x.as("prev"),
          when(x === st.getField("prev"), st.getField("run") + 1L)
            .otherwise(lit(1L)).as("run")),
        st => when(st.getField("run") === 0L, st.getField("acc"))
          .otherwise(closeRun(st))))
      .select(col("doc_id"), col("m"),
        round(p, 6).as("score"),
        (p > threshold).as("pass"))
  }

  /** S51 — streaming PC1 scoring: the SERVING half of q268 (train the
    * component batch-side via
    * [[graft.ext.Similarity.topComponent]], score vectors live — the
    * S41 pattern applied to the PCA tier): the ≤d-element component
    * rides as an ARRAY LITERAL, so the hot path is one stateless
    * narrow projection — no join, no state, no shuffle. The in-row
    * fold multiplies and adds in INDEX order, the identical float-op
    * sequence as the batch projection fold (by i ascending), so
    * scores are BIT-IDENTICAL to q268's rows (pinned by the golden).
    * A vector of a different dimension fails fast — zip_with would
    * silently null-pad it. */
  /** S52 — streaming CCNet perplexity-bucket ROUTING: the q269
    * serving twin (the S41/S51 train-batch/serve-stream pattern on
    * the LM tier). The trained [[graft.ext.TextOps.LmModel]] rides a
    * broadcast; each arriving doc scores IN-ROW with a sequential
    * positional fold — the identical float-op sequence as the batch's
    * position-ordered collect_list fold (same log/divide/add per
    * bigram, same order), then the identical round(6)/ppm/threshold
    * column arithmetic — so (lp_per_bigram, bucket) are BIT-IDENTICAL
    * to q269's rows for the same docs (golden). Sub-2-token docs are
    * silently unscored, the batch contract — and so are REFERENCE
    * docs (doc_id % LmRefMod == 0): q269 structurally excludes the
    * training slice from its output, so the operator enforces the
    * same exclusion rather than leaving it to the caller (r18 ADVICE
    * fix — 'bit-identical to q269' now holds for every row the
    * stream emits, not just pre-filtered input). Stateless narrow
    * projection: no shuffle, no state store — per-event cost is the
    * doc's own bigram count. */
  def lmBucketStream(docs: DataFrame,
      model: graft.ext.TextOps.LmModel): DataFrame = {
    val s = docs.sparkSession
    val bc = s.sparkContext.broadcast(model)
    val scoreUdf = udf { (text: String) =>
      val m = bc.value
      val toks = Option(text)
        .map(_.split("\\s+").filter(_.nonEmpty)).getOrElse(Array.empty)
      if (toks.length < 2) None
      else {
        val n = toks.length - 1
        var slp = 0.0
        var i = 0
        while (i < n) { // position order = the batch fold order
          val w1 = toks(i); val w2 = toks(i + 1)
          slp += (m.c2.get((w1, w2)) match {
            case Some(c) => math.log(c.toDouble / m.c1(w1).toDouble)
            case None => math.log(0.4) +
              math.log((m.c1.getOrElse(w2, 0L) + 1L).toDouble /
                (m.nTok + m.vsz).toDouble)
          })
          i += 1
        }
        Some(BigDecimal(slp / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    docs.select(col("doc_id").cast("long").as("doc_id"),
        scoreUdf(col("text")).as("lp_per_bigram"))
      // q269 parity: the batch twin never emits the reference slice
      .filter(col("doc_id") % lit(graft.ext.TextOps.LmRefMod.toLong) =!= 0L)
      .filter(col("lp_per_bigram").isNotNull)
      // ppm quantization + strictly-above admission: the exact q269
      // column arithmetic (Spark's own round = HALF_UP, like batch)
      .withColumn("lpq",
        round(col("lp_per_bigram") * lit(1000000.0)).cast("long"))
      .select(col("doc_id"), col("lp_per_bigram"),
        when(col("lpq") > lit(model.t1), "head")
          .when(col("lpq") > lit(model.t2), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** S53 — streaming QUOTA-CAPPED ADMISSION: the live half of q283's
    * mixture step ([[graft.ext.Mixture.allocateQuotas]] computes the
    * per-source quotas batch-side; this operator ENFORCES them on an
    * arriving corpus — "take the first quotaᵢ documents of source i",
    * the ingest-time form of data mixing). Per source, state is ONE
    * counter (admitted so far); each micro-batch's arrivals fold in
    * doc_id order (deterministic regardless of partition arrival
    * order within the batch) and admit while the RECOVERED counter is
    * below quota. Emits (source, doc_id, admit_rank) with ranks
    * contiguous per source; sources without a quota entry admit
    * nothing. Exactly-once across restart: the counter IS the state,
    * so a kill/replay cannot re-admit past quota (StreamRestartSpec).
    *
    * Scale posture: state is one long per SOURCE (the bounded
    * dimension), keyed-partitioned; per-batch work is the batch's own
    * rows plus an in-batch sort per source — no corpus-sized anything.
    * The quota map rides the closure (sources are KBs). Assumes
    * doc_id is unique per source (the corpus primary key) — a
    * redelivered id in a LATER batch is a new document to this
    * operator (exact once-per-id dedup is S12's job, composable
    * upstream). */
  def quotaFillStream(docs: DataFrame, quotas: Map[String, Long]): DataFrame = {
    keyedRows[(String, Long)](docs, None)(col("source"), col("doc_id").cast("long"))
      .fold(_._1) { (src, rows, state: GroupState[QuotaCount]) =>
          val quota = quotas.getOrElse(src, 0L)
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          rows.map(_._2).toArray.sorted.foreach { id =>
            if (n < quota) { n += 1; out += ((src, id, n)) }
          }
          // never materialize state for an unquota'd source: a stream
          // carrying arbitrary source names would otherwise grow one
          // permanent zero-count record per distinct name — unbounded
          // state on the operator whose claim is one record per
          // CONFIGURED source (r18 review)
          if (quota > 0L) state.update(QuotaCount(n))
          out.iterator
      }.toDF("source", "doc_id", "admit_rank")
  }

  def pcaScoreStream(vecs: DataFrame, component: Seq[Double]): DataFrame = {
    require(component.nonEmpty, "component must be non-empty")
    val vLit = array(component.map(lit).toIndexedSeq: _*)
    vecs.select(col("vec_id").cast("long").as("vec_id"),
      when(size(col("embedding")) === component.length,
        round(aggregate(
          zip_with(col("embedding").cast("array<double>"), vLit,
            (x, w) => x * w),
          lit(0d), (a, x) => a + x), 6))
        .otherwise(raise_error(concat(lit("pcaScoreStream: dim "),
          size(col("embedding")).cast("string"),
          lit(s" != ${component.length}")))).as("pc1"))
  }
}
