package perfbench

import java.util.SplittableRandom

/** Seeded envelope generator shared by both ingest workloads and the
  * batch transform timing.
  *
  * Envelope `i` is a pure function of `(seed, i)`, so any chunking of
  * the index range yields the same records. Shape:
  *  - `datastream_id` drawn from a Zipf([[Gen.Skew]]) law over
  *    [[Gen.StreamCount]] ids (rank r is id r, so the hot set is the
  *    same for every seed);
  *  - [[Gen.PointsPer]] datapoints per envelope; point j of envelope i
  *    has `dateTime = T0 + i * PointsPer + j` ms and event id
  *    `i * PointsPer + j`, so event time and event id grow together and
  *    no stream ever sees its time go backwards;
  *  - `sample` is `{"id":<event id>,"v":<int>}`;
  *  - exactly one envelope in every block of 100 is malformed,
  *    alternating truncated JSON (even blocks) and a well-formed object
  *    with no `data` array (odd blocks);
  *  - envelope i goes to Kafka partition `i % Partitions`, round-robin
  *    as a producer without keys (the reference's) spreads records;
  *    [[TopicLog]] gives offsets, dense per partition. */
final case class Gen(seed: Long) {
  import Gen._

  private val cdf: Array[Double] = {
    val w = Array.tabulate(StreamCount)(r => 1.0 / math.pow(r + 1, Skew))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def rng(i: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + i))

  private def zipf(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val k = java.util.Arrays.binarySearch(cdf, u)
    (if (k >= 0) k else math.min(-k - 1, StreamCount - 1)) + 1
  }

  /** Kind of envelope i: Valid, Truncated or NoData. */
  def kind(i: Long): Int = {
    val block = i / 100
    val pos = java.lang.Math.floorMod(mix(seed ^ (block * 0xC2B2AE3D27D4EB4FL)), 100L)
    if (i % 100 != pos) Valid else if (block % 2 == 0) Truncated else NoData
  }

  def partition(e: Envelope): Int = (e.index % Partitions).toInt

  def envelope(i: Long): Envelope = {
    val r = rng(i)
    val stream = zipf(r)
    val pts = Array.tabulate(PointsPer) { j =>
      Point(T0 + i * PointsPer + j, r.nextInt(-3600000, 3600001),
        i * PointsPer + j, r.nextInt(10000))
    }
    Envelope(i, stream, pts, kind(i))
  }

  def envelopes(from: Long, until: Long): IndexedSeq[Envelope] =
    (from until until).map(envelope)
}

object Gen {
  val StreamCount = 500
  val Skew = 1.0
  val PointsPer = 10
  val Partitions = 4
  /** 2023-11-14T22:13:20Z, the first event time. */
  val T0 = 1700000000000L
  val Valid = 0
  val Truncated = 1
  val NoData = 2

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** The topic the generator writes: envelopes appended in index order get
  * the next offset of their partition, so offsets are dense from 0 per
  * partition as `KafkaContractSource.put` requires. Remembers which
  * envelope each (partition, offset) holds. */
final class TopicLog(val gen: Gen, val topic: String) {
  private val held = Array.fill(Gen.Partitions)(scala.collection.mutable.ArrayBuffer.empty[Long])

  /** Kafka records for `envs` (which must continue the index order);
    * `tsMs` gives each record's Kafka timestamp from its index. */
  def records(envs: Seq[Envelope], tsMs: Long => Long): Seq[graft.sources.KafkaContractSource.Rec] =
    envs.map { e =>
      val p = gen.partition(e)
      val o = held(p).size.toLong
      held(p) += e.index
      graft.sources.KafkaContractSource.rec(topic, p, o, e.json, tsMs(e.index))
    }

  /** Index of the envelope at (partition, offset). */
  def index(partition: Int, offset: Long): Long = held(partition)(offset.toInt)

  /** Envelopes appended so far. */
  def size: Long = held.map(_.size.toLong).sum
}

final case class Point(dateTime: Long, offset: Int, eventId: Long, value: Int) {
  def sample: String = s"""{"id":$eventId,"v":$value}"""
}

final case class Envelope(index: Long, stream: Int, points: Array[Point], kind: Int) {
  def valid: Boolean = kind == Gen.Valid

  /** The wire text. A truncated envelope is cut inside its first
    * datapoint, after `datastream_id` and the opening of `data`. */
  def json: String = kind match {
    case Gen.NoData => s"""{"datastream_id":$stream}"""
    case _ =>
      val sb = new StringBuilder(64 + points.length * 72)
      sb.append("{\"datastream_id\":").append(stream).append(",\"data\":[")
      var j = 0
      while (j < points.length) {
        val p = points(j)
        if (j > 0) sb.append(',')
        sb.append("{\"dateTime\":").append(p.dateTime)
          .append(",\"offset\":").append(p.offset)
          .append(",\"sample\":").append(p.sample).append('}')
        j += 1
      }
      sb.append("]}")
      if (kind == Gen.Truncated) sb.substring(0, sb.indexOf(",\"offset\"")) else sb.toString
  }
}
