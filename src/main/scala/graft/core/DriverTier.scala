package graft.core

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The driver tier: "probe the size, collect to the driver if the result
  * is bounded, otherwise run the distributed form". Iterative operators
  * whose DECISION state is small (an edge list, a vocabulary, a value
  * histogram) while their input is corpus-sized run the decision loop on
  * the driver below a row cap and keep their distributed loop above it.
  * This object owns that decision: the caps, the Spark-order comparator
  * the local loops need to reproduce the distributed ordering, the
  * driver-side result frame, and the one test scope that forces every
  * fallback.
  *
  * Caps are counted in ROWS of one fixed shape per cap, not in bytes:
  * each cap's row width is known at its sites, and one byte budget over
  * three different widths would move real inputs between tiers — a
  * byte-sized cap needs its own measured change. Footprints below are
  * the collected `Array[Row]` by JVM object layout (compressed oops,
  * 16 B per boxed Long), before each site's own working structures.
  */
object DriverTier {

  /** A named row cap; the row counts stay private to this object. */
  sealed abstract class Cap(private[DriverTier] val rows: Long)

  /** CC, CC-star, PageRank and k-core: rows of two ids (src, dst). Two
    * Longs are 16 B on the wire, 64 MB at the cap; collected, each row
    * is a GenericRow + Object[2] + two boxed Longs ≈ 76 B, ≈ 300 MB at
    * the cap, plus the union-find / adjacency maps over the same ids.
    * The operators producing the edges already bound them (LSH bucket
    * guards, fuzzy-pair banding, support thresholds). */
  case object Edges extends Cap(4000000L)

  /** BPE: word-frequency rows (symbols array, count). A row holds one
    * String per symbol, so an average 6-letter word (7 symbols with
    * `</w>`) is ≈ 450 B collected, ≈ 450 MB at the cap. Heaps-law
    * vocabularies of ≈ 10⁷ words stay on the cluster. */
  case object Vocabulary extends Cap(1000000L)

  /** Order statistics (discPercentiles, weightedMedian,
    * exactPercentilesCont): distinct (group, value, weight) histogram
    * rows, ≈ 130 B collected for a short string group and numeric
    * value; the per-group sorted buffers roughly double that, a few
    * hundred MB at the cap (more for string values or BigDecimal
    * weights). */
  case object Histogram extends Cap(1000000L)

  private val forced = new DynamicVariable(false)

  /** Run `body` with every driver tier and every probe-gated fast path
    * (the covariance and Spearman long sums, the packed recsys keys)
    * taking its general form — the fallback side of each
    * local ≡ distributed golden. Scoped to the calling thread (and
    * threads it starts inside `body`), so concurrent suites are not
    * affected. */
  private[graft] def withFallback[T](body: => T): T = forced.withValue(true)(body)

  /** True inside [[withFallback]]: probe-gated fast paths must take
    * their general form. */
  private[graft] def fallbackForced: Boolean = forced.value

  /** The rows of `df` (whose size the caller already probed as `rows`)
    * when they fit `cap`; None when over the cap or inside
    * [[withFallback]]. */
  def collectIfBounded(df: DataFrame, rows: Long, cap: Cap): Option[Array[Row]] =
    if (forced.value || rows > cap.rows) None else Some(df.collect())

  /** Spark's ascending order over collected (non-null) values of `dt`:
    * strings by UTF-8 bytes (UTF8String order; Java's String.compareTo
    * orders UTF-16 units and diverges past the BMP), everything else by
    * its JDK Comparable (boxed numerics — Double/Float put NaN last like
    * Spark; -0.0 never arrives, grouped keys are normalized — BigDecimal,
    * Boolean, Date/Timestamp). None = no mirrored order, keep the
    * distributed form. Nulls are the callers' to place. */
  def sparkOrder(dt: DataType): Option[(Any, Any) => Int] = dt match {
    case StringType => Some((a, b) =>
      UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(UTF8String.fromString(b.asInstanceOf[String])))
    case _: NumericType | DateType | TimestampType | BooleanType =>
      Some((a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b))
    case _ => None
  }

  /** A driver-side result as a LocalRelation: joins downstream can
    * broadcast it without an exchange. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}
