package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** Order-insensitive row checksum: the row count and the sums of the
  * high and low 32-bit halves of Spark's `xxhash64` over the row's
  * columns (two sums, so no ANSI overflow and no cancellation of
  * repeated rows). [[Checksum.Acc]] recomputes the same hash on the
  * benchmark side from generator predictions. */
final case class Checksum(rows: Long, hi: Long, lo: Long) {
  def +(o: Checksum): Checksum = Checksum(rows + o.rows, hi + o.hi, lo + o.lo)
  override def toString: String = s"$rows/$hi/$lo"
}

object Checksum {
  val zero: Checksum = Checksum(0, 0, 0)
  private val Seed = 42L

  /** The three aggregate columns over `cols`. */
  def columns(cols: Seq[Column]): Seq[Column] = {
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)).as("ck_rows"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("ck_hi"),
      coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)).as("ck_lo"))
  }

  private def all(df: DataFrame): Seq[Column] = columns(df.columns.toSeq.map(c => col(s"`$c`")))

  /** Checksum of a batch DataFrame. */
  def of(df: DataFrame): Checksum = {
    val cs = all(df)
    val r = df.agg(cs.head, cs.tail: _*).head()
    Checksum(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** `df` with its checksum attached as observed metrics `name`; a
    * stream reports them in each batch's progress. */
  def observe(df: DataFrame, name: String): DataFrame = {
    val cs = all(df)
    df.observe(name, cs.head, cs.tail: _*)
  }

  def observe(df: DataFrame, o: org.apache.spark.sql.Observation): DataFrame = {
    val cs = all(df)
    df.observe(o, cs.head, cs.tail: _*)
  }

  def fromMap(m: Map[String, Any]): Checksum =
    Checksum(m("ck_rows").asInstanceOf[Long], m("ck_hi").asInstanceOf[Long], m("ck_lo").asInstanceOf[Long])

  def fromRow(r: org.apache.spark.sql.Row): Checksum =
    Checksum(r.getAs[Long]("ck_rows"), r.getAs[Long]("ck_hi"), r.getAs[Long]("ck_lo"))

  /** Builds one row's hash the way `xxhash64(c1, c2, ...)` does:
    * each non-null value re-seeds the next. */
  final class Row {
    private var h = Seed
    def int(v: Int): Row = { h = XXH64.hashInt(v, h); this }
    def long(v: Long): Row = { h = XXH64.hashLong(v, h); this }
    def double(v: Double): Row = {
      h = XXH64.hashLong(java.lang.Double.doubleToLongBits(if (v == -0.0d) 0.0d else v), h)
      this
    }
    def string(v: String): Row = {
      val b = v.getBytes(UTF_8)
      h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
      this
    }
    def hash: Long = h
  }

  /** Accumulates rows hashed with [[Row]]. */
  final class Acc {
    private var n, hi, lo = 0L
    def add(h: Long): Unit = { n += 1; hi += h >>> 32; lo += h & 0xFFFFFFFFL }
    def result: Checksum = Checksum(n, hi, lo)
  }
}
