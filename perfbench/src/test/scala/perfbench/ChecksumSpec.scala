package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChecksumSpec extends AnyFunSuite {

  test("the benchmark-side row hash equals Spark's xxhash64 checksum") {
    val spark = SparkSession.builder().master("local[1]").appName("checksum-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val rows = Seq((1, "20231114", 1700000000000000L, -3, """{"id":0,"v":1}""", -0.0),
        (500, "20231115", 1700000000001000L, 59, """{"id":1,"v":9999}""", 2.5))
      val df = rows.toDF("a", "b", "c", "d", "e", "f")
      val acc = new Checksum.Acc
      rows.foreach { case (a, b, c, d, e, f) =>
        acc.add(new Checksum.Row().int(a).string(b).long(c).int(d).string(e).double(f).hash)
      }
      assert(Checksum.of(df) == acc.result)
      // order-insensitive, and a repeated row is not cancelled out
      assert(Checksum.of(df.orderBy(desc("a"))) == acc.result)
      assert(Checksum.of(df.union(df)).rows == 4 && Checksum.of(df.union(df)).hi == 2 * acc.result.hi)
    } finally spark.stop()
  }
}
