package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same envelopes, another seed other ones") {
    val a = Gen(7).envelopes(0, 500).map(_.json)
    assert(a == Gen(7).envelopes(0, 500).map(_.json))
    assert(a != Gen(8).envelopes(0, 500).map(_.json))
  }

  test("an envelope does not depend on how the range is chunked") {
    val g = Gen(3)
    val whole = g.envelopes(0, 300).map(_.json)
    val chunked = (0L until 300L by 70L).flatMap(i => g.envelopes(i, math.min(i + 70, 300))).map(_.json)
    assert(whole == chunked)
  }

  test("exactly one malformed envelope per 100, alternating truncated and missing data") {
    val g = Gen(11)
    (0L until 20L).foreach { b =>
      val kinds = (b * 100 until (b + 1) * 100).map(g.kind)
      assert(kinds.count(_ != Gen.Valid) == 1)
      assert(kinds.find(_ != Gen.Valid).get == (if (b % 2 == 0) Gen.Truncated else Gen.NoData))
    }
  }

  test("malformed envelopes are truncated JSON or lack data") {
    val g = Gen(5)
    val bad = g.envelopes(0, 400).filterNot(_.valid)
    val trunc = bad.filter(_.kind == Gen.Truncated).map(_.json)
    val noData = bad.filter(_.kind == Gen.NoData).map(_.json)
    assert(trunc.nonEmpty && noData.nonEmpty)
    trunc.foreach(j => assert(j.contains("\"data\":[") && !j.endsWith("}")))
    noData.foreach(j => assert(j.matches("""\{"datastream_id":\d+\}""")))
  }

  test("stream ids follow a Zipf law over 500 streams") {
    val counts = Gen(1).envelopes(0, 20000).groupBy(_.stream).map { case (s, es) => s -> es.size }
    assert(counts.keys.forall(s => s >= 1 && s <= 500))
    assert(counts.size > 300)
    // rank 1 carries about 1/H(500) = 14.7 % of the envelopes, rank 2 half that
    assert(math.abs(counts(1) / 20000.0 - 0.147) < 0.02)
    assert(math.abs(counts(1).toDouble / counts(2) - 2.0) < 0.3)
  }

  test("event time and event id grow with the envelope index") {
    val pts = Gen(2).envelopes(0, 50).flatMap(_.points)
    assert(pts.map(_.dateTime) == pts.map(_.dateTime).sorted)
    assert(pts.map(_.eventId) == (0L until 500L))
    assert(pts.forall(p => p.sample == s"""{"id":${p.eventId},"v":${p.value}}"""))
  }

  test("offsets are dense per partition and map back to envelopes") {
    val g = Gen(9)
    val log = new TopicLog(g, "t")
    val recs = log.records(g.envelopes(0, 97), _ => 0L) ++ log.records(g.envelopes(97, 200), _ => 0L)
    recs.groupBy(_.partition).foreach { case (_, rs) =>
      assert(rs.map(_.offset) == (0L until rs.size.toLong))
    }
    recs.foreach { r =>
      val e = g.envelope(log.index(r.partition, r.offset))
      assert(new String(r.value, "UTF-8") == e.json)
      assert(g.partition(e) == r.partition)
    }
    assert(log.size == 200)
  }
}
