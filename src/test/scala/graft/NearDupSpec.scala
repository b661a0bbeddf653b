package graft

import graft.core.DriverTier
import org.apache.spark.sql.functions._
import graft.ext.{NearDup, TextOps}

/** MinHash/LSH near-dup dedup (SURVEY.md §2.5). Ground truth: the fixture's
  * near-dup groups share a 40-char text prefix (FIXTURES.md documents table)
  * with in-group shingle Jaccard far above the 0.5 threshold and cross-group
  * Jaccard far below it, so LSH grouping must recover exactly the Q25
  * prefix groups — same answer, reached without a group-by key. */
class NearDupSpec extends SparkSpec {

  test("similarPairs finds near-dups and skips distinct texts (literal data)") {
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different words about spark query engines and columnar storage")
    )).toDF("doc_id", "text")
    val pairs = NearDup.similarPairs(docs).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) > 0.5)
  }

  test("q28 LSH groups == Q25 prefix groups at sf0.001 (21) and sf0.01 (23)") {
    for ((d, n) <- Seq(sf("sf0.001") -> 21, sf("sf0.01") -> 23)) {
      val lsh = NearDup.q28(spark, d).collect().map(r => (r.getLong(0), r.getLong(1)))
      val prefix = TextOps.q25(spark, d).select("keeper", "n_members")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(lsh.length == n, s"$d: ${lsh.length} groups")
      assert(lsh.sorted.sameElements(prefix.sorted), s"$d group mismatch")
    }
  }

  test("nearDupGroups local union-find == distributed propagation (r19)") {
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val local = NearDup.nearDupGroups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    DriverTier.withFallback { // force the propagation loop
      val dist = NearDup.nearDupGroups(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(local == dist,
        s"diff: ${(local -- dist).take(5)} / ${(dist -- local).take(5)}")
    }
  }

  test("nearDupGroups past maxIter fails fast like connectedComponents; the driver tier spans the chain") {
    // doc i = words i..i+6 of one sequence: neighbours share 4 of their
    // 6 word 3-shingles (Jaccard 0.67 ≥ 0.5), docs two apart 3 of 7
    // (0.43), so the near-dup graph is a 12-doc path of diameter 11
    val words = (0 until 18).map(i => f"w$i%02d")
    val docs = spark.createDataFrame((0 until 12).map(i =>
      (i.toLong, words.slice(i, i + 7).mkString(" ")))).toDF("doc_id", "text")
    val groups = NearDup.nearDupGroups(docs, maxIter = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == (0L until 12L).map(_ -> 0L).toMap, s"groups $groups")
    // 3 propagation rounds cannot span diameter 11: the same error as
    // Graph.connectedComponents, never silently split groups
    val e = intercept[IllegalStateException] {
      DriverTier.withFallback(NearDup.nearDupGroups(docs, maxIter = 3).count())
    }
    assert(e.getMessage.contains("did not converge in 3 rounds"), e.getMessage)
  }

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val once = NearDup.dedup(docs)
    val twice = NearDup.dedup(once)
    val onceIds = once.select("doc_id").collect().map(_.getLong(0)).sorted
    val twiceIds = twice.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(onceIds.sameElements(twiceIds))
    // 500 docs, 21 groups; every non-keeper member removed exactly once
    val removed = 500 - onceIds.length
    val expectRemoved = TextOps.q25(spark, sf("sf0.001"))
      .agg(sum(col("n_members") - 1)).head().getLong(0)
    assert(removed == expectRemoved)
  }

  test("compiled shingle-hash kernel is bit-identical to the declarative tier") {
    // fixture docs + edge shapes: trailing space (split keeps the empty
    // token), fewer words than n (single whole-text shingle), repeated
    // shingles (distinct), empty string
    val edge = spark.createDataFrame(Seq(
      (9001L, "a b c d e f g "), (9002L, "one two"), (9003L, ""),
      (9004L, "x y z x y z x y z"))).toDF("doc_id", "text")
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
      .limit(100).select("doc_id", "text").union(edge)
    val both = docs.select(
        NearDup.shingleHashes(col("text")).as("d"),
        NearDup.shingleHashesKernel(col("text")).as("k"))
      .collect()
    assert(both.length == 104)
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("signatures are deterministic across plans (seeded hash, no RNG)") {
    val docs = spark.createDataFrame(Seq((1L, "a b c d e f g h i j"))).toDF("doc_id", "text")
    val sig1 = docs.select(NearDup.minhashSignature(NearDup.shingleHashes(col("text")))).head().getSeq[Long](0)
    val sig2 = docs.select(NearDup.minhashSignature(NearDup.shingleHashes(col("text")))).head().getSeq[Long](0)
    assert(sig1 == sig2 && sig1.length == 128)
  }

  test("dedupBest keeps the LONGEST member of every prefix group (ties -> lowest id)") {
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val kept = NearDup.q72(spark, sf("sf0.001")).collect().map(_.getLong(0)).toSet
    // per fixture prefix group, the kept member must be the length-argmax
    val best = docs.select(col("doc_id"), substring(col("text"), 1, 40).as("p"),
        length(col("text")).as("l")).collect()
      .groupBy(_.getString(1)).values
      .map(_.minBy(r => (-r.getInt(2), r.getLong(0))).getLong(0)).toSet
    assert(kept == best)
    // same group count as min-id dedup — only the representative differs
    assert(kept.size == NearDup.dedup(docs).count())
  }

  test("q91 incremental screening: agrees with similarPairs restricted to the split, never history x history") {
    val d = sf("sf0.001")
    val r = NearDup.q91(spark, d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.nonEmpty)
    // incoming ids only; best_match always from history
    assert(r.forall(_._1 % 5 == 0) && r.forall(_._3 % 5 != 0))
    // cross-check against the full-corpus pair list restricted to the split
    val docs = graft.sources.Tables.documents(spark, d)
    val pairs = NearDup.similarPairs(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    val cross = pairs.flatMap { case (a, b, j) =>
      Seq((a, b, j), (b, a, j)) }.filter { case (i, h, _) => i % 5 == 0 && h % 5 != 0 }
      .groupBy(_._1)
    assert(r.map(_._1).toSet == cross.keySet)
    r.foreach { case (id, nm, best, bj) =>
      val ms = cross(id)
      assert(nm == ms.length, s"doc $id n_matches")
      val expectBest = ms.map { case (_, h, j) => (-j, h) }.min
      assert(best == expectBest._2, s"doc $id best_match")
      assert(bj == BigDecimal(-expectBest._1)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"doc $id best_jaccard")
    }
  }

  test("screenIncrement over a prebuilt HistoryIndex == dedupIncremental (r11 split)") {
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val history = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val viaIndex = {
      val idx = NearDup.historyIndex(history).persist()
      val r = key(NearDup.screenIncrement(idx, incoming).collect())
      idx.unpersist(); r
    }
    val direct = key(NearDup.dedupIncremental(history, incoming).collect())
    assert(viaIndex == direct)
    assert(viaIndex.nonEmpty)
  }
}
