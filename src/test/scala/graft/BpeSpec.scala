package graft

import graft.core.DriverTier
import org.apache.spark.sql.functions._

/** Contracts for BPE tokenizer induction (q139) and application
  * (q140). No SQL oracle exists (sequential data-dependent argmax
  * chain — see Bpe scaladoc), so these golden cases carry the
  * correctness burden: the {low, lower, newest, widest} corpus of
  * Sennrich et al. 2016 with the merge sequence derived by hand,
  * including the count-then-lexicographic tie-breaks. */
class BpeSpec extends SparkSpec {

  import spark.implicits._
  import graft.ext.Bpe

  // the paper's corpus: low×5 lower×2 newest×6 widest×3
  private def paperDocs = Seq(
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
    .toDF("text")

  test("training reproduces the paper's merge sequence with deterministic tie-breaks") {
    // hand-derived with the </w> terminal:
    //  r1 (e,s)=9 over (s,t),(t,</w>) ties lexicographically
    //  r2 (es,t)=9 over (t,</w>)
    //  r3 (est,</w>)=9 alone
    //  r4 (l,o)=7 over (o,w)
    //  r5 (lo,w)=7
    val got = Bpe.train(paperDocs, nMerges = 5).orderBy("rank")
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count"))).toSeq
    assert(got == Seq(
      (1L, "e", "s", "es", 9L),
      (2L, "es", "t", "est", 9L),
      (3L, "est", "</w>", "est</w>", 9L),
      (4L, "l", "o", "lo", 7L),
      (5L, "lo", "w", "low", 7L)))
  }

  test("training stops when no pair reaches minCount") {
    val out = Bpe.train(Seq(("a b")).toDF("text"), nMerges = 10)
    assert(out.count() == 0)
  }

  test("merge kernel is left-to-right non-overlapping") {
    assert(Bpe.mergeOnce(Seq("a", "a", "a", "</w>"), "a", "a") ==
      Seq("aa", "a", "</w>"))
  }

  test("application follows rank priority (GPT-2 bpe loop)") {
    // with the 5 paper merges, 'lowest' → low + est</w>
    val ranks = Map(("e", "s") -> 1, ("es", "t") -> 2,
      ("est", "</w>") -> 3, ("l", "o") -> 4, ("lo", "w") -> 5)
    assert(Bpe.applyMerges("lowest".split("").toSeq :+ "</w>", ranks) ==
      Seq("low", "est</w>"))
    // an unknown word falls through to chars + terminal
    assert(Bpe.applyMerges("zz".split("").toSeq :+ "</w>", ranks) ==
      Seq("z", "z", "</w>"))
  }

  test("tokenCounts reports exact integer subword statistics per doc") {
    val merges = Bpe.train(paperDocs, nMerges = 5)
    val docs = Seq((1L, "lowest newest"), (2L, "low low")).toDF("doc_id", "text")
    val got = Bpe.tokenCounts(docs, merges).orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_subwords"), r.getAs[Double]("chars_per_subword"))).toSeq
    // lowest → low|est</w> (2); newest → n|e|w|est</w> (4): 6 subwords,
    // 12 chars → 2.0. low → low|</w>? no: 'low' = l,o,w,</w> → lo w? r4
    // merges (l,o), r5 (lo,w) → low, then (low,</w>) unranked → 2 each.
    assert(got == Seq((1L, 2L, 6L, 2.0), (2L, 2L, 4L, 1.5)))
  }

  test("local merge loop ≡ distributed loop: merges, final vocab, s0 (r19)") {
    // a corpus with real tie-breaks, repeats, multi-char merges and a
    // word that exhausts to a single symbol, across several docs
    val docs = Seq("aa ab aa ba bab", "abab baba aa aa b a",
      "ccc cc c ccc", "aa ab ba bab abab").toDF("text")
    def run(): (Seq[(Long, String, String, String, Long)], Set[(Seq[String], Long)], Option[Long]) = {
      val (m, v, s0) = Bpe.trainWithVocab(docs, nMerges = 12)
      val merges = m.orderBy("rank").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          r.getLong(4))).toSeq
      val vocab = v.collect().map(r =>
        (r.getSeq[String](0), r.getLong(1))).toSet
      v.unpersist()
      (merges, vocab, s0)
    }
    val (lm, lv, ls0) = run() // vocab 11 ≤ cap → local path
    DriverTier.withFallback { // force the distributed loop
      val (dm, dv, ds0) = run()
      assert(ds0.isEmpty, "distributed path must not report s0")
      assert(lm == dm, s"merge tables diverge:\nlocal $lm\ndist  $dm")
      assert(lv == dv, "final vocabularies diverge")
      // s0 from the local path equals the corpus-scan definition
      val s0Scan = docs.select(explode(split(col("text"), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .agg(sum(length(col("w")) + lit(1)).cast("long")).head.getLong(0)
      assert(ls0.contains(s0Scan), s"s0 ${ls0} != corpus scan $s0Scan")
    }
  }

  test("q276 conservation: every word reconstructs, bounds hold, totals exact (r17)") {
    val r = graft.ext.Bpe.q276(spark, sf("sf0.001")).collect()
    assert(r.length == 500, s"doc coverage ${r.length}")
    assert(r.forall(_.getBoolean(3)), "subword-count bounds violated")
    assert(r.forall(_.getBoolean(4)), "a word failed to reconstruct")
    assert(r.map(_.getLong(1)).sum > 0 && r.map(_.getLong(2)).sum > 0)
  }

}
