package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Partitioning
import graft.sources.Tables

/** Near-duplicate detection: MinHash signatures + LSH banding +
  * candidate-pair Jaccard verification + min-label connected components.
  * (SURVEY.md §2.5 near-dup design; the reference has no analytics
  * operators at all — this is a north-star extension for training-data
  * pipelines over the `documents` table.)
  *
  * Pipeline (no all-pairs comparison anywhere):
  *
  *   1. shingle: word n-grams, hashed to i64 (`shingleHashes`) —
  *      declarative column expressions, narrow.
  *   2. signature: `numPerm` minhashes via a COMPILED kernel
  *      (`minhashSignature` — a Scala UDF whose numPerm×shingles loop
  *      JIT-compiles; the r3 higher-order-function form evaluated
  *      interpreted/CodegenFallback and was the suite's hottest spot at
  *      ~64M boxed evals per 5k docs). Deterministic: permutation j is
  *      the murmur3 fmix64 finalizer of (shingleHash ⊕ j·golden-ratio),
  *      no RNG.
  *   3. LSH banding: signature split into `bands` bands; docs sharing
  *      any band hash become candidates. One explode + one shuffle on
  *      (band, bandSig).
  *   4. verify: exact Jaccard on the shingle-hash sets, only for
  *      candidate pairs — a COMPILED sorted-merge kernel over the
  *      sorted-distinct shingle arrays (`jaccardSortedUdf`; the r3/r4
  *      interpreted array_intersect/array_union pair was the verify
  *      hotspot).
  *   5. group: connected components by iterative min-label propagation;
  *      converges in O(component diameter) joins — near-dup groups are
  *      small by construction, so 2–4 iterations in practice, hard
  *      capped and convergence-checked with one action per iteration.
  *
  * 100 TB posture: cost is O(docs · numPerm) for signatures plus a
  * shuffle keyed on (band, bandSig). Candidate volume is controlled by
  * the (bands, rowsPerBand) S-curve — at threshold t, a pair with
  * Jaccard j collides with probability ≈ 1-(1-j^r)^b. The skew hazard
  * is a degenerate bucket (e.g. millions of IDENTICAL docs share every
  * band): `maxBucket` caps the per-bucket join fan-out and such floods
  * should be removed by exact dedup (xxhash64 of the full text) before
  * minhashing — exact dedup is cheaper and makes LSH buckets small.
  * Under-split inputs are widened to one task per core
  * (Partitioning.ensureParallelism) so the signature stage never runs
  * single-task on a small file.
  */
object NearDup {

  /** Distinct SORTED word-n-gram shingle hashes of a text column (i64
    * array). `try_element_at` returns NULL past the array end (even under
    * ANSI mode, where plain `element_at` throws INVALID_ARRAY_INDEX —
    * this build runs ANSI-on) and `concat_ws` skips NULLs, so texts
    * shorter than n words yield one shingle of the whole text.
    * Sorted ascending (native sort_array, codegen'd) so set operations
    * downstream can run as linear merges: the compiled sorted-merge
    * Jaccard kernel below, and any future sorted-intersect consumer.
    * Minhash is order-insensitive, SimHash's majority vote too. */
  def shingleHashes(text: Column, n: Int = 3): Column = {
    val words = split(text, " ")
    val nShingles = greatest(size(words) - (n - 1), lit(1))
    sort_array(array_distinct(transform(sequence(lit(0), nShingles - 1),
      i => xxhash64(concat_ws("",
        (0 until n).map(j => try_element_at(words, i + j + 1)): _*)))))
  }

  /** COMPILED kernel tier of [[shingleHashes]] — BIT-IDENTICAL output
    * (NearDupSpec pins it per doc on the fixture), used by every hot
    * path (q28/q35/q47 run it once per doc over the whole corpus). The
    * declarative tier's transform/sequence/xxhash64 chain is
    * CodegenFallback: it evaluates interpreted with per-element boxing
    * — the same trap as the r3 minhash and r6 simhash HOFs, and the
    * remaining interpreted stage in the near-dup lineages after those
    * two were compiled. Identity argument: `split(t, " ", -1)` keeps
    * trailing empties exactly like Spark's `split`; the hash is
    * Spark's own XXH64 over the shingle's UTF-8 bytes with the
    * expression tier's seed 42; TreeSet gives the same
    * sorted-distinct signed-ascending order as
    * sort_array∘array_distinct. */
  def shingleHashesKernel(text: Column, n: Int = 3): Column = {
    val kernel = udf { (t: String) =>
      if (t == null) null
      else {
        val words = t.split(" ", -1)
        val m = math.max(words.length - (n - 1), 1)
        val set = new java.util.TreeSet[java.lang.Long]()
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < m) {
          sb.setLength(0)
          var j = 0
          while (j < n && i + j < words.length) { sb.append(words(i + j)); j += 1 }
          val u = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
          set.add(org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L))
          i += 1
        }
        val out = new Array[Long](set.size)
        var k = 0
        val it = set.iterator()
        while (it.hasNext) { out(k) = it.next(); k += 1 }
        out
      }
    }
    kernel(text)
  }

  /** Compiled exact Jaccard over two SORTED distinct i64 arrays: one
    * linear merge counts the intersection; |union| = |a|+|b|−|inter|.
    * Same value as size(array_intersect)/size(array_union) (exact int
    * counts, one double division) but the loop JITs to machine code —
    * the interpreted array_intersect/array_union pair allocated and
    * hashed per-candidate over ~50-element arrays and was q28's verify
    * hotspot (r4 VERDICT perf item 4). Null if either side is null;
    * both-empty (never produced by shingleHashes) defines 1.0. */
  private[ext] val jaccardSortedUdf = udf { (a: Array[Long], b: Array[Long]) =>
    if (a == null || b == null) null.asInstanceOf[java.lang.Double]
    else {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      val union = a.length + b.length - inter
      java.lang.Double.valueOf(if (union == 0) 1.0 else inter.toDouble / union)
    }
  }

  /** murmur3 fmix64 finalizer — a public, well-mixed 64-bit bijection. */
  @inline private def fmix64(v: Long): Long = {
    var x = v
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33; x
  }

  /** MinHash signature (length numPerm) over a shingle-hash array.
    * Compiled kernel: permutation j of hash h is fmix64(h ⊕ j·φ64) — a
    * distinct deterministic bijection per j, so min over the shingle set
    * is a proper minhash. The two nested loops JIT to tight machine code
    * (≈ numPerm·|shingles| multiply-xor steps per doc). */
  def minhashSignature(hashes: Column, numPerm: Int = 128): Column = {
    val kernel = udf { (sh: Array[Long]) =>
      if (sh == null) null
      else {
        val out = new Array[Long](numPerm)
        var j = 0
        while (j < numPerm) {
          val seed = (j + 1) * 0x9E3779B97F4A7C15L
          var mn = Long.MaxValue
          var i = 0
          while (i < sh.length) {
            val x = fmix64(sh(i) ^ seed)
            if (x < mn) mn = x
            i += 1
          }
          out(j) = mn
          j += 1
        }
        out
      }
    }
    kernel(hashes)
  }

  /** LSH band hashes: array of `bands` structs (band index, band sig). */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bsig")))

  /** (id, shingle-hash array) with guaranteed parallelism — the input to
    * both the LSH banding and the Jaccard verification. */
  private def hashedShingles(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    Partitioning.ensureParallelism(docs).select(
      col(idCol).as("id"),
      shingleHashesKernel(col(textCol), shingleN).as("sh"))

  /** Candidate pairs (a < b) from LSH buckets on a pre-computed
    * (id, sh) frame. `hashed` is consumed three times (banding + both
    * verify sides) — callers persist it. */
  private def similarPairsFrom(
      hashed: DataFrame,
      numPerm: Int, bands: Int, threshold: Double, maxBucket: Int): DataFrame = {
    require(numPerm % bands == 0, s"numPerm=$numPerm not divisible by bands=$bands")
    val rowsPerBand = numPerm / bands

    val buckets = hashed
      .select(col("id"),
        explode(bandHashes(minhashSignature(col("sh"), numPerm), bands, rowsPerBand)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.bsig").as("bsig"))

    // Degenerate-bucket guard: a bucket of size m yields m(m-1)/2 pairs;
    // drop buckets beyond maxBucket (they indicate exact-dup floods that
    // belong in exact dedup, not LSH).
    val counted = buckets
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bsig")))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")

    val l = counted.select(col("band"), col("bsig"), col("id").as("a"))
    val r = counted.select(col("band"), col("bsig"), col("id").as("b"))
    val candidates = l.join(r, Seq("band", "bsig"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()

    val ha = hashed.select(col("id").as("a"), col("sh").as("sh_a"))
    val hb = hashed.select(col("id").as("b"), col("sh").as("sh_b"))
    candidates
      .join(ha, "a").join(hb, "b")
      .select(col("a"), col("b"),
        jaccardSortedUdf(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate pairs (a < b) from LSH buckets, Jaccard-verified.
    * Output: (a, b, jaccard) with jaccard >= threshold.
    *
    * The shingle frame is persisted here (it feeds banding AND both
    * verify sides — without the cache the scan+shingling runs 3×, and
    * ran 3× single-task in r3). The cache block is released by Spark's
    * ContextCleaner once the returned plan is no longer referenced;
    * `nearDupGroups` manages the lifecycle explicitly instead. */
  def similarPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numPerm: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val hashed = hashedShingles(docs, idCol, textCol, shingleN).persist()
    similarPairsFrom(hashed, numPerm, bands, threshold, maxBucket)
  }

  /** INCREMENTAL near-dup screening: flag each INCOMING doc that
    * near-dups any HISTORY doc — the production daily-increment shape.
    * A steady-state corpus never re-clusters itself per batch: history's
    * shingle/band frames are sunk cost from prior runs (at 100 TB they
    * live as bucketed tables on (band, bsig) — Partitioning's
    * co-location — so this join shuffles ONLY the increment), and the
    * candidate join is increment-bands ⋈ history-bands, never
    * history × history. Per-side degenerate-bucket guards (the
    * similarPairsFrom rationale) cap flood buckets before the join.
    *
    * Output per flagged incoming doc: (doc_id, n_matches, best_match =
    * the history doc with the highest verified Jaccard — (j DESC,
    * hid ASC) tie-break via TopKAggregator(1), ranking on the
    * UNROUNDED Jaccard, which is bit-identical across engines
    * (integer-count arithmetic + one divide) — and best_jaccard at
    * 6dp). Candidate recall above the threshold is the q28/q35
    * banding-parameter argument; the shingle frames persist with
    * [[similarPairs]]'s ContextCleaner lifecycle. */
  /** Pre-computed history side of incremental screening — what a
    * production deployment persists between daily runs: the shingle
    * frame (hid, sh_h — the Jaccard-verify side, keyed by id) and the
    * band frame (hid, band, bsig — the candidate side, stored bucketed
    * on (band, bsig) at 100 TB so the increment join shuffles only the
    * increment). Building this is the SUNK cost the incremental shape
    * amortizes; ScaleBench's `incremental` mode times prep and screen
    * separately to pin that claim. */
  final case class HistoryIndex(shingles: DataFrame, bands: DataFrame) {
    def persist(): this.type = { shingles.persist(); bands.persist(); this }
    def unpersist(): Unit = { shingles.unpersist(); bands.unpersist() }
  }

  /** (id→name, band, bsig) band frame with the degenerate-bucket guard
    * applied per side (the similarPairsFrom rationale). */
  private def bandedOf(h: DataFrame, name: String, numPerm: Int,
      bands: Int, maxBucket: Int): DataFrame =
    h.select(col("id").as(name),
        explode(bandHashes(minhashSignature(col("sh"), numPerm), bands,
          numPerm / bands)).as("bh"))
      .select(col(name), col("bh.band").as("band"), col("bh.bsig").as("bsig"))
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bsig")))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")

  /** Build the [[HistoryIndex]] for [[screenIncrement]]. Frames are NOT
    * persisted here — the caller owns the lifecycle (persist for a
    * single-session screen; write as bucketed tables in production). */
  def historyIndex(
      history: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numPerm: Int = 128,
      bands: Int = 32,
      maxBucket: Int = 10000): HistoryIndex = {
    require(numPerm % bands == 0, s"numPerm=$numPerm not divisible by bands=$bands")
    val hh = hashedShingles(history, idCol, textCol, shingleN)
    HistoryIndex(
      hh.select(col("id").as("hid"), col("sh").as("sh_h")),
      bandedOf(hh, "hid", numPerm, bands, maxBucket))
  }

  /** Screen one increment against a pre-built [[HistoryIndex]] — the
    * recurring per-batch cost: shingle+band the increment, join its
    * bands against the index bands, Jaccard-verify candidates. Never
    * touches history × history. Output contract as [[dedupIncremental]]. */
  def screenIncrement(
      index: HistoryIndex,
      incoming: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numPerm: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    require(numPerm % bands == 0, s"numPerm=$numPerm not divisible by bands=$bands")
    val hi = hashedShingles(incoming, idCol, textCol, shingleN).persist()
    val cand = bandedOf(hi, "id", numPerm, bands, maxBucket)
      .join(index.bands, Seq("band", "bsig"))
      .select("id", "hid").distinct()
    val top1 = udaf(new graft.functions.TopKAggregator(1))
    cand
      .join(hi.select(col("id"), col("sh").as("sh_i")), Seq("id"))
      .join(index.shingles, Seq("hid"))
      .select(col("id"), col("hid"), jaccardSortedUdf(col("sh_i"), col("sh_h")).as("j"))
      .filter(col("j") >= threshold)
      .groupBy("id")
      .agg(count(lit(1)).as("n_matches"), top1(col("hid"), col("j")).as("best"))
      .select(col("id").as("doc_id"), col("n_matches"),
        col("best")(0).getField("id").as("best_match"),
        round(col("best")(0).getField("score"), 6).as("best_jaccard"))
  }

  def dedupIncremental(
      history: DataFrame,
      incoming: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numPerm: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val idx = historyIndex(history, idCol, textCol, shingleN, numPerm,
      bands, maxBucket).persist()
    screenIncrement(idx, incoming, idCol, textCol, shingleN, numPerm,
      bands, threshold, maxBucket)
  }

  /** Q91 (r10) — incremental near-dup screening under the ORACLE gate:
    * incoming = doc_id % 5 == 0, history = the rest; DuckDB rebuilds
    * the EXACT incoming×history Jaccard matches (banding is recall-
    * lossless at the fixture regime, the q35 argument) with the same
    * best-match tie-break. */
  def q91(s: SparkSession, d: String): DataFrame = {
    val docs = graft.sources.Tables.documents(s, d)
    dedupIncremental(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
      .orderBy("doc_id")
  }

  /** Connected components over the similar-pair graph: every doc gets a
    * group_id = min doc id reachable from it. Docs with no near-dup are
    * their own group. The components are
    * [[graft.operators.Graph.connectedComponents]] over the verified
    * pairs — its driver tier when the pair set is bounded, its
    * propagation loop (at most `maxIter` rounds, failing fast when the
    * graph is deeper) otherwise.
    *
    * Only pair ENDPOINTS go through the components: a doc with no
    * verified near-dup edge can never change label, so non-endpoints
    * rejoin as identity groups at the end. The endpoint label frame is
    * a LocalRelation or a localCheckpointed frame, so every LSH cache
    * is released HERE; the returned plan holds only that tiny frame
    * plus a re-computable doc scan. A production deployment would
    * `write` the labels to a table instead (reliable storage). */
  def nearDupGroups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numPerm: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxIter: Int = 20): DataFrame = {
    val hashed = hashedShingles(docs, idCol, textCol, shingleN).persist()
    val pairs = similarPairsFrom(hashed, numPerm, bands, threshold, maxBucket = 10000)
      .select("a", "b").persist()
    val labels = graft.operators.Graph.connectedComponents(pairs, maxIter)
    pairs.unpersist(); hashed.unpersist()
    docs.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("component"), col("id")).as("group_id"))
  }

  /** Dedup: keep one representative (the min-id doc) per near-dup group. */
  def dedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numPerm: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    val keepers = nearDupGroups(docs, idCol, textCol, shingleN, numPerm, bands, threshold)
      .filter(col(idCol) === col("group_id"))
      .select(col(idCol))
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  /** Dedup keeping the BEST member per near-dup group by a caller-
    * supplied score (ties → lowest id) — the curation-grade variant of
    * [[dedup]]: a real pipeline keeps the longest / highest-quality
    * copy, not the accidentally-lowest id. The per-group argmax is the
    * same TopKAggregator(1) hash aggregation as Ann.assign (map-side
    * partial, ObjectHashAggregate — no window sort of the group
    * members; the max_by struct buffer would fall back to
    * SortAggregate, Ann.assign scaladoc). The groups frame is one row
    * per doc, so the score join is doc_id-co-partitioned with the agg
    * shuffle. */
  def dedupBest(
      docs: DataFrame,
      score: Column,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val top1 = udaf(new graft.functions.TopKAggregator(1))
    val keepers = nearDupGroups(docs, idCol, textCol)
      .join(docs.select(col(idCol), score.cast("double").as("__score")), Seq(idCol))
      .groupBy("group_id")
      .agg(top1(col(idCol), col("__score")).as("t1"))
      .select(col("t1").getItem(0).getField("id").as(idCol))
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  /** Q72 — keep-best dedup under the ORACLE gate: keep the LONGEST doc
    * per near-dup group (ties → lowest doc_id). The oracle derives the
    * same keepers from the fixture's prefix groups (the q28/q54
    * LSH-groups ≡ prefix-groups argument) with a ROW_NUMBER window
    * ordered by length DESC, doc_id. */
  def q72(s: SparkSession, d: String): DataFrame =
    dedupBest(Tables.documents(s, d), length(col("text")))
      .select("doc_id")
      .orderBy("doc_id")

  /** Q35 — n-gram (shingle) Jaccard near-dup pairs on `documents`:
    * (a, b, jaccard) for verified pairs at threshold 0.5 — the brief's
    * fourth dedup modality (n-gram Jaccard) as its own oracle-checked
    * entry. Candidates come from the LSH banding (similarPairs), so the
    * engine never scores all pairs; the DuckDB oracle derives the same
    * set from first principles with a relational set-similarity join
    * (unnest shingles → equi-join on shingle → intersection counts).
    * Exactness at the fixture: every true pair has Jaccard ≥ 0.9
    * (LSH miss probability (1−0.9⁴)³² ≈ 1e-15) and every non-pair
    * ≤ ~0.07, so no pair falls in the band where 32×4 banding is
    * probabilistic — same argument as q28's oracle. */
  def q35(s: SparkSession, d: String): DataFrame = {
    val hashed = hashedShingles(Tables.documents(s, d), "doc_id", "text", 3).persist()
    val out = similarPairsFrom(hashed, numPerm = 128, bands = 32,
        threshold = 0.5, maxBucket = 10000)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
      .localCheckpoint(true) // pin the tiny pair set, then release the shingle cache
    hashed.unpersist()
    out.orderBy("a", "b")
  }

  /** Q28 — MinHash near-dup groups on `documents`: (keeper, n_members)
    * per multi-member group. The fixture's near-dup groups (shared
    * 40-char prefixes, in-group Jaccard >= 0.9, cross-group <= ~0.07)
    * are exactly recoverable at threshold 0.5, so the DuckDB oracle is
    * the prefix-group query — the same ground truth as Q25, reached via
    * LSH instead of a group-by key. */
  def q28(s: SparkSession, d: String): DataFrame =
    nearDupGroups(Tables.documents(s, d))
      .groupBy("group_id")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
      .select("keeper", "n_members")
      .orderBy("keeper")
}
