package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Text-pipeline operators over the `documents` table (SURVEY.md §2.5:
  * dedup + text analysis extensions). All plans are shuffle-minimal:
  * one hash aggregation per query, no UDFs in these SQL-checkable ops.
  */
object TextOps {

  /** Reference-slice modulus for the bigram LM tier (q263/q269/q267):
    * docs with doc_id % LmRefMod == 0 form the reference corpus. ONE
    * constant shared by [[bigramLmScore]], [[lmCtes]], the q267
    * union filter, and S52's serving-side exclusion
    * ([[graft.streaming.StreamOps.lmBucketStream]]), so engine,
    * oracle and serving twin cannot silently diverge. */
  private[graft] val LmRefMod: Int = 25

  /** Q25 — key-based dedup: group on a content key, elect the keeper
    * (min doc_id), count members. The declared key is the 40-char text
    * prefix (the documents table has no exact duplicate texts; see
    * FIXTURES.md). At 100 TB the same plan holds: the group-by key is
    * hashed and shuffled once; no global sort of members. */
  def q25(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(substring(col("text"), 1, 40).as("prefix"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
      .orderBy("keeper")

  /** Q26 — tokenize + term count (explode is narrow; the only shuffle
    * is the word-count aggregation, with map-side partial counts). */
  def q26(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .select(col("w").as("word"), col("n"))
      .limit(20)

  // ---- per-document text-analysis column functions (declarative
  // higher-order-function expressions — narrow, zero-shuffle per doc.
  // NOTE: HOFs evaluate interpreted/CodegenFallback, not inside
  // WholeStageCodegen; acceptable here because each runs once per doc
  // over a short token array, never in a per-pair hot loop) ----

  private def tokens(text: Column): Column = split(text, " ")

  /** Fraction of whitespace tokens found in `vocab` (4dp double). */
  def tokenRatio(text: Column, vocab: Seq[String]): Column = {
    val vocabCol = array(vocab.map(lit): _*)
    round(
      size(filter(tokens(text), w => array_contains(vocabCol, w))).cast("double") /
        size(tokens(text)), 4)
  }

  /** Compiled kernel tier of [[tokenRatio]] — same contract as
    * `NearDup.shingleHashesKernel`: BIT-IDENTICAL output (pinned by
    * TextAnalysisSpec incl. multi-space/trailing-space/null edges), for
    * corpus-wide hot paths where the declarative HOF's interpreted
    * evaluation is the bottleneck (measured r9: the HOF costs ~3.7 s
    * over 250k docs inside q54's curation chain — once per doc, but at
    * curation scale "once per doc" IS the hot loop). Replication notes:
    * Spark `split(str, " ")` is Java `String.split(" ", -1)` (keeps
    * trailing empties); Spark `round(double, 4)` is
    * `java.math.BigDecimal.valueOf(x).setScale(4, HALF_UP)`. q30/q31
    * keep the declarative tier (they run at gate scale and stay
    * lambda-free); q54 uses this kernel. */
  def tokenRatioKernel(text: Column, vocab: Seq[String]): Column = {
    val vset = vocab.toSet
    val k = udf { (t: String) =>
      if (t == null) null.asInstanceOf[java.lang.Double]
      else {
        val parts = t.split(" ", -1)
        var m = 0
        var i = 0
        while (i < parts.length) { if (vset(parts(i))) m += 1; i += 1 }
        java.lang.Double.valueOf(
          java.math.BigDecimal.valueOf(m.toDouble / parts.length)
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
      }
    }
    k(text)
  }

  /** Mean token length for single-space-separated text:
    * (chars − separators) / tokens. */
  def avgTokenLen(text: Column): Column =
    round((length(text) - size(tokens(text)) + 1.0) / size(tokens(text)), 4)

  /** Regex token count — a BPE-ish pre-tokenizer shape: letter runs,
    * digit runs, single other non-space chars. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Content fingerprint: md5 over whitespace-normalized text. Exact-dup
    * detection at 100 TB groups on this 128-bit key instead of the full
    * text — the shuffle carries 16 bytes per doc, not documents. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(text), " +", " "))

  private[ext] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val enMarkers = Seq("the", "is", "and", "of", "a")

  /** Q30 — document quality scoring: length, token count, mean token
    * length, stopword ratio. One narrow projection, no shuffle before
    * the output sort. */
  def q30(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("n_chars"),
      size(tokens(col("text"))).cast("bigint").as("n_tokens"),
      avgTokenLen(col("text")).cast("double").as("avg_token_len"),
      tokenRatio(col("text"), stopwords).cast("double").as("stopword_ratio"))
      .orderBy("doc_id").limit(100)

  /** Q31 — language ID by marker-token ratio (n-gram/stopword heuristic;
    * a real model plugs in behind the same column signature). */
  def q31(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      tokenRatio(col("text"), enMarkers).cast("double").as("en_ratio"))
      .withColumn("lang_pred",
        when(col("en_ratio") >= 0.05, "en").otherwise("und"))
      .orderBy("doc_id").limit(100)

  /** Q32 — token counting: regex (BPE-ish) vs whitespace tokenization. */
  def q32(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      regexTokenCount(col("text")).cast("bigint").as("n_re_tokens"),
      size(tokens(col("text"))).cast("bigint").as("n_ws_tokens"))
      .orderBy("doc_id").limit(100)

  /** Q33 — document fingerprinting (md5 of normalized text). */
  def q33(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").limit(100)

  /** Q43 — TF-IDF: the training-data-pipeline "which terms typify this
    * document" scorer. Three aggregations that all reuse the ONE
    * explode: tf per (doc, term), df per term, corpus size N as a
    * broadcast scalar (computed distributively — no driver .count()).
    * At scale tf and df shuffle on different keys by necessity (doc vs
    * term); df is vocabulary-sized, so the tf⋈df join broadcasts when
    * the vocabulary fits and shuffles on `w` otherwise — AQE's call.
    * Score presented ROUND(,6): both engines compute tf·ln(N/df) on
    * bit-identical double inputs. */
  def q43(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tok.distinct().groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "w").crossJoin(broadcast(n))
      .select(col("doc_id"), col("w").as("word"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"), col("word"))
      .limit(50)
  }

  // ---- SimHash (near-dup fingerprint; no SQL-expressible oracle —
  // verified by ScalaTest against the fixture's near-dup groups) ----

  /** 64-bit SimHash over shingle hashes: bit b of the output is set iff
    * the majority of shingles have bit b set (ties → set, matching the
    * `>= 0` vote of the reference HOF tier below).
    *
    * COMPILED kernel (r6): the r5 HOF form ran interpreted at
    * 64·|shingles| boxed evals per doc — the same CodegenFallback trap
    * as the r3 minhash (NearDup.minhashSignature's scaladoc); this
    * while-loop JITs. `simHashHof` is kept as the declarative reference
    * tier; TextAnalysisSpec asserts bit-identical outputs. */
  def simHash(shingles: Column): Column = {
    val kernel = udf { (sh: Array[Long]) =>
      if (sh == null) null
      else {
        var out = 0L
        var b = 0
        while (b < 64) {
          var acc = 0
          var i = 0
          while (i < sh.length) {
            acc += (if (((sh(i) >>> b) & 1L) == 1L) 1 else -1)
            i += 1
          }
          if (acc >= 0) out |= (1L << b)
          b += 1
        }
        java.lang.Long.valueOf(out)
      }
    }
    kernel(shingles)
  }

  /** Declarative reference tier of [[simHash]] (interpreted HOFs — do
    * not use in hot paths). */
  def simHashHof(shingles: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(63)), b =>
        when(aggregate(shingles, lit(0),
          (acc, h) => acc + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1).otherwise(-1)) >= 0,
          call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))

  /** Hamming distance between two simhashes. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs, Manku-style block banding (Manku/Jain/
    * Sarma, WWW 2007 "Detecting Near-Duplicates for Web Crawling"):
    * split the 64-bit simhash into `maxDist + 1` contiguous blocks —
    * two hashes within Hamming distance `maxDist` differ in at most
    * `maxDist` bit positions, so by pigeonhole at least one of the
    * `maxDist + 1` blocks is untouched and the pair collides on that
    * block's key. Banding therefore has ZERO false negatives at the
    * declared distance, for ANY `maxDist` in [0, 63].
    *
    * SCALE HONESTY (r6 verdict #4): expected candidate volume is
    * O(bands · n² / 2^width) with width ≈ 64/bands. The distance bound
    * picks the operating point:
    *  - maxDist = 3 → 4 blocks × 16-bit keys → n²/16384-ish candidates —
    *    the 100 TB configuration (Manku's production setting).
    *  - maxDist = 7 → 8 blocks × 8-bit keys → n²/32 candidates —
    *    quadratic-ish; usable only AFTER exact dedup (q25/q33) has
    *    collapsed identical texts, and guarded by `maxBucket` below.
    * This is NOT the same scale shape as MinHash LSH (whose band keys
    * are 4 × 32-bit minhashes ≈ unbounded key space); wider blocks —
    * i.e. a tighter `maxDist` — are the lever.
    *
    * Plan shape (r6 verdict #1/#2 fixes):
    *  - the (id, simhash) frame is persisted — it feeds both join sides,
    *    and without the cache the interpreted shingle HOF + simhash
    *    kernel lineage computes once PER SIDE (the r7 bench measured the
    *    double lineage at 12.9–15.6 s; the persisted plan halves the
    *    kernel work). The tiny verified pair set is localCheckpoint-ed
    *    (eager), then the cache is released before returning — the q35
    *    lifecycle pattern.
    *  - degenerate-bucket guard: a block-key bucket of size m yields
    *    m(m−1)/2 candidates per band; buckets beyond `maxBucket` are
    *    exact-dup floods that belong in exact dedup (q25), not banding —
    *    same windowed-count cap as MinHash LSH. Dropping is OBSERVABLE:
    *    the over-cap bucket count is computed eagerly (one cheap agg
    *    over the cached simhash frame) and logged as a warning when
    *    non-zero, because the cap has a silent-recall-loss breakeven —
    *    with random hashes the expected bucket size is n/2^width, so
    *    once n ≳ maxBucket·2^width (maxDist=7 → width 8 → ~2.6M docs at
    *    the default cap) EVERY bucket exceeds the cap and the query
    *    returns zero pairs. At that corpus size tighten maxDist (wider
    *    blocks) or raise maxBucket; the warning is the tripwire.
    *  - the XOR+popcount Hamming filter runs codegen'd map-side straight
    *    out of the join, BEFORE the distinct, so only true near-dup
    *    pairs reach the distinct's shuffle. */
  def simHashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      maxDist: Int = 7,
      maxBucket: Int = 10000): DataFrame = {
    require(maxDist >= 0 && maxDist <= 63, s"maxDist=$maxDist outside [0, 63]")
    val bands = maxDist + 1
    // distribute 64 bits over the blocks as evenly as possible
    val widths = Seq.tabulate(bands)(b => 64 / bands + (if (b < 64 % bands) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _).init
    val sh = docs.select(col(idCol).as("id"),
      simHash(NearDup.shingleHashesKernel(col(textCol), shingleN)).as("sh"))
      .persist()
    val bandCols = (0 until bands).map { b =>
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
      struct(lit(b).as("band"),
        call_function("shiftright", col("sh"), lit(starts(b))).bitwiseAND(lit(mask)).as("bv"))
    }
    val banded = sh.select(col("id"), col("sh"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sh"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    // tripwire for the cap's recall-loss regime (scaladoc above): count
    // the over-cap buckets eagerly — input is the cached `sh` frame, so
    // this is one small extra aggregation, not a recompute of the kernels
    val nDropped = banded.groupBy("band", "bv").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).count()
    if (nDropped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"simHashPairs: $nDropped band-key buckets exceed maxBucket=$maxBucket and were " +
          s"dropped from candidate generation (exact-dup flood or past the n~maxBucket*2^width " +
          s"breakeven); pairs inside them are NOT reported — run exact dedup first, tighten " +
          s"maxDist, or raise maxBucket")
    val counted = banded
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bv")))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val l = counted.select(col("band"), col("bv"), col("id").as("a"), col("sh").as("sha"))
    val r = counted.select(col("band"), col("bv"), col("id").as("b"), col("sh").as("shb"))
    val out = l.join(r, Seq("band", "bv")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), hammingDistance(col("sha"), col("shb")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
      .localCheckpoint(true) // pin the tiny pair set, then release the simhash cache
    sh.unpersist()
    out
  }

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS algorithm): Rabin-Karp ROLLING hash over char k-grams of
    * the whitespace-normalized lowercased text, then per window of `w`
    * consecutive hashes keep the minimum (rightmost on ties), deduped
    * by position. Guarantees: any shared substring of length ≥ k+w-1
    * yields at least one shared fingerprint, and density is ~2/(w+1) —
    * so matching is local (a shared paragraph is detectable no matter
    * what surrounds it), unlike q33's whole-document md5. Output:
    * array<bigint> of selected hashes, ~2·len/(w+1) per doc.
    *
    * Scale posture: pure per-row compiled kernel (no shuffle); the
    * downstream near-dup join is `explode` → equi-join on the hash —
    * same banded-join shape as minhash/LSH but with substring-match
    * semantics instead of set-Jaccard. */
  def winnowFingerprint(text: Column, k: Int = 8, w: Int = 4): Column = {
    val kernel = udf { (t: String) =>
      if (t == null) null else winnowKernel(t, k, w)._2
    }
    kernel(text)
  }

  /** The winnow kernel plus its OWN normalized length (UTF-16 code
    * units of the Locale.ROOT-lowercased, whitespace-collapsed text) as
    * `struct<norm_len: bigint, fp: array<bigint>>`. q278's density
    * bound must use the SAME length arithmetic the k-gram count comes
    * from — Spark's `length()` counts code POINTS and `lower()` can
    * case-map differently, so recomputing the length column-side makes
    * the bound spuriously falsifiable on non-BMP text (r18 ADVICE). */
  def winnowWithLen(text: Column, k: Int = 8, w: Int = 4): Column = {
    val kernel = udf { (t: String) =>
      if (t == null) null else winnowKernel(t, k, w)
    }
    kernel(text)
  }

  /** Shared kernel: returns (normalized length in UTF-16 code units,
    * selected fingerprints). Lowercasing is Locale.ROOT — the rolling
    * hash must not depend on the JVM's default locale. */
  private def winnowKernel(t: String, k: Int, w: Int): (Long, Array[Long]) = {
    val s = t.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ").trim
    val n = s.length - k + 1
    if (n <= 0) (s.length.toLong, Array.empty[Long])
    else {
      val B = 1000003L
      var pow = 1L
      var i = 0
      while (i < k - 1) { pow *= B; i += 1 }
      val hs = new Array[Long](n)
      var h = 0L
      i = 0
      while (i < k) { h = h * B + s.charAt(i); i += 1 }
      hs(0) = h
      i = 1
      while (i < n) {
        h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + k - 1)
        hs(i) = h
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var lastPos = -1
      var j = 0
      val windows = math.max(n - w + 1, 1)
      val ww = math.min(w, n)
      while (j < windows) {
        var minPos = j
        var p = j + 1
        while (p < j + ww) { if (hs(p) <= hs(minPos)) minPos = p; p += 1 }
        if (minPos != lastPos) { out += hs(minPos); lastPos = minPos }
        j += 1
      }
      (s.length.toLong, out.toArray)
    }
  }

  /** Q50 — winnowing fingerprints as a DECLARED query (rows-only
    * driver check, like q47: the rolling-hash selection has no
    * DuckDB-expressible oracle; the substring-match guarantee and
    * density contracts live in TextAnalysisSpec). Presents per-doc
    * fingerprint count and the min hash — both deterministic. */
  def q50(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        winnowFingerprint(col("text")).as("fp"))
      .select(col("doc_id"), size(col("fp")).cast("bigint").as("n_fp"),
        array_min(col("fp")).as("min_fp"))
      .orderBy("doc_id")

  /** Q278 — the q50 winnowing selection's DENSITY CONTRACT under the
    * ORACLE gate (r17 derived-invariant tier): the selected hashes
    * stay rows-only, but the guarantee is checkable — a selected
    * position stays the window minimum for at most min(w, n) windows,
    * so ⌈windows / min(w, n)⌉ ≤ n_fp ≤ windows (windows = max(n − w
    * + 1, 1), n = normLen − k + 1). `norm_len` comes from the KERNEL
    * itself ([[winnowWithLen]] — same code units, same Locale.ROOT
    * lowercase as the k-gram count; r18 ADVICE fix: a column-side
    * recompute via `length()`/`lower()` counts code points and can
    * case-map differently, making density_ok spuriously false on
    * non-BMP text). DuckDB's mirrored `LENGTH(TRIM(...))` arithmetic
    * agrees wherever code points = code units (the fixture); docs
    * shorter than k produce no k-gram and are excluded on both
    * sides. */
  def q278(s: SparkSession, d: String): DataFrame = {
    val k = 8; val w = 4
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), winnowWithLen(col("text")).as("wl"))
      .select(col("doc_id"),
        col("wl._1").as("norm_len"),
        size(col("wl._2")).cast("long").as("n_fp"))
      .filter(col("norm_len") >= k)
      .select(col("doc_id"), col("norm_len"), {
        val n = col("norm_len") - lit((k - 1).toLong)
        val windows = greatest(n - lit((w - 1).toLong), lit(1L))
        val ww = least(lit(w.toLong), n)
        (col("n_fp") >= ceil(windows.cast("double") / ww.cast("double"))
          .cast("long") && col("n_fp") <= windows).as("density_ok")
      })
      .orderBy("doc_id")
  }

  /** Q47 — SimHash near-dup pairs as a DECLARED query (rows-only
    * driver check: simhash has no DuckDB-expressible oracle; the
    * Hamming/banding contracts live in TextAnalysisSpec). Default
    * banding: Hamming ≤ 7 with zero false negatives. */
  def q47(s: SparkSession, d: String): DataFrame =
    simHashPairs(Tables.documents(s, d))
      .orderBy("a", "b")

  /** Q280 — the q47 SimHash banding's QUALITY CONTRACT under the
    * ORACLE gate (r18; closes the q47 row of the derived-invariant
    * tier, the q277 epistemics): the pair set itself stays rows-only
    * (the simhash bits are algorithm-defined 64-bit arithmetic DuckDB
    * cannot replay), but its quality against the fixture's
    * DuckDB-expressible ground truth — the 40-char-prefix near-dup
    * groups, the exact q25/q28 oracle family — is strictly checkable:
    *  - `n_truth_pairs`: Σ C(n,2) over prefix groups, recomputed
    *    independently by both engines;
    *  - `n_pairs`: the exact emitted-pair count. Empirically every
    *    emitted pair is a truth pair (n_fp = 0 measured at all three
    *    SFs), so this IS the recalled-pair count — a stable fixture
    *    constant the oracle pins per scale (keyed on corpus size; a
    *    regenerated documents fixture requires re-pinning, which this
    *    comment documents deliberately);
    *  - `n_fp`: |emitted − truth| = 0 — any spurious pair flips the
    *    gate corpus-wide;
    *  - `recall_ok`: recalled ≥ 85% of truth — the scale-portable
    *    floor (measured 26/28 at sf0.001, 229/256 at sf0.1; a
    *    ~0.9-Jaccard pair usually but not always lands within
    *    Hamming 7 — MinHash q28 is the exact-recall path).
    * Plan: the pair set is tiny (≤ hundreds of rows); both joins
    * against the prefix-truth pairs broadcast it. */
  def q280(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pref = docs.select(substring(col("text"), 1, 40).as("p"),
      col("doc_id"))
    val truth = pref.as("x").join(pref.as("y"),
        col("x.p") === col("y.p") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .localCheckpoint(true)
    val pairs = simHashPairs(docs).select("a", "b").localCheckpoint(true)
    val nTruth = truth.count()
    val nPairs = pairs.count()
    val nFp = pairs.join(truth, Seq("a", "b"), "left_anti").count()
    val nRecalled = nPairs - nFp
    val sess = s
    import sess.implicits._
    Seq((nTruth, nPairs, nFp, nRecalled * 20L >= nTruth * 17L))
      .toDF("n_truth_pairs", "n_pairs", "n_fp", "recall_ok")
  }

  /** Winnow-fingerprint near-dup pairs: docs whose winnowing-fingerprint
    * SETS have Jaccard ≥ `threshold`. The candidate generation is the
    * fingerprint equi-join (explode → join on fp → per-pair intersection
    * count), i.e. the MOSS "shared fingerprint" match, then the exact
    * set-Jaccard verify: i / (|A| + |B| − i).
    *
    * Scale posture — the q28/q35 candidates-then-verify split:
    *  - CANDIDATES come from the fingerprint equi-join restricted to
    *    informative fingerprints (document frequency ≤ `maxDocFreq`).
    *    The cap is the analog of MinHash's maxBucket guard: a
    *    "stopword 8-gram" present in hundreds of docs floods its join
    *    bucket quadratically while carrying no near-dup signal —
    *    measured at sf0.1 the uncapped join pushed 12M+ candidate pairs
    *    from 5,000 docs (~43 s); capped it's ~2 s. Recall condition: a
    *    true pair must share ≥ 1 fingerprint with df ≤ maxDocFreq —
    *    guaranteed whenever a near-dup group of ≤ maxDocFreq docs has
    *    any group-unique k+w−1-char run (the winnowing guarantee
    *    applied to the group's distinctive content).
    *  - VERIFY is the EXACT set-Jaccard over the FULL fingerprint sets
    *    (compiled sorted-merge kernel, candidates only) — the score
    *    semantics are the true fingerprint Jaccard, unaffected by the
    *    cap.
    *
    * Choosing `maxDocFreq` (r9 scaling measurement, BASELINE.md): the
    * candidate join emits ≤ Σ_kept df² ≈ instances·E[df|kept] pairs, so
    * the cap is a LINEAR multiplier on candidate volume — and the df
    * histogram's mid-band (2..cap) gains mass as the corpus grows, which
    * made cap=100 superlinear on the 1×/10×/50× curve (2.8→27.9→426 s;
    * 15× time for the last 5× data). The recall condition above only
    * needs df ≈ the near-dup GROUP SIZE (a group's distinctive run
    * appears in exactly its members), so the default is 10 — measured
    * 2.3→8.1→56 s (near-linear) at 99.6% of the cap=100 pair yield. Raise
    * it for corpora with genuinely large duplicate clusters (and run
    * exact dedup q25/q33 first so those collapse before banding — the
    * same answer as SimHash's flood guard), and for LOW-DIVERSITY
    * corpora: df also carries a CHANCE-share component that scales with
    * nDocs/vocabulary-diversity, bounded only when vocab grows with the
    * corpus (Heaps' law — true of real text, not of fixed-vocab
    * synthetic soup; measured r9: the sf0.1 fixture needs cap 100 for
    * full recall at 5k docs while the Heaps-law 250k corpus keeps
    * 99.6% at cap 10 — see q51's scaladoc and BASELINE.md). */
  def winnowPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      w: Int = 4,
      threshold: Double = 0.5,
      maxDocFreq: Int = 10): DataFrame = {
    val wfp = docs.select(col(idCol).as("id"),
      array_sort(array_distinct(winnowFingerprint(col(textCol), k, w))).as("fps"))
      .persist()
    val fpx = wfp.select(col("id"), explode(col("fps")).as("fp"))
    val kept = fpx
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("df") <= maxDocFreq)
      .drop("df")
    val candidates = kept.select(col("fp"), col("id").as("a"))
      .join(kept.select(col("fp"), col("id").as("b")), "fp")
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    val out = candidates
      .join(wfp.select(col("id").as("a"), col("fps").as("fps_a")), "a")
      .join(wfp.select(col("id").as("b"), col("fps").as("fps_b")), "b")
      .filter(NearDup.jaccardSortedUdf(col("fps_a"), col("fps_b")) >= threshold)
      .select(col("a"), col("b"))
      .localCheckpoint(true) // pin the tiny pair set, release the fp cache
    wfp.unpersist()
    out
  }

  /** Q54 — the training-data pipeline END-TO-END, under the ORACLE
    * gate: near-dup dedup (MinHash LSH + connected components, keep the
    * min-id representative per group) → quality filter (length ≥ 60,
    * stopword ratio ≥ 0.02 — cuts that really drop docs: 440/500
    * survive at sf0.01) → deterministic 25% hash sample (first md5 hex
    * digit ∈ {0..3}). Each stage is individually gated (q28, q30, q42);
    * this entry proves they COMPOSE — the 100 TB corpus-curation job is
    * exactly this chain, with the dedup shuffle dominating and the
    * narrow quality/sample filters fused into the post-join projection.
    * The DuckDB ground truth rebuilds the chain relationally: prefix-
    * group min for the dedup stage (the q28 fixture argument), the q30
    * quality expressions, the q42 sample predicate. */
  def q54(s: SparkSession, d: String): DataFrame =
    NearDup.dedup(Tables.documents(s, d))
      .filter(length(col("text")) >= 60)
      .filter(tokenRatioKernel(col("text"), stopwords) >= 0.02)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .select("doc_id")
      .orderBy("doc_id")

  /** Q51 — winnowing near-dup pairs under the ORACLE gate: the
    * fixture's near-dup groups (shared 40-char prefix, in-group text
    * Jaccard ≥ 0.9) are exactly the fingerprint-Jaccard-≥0.5 pairs —
    * measured at sf0.01: in-group fingerprint Jaccard ∈ [0.913, 0.995],
    * cross-group ≤ 0.157, so no pair sits anywhere near the 0.5 cut.
    * The DuckDB ground truth is the prefix-pair query — same answer,
    * independent derivation (the q28/q35 argument, giving the winnowing
    * modality a hash-checked entry; q50 keeps the per-doc fingerprint
    * surface as a rows-only check).
    *
    * maxDocFreq is pinned to 100 HERE (not the library default 10): a
    * fingerprint's df = group share (bounded by group size, ≤ 4 in the
    * fixture) + CHANCE share, and chance share scales with
    * nDocs/vocabulary-diversity. The fixture is fixed-vocab word soup,
    * so at sf0.1 (5,000 docs) chance df blows past 10 and candidacy
    * collapses — measured (r9 sf0.1 sweep): cap 10 → 177/256 pairs,
    * 20 → 245, 100 → 256/256 exact, at 1.7 s. Real corpora grow vocab
    * with size (Heaps' law), keeping chance df bounded — there the
    * default 10 holds to 250k docs at 99.6% yield while 100 goes
    * superlinear (BASELINE.md scaling curve). The declared query serves
    * the 5k-doc fixed-vocab regime; the default serves the scale
    * regime. */
  def q51(s: SparkSession, d: String): DataFrame =
    winnowPairs(Tables.documents(s, d), maxDocFreq = 100)
      .orderBy("a", "b")

  /** Q66 — the FULL modern curation pipeline END-TO-END under the
    * ORACLE gate, extending q54's three-stage chain with every r9
    * curation operator:
    *
    *   near-dup dedup (q28: LSH+CC keepers, corpus = doc_id%10≠0)
    *   → benchmark decontamination (q62: drop docs sharing a 5-gram
    *     with the doc_id%10==0 split; left_anti on the flagged set)
    *   → quality filter (q30 cuts: length ≥ 60, stopword ratio ≥ 0.02)
    *   → repetition filter (q65 cuts: top-2-gram mass ≤ 0.08,
    *     type-token ratio ≥ 0.32 — calibrated to drop ~8–9% each at
    *     sf0.01, real cuts, not no-ops)
    *   → stratified sample (q64 rates: en 12.5%, others 50%)
    *   → token-budget shard packing (q63: 2,000-token shards).
    *
    * Survivors 132/106/1,071 docs → 4/3/29 shards at sf0.001/0.01/0.1.
    * Every stage is individually gated; this entry proves the WHOLE
    * chain composes — one job from raw corpus to packed training
    * shards, the actual shape of a 100 TB curation run (dedup shuffle
    * dominates; the per-doc signal aggs are map-side partial; the
    * narrow filters fuse; packing adds the two-phase prefix sum). The
    * repetition signals are computed post-dedup (per-doc values are
    * join-stage-invariant, so computing them on survivors only is both
    * cheaper and oracle-identical). */
  def q66(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val keepers = NearDup.dedup(corpus)
    // persist is LOAD-BEARING: `clean` feeds THREE consumers (the rep
    // and ttr signal branches and the filter chain), and un-cached each
    // would replay the dedup + decontamination subtree — an .explain
    // audit counted 24 source scans and zero reused exchanges in the
    // unpersisted plan. Survivor rows are narrow and ~86% of corpus.
    val clean = keepers.join(
      decontaminate(corpus, bench).select("doc_id"), Seq("doc_id"), "left_anti")
      .persist()
    val rep = clean.select(col("doc_id"),
        explode(wordGramsKernel(col("text"), 2)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(max("c").cast("double") / sum("c"), 6).as("t2"))
    val ttr = clean.select(col("doc_id"), explode(split(col("text"), " ")).as("u"))
      .groupBy("doc_id")
      .agg(round(countDistinct(col("u")).cast("double") / count(lit(1)), 6).as("r"))
    val hd = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    val sampled = clean
      .filter(length(col("text")) >= 60)
      .filter(tokenRatioKernel(col("text"), stopwords) >= 0.02)
      .join(rep, Seq("doc_id")).join(ttr, Seq("doc_id"))
      .filter(col("t2") <= 0.08 && col("r") >= 0.32)
      .filter(when(col("lang") === "en", hd.isin("0", "1"))
        .otherwise(hd.isin("0", "1", "2", "3", "4", "5", "6", "7")))
    // packShards materializes eagerly (localCheckpoint inside), so by the
    // time it returns every consumer of `clean` has run — release the
    // cache here rather than leaking it into the caller's session.
    val packed = packShards(sampled.select("doc_id", "text"), budget = 2000L)
    clean.unpersist()
    packed.orderBy("doc_id")
  }

  /** Word n-gram STRINGS per document — compiled kernel tier (the
    * sliding window the interpreted `transform`/`slice` HOF chain would
    * otherwise run per doc; same doctrine as `tokenRatioKernel`).
    * Tokenization contract matches Spark `split(text, " ")` / DuckDB
    * `string_split` exactly: split on single spaces, empties kept.
    * Documents shorter than n yield no grams. Distinct from
    * `NearDup.shingleHashesKernel`, which emits 64-bit HASHES (right
    * for LSH/minhash); decontamination joins corpus grams against an
    * EXTERNAL benchmark set, where string keys keep the match exact and
    * engine-independent (a hash join is exact only if both sides agree
    * on the hash function — an oracle can't). */
  def wordGramsKernel(text: Column, n: Int): Column = {
    require(n >= 1, s"n=$n must be >= 1")
    val k = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else {
        val w = t.split(" ", -1)
        if (w.length < n) Array.empty[String]
        else Array.tabulate(w.length - n + 1)(i => w.slice(i, i + n).mkString(" "))
      }
    }
    k(text)
  }

  /** Benchmark decontamination over the corpus: flag every corpus doc
    * sharing at least one word 5-gram with a BENCHMARK document, with
    * the count of distinct shared grams (the GPT-3/PaLM-style n-gram
    * overlap test; 13-grams in those reports — 5 here because the
    * fixture's texts are short). The benchmark set is every doc with
    * doc_id % 10 == 0 (deterministic, in-corpus; a real run points
    * `bench` at the eval-suite table instead).
    *
    * Scale shape: corpus grams are a narrow explode (no shuffle);
    * benchmark grams collapse through a distinct (one shuffle over the
    * BENCHMARK's grams only — eval suites are MBs, so this side is
    * broadcast-sized at 100 TB and the join is map-side; AQE picks that
    * up from runtime stats here). The count-distinct aggregates on
    * doc_id — one shuffle of the matched grams, which decontamination
    * expects to be a tiny fraction of the corpus. If the benchmark-gram
    * side ever outgrows broadcast range, wrap the join with
    * `Partitioning.bloomPrefilteredJoin(grams, benchGrams, "gram")` —
    * it supports string keys (r9) and drops the ~all-miss corpus grams
    * before the shuffle with the same exact-result contract. */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int = 5): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(wordGramsKernel(col("text"), n)).as("gram"))
    val benchGrams = bench.select(
      explode(wordGramsKernel(col("text"), n)).as("gram")).distinct()
    grams.join(benchGrams, Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** Graded contamination score — the REPORT form of [[decontaminate]]
    * (which only surfaces contaminated docs with absolute counts): for
    * every corpus doc WITH AT LEAST n TOKENS, the fraction of its
    * distinct n-grams found in the benchmark split. Auditors threshold
    * this ratio (Llama-style "dirty if > x% overlap") rather than
    * binary-flagging; zero-OVERLAP docs stay in the output with ratio
    * 0. Docs shorter than n tokens carry no gram evidence and are out
    * of the function's domain on both engines (q71's char grams cover
    * them from 20 chars up); the spec pins the domain exactly.
    *
    * Single-pass shape: doc-distinct grams LEFT-join the benchmark
    * gram set carrying a hit marker, then ONE doc_id aggregation
    * produces both the denominator (count) and numerator (sum of
    * hits) — no second corpus pass, no fan-out persist. The ratio is
    * one integer-by-integer IEEE divide, exact on both engines. */
  def contaminationScore(docs: DataFrame, bench: DataFrame, n: Int = 5): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(wordGramsKernel(col("text"), n)).as("gram")).distinct()
    val benchGrams = bench.select(
      explode(wordGramsKernel(col("text"), n)).as("gram")).distinct()
    grams.join(benchGrams.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum("hit"), lit(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_grams"), 6).as("contam_ratio"))
  }

  /** Q90 (r10) — graded contamination ratio under the ORACLE gate:
    * q62's split (benchmark = doc_id % 10 == 0), 5-grams; DuckDB
    * rebuilds the marked left join and both counts per doc. */
  def q90(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    contaminationScore(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0))
      .orderBy("doc_id")
  }

  /** Q62 — decontamination under the ORACLE gate: benchmark =
    * doc_id % 10 == 0, corpus = the rest; DuckDB rebuilds the 5-gram
    * sets relationally (string_split + list slicing). Non-trivial at
    * every SF (8/7/236 contaminated docs at sf0.001/0.01/0.1 — the
    * fixture's near-dup groups put real overlap across the split). */
  def q62(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0))
      .orderBy("doc_id")
  }

  /** Q65 — repetition/diversity quality signals (the Gopher/MassiveText
    * repetition-filter family, re-expressed relationally): per doc, the
    * top-2-gram mass fraction (a high value = the same bigram dominates
    * — boilerplate/spam) and the type-token ratio (distinct/total
    * tokens — low = repetitive vocabulary). Complements q30's
    * length/stopword signals; a real curation run thresholds these
    * exactly like q54's quality stage.
    *
    * Scale shape: both signals are per-doc aggregations over exploded
    * tokens/grams — map-side partial aggregation on (doc_id, gram),
    * then (doc_id); no joins beyond the final doc_id-aligned merge of
    * the two signal frames (one shuffle each, co-partitioned on
    * doc_id). ROUND 6 on the double ratios, both engines. */
  def q65(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val gc = docs.select(col("doc_id"),
        explode(wordGramsKernel(col("text"), 2)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    val rep = gc.groupBy("doc_id").agg(
      sum("c").as("n_2grams"),
      round(max("c").cast("double") / sum("c"), 6).as("top2_ratio"))
    val ttr = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("u"))
      .groupBy("doc_id").agg(
        round(countDistinct(col("u")).cast("double") / count(lit(1)), 6)
          .as("type_token_ratio"))
    rep.join(ttr, Seq("doc_id")).orderBy("doc_id")
  }

  /** Token-budget shard packing: assign docs (in doc_id order) to
    * consecutive shards of ~`budget` whitespace tokens each — the
    * "pack the corpus into N-token training shards" step of a data
    * pipeline. A doc's shard is floor(prefix_sum_BEFORE_it / budget):
    * deterministic, order-stable, every shard except the last holds
    * ≥ budget − max_doc and < budget + max_doc tokens.
    *
    * Scale shape — the naive form is a GLOBAL window (one reducer sees
    * every row: the classic scale anti-pattern), so this runs the
    * standard two-phase distributed prefix sum instead:
    *   1. range-repartition by doc_id (sorted, disjoint partition
    *      ranges), per-partition running totals via a window
    *      PARTITIONED by the range id (parallel, no global sort);
    *   2. per-partition token totals (one tiny row per partition)
    *      prefix-summed over the partition-id order — a window over
    *      #partitions rows, not #docs — and joined back as offsets.
    * The result is IDENTICAL to the global-window form for any range
    * boundaries (prefix sums don't care where the cuts fall — the
    * boundaries Spark samples are not in the answer), which is exactly
    * what the DuckDB oracle (the naive global-window SQL) enforces. */
  def packShards(docs: DataFrame, budget: Long, parts: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = if (parts > 0) parts
      else docs.sparkSession.sparkContext.defaultParallelism
    // persist() is LOAD-BEARING, not an optimization: the running-sum
    // branch and the per-partition-totals branch below both consume this
    // frame, and without materialization each would re-execute its own
    // repartitionByRange — two independent boundary SAMPLES that are not
    // guaranteed to agree, silently misaligning the pid offsets (caught
    // by an .explain audit: the unpersisted plan scanned and ranged the
    // corpus twice). Cached rows are three narrow columns (~24 B/doc).
    val toks = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      .repartitionByRange(p, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist()
    val local = toks.withColumn("run",
      sum(col("n_tokens")).over(
        Window.partitionBy("pid").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)))
    // totals need no window — a plain hash aggregate over the cached frame
    val offsets = toks.groupBy("pid")
      .agg(sum(col("n_tokens")).as("total"))
      .withColumn("offset",
        coalesce(sum(col("total")).over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val packed = local.join(broadcast(offsets), Seq("pid"))
      .select(col("doc_id"), col("n_tokens"),
        floor((col("offset") + col("run") - col("n_tokens")) / budget).as("shard"))
      // pin-then-release (the q35/q47 lifecycle): the eager
      // localCheckpoint materializes the result — three narrow columns,
      // one row per doc, the same size class as the cache it frees — so
      // `toks` can be unpersisted HERE instead of leaking into the
      // caller's session (callers before r10 had to sweep
      // getPersistentRDDs themselves; nothing documented that).
      .localCheckpoint(true)
    toks.unpersist()
    packed
  }

  /** Q63 — shard packing under the ORACLE gate: 5,000-token shards over
    * the documents table; DuckDB runs the naive global-window SQL the
    * two-phase plan must equal. (Declared q63; the stratified sample is
    * q64 — numbering follows declaration order.) */
  def q63(s: SparkSession, d: String): DataFrame =
    packShards(Tables.documents(s, d), budget = 5000L)
      .orderBy("doc_id")

  /** Q74 — shard CONTENT materialization under the ORACLE gate: the
    * step after q63's assignment that actually EMITS a training file
    * per shard — member texts concatenated in doc_id order, newline-
    * separated. Compared by md5 digest (whole-shard text through the
    * driver's cell renderer proves nothing extra and bloats the dump);
    * n_docs/n_tokens ride along. Plan shape: collect_list of
    * (doc_id, text) structs per shard + array_sort + array_join — the
    * per-shard sort is bounded by shard MEMBERSHIP (budget/min-doc-
    * tokens docs), not corpus size, so the aggregation stays hash-
    * shaped with map-side partials; at 100 TB this is exactly the
    * "write one file per shard" reducer. */
  def q74(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    packShards(docs, budget = 5000L)
      .join(docs, Seq("doc_id"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), "\n")).as("digest"))
      .orderBy("shard")
  }

  /** Q75 — curation pipeline V2 under the ORACLE gate: the r10 stages
    * composed end-to-end, from raw corpus to digest-verified training
    * shards of CHUNKS —
    *   keep-BEST near-dup dedup (q72: longest member per LSH+CC group)
    *   → char-level decontamination (q71: drop docs sharing a 20-char
    *     substring with the doc_id%10==0 benchmark split)
    *   → quality filter (q66's cuts: length ≥ 60, stopword ratio ≥ 0.02)
    *   → 32/24 token-window chunking (q73)
    *   → 2,000-token shard packing of the CHUNKS (q63's two-phase
    *     prefix sum over cid = doc_id·1000 + chunk_id)
    *   → per-shard ordered content digest (q74).
    * Complements q66 (which composes the r9 stages); together the two
    * pipelines put every declared curation stage inside at least one
    * hash-checked end-to-end chain. Plan notes: `chunks` feeds both
    * packShards (eager inside) and the digest join, so it is persisted
    * and released after the digest agg is pinned — the q66 lifecycle.
    *
    * Funnel at the fixture: 5/4/2 shards at sf0.001/0.01/0.1 — the
    * char-decontamination stage dominates (chance 20-char collisions
    * in the small-vocab word soup grow with corpus size, the q71 /
    * BASELINE.md caveat; real long-tail corpora don't do this).
    * Non-degenerate at every SF, and the oracle rebuilds the same
    * funnel exactly. */
  def q75(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    pipelineV2(docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0)).orderBy("shard")
  }

  /** The q75 chain over arbitrary corpus/benchmark frames (ScaleBench
    * runs it on the synthetic growth corpora; q75 is the gated fixture
    * instantiation). Returns one row per shard with the ordered content
    * digest; internal `chunks` persist released before return (the q66
    * lifecycle — the digest agg is pinned by localCheckpoint). */
  def pipelineV2(corpus: DataFrame, bench: DataFrame,
      budget: Long = 2000L): DataFrame = {
    val clean = NearDup.dedupBest(corpus, length(col("text")))
      .join(decontaminateChars(corpus, bench).select("doc_id"), Seq("doc_id"), "left_anti")
      .filter(length(col("text")) >= 60)
      .filter(tokenRatioKernel(col("text"), stopwords) >= 0.02)
    val chunks = clean
      .select(col("doc_id"), posexplode(chunkKernel(col("text"), 32, 24))
        .as(Seq("chunk_id", "chunk")))
      .select((col("doc_id") * 1000 + col("chunk_id")).as("doc_id"),
        col("chunk").as("text"))
      .persist()
    val packed = packShards(chunks, budget) // eager (localCheckpoint inside)
    val res = packed.join(chunks, Seq("doc_id"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("n_tokens").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), "\n")).as("digest"))
      .localCheckpoint(true)
    chunks.unpersist()
    res
  }

  // ---- Token-window chunking (r10) ----

  /** Overlapping token-window chunks per document — the
    * chunk-for-training/RAG step (fixed window, fixed stride, partial
    * final window kept so no token is dropped). nChunks =
    * 1 + ceil((len − size)/stride) for len > size, else 1. Compiled
    * kernel (sliding-window doctrine, see [[wordGramsKernel]]);
    * tokenization contract is the suite's `split(text, ' ')`. */
  def chunkKernel(text: Column, size: Int, stride: Int): Column = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val kernel = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else {
        val toks = t.split(" ", -1)
        val n = if (toks.length <= size) 1
          else 1 + math.ceil((toks.length - size).toDouble / stride).toInt
        Array.tabulate(n) { i =>
          toks.slice(i * stride, math.min(i * stride + size, toks.length))
            .mkString(" ")
        }
      }
    }
    kernel(text)
  }

  /** Q73 — chunking under the ORACLE gate: 32-token windows, stride 24
    * (8-token overlap), chunk_id + per-chunk token count + the chunk
    * text itself; DuckDB rebuilds the windows with list slicing over a
    * chunk-index range. Zero-shuffle narrow generator — at 100 TB this
    * is a flatMap fused into the scan, output ≈ (1 + overlap/stride) ×
    * corpus tokens. */
  def q73(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(chunkKernel(col("text"), 32, 24)).as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        size(split(col("chunk"), " ")).cast("bigint").as("n_tokens"),
        col("chunk"))
      .orderBy("doc_id", "chunk_id").limit(300)

  // ---- Character-level decontamination (r10) ----

  /** Character n-gram STRINGS per document — compiled kernel, the
    * char-level sibling of [[wordGramsKernel]] (one gram per character
    * position; a while-free tabulate is fine, substring dominates). */
  def charGramsKernel(text: Column, n: Int): Column = {
    val kernel = udf { (t: String) =>
      if (t == null || t.length < n) Array.empty[String]
      else Array.tabulate(t.length - n + 1)(i => t.substring(i, i + n))
    }
    kernel(text)
  }

  /** Character-level benchmark decontamination: flag corpus docs sharing
    * any length-`n` CHARACTER substring with the benchmark — the
    * stricter sibling of word-level [[decontaminate]] (catches overlap
    * that word tokenization splits differently: punctuation, casing
    * joins, partial-word matches; the PaLM/Llama-style "contiguous
    * character overlap" test). n_shared counts distinct shared grams.
    *
    * Scale shape: same candidates-then-aggregate as word-level — the
    * benchmark side is distinct'd (benchmark suites are tiny vs corpus,
    * the join broadcasts), the corpus side never aggregates globally.
    * Char grams amplify the pre-join explode ~n bytes per character;
    * at 100 TB join on xxhash64(gram) instead and accept the ~n²/2⁶⁴
    * collision false-positive rate — flagging tolerates it, the
    * DECLARED query keeps string keys because the gate demands
    * engine-independent exactness (the q62 rationale). */
  def decontaminateChars(docs: DataFrame, bench: DataFrame, n: Int = 20): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(charGramsKernel(col("text"), n)).as("gram"))
    val benchGrams = bench.select(
      explode(charGramsKernel(col("text"), n)).as("gram")).distinct()
    grams.join(benchGrams, Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** Q71 — char-level decontamination under the ORACLE gate: same
    * benchmark split as q62 (doc_id % 10), 20-char windows; DuckDB
    * rebuilds the grams with substr over a position range. */
  def q71(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    decontaminateChars(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0))
      .orderBy("doc_id")
  }

  // ---- PII scrubbing (r10) ----

  /** PII pattern bank. Deliberately restricted to a regex subclass both
    * Java (Spark codegen'd RegExpReplace) and RE2-style engines compile
    * identically — character classes, bounded counts, no backrefs or
    * lookaround — so the SAME pattern string is the cross-engine
    * contract, not two dialect translations. Phones run before emails:
    * neither replacement token can create a match for the other
    * (no '@', no digit-dash runs). */
  val phonePattern = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val emailPattern = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"

  /** Redact phone/email occurrences in place. Narrow column expression —
    * at 100 TB this is a zero-shuffle map fused into whatever projection
    * carries it (the C4/RefinedWeb scrub stage's cost is the scan). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, phonePattern, "[PHONE]"),
      emailPattern, "[EMAIL]")

  /** Q67 — PII redaction under the ORACLE gate. The fixture text is
    * clean word soup, so the query INJECTS deterministic doc_id-derived
    * PII first (a formatted phone, an email, a second phone on every
    * doc_id % 3 == 0 — both engines build the identical string from
    * printf-style formatting and integer mods) and then the engine's
    * redaction + match-count must agree with DuckDB's RE2 on every row:
    * counts via regexp-extract-all length, text via the redacted string
    * itself. That makes the gate about the OPERATOR (regex semantics,
    * replacement, counting), not about finding PII the fixture doesn't
    * have. */
  def q67(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val phone = format_string("%02d-%03d-%03d-%04d",
      pmod(id, lit(97)), pmod(id * 7, lit(997)),
      pmod(id * 13, lit(997)), pmod(id * 31, lit(9973)))
    val alt = when(id % 3 === 0,
      concat(lit(" alt "), format_string("%02d-%03d-%03d-%04d",
        pmod(id, lit(89)), pmod(id * 3, lit(883)),
        pmod(id * 11, lit(883)), pmod(id * 17, lit(8887)))))
      .otherwise(lit(""))
    val dirty = concat(col("text"), lit(" contact "), phone, alt,
      lit(" mail user"), id, lit("@example.com"))
    Tables.documents(s, d)
      .select(col("doc_id"), dirty.as("dirty"))
      .select(
        col("doc_id"),
        regexp_count(col("dirty"), lit(phonePattern)).cast("bigint").as("n_phone"),
        regexp_count(col("dirty"), lit(emailPattern)).cast("bigint").as("n_email"),
        redactPii(col("dirty")).as("red"))
      .orderBy("doc_id").limit(200)
  }

  // ---- Collocation scoring (r10) ----

  /** Q69 — bigram PMI collocations: the corpus-statistics op behind
    * tokenizer/vocabulary induction (which word pairs cohere more than
    * chance). PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) = c_ab/N2,
    * p(·) = c/N1 — computed as one double expression with a FIXED
    * association, ln((c_ab·N1·N1) / (N2·c_a·c_b)), identical in both
    * engines (bit-identical integer inputs → identical doubles →
    * round(6) is presentation, not a fudge; the q43 tf·idf precedent).
    *
    * Shape at 100 TB: bigram and unigram counts are the same two-phase
    * map-side-partial aggregations as q43's tf/df, shuffling on
    * different keys by necessity (gram vs word); the count-join keys on
    * words — vocabulary-sized, so AQE broadcasts it when it fits and
    * shuffles otherwise (not hinted here: vocabulary at corpus scale is
    * Heaps'-law-sized, the one side a planner SHOULD size at runtime).
    * The totals are 1-row broadcast scalars, computed distributively —
    * no driver .count(). c_ab ≥ 5 prunes the hapax tail before the
    * join, the standard collocation-significance floor. */
  def q69(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val uni = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bg = docs.select(explode(wordGramsKernel(col("text"), 2)).as("g"))
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val n1 = uni.agg(sum("c").as("n1"))
    val n2 = bg.agg(sum("c_ab").as("n2"))
    bg.filter(col("c_ab") >= 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log((col("c_ab").cast("double") * col("n1") * col("n1")) /
          (col("n2").cast("double") * col("c_a") * col("c_b"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(100)
  }

  // ---- Segment-level boilerplate dedup (r10) ----

  /** Line-level dedup (CCNet/RefinedWeb boilerplate removal: drop every
    * line that appears in ≥ dfCap distinct documents — headers, nav
    * bars, cookie banners), generalized to SEGMENTS because the fixture
    * text has no newlines: a segment is a non-overlapping segTokens-
    * token block ([[chunkKernel]] with stride = size; pass a newline
    * splitter on real corpora). Returns per-doc (n_segs, n_kept,
    * clean_md5 of the surviving text, NULL when everything was
    * boilerplate) — doc rows never disappear.
    *
    * Scale: one shuffle on the segment string for document frequency
    * (map-side partial over doc-distinct segments), a left-anti join
    * back (the df ≥ dfCap side is the SMALL one — boilerplate is by
    * definition the repeated tail, broadcastable at any corpus size),
    * one agg on doc_id. Same candidate-side-smallness argument as the
    * q62 decontamination join. */
  def segmentDedup(
      docs: DataFrame,
      segTokens: Int = 12,
      dfCap: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        size(chunkKernel(col(textCol), segTokens, segTokens)).cast("bigint")
          .as("n_segs"))
      .join(segmentCleaned(docs, segTokens, dfCap, idCol, textCol)
        .select(col(idCol), col("n_kept"), md5(col(textCol)).as("clean_md5")),
        Seq(idCol), "left")
      .select(col(idCol), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("clean_md5"))

  /** The reassembled CLEANED TEXT behind [[segmentDedup]] — (id,
    * n_kept, text) for every doc with ≥ 1 surviving segment — so the
    * cleaning composes into downstream pipelines (q80) instead of only
    * reporting digests. */
  def segmentCleaned(
      docs: DataFrame,
      segTokens: Int = 12,
      dfCap: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val segs = docs.select(col(idCol),
      posexplode(chunkKernel(col(textCol), segTokens, segTokens))
        .as(Seq("seg_id", "seg")))
    val boiler = segs.select(col("seg"), col(idCol)).distinct()
      .groupBy("seg").agg(count(lit(1)).as("df"))
      .filter(col("df") >= dfCap)
      .select("seg")
    segs.join(broadcast(boiler), Seq("seg"), "left_anti")
      .groupBy(idCol).agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("seg_id"), col("seg")))),
            x => x.getField("seg")), " ").as(textCol))
  }

  /** Cross-document EXACT-SUBSTRING dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — the ExactSubstr modality that every major LLM
    * corpus pipeline runs ALONGSIDE MinHash): remove every token that
    * lies inside a ≥ k-token span occurring in ≥ 2 DISTINCT documents,
    * at ARBITRARY offsets — the generalization of [[segmentDedup]]'s
    * fixed non-overlapping segments to overlapping rolling k-token
    * windows. The window reduction is exact: a shared span of length
    * L ≥ k makes all of its L − k + 1 k-windows shared, and
    * conversely a duplicated k-window IS a ≥ k-token shared span — so
    * "token covered by some duplicated k-window" marks precisely the
    * tokens of maximal cross-document duplicated spans (Lee et al. use
    * a suffix array to find them; the rolling-window form is the
    * shuffle-native equivalent at fixed k). Returns per-doc
    * (n_tokens, n_kept, clean_md5 of the kept tokens in original
    * order, NULL when everything was duplicated) — doc rows never
    * disappear.
    *
    * Scale: one shuffle on the window string for document frequency
    * (~1 window per token); duplicated-window starts come back via a
    * LEFT SEMI join on the same gram key (NOT a forced broadcast —
    * unlike q78's boilerplate tail, duplicated-span volume is
    * data-dependent: a duplicated span of length L contributes
    * L − k + 1 windows; AQE picks broadcast when the dup side is
    * small); coverage explodes k positions per duplicated window —
    * bounded by duplicated-content volume, not corpus volume; the
    * kept-token anti-join and the reassembly agg both partition on
    * doc_id. Nothing is all-pairs and no driver state exists. */
  def exactSubstrDedup(
      docs: DataFrame,
      k: Int = 12,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (sizes, cleaned) = exactSubstrKernel(docs, k, idCol, textCol)
    sizes.join(cleaned.select(col(idCol), col("n_kept"),
        md5(col(textCol)).as("clean_md5")), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("clean_md5"))
  }

  /** The reassembled CLEANED TEXT behind [[exactSubstrDedup]] — (id,
    * n_kept, text) for every doc with ≥ 1 surviving token — so the
    * dedup composes into downstream pipelines (q243) instead of only
    * reporting digests (the [[segmentCleaned]]/[[segmentDedup]]
    * relationship, for the overlapping-window modality). */
  def exactSubstrCleaned(
      docs: DataFrame,
      k: Int = 12,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    exactSubstrKernel(docs, k, idCol, textCol)._2

  /** Shared ExactSubstr kernel: (per-doc sizes frame, kept-token
    * reassembly). See [[exactSubstrDedup]] for semantics + scale. */
  private def exactSubstrKernel(docs: DataFrame, k: Int, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    require(k >= 2, s"window k=$k must be >= 2")
    val w = docs.select(col(idCol), split(col(textCol), " ").as("w"))
      .withColumn("n", size(col("w")).cast("bigint"))
    // overlapping k-windows, 1-based start positions
    val wins = w.filter(col("n") >= k)
      .select(col(idCol), explode(
        transform(sequence(lit(1), (col("n") - k + 1).cast("int")),
          s => struct(s.as("s"),
            array_join(slice(col("w"), s, lit(k)), " ").as("gram"))))
        .as("sw"))
      .select(col(idCol), col("sw.s").as("s"), col("sw.gram").as("gram"))
    val dup = wins.select(col("gram"), col(idCol)).distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select("gram")
    val dupStarts = wins.join(dup, Seq("gram"), "left_semi")
    val covered = dupStarts
      .select(col(idCol), explode(sequence(col("s"), col("s") + (k - 1))).as("p"))
      .distinct()
    val toks = w.select(col(idCol), posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col(idCol), (col("p0") + 1).as("p"), col("tok"))
    val cleaned = toks.join(covered, Seq(idCol, "p"), "left_anti")
      .groupBy(idCol).agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok")), " ").as(textCol))
    (w.select(col(idCol), col("n").as("n_tokens")), cleaned)
  }

  /** Q242 — ExactSubstr cross-document dedup under the ORACLE gate:
    * 12-token rolling windows, duplicated = seen in ≥ 2 distinct docs
    * (the fixture's near-dup prefixes are exactly the shared-span
    * case q78's fixed segment grid can only partially align to). */
  def q242(s: SparkSession, d: String): DataFrame =
    exactSubstrDedup(Tables.documents(s, d)).orderBy("doc_id")

  /** Q243 — curation pipeline V6: the ExactSubstr modality composed
    * end-to-end (the q80 pattern for the r14 operator) —
    *   cross-document exact-substring dedup, docs REWRITTEN to their
    *     kept tokens (q242's kernel via [[exactSubstrCleaned]])
    *   → substance cut: survivors must retain ≥ 12 tokens (one full
    *     dedup window of original content — drops the shells whose
    *     text was mostly duplicated spans)
    *   → 2,000-token shard packing over the CLEANED text (q63's
    *     two-phase distributed prefix sum)
    *   → per-shard ordered content digests (q74).
    * The fourth hash-checked pipeline composition; the oracle rebuilds
    * the chain from the individually-green q242/q63/q74 CTE forms.
    * Plan: each stage's own scale posture; `cleaned` persists for the
    * packShards + digest fan-out (the q80 lifecycle), released after
    * the result checkpoint. */
  def q243(s: SparkSession, d: String): DataFrame = {
    val cleaned = exactSubstrCleaned(Tables.documents(s, d))
      .filter(col("n_kept") >= 12)
      .persist()
    val packed = packShards(cleaned.select("doc_id", "text"), budget = 2000L)
    val res = packed.join(cleaned, Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), "\n")).as("digest"))
      .localCheckpoint(true)
    cleaned.unpersist()
    res.orderBy("shard")
  }

  /** Unigram-LM log-probability quality score — the statistical-LM
    * filter of the CCNet/RedPajama family (Wenzek et al. 2020, arXiv:
    * 1911.00359, which buckets docs by KenLM perplexity; the unigram
    * model is its self-contained proxy): score each doc by its mean
    * token log-probability under the CORPUS'S OWN unigram
    * distribution. Complements q30 (surface heuristics) and q65
    * (repetition): low scorers are rare-token soup, high scorers are
    * stopword soup — the filter cuts both tails in production.
    *
    * Determinism doctrine EXTENSION: this is the suite's first genuine
    * float SUM under the hash gate (q43's tfidf is a single product;
    * the decimal sums are exact). A distributed double sum is order-
    * sensitive in the last ulp, so both engines fold the per-doc terms
    * in sorted word order — Spark: `aggregate()` HOF over
    * `array_sort(collect_list(struct(w, term)))` (left fold, 0.0 + x₁
    * = x₁ exactly); DuckDB: `list_sum(list(term ORDER BY w))` — making
    * round(6) presentation, not tolerance.
    *
    * Scale: tf agg on (doc_id, w) and the unigram join on w (the
    * Heaps-law-sized vocab key — AQE's sizing call, the q69 note);
    * corpus token total is a 1-row broadcast (no driver count); the
    * per-doc collect_list is bounded by per-doc VOCAB (≤ doc length),
    * the same per-group state any per-doc agg carries. */
  def q79(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val uni = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum("c").as("n_tok"))
    tf.join(uni, Seq("w"))
      .crossJoin(broadcast(n))
      .withColumn("term", col("tf") * log(col("c").cast("double") / col("n_tok")))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("w"), col("term")))),
            x => x.getField("term")),
          lit(0d), (acc, x) => acc + x).as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_lp") / col("n_tokens"), 6).as("lp_per_tok"))
      .orderBy("doc_id")
  }

  /** Q80 (r10) — curation pipeline V3: the LATE-r10 multi-signal
    * stages composed end-to-end, raw corpus to digest-verified shards —
    *   segment boilerplate dedup (q78: df ≥ 2 twelve-token segments
    *     removed, docs REWRITTEN to their cleaned text)
    *   → unigram-LM quality cut on the CLEANED corpus (q79: mean token
    *     log-prob ≥ −3.6 under the cleaned corpus's own unigram
    *     distribution — the unrounded doubles are compared, safe
    *     because the ordered fold makes them bit-identical)
    *   → semantic dedup where the signal exists (q76: docs whose
    *     embedding is SHADOWED drop; docs without an embedding pass —
    *     at sf0.1 only 2,000 of 5,000 docs have vectors)
    *   → temperature mixing over the SURVIVORS' lang distribution
    *     (q77: rates re-derived downstream, not from the raw corpus)
    *   → 2,000-token shard packing + ordered digests (q63/q74).
    * The third hash-checked pipeline: q66 composes the r9 stages, q75
    * the early-r10 stages, q80 the late-r10 multi-signal stages —
    * including the doc↔embedding join no other pipeline exercises.
    * Plan: every stage's own scale posture (broadcast boilerplate/
    * rates/centroids, Heaps-law unigram join, two-phase prefix sum);
    * the oracle rebuilds the chain from the individually-green CTEs. */
  def q80(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val cleaned = segmentCleaned(docs)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .persist()
    val tok = cleaned.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val uni = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum("c").as("n_tok"))
    val lp = tf.join(uni, Seq("w"))
      .crossJoin(broadcast(n))
      .withColumn("term", col("tf") * log(col("c").cast("double") / col("n_tok")))
      .groupBy("doc_id")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("w"), col("term")))),
          x => x.getField("term")),
        lit(0d), (acc, x) => acc + x).as("sum_lp"),
        sum("tf").as("n_toks"))
      .filter(col("sum_lp") / col("n_toks") >= -3.6)
      .select("doc_id")
    val shadowed = emb.select("vec_id")
      .join(Similarity.semDedup(emb).select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("doc_id"))
    // sem feeds mixTemperature 3× (counts agg, min agg, rate join) and
    // the text join; mixed feeds packShards and the digest join — both
    // persist for the fan-out or the LM/semDedup chains above recompute
    // per consumer (first r10-close bench measured the unpersisted form
    // at 13.3 s vs ~7 s persisted).
    val sem = cleaned.join(lp, Seq("doc_id"), "left_semi")
      .join(shadowed, Seq("doc_id"), "left_anti")
      .persist()
    val mixed = graft.operators.Relational
      .mixTemperature(sem.select(col("doc_id"), col("lang")))
      .select("doc_id")
      .join(sem.select("doc_id", "text"), Seq("doc_id"))
      .persist()
    val packed = packShards(mixed, budget = 2000L) // eager inside
    val res = packed.join(mixed, Seq("doc_id"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), "\n")).as("digest"))
      .localCheckpoint(true)
    cleaned.unpersist()
    sem.unpersist()
    mixed.unpersist()
    res.orderBy("shard")
  }

  /** Q78 (r10) — segment boilerplate dedup under the ORACLE gate:
    * 12-token segments, df ≥ 2 (the "seen in any other document" line-
    * dedup rule; 96 boilerplate segments at sf0.01 — the fixture's
    * near-dup prefixes are exactly the repeated-header case). DuckDB
    * rebuilds segments with list slicing, df with COUNT(DISTINCT
    * doc_id), and the cleaned text with an ordered string_agg. */
  def q78(s: SparkSession, d: String): DataFrame =
    segmentDedup(Tables.documents(s, d)).orderBy("doc_id")

  /** DSIR-style importance weight (Xie et al. 2023, arXiv:2302.03169 —
    * Data Selection via Importance Resampling): score every doc by its
    * mean per-token log-likelihood RATIO between a target unigram LM
    * (here: the corpus's own English slice, standing in for the
    * "quality" domain) and the full-corpus LM, with add-one smoothing
    * over the JOINT vocab so target-unseen words are defined. Docs that
    * read like the target score high; resampling by exp(weight) is the
    * DSIR selection step (left to the caller — the weight is the
    * operator).
    *
    * Determinism: same doctrine as q79 — the per-doc double fold runs
    * in sorted word order on both engines, so the unrounded sums are
    * bit-identical and round(6) is presentation. The ratio's two logs
    * subtract exactly (identical operands both sides, q79 established
    * ln parity), and the smoothed probabilities are single IEEE
    * divides.
    *
    * Scale: one tf agg on (doc_id, w), ONE shared unigram agg
    * producing both LMs (the target count is a conditional sum inside
    * the corpus agg — not a second corpus pass), the Heaps-law vocab
    * join, totals as a 1-row broadcast. Identical shuffle set to q79
    * (the second LM is free). */
  def dsirWeights(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val uni = tok.groupBy("w").agg(
      count(lit(1)).as("c"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ct"))
    val totals = uni.agg(sum("c").as("n_c"), sum("ct").as("n_t"),
      count(lit(1)).as("v"))
    tf.join(uni, Seq("w"))
      .crossJoin(broadcast(totals))
      .withColumn("term", col("tf") *
        (log((col("ct") + lit(1)).cast("double") / (col("n_t") + col("v"))) -
          log((col("c") + lit(1)).cast("double") / (col("n_c") + col("v")))))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("w"), col("term")))),
            x => x.getField("term")),
          lit(0d), (acc, x) => acc + x).as("sum_lr"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_lr") / col("n_tokens"), 6).as("lr_per_tok"))
  }

  /** Q82 (r10) — DSIR importance weights under the ORACLE gate:
    * target = the 'en' slice, smoothed log-likelihood ratio per token.
    * DuckDB rebuilds both LMs and folds the terms ORDER BY w. */
  def q82(s: SparkSession, d: String): DataFrame =
    dsirWeights(Tables.documents(s, d)).orderBy("doc_id")

  /** Inverted index over the corpus — the IR primitive behind
    * contamination lookup and term-level audits: for every token with
    * df ≥ 2 (singletons carry no join value), the exact document
    * frequency plus the posting list's HEAD PAGE — the first pageSize
    * doc_ids ascending, comma-joined (string form keeps the gate's
    * value compare engine-neutral).
    *
    * Scale: doc-distinct (w, doc_id) pairs → ONE shuffle on w. The
    * head page rides [[graft.functions.TopKAggregator]] with
    * score = −doc_id (score-DESC ≡ doc_id-ASC, ids are unique so the
    * order is total), so per-term aggregation state is bounded at
    * pageSize entries and reduces map-side — a stopword with df = N
    * contributes N·0 list state, not an N-element collect_list that
    * floods its executor. Full postings at 100 TB are a
    * partitionBy(doc_id range) sharded WRITE, not a per-group collect;
    * the head page is the declared gated form. */
  def invertedIndex(docs: DataFrame, pageSize: Int = 50): DataFrame = {
    val page = udaf(new graft.functions.TopKAggregator(pageSize))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
      .groupBy("w")
      .agg(count(lit(1)).as("df"),
        page(col("doc_id"), -col("doc_id").cast("double")).as("pg"))
      .filter(col("df") >= 2)
      .select(col("w"), col("df"),
        array_join(
          transform(col("pg"), x => x.getField("id").cast("string")),
          ",").as("postings"))
  }

  /** Q83 (r10) — inverted index under the ORACLE gate: df ≥ 2, head
    * page of 50. DuckDB rebuilds postings with an ordered-list slice
    * over the distinct (w, doc_id) set. */
  def q83(s: SparkSession, d: String): DataFrame =
    invertedIndex(Tables.documents(s, d)).orderBy("w")

  /** BM25 ranked retrieval (Robertson/Spärck Jones Okapi weighting) —
    * the scoring consumer of [[invertedIndex]]'s postings: the k
    * highest-scoring docs for a bag of query terms. This is how a
    * curation pipeline pulls topical slices ("give me the docs about
    * X") and how contamination auditors rank suspect documents.
    *
    * Determinism doctrine (q79/q82): the per-doc score folds its ≤
    * |terms| BM25 contributions in sorted term order, so the unrounded
    * double is bit-identical to DuckDB's ordered list_sum; round(6) is
    * presentation, and ranking is over the ROUNDED value with doc_id
    * as total tie-break. Every constant in the term expression is an
    * IEEE double on both engines (the oracle uses e-notation literals —
    * DuckDB's bare `2.2` is DECIMAL and would poison the arithmetic),
    * and `k1 + 1` evaluates to the same double as the SQL's `2.2e0`.
    *
    * Scale: tf only materializes (doc, term) pairs for QUERY terms —
    * the explode is filtered before the aggregation, so the shuffle is
    * proportional to the posting lists of the query, not the corpus.
    * df and the corpus stats are 1-row-ish broadcasts; the dl join is
    * the only corpus-keyed shuffle; final top-k is TakeOrderedAndProject
    * (per-partition heaps + driver merge of k), never a global sort. */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75, k: Int = 20): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w").isInCollection(terms))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    // stats aggregate the dl frame, not the raw corpus: avg over the
    // same integer token counts is bit-identical (exact long sum, one
    // divide), and the doc-length definition now lives in ONE place.
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val perDoc = tf.join(broadcast(dfq), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("term",
        log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("w"), col("term")))),
          x => x.getField("term")),
        lit(0d), (acc, x) => acc + x).as("raw"))
      .select(col("doc_id"), round(col("raw"), 6).as("score"))
    perDoc.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).cast("bigint"))
      .select("doc_id", "score", "rank")
  }

  /** Q84 (r10) — BM25 top-20 for the query {dup, hash, window} (rare /
    * mid / common df at every fixture scale, so the idf spread is
    * exercised) under the ORACLE gate: DuckDB rebuilds the ordered
    * fold + ROW_NUMBER over the rounded score. */
  def q84(s: SparkSession, d: String): DataFrame =
    bm25(Tables.documents(s, d), Seq("dup", "hash", "window")).orderBy("rank")

  /** Token-budget curation: per language, admit the best-quality docs
    * (stopword ratio ascending — the q30 signal; rounded 4dp so the
    * order key is engine-exact, doc_id total tie-break) until the
    * cumulative token count exceeds the budget. This is the "fill the
    * training mix to N tokens per language" selection step that closes
    * a curation pipeline; the cumulative sum is all-integer, so the
    * admitted set is exact, not approximate.
    *
    * Scale: ONE shuffle on lang, then a per-lang sort for the running
    * sum. Languages are few → skewed partitions at 100 TB; the scale
    * path keeps the same semantics by first computing each lang's
    * admission THRESHOLD on the (sr, doc_id) key from a quantile
    * sketch over (sr, n_tokens) and filtering, touching the sort only
    * for the boundary stratum. The window form is the declared exact
    * gate; [[graft.operators.Relational.mixTemperature]] is the
    * rate-based sibling (sampled rates vs hard token budget). */
  def budgetCurate(docs: DataFrame, budget: Long = 3000L): DataFrame = {
    val q = docs.select(col("doc_id"), col("lang"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      tokenRatio(col("text"), stopwords).as("sr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("sr"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    q.withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
      .select("lang", "doc_id", "n_tokens", "cum_tokens")
  }

  /** Q85 (r10) — token-budget curation under the ORACLE gate: 3,000
    * tokens per language, quality = stopword ratio. DuckDB rebuilds
    * the running sum with the same ROWS frame and QUALIFY. */
  def q85(s: SparkSession, d: String): DataFrame =
    budgetCurate(Tables.documents(s, d)).orderBy("lang", "doc_id")

  /** Q88 (r10) — curation pipeline V4, the EMBEDDING-led chain (v1–v3
    * are text-led): deterministic k-means over the vector corpus
    * (q87) → cluster-balanced core selection (top-40 per cluster by
    * distance-to-centroid — TopKAggregator on −dist, so the per-cluster
    * state is bounded and ties break (dist, vec_id) exactly like the
    * oracle's ROW_NUMBER; no window sort) → docs joined on the
    * selected ids → per-language token-budget fill (q85, 2,000) →
    * 1,000-token shard packing + ordered digests (q63/q74). The fourth
    * hash-checked pipeline, and the first whose FIRST stage is the
    * embedding table — the doc table joins in halfway. Both fan-out
    * frames persist across their two consumers (the q80 lesson:
    * unpersisted, each consumer replays the upstream clustering). */
  def q88(s: SparkSession, d: String): DataFrame = {
    val km = graft.ext.Similarity.kmeans(Tables.embeddings(s, d), k = 8, iters = 2)
    val topc = udaf(new graft.functions.TopKAggregator(40))
    val sel = km.groupBy("cluster")
      .agg(topc(col("vec_id"), -col("dist")).as("core"))
      .select(explode(col("core")).as("hit"))
      .select(col("hit.id").as("doc_id"))
    val docs = Tables.documents(s, d).join(sel, Seq("doc_id")).persist()
    val kept = budgetCurate(docs, budget = 2000L).select("doc_id")
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .persist()
    val res = packShards(kept, budget = 1000L)
      .join(kept, Seq("doc_id"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), "\n")).as("digest"))
      .localCheckpoint(true)
    docs.unpersist()
    kept.unpersist()
    res.orderBy("shard")
  }

  /** N-gram novelty score: the fraction of a document's DISTINCT word
    * n-grams that appear in NO other document (corpus df = 1) — the
    * inverse of the boilerplate/repetition signals (q65/q78): high
    * novelty marks original long-tail content worth up-weighting, near
    * zero marks template/mirror text. Documents with fewer than n
    * tokens (no grams) are excluded — novelty is undefined for them.
    *
    * Scale shape: one distinct over (doc_id, gram) + one df aggregation
    * on the gram key + the join back — all ∝ corpus tokens, the q43
    * TF-IDF shuffle class. The df frame is gram-keyed (Heaps-law
    * growth); at 100 TB the df ≥ 2 side is the small one (most grams
    * are singletons) so the novelty join can be driven from a
    * broadcast/bloom of the NON-novel gram set instead — same result,
    * ~10× smaller build side (the q62 bloomPrefilteredJoin escape
    * hatch applies unchanged). */
  def novelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val g = docs.select(col("doc_id"),
      explode(wordGramsKernel(col("text"), n)).as("gram")).distinct()
    val dfreq = g.groupBy("gram").agg(count(lit(1)).as("df"))
    g.join(dfreq, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
  }

  /** Q95 — novelty report over the documents table, oracle-gated. */
  def q95(s: SparkSession, d: String): DataFrame =
    novelty(graft.sources.Tables.documents(s, d)).orderBy("doc_id")

  /** Canonical text normalization — step ZERO of every dedup pipeline:
    * Unicode NFC composition (the native `nfc_normalize` Catalyst
    * expression, [[graft.functions.TextExpressions]] — "café" with a
    * combining accent and precomposed "café" must fingerprint
    * identically or q25/q33-class exact dedup silently splits equal
    * texts), then lowercase, strip everything outside [a-z0-9
    * whitespace], collapse whitespace runs, trim. Character classes
    * are written out explicitly (`[ \t\n\r\f]`) instead of `\s` — Java
    * regex and DuckDB's RE2 disagree on `\s` membership (U+000B), the
    * q67 portable-regex doctrine.
    *
    * Scale: a narrow map fused into the scan — no shuffle, no UDF; the
    * NFC fast path (`isNormalized` pre-check) makes already-ASCII rows
    * allocation-free. Emits the normalized text plus its md5
    * fingerprint (the 16-byte dedup shuffle key, q33's contract). */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = trim(
      regexp_replace(
        regexp_replace(
          lower(call_function("nfc_normalize", col(textCol))),
          "[^a-z0-9 \\t\\n\\r\\f]", ""),
        "[ \\t\\n\\r\\f]+", " "))
    docs.withColumn("norm", norm)
      .withColumn("fp", md5(col("norm").cast("binary")))
  }

  /** Q104 — normalization under the ORACLE gate: per-doc raw/normalized
    * lengths, a 24-char normalized prefix, and the md5 fingerprint,
    * DuckDB recomputing all four through its own `nfc_normalize` +
    * RE2 chain (the fingerprint crosses the two NFC implementations;
    * real composition work is pinned on non-ASCII frames in
    * TextAnalysisSpec — the fixture corpus is ASCII, where NFC is
    * identity by fast path). */
  def q104(s: SparkSession, d: String): DataFrame =
    normalizeText(Tables.documents(s, d))
      .select(col("doc_id"), length(col("text")).cast("bigint").as("n_raw"),
        length(col("norm")).cast("bigint").as("n_norm"),
        substring(col("norm"), 1, 24).as("prefix"), col("fp"))
      .orderBy("doc_id")

  /** Source vocabulary-overlap matrix — pairwise Jaccard between the
    * token SETS of each corpus source: the provenance audit run before
    * mixing sources into a training set (two crawls of the same site
    * jump out at J → 1; a source whose vocabulary barely intersects
    * anything is a different language or format). Doc-level near-dup
    * (q28) can't see this — it compares documents, not collections.
    *
    * Plan: distinct (source, token) → sizes per source + a token-key
    * equi-join for intersections. The join's fan-out per token is
    * bounded by |sources|² (a stopword shared by every source yields
    * ≤ S² pairs, NOT doc² — the frame is source-level), so the shuffle
    * is vocab-sized. Jaccard = one IEEE divide of exact BIGINTs,
    * round(6). Output is the S² matrix — KBs. */
  def sourceOverlap(docs: DataFrame, keyCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(keyCol).as("src"),
        explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val sizes = toks.groupBy("src").agg(count(lit(1)).as("n"))
    val inter = toks.as("a")
      .join(toks.withColumnRenamed("src", "src_b").as("b"),
        col("a.w") === col("b.w") && col("a.src") < col("b.src_b"))
      .groupBy(col("a.src").as("src_a"), col("b.src_b").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("src").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sizes.select(col("src").as("src_b"), col("n").as("n_b")), "src_b")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")), 6))
      .select("src_a", "src_b", "n_a", "n_b", "inter", "jaccard")
  }

  /** Q148 — source overlap over the documents corpus. */
  def q148(s: SparkSession, d: String): DataFrame =
    sourceOverlap(Tables.documents(s, d)).orderBy("src_a", "src_b")

  /** Feature hashing (the hashing trick; Weinberger et al. 2009) —
    * project token counts into a FIXED-dimension sparse space with a
    * portable hash, the vectorizer that needs no vocabulary pass, no
    * dictionary broadcast, and no vocab drift between training runs:
    * bucket = md5-derived 32-bit value mod dim. One narrow map + one
    * (doc, bucket) count agg; output is the sparse COO frame. Unlike
    * q43's TF-IDF (exact vocab keys) the dimensionality is chosen up
    * front — collisions are the accepted tradeoff the dim parameter
    * tunes, and the md5 base makes every engine and every run land
    * tokens in the same bucket (the reproducibility property this
    * variant exists for). */
  def featureHash(docs: DataFrame, dim: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("bucket",
        pmod(conv(substring(md5(col("w").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(dim.toLong)))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))

  /** Q150 — 256-dim hashed features for the doc_id % 10 = 0 slice. */
  def q150(s: SparkSession, d: String): DataFrame =
    featureHash(Tables.documents(s, d).filter(col("doc_id") % 10 === 0), 256)
      .orderBy("doc_id", "bucket")

  /** Keyword extraction — top-k terms per document by TF-IDF, the
    * doc-tagging/labeling step of a curation pipeline (q43 exposes the
    * raw scores; this is the per-doc selection a consumer actually
    * wants). Ranking runs on the ROUNDED score (q43's presentation
    * form) with the term as tie-break, so a last-ulp ln() difference
    * can never reorder the cut; the rank window partitions per doc —
    * frames bounded by per-doc vocabulary, never corpus-sized. */
  def keywords(docs: DataFrame, k: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tok.distinct().groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "w").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("w"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("w").as("word"), col("tf"), col("df"), col("tfidf"))
  }

  /** Q156 — top-3 keywords per document. */
  def q156(s: SparkSession, d: String): DataFrame =
    keywords(Tables.documents(s, d), 3).orderBy("doc_id", "rk")

  /** Sequence-packing waste audit — the capacity-planning numbers a
    * training run reads before choosing its context length: for each
    * candidate ctx, what one-doc-per-sequence costs in PADDING
    * (ctx − len for short docs) and TRUNCATION (len − ctx for long
    * docs), plus the greedy-packing lower bound ceil(kept/ctx) that
    * q63's shard packer approaches. All exact BIGINT sums from one
    * token-count scan fanned across the (tiny, broadcast) ctx frame;
    * the two fractions are one IEEE divide each. Token = whitespace
    * split (the q63 convention, shared with the oracle verbatim). */
  def packingWaste(docs: DataFrame, ctxs: Seq[Int]): DataFrame = {
    val lens = docs.select(
      size(split(col("text"), " ")).cast("bigint").as("len"))
    val ctxDf = docs.sparkSession
      .createDataFrame(ctxs.map(Tuple1(_))).toDF("ctx")
    lens.crossJoin(broadcast(ctxDf))
      .groupBy("ctx")
      .agg(count(lit(1)).as("n_docs"),
        sum("len").as("total_tokens"),
        sum(greatest(lit(0L), col("ctx") - col("len"))).as("pad_tokens"),
        sum(greatest(lit(0L), col("len") - col("ctx"))).as("trunc_tokens"),
        sum(least(col("len"), col("ctx").cast("bigint"))).as("kept_tokens"))
      .withColumn("pad_frac", round(col("pad_tokens").cast("double") /
        (col("n_docs") * col("ctx")), 6))
      .withColumn("trunc_frac", round(col("trunc_tokens").cast("double") /
        col("total_tokens"), 6))
      .withColumn("packed_seqs_min",
        ceil(col("kept_tokens").cast("double") / col("ctx")).cast("bigint"))
      .select("ctx", "n_docs", "total_tokens", "pad_tokens", "trunc_tokens",
        "kept_tokens", "pad_frac", "trunc_frac", "packed_seqs_min")
  }

  /** Q181 — packing waste at the candidate context lengths. */
  def q181(s: SparkSession, d: String): DataFrame =
    packingWaste(Tables.documents(s, d), Seq(128, 512, 2048))
      .orderBy("ctx")

  /** Tokenizer fertility per language — the per-language compression
    * audit (how many characters a whitespace token carries, how long
    * documents run) that decides whether a tokenizer under-serves a
    * language: chars/token and tokens/doc per lang from exact sums,
    * each one IEEE divide. One grouped agg over the scan. */
  def tokenFertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("n_chars").cast("bigint").as("n_chars"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_tokens").as("total_tokens"))
      .withColumn("chars_per_token",
        round(col("total_chars").cast("double") / col("total_tokens"), 6))
      .withColumn("tokens_per_doc",
        round(col("total_tokens").cast("double") / col("n_docs"), 6))

  /** Q182 — fertility audit over the documents corpus. */
  def q182(s: SparkSession, d: String): DataFrame =
    tokenFertility(Tables.documents(s, d)).orderBy("lang")

  /** Gopher-style repetition audit (Rae et al. 2021 §A1.1 quality
    * rules): per document, the fraction of n-grams inside REPEATED
    * n-grams (dup_Xgram_frac = Σ_{g:c_g>1} c_g / total n-grams) and the
    * most-frequent-token dominance (top token count / tokens). High
    * values flag boilerplate/spam docs a curation pipeline drops before
    * training. All three are exact-integer ratios, IEEE only in the
    * final rounded divides. Scale: n-grams are built by a NARROW
    * higher-order transform over the token array (no self-join), and
    * the per-(doc, gram) counts map-side combine before the doc-keyed
    * shuffle — state is (doc × distinct-gram)-bounded, never
    * corpus-global. */
  def repetitionAudit(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    // short-doc guard: Spark's sequence(0, -1) DESCENDS (it would index
    // t[-1] and fabricate grams); docs shorter than n contribute no grams
    def perGram(n: Int) = toks
      .select(col("doc_id"), explode(expr(
        s"IF(size(t) >= $n, transform(sequence(0, size(t) - $n), i -> " +
          (0 until n).map(j => s"t[i + $j]").mkString("concat_ws(' ', ", ", ", ")") +
          "), array())")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    def dupFrac(n: Int) = perGram(n)
      .groupBy("doc_id")
      .agg(sum("c").as("total"),
        sum(when(col("c") > 1L, col("c")).otherwise(lit(0L))).as("dup"))
      .select(col("doc_id"),
        round(col("dup").cast("double") / col("total"), 6).as(s"dup_${n}gram_frac"))
    // unigram counts carry both reads in ONE agg pair: duplicate-token
    // mass and the most-frequent-token dominance
    val uni = perGram(1)
      .groupBy("doc_id")
      .agg(sum("c").as("total"), max("c").as("top_c"),
        sum(when(col("c") > 1L, col("c")).otherwise(lit(0L))).as("dup"))
      .select(col("doc_id"),
        round(col("dup").cast("double") / col("total"), 6).as("dup_token_frac"),
        round(col("top_c").cast("double") / col("total"), 6).as("top_token_frac"))
    uni.join(dupFrac(2), "doc_id").join(dupFrac(3), "doc_id")
      .select(col("doc_id"), col("dup_token_frac"), col("dup_2gram_frac"),
        col("dup_3gram_frac"), col("top_token_frac"))
  }

  /** Q189 — the 100 most repetition-flagged documents (ties broken by
    * doc_id so the cut is deterministic cross-engine). */
  def q189(s: SparkSession, d: String): DataFrame =
    repetitionAudit(Tables.documents(s, d))
      .orderBy(col("dup_2gram_frac").desc, col("doc_id"))
      .limit(100)

  /** Lexical-diversity audit: per document, type count (distinct
    * tokens), type-token ratio, and the hapax-legomena share (types
    * occurring exactly once / types) — the complementary read to
    * repetitionAudit (low TTR = repetitive; high hapax = noisy OCR or
    * genuinely diverse vocabulary). One (doc, token) count agg (map-
    * side combined), one doc rollup; exact integers, two rounded
    * divides. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr",
        round(col("n_types").cast("double") / col("n_tokens"), 6))
      .withColumn("hapax_frac",
        round(col("n_hapax").cast("double") / col("n_types"), 6))

  /** Q190 — the 100 least lexically diverse documents (lowest TTR;
    * doc_id tie-break). */
  def q190(s: SparkSession, d: String): DataFrame =
    lexicalDiversity(Tables.documents(s, d))
      .orderBy(col("ttr"), col("doc_id"))
      .limit(100)

  /** Zipf-law fit over the corpus vocabulary: OLS of ln(freq) on
    * ln(rank) for the top-R frequency ranks (the head, where Zipf
    * holds and tokenizer/dedup decisions live; slope ≈ −1 is healthy
    * natural text, a flat slope flags template/boilerplate corpora).
    * Scale: the vocabulary count agg map-side combines; the top-R cut
    * is a planner-guaranteed DISTRIBUTED top-k (orderBy+limit →
    * TakeOrderedAndProject, the q127 doctrine — never a global rank
    * window); everything after operates on the R-row frame, where a
    * single-partition window is bounded by construction, and the four
    * float folds run in explicit rank order (q79 doctrine) so the fit
    * is cross-engine deterministic. */
  def zipfFit(docs: DataFrame, topR: Int = 1000): DataFrame = {
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(topR) // TakeOrderedAndProject — distributed bounded heaps
    val ranked = vocab.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("w"))).cast("long"))
      .withColumn("lx", log(col("r").cast("double")))
      .withColumn("ly", log(col("c").cast("double")))
    def fold(term: org.apache.spark.sql.Column) = aggregate(
      transform(array_sort(collect_list(struct(col("r"), term.as("t")))),
        x => x.getField("t")),
      lit(0d), (acc, x) => acc + x)
    ranked.agg(
      count(lit(1)).as("n_ranks"),
      fold(col("lx")).as("sx"), fold(col("ly")).as("sy"),
      fold(col("lx") * col("lx")).as("sxx"),
      fold(col("lx") * col("ly")).as("sxy"))
      .select(col("n_ranks"),
        round((col("n_ranks").cast("double") * col("sxy") - col("sx") * col("sy")) /
          (col("n_ranks").cast("double") * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"),
        round((col("sy") - ((col("n_ranks").cast("double") * col("sxy") -
          col("sx") * col("sy")) /
          (col("n_ranks").cast("double") * col("sxx") - col("sx") * col("sx"))) *
          col("sx")) / col("n_ranks").cast("double"), 6).as("intercept"))
  }

  /** Q198 — Zipf head fit over the documents vocabulary. */
  def q198(s: SparkSession, d: String): DataFrame =
    zipfFit(Tables.documents(s, d), 1000)

  /** Language-ID confusion matrix: q31's marker-ratio classifier
    * scored against the corpus's ground-truth `lang` column — the
    * audit every heuristic filter needs BEFORE it gates a training
    * mix (per true language: how much mass the classifier would keep
    * or misroute). One narrow classify map + one grouped count + a
    * language-cardinality-bounded share join. */
  /** The q31 marker-ratio classifier as a (lang, lang_pred) frame —
    * shared by the q207 confusion matrix and q218's kappa. */
  def langPrediction(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
      when(tokenRatio(col("text"), enMarkers) >= 0.05, "en")
        .otherwise("und").as("lang_pred"))

  def langConfusion(docs: DataFrame): DataFrame = {
    val pred = langPrediction(docs)
    val cells = pred.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("lang").agg(sum("n").as("tot"))
    cells.join(broadcast(tot), "lang")
      .select(col("lang"), col("lang_pred"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .as("share"))
  }

  /** Q207 — how the en-marker heuristic routes each true language. */
  def q207(s: SparkSession, d: String): DataFrame =
    langConfusion(Tables.documents(s, d)).orderBy("lang", "lang_pred")

  /** Good–Turing unseen-mass estimate per source — the corpus-level
    * "how much vocabulary haven't we seen yet" read (Good 1953): with
    * N tokens and n_r types occurring exactly r times, the
    * probability mass of UNSEEN types is estimated by n₁/N, and the
    * discounted frequency for singletons is r* = 2·n₂/n₁. This is
    * the per-SOURCE complement of q190's per-doc hapax fraction and
    * q198's head-rank Zipf fit: a source with high unseen mass needs
    * more data before its token statistics stabilize — the "keep
    * crawling or stop" signal for a training-mix curator.
    * Tokenization is the suite's `split(text, ' ')` contract. All
    * counts exact BIGINTs from two hash-aggs (source×token, then
    * source); the two estimates are single rounded divides. */
  def gtUnseen(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"),
      explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
    tf.groupBy("source").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n1"),
        col("n2"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("gt_unseen_mass"),
        when(col("n1") === 0, lit(null).cast("double"))
          .otherwise(round(lit(2.0d) * col("n2").cast("double") /
            col("n1").cast("double"), 6)).as("r1_star"))
  }

  /** Q228 — Good–Turing unseen vocabulary mass per document source. */
  def q228(s: SparkSession, d: String): DataFrame =
    gtUnseen(Tables.documents(s, d)).orderBy("source")

  /** Heaps-law vocabulary growth curve per source — V(N) sampled at
    * `nCheckpoints` even document-count checkpoints: "how fast is this
    * source still minting new types" (q228's unseen-mass estimate is
    * the final point; this is the trajectory — a flattening curve
    * means the source is mined out, a straight log-log line means
    * keep crawling). The distributed form NEVER runs a cumulative
    * distinct: each type contributes ONE first-occurrence rank
    * (min doc rank per (source, token)), each doc one token count,
    * and a checkpoint's (types, tokens) are plain ≤-joins against the
    * 10-row-per-source checkpoint frame — vocabulary-sized and
    * doc-sized frames with a bounded ×checkpoints fanout, all exact
    * BIGINTs, TTR the one rounded divide. Doc order is (doc_id) —
    * unique, so both engines rank identically. */
  def heapsGrowth(docs: DataFrame, nCheckpoints: Int): DataFrame = {
    // Per-source doc rank via the TWO-PHASE prefix count (the q204/q206
    // machinery): sources are FEW, so row_number over
    // Window.partitionBy(source) would sort N/|sources| docs in one
    // task — the low-cardinality-group trap this repo keeps finding.
    // Range-repartition on (source, doc_id) keeps each source's docs
    // globally ordered across partitions; rank = local row_number +
    // per-(source, pid) offset. The persist is load-bearing: both
    // branches must see ONE range sample or the pid boundaries
    // disagree between local ranks and offsets.
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val part = docs.select(col("source"), col("doc_id"), col("text"))
      .repartitionByRange(p, col("source"), col("doc_id"))
      .withColumn("pid", spark_partition_id()).persist()
    val local = part.withColumn("lr", row_number().over(
      Window.partitionBy("pid", "source").orderBy("doc_id")))
    val offsets = part.groupBy("pid", "source").agg(count(lit(1)).as("pc"))
      .withColumn("off", coalesce(sum("pc").over(
        Window.partitionBy("source").orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "source", "off")
    val ranked = local.join(broadcast(offsets), Seq("pid", "source"))
      .withColumn("r", (col("off") + col("lr")).cast("long"))
    val docTok = ranked.select(col("source"), col("r"),
      size(split(col("text"), " ")).cast("long").as("tc"))
    val firstOcc = ranked
      .select(col("source"), col("r"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(min("r").as("fr"))
    val maxr = ranked.groupBy("source").agg(max("r").as("maxr"))
    val cps = maxr.crossJoin(
        docs.sparkSession.range(1, nCheckpoints + 1).select(col("id").as("cp")))
      // ceil(maxr·cp / k) in pure integer arithmetic (DIV, not the
      // double-valued `/`)
      .select(col("source"), col("cp"),
        expr(s"CAST((maxr * cp + ${nCheckpoints - 1}) DIV $nCheckpoints AS BIGINT)")
          .as("cr"))
    val toks = docTok.join(cps, Seq("source"))
      .filter(col("r") <= col("cr"))
      .groupBy("source", "cp", "cr").agg(sum("tc").as("n_tokens"))
    val types = firstOcc.join(cps, Seq("source"))
      .filter(col("fr") <= col("cr"))
      .groupBy("source", "cp").agg(count(lit(1)).as("n_types"))
    val out = toks.join(types, Seq("source", "cp"))
      .select(col("source"), col("cp"), col("cr").as("n_docs"),
        col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"))
      .localCheckpoint(true) // pin-then-release (the packShards lifecycle)
    part.unpersist()
    out
  }

  /** Q232 — vocabulary growth at 10 checkpoints per source. */
  def q232(s: SparkSession, d: String): DataFrame =
    heapsGrowth(Tables.documents(s, d), 10).orderBy("source", "cp")

  /** Reciprocal-rank fusion of a relevance ranking with a quality
    * prior (Cormack/Clarke/Büttcher 2009) — the hybrid-retrieval
    * rerank every modern RAG/search stack runs: final score
    * Σ 1/(K + rankᵢ) over the fused lists. List 1 is BM25 top-`cand`;
    * list 2 is the CORPUS-WIDE quality order (q30/q85's 4dp stopword
    * ratio, doc_id tie-break). The scale trap is list 2: a global
    * row_number over the corpus is one task — instead each candidate's
    * quality rank is computed as an exact ≤-COUNT against the corpus
    * (|cands| × corpus rows through one broadcast-join agg, never a
    * global sort — the rank of x is |{y : key(y) ≤ key(x)}| on the
    * UNIQUE (sr, doc_id) key). RRF scores are one IEEE sum of two
    * reciprocals, rounded 6dp; ties broken by doc_id. */
  def rrfFusion(docs: DataFrame, terms: Seq[String], cand: Int = 50,
      topn: Int = 20, rrfK: Int = 60): DataFrame = {
    val cands = bm25(docs, terms, k = cand)
      .select(col("doc_id"), col("rank").as("r1"))
    val q = docs.select(col("doc_id").as("qid"),
      round(tokenRatio(col("text"), stopwords), 4).as("qsr"))
    val candKeys = cands.join(
      q.select(col("qid").as("doc_id"), col("qsr").as("csr")), "doc_id")
    val r2 = q.join(broadcast(candKeys),
        col("qsr") < col("csr") ||
          (col("qsr") === col("csr") && col("qid") <= col("doc_id")))
      .groupBy("doc_id", "r1")
      .agg(count(lit(1)).as("r2"))
    r2.select(col("doc_id"), col("r1"), col("r2"),
        round(lit(1.0d) / (lit(rrfK) + col("r1")) +
          lit(1.0d) / (lit(rrfK) + col("r2")), 6).as("rrf"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf").desc, col("doc_id"))).cast("bigint"))
      .filter(col("rank") <= topn)
  }

  /** Q235 — BM25 ⊕ quality-prior reciprocal-rank fusion, top-20. */
  def q235(s: SparkSession, d: String): DataFrame =
    rrfFusion(Tables.documents(s, d), Seq("dup", "hash", "window"))
      .orderBy("rank")

  /** EXACT set-similarity join with prefix filtering (Chaudhuri/
    * Ganti/Kaushik SSJoin 2006; the PPJoin family) — every document
    * pair whose word-`shingleN`-gram SETS have Jaccard ≥ num/den,
    * with NO false negatives and NO approximation: the exact
    * complement of the MinHash/LSH tier (q28 trades recall for
    * candidate volume; this trades a frequency-ordered prefix index
    * for exactness). The pruning theorem, applied per ORDERED pair
    * (a < b): J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉, and A's suffix beyond
    * its first |A| − ⌈t·|A|⌉ + 1 grams (rarest-first global order,
    * tie by gram) holds only ⌈t·|A|⌉ − 1 elements — so any qualifying
    * B must share a PREFIX gram of A. For the SELF-join both sides can
    * be cut to their prefixes (candidates are prefix(A) ⋈ prefix(B)):
    * if no common gram lies in both prefixes, the GLOBALLY smallest
    * common gram sits past one side's prefix — say past ℓ(A) in A, so
    * ALL common grams live in A's last ⌈t·|A|⌉ − 1 positions, giving
    * co ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤ t(|A|+|B|)/(1+t) ≤ co, a
    * contradiction (the middle step uses |B| ≥ t·|A|, forced by J ≥ t).
    * Verification is an exact intersection count on the candidate
    * pairs only; the threshold test den·co ≥ num·(|A|+|B|−co) is pure
    * integers (t never exists as a float anywhere).
    *
    * r14 (verdict #2) — the two remaining PPJoin cuts, both LOSSLESS:
    *  - LENGTH filter: J ≥ t ⟹ co ≤ min(na,nb) and co ≥ t(na+nb−co)
    *    force t·nb ≤ na ≤ nb/t — in integers, nb·num ≤ na·den AND
    *    na·num ≤ nb·den — applied AT candidate generation (sizes ride
    *    the prefix rows), before the pair ever reaches distinct/verify.
    *  - POSITIONAL filter: for ANY shared gram at per-doc ranks (i, j)
    *    (rarest-first order), common grams before it number
    *    ≤ min(i,j) − 1 and after it ≤ min(na−i, nb−j), so
    *    co ≤ min(i,j) + min(na−i, nb−j); a qualifying pair needs
    *    co ≥ α = ⌈num·(na+nb)/(num+den)⌉ (from den·co ≥ num·(na+nb−co)).
    *    The bound is tested on the pair's globally-first shared prefix
    *    gram (min (df, gram) struct — smallest ranks, tightest bound);
    *    it upper-bounds co for EVERY shared gram, so pruning on any
    *    one of them cannot drop a qualifying pair.
    *
    * Scale: the df join shuffles on the gram key; BOTH join sides are
    * prefix-cut, so the candidate fanout is Σ_g df_prefix(g)² (vs the
    * r13 Σ_g df_prefix(g)·df(g)); rarest-first ordering minimizes it;
    * the length filter kills size-incompatible pairs inside the gram
    * join's codegen stage and the positional filter cuts the verify
    * join's probe set; every window partitions on the doc key (never
    * low-cardinality). Oracle: DuckDB runs the NAIVE all-pairs gram
    * self-join — the filtered plan must reproduce it row-for-row
    * (zero-false-negatives IS the gate; r13→r14 hash unchanged). */
  def setSimilarityJoin(docs: DataFrame, num: Int, den: Int,
      shingleN: Int = 5): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= shingleN)
    // tok feeds FOUR consumers (df agg, prefix window, verify ×2) and
    // prefix feeds BOTH sides of the candidate self-join: without a
    // materialization each reference re-runs the explode+distinct
    // shuffle (and the window, twice) — measured 153 s vs 58 s at
    // 250 k docs (corpusq curve, r14). localCheckpoint (the q130
    // doctrine) computes each ONCE; Bench/callers sweep persisted
    // blocks afterwards.
    val tok = w.select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("w")) - shingleN),
          i => array_join(slice(col("w"), i + lit(1), lit(shingleN)), " ")))
        .as("gram"))
      .distinct()
      .localCheckpoint(true)
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfq = tok.groupBy("gram").agg(count(lit(1)).as("df"))
    val prefix = tok.join(dfq, "gram")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("gram"))))
      .join(sz, "doc_id")
      // L = n − ⌈t·n⌉ + 1 with the ceil kept rational: ⌈num·n/den⌉
      .filter(col("rn") <=
        col("n") - expr(s"CAST((n * $num + ${den - 1}) DIV $den AS BIGINT)") + 1)
      .localCheckpoint(true)
    // prefix ⋈ prefix on the gram, ordered pairs, LENGTH filter fused
    // into the join stage (sizes already ride both prefix sides)
    val matches = prefix.select(col("doc_id").as("da"), col("gram"),
        col("df"), col("rn").as("ra"), col("n").as("na"))
      .join(prefix.select(col("doc_id").as("db"), col("gram"),
        col("rn").as("rb"), col("n").as("nb")), Seq("gram"))
      .filter(col("da") < col("db") &&
        col("nb") * num <= col("na") * den &&
        col("na") * num <= col("nb") * den)
    // POSITIONAL filter on the globally-first shared prefix gram:
    // min-struct by (df, gram) picks it; α in exact integer ceil.
    val cand = matches
      .groupBy("da", "db")
      .agg(min(struct(col("df"), col("gram"), col("ra"), col("rb"),
        col("na"), col("nb"))).as("m"))
      .select(col("da"), col("db"),
        col("m.ra").as("ra"), col("m.rb").as("rb"),
        col("m.na").as("na"), col("m.nb").as("nb"))
      .filter(least(col("ra"), col("rb")) +
        least(col("na") - col("ra"), col("nb") - col("rb")) >=
        expr(s"CAST(((na + nb) * $num + ${num + den - 1}) DIV ${num + den} AS BIGINT)"))
      .select("da", "db")
    val co = cand
      .join(tok.select(col("doc_id").as("da"), col("gram")), Seq("da"))
      .join(tok.select(col("doc_id").as("db"), col("gram")), Seq("db", "gram"))
      .groupBy("da", "db").agg(count(lit(1)).as("co"))
    co.join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("co") * den >= (col("na") + col("nb") - col("co")) * num)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("co"),
        col("na"), col("nb"),
        round(col("co").cast("double") /
          (col("na") + col("nb") - col("co")).cast("double"), 6).as("jaccard"))
  }

  /** Q241 — exact Jaccard ≥ 1/2 document pairs over 5-gram sets. */
  def q241(s: SparkSession, d: String): DataFrame =
    setSimilarityJoin(Tables.documents(s, d), 1, 2)
      .orderBy("doc_a", "doc_b")

  /** EXACT containment join — the ASYMMETRIC sibling of
    * [[setSimilarityJoin]]: every ORDERED pair (a, b), a ≠ b, whose
    * word-`shingleN`-gram sets satisfy |A∩B| / |A| ≥ num/den ("A is
    * mostly covered by B" — the quote/partial-duplicate detector;
    * Jaccard misses a short doc embedded in a long one because the
    * union is dominated by B). Zero false negatives, exact verify.
    *
    * Prefix theorem (containment form): co ≥ ⌈t·na⌉, and A's suffix
    * past its first na − ⌈t·na⌉ + 1 grams (rarest-first global order)
    * holds only ⌈t·na⌉ − 1 elements — so a qualifying B shares a
    * PREFIX gram of A. Unlike the symmetric join, B CANNOT be
    * prefix-cut at INDEX time (the bound is on |A| only), so
    * candidates are prefix(A) ⋈ full(B) with three lossless cuts:
    *  - LENGTH: co ≤ nb forces nb·den ≥ na·num;
    *  - B-RANK (join-time index prefix): the globally-smallest common
    *    gram g₁ is provably inside prefix(A) (were it past ℓ(A), all
    *    commons would be, capping co at ⌈t·na⌉ − 1 < co) AND sits at
    *    B-rank ≤ nb − ⌈t·na⌉ + 1 (commons after it number co − 1 ≥
    *    ⌈t·na⌉ − 1, all at later B-ranks) — so matched grams with
    *    rb > nb − ⌈t·na⌉ + 1 can be dropped per-row: g₁ always
    *    survives for a qualifying pair. This is PPJoin's shorter
    *    index prefix, applied at the join because it depends on na;
    *  - POSITIONAL: for any shared gram at ranks (i, j),
    *    co ≤ min(i,j) − 1 + 1 + min(na−i, nb−j); tested on the pair's
    *    globally-first surviving gram (= g₁) against α = ⌈t·na⌉.
    *
    * Scale: same gram-keyed shuffles as the symmetric join (tok and
    * prefix checkpointed once); candidate fanout Σ_g df_prefix(g)·df(g)
    * — the (1−t) prefix cut on the probing side; verification touches
    * candidate pairs only. Oracle: the NAIVE all-pairs gram self-join
    * filtered on den·co ≥ num·na. */
  def containmentJoin(docs: DataFrame, num: Int, den: Int,
      shingleN: Int = 5): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= shingleN)
    val tok = w.select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("w")) - shingleN),
          i => array_join(slice(col("w"), i + lit(1), lit(shingleN)), " ")))
        .as("gram"))
      .distinct()
      .localCheckpoint(true)
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfq = tok.groupBy("gram").agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfq, "gram")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("gram"))))
      .join(sz, "doc_id")
      .localCheckpoint(true)
    val prefix = ranked.filter(col("rn") <=
      col("n") - expr(s"CAST((n * $num + ${den - 1}) DIV $den AS BIGINT)") + 1)
    // prefix(A) ⋈ full(B) on the gram (the ranked frame carries B's
    // rank for the positional bound), a ≠ b, LENGTH filter fused
    val matches = prefix.select(col("doc_id").as("da"), col("gram"),
        col("df"), col("rn").as("ra"), col("n").as("na"))
      .join(ranked.select(col("doc_id").as("db"), col("gram"),
        col("rn").as("rb"), col("n").as("nb")), Seq("gram"))
      .filter(col("da") =!= col("db") &&
        col("nb") * den >= col("na") * num &&
        col("rb") <= col("nb") -
          expr(s"CAST((na * $num + ${den - 1}) DIV $den AS BIGINT)") + 1)
    val cand = matches
      .groupBy("da", "db")
      .agg(min(struct(col("df"), col("gram"), col("ra"), col("rb"),
        col("na"), col("nb"))).as("m"))
      .select(col("da"), col("db"),
        col("m.ra").as("ra"), col("m.rb").as("rb"),
        col("m.na").as("na"), col("m.nb").as("nb"))
      .filter(least(col("ra"), col("rb")) +
        least(col("na") - col("ra"), col("nb") - col("rb")) >=
        expr(s"CAST((na * $num + ${den - 1}) DIV $den AS BIGINT)"))
      .select("da", "db")
    val co = cand
      .join(tok.select(col("doc_id").as("da"), col("gram")), Seq("da"))
      .join(tok.select(col("doc_id").as("db"), col("gram")), Seq("db", "gram"))
      .groupBy("da", "db").agg(count(lit(1)).as("co"))
    co.join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("co") * den >= col("na") * num)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("co"),
        col("na"), col("nb"),
        round(col("co").cast("double") / col("na").cast("double"), 6)
          .as("containment"))
  }

  /** Q244 — containment ≥ 2/3 ordered document pairs over 5-gram sets. */
  def q244(s: SparkSession, d: String): DataFrame =
    containmentJoin(Tables.documents(s, d), 2, 3)
      .orderBy("doc_a", "doc_b")

  /** Bigram stupid-backoff LM quality score (r16) — the higher-order
    * sibling of q79's unigram proxy and the closest self-contained
    * analog of the CCNet/RedPajama KenLM perplexity filter (Wenzek et
    * al. 2020, arXiv:1911.00359, which buckets docs by perplexity
    * under an LM trained on a curated REFERENCE corpus; backoff form:
    * Brants et al. 2007, "stupid backoff" — no discounting, one
    * constant). A reference slice (`doc_id % 25 == 0`, standing in
    * for the curated corpus) provides the counts; every other doc
    * scores by its mean bigram log-probability:
    *
    *   S(w₂|w₁) = c₂(w₁,w₂) / c₁(w₁)              bigram seen in ref
    *            = 0.4 · (c₁(w₂)+1) / (N+V)         backoff, add-one
    *
    * (add-one on the unigram floor keeps OOV words defined). Unlike
    * q79, the scored docs genuinely MISS reference bigrams, so both
    * CASE branches fire under the gate (9,539 of 25,741 bigrams back
    * off at sf0.01, 163 at sf0.1; 26 OOV unigrams at sf0.01).
    *
    * Determinism: counts are exact BIGINTs; each term is one division
    * then LN — the mirrored-libm portable class (sqrt/ln/log10/pow,
    * gate-proven since r3; NOT exp/trig, which measured last-ulp
    * JVM/DuckDB disagreement, see Geo) — and
    * the per-doc sum folds in POSITION order (the q79 ordered-fold
    * doctrine; positions are unique within a doc, so the order is
    * total on both engines).
    *
    * Scale: counts are two vocab-keyed hash-aggs over the reference
    * slice only; scoring is three vocab-keyed hash joins (AQE sizes
    * them — Heaps-law keys, the q69 note) and one doc-keyed agg whose
    * per-group state is bounded by doc length. (N, V) ride a 1-row
    * broadcast — no driver count. */
  def bigramLmScore(docs: DataFrame, refMod: Int = LmRefMod): DataFrame = {
    require(refMod >= 2, s"refMod=$refMod must leave both slices non-empty")
    val lf = docs.select(col("doc_id"),
      expr("filter(split(text, '\\\\s+'), x -> length(x) > 0)").as("lf"))
    val rtok = lf.filter(col("doc_id") % refMod === 0)
      .select(explode(col("lf")).as("w"))
    val c1 = rtok.groupBy("w").agg(count(lit(1)).as("c1"))
    val nv = c1.agg(sum("c1").as("n_tok"), count(lit(1)).as("vsz"))
    // greatest(…, 0): an empty/whitespace-only doc has size(lf) = 0,
    // and slice's length argument must be >= 0 (Spark throws on -1
    // where the oracle's range(1, len(lf)) just yields an empty list)
    def bigrams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), posexplode(zip_with(
        expr("slice(lf, 1, greatest(size(lf) - 1, 0))"),
        expr("slice(lf, 2, greatest(size(lf) - 1, 0))"),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"), col("bg.w1"), col("bg.w2"))
    val c2 = bigrams(lf.filter(col("doc_id") % refMod === 0))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val j = bigrams(lf.filter(col("doc_id") % refMod =!= 0))
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1.select(col("w").as("w1"), col("c1").as("c1a")), Seq("w1"), "left")
      .join(c1.select(col("w").as("w2"), col("c1").as("c1b")), Seq("w2"), "left")
      .crossJoin(broadcast(nv))
    j.withColumn("term", when(col("c2").isNotNull,
        log(col("c2").cast("double") / col("c1a").cast("double")))
      .otherwise(log(lit(0.4)) +
        log((coalesce(col("c1b"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_tok") + col("vsz")).cast("double"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_backoff"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("term")))),
            x => x.getField("term")),
          lit(0d), (acc, x) => acc + x).as("slp"))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
        round(col("slp") / col("n_bigrams"), 6).as("lp_per_bigram"))
  }

  /** Q263 — bigram stupid-backoff LM score under the ORACLE gate. */
  def q263(s: SparkSession, d: String): DataFrame =
    bigramLmScore(Tables.documents(s, d)).orderBy("doc_id")

  /** The trained LM + tercile thresholds as DRIVER-SIDE tables for
    * serving (the S41/S51 train-batch/serve-stream pattern on the LM
    * tier): unigram/bigram reference counts, (N, V), and the q269
    * exact-rank thresholds. The tables are VOCAB-keyed (Heaps-law
    * sublinear in the reference slice — KBs on the fixture, and a
    * reference corpus is curated/bounded by design); a deployment
    * whose reference tables outgrow a broadcast serves the scores
    * through the q263 joins instead and only the 2-value thresholds
    * ride the stream. */
  final case class LmModel(c1: Map[String, Long],
      c2: Map[(String, String), Long], nTok: Long, vsz: Long,
      t1: Long, t2: Long)

  def lmModel(docs: DataFrame, refMod: Int = LmRefMod): LmModel = {
    import org.apache.spark.sql.expressions.Window
    val lf = docs.select(col("doc_id"),
      expr("filter(split(text, '\\\\s+'), x -> length(x) > 0)").as("lf"))
    val rtok = lf.filter(col("doc_id") % refMod === 0)
      .select(explode(col("lf")).as("w"))
    val c1 = rtok.groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val c2 = lf.filter(col("doc_id") % refMod === 0)
      .select(explode(zip_with(
        expr("slice(lf, 1, greatest(size(lf) - 1, 0))"),
        expr("slice(lf, 2, greatest(size(lf) - 1, 0))"),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .groupBy("bg.w1", "bg.w2").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val nTok = c1.values.sum
    val vsz = c1.size.toLong
    // thresholds: the q269 chain verbatim (histogram-bounded)
    val sc = bigramLmScore(docs, refMod)
      .withColumn("lpq",
        round(col("lp_per_bigram") * lit(1000000.0)).cast("long"))
      .localCheckpoint(true)
    val kf = sc.agg(expr("count(1) DIV 3").as("k1"),
      expr("(2 * count(1)) DIV 3").as("k2"))
    val hist = sc.groupBy("lpq").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(kf))
      .withColumn("cum", sum("c").over(Window.orderBy(col("lpq").desc)))
      .localCheckpoint(true)
    val t1 = hist.filter(col("cum") >= col("k1") + lit(1L))
      .agg(coalesce(max("lpq"), lit(Long.MinValue))).head().getLong(0)
    val t2 = hist.filter(col("cum") >= col("k2") + lit(1L))
      .agg(coalesce(max("lpq"), lit(Long.MinValue))).head().getLong(0)
    LmModel(c1, c2, nTok, vsz, t1, t2)
  }

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    * §4.3 — their pipeline's ACTUAL output: the corpus split into
    * thirds by reference-LM perplexity, "head" the most reference-
    * like): q263's scores cut at two EXACT-RANK tercile thresholds —
    * the q257 calibration machinery generalized to two cut points.
    * Scores quantize to ppm BIGINTs (ROUND on the identical round(6)
    * double — both engines round half-away on the same value), k₁ =
    * n DIV 3 and k₂ = (2n) DIV 3 exactly, each threshold is the
    * (k+1)-th largest quantized score, and a bucket admits scores
    * STRICTLY above its threshold — ties collapse downward, bit-
    * stable on both engines. The one ordered window runs on the
    * score HISTOGRAM (bounded by the quantized score DOMAIN — the lp
    * range × 10⁶, a few million rows at any corpus size — never the
    * corpus; the q257 class). */
  def lmBuckets(docs: DataFrame, refMod: Int = LmRefMod): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = bigramLmScore(docs, refMod)
      .withColumn("lpq",
        round(col("lp_per_bigram") * lit(1000000.0)).cast("long"))
      .localCheckpoint(true) // multi-consumer: histogram + output
    val kf = sc.agg(expr("count(1) DIV 3").as("k1"),
      expr("(2 * count(1)) DIV 3").as("k2"))
    val hist = sc.groupBy("lpq").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(kf))
      .withColumn("cum", sum("c").over(Window.orderBy(col("lpq").desc)))
      .localCheckpoint(true)
    val t1 = hist.filter(col("cum") >= col("k1") + lit(1L))
      .agg(coalesce(max("lpq"), lit(Long.MinValue)).as("t1"))
    val t2 = hist.filter(col("cum") >= col("k2") + lit(1L))
      .agg(coalesce(max("lpq"), lit(Long.MinValue)).as("t2"))
    sc.crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .select(col("doc_id"), col("lp_per_bigram"),
        when(col("lpq") > col("t1"), "head")
          .when(col("lpq") > col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Q269 — CCNet perplexity buckets under the ORACLE gate. */
  def q269(s: SparkSession, d: String): DataFrame =
    lmBuckets(Tables.documents(s, d)).orderBy("doc_id")

  /** The q269 oracle: the q263 chain + ppm quantization + the two
    * exact-rank tercile thresholds (the q257 cum/threshold idiom). */
  def q269OracleSql: String =
    s"WITH ${lmCtes()}, " +
      "sq AS MATERIALIZED (SELECT doc_id, lp_per_bigram, " +
      "CAST(ROUND(lp_per_bigram * 1000000) AS BIGINT) AS lpq FROM lmsc), " +
      "kf AS (SELECT COUNT(*) // 3 AS k1, (2 * COUNT(*)) // 3 AS k2 FROM sq), " +
      "hist AS (SELECT lpq, COUNT(*) AS c FROM sq GROUP BY lpq), " +
      "cum AS (SELECT lpq, SUM(c) OVER (ORDER BY lpq DESC) AS cum FROM hist), " +
      "t1 AS (SELECT COALESCE(MAX(lpq), -9223372036854775807 - 1) AS t1 " +
      "FROM cum, kf WHERE cum >= kf.k1 + 1), " +
      "t2 AS (SELECT COALESCE(MAX(lpq), -9223372036854775807 - 1) AS t2 " +
      "FROM cum, kf WHERE cum >= kf.k2 + 1) " +
      "SELECT sq.doc_id, sq.lp_per_bigram, " +
      "CASE WHEN sq.lpq > t1.t1 THEN 'head' " +
      "WHEN sq.lpq > t2.t2 THEN 'middle' ELSE 'tail' END AS bucket " +
      "FROM sq, t1, t2 ORDER BY sq.doc_id"

  /** The q263 oracle: the identical count/backoff/ordered-fold chain
    * in DuckDB (range/list idiom for positional bigrams). */
  def q263OracleSql: String =
    s"WITH ${lmCtes()} SELECT doc_id, n_bigrams, n_backoff, lp_per_bigram " +
      "FROM lmsc ORDER BY doc_id"

  /** The q263 chain as composable CTEs ending in `lmsc` (doc_id,
    * n_bigrams, n_backoff, lp_per_bigram) — reused by the pipeline-v8
    * oracle so the LM stage has ONE source of truth. `refMod` mirrors
    * [[bigramLmScore]]'s parameter so a non-default caller can build
    * the matching oracle instead of silently diverging from the
    * hardcoded default. */
  private[ext] def lmCtes(refMod: Int = LmRefMod): String =
    "lf AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), " +
      "x -> LENGTH(x) > 0) AS lf FROM documents), " +
      s"rtok AS (SELECT unnest(lf) AS w FROM lf WHERE doc_id % $refMod = 0), " +
      "c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM rtok GROUP BY w), " +
      "nv AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_tok, " +
      "CAST(COUNT(*) AS BIGINT) AS vsz FROM c1), " +
      "rbig AS (SELECT lf.lf[i] AS w1, lf.lf[i + 1] AS w2 " +
      s"FROM lf, UNNEST(range(1, len(lf))) AS t(i) WHERE doc_id % $refMod = 0), " +
      "c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM rbig GROUP BY w1, w2), " +
      "tbig AS (SELECT lf.doc_id, i AS pos, lf.lf[i] AS w1, lf.lf[i + 1] AS w2 " +
      s"FROM lf, UNNEST(range(1, len(lf))) AS t(i) WHERE doc_id % $refMod <> 0), " +
      "j AS (SELECT t.doc_id, t.pos, c2.c2, ca.c1 AS c1a, cb.c1 AS c1b " +
      "FROM tbig t LEFT JOIN c2 ON t.w1 = c2.w1 AND t.w2 = c2.w2 " +
      "LEFT JOIN c1 ca ON t.w1 = ca.w LEFT JOIN c1 cb ON t.w2 = cb.w), " +
      "terms AS (SELECT doc_id, pos, c2 IS NULL AS backoff, " +
      "CASE WHEN c2 IS NOT NULL THEN LN(CAST(c2 AS DOUBLE) / CAST(c1a AS DOUBLE)) " +
      "ELSE LN(0.4) + LN(CAST(COALESCE(c1b, 0) + 1 AS DOUBLE) / " +
      "CAST(nv.n_tok + nv.vsz AS DOUBLE)) END AS term FROM j CROSS JOIN nv), " +
      "lmsc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
      "CAST(SUM(CASE WHEN backoff THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff, " +
      "ROUND(list_sum(list(term ORDER BY pos)) / COUNT(*), 6) AS lp_per_bigram " +
      "FROM terms GROUP BY doc_id)"
}
