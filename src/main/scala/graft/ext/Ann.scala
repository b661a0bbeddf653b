package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TopKAggregator
import graft.sources.Tables

/** Approximate nearest-neighbor search: IVF (inverted-file) index over an
  * `array<float>` embedding column (SURVEY.md §2.5 similarity-search
  * scale path; brute force Similarity.q27/topKBatch is the ground truth).
  *
  * How it scales: brute force touches all N corpus vectors per query.
  * IVF partitions the corpus into nCentroids buckets (nearest centroid);
  * a query scores only the centroids (tiny, broadcast), picks the
  * nProbe closest buckets, and scans just those — expected cost
  * N·(nProbe/nCentroids) per query. At 100 TB the assignment table is
  * written partitioned/bucketed BY centroid_id, so a probe is a
  * partition-pruned scan, not a shuffle of the corpus.
  *
  * Everything is deterministic — no RNG: seed centroids are the
  * nCentroids lowest-id vectors, then refined by `iters` rounds of
  * Lloyd's k-means (mean of assigned vectors), all as DataFrame ops.
  */
object Ann {

  /** element-wise mean of an array column within each group:
    * posexplode → avg per position → re-assemble ordered. */
  private def meanVector(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("centroid_id", "pos").agg(avg("v").as("m"))
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("centroid_id"),
        transform(col("pm"), x => x.getField("m").cast("float")).as("centroid"))

  /** Assign every corpus vector to its nearest (max-cosine) centroid.
    * Centroids are broadcast; scoring uses the NATIVE `vec_dot`/
    * `vec_norm` Catalyst expressions (r8 — codegen'd straight over the
    * unsafe array buffers, no per-row boundary copies; the r5 compiled
    * UDFs paid an ArrayData→Array[Double] copy per argument per row,
    * N·nCentroids times here). The arg-max is a top-1 typed-aggregator
    * hash aggregation on vec_id (TopKAggregator(1), rationale below) —
    * map-side partial, so only N rows reach the shuffle; the old
    * `row_number` window sort-shuffled the full N·nCentroids candidate
    * set. At 100 TB the assignment pass dominates index build, so both
    * changes land on the hot path. Numerics unchanged: (double) of a
    * float is exact, same left-to-right sums. Ties (equal sim) break to
    * the LOWEST centroid_id — TopKAggregator's (score DESC, id ASC)
    * order, the same order the old window declared. Degenerate inputs:
    * a zero-norm vector (or centroid) scores NaN, which the aggregator's
    * `better()` comparison can neither accept nor displace — a
    * first-arriving NaN would poison the top-1. `nanvl(sim, -Inf)`
    * closes that hole: zero-norm vectors score -Inf everywhere and
    * tie-break deterministically to the LOWEST centroid_id (still in
    * exactly one cell, still searchable), and a degenerate centroid can
    * never outscore a real one.
    *
    * Why TopKAggregator(1) and not `max_by`: the declarative argmax's
    * buffer holds a struct (+ the embedding array for `first`), which
    * HashAggregate's fixed-width UnsafeRow buffer can't store, so
    * Catalyst falls back to SortAggregate — a per-partition SORT of all
    * N·nCentroids candidate rows before the partial agg. The typed
    * aggregator routes to ObjectHashAggregate: hash-based, no sort,
    * same map-side partials. */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val top1 = udaf(new TopKAggregator(1))
    corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("sim",
        nanvl(
          call_function("vec_dot", col("embedding"), col("centroid")) /
            (call_function("vec_norm", col("embedding")) *
              call_function("vec_norm", col("centroid"))),
          lit(Double.NegativeInfinity)))
      .groupBy("vec_id")
      .agg(top1(col("centroid_id"), col("sim")).as("t1"),
        first(col("embedding")).as("embedding"))
      .select(col("t1").getItem(0).getField("id").as("centroid_id"),
        col("vec_id"), col("embedding"))
  }

  /** Build the IVF index: (centroids, assignments).
    *
    * Both returned frames are persisted — they ARE the index and are
    * meant to serve many `search` calls; the CALLER owns the lifecycle
    * and must `unpersist()` both when done (q34 below is the model).
    *
    * Determinism: centroid_id is `row_number() over (order by vec_id)`
    * − 1 on the seed rows — a pure function of the data, identical
    * across partitionings/repartitions (the old
    * `monotonically_increasing_id()` encoded the partition layout into
    * the id; r3 ADVICE item, fixed r5). The row_number window is
    * unpartitioned but runs over only nCentroids pre-limited rows.
    *
    * Empty-cluster shrinkage: a Lloyd round re-derives centroids as the
    * mean of ASSIGNED vectors, so a centroid that attracts nothing
    * simply disappears (k shrinks) — deterministic, and harmless to
    * `search`, which probes whatever centroids exist. */
  def build(corpus: DataFrame, nCentroids: Int, iters: Int = 2): (DataFrame, DataFrame) = {
    var centroids = corpus.orderBy("vec_id").limit(nCentroids)
      .select(col("vec_id"), col("embedding"))
      .select(
        (row_number().over(Window.orderBy("vec_id")) - 1).cast("long").as("centroid_id"),
        col("embedding").as("centroid"))
      .persist()
    centroids.count()
    for (_ <- 0 until iters) {
      val next = meanVector(assign(corpus, centroids)).persist()
      next.count()
      centroids.unpersist()
      centroids = next
    }
    val assigned = assign(corpus, centroids).persist()
    (centroids, assigned)
  }

  /** Top-k per query via the IVF index: score centroids per query
    * (broadcast both — queries and centroids are small), keep nProbe
    * buckets per query, scan only those buckets, exact top-k within.
    * Output shape matches Similarity.topKBatch: (qid, rank, vec_id, sim). */
  def search(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cw = Window.partitionBy("qid").orderBy(col("csim").desc, col("centroid_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim",
        call_function("vec_dot", col("qe"), col("centroid")) /
          (call_function("vec_norm", col("qe")) *
            call_function("vec_norm", col("centroid"))))
      .withColumn("crn", row_number().over(cw)).filter(col("crn") <= nProbe)
      .select(col("qid"), col("qe"), col("centroid_id"))
    // final top-k via the bounded-heap aggregator (map-side partial),
    // not a window sort — probed candidates can still be numerous at scale.
    // Scoring is the native vec_dot/vec_norm expressions (r8, see assign).
    val topk = udaf(new TopKAggregator(k))
    probes.join(assigned, "centroid_id")
      .select(col("qid"), col("vec_id"),
        round(call_function("vec_dot", col("embedding"), col("qe")) /
          (call_function("vec_norm", col("embedding")) *
            call_function("vec_norm", col("qe"))), 6).as("sim"))
      .groupBy("qid")
      .agg(topk(col("vec_id"), col("sim")).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.id").as("vec_id"), col("hit.score").as("sim"))
  }

  // ---- IVF + SQ: quantized scan path (r10) ----

  /** Pack a float vector into (codes: binary, mn, delta) — min-max
    * scalar quantization to one byte per dimension (Similarity.quantize
    * is the declarative/oracle-gated tier of the same arithmetic; this
    * kernel adds the byte-packing Spark SQL can't express). A 64-dim
    * float vector is 256 B; its code row is 64 B + two doubles — the 4×
    * memory lever that lets a probe scan read codes instead of floats.
    * x̂_i = mn + code_i · delta reconstructs within one delta. */
  private val packCodes = udf { (e: Array[Float]) =>
    if (e == null || e.isEmpty) null
    else {
      var mn = Double.MaxValue; var mx = Double.MinValue
      var i = 0
      while (i < e.length) {
        val v = e(i).toDouble
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      val delta = if (mx > mn) (mx - mn) / 255.0 else 1.0
      val codes = new Array[Byte](e.length)
      i = 0
      while (i < e.length) {
        codes(i) = math.floor((e(i).toDouble - mn) / delta).min(255).toInt.toByte
        i += 1
      }
      (codes, mn, delta)
    }
  }

  /** Approximate cosine between a float query and a quantized corpus
    * row, computed FROM THE CODES: dot(q, x̂) = mn·Σq_i + delta·Σq_i·c_i
    * and ‖x̂‖ accumulated in the same single pass over the bytes.
    * COMPILED kernel by doctrine (NearDup.minhashSignature scaladoc):
    * the declarative form would be an interpreted HOF chain per
    * candidate row on the probe hot path. */
  private val codeCosine = udf {
    (q: Array[Float], codes: Array[Byte], mn: Double, delta: Double) =>
      if (q == null || codes == null) Double.NegativeInfinity
      else {
        var dotQC = 0.0; var sumQ = 0.0; var qq = 0.0; var xx = 0.0
        var i = 0
        while (i < codes.length) {
          val c = (codes(i) & 0xff).toDouble
          val qi = q(i).toDouble
          val xi = mn + c * delta
          dotQC += qi * c; sumQ += qi; qq += qi * qi; xx += xi * xi
          i += 1
        }
        val d = mn * sumQ + delta * dotQC
        val nrm = math.sqrt(qq) * math.sqrt(xx)
        if (nrm > 0) d / nrm else Double.NegativeInfinity
      }
  }

  /** Quantize an assignment table: (centroid_id, vec_id, codes, mn,
    * delta). This is the frame a 100 TB deployment writes
    * partitioned-by-centroid as the PROBE index — 4× smaller than the
    * float assignments, so 4× more of the corpus fits a probe scan's
    * page cache. Floats stay in the original table, touched only for
    * the final rescore of top candidates. */
  def quantizeAssigned(assigned: DataFrame): DataFrame =
    assigned.select(col("centroid_id"), col("vec_id"),
        packCodes(col("embedding")).as("q"))
      .select(col("centroid_id"), col("vec_id"),
        col("q").getField("_1").as("codes"),
        col("q").getField("_2").as("mn"),
        col("q").getField("_3").as("delta"))

  /** IVF+SQ search: probe pruning as in [[search]], but the bucket scan
    * scores CODES (codeCosine — reads 64 B rows), keeps rescoreK
    * candidates per query in a bounded heap, and only those rows touch
    * the float corpus for the exact rescore → exact-arithmetic top-k of
    * an approximately-selected candidate set. Recall is governed by
    * (nProbe, rescoreK): quantization error is ≤ delta per dimension,
    * so with rescoreK ≥ 4k the code-ranked top set virtually always
    * contains the true top-k (measured: recall@10 = 1.0 on the fixture
    * at full probe, BASELINE.md). Cost shape at 100 TB: code scan
    * N·(nProbe/nCentroids)·64 B + float fetch of Q·rescoreK rows —
    * the float table is joined ONLY on the candidate ids. */
  def searchQuantized(
      assignedQ: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      rescoreK: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cw = Window.partitionBy("qid").orderBy(col("csim").desc, col("centroid_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim",
        call_function("vec_dot", col("qe"), col("centroid")) /
          (call_function("vec_norm", col("qe")) *
            call_function("vec_norm", col("centroid"))))
      .withColumn("crn", row_number().over(cw)).filter(col("crn") <= nProbe)
      .select(col("qid"), col("qe"), col("centroid_id"))
    val topR = udaf(new TopKAggregator(rescoreK))
    val candidates = probes.join(assignedQ, "centroid_id")
      .select(col("qid"), col("qe"), col("vec_id"),
        codeCosine(col("qe"), col("codes"), col("mn"), col("delta")).as("qsim"))
      .groupBy("qid").agg(topR(col("vec_id"), col("qsim")).as("cand"),
        first(col("qe")).as("qe"))
      .select(col("qid"), col("qe"), explode(col("cand")).as("hit"))
      .select(col("qid"), col("qe"), col("hit.id").as("vec_id"))
    // exact rescore: only Q·rescoreK rows reach the float table
    val topk = udaf(new TopKAggregator(k))
    candidates
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(call_function("vec_dot", col("embedding"), col("qe")) /
          (call_function("vec_norm", col("embedding")) *
            call_function("vec_norm", col("qe"))), 6).as("sim"))
      .groupBy("qid")
      .agg(topk(col("vec_id"), col("sim")).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.id").as("vec_id"), col("hit.score").as("sim"))
  }

  /** Q34 — IVF top-k at FULL probe (nProbe = nCentroids ⇒ every bucket
    * is scanned ⇒ exact, so the brute-force DuckDB top-k is a valid
    * oracle). This puts the 100 TB similarity path itself — build,
    * assignment, probe pruning, bounded-heap top-k — under the
    * hash-checked correctness gate rather than ScalaTest alone
    * (r4 VERDICT next-round item 7). Queries are vec_id < 5; k = 10;
    * ties broken by vec_id on the ROUNDED sim, both engines.
    *
    * Lifecycle: the search result is localCheckpoint-ed (eager) so the
    * index caches can be released before returning — same discipline as
    * NearDup.nearDupGroups. */
  def q34(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (centroids, assigned) = build(emb, nCentroids = 16, iters = 2)
    val res = search(assigned, centroids, emb.filter(col("vec_id") < 5),
        k = 10, nProbe = 16)
      .select(col("qid"), col("rank").cast("bigint").as("rank"),
        col("vec_id"), col("sim"))
      .localCheckpoint(true)
    centroids.unpersist(); assigned.unpersist()
    res.orderBy("qid", "rank")
  }

  /** Q92 (r11) — the IVF+SQ QUANTIZED search path under the ORACLE gate
    * (r10 VERDICT item 7: searchQuantized had recall contracts in
    * ScalaTest and a measured recall curve but no end-to-end hash
    * gate). Same protocol
    * as q34 — full probe (nProbe = nCentroids) makes bucket pruning
    * lossless, and rescoreK = 50 ≫ k = 10 makes the code-ranked
    * candidate set provably contain the true top-k at this fixture's
    * quantization error (recall@10 = 1.0 measured across the nProbe
    * ladder, BASELINE.md) — so the exact float rescore reproduces the
    * brute-force DuckDB top-k bit-for-bit: the whole 64 B-code scan →
    * bounded-heap candidate cut → float rescore chain is hash-checked,
    * not just its recall. */
  // ---- IVF + PQ: product-quantized scan path (r11) ----

  /** PQ codebooks: `centroids(sub)(code)(dim)` — m subspaces × ks
    * centroids × (d/m) dims. A tiny corpus-independent statistic
    * (8×16×8 doubles here), trained once on a bounded sample and
    * broadcast; it never scales with the corpus. */
  final case class PqCodebooks(m: Int, ks: Int, subDim: Int,
      centroids: Array[Array[Array[Double]]]) extends Serializable

  /** Train PQ codebooks with per-subspace Lloyd's k-means on a
    * DRIVER-SIDE sample — deliberately not distributed: codebook
    * training is O(sample · ks · iters · d), independent of corpus
    * size, and every production PQ system trains on a sample (the
    * codebook is a density model, not a corpus index). Deterministic:
    * seeds are the first ks sample subvectors, L2 assignment with
    * lowest-code tie-break, fixed iteration order, empty cells keep
    * their previous centroid. */
  def pqTrain(sample: Array[Array[Float]], m: Int = 8, ks: Int = 256,
      iters: Int = 3): PqCodebooks = {
    require(sample.nonEmpty, "PQ training sample is empty")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val ds = d / m
    val cents = Array.tabulate(m) { s =>
      var cur = Array.tabulate(ks)(i =>
        Array.tabulate(ds)(j => sample(i % sample.length)(s * ds + j).toDouble))
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ks, ds)(0.0)
        val cnt = new Array[Long](ks)
        sample.foreach { v =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < ks) {
            var dd = 0.0; var j = 0
            while (j < ds) { val t = v(s * ds + j) - cur(c)(j); dd += t * t; j += 1 }
            if (dd < bd) { bd = dd; best = c }
            c += 1
          }
          var j = 0
          while (j < ds) { sums(best)(j) += v(s * ds + j); j += 1 }
          cnt(best) += 1
        }
        cur = Array.tabulate(ks)(c =>
          if (cnt(c) > 0) Array.tabulate(ds)(j => sums(c)(j) / cnt(c)) else cur(c))
        it += 1
      }
      cur
    }
    PqCodebooks(m, ks, ds, cents)
  }

  /** Quantize an IVF assignment table to PQ codes: (centroid_id, vec_id,
    * pq_codes: m bytes, xnorm2). With m = 8 this is an 8 B code row —
    * 8× smaller than the SQ row, 32× smaller than the floats — the tier
    * that puts a 100 TB float corpus's scan structure in ~3 TB.
    * ‖x̂‖² = Σ_sub ‖c_sub‖² is EXACT (concatenated orthogonal blocks)
    * and stored per row so the ADC scan never reconstructs. */
  def pqQuantizeAssigned(assigned: DataFrame, cb: PqCodebooks): DataFrame = {
    val quantize = udf { (e: Array[Float]) =>
      if (e == null || e.length != cb.m * cb.subDim) null
      else {
        val codes = new Array[Byte](cb.m)
        var xn2 = 0.0
        var s = 0
        while (s < cb.m) {
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < cb.ks) {
            var dd = 0.0; var j = 0
            while (j < cb.subDim) {
              val t = e(s * cb.subDim + j) - cb.centroids(s)(c)(j); dd += t * t; j += 1
            }
            if (dd < bd) { bd = dd; best = c }
            c += 1
          }
          codes(s) = best.toByte
          var j = 0
          while (j < cb.subDim) {
            val v = cb.centroids(s)(best)(j); xn2 += v * v; j += 1
          }
          s += 1
        }
        (codes, xn2)
      }
    }
    assigned.select(col("centroid_id"), col("vec_id"),
        quantize(col("embedding")).as("q"))
      .select(col("centroid_id"), col("vec_id"),
        col("q").getField("_1").as("pq_codes"),
        col("q").getField("_2").as("xnorm2"))
  }

  /** Approximate cosine from PQ codes (asymmetric distance computation):
    * dot(q, x̂) = Σ_sub dot(q_sub, codebook(sub)(code_sub)), ‖x̂‖ from the
    * stored xnorm2. COMPILED kernel by the codeCosine doctrine. Per-row
    * cost is m·subDim mults (= d — same flop count as a float dot, the
    * win is the 8 B row); a production probe scan would hoist the
    * per-query LUT (m·ks·subDim) out per partition via mapPartitions —
    * at these bench scales the inline form measures identically. */
  private def pqCosine(cb: PqCodebooks) = udf {
    (q: Array[Float], codes: Array[Byte], xnorm2: Double) =>
      if (q == null || codes == null) Double.NegativeInfinity
      else {
        var dot = 0.0; var qq = 0.0
        var s = 0
        while (s < cb.m) {
          val c = cb.centroids(s)(codes(s) & 0xff)
          var j = 0
          while (j < cb.subDim) {
            val qi = q(s * cb.subDim + j).toDouble
            dot += qi * c(j); qq += qi * qi; j += 1
          }
          s += 1
        }
        val nrm = math.sqrt(qq) * math.sqrt(xnorm2)
        if (nrm > 0) dot / nrm else Double.NegativeInfinity
      }
  }

  /** IVF+PQ search — [[searchQuantized]]'s skeleton with the bucket scan
    * reading 8 B PQ codes (ADC scoring) instead of 64 B SQ codes; same
    * bounded candidate heap, same exact float rescore of rescoreK rows.
    * Recall governance is (nProbe, rescoreK) exactly as SQ, with the
    * coarser codes wanting a larger rescoreK (q93 uses 100 vs q92's
    * 50). */
  def searchPq(
      assignedPq: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      cb: PqCodebooks,
      k: Int,
      nProbe: Int,
      rescoreK: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cw = Window.partitionBy("qid").orderBy(col("csim").desc, col("centroid_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim",
        call_function("vec_dot", col("qe"), col("centroid")) /
          (call_function("vec_norm", col("qe")) *
            call_function("vec_norm", col("centroid"))))
      .withColumn("crn", row_number().over(cw)).filter(col("crn") <= nProbe)
      .select(col("qid"), col("qe"), col("centroid_id"))
    val topR = udaf(new TopKAggregator(rescoreK))
    val candidates = probes.join(assignedPq, "centroid_id")
      .select(col("qid"), col("qe"), col("vec_id"),
        pqCosine(cb)(col("qe"), col("pq_codes"), col("xnorm2")).as("qsim"))
      .groupBy("qid").agg(topR(col("vec_id"), col("qsim")).as("cand"),
        first(col("qe")).as("qe"))
      .select(col("qid"), col("qe"), explode(col("cand")).as("hit"))
      .select(col("qid"), col("qe"), col("hit.id").as("vec_id"))
    val topk = udaf(new TopKAggregator(k))
    candidates
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(call_function("vec_dot", col("embedding"), col("qe")) /
          (call_function("vec_norm", col("embedding")) *
            call_function("vec_norm", col("qe"))), 6).as("sim"))
      .groupBy("qid")
      .agg(topk(col("vec_id"), col("sim")).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.id").as("vec_id"), col("hit.score").as("sim"))
  }

  /** Q93 (r11) — the IVF+PQ path under the ORACLE gate, q92's protocol
    * one tier down the memory ladder: full probe makes bucket pruning
    * lossless and a DEEP exact rescore (rescoreK = 500 ≫ k = 10, ≥ 25%
    * of the fixture corpora) makes the ADC-ranked candidate set contain
    * the true top-k, so the rescore reproduces the brute-force top-k
    * and q34's DuckDB oracle applies verbatim. The gate intentionally
    * over-rescans: it hash-checks the train→quantize→ADC-scan→rescore
    * CHAIN, while the recall-per-rescore-depth tradeoff of the
    * production operating point (rescoreK = 100) was measured by an
    * r11 PQ ladder (BASELINE.md) — an sf0.1 sweep showed rescoreK = 100
    * dropping 1 of 50 true hits on the near-uniform fixture (the
    * documented ANN worst case), which is an approximation-quality
    * fact, not a chain defect. Codebooks train on the ≤512 lowest-id
    * vectors (deterministic sample). */
  def q93(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val sample = emb.filter(col("vec_id") < 512).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val cb = pqTrain(sample)
    val (centroids, assigned) = build(emb, nCentroids = 16, iters = 2)
    val apq = pqQuantizeAssigned(assigned, cb).persist()
    val res = searchPq(apq, emb, centroids, emb.filter(col("vec_id") < 5),
        cb, k = 10, nProbe = 16, rescoreK = 500)
      .select(col("qid"), col("rank").cast("bigint").as("rank"),
        col("vec_id"), col("sim"))
      .localCheckpoint(true)
    apq.unpersist(); centroids.unpersist(); assigned.unpersist()
    res.orderBy("qid", "rank")
  }

  def q92(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (centroids, assigned) = build(emb, nCentroids = 16, iters = 2)
    val aq = quantizeAssigned(assigned).persist()
    val res = searchQuantized(aq, emb, centroids, emb.filter(col("vec_id") < 5),
        k = 10, nProbe = 16, rescoreK = 50)
      .select(col("qid"), col("rank").cast("bigint").as("rank"),
        col("vec_id"), col("sim"))
      .localCheckpoint(true)
    aq.unpersist(); centroids.unpersist(); assigned.unpersist()
    res.orderBy("qid", "rank")
  }
}
