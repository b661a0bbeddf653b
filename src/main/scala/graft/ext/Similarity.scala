package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.VectorFunctions._
import graft.functions.TopKAggregator

/** Similarity search over the `embeddings` table (SURVEY.md §2.5). */
object Similarity {

  /** One packed vector inside a block: id, double-cast embedding, ‖v‖. */
  case class PackedVec(id: Long, e: Array[Double], nrm: Double)

  /** A joined pair of vector blocks flowing into the block-scoring
    * flatMap (field order matches the join projection). */
  case class BlockPair(bi: Int, va: Seq[PackedVec], bj: Int, vb: Seq[PackedVec])

  /** Q27 — brute-force cosine top-k against the query vector
    * (vec_id = 0). The single-row query side is broadcast; the scan
    * side scores with the COMPILED dot/norm kernels (r5: the r1–r4
    * interpreted-HOF cosine was "acceptable once per row" in a fresh
    * JVM but collapsed ~15× in a long-lived one — BENCH_r05 measured
    * 6.5 s mid-suite vs 0.4 s fresh; interpreted expression trees
    * de-optimize as call sites go megamorphic, compiled UDF loops
    * don't); ORDER BY + LIMIT plans as TakeOrderedAndProject =
    * partition-local top-k heaps merged on the driver — the correct
    * distributed top-k, no global sort even at 100 TB.
    *
    * Similarity is rounded to 6 decimals and the rounded value is the
    * sort key (ties broken by vec_id) so ordering is identical across
    * engines regardless of last-ulp float drift. Numerics are
    * bit-identical to the HOF form (same left-to-right double
    * arithmetic — VectorFunctions scaladoc). */
  def q27(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    // r6: scored with the NATIVE vec_dot/vec_norm Catalyst expressions
    // (graft.functions.VectorExpressions) — the whole projection stays
    // inside WholeStageCodegen reading float ArrayData in place; no
    // array<double> pre-cast, no per-row UDF boundary copy. Numerics
    // bit-identical to the UDF tier (VectorExpressionsSpec).
    emb.crossJoin(broadcast(qv))
      .select(
        col("vec_id"),
        round(call_function("vec_dot", col("embedding"), col("qe")) /
          (call_function("vec_norm", col("embedding")) *
            call_function("vec_norm", col("qe"))), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Batched top-k: the k most cosine-similar corpus vectors for EACH of
    * Q query vectors at once (SURVEY.md §7.4 — Q27 generalized past one
    * query).
    *
    * Shape at 100 TB: the query side is broadcast (Q is small — a batch
    * of probes, not the corpus); each corpus partition scores its rows
    * against all queries and reduces to a ≤ k-entry buffer per query
    * map-side (TopKAggregator partial), so the only shuffle carries
    * Q·k·#partitions buffer rows — never the N·Q scored pairs a
    * window/sort formulation would move.
    *
    * Output: (qid, rank, vec_id, sim), rank 1..k by (sim DESC, vec_id),
    * sim rounded to 6dp before ranking for cross-engine determinism
    * (same convention as q27).
    */
  def topKBatch(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    // native vec_dot/vec_norm expressions (see q27) — scoring fuses into
    // the scan-side codegen stage; only the k-heap aggregator is a UDAF
    corpus.select(col("vec_id"), col("embedding").as("e"))
      .crossJoin(broadcast(
        queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))))
      .select(col("qid"), col("vec_id"),
        round(call_function("vec_dot", col("e"), col("qe")) /
          (call_function("vec_norm", col("e")) *
            call_function("vec_norm", col("qe"))), 6).as("sim"))
      .groupBy("qid")
      .agg(topk(col("vec_id"), col("sim")).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.id").as("vec_id"), col("hit.score").as("sim"))
  }

  /** Exact cosine-threshold pairs (a < b, sim ≥ threshold) — the
    * embedding-space analog of near-dup detection. This is the EXACT
    * variant: all N²/2 pairs are scored, declared for oracle-checkable
    * correctness at test scale. At 100 TB you run the ANN path instead
    * (graft.ext.Ann buckets candidates first); this form remains the
    * ground-truth oracle for its recall tests.
    *
    * Kernel: distributed BLOCK nested loop (r4 VERDICT perf item 5 —
    * the r3 row-pair BroadcastNestedLoopJoin paid a catalyst→Array
    * conversion per PAIR, ~19 µs/pair; this pays it once per block
    * copy and scores pairs in a tight JITed loop):
    *
    *  1. prep: cast to double, ‖v‖ once per ROW (`normUdf`);
    *  2. pack: group vectors into nBlocks blocks (hash of vec_id) —
    *     one corpus-sized shuffle;
    *  3. grid join: block pairs (bi ≤ bj) — each unordered doc pair
    *     lands in exactly one block pair; communication is the
    *     inherent O(N·√P) replication of exact all-pairs, nothing more;
    *  4. score: per block pair, a compiled double loop computes
    *     dot/(na·nb) left-to-right — bit-identical to the r3 kernel and
    *     to the DuckDB oracle at the 6dp round — and emits only pairs
    *     whose RAW sim can possibly round to ≥ threshold;
    *  5. present: Spark-side round(·, 6) + the declared threshold filter,
    *     so the emitted sim and the cut are exactly the old column forms.
    */
  def cosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    val nBlocks = math.max(2, spark.sparkContext.defaultParallelism)
    val prepped = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", normUdf(col("e")))
    val packed = prepped
      .groupBy(pmod(col("vec_id"), lit(nBlocks)).cast("int").as("blk"))
      .agg(collect_list(struct(col("vec_id").as("id"), col("e"), col("nrm"))).as("vs"))
    // The upper-triangular block grid as literal (bi, bj) rows joined
    // EQUI on each side: each block is replicated to its ≤ nBlocks grid
    // partners through an ordinary shuffle join — no non-equi condition,
    // which would plan as a BroadcastNestedLoopJoin shipping the whole
    // packed corpus to every task.
    import spark.implicits._
    val grid = (for { i <- 0 until nBlocks; j <- i until nBlocks } yield (i, j))
      .toDF("bi", "bj")
    val l = packed.select(col("blk").as("bi"), col("vs").as("va"))
    val r = packed.select(col("blk").as("bj"), col("vs").as("vb"))
    // Pre-filter margin: round(x,6) ≥ t implies x ≥ t − 5e-7; use 1e-6
    // so no double-repr edge case can drop a pair the rounded filter
    // would keep. The final cut below is on the ROUNDED value.
    val rawCut = threshold - 1e-6
    val raw = grid.join(l, "bi").join(r, "bj")
      .select(col("bi"), col("va"), col("bj"), col("vb"))
      .as(Encoders.product[BlockPair])
      .flatMap { bp =>
        val same = bp.bi == bp.bj
        val va = bp.va.toArray
        val vb = bp.vb.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < va.length) {
          val x = va(i)
          var j = 0
          while (j < vb.length) {
            val y = vb(j)
            // same-block pairs appear twice in the (va × vb) product —
            // score only the x.id < y.id orientation; cross-block pairs
            // appear once (x's block is bi, y's is bj) in whichever id
            // order — score all, emit as (min, max)
            if (if (same) x.id < y.id else x.id != y.id) {
              val d = x.e; val f = y.e
              var s = 0.0; var k = 0
              val n = math.min(d.length, f.length)
              while (k < n) { s += d(k) * f(k); k += 1 }
              val sim = s / (x.nrm * y.nrm)
              if (sim >= rawCut) {
                if (x.id < y.id) out += ((x.id, y.id, sim))
                else out += ((y.id, x.id, sim))
              }
            }
            j += 1
          }
          i += 1
        }
        out.toSeq
      }(Encoders.product[(Long, Long, Double)])
      .toDF("a", "b", "raw")
    raw.select(col("a"), col("b"), round(col("raw"), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Q36 — batched top-k under the oracle gate: the k=10 most similar
    * corpus vectors for EACH query vector (vec_id < 3) via the bounded-
    * heap TopKAggregator path (map-side partial top-k — the shape that
    * holds at 100 TB). Previously ScalaTest-only; the DuckDB oracle is
    * the same brute-force ROW_NUMBER form as q34's. */
  def q36(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    topKBatch(emb, emb.filter(col("vec_id") < 3), 10)
      .select(col("qid"), col("rank").cast("bigint").as("rank"),
        col("vec_id"), col("sim"))
      .orderBy("qid", "rank")
  }

  /** Q29 — embedding near-dup pairs on `embeddings` at threshold 0.4
    * (the fixture's max off-diagonal cosine is ≈0.51; 0.4 yields a
    * non-trivial pair set). */
  def q29(s: SparkSession, d: String): DataFrame =
    cosinePairs(Tables.embeddings(s, d), 0.4)
      .orderBy("a", "b")

  /** Q68 (r10) — per-vector norm/dot/cosine stats under the ORACLE
    * gate. q27 gates 10 rounded top-k similarities; this gates the raw
    * NATIVE-EXPRESSION outputs (vec_norm, vec_dot — the codegen kernels
    * every vector op in the engine rides on) on EVERY row against
    * DuckDB's independent list arithmetic (list_transform/list_sum/
    * list_dot_product over a double-cast list). Both sides accumulate
    * the same doubles in the same left-to-right order, so round(6) is
    * presentation. Plan shape = q27's: 1-row broadcast query side, the
    * projection fully inside WholeStageCodegen, no shuffle. */
  def q68(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val dot = call_function("vec_dot", col("embedding"), col("qe"))
    val nrm = call_function("vec_norm", col("embedding"))
    val qn = call_function("vec_norm", col("qe"))
    emb.crossJoin(broadcast(qv))
      .select(
        col("vec_id"),
        round(nrm, 6).as("nrm"),
        round(dot, 6).as("dot"),
        round(dot / (nrm * qn), 6).as("cos"))
      .orderBy("vec_id").limit(200)
  }

  /** Scalar (min-max) quantization of an embedding to [0, levels-1]
    * ints — the memory lever for vector search at 100 TB (a 64-dim
    * float vector is 256 B; 8-bit codes are 64 B, and IVF+SQ scans
    * codes, not floats). Per-vector scale: q_i = floor((x_i − min) ·
    * (levels−1) / (max − min)), constant vectors map to 0. Pure column
    * expression (zero shuffle); the declarative HOF tier is right here
    * because quantization is a one-pass cold-path transform (index
    * build), not a per-query kernel — the hot path reads the CODES. */
  def quantize(embedding: Column, levels: Int = 256): Column = {
    val mn = array_min(embedding).cast("double")
    val mx = array_max(embedding).cast("double")
    transform(embedding, x =>
      when(mx === mn, lit(0))
        .otherwise(floor((x.cast("double") - mn) * (levels - 1) / (mx - mn)))
        .cast("int"))
  }

  /** Q70 (r10) — scalar quantization under the ORACLE gate: the int
    * codes for every vector, digest-compared as a joined string (array
    * cells render engine-specifically through the driver; the joined
    * form is the portable presentation). Both engines compute the
    * identical double expression ((x−mn)·255/(mx−mn), explicit double
    * casts, same association) before floor, so the codes match
    * bit-for-bit, not approximately. */
  def q70(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        array_join(quantize(col("embedding")).cast("array<string>"), ",").as("qvec"))
      .orderBy("vec_id").limit(200)

  /** Nearest-centroid assignment, flat or two-level.
    *
    * Flat: N·k rows through the broadcast argmax — exact, and the
    * gated q76 path. But SemDeDup grows k WITH N (constant expected
    * cluster size), so flat assignment is O(N²/E[cluster]) — the
    * ScaleBench vector curve measured exactly that (28 s at 100k
    * vectors / k=400 vs 3.0 s at 20k / k=80: 9.3× time for 5× data).
    * Two-level restores the linear shape: assign each vector to the
    * nearest of ceil(√k) SUPER-centroids (the lowest-id centroids —
    * the seed doctrine again), then argmax only over that super's
    * centroid family (centroid→family computed by the same rule), so
    * assignment costs O(N·√k) — the standard hierarchical/IMI layout.
    * Approximate ONLY in assignment (a boundary vector can land in a
    * neighboring family's cell; every super's family contains at least
    * itself since super self-sim = 1); the shadowing semantics stay
    * exact within whatever partition results — SemDeDup's own trade,
    * clustering is already heuristic. Determinism unchanged: same
    * 6dp-rounded sims, same lowest-id tiebreaks at every level. */
  private def assignNearest(emb: DataFrame, cents: DataFrame, k: Int,
      twoLevel: Boolean): DataFrame = {
    val top1 = udaf(new TopKAggregator(1))
    def sim(a: Column, b: Column): Column = round(nanvl(
      call_function("vec_dot", a, b) /
        (call_function("vec_norm", a) * call_function("vec_norm", b)),
      lit(Double.NegativeInfinity)), 6)
    def argmax(rows: DataFrame, idCol: String, overCol: String,
        keep: String): DataFrame =
      rows.withColumn("sim", sim(col("embedding"), col(overCol)))
        .groupBy(idCol)
        .agg(top1(col(keep), col("sim")).as("t1"),
          first(col("embedding")).as("embedding"))
        .select(col("t1").getItem(0).getField("id").as(keep),
          col(idCol), col("embedding"))
    if (!twoLevel)
      argmax(emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cents)), "vec_id", "centroid", "centroid_id")
    else {
      val s = math.ceil(math.sqrt(k.toDouble)).toInt
      val supers = cents.filter(col("centroid_id") < s)
        .select(col("centroid_id").as("super_id"), col("centroid").as("sc"))
      val fam = cents.withColumnRenamed("centroid", "embedding")
        .crossJoin(broadcast(supers))
        .withColumn("sim", sim(col("embedding"), col("sc")))
        .groupBy("centroid_id")
        .agg(top1(col("super_id"), col("sim")).as("t1"),
          first(col("embedding")).as("centroid"))
        .select(col("t1").getItem(0).getField("id").as("super_id"),
          col("centroid_id"), col("centroid"))
      val vecSuper = argmax(emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(supers)), "vec_id", "sc", "super_id")
      argmax(vecSuper.join(broadcast(fam), Seq("super_id")),
        "vec_id", "centroid", "centroid_id")
    }
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then drop every vector that has a
    * LOWER-id cluster-mate with cosine ≥ tau (pairwise shadowing — the
    * paper's "keep one per ε-ball" realized as a deterministic
    * keep-first rule; no iteration, no RNG). Returns the KEPT rows
    * (vec_id, centroid_id).
    *
    * Why clustering at all: the shadowing join is quadratic, and the
    * cluster partition bounds it at Σ|Cᵢ|² instead of N² — the whole
    * point of SemDeDup's k-means stage. At 100 TB, k grows with N
    * (k ≈ N/E[cluster] keeps the per-cluster quadratic constant), the
    * pair join shuffles on centroid_id only, and both scoring passes
    * run on the NATIVE vec_dot/vec_norm codegen expressions. With k ∝
    * N the ASSIGNMENT term turns quadratic in flat form — pass
    * `twoLevel = true` for the O(N·√k) hierarchical assignment (see
    * [[assignNearest]]; the ScaleBench vector curve measures both).
    *
    * Determinism/oracle parity: centroids are the k lowest-id vectors
    * (no Lloyd refinement here — q34's Ann owns that; the oracle must
    * re-derive assignment relationally, and raw seed centroids keep
    * that a pure cross-join + argmax). Similarity is rounded to 6dp
    * BEFORE both the argmax and the tau cut, ties break to the lowest
    * centroid_id (TopKAggregator's score-DESC/id-ASC order), and
    * zero-norm vectors score -Inf via nanvl (the q34 NaN guard) so
    * they land deterministically in centroid 0 and shadow nothing. */
  def semDedup(emb: DataFrame, k: Int = 8, tau: Double = 0.4,
      twoLevel: Boolean = false): DataFrame = {
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long").as("centroid_id"),
        col("embedding").as("centroid"))
    val assigned = assignNearest(emb, cents, k, twoLevel)
    val a = assigned.select(col("centroid_id"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = assigned.select(col("centroid_id"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    val pairSim = round(nanvl(
      call_function("vec_dot", col("a_emb"), col("b_emb")) /
        (call_function("vec_norm", col("a_emb")) *
          call_function("vec_norm", col("b_emb"))),
      lit(Double.NegativeInfinity)), 6)
    val shadowed = a.join(b, Seq("centroid_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(pairSim >= tau)
      .select(col("b_id").as("vec_id"))
      .distinct()
    assigned.select("vec_id", "centroid_id")
      .join(shadowed, Seq("vec_id"), "left_anti")
  }

  /** Q76 (r10) — semantic dedup under the ORACLE gate: kept vec_ids +
    * their cluster, k=8 seed centroids, tau=0.4 (the q29 threshold, so
    * the fixture provably contains τ-pairs). DuckDB re-derives
    * assignment with a ROW_NUMBER argmax over the same rounded
    * list_cosine_similarity and the shadow set with a NOT EXISTS. */
  def q76(s: SparkSession, d: String): DataFrame =
    semDedup(Tables.embeddings(s, d)).orderBy("vec_id")

  /** Replicate Spark's `round(_, 6)` on DoubleType inside a compiled
    * kernel: Catalyst's RoundBase goes through
    * `BigDecimal(double).setScale(scale, HALF_UP)` (value.toString-based
    * construction), so local top-k pruning keyed on this value uses the
    * EXACT total order the post-shuffle rounded column will have. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Per-row bounded top-k buffer for the kNN-join kernel: parallel
    * (id, sim) arrays in (sim DESC, id ASC) order — the same total
    * order as [[TopKAggregator]], so local pruning is lossless under
    * the global merge. */
  private final class KnnBuf(k: Int) {
    val ids = new Array[Long](k)
    val sims = new Array[Double](k)
    var n = 0
    private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      s1 > s2 || (s1 == s2 && i1 < i2)
    def offer(id: Long, sim: Double): Unit = {
      if (n >= k && !better(sim, id, sims(n - 1), ids(n - 1))) return
      var pos = n
      var i = 0
      var found = false
      while (i < n && !found) {
        if (better(sim, id, sims(i), ids(i))) { pos = i; found = true }
        i += 1
      }
      if (pos >= k) return
      val last = math.min(n, k - 1)
      var j = last
      while (j > pos) { ids(j) = ids(j - 1); sims(j) = sims(j - 1); j -= 1 }
      ids(pos) = id; sims(pos) = sim
      if (n < k) n += 1
    }
  }

  /** Exact k-nearest-neighbor JOIN: the k most cosine-similar OTHER
    * corpus vectors for EVERY vector — the all-corpus generalization of
    * [[topKBatch]] (whose broadcast query side cannot be the corpus
    * itself at scale) and the selection analog of [[cosinePairs]]
    * (top-k per row instead of a global threshold). kNN-joins feed
    * semantic-dedup graphs and embedding-diversity scoring in curation
    * pipelines; this is the declared EXACT baseline — at 100 TB the
    * IVF-bucketed path (graft.ext.Ann) replaces the full grid, with
    * this form as its recall oracle.
    *
    * Shape: the [[cosinePairs]] block grid (pack into √P-ish blocks,
    * upper-triangular equi-joined grid, compiled double loop scoring
    * each unordered pair ONCE — communication stays the inherent
    * O(N·√P) block replication of exact all-pairs). The kNN delta: the
    * kernel feeds each scored pair into BOTH endpoints' local
    * [[KnnBuf]]s and emits only per-row block-local top-k, so the
    * post-kernel shuffle carries ≤ N·(partner blocks)·k candidate rows
    * — never the N² scored pairs — and [[TopKAggregator]] merges the
    * partials map-side. Sims are rounded to 6dp IN the kernel
    * ([[round6]] = Catalyst's own HALF_UP) so local pruning, the
    * global merge, and the DuckDB oracle's ROW_NUMBER all rank by the
    * identical (sim DESC, id ASC) key; NaN (zero-norm) sims are
    * dropped at the source like semDedup's nanvl guard shadows them. */
  def knnJoin(emb: DataFrame, k: Int, targetBlockRows: Int = 1024): DataFrame = {
    val spark = emb.sparkSession
    // Block count balances three forces (measured at 30k×64f,
    // local[32]):
    //  - CACHE: the kernel streams the vb block through va's inner
    //    loop, so a block must fit L2 — ~1024 rows × 64 doubles ≈
    //    0.5 MB. Oversized blocks thrash: B=8 (3.8k rows/block, 2 MB)
    //    and B=16 both ran 43.5–43.7 s where row-capped grids run
    //    ~21 s. This is blocked-GEMM sizing, tied to the cache, NOT
    //    to cluster parallelism.
    //  - BALANCE: B(B+1)/2 cells must be ≥ a few waves of P so the
    //    half-sized diagonal cells even out → B ≥ √(8P).
    //  - COMMUNICATION: replication is B-fold, so B is a floor+cap,
    //    not defaultParallelism (the r10 first cut, B = P, would ship
    //    a 1000-executor cluster's corpus 1000×; √(8P) + the row cap
    //    keeps traffic O(N·√P) until the corpus outgrows P·1024 rows
    //    — the regime where exact all-pairs is the wrong tool and the
    //    IVF path (Ann) takes over anyway).
    val n = emb.count() // one cheap scan next to the O(N²·d) kernel
    val nBlocks = math.max(
      math.max(2, math.ceil(math.sqrt(8.0 * spark.sparkContext.defaultParallelism)).toInt),
      math.ceil(n.toDouble / targetBlockRows).toInt)
    val prepped = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", normUdf(col("e")))
    val packed = prepped
      .groupBy(pmod(col("vec_id"), lit(nBlocks)).cast("int").as("blk"))
      .agg(collect_list(struct(col("vec_id").as("id"), col("e"), col("nrm"))).as("vs"))
    import spark.implicits._
    val grid = (for { i <- 0 until nBlocks; j <- i until nBlocks } yield (i, j))
      .toDF("bi", "bj")
    val l = packed.select(col("blk").as("bi"), col("vs").as("va"))
    val r = packed.select(col("blk").as("bj"), col("vs").as("vb"))
    val kk = k
    val partials = grid.join(l, "bi").join(r, "bj")
      .select(col("bi"), col("va"), col("bj"), col("vb"))
      .as(Encoders.product[BlockPair])
      .flatMap { bp =>
        val same = bp.bi == bp.bj
        val va = bp.va.toArray
        // On the diagonal cell the two join sides are INDEPENDENT
        // evaluations of the packed aggregate, and collect_list order
        // is not stable across evaluations under cluster shuffle-fetch
        // order — positional `j = i + 1` pairing over bp.vb would then
        // score self-pairs and double-count/miss true pairs (local
        // runs mask it; cosinePairs defends with its id-orientation
        // check). Reusing va for both sides restores the invariant
        // the triangular iteration needs.
        val vb = if (same) va else bp.vb.toArray
        val bufA = Array.fill(va.length)(new KnnBuf(kk))
        val bufB = if (same) bufA else Array.fill(vb.length)(new KnnBuf(kk))
        var i = 0
        while (i < va.length) {
          val x = va(i)
          var j = if (same) i + 1 else 0
          while (j < vb.length) {
            val y = vb(j)
            val d = x.e; val f = y.e
            var s = 0.0; var t = 0
            val n = math.min(d.length, f.length)
            while (t < n) { s += d(t) * f(t); t += 1 }
            val sim = round6(s / (x.nrm * y.nrm))
            if (!sim.isNaN) {
              bufA(i).offer(y.id, sim)
              bufB(j).offer(x.id, sim)
            }
            j += 1
          }
          i += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        def drain(rows: Array[PackedVec], bufs: Array[KnnBuf]): Unit = {
          var a = 0
          while (a < rows.length) {
            val b = bufs(a)
            var c = 0
            while (c < b.n) { out += ((rows(a).id, b.ids(c), b.sims(c))); c += 1 }
            a += 1
          }
        }
        drain(va, bufA)
        if (!same) drain(vb, bufB)
        out.toSeq
      }(Encoders.product[(Long, Long, Double)])
      .toDF("qid", "vec_id", "sim")
    val topk = udaf(new TopKAggregator(k))
    partials.groupBy("qid")
      .agg(topk(col("vec_id"), col("sim")).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).cast("bigint").as("rank"),
        col("hit.id").as("vec_id"), col("hit.score").as("sim"))
  }

  /** Q81 (r10) — exact kNN-JOIN under the ORACLE gate: every vector's
    * 5 nearest neighbors by 6dp-rounded cosine. DuckDB rebuilds it as
    * the brute-force self-join + ROW_NUMBER (the q36 form with the
    * query side = the whole corpus). */
  def q81(s: SparkSession, d: String): DataFrame =
    knnJoin(Tables.embeddings(s, d), 5).orderBy("qid", "rank")

  /** Per-group centroids as assembled arrays: for each value of
    * `groupCol` over `(id, e)` rows, the element-wise mean vector,
    * each dimension summed as an ORDERED fold by id — bit-identical to
    * DuckDB's `list_sum(list(v ORDER BY id)) / COUNT(*)`, which is what
    * lets centroid CONSUMERS (distance scoring, k-means assignment)
    * stay on the exact gate. The fold is the gate-exactness price: the
    * 100 TB path swaps this one aggregation for a partial `sum(v)`
    * (same value modulo float reassociation, ±1 ulp per dim) and
    * nothing downstream changes shape. Output: (groupCol, cvec). */
  private def centroids(rows: DataFrame, groupCol: String): DataFrame = {
    val e = rows.select(col(groupCol), col("id"),
      posexplode(col("e")).as(Seq("pos", "v")))
    e.groupBy(groupCol, "pos")
      .agg((aggregate(
        transform(array_sort(collect_list(struct(col("id"), col("v")))),
          x => x.getField("v")),
        lit(0d), (a, x) => a + x) / count(lit(1))).as("cv"))
      .groupBy(groupCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("cvec"))
  }

  /** Squared L2 distance between two double arrays as the SEQUENTIAL
    * index-order Catalyst fold (zip_with + aggregate — codegen, no
    * UDF): identical accumulation order to the oracle's
    * `list_sum(list((v-cv)^2 ORDER BY pos))`. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0d), (acc, x) => acc + x)

  /** Embedding-diversity score: each vector's L2 distance to its own
    * label-group centroid. Curation pipelines use exactly this signal
    * to keep tail exemplars and down-weight redundant cluster cores
    * (the inverse of semDedup's shadowing). Plan: one pos-exploded
    * aggregation builds the 10×64 centroid table ([[centroids]]), the
    * assembled arrays BROADCAST back onto the un-exploded corpus, and
    * the distance is a per-row codegen fold — the corpus is scanned
    * twice but shuffled only as the 640-row centroid frame. */
  def centroidDistance(emb: DataFrame): DataFrame = {
    val rows = emb.select(col("label"), col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("e"))
    val cent = centroids(rows, "label")
    rows.join(broadcast(cent), Seq("label"))
      .select(col("id").as("vec_id"), col("label"),
        round(sqrt(l2sq(col("e"), col("cvec"))), 6).as("dist"))
  }

  /** Q86 (r10) — distance-to-label-centroid under the ORACLE gate:
    * DuckDB rebuilds the centroid with the per-dimension ordered fold
    * and the distance with the pos-ordered squared-difference fold. */
  def q86(s: SparkSession, d: String): DataFrame =
    centroidDistance(Tables.embeddings(s, d)).orderBy("vec_id")

  /** Label-centroid separation matrix — the cluster-geometry audit on
    * top of q86's within-distances: pairwise L2 distance between every
    * two label centroids (a < b). Two labels whose centroids sit
    * closer than their members sit to their own centroid will bleed
    * into each other under any nearest-centroid routing (IVF probes,
    * semantic dedup, topic balancing) — this matrix is the "are the
    * groups even separable" read a curator checks BEFORE trusting
    * label-stratified sampling. The centroid build is [[centroids]]'
    * gate-exact ordered fold; the pair frame is labels² — dimension-
    * bounded, broadcast-joined, zero corpus shuffle. */
  def centroidSeparation(emb: DataFrame): DataFrame = {
    val rows = emb.select(col("label"), col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("e"))
    val cent = centroids(rows, "label")
    cent.as("a").join(broadcast(cent.as("b")),
        col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        round(sqrt(l2sq(col("a.cvec"), col("b.cvec"))), 6).as("dist"))
  }

  /** Q233 — pairwise separation of the embedding label centroids. */
  def q233(s: SparkSession, d: String): DataFrame =
    centroidSeparation(Tables.embeddings(s, d)).orderBy("label_a", "label_b")

  /** Distributed k-means (Lloyd's algorithm), DETERMINISTIC variant:
    * init = the vectors with id < k (≡ the k lowest ids on the dense
    * 0-based ids every fixture and ScaleBench corpus has; for sparse
    * id spaces swap the init filter), `iters` assignment passes with a
    * centroid update between each — every step exactly reproducible on
    * both engines (no random init, no convergence-dependent stop), so
    * the full clustering sits under the hash gate rather than a
    * quality-metric-only check. k-means over embeddings is the
    * workhorse of curation at scale (cluster-balanced sampling,
    * per-cluster dedup, topic discovery); kmeans++ init plugs in by
    * swapping `init` without touching the iteration shape.
    *
    * Per iteration: the k×dim centroid table BROADCASTS onto the
    * un-exploded corpus (the corpus never shuffles for assignment —
    * k·N codegen distance folds, [[l2sq]] in index order); argmin is
    * `min(struct(d2, cid))` — a partial-aggregating hash agg keyed on
    * id, lexicographic tie-break on cid, identical to the oracle's
    * ROW_NUMBER(ORDER BY d2, cid) because the unrounded d2 is
    * bit-identical. The update is [[centroids]]' ordered fold (its
    * scaladoc records the 100 TB partial-sum swap). */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val rows = emb.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("e"))
    var cent = rows.filter(col("id") < k)
      .select(col("id").cast("int").as("cid"), col("e").as("cvec"))
    var assigned: DataFrame = null
    for (i <- 1 to iters) {
      assigned = rows.crossJoin(broadcast(cent))
        .withColumn("d2", l2sq(col("e"), col("cvec")))
        .groupBy("id")
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("id"), col("m.cid").as("cid"), col("m.d2").as("d2"))
      if (i < iters)
        cent = centroids(rows.join(assigned.select("id", "cid"), Seq("id")), "cid")
    }
    assigned.select(col("id").as("vec_id"), col("cid").as("cluster"),
      round(sqrt(col("d2")), 6).as("dist"))
  }

  /** Q87 (r10) — deterministic k-means (k=8, 2 assignment passes)
    * under the ORACLE gate: DuckDB replays init → assign → update →
    * assign with the same ordered folds and tie-breaks. */
  def q87(s: SparkSession, d: String): DataFrame =
    kmeans(Tables.embeddings(s, d)).orderBy("vec_id")

  /** Embedding covariance matrix — the d×d second-moment structure of
    * the corpus's embedding distribution (the input to PCA whitening,
    * OOD detection by Mahalanobis distance, and the rotation step some
    * ANN quantizers train). Upper triangle only (symmetric).
    *
    * Determinism doctrine (q103's variance identity extended to CROSS
    * moments): elements quantize once float→double→DECIMAL(12,6)
    * (deterministic per value, both engines); Σx, Σy, Σxy are then
    * EXACT decimal sums — order-free across any partitioning — and
    * cov = (Σxy − Σx·Σy/n)/(n−1) is ONE mirrored IEEE expression of
    * those exact scalars, round(9) presentation. Products fit
    * DECIMAL(25,12), sums DECIMAL(38,12): headroom to ~10¹³ rows.
    *
    * Scale: the exploded (vec_id, dim, x) frame self-joins on vec_id
    * (row-local pairing — each vector meets only itself, never a
    * cross-vector pair), so the shuffle carries N·d rows and the agg
    * state is d² cells regardless of N; the result is KBs. The top-k
    * eigenvectors of the 64×64 output are a driver-side eigensolve —
    * the distributed work IS this moment aggregation. */
  def covarianceMatrix(embeddings: DataFrame): DataFrame = {
    // r19 (guide §1.2 "per-task work", §2.3): the measured cost of this
    // operator is NOT the vec_id self-join's shuffle (N·d rows — small)
    // but the DECIMAL aggregation behind it: 4 BigDecimal-path sums
    // over N·d(d+1)/2 pair rows (sum buffers above precision 18 leave
    // Spark's compact-long Decimal representation). Fast path: quantize
    // to UNSCALED LONGS (x·10⁶ — exact by construction from the
    // decimal(12,6) cast), generate the (i, j ≥ i) pair rows row-
    // locally with a compiled kernel (the pairing never needed a join:
    // each vector meets only itself), and aggregate with plain LONG
    // codegen sums; the exact decimal values are reconstructed from
    // the integer sums on the 2080-cell result and cast to double —
    // the same double Spark's decimal→double cast produced, so `cov`
    // is bit-identical (SimilaritySpec pins fast ≡ decimal).
    //
    // The long path is exact only while nothing can overflow, so ONE
    // narrow probe pass (count + max |x·10⁶| + null check) picks the
    // plan: N·maxU and N·maxU² must both clear Long.Max with 2×
    // headroom, and null elements (whose sum/count semantics differ
    // from long 0) fall back. Unit-scale embeddings clear the bound to
    // ~10⁶ vectors per 64-dim corpus; past it — for null-bearing rows,
    // or inside DriverTier.withFallback — the decimal join form below
    // runs unchanged (measured sf0.1: fast 1.5-2.0 s vs decimal
    // 4.0-4.3 s; an interpreted-HOF pair generator was tried first and
    // measured 10.5 s — the CodegenFallback trap shingleHashesKernel
    // documents).
    val qArr = transform(col("embedding"),
      e => e.cast("double").cast("decimal(12,6)"))
    val uArr = transform(qArr, q => (q * lit(1000000)).cast("long"))
    val probeRow = embeddings.agg(
      count(lit(1)),
      max(aggregate(uArr, lit(0L), (a, u) => greatest(a, abs(u)))),
      max(size(filter(uArr, u => u.isNull)))).head()
    val n0 = probeRow.getLong(0)
    val maxU = if (probeRow.isNullAt(1)) 0L else probeRow.getLong(1)
    val hasNulls = !probeRow.isNullAt(2) && probeRow.getInt(2) > 0
    val safe = n0 > 0 && !hasNulls && maxU > 0 &&
      maxU <= Long.MaxValue / 2 / math.max(n0, 1L) / math.max(maxU, 1L) &&
      n0 <= Long.MaxValue / 2 / math.max(maxU, 1L) &&
      !graft.core.DriverTier.fallbackForced
    if (safe) {
      val gen = udf { (q: Seq[Long]) =>
        if (q == null) Array.empty[(Int, Int, Long, Long)] // null array ≡ no pairs (posexplode parity)
        else {
          val n = q.length
          val out = new Array[(Int, Int, Long, Long)](n * (n + 1) / 2)
          var k = 0
          var i = 0
          while (i < n) {
            var j = i
            while (j < n) { out(k) = (i, j, q(i), q(j)); k += 1; j += 1 }
            i += 1
          }
          out
        }
      }
      // exact decimal(·, scale)→double reconstruction of an unscaled
      // long sum — the identical double Cast(decimal→double) yields
      val dblAt = (scale: Int) => udf { (u: Long) =>
        new java.math.BigDecimal(java.math.BigInteger.valueOf(u), scale)
          .doubleValue()
      }
      val d6 = dblAt(6); val d12 = dblAt(12)
      embeddings
        .select(explode(gen(uArr)).as("p"))
        .select(col("p._1").as("i"), col("p._2").as("j"),
          col("p._3").as("xu"), col("p._4").as("yu"))
        .groupBy("i", "j")
        .agg(count(lit(1)).as("n"),
          sum("xu").as("sxu"), sum("yu").as("syu"),
          sum(col("xu") * col("yu")).as("sxyu"))
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("n"),
          round((d12(col("sxyu")) -
            d6(col("sxu")) * d6(col("syu")) / col("n")) /
            (col("n") - 1), 9).as("cov"))
    } else {
      val x = embeddings.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("i", "xf")))
        .select(col("vec_id"), col("i"),
          col("xf").cast("double").cast("decimal(12,6)").as("x"))
      val y = x.select(col("vec_id").as("vid2"), col("i").as("j"),
        col("x").as("y"))
      x.join(y, col("vec_id") === col("vid2") && col("j") >= col("i"))
        .groupBy("i", "j")
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("n"),
          round((col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double") / col("n")) /
            (col("n") - 1), 9).as("cov"))
    }
  }

  /** Q145 — embedding covariance under the ORACLE gate (parallel
    * unnest in DuckDB rebuilds the same exploded frame). */
  def q145(s: SparkSession, d: String): DataFrame =
    covarianceMatrix(Tables.embeddings(s, d)).orderBy("i", "j")

  /** Top principal component by FIXED-ITERATION power method over the
    * exact covariance (the eigensolve tier [[covarianceMatrix]]'s
    * scaladoc declared — now end-to-end in the engine, no driver
    * eigensolve): `iters` matvec+normalize steps from the all-ones
    * start, then every embedding projects onto the direction (PC1
    * loadings — the embedding-hygiene read behind PCA whitening, OOD
    * screens, and "one direction is eating the variance" encoder
    * audits).
    *
    * Determinism: the matrix entries are the q145 gate-proven
    * round(9) doubles — IDENTICAL on both engines by that gate — and
    * every subsequent op is mirrored: the matvec folds in j order,
    * the norm folds in i order (the q79 ordered-fold doctrine), sqrt
    * is the portable libm class, division is IEEE. After a FIXED
    * iteration count both engines hold bit-identical vectors (no
    * convergence test — the q129/q251 fixed-iteration class; the
    * eigenvector SIGN is pinned by the deterministic start, not by a
    * canonicalization; covariance is PSD so the dominant eigenvalue
    * is ≥ 0 and the iteration cannot alternate).
    *
    * Scale: the d²-cell matrix is DIMENSION-bounded (KBs at d = 64,
    * ~1 MB at d = 300 — bounded by the embedding width, never the
    * corpus), so it collects to the driver and the iteration runs as
    * plain Scala folds in the SAME orders the oracle's unrolled CTEs
    * use — the documented bounded-collect class (Bpe merges, the PQ
    * sample). A first cut iterated as 12 Spark jobs over the 64-row
    * frame: 6.9 s of pure per-step checkpoint latency for KBs of
    * math; driver-side reads ~1 s. The corpus itself is touched ONCE
    * by the q145 moment agg and once by the distributed projection
    * pass (v rides back as a broadcast d-row frame). */
  /** The trained PC1 direction alone — index-ordered loadings for
    * serving paths (the S51 streaming scorer rides it as an array
    * literal, the way S41 rides the classifier weights). */
  def topComponent(emb: DataFrame, iters: Int = 12): Array[Double] = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    // d²-cell collect: bounded by the embedding dimension, not N
    val covCells = covarianceMatrix(emb).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    val cov = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    covCells.foreach { case ((i, j), c) => cov((i, j)) = c; cov((j, i)) = c }
    val dims = covCells.flatMap(p => Seq(p._1._1, p._1._2)).distinct.sorted
    var v = Array.fill(dims.length)(1.0)
    for (_ <- 1 to iters) {
      // matvec folds in j order, norm in i order — the exact op
      // sequence of the oracle's list_sum(... ORDER BY ...) CTEs
      val u = dims.map { i =>
        dims.foldLeft(0.0) { (a, j) => a + cov((i, j)) * v(j.toInt) }
      }.toArray
      val s = math.sqrt(dims.foldLeft(0.0) { (a, i) =>
        a + u(i.toInt) * u(i.toInt) })
      // fail fast on a degenerate iterate (all-zero covariance, e.g.
      // constant embeddings, or a matvec that annihilates the start):
      // without this, s = 0 silently propagates NaN into every pc1
      // projection on BOTH engines — garbage that the gate can't flag
      require(s > 0,
        s"power iteration degenerated: ||A·v|| = $s (constant or " +
          "all-zero embeddings have no dominant eigendirection)")
      v = u.map(_ / s)
    }
    v
  }

  def pcaProject(emb: DataFrame, iters: Int = 12): DataFrame = {
    val v = topComponent(emb, iters)
    // r19 (guide §2.4): the projection is an ordered fold over i —
    // the array's OWN element order — so it runs as one row-local
    // zip_with + aggregate against the literal direction instead of
    // explode → broadcast-join → collect_list/array_sort shuffle →
    // fold. Zero exchanges; the double op sequence is identical
    // (per-element product, left fold in i order), so results are
    // bit-equal to the old plan and to the oracle's ordered CTE fold.
    val vlit = array(v.map(lit).toIndexedSeq: _*)
    emb.select(col("vec_id"),
      round(aggregate(
        zip_with(transform(col("embedding"), x => x.cast("double")), vlit,
          (x, w) => x * w),
        lit(0d), (a, t) => a + t), 6).as("pc1"))
  }

  /** Q268 — PC1 projections under the ORACLE gate: 12 power steps on
    * the q145 covariance, every embedding's loading round(6). */
  def q268(s: SparkSession, d: String): DataFrame =
    pcaProject(Tables.embeddings(s, d)).orderBy("vec_id")

  /** The q268 oracle: the q145 covariance CTE + the iteration
    * UNROLLED (the q146/clfCtes idiom), every fold ordered. */
  def q268OracleSql(iters: Int = 12): String = {
    val steps = (1 to iters).map { k =>
      s"u$k AS MATERIALIZED (SELECT c.i, list_sum(list(c.cov * v.v ORDER BY c.j)) AS u " +
        s"FROM cov c JOIN v${k - 1} v ON c.j = v.i GROUP BY c.i), " +
        s"n$k AS (SELECT SQRT(list_sum(list(u * u ORDER BY i))) AS s FROM u$k), " +
        s"v$k AS MATERIALIZED (SELECT i, u / s AS v FROM u$k, n$k)"
    }.mkString(", ")
    "WITH x AS (SELECT vec_id, unnest(range(0, len(embedding))) AS i, " +
      "CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(12,6)) AS x FROM embeddings), " +
      "covu AS MATERIALIZED (SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j, " +
      "ROUND((CAST(SUM(a.x * b.x) AS DOUBLE) - CAST(SUM(a.x) AS DOUBLE) * CAST(SUM(b.x) AS DOUBLE) / COUNT(*)) / (COUNT(*) - 1), 9) AS cov " +
      "FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i GROUP BY a.i, b.i), " +
      "cov AS MATERIALIZED (SELECT i, j, cov FROM covu " +
      "UNION ALL SELECT j, i, cov FROM covu WHERE i <> j), " +
      "v0 AS (SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS v FROM cov), " +
      steps + ", " +
      "px AS (SELECT vec_id, unnest(range(0, len(embedding))) AS i, " +
      "CAST(unnest(embedding) AS DOUBLE) AS xd FROM embeddings) " +
      s"SELECT px.vec_id, ROUND(list_sum(list(px.xd * v.v ORDER BY px.i)), 6) AS pc1 " +
      s"FROM px JOIN v$iters v ON px.i = v.i GROUP BY px.vec_id ORDER BY px.vec_id"
  }

  /** Embedding-space outlier audit: distance of every vector to its
    * LABEL CENTROID, top-k flagged (mislabeled rows, contaminated
    * clusters, encoder drift — the embedding-hygiene read before any
    * cosine-threshold pipeline). Determinism: centroid components come
    * from EXACT decimal component sums (the q145 quantization) divided
    * once; the distance is the dot-product identity |x|²−2x·c+|c|²
    * over the SAME sequential-fold kernels the q68 gate already proved
    * ≡ DuckDB's list folds, clamped at 0 before the sqrt (the identity
    * can land an ulp below zero at near-centroid points). Scale: one
    * N·d explode for the centroid agg, centroids broadcast back — the
    * corpus never shuffles; the top-k cut is TakeOrderedAndProject. */
  def centroidOutliers(emb: DataFrame, k: Int = 20): DataFrame = {
    val d = emb.select(col("vec_id"), col("label"), col("embedding"))
    val comps = d
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("label", "i")
      .agg(sum(col("x").cast("double").cast("decimal(18,6)")).as("s"),
        count(lit(1)).as("n"))
    val cent = comps.groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("i"),
        (col("s").cast("double") / col("n").cast("double")).as("c")))),
        x => x.getField("c")).as("c"))
    d.join(broadcast(cent), "label")
      .withColumn("dist2",
        call_function("vec_dot", col("embedding"), col("embedding")) -
          lit(2.0) * call_function("vec_dot", col("embedding"), col("c")) +
          call_function("vec_dot", col("c"), col("c")))
      .select(col("vec_id"), col("label"),
        round(sqrt(greatest(col("dist2"), lit(0d))), 6).as("dist"))
      .orderBy(col("dist").desc, col("vec_id"))
      .limit(k)
  }

  /** Q201 — the 20 farthest-from-centroid embeddings. */
  def q201(s: SparkSession, d: String): DataFrame =
    centroidOutliers(Tables.embeddings(s, d), 20)

  /** Embedding norm bands per label: min/p50/p95/max of |x| (an
    * un-normalized batch or a scale-drifted encoder shows up here
    * before it corrupts cosine thresholds). Norms ride the q68-gated
    * sequential kernel; the band elements are percentile_disc picks —
    * one grouped agg over N norm rows. */
  def normBands(emb: DataFrame): DataFrame =
    emb.select(col("label"),
        round(call_function("vec_norm", col("embedding")), 6).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min("nrm").as("nrm_min"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY nrm)").as("nrm_p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY nrm)").as("nrm_p95"),
        max("nrm").as("nrm_max"))

  /** Q202 — norm-distribution audit of the embeddings table. */
  def q202(s: SparkSession, d: String): DataFrame =
    normBands(Tables.embeddings(s, d)).orderBy("label")
}
