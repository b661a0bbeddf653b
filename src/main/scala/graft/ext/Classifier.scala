package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Trained quality-classifier curation stage (the RefinedWeb/FineWeb
  * pattern: Penedo et al. 2023, arXiv:2306.01116; FineWeb-Edu trains a
  * linear probe as its quality gate): a linear classifier over hashed
  * bag-of-words features ([[TextOps.featureHash]]'s q150 derivation),
  * trained by FIXED-ITERATION full-batch gradient descent against a
  * weak-supervision teacher label computed from the corpus itself
  * (here: a stopword-ratio cut, the q30 heuristic class — the
  * classifier learns to predict the teacher from lexical evidence,
  * which is exactly the distillation move those pipelines make).
  *
  * DETERMINISM (the gate is hash-strict on every score):
  *  - NO exp(): JVM and DuckDB exp() measured a last-ulp
  *    disagreement on ~10% of 200k inputs, so the link is the
  *    SOFTSIGN surrogate p = ½(1 + m/(1+|m|)) — +,-,*,/,abs only,
  *    every op fully determined by IEEE 754 and mirrored.
  *  - The gradient is EXACT INTEGER arithmetic: probabilities are
  *    quantized to ppm (P = ⌊p·10⁶⌋, a BIGINT), so the per-bucket
  *    gradient Σ(P−10⁶y)·tf is an order-free exact BIGINT sum — a
  *    plain distributed hash-agg, no ordered fold, no float-sum
  *    nondeterminism. Exactness contract: 10⁶ · (tokens per bucket)
  *    < 2⁶³ — ≈ 9·10¹² tokens per bucket, i.e. ~6·10¹⁴ corpus tokens
  *    at dim 64; larger corpora lower the quantization factor.
  *  - Margins fold ≤ dim terms per doc in sorted bucket order (the
  *    q79 ordered-fold doctrine; per-doc state ≤ dim — scale-clean).
  *  - Weight updates divide exact integers once and scale by a
  *    power-of-two lr (exact), starting from literal 0.0 so a
  *    zero-gradient bucket stays +0.0 on both engines (0.0 − 0.0;
  *    unary negation would render −0.0 and hash-diverge).
  *
  * Scale: the per-doc feature array + label frame is computed with ONE
  * corpus pass and localCheckpointed (the q130 multi-consumer
  * doctrine); per-doc state is ≤ dim entries. The weight vector is
  * ≤ dim doubles and lives on the DRIVER across the loop (r19 — the
  * bounded-frame doctrine of the BPE/CC fast paths, except here the
  * bound is structural: dim is a constructor argument, so there is no
  * cap or fallback to manage); each iteration is one narrow
  * margin-fold + gradient hash-agg job whose shuffle carries ≤ dim
  * rows. Driver holds plans plus O(dim) scalars. */
object Classifier {

  /** Softsign link, mirrored op-for-op by the oracle SQL. */
  private def softsign(m: Column): Column =
    lit(0.5) * (lit(1.0) + (m / (lit(1.0) + abs(m))))

  /** Fit `iters` full-batch preconditioned GD steps. `lr` must be a
    * power of two (exact IEEE scaling — any other constant would add
    * a rounding the oracle must mirror anyway, a free determinism
    * win). Returns (features, labels, trained weights). */
  /** Adjacent-token bigram stream (the q69 collocation machinery as a
    * FEATURE source — the FineWeb-class move of adding n-gram evidence
    * to the hashed bag): bigrams are built from the length-filtered
    * token array, space-joined, and hashed by the same featureHash
    * derivation as unigrams. */
  private def bigramTok(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        expr("filter(split(text, '\\\\s+'), x -> length(x) > 0)").as("arr"))
      // greatest(…, 0): empty/whitespace-only docs have size(arr) = 0
      // and slice's length argument must be >= 0 (the q263 guard)
      .select(col("doc_id"), explode(zip_with(
        expr("slice(arr, 1, greatest(size(arr) - 1, 0))"),
        expr("slice(arr, 2, greatest(size(arr) - 1, 0))"),
        (a, b) => concat_ws(" ", a, b))).as("w"))

  /** Fit the GD loop. r19 restructure (guide §1.2 — fix the algorithm
    * before the per-task work): the loop's decision state is the
    * ≤dim-row weight vector, so the 16 iterations now run with
    * DRIVER-HELD weights over ONE pre-aggregated per-doc feature
    * frame:
    *  - `docArr` = per doc the bucket-sorted (bucket, tf) array + the
    *    teacher label, built with ONE corpus pass and localCheckpointed
    *    (the q130 multi-consumer doctrine). Per-doc state ≤ dim —
    *    bounded, scale-clean.
    *  - each iteration is ONE narrow job: margins fold per doc from
    *    the weight-array LITERAL (no join — weights ship inside the
    *    plan, dim ≤ 64 doubles), pq/coefficient inline, explode +
    *    hash-agg to the ≤dim-row gradient, collected to the driver.
    *  - the weight update runs on the driver with the IDENTICAL IEEE
    *    expression sequence (w − lr·(g/(10⁶·sj)), Long→Double casts in
    *    the same places), so every margin/score is bit-identical to
    *    the joined form — the oracle CTE chain is unchanged and the
    *    hash gate stays strict; ClassifierSpec pins new == old on a
    *    reference implementation of the joined loop.
    * Replaces per iteration: 2 corpus-sized joins + a collect_list
    * re-sort + 3 bucket joins + an eager localCheckpoint (≈4 shuffled
    * jobs) with one narrow pass. The margin fold order (bucket asc)
    * and every arithmetic op are unchanged.
    *
    * Earlier r19 variants measured SLOWER and rejected (guide §1.1):
    *  * loop co-partitioning (feat/lab pinned to hash(doc_id, parts),
    *    zero exchanges inside the loop): q251 5.3 → 8.5 s, q257
    *    8.5 → 10.5 s — without shuffle boundaries the per-iteration
    *    joins stay sort-merge (AQE can only rewrite to broadcast at an
    *    Exchange) and the pinned partition count defeats AQE's
    *    coalescing.
    *  * explicit broadcast(g)/broadcast(prec) hints on the ≤dim-row
    *    weight-update joins: q251 5.98 → 6.84 s, q257 8.33 → 9.24 s —
    *    AQE already converts these at runtime from observed sizes; the
    *    hint forces an eager blocking BroadcastExchange per iteration.
    *
    * Returns (scored frame (doc_id, y, m), weight frame (bucket, w)). */
  private def fit(docs: DataFrame, dim: Int, iters: Int,
      lr: Double, bigrams: Boolean = false): (DataFrame, DataFrame) = {
    require(dim > 0 && iters > 0, s"dim=$dim iters=$iters must be positive")
    require(lr > 0 && java.lang.Double.doubleToLongBits(lr) ==
      java.lang.Double.doubleToLongBits(math.pow(2, math.getExponent(lr))),
      s"lr=$lr must be a power of two (exact IEEE scaling)")
    val spark = docs.sparkSession
    import spark.implicits._
    val tok0 = docs.select(col("doc_id"),
        explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    // the TEACHER always reads unigrams (stopword share is a unigram
    // property); features optionally add the bigram stream
    val tok = tok0
    // teacher: stopword share above 1/16 (exact integer test; ~49%
    // positive on the fixture corpus — a balanced, learnable signal)
    val lab = tok.groupBy("doc_id").agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("w").isin("a", "the"), 1L).otherwise(0L)).as("n_stop"))
      .withColumn("y",
        when(col("n_stop") * 16 > col("n_tok"), 1L).otherwise(0L))
      .select("doc_id", "y")
    val featTok = if (bigrams) tok.union(bigramTok(docs)) else tok
    val feat = featTok.withColumn("bucket",
        pmod(conv(substring(md5(col("w").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(dim.toLong)))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
    // bucket-sorted per-doc feature array + label: ONE corpus job (the
    // feat agg and the lab agg are sibling subtrees of the same plan).
    // array_sort on (bucket, tf) structs orders by bucket (unique per
    // doc) — exactly the fold order marginsOf used.
    val docArr = feat
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("bucket"), col("tf")))).as("fa"))
      .join(lab, "doc_id")
      .localCheckpoint(true)
    // diagonal preconditioner: per-bucket curvature proxy sj = Σ tf²
    // (exact BIGINT, computed once) — coordinate-wise scaling turns
    // the ill-scaled raw-tf problem into one GD solves in a handful
    // of steps; the update divide stays one exact-integer-over-
    // integer IEEE division per bucket. Derived from docArr (same
    // (bucket, tf) multiset as feat), ≤ dim rows collected.
    val sj: Map[Long, Long] = docArr
      .select(explode(col("fa")).as("e"))
      .groupBy(col("e.bucket").as("bucket"))
      .agg(sum(col("e.tf") * col("e.tf")).as("sj"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // weights live on the driver, indexed by bucket (0 until dim);
    // buckets absent from the corpus stay 0.0 and are never read
    val w = new Array[Double](dim)
    def marginExpr: Column = {
      val wl = typedLit(w.toIndexedSeq)
      aggregate(
        transform(col("fa"), x =>
          element_at(wl, (x.getField("bucket") + lit(1L)).cast("int")) *
            x.getField("tf").cast("double")),
        lit(0d), (acc, t) => acc + t)
    }
    var it = 1
    while (it <= iters) {
      // one typed gradient pass per iteration (GradientAggregator):
      // margin fold (bucket-asc, same IEEE sequence as the HOF
      // expression), pq (iteration 1 seeds the constant 500000 — w ≡ 0
      // ⇒ softsign(0) = ½ exactly), and the exact-Long c·tf
      // accumulation all run in one compiled kernel whose partials are
      // dim-length arrays — no explode, no hash-agg machinery
      val gradAgg = udaf(new graft.functions.GradientAggregator(
        dim, w.clone(), it == 1))
      val g = docArr.agg(gradAgg(col("y"), col("fa")).as("g"))
        .head().getSeq[Long](0)
      sj.foreach { case (b, s) =>
        // identical IEEE sequence to the joined form's update column;
        // buckets absent from the corpus have no sj entry and are never
        // read (a present bucket with g = 0 updates by exactly +0.0)
        w(b.toInt) = w(b.toInt) -
          lr * (g(b.toInt).toDouble / (1000000L * s).toDouble)
      }
      it += 1
    }
    val scored = docArr.select(col("doc_id"), col("y"), marginExpr.as("m"))
    val wDf = sj.keys.toSeq.sorted.map(b => (b, w(b.toInt))).toDF("bucket", "w")
    (scored, wDf)
  }

  /** The trained weight vector alone — (bucket, w), ≤ dim rows — for
    * serving paths (the S41 streaming scorer broadcasts it). */
  def trainWeights(docs: DataFrame, dim: Int = 64, iters: Int = 3,
      lr: Double = 0.0625): DataFrame = fit(docs, dim, iters, lr)._2

  /** Train `iters` steps and score every doc (the q251 shape). */
  def trainQuality(docs: DataFrame, dim: Int = 64, iters: Int = 3,
      lr: Double = 0.0625): DataFrame = {
    val (scored, _) = fit(docs, dim, iters, lr)
    scored
      .withColumn("p", softsign(col("m")))
      .select(col("doc_id"), col("y"),
        when(col("p") > 0.5, 1L).otherwise(0L).as("pred"),
        round(col("p"), 6).as("score"))
  }

  /** CLASSIFIER V2 (r16): bigram-augmented features + a CALIBRATED
    * keep threshold. Real curation gates don't cut at p = 0.5 — they
    * pick the threshold that yields a TARGET KEEP-RATE (the q77
    * quantized-rate doctrine, applied to scores): scores quantize to
    * ppm BIGINTs, K = ⌊n·keepPpm/10⁶⌋ (exact integers), and the
    * threshold is the (K+1)-th largest quantized score — kept docs are
    * strictly above it, so ties COLLAPSE BELOW the target (the
    * deterministic side of the trade; both engines agree bit-for-bit
    * because the selection runs on exact integers).
    *
    * Scale: the rank selection runs on the score HISTOGRAM (≤ 10⁶+1
    * rows by construction — the pq domain), so the one ordered window
    * is over a BOUNDED-cardinality frame, never the corpus; the
    * threshold then broadcasts back as a 1-row frame. */
  def calibratedQuality(docs: DataFrame, dim: Int = 64, iters: Int = 3,
      lr: Double = 0.0625, keepPpm: Long = 400000L): DataFrame = {
    require(keepPpm > 0 && keepPpm < 1000000L, s"keepPpm=$keepPpm outside (0, 1e6)")
    import org.apache.spark.sql.expressions.Window
    val (scored0, _) = fit(docs, dim, iters, lr, bigrams = true)
    val scored = scored0
      .withColumn("p", softsign(col("m")))
      .withColumn("pq", floor(col("p") * lit(1000000.0)).cast("long"))
      .localCheckpoint(true) // multi-consumer: histogram + output
    val kF = scored.agg(expr(s"(count(1) * $keepPpm) DIV 1000000").as("k"))
    val hist = scored.groupBy("pq").agg(count(lit(1)).as("c"))
    val thr = hist.crossJoin(broadcast(kF))
      .withColumn("cum", sum("c").over(Window.orderBy(col("pq").desc)))
      .filter(col("cum") >= col("k") + lit(1L))
      .agg(coalesce(max("pq"), lit(-1L)).as("thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("y"),
        round(col("p"), 6).as("score"),
        (col("pq") > col("thr")).as("keep"))
  }

  /** Q257 — calibrated bigram classifier gate under the ORACLE gate:
    * dim 64, 16 preconditioned GD steps at lr ¼, 40% target keep-rate
    * (the q251 config with the v2 feature space and threshold). */
  def q257(s: SparkSession, d: String): DataFrame =
    calibratedQuality(Tables.documents(s, d), 64, 16, 0.25, 400000L)
      .orderBy("doc_id")

  def q257OracleSql: String = q257OracleSql(64, 16, 0.25, 400000L)

  /** The q257 oracle: the v2 CTE chain (unigram∪bigram features) plus
    * the histogram rank selection, all exact integers. */
  def q257OracleSql(dim: Int, iters: Int, lr: Double,
      keepPpm: Long): String = {
    val soft = (m: String) => s"(0.5 * (1.0 + ($m / (1.0 + abs($m)))))"
    s"WITH ${clfCtes(dim, iters, lr, bigrams = true)}, " +
      s"${calThresholdCtes(keepPpm)} " +
      s"SELECT s.doc_id, s.y, ROUND(${soft("s.m")}, 6) AS score, " +
      "s.pq > thr.thr AS keep FROM s, thr ORDER BY s.doc_id"
  }

  /** The calibrated-threshold CTEs (s/kf/hist/cum/thr) over an `mf`
    * margin frame — shared by the q257 and pipeline-v8 oracles. */
  private def calThresholdCtes(keepPpm: Long): String = {
    val soft = (m: String) => s"(0.5 * (1.0 + ($m / (1.0 + abs($m)))))"
    s"s AS MATERIALIZED (SELECT l.doc_id, l.y, mf.m, " +
      s"CAST(FLOOR(${soft("mf.m")} * 1000000.0) AS BIGINT) AS pq " +
      "FROM mf JOIN lab l ON mf.doc_id = l.doc_id), " +
      s"kf AS (SELECT (COUNT(*) * $keepPpm) // 1000000 AS k FROM s), " +
      "hist AS (SELECT pq, COUNT(*) AS c FROM s GROUP BY pq), " +
      "cum AS (SELECT pq, SUM(c) OVER (ORDER BY pq DESC) AS cum FROM hist), " +
      "thr AS (SELECT COALESCE(MAX(pq), -1) AS thr FROM cum, kf " +
      "WHERE cum >= kf.k + 1)"
  }

  /** Q251 — quality classifier under the ORACLE gate: full documents
    * table, dim 64, 16 preconditioned GD steps at lr ¼ — 83%
    * teacher agreement on the sf0.1 fixture vs a 49% base rate
    * (plain unpreconditioned GD needed 48 steps for the same
    * accuracy; the plateau is the saturating-link convergence rate,
    * not the model class — the teacher is exactly linear in the
    * features, pinned by the planted-separable spec). */
  def q251(s: SparkSession, d: String): DataFrame =
    trainQuality(Tables.documents(s, d), 64, 16, 0.25).orderBy("doc_id")

  /** Q252 — curation pipeline V7: the classifier as a production
    * gate — score the corpus (q251's exact chain), keep the
    * quality-pass docs, exact-dedup them (md5 fingerprint, min
    * doc_id kept — the q25 form), pack into 2000-token shards with
    * order-insensitive digests (the q63/q243 two-phase distributed
    * prefix sum — no global single-partition window). */
  def q252(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val keep = trainQuality(docs, 64, 16, 0.25)
      .filter(col("pred") === 1).select("doc_id")
    val dd = docs.join(keep, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
      .filter(col("rk") === 1)
      .select("doc_id", "text").persist()
    val packed = TextOps.packShards(dd, budget = 2000L)
    val res = packed.join(dd, Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), "\n")).as("digest"))
      .localCheckpoint(true)
    dd.unpersist()
    res.orderBy("shard")
  }

  /** The q252 oracle: the q251 chain extended with the gate → dedup →
    * shard stages (the q243 digest idiom). */
  def q252OracleSql(dim: Int = 64, iters: Int = 16,
      lr: Double = 0.25): String = {
    val soft = (m: String) => s"(0.5 * (1.0 + ($m / (1.0 + abs($m)))))"
    s"WITH ${clfCtes(dim, iters, lr)}, " +
      s"keep AS MATERIALIZED (SELECT doc_id FROM mf WHERE ${soft("m")} > 0.5), " +
      "dd AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d " +
      "JOIN keep USING (doc_id) QUALIFY ROW_NUMBER() OVER " +
      "(PARTITION BY md5(d.text) ORDER BY d.doc_id) = 1), " +
      "cl AS (SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) " +
      "AS n_tokens FROM dd), " +
      "sh AS (SELECT doc_id, text, n_tokens, CAST(FLOOR((SUM(n_tokens) OVER " +
      "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) / 2000.0) AS BIGINT) " +
      "AS shard FROM cl) " +
      "SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, " +
      "md5(string_agg(text, chr(10) ORDER BY doc_id)) AS digest " +
      "FROM sh GROUP BY shard ORDER BY shard"
  }

  /** The q251 oracle SQL: the identical computation unrolled as a CTE
    * chain, generated for the same (dim, iters) — DuckDB's
    * `list_sum(list(t ORDER BY bucket))` mirrors the Spark ordered
    * fold (the q79-established bit-compatible pair); everything else
    * is exact integers or mirrored +,-,*,/,abs. */
  def q251OracleSql(dim: Int = 64, iters: Int = 3,
      lr: Double = 0.0625): String = {
    val soft = (m: String) => s"(0.5 * (1.0 + ($m / (1.0 + abs($m)))))"
    s"WITH ${clfCtes(dim, iters, lr)} " +
      s"SELECT l.doc_id, l.y, CASE WHEN ${soft("mf.m")} > 0.5 " +
      "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pred, " +
      s"ROUND(${soft("mf.m")}, 6) AS score " +
      "FROM mf JOIN lab l ON mf.doc_id = l.doc_id ORDER BY l.doc_id"
  }

  /** The shared classifier CTE chain (tok → lab → feat → prec → the
    * unrolled GD iterations → mf, every CTE MATERIALIZED — DuckDB
    * inlines CTEs by default and the unrolled chain would re-expand
    * tok/feat per reference, exhausting file handles). */
  /** Q267 — curation pipeline V8: the RefinedWeb × CCNet composition —
    * BOTH r16 quality signals gate the corpus before packing:
    *   calibrated bigram classifier keep (q257: v2 features, 40%
    *     target keep-rate by exact-integer rank selection)
    *   ∩ reference-LM perplexity band (q263: mean bigram log-prob
    *     under the mod-25 reference slice ≥ −3.6 on the ROUNDED score
    *     — a mirrored double compare; reference docs pass by
    *     definition, the curated corpus is not self-filtered)
    *   → exact dedup (md5 fingerprint, min doc_id)
    *   → 2000-token shards with order-insensitive digests (the
    *     q63/q252 two-phase distributed prefix sum).
    * Each stage reuses a gate-green operator verbatim; the pipeline is
    * hash-checked as a composition like v1–v7. */
  def q267(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val keep1 = calibratedQuality(docs, 64, 16, 0.25, 400000L)
      .filter(col("keep")).select("doc_id")
    val lmKeep = TextOps.bigramLmScore(docs)
      .filter(col("lp_per_bigram") >= lit(-3.6)).select("doc_id")
      .union(docs.filter(col("doc_id") % TextOps.LmRefMod === 0)
        .select("doc_id"))
    val dd = docs.join(keep1, "doc_id").join(lmKeep, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
      .filter(col("rk") === 1)
      .select("doc_id", "text").persist()
    val packed = TextOps.packShards(dd, budget = 2000L)
    val res = packed.join(dd, Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), "\n")).as("digest"))
      .localCheckpoint(true)
    dd.unpersist()
    res.orderBy("shard")
  }

  /** The q267 oracle: the q257 calibrated-keep CTEs ∩ the q263 LM
    * chain (both reused verbatim from their gate-green oracles) + the
    * q252 dedup/shard tail. */
  def q267OracleSql: String =
    s"WITH ${clfCtes(64, 16, 0.25, bigrams = true)}, " +
      s"${calThresholdCtes(400000L)}, " +
      "keep1 AS MATERIALIZED (SELECT s.doc_id FROM s, thr WHERE s.pq > thr.thr), " +
      s"${TextOps.lmCtes()}, " +
      "lmk AS MATERIALIZED (SELECT doc_id FROM lmsc WHERE lp_per_bigram >= -3.6 " +
      s"UNION ALL SELECT doc_id FROM documents WHERE doc_id % ${TextOps.LmRefMod} = 0), " +
      "dd AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d " +
      "JOIN keep1 USING (doc_id) JOIN lmk USING (doc_id) " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) = 1), " +
      "cl AS (SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) " +
      "AS n_tokens FROM dd), " +
      "sh AS (SELECT doc_id, text, n_tokens, CAST(FLOOR((SUM(n_tokens) OVER " +
      "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) / 2000.0) AS BIGINT) " +
      "AS shard FROM cl) " +
      "SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, " +
      "md5(string_agg(text, chr(10) ORDER BY doc_id)) AS digest " +
      "FROM sh GROUP BY shard ORDER BY shard"

  private def clfCtes(dim: Int, iters: Int, lr: Double,
      bigrams: Boolean = false): String = {
    val soft = (m: String) => s"(0.5 * (1.0 + ($m / (1.0 + abs($m)))))"
    val featSrc = if (bigrams) "toka" else "tok"
    def grad(gi: Int, pqRel: String) =
      s"g$gi AS MATERIALIZED (SELECT f.bucket, SUM((p.pq - 1000000 * l.y) * f.tf) AS g " +
        s"FROM feat f JOIN $pqRel p USING (doc_id) JOIN lab l ON f.doc_id = l.doc_id " +
        "GROUP BY f.bucket)"
    def wUpd(wi: Int, wPrev: String, gi: Int) =
      s"w$wi AS MATERIALIZED (SELECT $wPrev.bucket, ($wPrev.w - (${java.lang.Double.toString(lr)} * (CAST(g$gi.g AS DOUBLE) / " +
        s"CAST((1000000 * prec.sj) AS DOUBLE)))) AS w FROM $wPrev " +
        s"JOIN g$gi USING (bucket) JOIN prec USING (bucket))"
    def marg(mi: Int, wi: Int) =
      s"m$mi AS MATERIALIZED (SELECT f.doc_id, list_sum(list(w$wi.w * CAST(f.tf AS DOUBLE) " +
        s"ORDER BY f.bucket)) AS m FROM feat f JOIN w$wi USING (bucket) " +
        "GROUP BY f.doc_id)"
    def pq(pi: Int, mi: Int) =
      s"pq$pi AS MATERIALIZED (SELECT doc_id, CAST(FLOOR(${soft("m")} * 1000000.0) AS BIGINT) " +
        s"AS pq FROM m$mi)"
    val iterCtes = (2 to iters).flatMap { i =>
      Seq(marg(i, i - 1), pq(i, i), grad(i, s"pq$i"), wUpd(i, s"w${i - 1}", i))
    }
    val ctes = Seq(
      "tok AS MATERIALIZED (SELECT doc_id, w FROM (SELECT doc_id, " +
        "unnest(string_split_regex(text, '\\s+')) AS w FROM documents) " +
        "WHERE LENGTH(w) > 0)",
      "lab AS MATERIALIZED (SELECT doc_id, CASE WHEN SUM(CASE WHEN w IN ('a', 'the') " +
        "THEN 1 ELSE 0 END) * 16 > COUNT(*) THEN CAST(1 AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END AS y FROM tok GROUP BY doc_id)") ++
      (if (bigrams) Seq(
        // v2 feature stream: unigrams ∪ adjacent bigrams from the
        // LENGTH-filtered token list (mirrors Classifier.bigramTok)
        "toka AS MATERIALIZED (SELECT doc_id, w FROM tok UNION ALL " +
          "SELECT doc_id, unnest(list_transform(range(1, len(lf)), " +
          "i -> lf[i] || ' ' || lf[i + 1])) AS w FROM " +
          "(SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), " +
          "x -> LENGTH(x) > 0) AS lf FROM documents))")
       else Seq.empty) ++ Seq(
      s"feat AS MATERIALIZED (SELECT doc_id, CAST(CONCAT('0x', substr(md5(w), 1, 8)) AS BIGINT) " +
        s"% $dim AS bucket, COUNT(*) AS tf FROM $featSrc GROUP BY 1, 2)",
      "prec AS MATERIALIZED (SELECT bucket, SUM(tf * tf) AS sj FROM feat GROUP BY bucket)",
      "w0 AS MATERIALIZED (SELECT DISTINCT bucket, CAST(0.0 AS DOUBLE) AS w FROM feat)",
      "pq1 AS MATERIALIZED (SELECT doc_id, CAST(500000 AS BIGINT) AS pq FROM lab)",
      grad(1, "pq1"), wUpd(1, "w0", 1)) ++ iterCtes ++ Seq(
      s"mf AS MATERIALIZED (${marg(99, iters).stripPrefix("m99 AS MATERIALIZED (")}")
    ctes.mkString(", ")
  }
}
