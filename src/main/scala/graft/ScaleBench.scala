package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Sessions
import graft.ext.{NearDup, TextOps}

/** Scaling-curve harness for the heavy near-dup operators (r8 verdict
  * "Next round #2": every 100 TB claim in the scaladocs rested on
  * parameter math measured only at 5,000 docs — this measures the
  * actual growth shape at 1×/10×/50× corpus size).
  *
  * Corpus synthesis mirrors the documents fixture's structure (word-soup
  * text, ~5% of docs are near-dup variants of their predecessor sharing
  * the leading words, variant tail mutated so in-group 3-gram Jaccard
  * lands ≈0.85–0.9, far above the 0.5 threshold while random pairs sit
  * ≈0.05) with one deliberate deviation: 20% of tokens are id-derived
  * rare words whose vocabulary GROWS with corpus size (Heaps-law-ish),
  * because a fixed 31-word vocabulary at 250k docs makes every shingle a
  * stopword-class flood — real corpora have long-tail vocab, and the
  * df-capped candidate generators (winnowing) and LSH key spaces depend
  * on it. Generation is deterministic (per-id seeded Random), written to
  * parquet once, and NOT part of the timed region.
  *
  * Protocol: sizes ascending; at the smallest size each operator runs
  * once discarded (codegen/JIT warmup, the Bench lesson), then every
  * (op, size) point is timed once with a persisted-RDD sweep between
  * runs. Single-shot timings on this host carry the documented ~5%
  * bursty-steal noise — the signal is the GROWTH RATIO between sizes,
  * not any absolute number. `rows` is printed so recall collapse (e.g. a
  * capped-out bucket guard) is observable, with the expected pair count
  * for comparison.
  *
  * simhash runs at maxDist=3 (Manku's production parametrization,
  * 4×16-bit block keys) — the declared 100 TB operating point. The
  * default maxDist=7 (8-bit keys) is past its documented
  * n ≈ maxBucket·2^width breakeven at 250k docs by design; that regime
  * belongs to exact-dedup-first, not banding (TextOps.simHashPairs
  * scaladoc).
  */
object ScaleBench {

  private val vocab = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Base word-soup text for one seed (rare-word vocab capped at
    * maxRare — the Heaps-law knob from the object scaladoc). */
  private def baseWords(maxRare: Int, seed: Long): Array[String] = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 13)
    val n = 10 + r.nextInt(90)
    Array.fill(n) {
      if (r.nextInt(5) == 0) "w" + r.nextInt(maxRare)
      else vocab(r.nextInt(vocab.length))
    }
  }

  /** Mutate exactly the last 2 words of `base` (seeded by mutSeed):
    * ≤ 4 changed 3-gram shingles, Jaccard ≈ 0.85–0.9 vs the base — large
    * enough tail edit to be a real near-dup, small enough that all four
    * modalities (minhash/ngram/simhash@3/winnow) see the pair. */
  private def variantOf(base: Array[String], mutSeed: Long): String = {
    val r = new java.util.Random(mutSeed * 0x9E3779B97F4A7C15L + 99)
    (0 until 2).foreach { j =>
      base(base.length - 1 - j) = vocab(r.nextInt(vocab.length))
    }
    base.mkString(" ")
  }

  /** Deterministic synthetic corpus: (doc_id, text). Every 20th doc is a
    * near-dup variant of its predecessor (shared prefix, mutated tail). */
  def corpus(spark: SparkSession, nDocs: Long): DataFrame = {
    val maxRare = math.max(1000L, nDocs / 5).toInt
    val gen = udf { (id: Long) =>
      if (id % 20 == 19) variantOf(baseWords(maxRare, id - 1), id)
      else baseWords(maxRare, id).mkString(" ")
    }
    spark.range(nDocs).select(col("id").as("doc_id"), gen(col("id")).as("text"))
  }

  /** Deterministic synthetic embedding corpus: (vec_id, embedding) —
    * 64-dim floats around `nClusters` Gaussian centers (cluster
    * structure is what IVF cells capture; the sf fixture's near-uniform
    * vectors are the worst case: the r9 IVF probe curve in
    * BASELINE.md). */
  def vecCorpus(spark: SparkSession, n: Long, dim: Int = 64,
      nClusters: Int = 50): DataFrame = {
    val gen = udf { (id: Long) =>
      val rc = new java.util.Random((id % nClusters) * 7919L + 1)
      val center = Array.fill(dim)(rc.nextGaussian().toFloat)
      val r = new java.util.Random(id * 0x9E3779B97F4A7C15L + 5)
      Array.tabulate(dim)(i => center(i) + 0.3f * r.nextGaussian().toFloat)
    }
    spark.range(n).select(col("id").as("vec_id"), gen(col("id")).as("embedding"))
  }

  /** Vector-axis scaling (r9): IVF index build + search cost and the
    * nProbe=4 pruning win at 1×/10×/50× of the sf0.1 vector count. The
    * build's assignment pass is the declared 100 TB index cost center
    * (Ann.assign scaladoc); this curve is its growth evidence. Recall at
    * nProbe=4 is measured against the full-probe exact result on the
    * same index (relative recall — the pruning's cost, isolated from
    * index quality). */
  private def runVectors(spark: SparkSession, sizes: Seq[Long], dir: String): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val path = s"$dir/vecs_$n.parquet"
      if (!new java.io.File(path).exists())
        vecCorpus(spark, n).write.mode("overwrite").parquet(path)
      val vecs = spark.read.parquet(path)
      val queries = vecs.filter(col("vec_id") < 100)
      if (i == 0) { // warmup at the smallest size: build + one search
        val (c0, a0) = graft.ext.Ann.build(vecs, 16, 2)
        graft.ext.Ann.search(a0, c0, queries, 10, 16).count()
        c0.unpersist(); a0.unpersist(); sweep()
      }
      val tB = System.nanoTime()
      val (centroids, assigned) = graft.ext.Ann.build(vecs, 16, 2)
      assigned.count()
      val buildSec = (System.nanoTime() - tB) / 1e9
      def timedSearch(nProbe: Int): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = graft.ext.Ann.search(assigned, centroids, queries, 10, nProbe).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (fullSec, _) = timedSearch(16)
      val (p4Sec, _) = timedSearch(4)
      val exact = graft.ext.Ann.search(assigned, centroids, queries, 10, 16)
        .select(col("qid"), col("vec_id")).persist()
      val total = exact.count()
      val hits = graft.ext.Ann.search(assigned, centroids, queries, 10, 4)
        .select(col("qid"), col("vec_id"))
        .join(exact, Seq("qid", "vec_id"), "left_semi").count()
      exact.unpersist(); centroids.unpersist(); assigned.unpersist(); sweep()
      println(f"""{"op":"ivf","n_vecs":$n,"build_sec":$buildSec%.2f,"search_full_sec":$fullSec%.2f,"search_p4_sec":$p4Sec%.2f,"recall_p4":${hits.toDouble / total}%.4f}""")
      // semDedup (r10): k scales with N (E[cluster] ≈ 250 held constant)
      // so the Σ|C|² pair join stays ∝ N·E[cluster] — the SemDeDup
      // linearity argument, measured. Assignment is the other term:
      // N·k rows through the broadcast argmax (the q34 assign shape).
      val kSem = math.max(8L, n / 250L).toInt
      val tS = System.nanoTime()
      val keptRows = graft.ext.Similarity.semDedup(vecs, k = kSem, tau = 0.9).count()
      val semSec = (System.nanoTime() - tS) / 1e9
      sweep()
      println(f"""{"op":"semdedup","n_vecs":$n,"k":$kSem,"sec":$semSec%.2f,"kept":$keptRows}""")
      // two-level assignment: the O(N·√k) fix for the flat path's
      // O(N·k) assignment term (k ∝ N makes flat quadratic — measured
      // above); kept counts differ slightly where boundary vectors
      // land in a neighboring family's cell (documented approximation)
      val tH = System.nanoTime()
      val keptH = graft.ext.Similarity
        .semDedup(vecs, k = kSem, tau = 0.9, twoLevel = true).count()
      val semHSec = (System.nanoTime() - tH) / 1e9
      sweep()
      println(f"""{"op":"semdedup_2l","n_vecs":$n,"k":$kSem,"sec":$semHSec%.2f,"kept":$keptH}""")
    }
  }

  /** kNN-join / k-means scaling (r10): the exact all-pairs kNN's cost
    * is the block grid's N²·d compute with only N·√P·k candidate
    * communication — this curve is the "why the IVF path exists"
    * quadratic evidence for q81, next to the linear k-means assignment
    * (k·N broadcast folds, no corpus shuffle) of q87. */
  private def runKnn(spark: SparkSession, sizes: Seq[Long], dir: String): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val path = s"$dir/vecs_$n.parquet"
      if (!new java.io.File(path).exists())
        vecCorpus(spark, n).write.mode("overwrite").parquet(path)
      val vecs = spark.read.parquet(path)
      if (i == 0) { // warmup the kernels at the smallest size
        graft.ext.Similarity.knnJoin(vecs, 5).count()
        graft.ext.Similarity.kmeans(vecs).count()
        sweep()
      }
      val t0 = System.nanoTime()
      val knnRows = graft.ext.Similarity.knnJoin(vecs, 5).count()
      val knnSec = (System.nanoTime() - t0) / 1e9
      sweep()
      println(f"""{"op":"knn_exact","n_vecs":$n,"sec":$knnSec%.2f,"rows":$knnRows}""")
      val t1 = System.nanoTime()
      val kmRows = graft.ext.Similarity.kmeans(vecs).count()
      val kmSec = (System.nanoTime() - t1) / 1e9
      sweep()
      println(f"""{"op":"kmeans_k8i2","n_vecs":$n,"sec":$kmSec%.2f,"rows":$kmRows}""")
    }
  }

  /** Incremental-screen scaling (r11, VERDICT r10 item 6): fixed 5,000-doc
    * increment against history growing 5k→50k→250k, with the history-index
    * build (the production SUNK cost — bucketed band/shingle tables
    * refreshed per corpus release, not per batch) timed SEPARATELY from
    * the per-batch screen. The claim under test: screen cost is driven by
    * the increment plus the band-join probe — near-flat in history size —
    * while prep grows linearly; history × history never happens.
    *
    * One corpus file at max+5k docs is sliced for every history point, so
    * history at size n is a prefix of history at 10n. Every ODD increment
    * doc is a planted near-dup variant of history doc (id % 5000) —
    * present in the SMALLEST history, so the flagged count (~2,500) and
    * the verify-join work are CONSTANT across points and screen-time
    * growth isolates the band-probe term alone. */
  private def runIncremental(spark: SparkSession, histSizes: Seq[Long], dir: String): Unit = {
    import graft.ext.NearDup
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val incN = 5000L
    val totalN = histSizes.max + incN
    val path = s"$dir/docs_inc_$totalN.parquet"
    if (!new java.io.File(path).exists())
      corpus(spark, totalN).write.mode("overwrite").parquet(path)
    val all = spark.read.parquet(path)
    val maxRare = math.max(1000L, totalN / 5).toInt
    val incGen = udf { (id: Long) =>
      if (id % 2 == 1) variantOf(baseWords(maxRare, id % 5000), 7777L + id)
      else baseWords(maxRare, 3_000_000_000L + id).mkString(" ")
    }
    val incoming = spark.range(incN)
      .select((col("id") + 1_000_000_000L).as("doc_id"), incGen(col("id")).as("text"))
    histSizes.zipWithIndex.foreach { case (n, i) =>
      val history = all.filter(col("doc_id") < n)
      if (i == 0) { // warmup: kernels + join shapes at the smallest size
        val idx0 = NearDup.historyIndex(history).persist()
        NearDup.screenIncrement(idx0, incoming).count()
        idx0.unpersist(); sweep()
      }
      val tP = System.nanoTime()
      val idx = NearDup.historyIndex(history).persist()
      val bandRows = idx.bands.count(); idx.shingles.count()
      val prepSec = (System.nanoTime() - tP) / 1e9
      val tS = System.nanoTime()
      val flagged = NearDup.screenIncrement(idx, incoming).count()
      val screenSec = (System.nanoTime() - tS) / 1e9
      idx.unpersist(); sweep()
      println(f"""{"op":"q91_incremental","n_history":$n,"n_increment":$incN,"prep_sec":$prepSec%.2f,"screen_sec":$screenSec%.2f,"history_band_rows":$bandRows,"flagged":$flagged}""")
    }
  }

  /** Entity-resolution growth (r11): fuzzy join cost must be driven by
    * the NAME VOCABULARY (deduped before the banded verify), not the
    * record count — records only pay two equi-joins. The synthetic
    * corpus grows both: n records over a vocabulary of n/100 names
    * (8–12 random lowercase letters, id-seeded), every 5-group's
    * second entry a planted 1-substitution variant of its base (same
    * brand by construction, brand = (vid/5) % 50), so true pairs grow
    * ∝ vocab and accidental ≤2-edit pairs among random 8+-letter
    * strings are ≈0. Watch: pairs_sec growth tracks vocab (sublinear
    * in records), join_sec tracks records, cc_sec tracks pairs with
    * the flat per-round job overhead measured by the q105 floor. */
  private def runEntity(spark: SparkSession, sizes: Seq[Long], dir: String): Unit = {
    import graft.ext.Entity
    import graft.operators.Graph
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    def mkName(seed: Long): String = {
      val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 7)
      val len = 8 + r.nextInt(5)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(('a' + r.nextInt(26)).toChar))
      sb.toString
    }
    sizes.zipWithIndex.foreach { case (n, i) =>
      val v = math.max(200L, n / 100)
      val nameGen = udf { (vid: Long) =>
        if (vid % 5 == 1) {
          val s = mkName(vid - 1).toCharArray
          s(2) = if (s(2) == 'z') 'q' else 'z'
          new String(s)
        } else mkName(vid)
      }
      val recs = spark.range(n).select(
        col("id").as("p_partkey"),
        concat(lit("B"), pmod(floor((col("id") % v) / 5), lit(50)))
          .as("p_brand"),
        nameGen(col("id") % v).as("p_name"))
        .persist()
      recs.count() // materialize: generation is not part of the timed region
      if (i == 0) { // warmup at the smallest size
        Entity.fuzzyJoin(recs, "p_brand", "p_name", "p_partkey", 2).count()
        sweep()
      }
      val tP = System.nanoTime()
      val pairs = Entity.fuzzyNamePairs(recs, "p_brand", "p_name", 2).persist()
      val nPairs = pairs.count()
      val pairsSec = (System.nanoTime() - tP) / 1e9
      val tJ = System.nanoTime()
      val nLinks = Entity.fuzzyJoin(recs, "p_brand", "p_name", "p_partkey", 2).count()
      val joinSec = (System.nanoTime() - tJ) / 1e9
      val tC = System.nanoTime()
      val nNodes = Graph.connectedComponents(
        pairs.select(concat_ws("|", col("p_brand"), col("name_a")).as("src"),
          concat_ws("|", col("p_brand"), col("name_b")).as("dst"))).count()
      val ccSec = (System.nanoTime() - tC) / 1e9
      pairs.unpersist(); recs.unpersist(); sweep()
      println(f"""{"op":"q100_entity","n":$n,"vocab":$v,"pairs_sec":$pairsSec%.2f,"join_sec":$joinSec%.2f,"cc_sec":$ccSec%.2f,"name_pairs":$nPairs,"record_links":$nLinks,"cc_nodes":$nNodes,"expected_pairs":${v / 5}}""")
    }
  }

  /** Sweep-line growth (r11): maxConcurrency's two-phase prefix sum vs
    * the NAIVE single-global-window form it replaces — the
    * counterexample row (the q51_winnow_df100 pattern: keep the
    * anti-plan measurable so the design choice stays evidence, not
    * lore). Intervals are synthetic sessions (uniform starts over a
    * year, 1–4 h lengths). Watch: two_phase_sec grows ∝ n with ~32-way
    * parallel windows; global_sec funnels ALL deltas through ONE
    * partition's sort+window — same asymptotic n·log n but constant-
    * factor serial, and its gap to two_phase widens with n on a
    * multi-core executor. */
  private def runSweep(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import org.apache.spark.sql.expressions.Window
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val start = pmod(col("id") * 2654435761L, lit(31536000L)) * 1000000L
      val iv = spark.range(n).select(
        start.as("s"),
        (start + (lit(3600L) + pmod(col("id"), lit(10800L))) * 1000000L).as("e"))
        .persist()
      iv.count()
      if (i == 0) {
        graft.operators.Relational.maxConcurrency(iv, "s", "e").count(); sweep()
      }
      val t1 = System.nanoTime()
      val twoPhase = graft.operators.Relational.maxConcurrency(iv, "s", "e")
        .head().getLong(0)
      val twoPhaseSec = (System.nanoTime() - t1) / 1e9
      sweep()
      val t2 = System.nanoTime()
      val deltas = iv.select(col("s").as("t"), lit(1L).as("delta"))
        .union(iv.select(col("e").as("t"), lit(-1L).as("delta")))
      val naive = deltas
        .withColumn("live", sum("delta").over(
          Window.orderBy("t", "delta")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .agg(max("live")).head().getLong(0)
      val globalSec = (System.nanoTime() - t2) / 1e9
      iv.unpersist(); sweep()
      println(f"""{"op":"q108_sweep","n_intervals":$n,"two_phase_sec":$twoPhaseSec%.2f,"global_window_sec":$globalSec%.2f,"max_concurrent":$twoPhase,"agree":${twoPhase == naive}}""")
    }
  }

  /** Events-analytics growth (r11): the q101/q102/q112 family's scale
    * claims measured — funnel (k filtered scans + min aggs, ∝ n),
    * retention (two aggs over distinct user-days, ∝ user-days), and
    * rolling distinct (×7 fan-out + count-distinct, ∝ 7·user-days).
    * Synthetic stream: n events over n/200 users across 60 days,
    * type ∈ {view, click, purchase} by id hash — every stage has real
    * work at every size (users convert, cohorts span days). */
  private def runAnalytics(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val steps = Seq(("view", 0L), ("click", 3600L * 1000000),
      ("purchase", 86400L * 1000000))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val users = math.max(100L, n / 200)
      val ev = spark.range(n).select(
        timestamp_micros(pmod(col("id") * 2654435761L, lit(60L * 86400))
          * 1000000L + pmod(col("id"), lit(997)) * 1000L).as("ts"),
        pmod(col("id") * 40503L, lit(users)).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (pmod(col("id") * 69069L, lit(3)) + 1).cast("int")).as("event_type"),
        lit(1.0).as("value"), col("id").as("event_id"))
        .persist()
      ev.count()
      if (i == 0) {
        graft.operators.Relational.funnelUsers(ev, steps).count()
        graft.operators.Relational.retention(ev, Seq(1, 7, 14)).count()
        graft.operators.Relational.rollingDistinct(ev, 7).count()
        graft.operators.Relational.transitions(ev).count()
        graft.operators.Relational.lastTouch(ev, 7L * 86400000000L).count()
        graft.operators.Relational
          .sessionPaths(ev, 12L * 3600 * 1000000, 8, 20).count()
        sweep(); ev.count()
      }
      val t1 = System.nanoTime()
      val funnelRows = graft.operators.Relational.funnelUsers(ev, steps).count()
      val funnelSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val retRows = graft.operators.Relational.retention(ev, Seq(1, 7, 14)).count()
      val retSec = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val rdRows = graft.operators.Relational.rollingDistinct(ev, 7).count()
      val rdSec = (System.nanoTime() - t3) / 1e9
      val t4 = System.nanoTime()
      val trRows = graft.operators.Relational.transitions(ev).count()
      val trSec = (System.nanoTime() - t4) / 1e9
      val t5 = System.nanoTime()
      val atRows = graft.operators.Relational
        .lastTouch(ev, 7L * 86400000000L).count()
      val atSec = (System.nanoTime() - t5) / 1e9
      val t6 = System.nanoTime()
      val spRows = graft.operators.Relational
        .sessionPaths(ev, 12L * 3600 * 1000000, 8, 20).count()
      val spSec = (System.nanoTime() - t6) / 1e9
      ev.unpersist(); sweep()
      println(f"""{"op":"analytics","n_events":$n,"n_users":$users,"funnel_sec":$funnelSec%.2f,"retention_sec":$retSec%.2f,"rolling_distinct_sec":$rdSec%.2f,"transitions_sec":$trSec%.2f,"attribution_sec":$atSec%.2f,"paths_sec":$spSec%.2f,"funnel_users":$funnelRows,"cohorts":$retRows,"window_days":$rdRows,"transition_cells":$trRows,"channels":$atRows,"top_paths":$spRows}""")
    }
  }

  /** recsys mode: itemNeighbors with a PLANTED WHALE basket —
    * n normal basket-item rows (4 items/customer) plus ONE customer
    * owning `whale` distinct items. Uncapped, the whale alone
    * contributes whale² co-pairs (quadratic straggler task); with
    * maxBasket the whale is cut to a deterministic subset and the
    * curve should track n, not whale². The printed pair counts make
    * the bounded-vs-quadratic gap auditable. */
  private def runRecsys(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val whale = 20000L
    sizes.zipWithIndex.foreach { case (n, i) =>
      val items = math.max(1000L, n / 100)
      // cust = id mod n/4 (4 rows each); item = hash(cust)+position so
      // customers hashing to the same anchor share their whole basket —
      // pair support ≈ (n/4)/items ≈ 25, real survivors at minSupport=2
      val normal = spark.range(n).select(
        (pmod(col("id"), lit(n / 4)) + lit(10L)).as("cust"),
        pmod(pmod(col("id"), lit(n / 4)) * 2654435761L +
          floor(col("id") / lit(n / 4)), lit(items)).as("item"))
      val ev = normal.unionAll(
        spark.range(whale).select(lit(1L).as("cust"), col("id").as("item")))
        .persist()
      ev.count()
      if (i == 0) {
        graft.operators.Relational
          .itemNeighbors(ev, 10, minSupport = 2, maxBasket = 100).count()
        sweep(); ev.count()
      }
      val t1 = System.nanoTime()
      val cappedRows = graft.operators.Relational
        .itemNeighbors(ev, 10, minSupport = 2, maxBasket = 100).count()
      val cappedSec = (System.nanoTime() - t1) / 1e9
      // uncapped only at the smallest size — the whale makes it
      // whale²-dominated by construction; one point shows the gap
      val (uncappedSec, uncappedRows) = if (i == 0) {
        val t2 = System.nanoTime()
        val r = graft.operators.Relational.itemNeighbors(ev, 10).count()
        ((System.nanoTime() - t2) / 1e9, r)
      } else (-1.0, -1L)
      // r13: associationRules shares the pair-gen; its capped curve
      // must track itemNeighbors' (the uncapped contrast above covers
      // both — same self-join, minSupport filters post-agg)
      val t3 = System.nanoTime()
      val rulesRows = graft.operators.Relational
        .associationRules(ev, minSupport = 2, maxBasket = 100).count()
      val rulesSec = (System.nanoTime() - t3) / 1e9
      ev.unpersist(); sweep()
      println(f"""{"op":"recsys","n_rows":$n,"whale_items":$whale,"capped_sec":$cappedSec%.2f,"uncapped_sec":$uncappedSec%.2f,"capped_out":$cappedRows,"uncapped_out":$uncappedRows,"assoc_capped_sec":$rulesSec%.2f,"assoc_out":$rulesRows}""")
    }
  }

  /** graph mode: co-occurrence graph construction + triangle counting
    * and item-item neighbor growth over synthetic basket frames —
    * n basket-item rows, 4 items per basket, item vocabulary n/100
    * (Heaps-ish: a fixed vocabulary at 20 M rows would make every item
    * a stopword-class hub and the curve would measure the hairball,
    * not the operator). The signal is the growth RATIO: edge building
    * and the neighbor self-join are basket-quadratic (bounded — 4²
    * per basket), the wedge join is degree-quadratic (bounded by the
    * support threshold), so both should track n near-linearly. */
  private def runGraph(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val vocab = math.max(1000L, n / 100)
      val baskets = spark.range(n).select(
        (col("id") / 4).cast("long").as("cust"),
        pmod(col("id") * 2654435761L, lit(vocab)).as("item"))
        .persist()
      baskets.count()
      val asLineitem = baskets.select(col("cust").as("l_orderkey"),
        col("item").as("l_partkey"))
      if (i == 0) {
        graft.operators.Graph.triangleCounts(
          graft.operators.Graph.coOrderEdges(asLineitem, 2)).count()
        graft.operators.Relational.itemNeighbors(baskets, 5).count()
        sweep(); baskets.count()
      }
      val t1 = System.nanoTime()
      val edges = graft.operators.Graph.coOrderEdges(asLineitem, 2)
      val triRows = graft.operators.Graph.triangleCounts(edges).count()
      val triSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val nbrRows = graft.operators.Relational.itemNeighbors(baskets, 5).count()
      val nbrSec = (System.nanoTime() - t2) / 1e9
      baskets.unpersist(); sweep()
      println(f"""{"op":"graph","n_rows":$n,"vocab":$vocab,"triangles_sec":$triSec%.2f,"neighbors_sec":$nbrSec%.2f,"tri_nodes":$triRows,"neighbor_rows":$nbrRows}""")
    }
  }

  /** Tokenizer-induction growth (r11): BPE train (fixed 40 merges) and
    * apply over the synthetic corpus at 1×/10×/50×. The claim under
    * test: train cost is ONE corpus-sized word-count agg plus rounds
    * over the Heaps-law-bounded word-frequency table, so growth tracks
    * the initial agg (≈ corpus tokens), NOT nMerges × corpus; apply is
    * a narrow map whose cost tracks corpus tokens. Vocab size is
    * printed so the bounded-vocab claim is observable. */
  private def runTokenizer(spark: SparkSession, sizes: Seq[Long], dir: String): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val path = s"$dir/docs_inc_$n.parquet"
      if (!new java.io.File(path).exists)
        corpus(spark, n).write.mode("overwrite").parquet(path)
      val docs = spark.read.parquet(path)
      val vocabSize = docs
        .select(explode(split(col("text"), "\\s+")).as("w"))
        .filter(length(col("w")) > 0).distinct().count()
      if (i == 0) { // warmup at the smallest size (Bench doctrine)
        val m = graft.ext.Bpe.train(docs, nMerges = 10)
        graft.ext.Bpe.tokenCounts(docs, m).count()
        sweep()
      }
      val t1 = System.nanoTime()
      val merges = graft.ext.Bpe.train(docs, nMerges = 40)
      merges.count()
      val trainSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val rows = graft.ext.Bpe.tokenCounts(docs, merges).count()
      val applySec = (System.nanoTime() - t2) / 1e9
      sweep()
      println(f"""{"op":"tokenizer","n_docs":$n,"vocab":$vocabSize,"train_sec":$trainSec%.2f,"apply_sec":$applySec%.2f,"doc_rows":$rows}""")
    }
  }

  /** Sketch-tier growth (r11): HLL daily-build + 7-day rolling merge
    * and Bloom build + screen at 1×/5×/20× event volumes. The claims:
    * HLL build tracks the event scan (map-side combine, 4 KB buffers);
    * the rolling merge cost tracks DAYS × k sketch rows — flat in
    * events; Bloom build tracks the key scan and screen is a narrow
    * broadcast filter. */
  private def runSketch(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val users = math.max(1000L, n / 200)
      val ev = spark.range(n).select(
        timestamp_seconds(lit(1700000000L) + (col("id") % 5184000L)).as("ts"),
        pmod(col("id") * 2654435761L, lit(users)).as("user_id"))
        .persist()
      ev.count()
      if (i == 0) {
        graft.ext.Sketches.rollingDistinctHll(ev, "user_id", 7).count()
        graft.ext.Sketches.bloomScreen(
          ev.select(col("user_id").as("k")).limit(100000),
          ev.select(col("user_id").as("k")).limit(100000), "k").count()
        sweep(); ev.count()
      }
      val t1 = System.nanoTime()
      val hllRows = graft.ext.Sketches.rollingDistinctHll(ev, "user_id", 7).count()
      val hllSec = (System.nanoTime() - t1) / 1e9
      val history = ev.select((col("user_id") * 2L).as("k"))
      val inc = ev.select(col("user_id").as("k")).limit(1000000)
      val t2 = System.nanoTime()
      val flagged = graft.ext.Sketches.bloomScreen(history, inc, "k")
        .filter(col("maybe_seen")).count()
      val bloomSec = (System.nanoTime() - t2) / 1e9
      ev.unpersist(); sweep()
      println(f"""{"op":"sketch","n_events":$n,"users":$users,"hll_rolling_sec":$hllSec%.2f,"hll_windows":$hllRows,"bloom_sec":$bloomSec%.2f,"bloom_flagged":$flagged}""")
    }
  }

  /** Warehouse-maintenance growth (r11): SCD2 apply + snapshot diff +
    * incremental aggregate maintenance over an n-row dimension with a
    * FIXED-SIZE (50k-row) update batch. The claims: scd2Apply and
    * snapshotDiff pay one pass over the dimension (linear — the
    * unavoidable read); incrementalAgg's maintenance pays the DELTA
    * (flat in n — the entire reason to capture CDC). */
  private def runWarehouse(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import graft.operators.Warehouse
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val batchN = 50000L
    sizes.zipWithIndex.foreach { case (n, i) =>
      val dim = spark.range(n).select(col("id").as("k"),
        concat(lit("seg"), pmod(col("id"), lit(7L))).as("seg"),
        (pmod(col("id") * 2654435761L, lit(100000L)) / 100.0).as("bal"),
        lit("2026-01-01").cast("date").as("valid_from")).persist()
      dim.count()
      val upd = spark.range(batchN).select((col("id") * (n / batchN)).as("k"),
        concat(lit("seg"), pmod(col("id"), lit(7L))).as("seg"),
        (pmod(col("id") * 1099511627791L, lit(100000L)) / 100.0 + 1.0).as("bal"),
        lit("2026-06-01").cast("date").as("eff")).persist()
      upd.count()
      val oldSnap = dim.select(col("k"), col("seg"), col("bal"))
      val newSnap = oldSnap.join(
          upd.select(col("k"), col("bal").as("nb")), Seq("k"), "left")
        .select(col("k"), col("seg"), coalesce(col("nb"), col("bal")).as("bal"))
      if (i == 0) {
        Warehouse.scd2Apply(dim, upd, Seq("k"), Seq("seg", "bal")).write
          .format("noop").mode("overwrite").save()
        sweep(); dim.count(); upd.count()
      }
      val t1 = System.nanoTime()
      Warehouse.scd2Apply(dim, upd, Seq("k"), Seq("seg", "bal")).write
        .format("noop").mode("overwrite").save()
      val scdSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val diff = Warehouse.snapshotDiff(oldSnap, newSnap, Seq("k"),
        Seq("seg", "bal")).persist()
      val nDiff = diff.count()
      val diffSec = (System.nanoTime() - t2) / 1e9
      val baseAgg = oldSnap.groupBy("seg").agg(count(lit(1)).as("n"),
        sum(col("bal").cast("decimal(18,2)")).as("s")).persist()
      baseAgg.count()
      val t3 = System.nanoTime()
      val maintained = Warehouse.incrementalAgg(baseAgg, diff,
        Seq(col("old_seg")), Seq(col("new_seg")),
        col("old_bal").cast("decimal(18,2)"), col("new_bal").cast("decimal(18,2)"),
        Seq("seg"))
      val rows = maintained.count()
      val maintSec = (System.nanoTime() - t3) / 1e9
      diff.unpersist(); baseAgg.unpersist(); dim.unpersist(); upd.unpersist(); sweep()
      println(f"""{"op":"warehouse","n_dim":$n,"n_batch":$batchN,"scd2_sec":$scdSec%.2f,"diff_sec":$diffSec%.2f,"diff_rows":$nDiff,"maintain_sec":$maintSec%.2f,"agg_rows":$rows}""")
    }
  }

  /** Stats/drift growth (r11): PSI drift, normal-equation OLS, and
    * entropy at 1×/5×/20× event volumes. The claims: all three are
    * single-pass grouped aggregations (PSI adds one broadcast of the
    * reference deciles) — growth tracks the scan, no sort or window
    * anywhere. */
  private def runDrift(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import graft.operators.Relational
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val ev = spark.range(n).select(
        timestamp_seconds(lit(1700000000L) + (col("id") % 5184000L)).as("ts"),
        concat(lit("t"), pmod(col("id"), lit(5L))).as("event_type"),
        (pmod(col("id") * 2654435761L, lit(100000L)) / 100.0 +
          when(col("id") % 2 === 0, 0.0).otherwise(100.0)).as("value"))
        .persist()
      ev.count()
      val isRef = col("ts") < timestamp_seconds(lit(1700000000L + 2592000L))
      if (i == 0) {
        Relational.psiDrift(ev, "event_type", "value", isRef, 10).count()
        Relational.entropy(ev, "event_type", "event_type").count()
        sweep(); ev.count()
      }
      val t1 = System.nanoTime()
      Relational.psiDrift(ev, "event_type", "value", isRef, 10).count()
      val psiSec = (System.nanoTime() - t1) / 1e9
      val t1b = System.nanoTime()
      Relational.psiDriftApprox(ev, "event_type", "value", isRef, 10).count()
      val psiApproxSec = (System.nanoTime() - t1b) / 1e9
      val t1c = System.nanoTime()
      graft.streaming.StreamOps.psiReference(
        ev.filter(isRef), "event_type", "value")
      val psiRefSec = (System.nanoTime() - t1c) / 1e9
      val t2 = System.nanoTime()
      Relational.olsNormal2(
        ev.select(col("event_type"), hour(col("ts")).as("x1"),
          dayofmonth(col("ts")).as("x2"), col("value")),
        "event_type", "x1", "x2", "value").count()
      val olsSec = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      Relational.entropy(
        ev.select(col("event_type"), (col("value") > 100.0).as("cat")),
        "event_type", "cat").count()
      val entSec = (System.nanoTime() - t3) / 1e9
      ev.unpersist(); sweep()
      println(f"""{"op":"drift","n_events":$n,"psi_sec":$psiSec%.2f,"psi_approx_sec":$psiApproxSec%.2f,"psi_ref_sec":$psiRefSec%.2f,"ols_sec":$olsSec%.2f,"entropy_sec":$entSec%.2f}""")
    }
  }

  /** bi mode (r13): growth curves for the BI/audit tier added this
    * round, each over a synthetic orders-shaped frame (10 orders per
    * customer, 5 segments, amounts hashed uniform, dates spread over
    * ~2 years). What each curve must show:
    *  - deciles: two-phase prefix rank — linear (the global-ntile form
    *    this replaced is the one-task sort);
    *  - dup_pairs: per-customer self-join — bounded 10² fanout per
    *    group, linear overall;
    *  - streaks: per-user windows + rank-limit top-k — linear;
    *  - interpurchase: per-customer LAG — linear;
    *  - audience: distinct + user-keyed self-join (≤cats² per user) —
    *    linear;
    *  - winsorized: percentile_disc element bounds over 3 groups —
    *    the buffering cost of exact order statistics, watched here
    *    (the approx path is q52's sketch). */
  private def runBi(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import graft.operators.Relational
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    def timed(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    sizes.zipWithIndex.foreach { case (n, i) =>
      val nCust = math.max(100L, n / 10)
      val orders = spark.range(n).select(
        (pmod(col("id"), lit(nCust)) + 1L).as("o_custkey"),
        (pmod(col("id") * 2654435761L, lit(50000000L)).cast("double") / 100.0)
          .as("o_totalprice"),
        to_timestamp(date_add(lit("2023-01-01").cast("date"),
          pmod(col("id") * 40503L, lit(700L)).cast("int"))).as("o_orderdate"),
        col("id").as("o_orderkey")).persist()
      val events = spark.range(n).select(
        (pmod(col("id") * 2654435761L, lit(nCust))).as("user_id"),
        timestamp_seconds(lit(1700000000L) +
          pmod(col("id") * 7919L, lit(5184000L))).as("ts"),
        concat(lit("t"), pmod(col("id"), lit(5L))).as("event_type"))
        .persist()
      orders.count(); events.count()
      def revFrame = orders.groupBy(col("o_custkey").as("c_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val custDim = orders.select(col("o_custkey").as("c_custkey"))
        .distinct()
        .withColumn("c_mktsegment", concat(lit("S"), pmod(col("c_custkey"), lit(5L))))
        .persist()
      custDim.count()
      if (i == 0) { // warmup, discarded
        timed(Relational.spendDeciles(revFrame))
        timed(Relational.topStreaks(events, 20))
        sweep(); orders.count(); events.count(); custDim.count()
      }
      val deciles = timed(Relational.spendDeciles(revFrame))
      val dup = timed(Relational.duplicatePayments(orders, 30, 100.0))
      val streaks = timed(Relational.topStreaks(events, 20))
      val inter = timed(Relational.interPurchase(orders, custDim))
      val aud = timed(Relational.audienceOverlap(events, "user_id", "event_type"))
      val flagged = orders.withColumn("flag",
        concat(lit("F"), pmod(col("o_orderkey"), lit(3L))))
      val wins = timed(Relational.winsorizedStats(flagged, "flag", "o_totalprice"))
      // the sketch tier on the SAME mostly-distinct value column — the
      // r13 verdict #6 done-condition is this row reading ≤⅓ of the
      // exact path while q240 keeps the exact default under the gate
      val winsA = timed(Relational.winsorizedStats(flagged, "flag",
        "o_totalprice", approxBounds = true))
      // r13 verdict #7 — the remaining un-curved r13 BI operators
      val newret = timed(Relational.newVsReturning(orders))
      val mix = timed(Relational.mixShift(
        orders.withColumn("prio", concat(lit("P"), pmod(col("o_orderkey"), lit(5L)))),
        "prio", date_trunc("month", col("o_orderdate")).cast("date")))
      val li = orders.select(col("o_orderdate").as("l_shipdate"),
        (pmod(col("o_orderkey"), lit(50L)) + 1L).as("l_quantity"),
        col("o_totalprice").as("l_extendedprice"),
        concat(lit("R"), pmod(col("o_orderkey"), lit(3L))).as("l_returnflag"))
      val pv = timed(Relational.priceVolumeBridge(li, "l_returnflag"))
      orders.unpersist(); events.unpersist(); custDim.unpersist(); sweep()
      println(f"""{"op":"bi","n_rows":$n,"deciles_sec":$deciles%.2f,"dup_pairs_sec":$dup%.2f,"streaks_sec":$streaks%.2f,"interpurchase_sec":$inter%.2f,"audience_sec":$aud%.2f,"winsorized_sec":$wins%.2f,"winsorized_approx_sec":$winsA%.2f,"newret_sec":$newret%.2f,"mixshift_sec":$mix%.2f,"pvbridge_sec":$pv%.2f}""")
    }
  }

  /** Growth curves for the r12-continuation statistics tier: the rank
    * tests (two sorts / one sort), the distinct-value-bounded KS, the
    * single-agg Welch, the LAG-window burstiness, the top-k coverage
    * cut, and the CMS build (expected flat state, linear scan). Same
    * events-shaped frame as runDrift. */
  /** mixture mode (r19, verdict #1): growth curves for the r18
    * mixture tier — exact per-source quantiles, Hamilton quotas, and
    * the RECURSIVE order-statistic selection — over zipfian source
    * sizes (12 sources, share_k ∝ 1/k: the head source holds ~32% of
    * the corpus) under TWO id shapes:
    *   uniform   — doc_id = row id, every source's ids spread evenly
    *               across the whole range (the fixture shape; the
    *               selector resolves in one split round);
    *   clustered — 99.9% of ids sit in a dense block 2^40 above a
    *               thin outlier tail (epoch-prefixed / block-allocated
    *               production ids): round 1's value-range buckets land
    *               the whole block in one slot, forcing the recursive
    *               narrowing the r18 two-level selector lacked.
    * taskCap = 65536 so the final rank window stays bounded at every
    * size (the default 4M cap would let fixture-scale clusters resolve
    * without recursing — the curve must exercise the recursion).
    * The claim under test: clustered ≈ uniform × small constant, both
    * flat-to-linear in n — never the one-task-per-source sort. */
  private def runMixture(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import graft.ext.Mixture
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val nSrc = 12
    val h = (1 to nSrc).map(1.0 / _).sum
    val cuts = (1 to nSrc).scanLeft(0.0)((acc, k) => acc + (1.0 / k) / h).tail
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    sizes.zipWithIndex.foreach { case (n, i) =>
      val u = pmod(expr("xxhash64(id)"), lit(1048576L)) / 1048576.0
      val srcIdx = (0 until nSrc).reverse.foldLeft(
        lit(nSrc - 1): org.apache.spark.sql.Column) { (acc, k) =>
        when(u < cuts(k), lit(k)).otherwise(acc)
      }
      val base = spark.range(n)
        .select(col("id"), concat(lit("src"), srcIdx).as("source"),
          pmod(expr("xxhash64(id, 5L)"), lit(1900L)).as("len"))
      val uniformDocs = base.select(col("source"),
        col("id").as("doc_id"), col("len")).persist()
      val clusteredDocs = base.select(col("source"),
        when(col("id") % 1000L === 0L, col("id"))
          .otherwise(col("id") + (1L << 40)).as("doc_id"), col("len"))
        .persist()
      uniformDocs.count(); clusteredDocs.count()
      def planSec(docs: DataFrame): Double = timed {
        val srcs = docs.groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"))
          .withColumn("weight",
            expr("substring(source, 4)").cast("long") + 1L)
          .localCheckpoint(true)
        val total = srcs.agg(sum("n_docs")).head().getLong(0)
        val quotas = Mixture.allocateQuotas(srcs, "weight", total / 2L)
        Mixture.selectionThresholds(docs,
          quotas.select(col("source"),
            least(col("quota"), col("n_docs")).as("quota")),
          taskCap = 65536L)
          .write.format("noop").mode("overwrite").save()
      }
      if (i == 0) { // warmup pass, discarded
        planSec(uniformDocs); sweep()
        uniformDocs.count(); clusteredDocs.count()
      }
      val qSec = timed {
        Mixture.groupQuantiles(uniformDocs, "source", col("len"),
          Seq(("p50", 1, 2), ("p90", 9, 10)))
          .write.format("noop").mode("overwrite").save()
      }
      sweep(); uniformDocs.count(); clusteredDocs.count()
      val uniSec = planSec(uniformDocs)
      sweep(); uniformDocs.count(); clusteredDocs.count()
      val cluSec = planSec(clusteredDocs)
      sweep(); uniformDocs.count()
      // the q284 application shape: thresholds broadcast onto the
      // corpus scan, map-side filter, sources-sized agg
      val srcs = uniformDocs.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .withColumn("weight",
          expr("substring(source, 4)").cast("long") + 1L)
        .localCheckpoint(true)
      val total = srcs.agg(sum("n_docs")).head().getLong(0)
      val thr = Mixture.selectionThresholds(uniformDocs,
        Mixture.allocateQuotas(srcs, "weight", total / 2L)
          .select(col("source"),
            least(col("quota"), col("n_docs")).as("quota")),
        taskCap = 65536L).localCheckpoint(true)
      val applySec = timed {
        uniformDocs.join(broadcast(thr), Seq("source"))
          .filter(col("doc_id") <= col("sel_threshold"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_rows"), sum("len").as("mass"))
          .write.format("noop").mode("overwrite").save()
      }
      uniformDocs.unpersist(); clusteredDocs.unpersist(); sweep()
      println(f"""{"op":"mixture","n_docs":$n,"quantiles_sec":$qSec%.2f,"plan_uniform_sec":$uniSec%.2f,"plan_clustered_sec":$cluSec%.2f,"apply_sec":$applySec%.2f}""")
    }
  }

  private def runStats(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import graft.operators.Relational
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val ev = spark.range(n).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1700000000L) + (col("id") % 5184000L)).as("ts"),
        pmod(col("id") * 2654435761L, lit(1000000L)).as("user_id"),
        concat(lit("t"), pmod(col("id"), lit(5L))).as("event_type"),
        (pmod(col("id") * 2654435761L, lit(100000L)) / 100.0).as("value"))
        .persist()
      ev.count()
      // parity split, not a ts cutoff: at 1M rows the synthetic ts range
      // sits entirely inside a 30-day window, making n_cur = 0 (ANSI
      // divide-by-zero in the U/KS effect terms)
      val isRef = col("event_id") % 2L === 0L
      // noop WRITE, not count(): count(1) over these aggregates lets
      // ColumnPruning drop the moment columns and with them the rank
      // windows — a 20M spearman "ran" in 0.24 s before this fix
      def timed(df: => DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      if (i == 0) { // warmup pass, discarded
        timed(Relational.spearman(ev, "event_type", "value", "user_id"))
        timed(Relational.ksDrift(ev, "event_type", "value", isRef))
        timed(Relational.burstiness(ev, "event_type"))
        sweep(); ev.count()
      }
      val spear = timed(Relational.spearman(ev, "event_type", "value", "user_id"))
      val mw = timed(Relational.mannWhitney(ev, "event_type", "value", isRef))
      val ks = timed(Relational.ksDrift(ev, "event_type", "value", isRef))
      val welch = timed(Relational.welchT(ev, "event_type", "value", isRef))
      val burst = timed(Relational.burstiness(ev, "event_type"))
      val cover = timed(Relational.topKCoverage(
        ev, "user_id", Seq(1, 10, 100, 1000)))
      val cms = timed(graft.ext.Sketches.cmsKeyCounts(ev, "user_id",
        ev.select("user_id").limit(100)))
      // weighted median with a 5-value group column over a mostly-
      // distinct value column — the exact low-cardinality-group shape
      // the r12 curves caught in spearman/mann-whitney; the r13
      // two-phase cumulative must keep this flat-to-linear
      val wmed = timed(Relational.weightedMedian(
        ev.select(col("event_type"), col("value"),
          (pmod(col("event_id"), lit(7L)) + 1L).as("w")),
        "event_type", "value", "w"))
      // r13 port evidence: MAD's two chained median builds now ride
      // discPercentiles — must stay flat-to-linear like weighted_median
      val mad = timed(Relational.madOutliers(
        ev.select("event_id", "event_type", "value"),
        "event_type", "value", 3.0d))
      ev.unpersist(); sweep()
      println(f"""{"op":"stats","n_events":$n,"spearman_sec":$spear%.2f,"mannwhitney_sec":$mw%.2f,"ks_sec":$ks%.2f,"welch_sec":$welch%.2f,"burstiness_sec":$burst%.2f,"coverage_sec":$cover%.2f,"cms_sec":$cms%.2f,"weighted_median_sec":$wmed%.2f,"mad_sec":$mad%.2f}""")
    }
  }

  /** Growth curves for the r12 product/lifecycle-analytics tier over
    * the synthetic events frame (the runStats generator): KM survival
    * (span agg + lifetime-bounded frames — the data-sized work is one
    * grouped agg), growth accounting (distinct user-week + shifted
    * self-join), stickiness (two distinct aggs), TWAP (key-partitioned
    * lag + exact decimal agg), burst screen (two grouped aggs + top-k).
    * All expected LINEAR in events; the bounded-frame tails (survival
    * curve, weekly matrix) must stay flat. */
  private def runProduct(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import graft.operators.Relational
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val ev = spark.range(n).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1700000000L) + (col("id") % 5184000L)).as("ts"),
        pmod(col("id") * 2654435761L, lit(1000000L)).as("user_id"),
        concat(lit("t"), pmod(col("id"), lit(5L))).as("event_type"),
        (pmod(col("id") * 2654435761L, lit(100000L)) / 100.0).as("value"))
        .persist()
      ev.count()
      def timed(df: => DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      if (i == 0) { // warmup pass, discarded
        timed(Relational.kmSurvival(ev, "user_id", "ts"))
        timed(Relational.growthAccounting(ev, "user_id", "ts"))
        sweep(); ev.count()
      }
      val km = timed(Relational.kmSurvival(ev, "user_id", "ts"))
      val ga = timed(Relational.growthAccounting(ev, "user_id", "ts"))
      val st = timed(Relational.stickiness(ev, "user_id", "ts"))
      val tw = timed(Relational.twap(ev, "user_id", "ts", "value", "event_id"))
      val ra = timed(Relational.rateAnomaly(ev, "user_id", "ts"))
      ev.unpersist(); sweep()
      println(f"""{"op":"product","n_events":$n,"survival_sec":$km%.2f,"growth_sec":$ga%.2f,"stickiness_sec":$st%.2f,"twap_sec":$tw%.2f,"burst_sec":$ra%.2f}""")
    }
  }

  /** Growth curves for the corpus-quality tier over the synthetic
    * word-soup corpus: repetition audit (3 n-gram agg passes),
    * lexical diversity (one), Zipf fit (vocabulary agg + bounded
    * top-k). Expected linear in token volume. */
  private def runCorpusQ(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val docs = corpus(spark, n).persist()
      docs.count()
      def timed(df: => DataFrame): Double = { // noop write (see runStats)
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      if (i == 0) {
        timed(TextOps.repetitionAudit(docs))
        timed(TextOps.zipfFit(docs, 1000))
        sweep(); docs.count()
      }
      val rep = timed(TextOps.repetitionAudit(docs))
      val lex = timed(TextOps.lexicalDiversity(docs))
      val zipf = timed(TextOps.zipfFit(docs, 1000))
      // r13: exact set-similarity join (r14: full PPJoin) — the planted
      // every-20th variants guarantee real qualifying pairs; the curve
      // must track the candidate volume, never all-pairs
      val t0 = System.nanoTime()
      val ssPairs = TextOps.setSimilarityJoin(docs, 1, 2).count()
      val ss = (System.nanoTime() - t0) / 1e9
      sweep()
      // r14: asymmetric containment join (same planted pairs qualify
      // mutually at 2/3 — plus any one-sided coverage the soup throws)
      val t1 = System.nanoTime()
      val cnPairs = TextOps.containmentJoin(docs, 2, 3).count()
      val cn = (System.nanoTime() - t1) / 1e9
      sweep()
      // r14: ExactSubstr dedup — the planted shared prefixes are
      // exactly the ≥12-token cross-document span case
      val es = timed(TextOps.exactSubstrDedup(docs))
      sweep(); docs.count()
      // r16: bigram backoff LM — cost must track corpus tokens (three
      // vocab-keyed joins + one doc-keyed agg), never vocab²
      val lm = timed(TextOps.bigramLmScore(docs))
      docs.unpersist(); sweep()
      println(f"""{"op":"corpusq","n_docs":$n,"repetition_sec":$rep%.2f,"lexdiv_sec":$lex%.2f,"zipf_sec":$zipf%.2f,"setsim_sec":$ss%.2f,"setsim_pairs":$ssPairs,"containment_sec":$cn%.2f,"containment_pairs":$cnPairs,"exactsubstr_sec":$es%.2f,"bigram_lm_sec":$lm%.2f}""")
    }
  }

  /** Growth curve for the spatial tier: radius self-join at CONSTANT
    * density (area scales with n — ~10⁴ centi-units² per point, so
    * expected pairs ≈ 1.57·n with r = 100 and per-cell occupancy is
    * flat). The grid plan must be linear in n; the all-pairs contrast
    * at 20 M points is 2·10¹⁴ comparisons. */
  private def runSpatial(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val side = math.max(1000L, math.round(math.sqrt(n.toDouble)) * 100)
      val pts = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id")), lit(side)).as("xi"),
        pmod(xxhash64(col("id"), lit(1)), lit(side)).as("yi")).persist()
      pts.count()
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val pairs = graft.operators.Spatial.gridNeighborJoin(pts, 100L).count()
        ((System.nanoTime() - t0) / 1e9, pairs)
      }
      if (i == 0) { run(); sweep(); pts.count() } // warmup, discarded
      val (sec, pairs) = run()
      pts.unpersist(); sweep()
      println(f"""{"op":"spatial","n_points":$n,"radius_join_sec":$sec%.2f,"pairs":$pairs}""")
    }
  }

  /** Growth curve for the SPHERICAL tier (q249/q250): haversine radius
    * self-join at CONSTANT expected-pair density — the sphere's area is
    * fixed, so the radius shrinks as 1/√n to keep pairs/point flat at
    * ≈1.5 (13 km at 1 M points — the planar curve's density; a first
    * cut at 150 km produced ~96 pairs/point, 2.7·10⁹ candidates at
    * 1 M, measuring pair volume instead of the grid); the banded-grid
    * plan must then be linear in n. Point-in-polygon runs at each size over the demo
    * zones (a pure broadcast scan — linear by construction, the curve
    * guards a regression into a shuffle). */
  private def runGeo(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val r = 13000.0 * math.sqrt(1000000.0 / n)
      val pts = spark.range(n).select(col("id"),
        (pmod(xxhash64(col("id")), lit(120000001L)) - 60000000L).as("la"),
        (pmod(xxhash64(col("id"), lit(1)), lit(360000000L)) - 180000000L).as("lo"))
        .persist()
      pts.count()
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val pairs = graft.operators.Geo.sphericalRadiusJoin(pts, r).count()
        ((System.nanoTime() - t0) / 1e9, pairs)
      }
      if (i == 0) { run(); sweep(); pts.count() } // warmup, discarded
      val (sec, pairs) = run()
      pts.unpersist(); sweep()
      // FULL-SPHERE row (r16, the ±90° contract): AREA-uniform points
      // (lat = asin of a uniform sine — libm is fine here, this is an
      // engine-only perf fixture), so the whole domain including the
      // collapsed polar bands is exercised at realistic density.
      // Uniform-IN-LAT at ±90° would be a different (degenerate)
      // benchmark: its polar clump makes the TRUE pair count itself
      // quadratic — an output-volume property, not a plan property.
      val full = spark.range(n).select(col("id"),
        expr("CAST(degrees(asin(pmod(xxhash64(id), 2000001L) / 1000000.0 " +
          "- 1.0)) * 1000000 AS BIGINT)").as("la"),
        (pmod(xxhash64(col("id"), lit(1)), lit(360000000L)) - 180000000L).as("lo"))
        .persist()
      full.count()
      val tF = System.nanoTime()
      val pairsFull = graft.operators.Geo.sphericalRadiusJoin(full, r).count()
      val secFull = (System.nanoTime() - tF) / 1e9
      full.unpersist(); sweep()
      val pip = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id")), lit(100000L)).as("xi"),
        pmod(xxhash64(col("id"), lit(1)), lit(100000L)).as("yi")).persist()
      pip.count()
      val t1 = System.nanoTime()
      val members = graft.operators.Spatial
        .pointInPolygon(pip, graft.operators.Spatial.demoZones).count()
      val pipSec = (System.nanoTime() - t1) / 1e9
      pip.unpersist(); sweep()
      println(f"""{"op":"geo","n_points":$n,"radius_m":${r.round},"haversine_join_sec":$sec%.2f,"pairs":$pairs,"fullsphere_join_sec":$secFull%.2f,"fullsphere_pairs":$pairsFull,"pip_sec":$pipSec%.2f,"members":$members}""")
    }
  }

  /** Growth curves for the trajectory tier (r16): the speed-anomaly
    * screen (q262 — per-user LAG window + polynomial layers; cost must
    * be linear in fixes, the shuffle is one user-keyed exchange) and
    * hotspot clustering (q264 — one corpus hash-agg + dense-cell CC;
    * the corpus term must dominate and stay linear while the CC term
    * stays bounded by the dense-cell frame). Fixes are 64-per-user
    * synthetic trajectories: md5-class hash homes, per-fix drift, and
    * a 1-in-16 planted teleport so the anomaly population is real. */
  private def runTraj(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    sizes.zipWithIndex.foreach { case (n, i) =>
      val uid = (col("id") / lit(64L)).cast("long")
      val fixes = spark.range(n).select(
        col("id").as("event_id"),
        uid.as("user_id"),
        (pmod(col("id"), lit(64L)) * 600L +
          pmod(xxhash64(col("id")), lit(300L))).as("tsu"),
        ((pmod(xxhash64(uid), lit(160000001L)) - 80000000L) +
          (pmod(xxhash64(col("id"), lit(2)), lit(100001L)) - 50000L) +
          when(pmod(xxhash64(col("id"), lit(3)), lit(16L)) === 0L,
            pmod(xxhash64(col("id"), lit(4)), lit(8000001L)) - 4000000L)
            .otherwise(lit(0L))).as("la"),
        (pmod((pmod(xxhash64(uid, lit(1)), lit(360000000L))
          - 180000000L) +
          (pmod(xxhash64(col("id"), lit(5)), lit(100001L)) - 50000L)
          + 540000000L, lit(360000000L)) - 180000000L).as("lo"))
        .persist()
      fixes.count()
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val a = graft.operators.Geo.speedAnomalies(fixes, 40.0).count()
        ((System.nanoTime() - t0) / 1e9, a)
      }
      if (i == 0) { // warmup both kernels, discarded
        run()
        graft.operators.Geo.geoHotspots(
          fixes.select(col("event_id").as("id"), col("la"), col("lo"))).count()
        sweep(); fixes.count()
      }
      val (sec, anom) = run()
      fixes.unpersist(); sweep()
      // hotspot fixture: 90% uniform ambient + 10% concentrated on 50
      // hash-derived hot centers (±2° jitter ≈ one 5° cell; per-hot-cell
      // density ≈ 5.8× ambient) — a pure uniform corpus has NO >2×
      // cells at large n (the Poisson tail closes), which would make
      // the curve's CC term vacuous
      val hot = pmod(xxhash64(col("id"), lit(7)), lit(50L))
      val isHot = pmod(xxhash64(col("id"), lit(6)), lit(10L)) === 0L
      val pts = spark.range(n).select(col("id"),
        when(isHot, pmod(xxhash64(hot, lit(8)), lit(176000001L)) - 88000000L +
            (pmod(xxhash64(col("id"), lit(9)), lit(4000001L)) - 2000000L))
          .otherwise(pmod(xxhash64(col("id")), lit(180000001L)) - 90000000L)
          .as("la"),
        when(isHot, pmod(pmod(xxhash64(hot, lit(10)), lit(360000000L)) +
            (pmod(xxhash64(col("id"), lit(11)), lit(4000001L)) - 2000000L)
            + 360000000L, lit(360000000L)) - 180000000L)
          .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(360000000L)) - 180000000L)
          .as("lo"))
        .persist()
      pts.count()
      val t1 = System.nanoTime()
      val clusters = graft.operators.Geo.geoHotspots(pts).count()
      val hotSec = (System.nanoTime() - t1) / 1e9
      pts.unpersist(); sweep()
      println(f"""{"op":"traj","n_fixes":$n,"speed_sec":$sec%.2f,"anomalies":$anom,"hotspot_sec":$hotSec%.2f,"clusters":$clusters}""")
    }
  }

  /** Growth curve for the trained quality classifier (q251): 16
    * preconditioned GD steps over word-soup corpora — cost must be
    * linear in corpus tokens (each step is one margin pass + one
    * gradient pass; the weight vector is a broadcast ≤dim-row frame),
    * with the small-corpus floor dominated by the fixed per-step
    * checkpoint latency. */
  private def runClf(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val vocabCol = array(vocab.map(lit).toIndexedSeq: _*)
    sizes.zipWithIndex.foreach { case (n, i) =>
      val docs = spark.range(n).select(col("id").as("doc_id"),
        array_join(transform(
          sequence(lit(0L), pmod(xxhash64(col("id")), lit(80L)) + 20L),
          j => element_at(vocabCol,
            (pmod(xxhash64(col("id"), j), lit(vocab.length.toLong)) + 1L)
              .cast("int"))), " ").as("text")).persist()
      docs.count()
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val pos = graft.ext.Classifier.trainQuality(docs, 64, 16, 0.25)
          .filter(col("pred") === 1).count()
        ((System.nanoTime() - t0) / 1e9, pos)
      }
      if (i == 0) { run(); sweep(); docs.count() } // warmup, discarded
      val (sec, pos) = run()
      // SERVING-fold flatness (r16 S41 linearization): score the same
      // corpus at dim 64 and dim 512 with synthetic weights — the
      // run-length fold's per-row cost must not grow with dim (the
      // pre-r16 size(filter(...)) form was O(distinct-buckets×tokens))
      def scoreSec(dim: Int): Double = {
        val w = (0 until dim).map(b => (b.toLong, (b % 7 - 3) * 0.125))
        val t0 = System.nanoTime()
        graft.streaming.StreamOps.scoreStream(docs, w, dim)
          .filter(col("pass")).count()
        (System.nanoTime() - t0) / 1e9
      }
      val s64 = scoreSec(64)
      val s512 = scoreSec(512)
      docs.unpersist(); sweep()
      println(f"""{"op":"clf","n_docs":$n,"train_sec":$sec%.2f,"n_pos":$pos,"score64_sec":$s64%.2f,"score512_sec":$s512%.2f}""")
    }
  }

  /** SF1 SLICE generator (r17 verdict item 8): a 10× documents/
    * embeddings/events tier derived deterministically from sf0.1 so
    * the heavy block can record an sf0.1→sf1 scaling row on REAL
    * fixture shape (vocabulary, doc-length, source/lang mix, event
    * cadence all preserved) rather than synthetic frames. Copy 0 is
    * sf0.1 verbatim; copies 1–9 re-randomize within the shape:
    *  - documents: each token independently kept or replaced by a
    *    hash-chosen vocabulary word (p=1/2) — sibling Jaccard ~1/3
    *    stays BELOW the 0.5 near-dup threshold, so q28's pair density
    *    scales like the corpus, not quadratically in copies (the
    *    realistic shape; verbatim copies would plant 45 near-dup
    *    pairs per family by construction).
    *  - embeddings: per-coordinate hash jitter ±0.05 (cluster
    *    structure survives, exact-dup vectors don't).
    *  - events: user_id/event_id shifted per copy — 10× users at the
    *    same per-day cadence (how traffic actually grows). */
  private def runSf1Gen(spark: SparkSession, srcDir: String,
      outDir: String): Unit = {
    import spark.implicits._
    val copies = spark.range(10).select(col("id").as("copy"))
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val nDocs = docs.count()
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct().orderBy("w")
      .limit(10000).as[String].collect()
    val vlit = array(vocab.map(lit(_)).toIndexedSeq: _*)
    docs.crossJoin(copies)
      .select((col("doc_id") + col("copy") * nDocs).as("doc_id"),
        array_join(zip_with(split(col("text"), " "),
          sequence(lit(0), size(split(col("text"), " ")) - 1),
          (w, i) => when(col("copy") === 0L ||
              pmod(xxhash64(col("doc_id"), col("copy"), i), lit(2L)) === 0L, w)
            .otherwise(element_at(vlit,
              (pmod(xxhash64(col("doc_id"), col("copy"), i, lit(5L)),
                lit(vocab.length.toLong)) + 1L).cast("int")))), " ").as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val nEmb = emb.count()
    emb.crossJoin(copies)
      .select((col("vec_id") + col("copy") * nEmb).as("vec_id"),
        when(col("copy") === 0L, col("embedding"))
          .otherwise(zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => (x + (pmod(xxhash64(col("vec_id"), col("copy"), i),
              lit(1001L)) - 500L).cast("double") / 10000.0).cast("float")))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    val mx = ev.agg(max("event_id"), max("user_id")).head()
    val (mxE, mxU) = (mx.getLong(0) + 1L, mx.getLong(1) + 1L)
    ev.crossJoin(copies)
      .select((col("event_id") + col("copy") * mxE).as("event_id"),
        col("ts"), (col("user_id") + col("copy") * mxU).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // lineitem/orders (r18, r17 verdict #4): the recsys trio
    // (q121/q130/q224) reads baskets = lineitem ⋈ orders, so the 10×
    // tier derives both. Orders/customers grow 10× (orderkey/custkey
    // shifted per copy — traffic growth); the PART CATALOG is shared
    // across copies (item spaces don't grow with traffic — that is
    // what densifies the co-occurrence graph, the shape that actually
    // stresses q121's pair generation). Copies 1–9 re-randomize each
    // line's partkey with p=1/2 within the catalog so baskets vary
    // instead of duplicating copy 0 verbatim (the documents recipe).
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    val mxO = ord.agg(max("o_orderkey")).head().getLong(0) + 1L
    val mxC = ord.agg(max("o_custkey")).head().getLong(0) + 1L
    val partKeys = li.select(col("l_partkey")).distinct()
      .orderBy("l_partkey").as[Long].collect()
    val pkLit = array(partKeys.map(lit(_)).toIndexedSeq: _*)
    li.crossJoin(copies)
      .select((col("l_orderkey") + col("copy") * mxO).as("l_orderkey"),
        when(col("copy") === 0L ||
            pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
              col("copy")), lit(2L)) === 0L, col("l_partkey"))
          .otherwise(element_at(pkLit,
            (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
              col("copy"), lit(7L)), lit(partKeys.length.toLong)) + 1L)
              .cast("int"))).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    ord.crossJoin(copies)
      .select((col("o_orderkey") + col("copy") * mxO).as("o_orderkey"),
        (col("o_custkey") + col("copy") * mxC).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    println(s"""{"op":"sf1gen","docs":${nDocs * 10},"embeddings":${nEmb * 10},"events":${ev.count() * 10},"lineitem":${li.count() * 10},"orders":${ord.count() * 10}}""")
  }

  /** SF1 heavy block (r17 verdict item 8; recsys trio added r18 per
    * r17 verdict #4): every sf0.1 heavy once at the 10× tier —
    * recorded against their sf0.1 bench floors for the scaling row.
    * q121/q130/q224 read the lineitem/orders derivation (10× baskets
    * over the SHARED part catalog — the densified co-occurrence
    * shape). */
  private def runSf1Heavy(spark: SparkSession, dir: String): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val all = Seq("q28_near_dup_minhash", "q34_ann_topk",
      "q66_full_pipeline", "q76_semdedup", "q91_dedup_incremental",
      "q112_rolling_distinct", "q141_hll_rolling", "q251_quality_clf",
      "q257_clf_calibrated",
      "q263_bigram_lm", "q267_pipeline_v8",
      "q121_item_neighbors", "q130_recommend", "q224_recommend_bucketed")
    // optional comma-separated subset (the Bench SPARK_GRAFT_BENCH_ONLY
    // idiom) — re-measure one block without re-paying the whole tier
    val names = sys.env.get("SPARK_GRAFT_SF1_ONLY")
      .map(_.split(",").toSet).fold(all)(f => all.filter(f.contains))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      sweep()
      println(f"""{"op":"sf1heavy","query":"$name","sec":$sec%.2f,"rows":$rows}""")
    }
  }

  /** ZONE-SCALE adversarial curve (r17 verdict item 4): 50 km zones ×
    * 20 M points from a SKEWED-home user population — point→user index
    * is cubed-uniform, so the hottest homes carry ~100× the uniform
    * density and pile onto single grid cells — measuring CANDIDATE
    * VOLUME PER POINT through the q256 grid alongside wall-clock for
    * the three batch twins the streaming machines resolve through
    * (membership q256/S45, nearest q260, dwell runs q258/S50). The
    * claim under test: candidates/point tracks ZONES PER PROBED
    * NEIGHBORHOOD (reported as zones_per_cell_max/avg), never the
    * zone count — the grid keeps 10⁴ zones as cheap as 10² per probe,
    * and skewed density inflates only the matched cells' traffic. */
  private def runZoneScale(spark: SparkSession, zoneCounts: Seq[Long]): Unit = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val nPts = sys.env.get("SPARK_GRAFT_ZS_POINTS").map(_.toLong)
      .getOrElse(20000000L)
    val nUsers = 100000L
    val rad = 50000.0
    // skewed point→user map (cubed uniform): user 0's home sees ~3x10⁻⁵
    // of all points vs 10⁻⁵ uniform at the head, and the tail thins —
    // the fleet-tracking shape (depots and city centers are hot)
    val pts = spark.range(nPts).select(col("id"),
        expr(s"CAST($nUsers * pow(pmod(xxhash64(id), 1048576) / 1048576.0, 3.0) AS BIGINT)")
          .as("user_id"))
      .withColumn("tsu", col("id"))
      .withColumn("la",
        (pmod(expr("xxhash64(user_id, 11L)"), lit(160000001L)) - 80000000L) +
          (pmod(expr("xxhash64(id, 13L)"), lit(900001L)) - 450000L))
      .withColumn("lo",
        pmod((pmod(expr("xxhash64(user_id, 12L)"), lit(360000000L)) - 180000000L) +
          (pmod(expr("xxhash64(id, 14L)"), lit(900001L)) - 450000L) +
          540000000L, lit(360000000L)) - 180000000L)
      .persist()
    pts.count()
    zoneCounts.zipWithIndex.foreach { case (nz, i) =>
      val zones = spark.range(nz).select(col("id").as("zone_id"),
          (pmod(expr("xxhash64(zone_id, 7L)"), lit(160000001L)) - 80000000L).as("zla"),
          (pmod(expr("xxhash64(zone_id, 8L)"), lit(360000000L)) - 180000000L).as("zlo"),
          lit(rad).as("radius_m")).persist()
      zones.count()
      // zone density over the grid the candidates probe
      val (hh, cells, _) = graft.operators.Geo.gridParams(rad)
      val bt = broadcast(cells.toDF("bt_band", "bt_nc"))
      val zd = zones.withColumn("zband", expr(s"(zla + 90000000) DIV $hh"))
        .join(bt, col("zband") === col("bt_band"))
        .groupBy(col("zband"), expr("((zlo + 180000000) * bt_nc) DIV 360000000"))
        .agg(count(lit(1)).as("n"))
        .agg(max("n").as("mx"), avg("n").as("av")).head()
      val (zMax, zAvg) = (zd.getLong(0), zd.getDouble(1))
      def time[A](f: => A): (Double, A) = {
        val t0 = System.nanoTime(); val a = f
        ((System.nanoTime() - t0) / 1e9, a)
      }
      if (i == 0) { // warmup, discarded
        graft.operators.Geo.sphericalZoneJoin(pts, zones, rad).count()
      }
      val (candSec, cand) = time(
        graft.operators.Geo.zoneCandidates(pts, zones, rad).count())
      sweep(); pts.count(); zones.count()
      val (joinSec, members) = time(
        graft.operators.Geo.sphericalZoneJoin(pts, zones, rad).count())
      sweep(); pts.count(); zones.count()
      val resolved = graft.operators.Geo.sphericalZoneJoin(pts, zones, rad)
        .withColumn("rk", row_number().over(
          Window.partitionBy("id").orderBy(col("hav"), col("zone_id"))))
        .filter(col("rk") === 1)
      val (nearSec, nearest) = time(resolved.count())
      sweep(); pts.count(); zones.count()
      // dwell runs: nearest-wins zone per point (outside where none),
      // then q258's gaps-and-islands per user — the S50 batch twin
      val zp = pts.join(resolved.select(col("id"), col("zone_id")), Seq("id"), "left")
        .select(col("user_id"), col("tsu"),
          coalesce(col("zone_id").cast("string"), lit("outside")).as("zone"))
      val w = Window.partitionBy("user_id").orderBy("tsu")
      val wz = Window.partitionBy("user_id", "zone").orderBy("tsu")
      val (dwellSec, visits) = time(zp
        .withColumn("grp", row_number().over(w) - row_number().over(wz))
        .filter(col("zone") =!= "outside")
        .groupBy("user_id", "zone", "grp").agg(count(lit(1)).as("n"))
        .count())
      zones.unpersist(); sweep(); pts.count()
      println(f"""{"op":"zonescale","n_points":$nPts,"n_zones":$nz,"zones_per_cell_max":$zMax,"zones_per_cell_avg":$zAvg%.4f,"cand_sec":$candSec%.2f,"candidates":$cand,"cand_per_point":${cand.toDouble / nPts}%.4f,"zone_join_sec":$joinSec%.2f,"members":$members,"nearest_sec":$nearSec%.2f,"nearest":$nearest,"dwell_sec":$dwellSec%.2f,"visits":$visits}""")
    }
    pts.unpersist(); sweep()
  }

  /** ZONE-AXIS curve (r16 verdict item #2): membership cost as the
    * GEOFENCE COUNT grows at fixed point count — the regime where the
    * per-zone literal-CASE resolver (q255/S43 fast path) would blow up
    * the plan. `sphericalZoneJoin` must stay flat-ish: zones are data,
    * the plan is constant, and cost is the density-bounded (band,
    * cell) join. Points AND zones area-uniform over ±90°; radius
    * fixed 50 km so output scales linearly with the zone count. */
  private def runZones(spark: SparkSession, zoneCounts: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val nPts = 5000000L
    val pts = spark.range(nPts).select(col("id"),
      expr("CAST(degrees(asin(pmod(xxhash64(id), 2000001L) / 1000000.0 " +
        "- 1.0)) * 1000000 AS BIGINT)").as("la"),
      (pmod(xxhash64(col("id"), lit(1)), lit(360000000L)) - 180000000L).as("lo"))
      .persist()
    pts.count()
    zoneCounts.zipWithIndex.foreach { case (nz, i) =>
      val zones = spark.range(nz).select(col("id").as("zone_id"),
        expr("CAST(degrees(asin(pmod(xxhash64(zone_id, 7L), 2000001L) / 1000000.0 " +
          "- 1.0)) * 1000000 AS BIGINT)").as("zla"),
        (pmod(xxhash64(col("zone_id"), lit(8L)), lit(360000000L)) - 180000000L).as("zlo"),
        lit(50000.0).as("radius_m")).persist()
      zones.count()
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val members = graft.operators.Geo
          .sphericalZoneJoin(pts, zones, 50000.0).count()
        ((System.nanoTime() - t0) / 1e9, members)
      }
      if (i == 0) run() // warmup, discarded
      val (sec, members) = run()
      zones.unpersist(); sweep(); pts.count()
      println(f"""{"op":"zones","n_points":$nPts,"n_zones":$nz,"zone_join_sec":$sec%.2f,"members":$members}""")
    }
    pts.unpersist(); sweep()
  }

  /** Connected-components round-count curve (r16 verdict item #3): a
    * PLANTED CHAIN of n nodes has diameter n−1 — the adversarial case
    * for min-label propagation (rounds = diameter; its default cap
    * can't even converge past 20 hops). The star form must show
    * ~log(n) rounds and near-linear wall-clock. Propagation runs only
    * at the smallest size (rounds == diameter makes bigger sizes
    * pointless by construction — that contrast is the point), plus a
    * SHALLOW random graph at 5 M edges where propagation's cheaper
    * round (2 shuffles vs 4) should keep it the right default. */
  private def runCc(spark: SparkSession, sizes: Seq[Long]): Unit = {
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    // contrast row: propagation on a 128-chain converges in exactly
    // diameter rounds (pass maxIter above it so it CAN converge)
    locally {
      val chain = spark.range(127).selectExpr("id AS src", "id + 1 AS dst")
      val t0 = System.nanoTime()
      val n = graft.operators.Graph.connectedComponents(chain, 200)
        .filter(col("component") === 0L).count()
      val sec = (System.nanoTime() - t0) / 1e9
      sweep()
      println(f"""{"op":"cc","shape":"chain","algo":"propagation","n_nodes":128,"sec":$sec%.2f,"rounds":127,"in_min_comp":$n}""")
    }
    sizes.zipWithIndex.foreach { case (n, i) =>
      val chain = spark.range(n - 1).selectExpr("id AS src", "id + 1 AS dst")
      def run(): (Double, Int, Long) = {
        val t0 = System.nanoTime()
        val (lbl, rounds) = graft.operators.Graph.ccStarWithRounds(chain, 60)
        val ok = lbl.filter(col("component") === 0L).count()
        ((System.nanoTime() - t0) / 1e9, rounds, ok)
      }
      if (i == 0) { run(); sweep() } // warmup, discarded
      val (sec, rounds, ok) = run()
      sweep()
      println(f"""{"op":"cc","shape":"chain","algo":"star","n_nodes":$n,"sec":$sec%.2f,"rounds":$rounds,"in_min_comp":$ok}""")
    }
    // shallow contrast: 5 M-edge random graph, both algorithms
    locally {
      val edges = spark.range(5000000L).selectExpr(
        "pmod(xxhash64(id), 2000000) AS src",
        "pmod(xxhash64(id, 1), 2000000) AS dst").persist()
      edges.count()
      val t0 = System.nanoTime()
      val c1 = graft.operators.Graph.connectedComponents(edges, 60).count()
      val sProp = (System.nanoTime() - t0) / 1e9
      sweep(); edges.count()
      val t1 = System.nanoTime()
      val (lbl, rounds) = graft.operators.Graph.ccStarWithRounds(edges, 60)
      val c2 = lbl.count()
      val sStar = (System.nanoTime() - t1) / 1e9
      edges.unpersist(); sweep()
      println(f"""{"op":"cc","shape":"shallow_random","n_edges":5000000,"prop_sec":$sProp%.2f,"star_sec":$sStar%.2f,"star_rounds":$rounds,"nodes_prop":$c1,"nodes_star":$c2}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/root/repo/target/scale")
    val spark = Sessions.local(Sessions.envCpus, "graft-scale")
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("mixture")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runMixture(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("stats")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runStats(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("bi")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runBi(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("corpusq")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(5000L, 50000L, 250000L)
      runCorpusQ(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("cc")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(100000L, 1000000L, 4000000L)
      runCc(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("sf1gen")) {
      runSf1Gen(spark, "/root/testdata/sf0.1",
        sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/target/sf1"))
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("sf1heavy")) {
      runSf1Heavy(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/target/sf1"))
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("zonescale")) {
      val counts = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(100L, 1000L, 10000L)
      runZoneScale(spark, counts)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("zones")) {
      val counts = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(10L, 100L, 1000L, 10000L)
      runZones(spark, counts)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("geo")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runGeo(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("traj")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runTraj(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("clf")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(5000L, 50000L, 250000L)
      runClf(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("spatial")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runSpatial(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("drift")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runDrift(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("warehouse")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runWarehouse(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("tokenizer")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(5000L, 50000L, 250000L)
      runTokenizer(spark, sizes, dir)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("sketch")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runSketch(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("product")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runProduct(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("recsys")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runRecsys(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("graph")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runGraph(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("analytics")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runAnalytics(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("sweepline")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(1000000L, 5000000L, 20000000L)
      runSweep(spark, sizes)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("entity")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(20000L, 100000L, 400000L)
      runEntity(spark, sizes, dir)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("incremental")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(5000L, 50000L, 250000L)
      runIncremental(spark, sizes, dir)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("knn")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(2000L, 10000L, 30000L)
      runKnn(spark, sizes, dir)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_MODE").contains("vectors")) {
      val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
        else Seq(2000L, 20000L, 100000L)
      runVectors(spark, sizes, dir)
      spark.stop()
      return
    }
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(5000L, 50000L, 250000L)
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

    def ops(docs: DataFrame): Seq[(String, () => DataFrame)] = Seq(
      "q28_minhash_cc" -> (() =>
        NearDup.nearDupGroups(docs)
          .groupBy("group_id")
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_members"))
          .filter(col("n_members") > 1)),
      "q35_lsh_pairs" -> (() => NearDup.similarPairs(docs)),
      "q47_simhash_d3" -> (() => TextOps.simHashPairs(docs, maxDist = 3)),
      // default cap (df ≤ 10 since r9 — a true pair shares group-unique
      // fingerprints, df = group size, so a small cap keeps recall)
      "q51_winnow_df10" -> (() => TextOps.winnowPairs(docs)),
      // the old cap, kept as the superlinear counterexample this curve
      // exposed (r9: 2.8→27.9→426 s; the mid-band df 11–100 candidate
      // mass grows faster than the corpus — see BASELINE.md)
      "q51_winnow_df100" -> (() => TextOps.winnowPairs(docs, maxDocFreq = 100)),
      // decontamination (r9): benchmark split = the near-dup BASES
      // (doc_id%20==18), so every variant doc (%20==19) is PLANTED
      // contamination — flagged count vs expected_pairs measures recall
      // while the curve measures growth (gram explode + distinct +
      // string-equi-join; corpus side never aggregates globally)
      "q62_decontaminate" -> (() =>
        TextOps.decontaminate(
          docs.filter(col("doc_id") % 20 =!= 18),
          docs.filter(col("doc_id") % 20 === 18))),
      // shard packing (r9): the two-phase prefix sum — included to show
      // the global-window-free plan stays linear (the naive form would
      // single-reduce the whole corpus)
      "q63_shards" -> (() => TextOps.packShards(docs, 100000L)),
      "q54_pipeline" -> (() =>
        NearDup.dedup(docs)
          .filter(length(col("text")) >= 60)
          .filter(TextOps.tokenRatioKernel(col("text"), stopwords) >= 0.02)
          .filter(substring(md5(col("doc_id").cast("string")), 1, 1)
            .isin("0", "1", "2", "3"))
          .select("doc_id")),
      // char-level decontamination (r10): ~chars-per-doc gram
      // amplification — the growth to watch is the explode+join staying
      // ∝ corpus chars with the benchmark side broadcast
      "q71_char_decontam" -> (() =>
        TextOps.decontaminateChars(
          docs.filter(col("doc_id") % 20 =!= 18),
          docs.filter(col("doc_id") % 20 === 18))),
      // keep-best dedup (r10): q28-class group cost + one argmax agg
      "q72_dedup_best" -> (() =>
        NearDup.dedupBest(docs, length(col("text"))).select("doc_id")),
      // segment boilerplate dedup (r10): the growth to watch is the
      // segment-df shuffle staying ∝ corpus tokens and the boilerplate
      // side staying broadcast-small (the synthetic near-dup prefixes
      // are the planted repeated segments); rows = n (total function).
      // The always-true digest filter defeats count()'s column pruning
      // (otherwise the collect_list+md5 agg — the op's real cost —
      // drops out of the measured plan).
      "q78_segment_dedup" -> (() => TextOps.segmentDedup(docs)
        .filter(xxhash64(coalesce(col("clean_md5"), lit("")), col("n_kept"))
          =!= lit(42L))),
      // pipeline v2 (r10): the composed flagship chain on the growth
      // corpora — keep-best dedup + char decontam dominate (their own
      // rows above isolate each); the localCheckpoint inside pins the
      // full digest frame, so count() can't prune the agg. 100k-token
      // shards (q63's scale budget)
      "q75_pipeline_v2" -> (() => TextOps.pipelineV2(
        docs.filter(col("doc_id") % 20 =!= 18),
        docs.filter(col("doc_id") % 20 === 18),
        budget = 100000L)),
      // collocations (r10): the corpus-statistics shape — bigram and
      // unigram aggregations on different keys + the count-join; the
      // growth to watch is the gram-key shuffle staying ∝ corpus tokens
      "q69_collocations" -> (() => {
        val uni = docs.select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val bg = docs.select(explode(TextOps.wordGramsKernel(col("text"), 2)).as("g"))
          .select(split(col("g"), " ").getItem(0).as("w1"),
            split(col("g"), " ").getItem(1).as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
        val n1 = uni.agg(sum("c").as("n1"))
        val n2 = bg.agg(sum("c_ab").as("n2"))
        bg.filter(col("c_ab") >= 5)
          .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
          .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
          .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
          .select(col("w1"), col("w2"),
            round(log((col("c_ab").cast("double") * col("n1") * col("n1")) /
              (col("n2").cast("double") * col("c_a") * col("c_b"))), 6).as("pmi"))
      }),
      // DSIR weights (r10): q79's shuffle set (tf + shared two-LM
      // unigram agg + Heaps-law vocab join) — the growth to watch is
      // the w-key join staying ∝ corpus tokens; lang synthesized
      // deterministically (25% target slice)
      "q82_dsir" -> (() => TextOps.dsirWeights(
        docs.withColumn("lang",
          when(col("doc_id") % 4 === 0, "en").otherwise("other")))),
      // inverted index (r10): the bounded-state claim on the growth
      // corpora — per-term agg state stays at the page size while df
      // grows with the corpus (the vocab's stopword head is exactly
      // the flooding case the TopKAggregator form avoids)
      "q83_inverted_index" -> (() => TextOps.invertedIndex(docs)),
      // BM25 (r10): the query-term posting-list claim — tf filters
      // before aggregating, so the measured cost should track the
      // three terms' posting mass, not the corpus token count
      "q84_bm25" -> (() => TextOps.bm25(docs, Seq("dup", "hash", "window"))),
      // graded contamination (r10): q62's join shape with the marked
      // left join + single aggregation — growth ∝ corpus grams with
      // the benchmark side broadcast-small
      "q90_contam_ratio" -> (() => TextOps.contaminationScore(
        docs.filter(col("doc_id") % 20 =!= 18),
        docs.filter(col("doc_id") % 20 === 18))),
      // novelty (r11): the q43 shuffle class (distinct + gram-key df agg
      // + join-back) — growth ∝ corpus tokens; on this synthetic corpus
      // the df=1 share shrinks as the fixed-vocab gram space saturates,
      // so rows stay = n while novelty drops (observable, expected)
      "q95_novelty" -> (() => TextOps.novelty(docs)))

    // optional comma-separated op filter (rerun a single op's curve
    // without paying for the whole suite)
    val opFilter = sys.env.get("SPARK_GRAFT_SCALE_OPS").map(_.split(",").toSet)
    def selected(docs: DataFrame) =
      ops(docs).filter { case (name, _) => opFilter.forall(_.contains(name)) }

    sizes.zipWithIndex.foreach { case (n, i) =>
      val path = s"$dir/docs_$n.parquet"
      if (!new java.io.File(path).exists())
        corpus(spark, n).write.mode("overwrite").parquet(path)
      val docs = spark.read.parquet(path)
      val expectedPairs = n / 20
      if (i == 0) { // discarded warmup pass at the smallest size
        selected(docs).foreach { case (_, f) => f().count(); sweep() }
      }
      selected(docs).foreach { case (name, f) =>
        val t0 = System.nanoTime()
        val rows = f().count()
        val dt = (System.nanoTime() - t0) / 1e9
        sweep()
        println(f"""{"op":"$name","n_docs":$n,"sec":$dt%.2f,"rows":$rows,"expected_pairs":$expectedPairs}""")
      }
    }
    spark.stop()
  }
}
