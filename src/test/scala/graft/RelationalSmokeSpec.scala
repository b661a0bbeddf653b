package graft

import graft.core.DriverTier

/** Pins the cross-engine-validated facts from SURVEY.md §2.3 on sf0.001.
  * (Full hash-for-hash coverage lives in the driver's DuckDB gate /
  * tools/check_oracle.py; these are fast regressions.) */
class RelationalSmokeSpec extends SparkSpec {

  private val d = sf("sf0.001")

  /** AQE wraps the physical plan in AdaptiveSparkPlanExec, whose
    * collect() does not traverse the inner tree before execution —
    * plan-shape asserts must unwrap to the input plan. */
  private def unwrapAqe(p: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.inputPlan
    case other => other
  }

  test("q13 decimal aggregates match the validated values") {
    val r = SparkEntry.queries("q13_hash_agg_b")(spark, d).collect()
    assert(r.length == 6)
    val af = r.find(x => x.getString(0) == "A" && x.getString(1) == "F").get
    // sums are exact decimal internally, presented as DOUBLE (round-4
    // hash-fail experiment) — same validated values
    assert(af.getDouble(2) == 24851.00)
    assert(af.getDouble(3) == 50132697.39)
    assert(af.getDouble(4) == 0.0502)
  }

  test("q94 split co-assignment: one source -> exactly one split (leakage-safe)") {
    import org.apache.spark.sql.functions._
    val split = graft.operators.Relational
      .splitLeakageSafe(graft.sources.Tables.documents(spark, d))
    val perSource = split.groupBy("source")
      .agg(countDistinct("split").as("n")).collect()
    assert(perSource.nonEmpty && perSource.forall(_.getLong(1) == 1L))
    // all three splits are populated on the fixture's 20 sources
    assert(split.select("split").distinct().count() == 3)
  }

  test("q21 set-op chain = 13 rows") {
    assert(SparkEntry.queries("q21_set_ops")(spark, d).count() == 13)
  }

  test("q25 dedup finds 21 prefix groups at sf0.001") {
    assert(SparkEntry.queries("q25_dedup_prefix")(spark, d).count() == 21)
  }

  test("q27 top hit is the query vector itself with sim 1.0") {
    val head = SparkEntry.queries("q27_cosine_topk")(spark, d).head()
    assert(head.getLong(0) == 0L && head.getDouble(1) == 1.0)
  }

  test("q15 rollup emits the grand-total null row") {
    val r = SparkEntry.queries("q15_rollup")(spark, d).collect()
    assert(r.head.isNullAt(0) && r.head.isNullAt(1))
    assert(r.head.getLong(2) == r.filter(x => !x.isNullAt(0) && !x.isNullAt(1)).map(_.getLong(2)).sum)
  }

  test("entry (flagship q7) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has matching oracle key and runs") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, d).columns.nonEmpty, name)
    }
  }

  test("saltedJoin equals the plain join on a skewed key, spreading the hot key") {
    import org.apache.spark.sql.functions._
    // 20k rows of hot key 1 + a sprinkle of others; 5-key dim
    val big = spark.range(20000).select(lit(1L).as("k"), col("id"))
      .union(spark.range(200).select((col("id") % 5).as("k"), (col("id") + 100000).as("id")))
    val dim = spark.range(5).select(col("id").as("k"),
      concat(lit("dim"), col("id")).as("name"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "id", "name").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val plain = big.join(dim, Seq("k"))
    val salted = graft.core.Partitioning.saltedJoin(big, dim, Seq("k"), col("id"), salts = 8)
    assert(canon(salted) == canon(plain))
    // left join: unmatched big rows (k=1 missing from a 2..4 dim) survive once
    val dim2 = dim.filter(col("k") >= 2)
    val plainL = big.join(dim2, Seq("k"), "left")
    val saltedL = graft.core.Partitioning.saltedJoin(big, dim2, Seq("k"), col("id"), 8, "left")
    assert(saltedL.count() == plainL.count() &&
      saltedL.filter(col("name").isNull).count() == plainL.filter(col("name").isNull).count())
    // the hot key's rows really spread across salts (the point of the exercise)
    val saltsUsed = big.filter(col("k") === 1)
      .select(pmod(xxhash64(col("id")), lit(8)).as("s")).distinct().count()
    assert(saltsUsed == 8)
    // right/full would duplicate unmatched small rows — rejected
    intercept[IllegalArgumentException] {
      graft.core.Partitioning.saltedJoin(big, dim, Seq("k"), col("id"), 8, "full")
    }
    // __salt is reserved: an input already carrying it would be silently
    // REPLACED by withColumn (r8 ADVICE) — rejected instead
    intercept[IllegalArgumentException] {
      graft.core.Partitioning.saltedJoin(
        big.withColumn("__salt", lit(0)), dim, Seq("k"), col("id"), 8)
    }
  }

  test("r9 plan shapes: q56 salts with xxhash64, window aggs run map-side partials") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString
    // the deterministic salt expression is really in the executed plan
    assert(plan("q56_salted_join").contains("xxhash64"))
    // batch window()/session_window() aggregations keep two-phase
    // (partial -> final) hash aggregation — the map-side combine that
    // bounds shuffle volume at scale
    assert(plan("q57_stream_tumbling").contains("partial_count"))
    assert(plan("q59_sliding_window").contains("partial_count"))
  }

  test("r10 plan shapes: native kernels in-plan, zero-shuffle maps take TakeOrderedAndProject") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString
    // q68 scores with the NATIVE expressions against a broadcast query row
    val p68 = plan("q68_vector_stats")
    assert(p68.contains("vec_dot") && p68.contains("vec_norm"), p68)
    assert(p68.contains("BroadcastNestedLoopJoin"), p68)
    // q67/q70 are narrow maps + global top-n: distributed partial heaps
    // (TakeOrderedAndProject), never a full sort shuffle
    val p67 = plan("q67_pii_redact"); val p70 = plan("q70_quantize")
    assert(p67.contains("TakeOrderedAndProject") && !p67.contains("Exchange"), p67)
    assert(p70.contains("TakeOrderedAndProject") && !p70.contains("Exchange"), p70)
    // q69's count aggregations run map-side partials before the shuffle
    assert(plan("q69_collocations").contains("partial_count"), "q69 partials")
  }

  test("late-r10 plan shapes: q76 broadcasts centroids, q77 never shuffles the corpus, q78 anti-join broadcasts") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString
    // q76: centroid assign + shadow pairs are broadcast/equi joins on
    // the native kernels — no cartesian, ObjectHashAggregate argmax
    val p76 = plan("q76_semdedup")
    assert(p76.contains("vec_dot") && p76.contains("ObjectHashAggregate"), p76.take(3000))
    assert(!p76.contains("CartesianProduct"), "q76 cartesian")
    // q77: rates come back as broadcast joins; the only Exchanges are
    // the tiny per-stratum counts agg (and the declared final sort) —
    // the corpus rows themselves reach the filter scan-shaped
    val p77 = plan("q77_mix_temperature")
    assert(p77.contains("BroadcastHashJoin"), p77.take(3000))
    assert(!p77.contains("SortMergeJoin"), "q77 must not sort-merge the corpus")
    // q78: boilerplate side is broadcast into the anti-join; the df agg
    // keeps map-side partials
    val p78 = plan("q78_segment_dedup")
    assert(p78.contains("BroadcastHashJoin") &&
      p78.toLowerCase.contains("leftanti"), p78.take(3000))
    assert(p78.contains("partial_count"), "q78 df partials")
  }

  test("bloomPrefilteredJoin equals the plain join and really drops rows pre-join") {
    import org.apache.spark.sql.functions._
    val big = spark.range(10000).select(col("id").as("k"), (col("id") * 2).as("v"))
    // sparse key overlap: 20 of 10k keys match (the regime the utility targets)
    val small = spark.range(20).select((col("id") * 500).as("k"),
      concat(lit("d"), col("id")).as("name"))
    val plain = big.join(small, Seq("k")).collect().map(_.toSeq).sortBy(_.toString).toSeq
    val bloomed = graft.core.Partitioning
      .bloomPrefilteredJoin(big, small, "k", expectedItems = 100L)
    assert(bloomed.collect().map(_.toSeq).sortBy(_.toString).toSeq == plain)
    // the prefilter is a real pre-join Filter: probing big alone keeps
    // ~matches + fpp·n, far under the input size
    val bf = small.stat.bloomFilter(col("k"), 100L, 0.01)
    val kept = big.collect().count(r => bf.mightContainLong(r.getLong(0)))
    assert(kept < 1000, s"bloom kept $kept of 10000 — not filtering")
    // null big-side keys never match an inner equi-join: dropping them is exact
    val bigNull = big.union(spark.range(5).select(lit(null).cast("long").as("k"), col("id")))
    assert(graft.core.Partitioning.bloomPrefilteredJoin(bigNull, small, "k", 100L)
      .count() == plain.size)
    // big-preserving join types would lose unmatched big rows — rejected
    intercept[IllegalArgumentException] {
      graft.core.Partitioning.bloomPrefilteredJoin(big, small, "k", 100L, 0.01, "left")
    }
    // string keys (the n-gram/fingerprint join class): same exactness
    val bigS = big.select(concat(lit("g"), col("k")).as("k"), col("v"))
    val smallS = small.select(concat(lit("g"), col("k")).as("k"), col("name"))
    val plainS = bigS.join(smallS, Seq("k")).collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(graft.core.Partitioning.bloomPrefilteredJoin(bigS, smallS, "k", 100L)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq == plainS)
    // unsupported key types are rejected, not silently mis-probed
    intercept[IllegalArgumentException] {
      graft.core.Partitioning.bloomPrefilteredJoin(
        big.select(col("k").cast("double").as("k"), col("v")), small, "k", 100L)
    }
    // MIXED type classes (string big vs integral small) are rejected:
    // putLong vs mightContainString hash differently, so the probe would
    // silently drop every match (r9 advice) — fail loudly instead
    intercept[IllegalArgumentException] {
      graft.core.Partitioning.bloomPrefilteredJoin(bigS, small, "k", 100L)
    }
  }

  test("q60 interval-join batch analog: 5 pairs at sf0.001, interval bounds hold") {
    val r = SparkEntry.queries("q60_interval_join")(spark, d).collect()
    assert(r.length == 5)
    // every click falls inside [view.ts, view.ts + 1 h] — the two-sided
    // bound the streaming operator keys its state eviction on
    assert(r.forall(x =>
      x.getLong(3) >= x.getLong(2) && x.getLong(3) <= x.getLong(2) + 3600000000L))
  }

  test("r9 curation trio: q62 finds the measured overlap, q63 covers every doc, q64 rates hold") {
    import org.apache.spark.sql.functions._
    // decontamination: 8 contaminated docs at sf0.001 (measured in DuckDB)
    assert(SparkEntry.queries("q62_decontaminate")(spark, d).count() == 8)
    // shard packing is total: one row per document, shards start at 0
    val shards = SparkEntry.queries("q63_token_shards")(spark, d)
    assert(shards.count() == 500 && shards.agg(min("shard")).head().getLong(0) == 0L)
    // stratified sample: en rows only from the 12.5% band, others from the 50% band
    val r = SparkEntry.queries("q64_stratified_sample")(spark, d)
      .withColumn("hd",
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1))
    assert(r.count() > 0)
    assert(r.filter(col("lang") === "en" && !col("hd").isin("0", "1")).count() == 0)
    assert(r.filter(col("lang") =!= "en" &&
      !col("hd").isin("0", "1", "2", "3", "4", "5", "6", "7")).count() == 0)
  }

  test("q66 full pipeline: 132 survivors in 4 shards at sf0.001, shards consecutive") {
    import org.apache.spark.sql.functions._
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val r = SparkEntry.queries("q66_full_pipeline")(spark, d)
    val shards = r.select("shard").distinct().collect().map(_.getLong(0)).sorted
    assert(r.count() == 132)
    assert(shards.sameElements(0L to 3L))
    // lifecycle (r10): every operator-internal persist() is released
    // before the query returns; only eager localCheckpoint pins (the
    // q35/q47 pin-then-release convention) may remain in the session
    val leaked = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed)
    assert(leaked.isEmpty,
      s"q66 leaked ${leaked.size} plain cached RDDs into the session")
  }

  test("q75 pipeline v2: consecutive shards, non-degenerate funnel, no plain-cache leak") {
    import org.apache.spark.sql.functions._
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val r = SparkEntry.queries("q75_pipeline_v2")(spark, d).collect()
    assert(r.nonEmpty)
    assert(r.map(_.getLong(0)).sameElements(r.indices.map(_.toLong))) // 0..n-1
    // every stage really cut something: chunks < corpus tokens, digest distinct
    assert(r.map(_.getString(3)).distinct.length == r.length)
    val leaked = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed)
    assert(leaked.isEmpty, s"q75 leaked ${leaked.size} plain cached RDDs")
  }

  test("q77 temperature mixing: smallest lang fully kept, mix flattens, rates derived") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, d)
    val in = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = in.values.min
    val out = SparkEntry.queries("q77_mix_temperature")(spark, d)
    val kept = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the smallest stratum keeps every row (rate exactly 1)
    val smallest = in.minBy(_._2)._1
    assert(kept(smallest) == in(smallest))
    // q_rate really is floor(sqrt(nMin/n)*65536) for every stratum
    val rates = out.select("lang", "n_docs", "q_rate").distinct().collect()
    rates.foreach { r =>
      val expect = math.floor(math.sqrt(nMin.toDouble / r.getLong(1)) * 65536).toLong
      assert(r.getLong(2) == expect, s"lang=${r.getString(0)}")
    }
    // flattening: the kept mix is strictly more uniform than the input
    val inRatio = in.values.max.toDouble / in.values.min
    val outRatio = kept.values.max.toDouble / kept.values.min
    assert(outRatio < inRatio, s"in=$inRatio out=$outRatio")
  }

  test("q80 pipeline v3: consecutive shards, non-degenerate multi-signal funnel, no cache leak") {
    import org.apache.spark.sql.functions._
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val r = SparkEntry.queries("q80_pipeline_v3")(spark, d).collect()
    assert(r.nonEmpty)
    assert(r.map(_.getLong(0)).sameElements(r.indices.map(_.toLong))) // 0..n-1
    val nDocs = r.map(_.getLong(1)).sum
    val nIn = graft.sources.Tables.documents(spark, d).count()
    assert(nDocs > 0 && nDocs < nIn, s"funnel degenerate: $nDocs of $nIn")
    assert(r.map(_.getString(3)).distinct.length == r.length) // digests distinct
    val leaked = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed)
    assert(leaked.isEmpty, s"q80 leaked ${leaked.size} plain cached RDDs")
  }

  test("q56 salted gate query equals its unsalted plan in-engine") {
    import org.apache.spark.sql.functions._
    val salted = SparkEntry.queries("q56_salted_join")(spark, d).collect()
    val plain = graft.sources.Tables.events(spark, d)
      .join(graft.sources.Tables.customer(spark, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment")), Seq("user_id"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sv"))
      .orderBy("c_mktsegment", "event_type")
      .collect()
    assert(salted.nonEmpty && salted.toSeq == plain.toSeq)
  }

  test("q127 top-k plans as TakeOrderedAndProject, never a single-partition global sort") {
    // the scale contract behind sessionPaths' final rank-limit: Spark 4
    // rewrites row_number-over-empty-partition + rk<=k into a
    // distributed top-k (bounded per-partition heaps), so the
    // path-count frame is never globally sorted. If a plan change ever
    // reintroduces the real global WindowExec sort, this trips.
    val plan = graft.operators.Relational
      .q127(spark, sf("sf0.001")).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q204 two-phase deciles = ntile(10), no data-sized unpartitioned window") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // equivalence: the integer NTILE arithmetic over the distributed
    // prefix rank must be bit-identical to the engine's own ntile(10)
    val rev = graft.sources.Tables.orders(spark, d)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val direct = rev.withColumn("decile", ntile(10).over(
        Window.orderBy(col("rev").desc, col("c_custkey"))))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum("rev").cast("double").as("rev_total"))
      .orderBy("decile").collect().toSeq
    val got = graft.operators.Relational.q204(spark, d)
      .select("decile", "n_customers", "rev_total").collect().toSeq
    assert(got == direct)
    // plan shape on the PRE-checkpoint frame (the public method returns
    // a checkpoint scan — its plan proves nothing): no ntile anywhere;
    // every unpartitioned WindowExec runs over the p-row pid-count
    // frame (column `pc`), never the customer-sized frame
    val (lazyOut, ranked) = graft.operators.Relational.spendDecilesLazy(rev)
    try {
      val plan = unwrapAqe(lazyOut.queryExecution.executedPlan)
      assert(!plan.toString.contains("ntile"))
      val globals = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(globals.nonEmpty, "expected the bounded pid-offset window")
      assert(globals.forall(_.child.output.exists(_.name == "pc")),
        globals.map(_.child.output.map(_.name).mkString(",")).mkString(" | "))
    } finally ranked.unpersist()
  }

  test("weightedMedian two-phase cumulative = single-window form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val li = graft.sources.Tables.lineitem(spark, d)
    // reference: the pre-r13 one-window-per-group form
    val dv = li.select(col("l_returnflag"), col("l_extendedprice").as("v"),
        col("l_quantity").cast("decimal(18,2)").as("w"))
      .groupBy("l_returnflag", "v").agg(sum("w").as("wv"))
    val wCum = Window.partitionBy("l_returnflag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = dv.groupBy("l_returnflag").agg(sum("wv").as("wtot"))
    val ref = dv.withColumn("cw", sum("wv").over(wCum))
      .join(broadcast(tot), Seq("l_returnflag"))
      .filter(col("cw") * 2 >= col("wtot"))
      .groupBy("l_returnflag")
      .agg(min("v").as("w_median"), min("wtot").cast("double").as("total_weight"))
      .orderBy("l_returnflag").collect().toSeq
    val got = graft.operators.Relational.q206(spark, d).collect().toSeq
    assert(got == ref)
    // the PRE-checkpoint two-phase plan: every per-group window is
    // keyed by pid (the local runs) or runs over the p×groups offset
    // frame (column `ptot`) — no unpartitioned window anywhere, and
    // no (group)-only partitioning of the data-sized frame
    val (lazyOut, part) = graft.operators.Relational
      .weightedMedianLazy(li, "l_returnflag", "l_extendedprice", "l_quantity")
    try {
      val plan = unwrapAqe(lazyOut.queryExecution.executedPlan)
      val wins = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty)
      assert(wins.forall(_.partitionSpec.nonEmpty), "unpartitioned window leaked")
      // the data-sized cumulative must include pid in its keys; the
      // offset window (over ptot) is the only group-keyed one
      wins.foreach { w =>
        val keys = w.partitionSpec.map(_.toString).mkString(",")
        val overPtot = w.child.output.exists(_.name == "ptot")
        assert(keys.contains("pid") || overPtot, s"group-only window on data frame: $keys")
      }
    } finally part.unpersist()
  }

  test("associationRules maxBasket caps the whale, keeps normal-cust rules, default unchanged") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 20 normal customers sharing a 4-item basket (strong rules) + one
    // whale owning 60 items: capped at 8, the whale contributes at most
    // C(8,2) ordered pairs instead of C(60,2)
    val normal = (1 to 20).flatMap(c => Seq(1L, 2L, 3L, 4L).map(i => (c.toLong + 100L, i)))
    val whale = (1L to 60L).map(i => (1L, i))
    val baskets = (normal ++ whale).toDF("cust", "item")
    val capped = graft.operators.Relational
      .associationRules(baskets, minSupport = 3, maxBasket = 8)
    val rules = capped.collect()
    // the 4-item co-purchase core survives the cap (support 20 or 21)
    val core = rules.filter(r => r.getAs[Long]("antecedent") <= 4L &&
      r.getAs[Long]("consequent") <= 4L)
    assert(core.length == 12, s"expected 12 directed core rules, got ${core.length}")
    assert(core.forall(_.getAs[Long]("co") >= 20L))
    // whale-only pairs (both items > 4) are cut to the capped subset:
    // at most 8·7 = 56 directed pairs could exist pre-minSupport, and
    // none survive minSupport=3 (the whale is one basket)
    assert(rules.forall(r => r.getAs[Long]("co") >= 3L))
    // default Int.MaxValue = the uncapped plan (hash-compat with q179)
    val dflt = graft.operators.Relational.associationRules(baskets, minSupport = 3)
    val dfltCore = dflt.filter(col("antecedent") <= 4 && col("consequent") <= 4).count()
    assert(dfltCore == 12L)
  }

  test("dictionaryEncode ids are dense, 1-based, sorted-order, partitioning-invariant") {
    import spark.implicits._
    val df = Seq("pear", "apple", "fig", "apple", "date", "fig")
      .toDF("v")
    val got = graft.operators.Relational.dictionaryEncode(df, "v", "id")
      .select("v", "id").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("apple" -> 1L, "date" -> 2L, "fig" -> 3L, "pear" -> 4L))
    // invariance: a different physical layout yields identical ids
    val got2 = graft.operators.Relational
      .dictionaryEncode(df.repartition(7), "v", "id")
      .select("v", "id").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == got)
  }

  test("intervalUnion: overlap/touch merge, containment, disjoint blocks, raw vs covered") {
    import spark.implicits._
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 15L),   // overlap -> one block [0,15)
      (1L, 15L, 20L),                  // touching (s == prev max) -> merges
      (1L, 30L, 40L), (1L, 32L, 35L),  // containment inside [30,40)
      (1L, 100L, 101L),                // disjoint third block
      (2L, 0L, 1L)                     // second key untouched by key 1
    ).toDF("user_id", "s", "e")
    val out = graft.operators.Relational.intervalUnion(iv, "user_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // key 1: blocks [0,20) [30,40) [100,101) -> covered 31; raw 10+10+5+10+3+1 = 39
    assert(out(1L) == ((6L, 3L, 31L, 39L)), s"k1: ${out(1L)}")
    assert(out(2L) == ((1L, 1L, 1L, 1L)), s"k2: ${out(2L)}")
    // the complement: gaps between key 1's blocks; key 2 (one block)
    // emits none
    val gaps = graft.operators.Relational.intervalGaps(iv, "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(gaps.toSet == Set((1L, 20L, 30L, 10L), (1L, 40L, 100L, 60L)),
      s"gaps: ${gaps.toSeq}")
  }

  test("spearman long rank-sum fast path == decimal armor path (bit-identical)") {
    import spark.implicits._
    // ties in both columns, negative values, uneven group sizes (zero-
    // variance groups are outside spearman's domain — ANSI div-by-zero
    // on either path, unchanged semantics)
    val rows = Seq(
      ("a", 1.0, 10.0), ("a", 1.0, 12.0), ("a", 2.0, 11.0),
      ("a", 3.0, 11.0), ("a", -4.0, 9.0), ("a", 5.0, 20.0),
      ("b", 7.0, 1.0), ("b", 7.0, 1.0), ("b", 8.0, 2.0), ("b", 9.0, 1.0)
    ).toDF("g", "x", "y")
    def run(): Seq[org.apache.spark.sql.Row] =
      graft.operators.Relational.spearman(rows, "g", "x", "y")
        .orderBy("g").collect().toSeq
    val fast = run() // maxN = 6 <= 1e6 -> long path
    val armored = DriverTier.withFallback(run())
    assert(fast == armored, s"fast=$fast armored=$armored")
    // and the fixture query itself: both paths agree on q186's rows
    val q = SparkEntry.queries("q186_spearman")(spark, d).collect().toSeq
    val qArmored = DriverTier.withFallback {
      SparkEntry.queries("q186_spearman")(spark, d).collect().toSeq
    }
    assert(q == qArmored)
  }

  test("order-stat local tier == distributed engines (nulls, ties, null weights)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Relational
    // null group, null values, null weights, heavy ties, negatives
    val rows: Seq[(String, java.lang.Double, java.lang.Double)] = Seq(
      ("a", 1.0, 2.0), ("a", 1.0, 1.0), ("a", -3.5, 4.0), ("a", 7.25, 0.5),
      ("a", null, 9.0), ("a", 2.0, null),
      ("b", 5.0, 1.0), ("b", 5.0, 1.0), ("b", 5.0, 1.0),
      (null, 4.0, 2.0), (null, 8.0, 1.0),
      ("c", null, 3.0), // all-null values: disc bounds null, wm dropped
      // total weight 0 and < 0: a leading null-weight row has a null
      // cumulative sum distributed, so it must not pass the wm pick
      ("z", 1.0, null), ("z", 2.0, 1.0), ("z", 3.0, -1.0),
      ("n", 1.0, null), ("n", 2.0, 1.0), ("n", 3.0, -2.0)
    )
    val df = { import spark.implicits._; rows.toDF("g", "x", "w") }
    def cmp(name: String, fast: Seq[org.apache.spark.sql.Row],
        ref: Seq[org.apache.spark.sql.Row]): Unit =
      assert(fast.map(_.toString).sorted == ref.map(_.toString).sorted,
        s"$name diverged:\n fast=$fast\n ref=$ref")
    val ps = Seq((1, 4, "p25"), (1, 2, "med"), (19, 20, "p95"))
    cmp("discPercentiles",
      Relational.discPercentiles(df, "g", "x", ps).collect().toSeq,
      DriverTier.withFallback(
        Relational.discPercentiles(df, "g", "x", ps).collect().toSeq))
    cmp("weightedMedian",
      Relational.weightedMedian(df, "g", "x", "w").collect().toSeq,
      DriverTier.withFallback(
        Relational.weightedMedian(df, "g", "x", "w").collect().toSeq))
    // interpolated: local picker vs the buffering aggregate, exact bits,
    // on the edge frame AND the fixture q39 shape (decimal input)
    val cps = Seq((0.5, "p50"), (0.95, "p95"))
    cmp("exactPercentilesCont",
      Relational.exactPercentilesCont(df, "g", "x", cps).collect().toSeq,
      DriverTier.withFallback(
        Relational.exactPercentilesCont(df, "g", "x", cps).collect().toSeq))
    val li = graft.sources.Tables.lineitem(spark, d)
    val fastQ = Relational.exactPercentilesCont(li, "l_returnflag",
      "l_extendedprice", cps).orderBy("l_returnflag").collect().toSeq
    val refQ = li.groupBy("l_returnflag")
      .agg(percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
        percentile(col("l_extendedprice"), lit(0.95)).as("p95"))
      .orderBy("l_returnflag").collect().toSeq
    assert(fastQ.zip(refQ).forall { case (f, r) =>
      f.getString(0) == r.getString(0) &&
        java.lang.Double.doubleToLongBits(f.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)) &&
        java.lang.Double.doubleToLongBits(f.getDouble(2)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2))
    }, s"q39-shape bits diverged:\n $fastQ\n $refQ")
  }

  test("intervalOverlap: strict overlap only, pre-merged sides, exact seconds") {
    import spark.implicits._
    // A merges to [0,20) [50,60); B merges to [15,30) [20,45) -> wait:
    // B's pieces (15,30)+(20,45) overlap each other -> one block [15,45)
    val a = Seq((1L, 0L, 10L), (1L, 5L, 20L), (1L, 50L, 60L),
      (2L, 0L, 5L), (3L, 0L, 5L)).toDF("user_id", "s", "e")
    val b = Seq((1L, 15L, 30L), (1L, 20L, 45L), (1L, 60L, 70L),
      (2L, 5L, 9L), (4L, 0L, 5L)).toDF("user_id", "s", "e")
    val out = graft.operators.Relational.intervalOverlap(a, b, "user_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // key 1: A[0,20) ∩ B[15,45) = [15,20) → 5 s; A[50,60) ∩ B[15,45)
    // = ∅; A[50,60) vs B[60,70): TOUCHING is NOT overlap (strict <)
    assert(out(1L) == ((1L, 5L)), s"k1: ${out(1L)}")
    // key 2: A[0,5) ∩ B[5,9): touching only -> absent; keys 3/4
    // one-sided -> absent
    assert(out.keySet == Set(1L), s"keys: ${out.keySet}")
  }
}
