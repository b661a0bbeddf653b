package graft

import graft.core.DriverTier
import org.apache.spark.sql.functions._

/** Contracts for the r11 analytics batch: fuzzy entity resolution
  * (q100), funnel (q101), retention (q102), z-score outliers (q103).
  * The DuckDB hash gate proves fixture equivalence; these pin the
  * SEMANTIC contracts on handcrafted frames where the expected answer
  * is enumerable by eye. */
class EntityAnalyticsSpec extends SparkSpec {

  import spark.implicits._

  // ---- q100 fuzzy join ----

  private def recs(rows: (Long, String, String)*) =
    rows.toDF("p_partkey", "p_brand", "p_name")

  test("fuzzy blocking is lossless across length bands, each pair once") {
    // dist("ab","abcd")=2 spans a 2-length band; dist("ab","abc")=1;
    // dist("abc","abd")=1 equal-length; "zz" is blocked off by brand.
    val df = recs(
      (1, "B1", "ab"), (2, "B1", "abc"), (3, "B1", "abcd"),
      (4, "B1", "abd"), (5, "B2", "zz"))
    val pairs = graft.ext.Entity
      .fuzzyNamePairs(df, "p_brand", "p_name", maxDist = 2)
      .select("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // every unordered pair within dist 2, oriented longer-first
    // (lexically-SMALLER-first at equal length, matching the oracle),
    // exactly once
    assert(pairs == Set(
      ("abc", "ab"), ("abcd", "abc"), ("abd", "ab"),
      ("abc", "abd"),          // equal length, "abc" < "abd"
      ("abcd", "abd"),         // dist 1 (insert "c")
      ("abcd", "ab")))         // dist 2, 2-length band
  }

  test("fuzzy join fans name pairs out to record level within the block") {
    val df = recs(
      (1, "B1", "red gear"), (2, "B1", "red gear"),
      (3, "B1", "red bear"), (4, "B2", "red bear"))
    val out = graft.ext.Entity
      .fuzzyJoin(df, "p_brand", "p_name", "p_partkey", maxDist = 2)
      .select("key_a", "key_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // "red bear" < "red gear" at equal length -> side a is "red bear"
    // (record 3); records {1,2} carry "red gear" on side b. The
    // identical-name pair (1,2) is exact-dup territory, excluded;
    // record 4 is in another block.
    assert(out == Set((3L, 1L), (3L, 2L)))
  }

  // ---- q101 funnel ----

  private def ev(rows: (Long, String, Long)*) =
    rows.toDF("user_id", "event_type", "sec")
      .select(col("user_id"), col("event_type"),
        timestamp_seconds(col("sec")).as("ts"),
        lit(0.0).as("value"), monotonically_increasing_id().as("event_id"))

  test("funnel is greedy-earliest with per-step deadlines") {
    val h = 3600L
    val steps = Seq(("view", 0L), ("click", h * 1000000),
      ("purchase", 24 * h * 1000000))
    val events = ev(
      // u1 completes: view@0, click@100 (≤1h), purchase@200 (≤24h)
      (1, "view", 0), (1, "click", 100), (1, "purchase", 200),
      // u2: click BEFORE first view — not a step-2 completion; the
      // later click is past the 1 h deadline
      (2, "click", 50), (2, "view", 60), (2, "click", 60 + h + 1),
      // u3: view then click at deadline boundary (exactly 1h: counts),
      // purchase 25h after click: too late
      (3, "view", 0), (3, "click", h), (3, "purchase", h + 25 * h),
      // u4: purchase only — never enters
      (4, "purchase", 10))
    val u = graft.operators.Relational.funnelUsers(events, steps)
      .orderBy("user_id").collect()
    assert(u.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val byU = u.map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(byU(1L) == (Some(0L), Some(100000000L), Some(200000000L)))
    assert(byU(2L)._2.isEmpty && byU(2L)._3.isEmpty)
    assert(byU(3L)._2.contains(h * 1000000) && byU(3L)._3.isEmpty)
  }

  // ---- q102 retention ----

  test("retention counts exact-offset activity only") {
    val day = 86400L
    val events = ev(
      // u1 first on day 0, active day 1 and day 7
      (1, "view", 0), (1, "view", day + 5), (1, "view", 7 * day + 5),
      // u2 first on day 0, active day 2 (counts for nothing)
      (2, "view", 10), (2, "view", 2 * day),
      // u3 first on day 1, active day 8 (= its day 7)
      (3, "view", day + 1), (3, "view", 8 * day))
    val r = graft.operators.Relational.retention(events, Seq(1, 7, 14))
      .orderBy("cohort_day").collect()
    assert(r.length == 2)
    // cohort day0: 2 users, d1 = {u1}, d7 = {u1}, d14 = {}
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3), r(0).getLong(4))
      == ((2L, 1L, 1L, 0L)))
    // cohort day1: 1 user, d7 = {u3}
    assert((r(1).getLong(1), r(1).getLong(2), r(1).getLong(3), r(1).getLong(4))
      == ((1L, 0L, 1L, 0L)))
  }

  // ---- q105 connected components ----

  test("connectedComponents: chains, separate components, deep path convergence") {
    // component 1: a-b-c-d (a 3-edge PATH — min label must walk the
    // diameter, exercising >1 iteration); component 2: x-y
    val edges = Seq(("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("src", "dst")
    val cc = graft.operators.Graph.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("connectedComponentsStar == propagation on mixed shapes; log-rounds on a deep chain") {
    // same fixture as the propagation test (string ids exercise the
    // orderable-any-type contract)
    val edges = Seq(("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"),
      ("z", "z")).toDF("src", "dst") // z: self-loop-only singleton
    val star = graft.operators.Graph.connectedComponentsStar(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val prop = graft.operators.Graph.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(star == prop, s"star $star vs propagation $prop")
    assert(star("z") == "z" && star("d") == "a")
    // deep chain 0-1-2-…-511 (diameter 511): propagation's default
    // 20-round cap cannot converge; the star form must label the whole
    // chain 0 in ~log rounds
    val chain = spark.range(511).selectExpr("id AS src", "id + 1 AS dst")
    val (lbl, rounds) = graft.operators.Graph.ccStarWithRounds(chain, 50)
    val labels = lbl.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 512 && labels.forall(_._2 == 0L),
      s"bad chain labels: ${labels.filter(_._2 != 0L).take(5).toSeq}")
    assert(rounds <= 12, s"chain-512 took $rounds rounds — not log-diameter")
    // random shallow graph: identical component maps (modulo the min
    // label both compute)
    val rnd = spark.range(400).selectExpr(
      "pmod(xxhash64(id), 300) AS src", "pmod(xxhash64(id, 1), 300) AS dst")
    val s2 = graft.operators.Graph.connectedComponentsStar(rnd)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val p2 = graft.operators.Graph.connectedComponents(rnd, 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s2 == p2, s"random graph mismatch: ${(s2.toSet -- p2.toSet).take(5)}")
  }

  test("q105 clusters are transitive closures of q100 pairs, singletons intact") {
    val d = sf("sf0.001")
    val rows = SparkEntry.queries("q105_entity_clusters")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // every (brand,name) appears exactly once
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
    // the cluster id is a member of its own cluster (closure is rooted)
    val byCluster = rows.groupBy(t => (t._1, t._3))
    byCluster.foreach { case ((brand, cl), members) =>
      assert(cl == s"$brand|${cl.stripPrefix(s"$brand|")}")
      assert(members.exists(m => s"$brand|${m._2}" == cl),
        s"cluster id $cl not among its members")
      // min-label: the id is the smallest member composite
      assert(members.map(m => s"$brand|${m._2}").min == cl)
    }
    // fuzzy pairs land in one cluster: every q100 name pair co-clusters
    val pairs = graft.ext.Entity.fuzzyNamePairs(
      graft.sources.Tables.part(spark, d), "p_brand", "p_name", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val clusterOf = rows.map(t => (t._1, t._2) -> t._3).toMap
    pairs.foreach { case (brand, a, b) =>
      assert(clusterOf((brand, a)) == clusterOf((brand, b)),
        s"pair ($a, $b) in brand $brand split across clusters")
    }
    assert(pairs.nonEmpty)
  }

  // ---- q107 gap-fill ----

  test("gapFill emits explicit zeros for missing (day, group) cells") {
    val events = ev(
      (1, "view", 0), (1, "click", 10),          // day 0: view+click
      (1, "view", 2 * 86400L))                   // day 2: view only; day 1 empty
    val r = graft.operators.Relational.gapFill(events, "event_type")
      .collect()
      .map(x => (x.getDate(0).toString, x.getString(1), x.getLong(2))).toSet
    assert(r == Set(
      ("1970-01-01", "view", 1L), ("1970-01-01", "click", 1L),
      ("1970-01-02", "view", 0L), ("1970-01-02", "click", 0L),
      ("1970-01-03", "view", 1L), ("1970-01-03", "click", 0L)))
  }

  // ---- q108 concurrency sweep ----

  test("maxConcurrency agrees with the naive global window on 100k random intervals") {
    // regression for the RangePartitioner-seed bug (ScaleBench sweepline,
    // r11): two jobs re-sampling the range boundaries saw different pid
    // assignments and corrupted the offset join; only visible once
    // duplicates/boundary splits appear at scale
    import org.apache.spark.sql.expressions.Window
    val start = pmod(col("id") * 2654435761L, lit(500000L))
    val iv = spark.range(100000).select(start.as("s"),
      (start + 100L + pmod(col("id"), lit(5000L))).as("e"))
    val fast = graft.operators.Relational.maxConcurrency(iv, "s", "e")
      .head().getLong(0)
    val deltas = iv.select(col("s").as("t"), lit(1L).as("delta"))
      .union(iv.select(col("e").as("t"), lit(-1L).as("delta")))
    val naive = deltas.withColumn("live", sum("delta").over(
        Window.orderBy("t", "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .agg(max("live")).head().getLong(0)
    assert(fast == naive)
  }

  test("maxConcurrency: overlap count exact, end==start does not double-count") {
    // [0,10) [5,15) [10,20): at t=5..10 two live; at t=10 the first
    // CLOSES before the third opens ([start,end)) -> max stays 2
    val iv = Seq((0L, 10L), (5L, 15L), (10L, 20L)).toDF("s", "e")
    val r = graft.operators.Relational.maxConcurrency(iv, "s", "e").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L && r.getLong(2) == 3L)
    // full triple overlap when the third starts inside both
    val iv2 = Seq((0L, 10L), (5L, 15L), (9L, 20L)).toDF("s", "e")
    assert(graft.operators.Relational.maxConcurrency(iv2, "s", "e")
      .head().getLong(0) == 3L)
  }

  // ---- q109 histogram ----

  test("histogram: exact edges, max clamped into the last bin, empty bins explicit") {
    val df = Seq(0.0, 1.0, 2.5, 9.99, 10.0).toDF("v") // range [0,10], 4 bins of 2.5
    val h = graft.operators.Relational.histogram(df, "v", 4)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // bin 0 [0,2.5): {0,1}; bin 1 [2.5,5): {2.5}; bin 2 [5,7.5): empty;
    // bin 3 [7.5,10]: {9.99, 10 (clamped)}
    assert(h.toSeq == Seq((0L, 0.0, 2L), (1L, 2.5, 1L), (2L, 5.0, 0L), (3L, 7.5, 2L)))
  }

  // ---- q110 moving average ----

  test("movingAvg over the dense grid spans exactly `days` rows") {
    val events = ev(
      (1, "view", 0), (1, "view", 10),          // day 0: 2 views
      (1, "view", 2 * 86400L))                  // day 2: 1; day 1 = 0 (filled)
    val grid = graft.operators.Relational.gapFill(events, "event_type")
    val ma = graft.operators.Relational.movingAvg(grid, "event_type", 2)
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(2), r.getDouble(3)))
    // trailing window of 2 days: (2), (2,0)->1.0, (0,1)->0.5
    assert(ma.toSeq == Seq(
      ("1970-01-01", 2L, 2.0), ("1970-01-02", 0L, 1.0), ("1970-01-03", 1L, 0.5)))
  }

  // ---- q111 correlation ----

  test("correlationMatrix: perfect positive and negative correlation exact") {
    val df = (1 to 50).map(i => (i.toDouble, 2.0 * i, -i.toDouble, i.toDouble % 7))
      .toDF("x", "y", "z", "w")
    val r = graft.operators.Relational
      .correlationMatrix(df, Seq("x", "y", "z", "w"))
      .collect().map(row => (row.getString(0), row.getString(1)) -> row.getDouble(3)).toMap
    assert(r(("x", "y")) == 1.0)   // y = 2x
    assert(r(("x", "z")) == -1.0)  // z = -x
    assert(math.abs(r(("x", "w"))) < 0.2) // near-independent
    assert(r.size == 6)
  }

  // ---- q115 trend ----

  test("trendPerGroup recovers a planted exact linear series") {
    // y = 3x + 2 on days 0..9: slope 3, intercept 2, r2 = 1
    val grid = (0 to 9).map(i =>
      (java.sql.Date.valueOf(s"2024-01-${10 + i}"), "a", (3L * i + 2)))
      .toDF("day", "event_type", "cnt")
    val r = graft.operators.Relational.trendPerGroup(grid, "event_type").head()
    assert(r.getLong(1) == 10L)
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 2.0 && r.getDouble(4) == 1.0)
  }

  // ---- q118 data-quality rules ----

  test("dq rules FIRE on planted violations (the fixture gate reads clean)") {
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(1L, 1L, 2L, 99L, 98L).toDF("fk") // two orphans
    val fk = graft.operators.Relational
      .dqFkRule("fk", "child", child, "fk", parent, "pk").head()
    assert(fk.getLong(2) == 5L && fk.getLong(3) == 2L)
    val vals = Seq(-1.0, 0.5, 2.0).toDF("v") // one below 0, one above 1
    val rng = graft.operators.Relational.dqRule("rng", "t", vals,
      col("v") < 0 || col("v") > 1, max(col("v"))).head()
    assert(rng.getLong(2) == 3L && rng.getLong(3) == 2L && rng.getDouble(4) == 2.0)
  }

  // ---- q103 outliers ----

  test("z-score outliers flag exactly the planted spike, z exact") {
    // group of 11: ten 10.0s and one 100.0 -> mean ≈ 18.18, the spike
    // sits at z ≈ 3.02, the 10.0s at z ≈ -0.30
    val df = ((1 to 10).map(i => (i.toLong, "a", 10.0)) :+ ((11L, "a", 100.0)))
      .toDF("event_id", "event_type", "value")
    val out = graft.operators.Relational
      .zScoreOutliers(df, "event_type", "value", 2.5)
      .select("event_id", "z").collect()
    assert(out.length == 1 && out.head.getLong(0) == 11L)
    // exact arithmetic over the decimal moments: n=11, S=200, Q=11000
    val n = 11.0; val sv = 200.0; val sq = 11000.0
    val mean = sv / n
    val varr = (sq - sv * sv / n) / (n - 1)
    assert(out.head.getDouble(1) == (100.0 - mean) / math.sqrt(varr))
  }

  // ---- q120 triangles ----

  test("triangle counting finds each triangle once, per-node counts") {
    // K4 on {1,2,3,4} = 4 triangles, each node in 3; node 5 hangs off
    // an edge (no triangle); edges id-oriented src < dst.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("src", "dst")
    val out = graft.operators.Graph.triangleCounts(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("co-order edges apply the support threshold, oriented once") {
    // parts (1,2) co-occur in orders 10 and 20; (1,3) only in 10.
    val li = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 2L), (20L, 1L))
      .toDF("l_orderkey", "l_partkey")
    val e2 = graft.operators.Graph.coOrderEdges(li, minSupport = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e2 == Set((1L, 2L)))
  }

  // ---- q121 item neighbors ----

  test("item neighbors rank by cosine then id, capped at k") {
    // c1 buys {A,B,C}; c2 buys {A,B}; c3 buys {B,D}.
    // deg: A=2 B=3 C=1 D=1. co(A,B)=2 -> sim 2/sqrt(6)=0.816497;
    // co(A,C)=1 -> 1/sqrt(2)=0.707107; co(B,C)=1 -> 1/sqrt(3)=0.57735.
    val baskets = Seq(
      (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"), (3L, "B"), (3L, "D")).toDF("cust", "item")
    val out = graft.operators.Relational.itemNeighbors(baskets, 2)
      .collect().map(r => (r.getString(0), r.getLong(4)) ->
        ((r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("A", 1L)) == (("B", 2L, 0.816497)))
    assert(out(("A", 2L)) == (("C", 1L, 0.707107)))
    // B's top-2 of three neighbors: A (0.816497) then tie 0.57735
    // between C and D broken by id -> C
    assert(out(("B", 1L))._1 == "A")
    assert(out(("B", 2L))._1 == "C")
    assert(!out.contains(("B", 3L))) // k = 2 cap
  }

  test("itemNeighbors skew levers: maxBasket bounds whale fan-out, minSupport cuts pairs") {
    // a whale customer owning 100 items would contribute 100·99 pairs;
    // with maxBasket=10 it contributes at most 10·9, and the cap is a
    // deterministic hash-ordered subset (same result on re-run)
    val whale = (0 until 100).map(i => (1L, f"P$i%03d"))
    val pair = Seq((2L, "P000"), (2L, "P001"), (3L, "P000"), (3L, "P001"))
    val baskets = (whale ++ pair).toDF("cust", "item")
    val capped = graft.operators.Relational
      .itemNeighbors(baskets, k = 200, maxBasket = 10)
    // pair fan-out bound: items seen in capped output ≤ 10 whale items
    // plus the two pair items; and determinism across evaluations
    val items1 = capped.collect().map(_.getString(0)).toSet
    val items2 = capped.collect().map(_.getString(0)).toSet
    assert(items1 == items2, "cap must be deterministic")
    assert(items1.size <= 12, s"cap leaked: ${items1.size} items")
    // minSupport=2 keeps only the pair bought by customers 2 AND 3
    // (plus customer 1 if their capped subset includes both) — every
    // surviving pair must have co ≥ 2
    val sup = graft.operators.Relational
      .itemNeighbors(baskets, k = 200, minSupport = 2)
      .collect()
    assert(sup.nonEmpty && sup.forall(_.getLong(2) >= 2L))
    assert(sup.exists(r => r.getString(0) == "P000" && r.getString(1) == "P001"))
    // defaults preserve the un-levered result exactly
    val plain = graft.operators.Relational.itemNeighbors(baskets, k = 200)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val dflt = graft.operators.Relational
      .itemNeighbors(baskets, k = 200, minSupport = 1L, maxBasket = Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(plain == dflt)
  }

  // ---- q122 ACF ----

  test("ACF sign pattern and exact value on a periodic series") {
    // y alternates 1,3,1,3,... over 8 days: negative at lag 1,
    // positive at lag 2; the expanded estimator at n=8, k=2 gives
    // exactly 6/8 = 0.75 (finite-n attenuation of the full cycle).
    import java.sql.Date
    val grid = (0 until 8).map(i =>
        (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
          "g", if (i % 2 == 0) 1L else 3L))
      .toDF("day", "g", "cnt")
    val r = graft.operators.Relational.acf(grid, "g", 2)
      .collect().map(x => x.getLong(1) -> x.getDouble(2)).toMap
    assert(r(1L) < 0 && r(2L) > 0)
    assert(math.abs(r(2L) - 0.75) < 1e-9)
  }

  // ---- q123 transitions ----

  test("transition matrix counts ordered next-events per user") {
    val events = ev(
      (1, "view", 0), (1, "click", 10), (1, "view", 20),
      (2, "view", 5), (2, "click", 15))
    val out = graft.operators.Relational.transitions(events)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3))))
      .toMap
    // from view: ->click twice of 2 transitions; from click: ->view once
    assert(out(("view", "click")) == ((2L, 1.0)))
    assert(out(("click", "view")) == ((1L, 1.0)))
    assert(out.size == 2)
  }

  // ---- q124 attribution ----

  test("last-touch picks the latest in-horizon touch, else direct") {
    val h = 1000L * 1000000 // 1000 s horizon in micros
    val events = ev(
      // purchase@500: touches view@100, click@400 -> click wins (latest)
      (1, "view", 100), (1, "click", 400), (1, "purchase", 500),
      // purchase@5000: only touch is @100, outside 1000 s -> direct
      (2, "view", 100), (2, "purchase", 5000),
      // touch at the exact purchase instant does NOT count (tt < ct)
      (3, "click", 700), (3, "purchase", 700))
    val out = graft.operators.Relational.lastTouch(events, h)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("click" -> 1L, "direct" -> 2L))
  }

  // ---- q125 A/B ----

  test("two-proportion z matches the hand-computed statistic") {
    // even users = A: u2 converts, u4 doesn't; odd = B: u1, u3 don't.
    val events = ev(
      (2, "purchase", 0), (4, "view", 0), (1, "view", 0), (3, "view", 0))
      .withColumn("value", lit(200.0)) // qualified purchases
    val r = graft.operators.Relational.abTest(events).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 2L, 0L)))
    // pa=0.5 pb=0 pp=0.25: z = 0.5/sqrt(0.25*0.75*(1/2+1/2)) = 1.154701
    assert(math.abs(r.getDouble(6) - 1.154701) < 1e-6)
  }

  // ---- q128 sorted-neighborhood ----

  test("sorted-neighborhood admits only window-adjacent verified pairs") {
    // sorted: ab, abc, abd, zz. Window 1: (ab,abc) d1 keep; (abc,abd)
    // d1 keep; (abd,zz) d3 cut. The (ab,abd) d1 TRUE pair is 2 ranks
    // apart -> missed at w=1 (the documented lossy trade), admitted at
    // w=2.
    val df = Seq((1L, "B1", "ab"), (2L, "B1", "abc"), (3L, "B1", "abd"),
      (4L, "B1", "zz")).toDF("p_partkey", "p_brand", "p_name")
    def pairs(w: Int) = graft.ext.Entity
      .sortedNeighborhoodPairs(df, "p_brand", "p_name", w, maxDist = 2)
      .select("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs(1) == Set(("ab", "abc"), ("abc", "abd")))
    assert(pairs(2) == Set(("ab", "abc"), ("abc", "abd"), ("ab", "abd")))
  }

  // ---- q129 PageRank ----

  test("PageRank: uniform fixpoint on a cycle, reference iteration on an asymmetric graph") {
    import graft.operators.Graph
    // 4-cycle: regular graph -> uniform 1/4 is the exact fixpoint
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    val cr = Graph.pageRank(cycle, iterations = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cr.values.foreach(v => assert(math.abs(v - 0.25) < 1e-12))
    // path graph 1-2-3: driver-side reference iteration with identical
    // arithmetic must agree to float tolerance, ranks sum to 1, and
    // the degree-2 center must outrank the leaves
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = Graph.pageRank(path, iterations = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val d = 0.85; val n = 3
    var ref = Map(1L -> 1.0 / n, 2L -> 1.0 / n, 3L -> 1.0 / n)
    val deg = Map(1L -> 1, 2L -> 2, 3L -> 1)
    val nbrs = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    (1 to 10).foreach { _ =>
      ref = (1L to 3L).map { v =>
        v -> ((1.0 - d) / n +
          d * nbrs(v).map(u => ref(u) / deg(u)).sum)
      }.toMap
    }
    (1L to 3L).foreach(v => assert(math.abs(pr(v) - ref(v)) < 1e-9))
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    assert(pr(2L) > pr(1L) && pr(2L) > pr(3L))
  }

  test("PageRank local tier == distributed loop (float tolerance), invariants on both") {
    import graft.operators.Graph
    // two components, asymmetric degrees, a triangle — nontrivial mass flow
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (5L, 6L))
      .toDF("src", "dst")
    def run(): Map[Long, Double] = Graph.pageRank(g, iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = run() // 12 symmetric edge rows << cap -> driver loop
    val dist = DriverTier.withFallback(run())
    assert(local.keySet == dist.keySet)
    // same update arithmetic, different float-sum order (the operator's
    // documented rows-only rationale) -> tolerance, not bit equality
    local.keySet.foreach(k =>
      assert(math.abs(local(k) - dist(k)) < 1e-12, s"node $k: ${local(k)} vs ${dist(k)}"))
    Seq(local, dist).foreach { m =>
      assert(math.abs(m.values.sum - 1.0) < 1e-9)
      assert(m.values.forall(_ > 0.0))
    }
    // deterministic replay of the local tier (fixed edge-sorted order)
    assert(run() == local)
  }

  // ---- q130 recommendations ----

  test("item-CF recommends unowned neighbors by exact decimal score sum") {
    // same fixture as the neighbor test: c1 {A,B,C}, c2 {A,B}, c3 {B,D}
    val baskets = Seq(
      (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"), (3L, "B"), (3L, "D")).toDF("cust", "item")
    val out = graft.operators.Relational.recommendItems(baskets, k = 2, topn = 3)
      .collect().map(r => (r.getLong(0), r.getLong(4)) ->
        ((r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    // c2 owns A,B -> C scored from both lists: 0.707107 + 0.577350
    // summed as DECIMAL = 1.284457 exactly, n_shared 2
    assert(out((2L, 1L)) == (("C", 2L, 1.284457)))
    // c3 owns B,D -> A (0.816497) then C (0.57735) from B's list;
    // B itself is owned and anti-joined away
    assert(out((3L, 1L))._1 == "A" && out((3L, 2L))._1 == "C")
    assert(!out.exists { case ((c, _), (item, _, _)) => c == 3L && item == "B" })
  }

  // ---- q126 EWMA ----

  test("EWMA halves weights day by day and normalizes partial windows") {
    import java.sql.Date
    // counts 8, 4, 2 on days 0..2: at t=2 num = 2 + 4/2 + 8/4 = 6,
    // den = 1 + 1/2 + 1/4 = 1.75 -> 3.428571; at t=0 ewma = 8 exactly.
    val grid = Seq((0, 8L), (1, 4L), (2, 2L)).map { case (i, c) =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), "g", c)
    }.toDF("day", "g", "cnt")
    val out = graft.operators.Relational.ewma(grid, "g", 14)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out(0L) == 8.0)
    assert(math.abs(out(2L) - 3.428571) < 1e-6)
  }

  // ---- q127 session paths ----

  test("session paths follow the event order, split on the gap, cap length") {
    // user 1: three events in one session (out of construction order),
    // then a 2 h gap opens a second session; maxLen = 2 truncates.
    val h = 3600L
    val events = ev(
      (1, "click", 10), (1, "view", 5), (1, "purchase", 20),
      (1, "view", 20 + 2 * h), (1, "click", 20 + 2 * h + 1))
    val out = graft.operators.Relational
      .sessionPaths(events, gapUs = h * 1000000, maxLen = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // session 1 path view>click (purchase truncated by maxLen=2),
    // session 2 path view>click -> ONE path with 2 sessions
    assert(out == Set(("view>click", 2L)))
  }

  // ---- q137 clustering coefficient ----

  test("clustering coefficient: clique nodes 1.0, broker below, leaves 0") {
    // triangle {1,2,3} plus pendant 3–4: nodes 1,2 have cc=1 (their
    // only neighbor pair is connected); node 3 has deg 3, one closed
    // pair of three → 1/3; node 4 deg 1 → 0.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.operators.Graph.clusteringCoefficient(edges)
      .collect().map(r => (r.getAs[Long]("node"),
        (r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"),
          r.getAs[Double]("cc")))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 1L, 0.333333)))
    assert(got(4L) == ((1L, 0L, 0.0)))
  }

  // ---- q168 multivariate OLS ----

  test("normal-equation OLS recovers a planted plane exactly") {
    // y = 3 + 2·x1 − x2 over a non-degenerate integer grid
    val rows = for (x1 <- 0 to 9; x2 <- 0 to 9)
      yield ("g", x1.toLong, x2.toLong, 3.0 + 2.0 * x1 - x2)
    val got = graft.operators.Relational
      .olsNormal2(rows.toDF("g", "x1", "x2", "y"), "g", "x1", "x2", "y")
      .collect().head
    assert(got.getAs[Double]("b0") == 3.0)
    assert(got.getAs[Double]("b1") == 2.0)
    assert(got.getAs[Double]("b2") == -1.0)
    // collinear features → singular system → explicit nulls
    val sing = (0 to 9).map(i => ("g", i.toLong, (2 * i).toLong, i.toDouble))
    val s = graft.operators.Relational
      .olsNormal2(sing.toDF("g", "x1", "x2", "y"), "g", "x1", "x2", "y")
      .collect().head
    assert(s.isNullAt(s.fieldIndex("b0")) && s.isNullAt(s.fieldIndex("b1")))
  }

  // ---- q169 entropy / q170 HHI ----

  test("entropy reads ln k for uniform, 0 for degenerate; HHI 1 for monopoly, 1/k for split") {
    val uni = (1 to 40).map(i => ("u", s"c${i % 4}")) ++ Seq.fill(10)(("d", "only"))
    val e = graft.operators.Relational
      .entropy(uni.toDF("g", "cat"), "g", "cat")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("entropy"), r.getAs[Double]("entropy_norm"))).toMap
    assert(math.abs(e("u")._1 - math.log(4.0)) < 1e-5 && e("u")._2 == 1.0)
    assert(e("d") == ((0.0, 0.0)))
    val rev = Seq(("m", 1L, 100.0), ("s", 1L, 50.0), ("s", 2L, 50.0))
    val h = graft.operators.Relational
      .hhi(rev.toDF("g", "mem", "v"), "g", "mem", "v")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("hhi")).toMap
    assert(h("m") == 1.0 && h("s") == 0.5)
  }

  // ---- q159/q160 hierarchy ----

  test("hierarchy closure carries exact depths and subtree rollups") {
    //        1
    //      2   3
    //    4       5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 5L)).toDF("parent", "child")
    val c = graft.operators.Graph.descendants(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(c == Map(
      (1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 4L) -> 1L, (3L, 5L) -> 1L,
      (1L, 4L) -> 2L, (1L, 5L) -> 2L))
    // maxDepth truncates the frontier, not the earlier levels
    val c1 = graft.operators.Graph.descendants(edges, maxDepth = 1)
    assert(c1.count() == 4 && c1.agg(max("depth")).collect().head.getLong(0) == 1L)
  }

  // ---- q161 moving median ----

  test("moving median resists a spike day that wrecks the moving average") {
    val day = 86400L
    // group g: 7 days of value 10, except day 4 spikes to 1e6 —
    // the 7-day median at the first complete window stays 10
    val events = (0 until 7).map { di =>
      (1L, "g", di.toLong * day + 10, if (di == 3) 1e6 else 10.0)
    }.toDF("user_id", "event_type", "sec", "value")
      .select(col("user_id"), col("event_type"),
        timestamp_seconds(col("sec")).as("ts"), col("value"),
        monotonically_increasing_id().as("event_id"))
    val got = graft.operators.Relational
      .movingMedian(events, "event_type", "value", 7)
      .collect()
    assert(got.length == 1) // only one complete window
    assert(got.head.getAs[Double]("med") == 10.0)
    assert(got.head.getAs[Long]("n_values") == 7L)
  }

  // ---- q154 robust scaling ----

  test("robust scaling emits null for a constant group, exact scores otherwise") {
    val df = (Seq.tabulate(5)(i => ("v", 0L, (i + 1).toDouble)) ++
      Seq.tabulate(3)(i => ("k", 10L + i, 7.0)))
      .toDF("event_type", "event_id", "value")
    val got = graft.operators.Relational.robustScale(df, "event_type", "value")
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Double]("value")) ->
        Option(r.getAs[Any]("scaled"))).toMap
    // group v: med=3, q1=2, q3=4, iqr=2 → value 5 scales to 1.0
    assert(got(("v", 5.0)).contains(1.0))
    // constant group k: iqr=0 → null, not ±∞
    assert(got(("k", 7.0)).isEmpty)
  }

  // ---- q155 time-decay attribution ----

  test("time-decay attribution splits credit by half-life and falls back to direct") {
    val day = 86400L
    // u1: click 1 day before, view 2 days before conversion →
    // w = 0.5, 0.25 → shares 2/3, 1/3; u2: bare purchase → direct 1.0
    val events = ev(
      (1, "click", 2 * day), (1, "view", day), (1, "purchase", 3 * day),
      (2, "purchase", 3 * day))
    val got = graft.operators.Relational
      .timeDecayAttribution(events, "purchase", 7L * 86400000000L, 1.0)
      .collect().map(r => (r.getLong(0), r.getString(2)) ->
        (r.getAs[Long]("n_touches"), r.getAs[Double]("share"))).toMap
    val convU1 = got.keys.find(k => got(k)._1 == 1 && k._2 == "click").get._1
    assert(got((convU1, "click")) == ((1L, 0.666667)))
    assert(got((convU1, "view")) == ((1L, 0.333333)))
    val direct = got.keys.find(_._2 == "direct").get
    assert(got(direct) == ((0L, 1.0)))
  }

  // ---- q146 k-core ----

  test("k-core peels cascades to the fixpoint and reports within-core degree") {
    // triangle {1,2,3} + pendant chain 3-4-5-6: the 2-core must peel
    // 6, then 5, then 4 (three waves) and keep the triangle at deg 2.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got = graft.operators.Graph.kCore(edges, k = 2)
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("core_deg"))).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree empties the graph
    assert(graft.operators.Graph.kCore(edges, k = 4).count() == 0)
    // r19: local queue peel == distributed wave loop (the fixpoint is
    // unique; degrees must match row-multiplicity semantics exactly)
    val local = graft.operators.Graph.kCore(edges, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    DriverTier.withFallback {
      val dist = graft.operators.Graph.kCore(edges, k = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(local == dist, s"local $local vs distributed $dist")
    }
  }

  // ---- q138 skip-grams ----

  test("skip-grams count pairs within the rank band only, per user") {
    // user 1: a b c d with maxSkip=2 → ab ac bc bd cd (NOT ad: skip 3);
    // user 2: a b → ab. n_users(ab)=2.
    val events = ev(
      (1, "a", 10), (1, "b", 20), (1, "c", 30), (1, "d", 40),
      (2, "a", 10), (2, "b", 20))
    val got = graft.operators.Relational.skipGramPairs(events, maxSkip = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("n"), r.getAs[Long]("n_users")))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 2L)), ("a", "c") -> ((1L, 1L)),
      ("b", "c") -> ((1L, 1L)), ("b", "d") -> ((1L, 1L)),
      ("c", "d") -> ((1L, 1L))))
  }

  // ---- r12 additions: q176-q180 ----

  test("percentileCont interpolates between straddling order statistics") {
    // values 10,20,30,40: p25 at pos 0.75 → 10 + 0.75·10 = 17.5;
    // p50 at pos 1.5 → 25.0
    val df = Seq(("g", 10.0), ("g", 20.0), ("g", 30.0), ("g", 40.0))
      .toDF("grp", "v")
    val r = graft.operators.Relational
      .percentileCont(df, "grp", "v", Seq(0.25, 0.5)).collect().head
    assert(r.getAs[Double]("p25") == 17.5)
    assert(r.getAs[Double]("p50") == 25.0)
  }

  test("minMaxScale maps extremes to 0/1, degenerate groups to explicit 0.0") {
    val df = Seq(("a", 10.0), ("a", 20.0), ("a", 30.0), ("b", 7.0), ("b", 7.0))
      .toDF("grp", "v")
    val got = graft.operators.Relational
      .minMaxScale(df, "grp", "v", "s").collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Double]("v")) ->
        r.getAs[Double]("s")).toMap
    assert(got(("a", 10.0)) == 0.0 && got(("a", 30.0)) == 1.0 &&
      got(("a", 20.0)) == 0.5)
    assert(got(("b", 7.0)) == 0.0, "degenerate group must be 0.0, not NaN")
  }

  test("bounceRate counts single-event sessions per start day") {
    // user 1: events 10s apart (one 2-event session, day 1970-01-01);
    // user 2: one lone event same day; user 3: lone event next day
    val events = ev((1, "a", 100), (1, "b", 110), (2, "a", 200),
      (3, "a", 86400 + 100))
    val got = graft.operators.Relational
      .bounceRate(events, 12L * 3600 * 1000000).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("1970-01-01") == ((2L, 1L, 0.5)))
    assert(got("1970-01-02") == ((1L, 1L, 1.0)))
  }

  test("associationRules: confidence is directional, lift symmetric, minSupport cuts") {
    // A in 4 baskets, B in 2, co(A,B)=2 over N=5 customers:
    // conf(A→B)=0.5, conf(B→A)=1.0, lift = 2·5/(4·2)=1.25
    val baskets = Seq(
      (1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (4L, "A"), (5L, "C")).toDF("cust", "item")
    val got = graft.operators.Relational.associationRules(baskets, 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Double]("confidence"), r.getAs[Double]("lift")))).toMap
    assert(got(("A", "B")) == ((0.5, 1.25)))
    assert(got(("B", "A")) == ((1.0, 1.25)))
    assert(!got.contains(("A", "C")), "co=0 and co<minSupport pairs cut")
  }

  test("recsys packed Long keys == multi-column keys across id domains and under withFallback") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    import graft.operators.Relational
    // (cust, item) over ids 0..4 with co and sim ties; each domain maps
    // every id order-preservingly (ties break by id) and back
    val base = Seq((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L), (2L, 1L),
      (3L, 1L), (3L, 3L), (4L, 2L), (4L, 3L), (4L, 4L), (5L, 0L),
      (5L, 4L), (6L, 1L), (6L, 2L), (6L, 4L))
    val big = 1L << 31
    val domains: Seq[(String, DataType, Long => Any, Any => Long, Boolean)] = Seq(
      ("Long in [0, 2^31), packed", LongType, i => i, _.asInstanceOf[Long], false),
      ("Long in [0, 2^31), withFallback", LongType, i => i, _.asInstanceOf[Long], true),
      ("negative Long", LongType, _ - 100L, _.asInstanceOf[Long] + 100L, false),
      ("Long >= 2^31", LongType, _ + big, _.asInstanceOf[Long] - big, false),
      ("Int", IntegerType, _.toInt, _.asInstanceOf[Int].toLong, false),
      ("String", StringType, i => f"i$i%03d", _.asInstanceOf[String].tail.toLong, false))
    def idsBack(df: DataFrame, back: Any => Long): Set[Seq[Any]] =
      df.collect().map(r => r.toSeq.zipWithIndex.map {
        case (v, i) => if (i < 2) back(v) else v }).toSet
    val results = domains.map { case (name, dt, to, back, forced) =>
      val baskets = spark.createDataFrame(
        java.util.Arrays.asList(base.map { case (c, i) => Row(to(c), to(i)) }: _*),
        StructType(Seq(StructField("cust", dt), StructField("item", dt))))
      def run() = {
        val nbrs = Relational.itemNeighbors(baskets, 2)
        val packed = nbrs.queryExecution.analyzed.toString.contains("shiftleft")
        (packed, Seq(idsBack(nbrs, back),
          idsBack(Relational.associationRules(baskets, 1), back),
          idsBack(Relational.recommendItems(baskets, 2, 2), back)))
      }
      name -> (if (forced) DriverTier.withFallback(run()) else run())
    }
    val (refPacked, ref) = results.head._2
    assert(refPacked, "the in-range Long reference must take the packed keys")
    assert(ref.forall(_.nonEmpty))
    results.tail.foreach { case (name, (packed, got)) =>
      assert(!packed, s"$name must fall back to multi-column keys")
      assert(got == ref, s"$name diverged:\n got $got\n ref $ref")
    }
  }

  test("quantileNormalize maps each group onto the reference distribution") {
    // group a = {1,2,3,4}, group b = {100,200,300,400}; global N=8.
    // Each group's rank k of 4 maps to global position ceil(k·8/4) =
    // 2k → both groups normalize to the SAME values {2nd,4th,6th,8th}
    // of the global order = {2,4,200,400}
    val df = Seq(("a", 1.0, 1L), ("a", 2.0, 2L), ("a", 3.0, 3L), ("a", 4.0, 4L),
      ("b", 100.0, 5L), ("b", 200.0, 6L), ("b", 300.0, 7L), ("b", 400.0, 8L))
      .toDF("grp", "v", "id")
    val out = graft.operators.Relational
      .quantileNormalize(df, "grp", "v", "id", "q")
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Double]("v")) ->
        r.getAs[Double]("q")).toMap
    val expect = Map(1.0 -> 2.0, 2.0 -> 4.0, 3.0 -> 200.0, 4.0 -> 400.0)
    expect.foreach { case (v, q) =>
      assert(out(("a", v)) == q, s"a/$v -> ${out(("a", v))}")
      assert(out(("b", v * 100)) == q, s"b/${v * 100} -> ${out(("b", v * 100))}")
    }
    // after normalization the two groups carry the identical multiset
    assert(out.filterKeys(_._1 == "a").values.toSeq.sorted ==
      out.filterKeys(_._1 == "b").values.toSeq.sorted)
  }

  test("theilSen recovers an exact slope and shrugs off a planted outlier") {
    import java.sql.Date
    def grid(ys: Seq[Long]) = ys.zipWithIndex.map { case (y, i) =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), "g", y) }
      .toDF("day", "g", "cnt")
    // clean line y = 3x + 10 → every pairwise slope is exactly 3
    val clean = graft.operators.Relational
      .theilSen(grid((0 until 10).map(i => 10L + 3 * i)), "g")
      .collect().head
    assert(clean.getAs[Double]("slope_med") == 3.0)
    assert(clean.getAs[Long]("n_pairs") == 45)
    // one wild outlier (day 5 = 1000): OLS slope would swing hard;
    // the slope MEDIAN stays exactly 3 (outlier touches only 9 of 45
    // pairs — under the 29% breakdown point)
    val dirty = graft.operators.Relational
      .theilSen(grid((0 until 10).map(i =>
        if (i == 5) 1000L else 10L + 3 * i)), "g")
      .collect().head
    assert(dirty.getAs[Double]("slope_med") == 3.0)
  }

  test("ksDrift: identical halves → 0, disjoint supports → 1, exact D on a known split") {
    import java.sql.Timestamp
    def rows(vs: Seq[(Double, Boolean)]) = vs.zipWithIndex.map { case ((v, ref), i) =>
      (new Timestamp((if (ref) 1704067200L else 1706745600L) * 1000L), "g", v, i.toLong) }
      .toDF("ts", "g", "value", "event_id")
    val isRef = col("ts").cast("date") <= lit("2024-01-15").cast("date")
    // identical distributions on both sides → D = 0
    val same = graft.operators.Relational.ksDrift(
      rows((1 to 50).flatMap(i => Seq((i.toDouble, true), (i.toDouble, false)))),
      "g", "value", isRef).collect().head
    assert(same.getAs[Double]("ks_d") == 0.0)
    // disjoint supports → D = 1
    val disj = graft.operators.Relational.ksDrift(
      rows((1 to 50).map(i => (i.toDouble, true)) ++
        (1 to 50).map(i => (100.0 + i, false))),
      "g", "value", isRef).collect().head
    assert(disj.getAs[Double]("ks_d") == 1.0)
    // hand value: ref {1,2,3,4}, cur {3,4,5,6} → D = 1/2 at v=2
    val hand = graft.operators.Relational.ksDrift(
      rows(Seq(1.0, 2.0, 3.0, 4.0).map((_, true)) ++
        Seq(3.0, 4.0, 5.0, 6.0).map((_, false))),
      "g", "value", isRef).collect().head
    assert(hand.getAs[Double]("ks_d") == 0.5)
  }

  test("gini: equality → 0, extreme concentration → (n-1)/n") {
    val eq = Seq(("g", 10.0), ("g", 10.0), ("g", 10.0), ("g", 10.0))
      .toDF("grp", "v")
    val g0 = graft.operators.Relational.gini(eq, "grp", "v")
      .collect().head.getAs[Double]("gini")
    assert(g0 == 0.0)
    // one customer holds everything (others ~0): G → (n-1)/n = 0.75
    val ex = Seq(("g", 0.0), ("g", 0.0), ("g", 0.0), ("g", 100.0))
      .toDF("grp", "v")
    val g1 = graft.operators.Relational.gini(ex, "grp", "v")
      .collect().head.getAs[Double]("gini")
    assert(g1 == 0.75)
  }

  test("spearman: exact +1/-1 on monotone frames, rank-not-value robustness, tie averaging") {
    def rho(rows: Seq[(Double, Double)]): Double =
      graft.operators.Relational.spearman(
        rows.map { case (x, y) => ("g", x, y) }.toDF("grp", "x", "y"),
        "grp", "x", "y").collect().head.getAs[Double]("rho")
    // perfectly monotone — WILDLY nonlinear (x vs e^x shape) is still
    // exactly +1 because only the ranks enter
    assert(rho(Seq(1.0 -> 1.0, 2.0 -> 10.0, 3.0 -> 1e6, 4.0 -> 1e9)) == 1.0)
    assert(rho(Seq(1.0 -> 9.0, 2.0 -> 7.0, 3.0 -> 5.0, 4.0 -> 1.0)) == -1.0)
    // hand value with a tie on y: x = 1..4, y = (2, 5, 5, 9).
    // doubled ranks: rx = (2,4,6,8); ry = (2,5,5,8) (ties 2,3 average
    // to 2.5 → doubled 5). Pearson over those = 0.948683 (6dp).
    assert(rho(Seq(1.0 -> 2.0, 2.0 -> 5.0, 3.0 -> 5.0, 4.0 -> 9.0))
      == 0.948683)
  }

  test("mannWhitney: no-shift effect 0.5, total separation 0/1, hand U with ties") {
    import java.sql.Timestamp
    def mw(ref: Seq[Double], cur: Seq[Double]) =
      graft.operators.Relational.mannWhitney(
        (ref.map((_, true)) ++ cur.map((_, false))).map { case (v, r) =>
          (new Timestamp((if (r) 1704067200L else 1706745600L) * 1000L),
            "g", v) }.toDF("ts", "grp", "value"),
        "grp", "value",
        col("ts").cast("date") <= lit("2024-01-15").cast("date"))
        .collect().head
    // identical samples: U = n²/2, effect exactly 0.5
    val same = mw((1 to 9).map(_.toDouble), (1 to 9).map(_.toDouble))
    assert(same.getAs[Double]("u") == 40.5 &&
      same.getAs[Double]("effect") == 0.5)
    // reference strictly above current: U = n_a·n_b, effect 1
    val above = mw(Seq(10.0, 11.0, 12.0), Seq(1.0, 2.0))
    assert(above.getAs[Double]("u") == 6.0 &&
      above.getAs[Double]("effect") == 1.0)
    // reference strictly below: U = 0, effect 0
    val below = mw(Seq(1.0, 2.0), Seq(10.0, 11.0, 12.0))
    assert(below.getAs[Double]("u") == 0.0 &&
      below.getAs[Double]("effect") == 0.0)
    // textbook hand case with a cross-sample tie: ref {1,3}, cur {3,5}.
    // pooled doubled ranks: 1→2, 3→5 (avg 2.5), 3→5, 5→8.
    // 2R_ref = 7 → U = (7 − 2·3)/2 = 0.5 (the half from the tie);
    // effect = 0.5/4 = 0.125
    val hand = mw(Seq(1.0, 3.0), Seq(3.0, 5.0))
    assert(hand.getAs[Double]("u") == 0.5 &&
      hand.getAs[Double]("effect") == 0.125)
  }

  test("kendallTrend: monotone +1/-1, hand tau-b under ties, pair budget is days-choose-2") {
    import java.sql.Date
    def grid(ys: Seq[Long]) = ys.zipWithIndex.map { case (y, i) =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), "g", y) }
      .toDF("day", "g", "cnt")
    def kt(ys: Seq[Long]) = graft.operators.Relational
      .kendallTrend(grid(ys), "g").collect().head
    val up = kt(Seq(1L, 2L, 5L, 9L))
    assert(up.getAs[Double]("tau_b") == 1.0 &&
      up.getAs[Long]("n_conc") == 6 && up.getAs[Long]("n_tied") == 0)
    assert(kt(Seq(9L, 5L, 2L, 1L)).getAs[Double]("tau_b") == -1.0)
    // hand tie case y = (1, 2, 2, 3): pairs = 6, C = 5, D = 0, T = 1;
    // tau_b = 5/sqrt(6·5) = 0.912871
    val tied = kt(Seq(1L, 2L, 2L, 3L))
    assert(tied.getAs[Long]("n_conc") == 5 &&
      tied.getAs[Long]("n_disc") == 0 && tied.getAs[Long]("n_tied") == 1)
    assert(tied.getAs[Double]("tau_b") == 0.912871)
    // the fan-out is CALENDAR-bounded: n days → exactly n(n-1)/2 pairs
    val wide = kt((0 until 30).map(i => (i % 7).toLong))
    assert(wide.getAs[Long]("n_conc") + wide.getAs[Long]("n_disc") +
      wide.getAs[Long]("n_tied") == 435)
  }

  test("autocorrelation: period-3 series peaks at lag 3, linear ramp stays near 1") {
    import java.sql.Date
    def grid(ys: Seq[Long]) = ys.zipWithIndex.map { case (y, i) =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), "g", y) }
      .toDF("day", "g", "cnt")
    // 1,5,9 repeating for 30 days: at lag 3 every pair is (v, v) → acf
    // exactly 1; at lag 1 the pairing cycles (1,5),(5,9),(9,1) → negative
    val acf3 = graft.operators.Relational
      .autocorrelation(grid((0 until 30).map(i => Seq(1L, 5L, 9L)(i % 3))), "g", 3)
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Double]("acf")).toMap
    assert(acf3(3) == 1.0, s"lag-3 acf ${acf3(3)}")
    assert(acf3(1) < 0, s"lag-1 acf ${acf3(1)}")
    // pair count: 30-day grid, lag l → 30 − l pairs
    val ns = graft.operators.Relational
      .autocorrelation(grid((0 until 30).map(_.toLong)), "g", 3)
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Long]("n")).toMap
    assert(ns == Map(1 -> 29L, 2 -> 28L, 3 -> 27L))
  }

  test("cusumChangepoint lands on a planted step and reports exact level means") {
    import java.sql.Date
    def grid(ys: Seq[Long]) = ys.zipWithIndex.map { case (y, i) =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), "g", y) }
      .toDF("day", "g", "cnt")
    // 10 days at level 10, then 10 days at level 50: the centered
    // cumulative sum peaks exactly at the last low day (Jan 10)
    val r = graft.operators.Relational
      .cusumChangepoint(grid(Seq.fill(10)(10L) ++ Seq.fill(10)(50L)), "g")
      .collect().head
    assert(r.getAs[Date]("cp_day").toString == "2024-01-10")
    assert(r.getAs[Long]("n_days") == 20)
    assert(r.getAs[Double]("mean_before") == 10.0)
    assert(r.getAs[Double]("mean_after") == 50.0)
    // constant series: every centered cusum is 0 → earliest-day
    // tie-break, mean_before = mean_after = the level
    val flat = graft.operators.Relational
      .cusumChangepoint(grid(Seq.fill(5)(7L)), "g").collect().head
    assert(flat.getAs[Date]("cp_day").toString == "2024-01-01")
    assert(flat.getAs[Long]("cusum_int") == 0)
    assert(flat.getAs[Double]("mean_before") == 7.0 &&
      flat.getAs[Double]("mean_after") == 7.0)
  }

  test("welchT: hand t on a textbook two-sample case, identical samples t=0, small groups gated") {
    import java.sql.Timestamp
    def wt(ref: Seq[Double], cur: Seq[Double]) =
      graft.operators.Relational.welchT(
        (ref.map((_, true)) ++ cur.map((_, false))).map { case (v, r) =>
          (new Timestamp((if (r) 1704067200L else 1706745600L) * 1000L),
            "g", v) }.toDF("ts", "grp", "value"),
        "grp", "value",
        col("ts").cast("date") <= lit("2024-01-15").cast("date"))
        .collect()
    // ref {1,2,3}, cur {2,4,6}: ma=2 va=1, mb=4 vb=4; wa=1/3 wb=4/3;
    // t = -2/sqrt(5/3) = -1.549193; df = (5/3)²/((1/9)/2+(16/9)/2)
    //   = (25/9)/(17/18) = 50/17 = 2.941176
    val hand = wt(Seq(1.0, 2.0, 3.0), Seq(2.0, 4.0, 6.0)).head
    assert(hand.getAs[Double]("mean_diff") == -2.0)
    assert(hand.getAs[Double]("t") == -1.549193, s"t=${hand.getAs[Double]("t")}")
    assert(hand.getAs[Double]("df_w") == 2.941176)
    // identical samples → t exactly 0
    val same = wt(Seq(1.0, 5.0, 9.0), Seq(1.0, 5.0, 9.0)).head
    assert(same.getAs[Double]("t") == 0.0)
    // a side with n < 2 has no variance — the group is gated out
    assert(wt(Seq(1.0), Seq(2.0, 3.0)).isEmpty)
  }

  test("mutualInfo: independent tables read 0, determined tables read H, nmi in [0,1]") {
    // independence: every (a, b) combo equally likely → MI exactly 0
    val indep = (for { a <- Seq("x", "y"); b <- Seq(0L, 1L, 2L); _ <- 1 to 5 }
      yield (a, b)).toDF("ka", "kb")
    val r0 = graft.operators.Relational.mutualInfo(indep, "ka", "kb")
      .collect().head
    assert(r0.getAs[Double]("mi") == 0.0 && r0.getAs[Double]("nmi") == 0.0)
    // determination: b = f(a), both marginals uniform over 2 → MI = H = ln 2
    val det = Seq(("x", 0L), ("x", 0L), ("y", 1L), ("y", 1L)).toDF("ka", "kb")
    val r1 = graft.operators.Relational.mutualInfo(det, "ka", "kb")
      .collect().head
    val ln2 = math.rint(math.log(2) * 1e6) / 1e6
    assert(r1.getAs[Double]("mi") == ln2 && r1.getAs[Double]("h_a") == ln2 &&
      r1.getAs[Double]("nmi") == 1.0)
  }

  test("burstiness: periodic traffic reads B = -1, a planted burst pushes B and cv up") {
    // build with timestamp_micros for exact microsecond control
    def evsUs(gapsUs: Seq[Long]) = {
      val ts = gapsUs.scanLeft(1704067200000000L)(_ + _)
      ts.zipWithIndex.map { case (t, i) => (t, "g", i.toLong) }
        .toDF("tus0", "grp", "event_id")
        .select(expr("timestamp_micros(tus0)").as("ts"), col("grp"),
          col("event_id"))
    }
    // perfectly periodic: σ = 0 → cv 0, B = (0−μ)/(0+μ) = −1
    val per = graft.operators.Relational
      .burstiness(evsUs(Seq.fill(10)(1000000L)), "grp").collect().head
    assert(per.getAs[Long]("n_gaps") == 10)
    assert(per.getAs[Double]("mean_gap_s") == 1.0)
    assert(per.getAs[Double]("cv") == 0.0 &&
      per.getAs[Double]("burstiness") == -1.0)
    // one huge gap among tiny ones: cv > 1, B > 0 (bursty regime)
    val burst = graft.operators.Relational
      .burstiness(evsUs(Seq.fill(9)(1000L) :+ 60000000L), "grp")
      .collect().head
    assert(burst.getAs[Double]("cv") > 1.0 &&
      burst.getAs[Double]("burstiness") > 0.0)
  }

  test("partitionSkew: exact straggler ratio and bounds on a planted skew") {
    // keys: a×8, b×2, c×2, d×2 → med 2, max 8, ratio 4
    val df = (Seq.fill(8)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c") ++
      Seq.fill(2)("d")).toDF("k")
    val r = graft.operators.Relational.partitionSkew(df, col("k"))
      .collect().head
    assert(r.getAs[Long]("n_partitions") == 4 && r.getAs[Long]("n_rows") == 14)
    assert(r.getAs[Long]("rows_min") == 2 && r.getAs[Long]("rows_med") == 2 &&
      r.getAs[Long]("rows_max") == 8)
    assert(r.getAs[Double]("straggler_ratio") == 4.0)
    // uniform layout: ratio 1, gini 0
    val u = graft.operators.Relational.partitionSkew(
      (1 to 12).map(i => s"k${i % 4}").toDF("k"), col("k")).collect().head
    assert(u.getAs[Double]("straggler_ratio") == 1.0 &&
      u.getAs[Double]("gini") == 0.0)
  }

  test("spendDeciles: unique-ordered ntile fills tiles evenly with exact bounds") {
    // 20 customers, rev = 20..1: decile 1 = {20,19}, decile 10 = {2,1}
    val rev = (1 to 20).map(i =>
      (i.toLong, new java.math.BigDecimal(i).setScale(2)))
      .toDF("c_custkey", "rev")
      .select(col("c_custkey"), col("rev").cast("decimal(18,2)").as("rev"))
    val out = graft.operators.Relational.spendDeciles(rev).collect()
      .map(r => r.getAs[Int]("decile") -> r).toMap
    assert(out.size == 10 && out.values.forall(_.getAs[Long]("n_customers") == 2))
    assert(out(1).getAs[Double]("rev_max") == 20.0 &&
      out(1).getAs[Double]("rev_min") == 19.0 &&
      out(1).getAs[Double]("rev_total") == 39.0)
    assert(out(10).getAs[Double]("rev_min") == 1.0 &&
      out(10).getAs[Double]("rev_total") == 3.0)
  }

  test("conversionLag: times first qualifying purchase only, ignores pre-signup purchases") {
    import java.sql.Timestamp
    def e(tsSec: Long, tpe: String, user: Long, id: Long) =
      (new Timestamp(tsSec * 1000), tpe, user, id)
    // u1: signup at t=0, purchases at t=3600 and t=7200 → lag 3600 s;
    // u2: purchase BEFORE signup (excluded), then one 600 s after;
    // u3: signup only → never converts (absent)
    val base = 1704067200L // Mon 2024-01-01 → cohort week 2024-01-01
    val ev = Seq(
      e(base, "signup", 1, 1), e(base + 3600, "purchase", 1, 2),
      e(base + 7200, "purchase", 1, 3),
      e(base + 100, "purchase", 2, 4), e(base + 200, "signup", 2, 5),
      e(base + 800, "purchase", 2, 6),
      e(base + 50, "signup", 3, 7))
      .toDF("ts", "event_type", "user_id", "event_id")
    val out = graft.operators.Relational
      .conversionLag(ev, "signup", "purchase").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[java.sql.Date]("cohort").toString == "2024-01-01")
    assert(r.getAs[Long]("n_converted") == 2)
    // lags {3600, 600}: disc median = 600 (lower element), p90 = 3600
    assert(r.getAs[Double]("lag_med_s") == 600.0)
    assert(r.getAs[Double]("lag_p90_s") == 3600.0)
  }

  test("weightedMedian: weight mass moves the pick where the plain median stays") {
    import spark.implicits._
    // values 1..5, weight 1 each except v=5 carries 10: plain median 3,
    // weighted median 5 (10 of 14 total mass at 5; cum at 4 = 4·2=8 < 14)
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 1.0), (5.0, 10.0))
      .map { case (v, w) => ("g", v, w) }.toDF("grp", "v", "w")
    val r = graft.operators.Relational.weightedMedian(df, "grp", "v", "w")
      .collect().head
    assert(r.getAs[Double]("w_median") == 5.0)
    assert(r.getAs[Double]("total_weight") == 14.0)
    // uniform weights reduce to the lower-median disc element
    val u = (1 to 4).map(i => ("g", i.toDouble, 1.0)).toDF("grp", "v", "w")
    assert(graft.operators.Relational.weightedMedian(u, "grp", "v", "w")
      .collect().head.getAs[Double]("w_median") == 2.0)
  }

  test("cohortLtv: never-purchasers dilute LTV, periods accumulate, pre-signup revenue excluded") {
    import java.sql.Timestamp
    def e(tsSec: Long, tpe: String, user: Long, id: Long, v: Double = 0.0) =
      (new Timestamp(tsSec * 1000), tpe, user, id, v)
    val base = 1704067200L // Mon 2024-01-01
    val ev = Seq(
      e(base, "signup", 1, 1),
      e(base + 3600, "purchase", 1, 2, 10.0),            // period 0
      e(base + 30L * 86400, "purchase", 1, 3, 20.0),     // period 1
      e(base + 60, "signup", 2, 4),                      // same cohort, never buys
      e(base - 3600, "purchase", 3, 5, 99.0),            // u3 buys BEFORE signup
      e(base + 120, "signup", 3, 6))
      .toDF("ts", "event_type", "user_id", "event_id", "value")
    val out = graft.operators.Relational
      .cohortLtv(ev, "signup", "purchase").collect()
      .map(r => r.getAs[Long]("period") -> r).toMap
    // one cohort (week of Jan 1), 3 users; only u1's revenue counts
    assert(out.size == 2)
    assert(out(0L).getAs[Long]("n_users") == 3)
    assert(out(0L).getAs[Double]("rev_cum") == 10.0 &&
      out(0L).getAs[Double]("ltv") == math.rint(10.0 / 3 * 1e6) / 1e6)
    assert(out(1L).getAs[Double]("rev_period") == 20.0 &&
      out(1L).getAs[Double]("rev_cum") == 30.0 &&
      out(1L).getAs[Double]("ltv") == 10.0)
  }

  test("slaAttainment: shares are monotone in threshold with exact boundary handling") {
    import spark.implicits._
    // lags 10, 30, 31, 90, 91 → ≤30: 2/5, ≤60: 3/5, ≤90: 4/5
    val df = Seq(10L, 30L, 31L, 90L, 91L).map(("p", _)).toDF("grp", "lag")
    val r = graft.operators.Relational.slaAttainment(
      df, "grp", col("lag"), Seq(30, 60, 90)).collect().head
    assert(r.getAs[Long]("n_items") == 5)
    assert(r.getAs[Long]("n_within_30") == 2 && r.getAs[Double]("sla_30") == 0.4)
    assert(r.getAs[Long]("n_within_60") == 3 && r.getAs[Double]("sla_60") == 0.6)
    assert(r.getAs[Long]("n_within_90") == 4 && r.getAs[Double]("sla_90") == 0.8)
  }

  test("topKCoverage: exact shares on a planted concentration, k beyond keys saturates") {
    import java.sql.Timestamp
    // user 1 → 80 events, users 2..21 → 1 each: top-1 covers 0.8
    val ev = ((1 to 80).map(_ => 1L) ++ (2L to 21L)).zipWithIndex
      .map { case (u, i) => (new Timestamp(1704067200000L + i), u, i.toLong) }
      .toDF("ts", "user_id", "event_id")
    val out = graft.operators.Relational
      .topKCoverage(ev, "user_id", Seq(1, 10, 1000)).collect()
      .map(r => r.getAs[Int]("k") -> r).toMap
    assert(out(1).getAs[Long]("covered") == 80 &&
      out(1).getAs[Double]("coverage") == 0.8)
    assert(out(10).getAs[Long]("covered") == 89) // 80 + 9 singletons
    // k past the key count saturates at full coverage with all keys in cut
    assert(out(1000).getAs[Long]("n_in_cut") == 21 &&
      out(1000).getAs[Double]("coverage") == 1.0)
  }

  test("kmSurvival: hand product-limit curve, censored tail holds S flat") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(d: String) = Timestamp.valueOf(s"$d 00:00:00")
    // s1,s2: dur 10 (events); s3: dur 20 (event); s4: dur 40 ending at
    // the horizon (censored). S(10)=1·(1−2/4)=0.5, S(20)=0.5·(1−1/2)=0.25,
    // S(40)=0.25 (censoring consumes no survival mass).
    val ev = Seq(
      (1L, t("2024-01-01")), (1L, t("2024-01-11")),
      (2L, t("2024-01-01")), (2L, t("2024-01-11")),
      (3L, t("2024-01-01")), (3L, t("2024-01-21")),
      (4L, t("2024-01-10")), (4L, t("2024-02-19"))).toDF("u", "ts")
    val out = graft.operators.Relational.kmSurvival(ev, "u", "ts", 14)
      .collect().map(r => r.getAs[Long]("dur_d") -> r).toMap
    assert(out(10L).getAs[Long]("n_risk") == 4 &&
      out(10L).getAs[Long]("d_events") == 2 &&
      out(10L).getAs[Double]("survival") == 0.5)
    assert(out(20L).getAs[Long]("n_risk") == 2 &&
      out(20L).getAs[Double]("survival") == 0.25)
    assert(out(40L).getAs[Long]("n_cens") == 1 &&
      out(40L).getAs[Double]("survival") == 0.25)
  }

  test("kmSurvival: fully-observed risk set dies out to exactly 0.0, not ln(0)") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(d: String) = Timestamp.valueOf(s"$d 00:00:00")
    val ev = Seq(
      (1L, t("2024-01-01")), (1L, t("2024-01-11")),
      (2L, t("2024-01-01")), (2L, t("2024-01-21"))).toDF("u", "ts")
    // censorGap 0: every subject is an observed event; the last risk
    // set dies entirely → survival pinned to literal 0.0
    val out = graft.operators.Relational.kmSurvival(ev, "u", "ts", 0)
      .collect().map(r => r.getAs[Long]("dur_d") -> r).toMap
    assert(out(10L).getAs[Double]("survival") == 0.5)
    assert(out(20L).getAs[Long]("d_events") == 1 &&
      out(20L).getAs[Double]("survival") == 0.0)
  }

  test("anovaF: textbook three-group F, identical groups read F=0") {
    import spark.implicits._
    // a:[1,2,3] b:[2,3,4] c:[3,4,5] → SSB=6, SSW=6, F=(6/2)/(6/6)=3, η²=0.5
    val df = Seq("a" -> 1, "a" -> 2, "a" -> 3, "b" -> 2, "b" -> 3, "b" -> 4,
      "c" -> 3, "c" -> 4, "c" -> 5).map { case (g, v) => (g, v.toDouble) }
      .toDF("grp", "v")
    val r = graft.operators.Relational.anovaF(df, "grp", "v").collect().head
    assert(r.getAs[Long]("k") == 3 && r.getAs[Long]("n") == 9)
    assert(r.getAs[Double]("grand_mean") == 3.0)
    assert(r.getAs[Double]("f_stat") == 3.0 &&
      r.getAs[Double]("eta_sq") == 0.5)
    val same = Seq("a" -> 1.0, "a" -> 2.0, "b" -> 1.0, "b" -> 2.0).toDF("grp", "v")
    val r2 = graft.operators.Relational.anovaF(same, "grp", "v").collect().head
    assert(r2.getAs[Double]("f_stat") == 0.0 && r2.getAs[Double]("eta_sq") == 0.0)
  }

  test("cramersV: perfect association reads 1, exact independence reads 0") {
    import spark.implicits._
    val det = (1 to 5).flatMap(_ => Seq(("a1", "b1"), ("a2", "b2")))
      .toDF("x", "y")
    val r1 = graft.operators.Relational.cramersV(det, Seq(("x", "y")))
      .collect().head
    assert(r1.getAs[Double]("v") == 1.0 && r1.getAs[Long]("dof") == 1)
    val ind = (1 to 5).flatMap(_ =>
      Seq(("a1", "b1"), ("a1", "b2"), ("a2", "b1"), ("a2", "b2"))).toDF("x", "y")
    val r0 = graft.operators.Relational.cramersV(ind, Seq(("x", "y")))
      .collect().head
    assert(r0.getAs[Double]("chi2") == 0.0 && r0.getAs[Double]("v") == 0.0)
  }

  test("rateAnomaly: planted burst key flagged, steady key not") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = 1704067200000L
    // user 1: 10 events inside one minute + 10 across 10 other minutes
    // → max 10, mean 20/11, ratio 5.5 ≥ 3 → flagged
    val bursty = (1 to 10).map(i => (1L, new Timestamp(base + i * 100))) ++
      (1 to 10).map(i => (1L, new Timestamp(base + i * 600000L)))
    // user 2: 5 events in 5 distinct minutes → ratio 1 → clean
    val steady = (1 to 5).map(i => (2L, new Timestamp(base + i * 60000L)))
    val out = graft.operators.Relational.rateAnomaly(
      (bursty ++ steady).toDF("user_id", "ts"), "user_id", "ts")
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Long]("max_per_min") == 10 &&
      out(1L).getAs[Int]("flagged") == 1)
    assert(out(2L).getAs[Long]("max_per_min") == 1 &&
      out(2L).getAs[Int]("flagged") == 0)
  }

  test("adamicAdar: hand scores, singleton and whale baskets excluded") {
    import spark.implicits._
    // o1={1,2} (w=1/ln2), o2={1,2,3} (w=1/ln3), o3={1} (excluded: size 1)
    val edges = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L), (20L, 3L),
      (30L, 1L)).toDF("o", "p")
    val out = graft.operators.Relational.adamicAdar(edges, "o", "p")
      .collect().map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) -> r).toMap
    val w2 = 1.0 / math.log(2.0); val w3 = 1.0 / math.log(3.0)
    assert(out((1L, 2L)).getAs[Long]("n_common") == 2)
    assert(math.abs(out((1L, 2L)).getAs[Double]("aa_score") - (w2 + w3)) < 1e-9)
    assert(math.abs(out((1L, 3L)).getAs[Double]("aa_score") - w3) < 1e-9)
    // whale basket: with maxBasket=3 an order of 4 items contributes nothing
    val whale = (1L to 4L).map((40L, _)).toDF("o", "p")
    assert(graft.operators.Relational.adamicAdar(whale, "o", "p", maxBasket = 3)
      .count() == 0)
  }

  test("repurchaseIntervals: hand gaps, first orders contribute no interval") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(d: String) = Timestamp.valueOf(s"$d 00:00:00")
    val orders = Seq(
      (1L, t("2024-01-01"), 101L), (1L, t("2024-01-11"), 102L),
      (1L, t("2024-01-21"), 103L),
      (2L, t("2024-02-01"), 201L), (2L, t("2024-02-06"), 202L))
      .toDF("ck", "od", "ok")
    val dims = Seq((1L, "S"), (2L, "S")).toDF("k", "seg")
    val r = graft.operators.Relational.repurchaseIntervals(
      orders, dims, "ck", "od", "ok", "seg", "k").collect().head
    assert(r.getAs[Long]("n_intervals") == 3 && r.getAs[Long]("n_customers") == 2)
    assert(r.getAs[Double]("mean_days") == 8.333333)
    assert(r.getAs[Double]("p50_days") == 10.0)
  }

  test("blockingQuality: candidate pairs and reduction ratio are exact") {
    import spark.implicits._
    // blocks of size 3, 2, 1 → candidates 3+1+0 = 4 vs naive 15
    val df = Seq("x", "x", "x", "y", "y", "z").toDF("bk0")
    val r = graft.ext.Entity.blockingQuality(df, col("bk0")).collect().head
    assert(r.getAs[Long]("n_records") == 6 && r.getAs[Long]("n_blocks") == 3)
    assert(r.getAs[Long]("n_candidates") == 4 && r.getAs[Long]("n_naive") == 15)
    assert(r.getAs[Long]("max_block") == 3)
    assert(r.getAs[Double]("reduction_ratio") == 0.733333)
  }

  test("cohenKappa: perfect agreement 1, marginal-chance agreement 0, degenerate null") {
    import spark.implicits._
    val same = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")).toDF("x", "y")
    val r1 = graft.operators.Relational.cohenKappa(same, col("x"), col("y"))
      .collect().head
    assert(r1.getAs[Double]("po") == 1.0 && r1.getAs[Double]("kappa") == 1.0)
    val chance = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")).toDF("x", "y")
    val r0 = graft.operators.Relational.cohenKappa(chance, col("x"), col("y"))
      .collect().head
    assert(r0.getAs[Double]("kappa") == 0.0)
    val const = Seq(("a", "a"), ("a", "a")).toDF("x", "y")
    val rn = graft.operators.Relational.cohenKappa(const, col("x"), col("y"))
      .collect().head
    assert(rn.isNullAt(rn.fieldIndex("kappa")))
  }

  test("twap: holding-time weights beat the plain mean, singleton keys excluded") {
    import spark.implicits._
    import java.sql.Timestamp
    // key 1: v=10 held 10s, v=20 held 30s → (100+600)/40 = 17.5
    // (plain mean of observed readings would say 20)
    val df = Seq(
      (1L, new Timestamp(0L), 10.0, 1L),
      (1L, new Timestamp(10000L), 20.0, 2L),
      (1L, new Timestamp(40000L), 30.0, 3L),
      (2L, new Timestamp(0L), 99.0, 4L)).toDF("k", "ts", "v", "id")
    val out = graft.operators.Relational.twap(df, "k", "ts", "v", "id")
      .collect()
    assert(out.length == 1, "singleton key 2 must be excluded")
    val r = out.head
    assert(r.getAs[Long]("k") == 1L && r.getAs[Long]("n_events") == 3)
    assert(r.getAs[Long]("span_us") == 40000000L)
    assert(r.getAs[Double]("twap") == 17.5)
  }

  test("corrMatrix: perfect linear pair reads r=1 with the exact slope, anti reads -1") {
    import spark.implicits._
    // y = 2x exactly; z = -x exactly
    val df = (1 to 5).map(i => (i.toDouble, 2.0 * i, -i.toDouble))
      .toDF("a", "b", "c")
    val out = graft.operators.Relational.corrMatrix(df,
      Seq(("a", "b"), ("a", "c"))).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("a", "b")).getAs[Double]("r") == 1.0)
    assert(out(("a", "b")).getAs[Double]("beta_xy") == 2.0)
    assert(out(("a", "c")).getAs[Double]("r") == -1.0 &&
      out(("a", "c")).getAs[Double]("beta_xy") == -1.0)
  }

  test("growthAccounting: new/retained/resurrected/churned on a scripted three-week story") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(d: String) = Timestamp.valueOf(s"$d 12:00:00")
    // weeks: W1=2024-01-01, W2=01-08, W3=01-15 (Mondays)
    // u1: W1,W2,W3 (retained twice); u2: W1 only (churns in W2);
    // u3: W1, gone W2, back W3 (resurrected)
    val ev = Seq(
      (1L, t("2024-01-02")), (1L, t("2024-01-09")), (1L, t("2024-01-16")),
      (2L, t("2024-01-03")),
      (3L, t("2024-01-04")), (3L, t("2024-01-17"))).toDF("u0", "ts")
    val out = graft.operators.Relational.growthAccounting(ev, "u0", "ts")
      .collect().map(r => r.getAs[java.sql.Date]("wk").toString -> r).toMap
    val w1 = out("2024-01-01"); val w2 = out("2024-01-08"); val w3 = out("2024-01-15")
    assert(w1.getAs[Long]("n_new") == 3 && w1.getAs[Long]("n_churned") == 0)
    assert(w2.getAs[Long]("n_retained") == 1 && w2.getAs[Long]("n_churned") == 2)
    assert(w2.getAs[Double]("quick_ratio") == 0.0)
    assert(w3.getAs[Long]("n_retained") == 1 &&
      w3.getAs[Long]("n_resurrected") == 1 && w3.getAs[Long]("n_new") == 0)
  }

  test("stickiness: hand DAU/MAU, a daily-faithful user reads 1.0 alone") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(d: String) = Timestamp.valueOf(s"$d 09:00:00")
    // Jan: u1 active on the 1st and 2nd (2 days), u2 on the 1st only
    // → days {1st: dau 2, 2nd: dau 1}, sum 3, n_days 2, mau 2
    val ev = Seq((1L, t("2024-01-01")), (1L, t("2024-01-02")),
      (1L, t("2024-01-02")), (2L, t("2024-01-01"))).toDF("u0", "ts")
    val r = graft.operators.Relational.stickiness(ev, "u0", "ts")
      .collect().head
    assert(r.getAs[Long]("n_days") == 2 && r.getAs[Long]("mau") == 2)
    assert(r.getAs[Double]("avg_dau") == 1.5 &&
      r.getAs[Double]("stickiness") == 0.75)
    val solo = Seq((1L, t("2024-02-01")), (1L, t("2024-02-02"))).toDF("u0", "ts")
    val r2 = graft.operators.Relational.stickiness(solo, "u0", "ts")
      .collect().head
    assert(r2.getAs[Double]("stickiness") == 1.0)
  }

  test("abcClassification: boundary-exact Pareto classes across a multi-partition prefix sum") {
    import spark.implicits._
    // revs 50/30/15/5 → cum shares 0.5, 0.8, 0.95, 1.0 → A,A,B,C
    // (both cuts land EXACTLY on the ≤ boundary); parts=3 forces the
    // two-phase offsets across range partitions
    val fact = Seq((1L, 50.0), (2L, 30.0), (3L, 15.0), (4L, 5.0))
      .toDF("k0", "v")
    val out = graft.operators.Relational.abcClassification(
      fact, "k0", col("v"), parts = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Long]("n_items") == 2 &&
      out("A").getAs[Double]("class_rev") == 80.0 &&
      out("A").getAs[Double]("rev_share") == 0.8)
    assert(out("B").getAs[Long]("n_items") == 1 &&
      out("B").getAs[Double]("class_rev") == 15.0)
    assert(out("C").getAs[Long]("n_items") == 1 &&
      out("C").getAs[Double]("rev_share") == 0.05)
  }

  test("degreeDistribution: duplicate edges collapse, cumulative share reaches 1") {
    import spark.implicits._
    val edges = Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 30L)).toDF("n", "p")
    val out = graft.operators.Relational.degreeDistribution(edges, "n", "p")
      .collect()
    assert(out.map(_.getAs[Long]("deg")).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(_.getAs[Long]("n_nodes") == 1L))
    assert(out.last.getAs[Double]("cum_share") == 1.0)
    assert(out.head.getAs[Double]("share") == 0.333333)
  }

  test("q273: PageRank invariant row — node count, conservation, positivity (r17 gate)") {
    val r = graft.operators.Graph.q273(spark, sf("sf0.001")).collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) > 0, "empty co-order graph")
    assert(r.head.getBoolean(1), "rank mass not conserved")
    assert(r.head.getBoolean(2), "non-positive rank")
  }


  test("connectedComponents raises past its round budget instead of splitting (r17)") {
    import spark.implicits._
    // force the DISTRIBUTED loop: the round-budget contract is a
    // property of the propagation engine; the r19 local union-find
    // fast path has no rounds to exhaust
    DriverTier.withFallback {
      val chain = spark.range(30).selectExpr("id AS src", "id + 1 AS dst")
      val e = intercept[IllegalStateException] {
        graft.operators.Graph.connectedComponents(chain, maxIter = 5).count()
      }
      assert(e.getMessage.contains("connectedComponentsStar"), e.getMessage)
      // the star form handles the same chain fine
      val cc = graft.operators.Graph.connectedComponentsStar(chain)
      assert(cc.filter(org.apache.spark.sql.functions.col("component") === 0L)
        .count() == 31L)
    }
  }

  test("connectedComponents accepts a graph settling in EXACTLY maxIter rounds (r18)") {
    // labels on a k-edge path settle after exactly k productive rounds,
    // but convergence is observable only one round later — the budget
    // check must not condemn correct output (r18 ADVICE fix: one extra
    // observation round before throwing). Distributed loop forced: the
    // observation-round behavior is what this pins.
    DriverTier.withFallback {
      val chain = spark.range(5).selectExpr("id AS src", "id + 1 AS dst")
      val cc = graft.operators.Graph.connectedComponents(chain, maxIter = 5)
      assert(cc.filter(org.apache.spark.sql.functions.col("component") === 0L)
        .count() == 6L)
    }
  }

  test("local union-find CC == distributed propagation/star on mixed graphs (r19)") {
    import spark.implicits._
    // mixed shapes: path, clique edge, singleton self-loop, two
    // components, long-vs-string typed ids — the local fast path must
    // be row-identical to both distributed engines
    val edgesL = Seq((2L, 1L), (2L, 3L), (3L, 4L), (9L, 8L), (5L, 5L))
      .toDF("src", "dst")
    val edgesS = Seq(("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"),
      ("z", "z")).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val local = graft.operators.Graph.connectedComponents(df)
        .collect().map(r => (r.get(0), r.get(1))).toSet
      val localStar = graft.operators.Graph.connectedComponentsStar(df)
        .collect().map(r => (r.get(0), r.get(1))).toSet
      DriverTier.withFallback {
        val dist = graft.operators.Graph.connectedComponents(df, 60)
          .collect().map(r => (r.get(0), r.get(1))).toSet
        val distStar = graft.operators.Graph.connectedComponentsStar(df)
          .collect().map(r => (r.get(0), r.get(1))).toSet
        assert(local == dist, s"local $local vs distributed $dist")
        assert(localStar == distStar, s"local-star $localStar vs $distStar")
      }
    }
    run(edgesL)
    run(edgesS)
    // a random shallow graph with hash-spread long ids
    run(spark.range(400).selectExpr(
      "pmod(xxhash64(id), 300) AS src", "pmod(xxhash64(id, 1), 300) AS dst"))
  }

}
