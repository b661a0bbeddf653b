package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DriverTier
import graft.sources.Tables

/** Graph operators — iterative DataFrame algorithms under the oracle
  * gate. The engine's connected components has served as q28's
  * internal clustering step since r4 (`NearDup.nearDupGroups`); this
  * file exposes the algorithm as a FIRST-CLASS generic operator over
  * any edge frame and puts it directly under the DuckDB gate (q105),
  * the oracle rebuilding reachability with a recursive CTE.
  *
  * Algorithm: iterative min-label propagation — label(v) starts as v,
  * each round takes the min of v's label and its neighbors' labels,
  * until a fixpoint. Rounds are whole-frame hash joins + aggregations
  * (no driver-side graph walk): each iteration is one shuffle on the
  * edge key and one on the node key, so a round costs O(|E|+|V|)
  * shuffled bytes and the iteration count is bounded by the longest
  * shortest-path to each component's minimum (≤ graph diameter) — the
  * Spark-idiomatic CC that GraphX's Pregel runs under the hood, here
  * in pure DataFrame ops so AQE/codegen apply. Convergence is checked
  * with a full count of changed labels per round (materializes the
  * new cache before the old is released — the r4 lineage doctrine).
  *
  * 100 TB: propagation carries edge ENDPOINTS only (q28's lesson —
  * isolated nodes can never change label and rejoin as identity at the
  * end); each round's frames are persisted and the previous round
  * released, so lineage stays O(1) deep. For ADVERSARIAL diameters the
  * path-compression form is implemented as
  * [[connectedComponentsStar]] (large-star/small-star, Kiveris et al.
  * 2014, "Connected Components in MapReduce and Beyond"): round count
  * ~log(diameter) instead of ~diameter — measured 18/21/23 rounds on
  * planted chains of 10⁵/10⁶/4·10⁶ nodes where propagation would need
  * the full diameter (127 rounds / 32 s for a 128-node chain). Near-dup
  * and entity-resolution graphs are overwhelmingly shallow (tight
  * cliques of spelling variants), where plain propagation converges in
  * 2–4 rounds at 2 shuffles/round vs the star form's 4 — so q105 and
  * `nearDupGroups` keep propagation (measured faster there) and deep
  * graphs get the star form.
  */
object Graph {

  /** Union-find (path-halving + union by rank) over a collected edge
    * list; maps every endpoint to the MINIMUM reachable id under `cmp`
    * — exactly the distributed propagation/contraction fixpoint. */
  private def unionFindMin(pairs: Array[(Any, Any)],
      cmp: (Any, Any) => Int): Array[(Any, Any)] = {
    import scala.collection.mutable
    val index = mutable.HashMap.empty[Any, Int]
    val vals = mutable.ArrayBuffer.empty[Any]
    val parent = mutable.ArrayBuffer.empty[Int]
    val rank = mutable.ArrayBuffer.empty[Int]
    def idOf(v: Any): Int = index.getOrElseUpdate(v, {
      vals += v; parent += parent.length; rank += 0; vals.length - 1 })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    pairs.foreach { case (a, b) =>
      val ra = find(idOf(a)); val rb = find(idOf(b))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(rb) < rank(ra)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
    val minOf = mutable.HashMap.empty[Int, Any]
    var i = 0
    while (i < vals.length) {
      val r = find(i); val v = vals(i)
      val m = minOf.get(r)
      if (m.isEmpty || cmp(v, m.get) < 0) minOf(r) = v
      i += 1
    }
    Array.tabulate(vals.length)(k => (vals(k), minOf(find(k))))
  }

  /** (id, component) LocalRelation from a driver-side label map. */
  private def labelFrame(spark: SparkSession,
      dt: org.apache.spark.sql.types.DataType,
      labels: Array[(Any, Any)]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    DriverTier.localFrame(spark,
      StructType(Seq(StructField("id", dt), StructField("component", dt))),
      labels.toSeq.map { case (v, m) => org.apache.spark.sql.Row(v, m) })
  }

  /** Connected components over an undirected edge frame.
    *
    * @param edges two-column frame (src, dst) of any orderable type;
    *              treated as undirected (both directions are added
    *              here — callers pass each edge once in either
    *              orientation).
    * @return (id, component) for every node appearing in `edges`;
    *         component = the minimum node id reachable. Isolated
    *         nodes never appear in an edge frame — callers union
    *         them back as their own singleton component (see q105).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val Seq(srcCol, dstCol) = edges.columns.toSeq.take(2)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val adjWide = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    val nEdges = adjWide.count() // materialize; iterations must not recompute
    // Driver tier (DriverTier.Edges): the edge set is the bounded
    // decision state, so one driver-side union-find pass replaces the
    // propagation rounds — exact at any diameter, so no round budget.
    // Null endpoints keep the distributed loop (they never join there).
    val dt = e.schema("src").dataType
    for (cmp <- DriverTier.sparkOrder(dt);
         rows <- DriverTier.collectIfBounded(adjWide, nEdges, DriverTier.Edges)
         if !rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
      adjWide.unpersist()
      return labelFrame(edges.sparkSession, dt,
        unionFindMin(rows.map(r => (r.get(0), r.get(1))), cmp))
    }
    // Pre-partition the LOOP-INVARIANT adjacency by its join key, sized
    // ~100k edge rows/partition (capped at the session parallelism):
    // every round joins adj("dst") = labels("id"), and a frame already
    // hash-partitioned on dst satisfies that Exchange requirement — so
    // the O(|E|) side is shuffled ONCE here and only the O(|V|) label
    // frame moves per round. At toy sizes this also collapses the loop
    // to single-task stages. (Wall-clock at q105's 64-node graph is
    // job-round-trip-bound either way — ~5.5-7 s at local[32], flat in
    // data; the win is the big-graph shuffle-volume asymptote.)
    val loopParts = math.max(1, math.min(
      edges.sparkSession.sessionState.conf.numShufflePartitions,
      (nEdges / 100000L).toInt + 1))
    val adj = adjWide.repartition(loopParts, col("dst")).persist()
    adj.count()
    adjWide.unpersist()
    // each round references `labels` twice (the join + the neighbor
    // aggregate), so a persist alone leaves the LOGICAL plan doubling
    // per round — exponential in rounds (2²⁰ nodes at the default cap;
    // measured OOM in Catalyst's treeString at ~15 rounds on a random
    // graph before this cut). localCheckpoint(true) materializes AND
    // truncates lineage — the q130 doctrine applied to the loop frame.
    var labels = adj.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component")).localCheckpoint(true)
    var converged = false
    var iter = 0
    // ONE body for the propagation round — the loop and the post-loop
    // observation below must test the SAME function (r18 review: a
    // copy-pasted observation could silently drift from the loop)
    def propagate(ls: DataFrame): DataFrame = {
      val nbrMin = adj.join(ls, adj("dst") === ls("id"))
        .groupBy(adj("src").as("id2")).agg(min("component").as("nbr"))
      ls.join(nbrMin, ls("id") === nbrMin("id2"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr"), col("component")))
            .as("component"),
          col("component").as("prev"))
        .localCheckpoint(true)
    }
    while (!converged && iter < maxIter) {
      val next = propagate(labels)
      val changed = next.filter(col("component") =!= col("prev")).count()
      labels = next.drop("prev")
      converged = changed == 0
      iter += 1
    }
    // Convergence is only OBSERVABLE one round after the labels settle
    // (the last productive round has changed > 0), so a graph whose
    // diameter is exactly maxIter exits the loop with fully-correct
    // labels and converged = false. Run ONE extra observation round
    // before condemning the result: if it moves nothing, the budget
    // sufficed (r18 ADVICE fix — previously threw on correct output).
    // Labels stay the pre-observation frame either way.
    if (!converged)
      converged = propagate(labels)
        .filter(col("component") =!= col("prev")).isEmpty
    adj.unpersist()
    // fail FAST instead of silently returning partial components: a
    // graph whose diameter exceeds the round budget would otherwise
    // hand back split clusters with no error (r17; the star form is
    // the right tool for deep graphs — say so in the error)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "the graph is deeper than the propagation budget; use " +
          "connectedComponentsStar (log-diameter rounds) or raise maxIter")
    labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al. 2014) — the deep-diameter form: round
    * count grows ~log(diameter) where [[connectedComponents]]'
    * propagation needs ~diameter rounds. Identical output contract:
    * (id, component = min reachable id) for every node in `edges`.
    *
    * Per round (all whole-frame DataFrame ops, no driver graph walk):
    *  - LARGE-STAR: every node attaches its strictly-LARGER neighbors
    *    to m = min(Γ(u) ∪ {u}) — doubling-style shortcuts toward the
    *    component minimum; emitted edges stay canonical (hi > lo).
    *  - SMALL-STAR: every node attaches its smaller neighbors and
    *    itself to its minimum smaller neighbor — compacting the
    *    partial trees into stars.
    * Both phases only ever move an endpoint to a SMALLER node, so the
    * component minimum is a fixpoint; converged when NEITHER phase
    * moves an edge (each phase's move count is one cheap aggregate on
    * a frame the round materializes anyway). Lineage is cut per round
    * (persist new / unpersist old, the r4 doctrine); cost is ~4
    * shuffles/round on a frame that SHRINKS toward |V| star edges —
    * vs propagation's 2/round × diameter rounds. Use this for graphs
    * that can be deep (web graphs, citation chains, transaction
    * lineage); keep propagation for known-shallow similarity graphs
    * (its per-round cost is lower and shallow graphs finish in 2–4). */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // Driver tier (DriverTier.Edges): resolve a bounded canonical edge
    // set with one union-find pass. The canonical frame is built ONCE
    // (checkpointed) and handed to the distributed loop when over the
    // cap, so that case pays no extra shuffle. ccStarWithRounds stays
    // the raw distributed engine (its round counts are pinned by tests
    // and the ScaleBench cc curve).
    val Seq(srcCol, dstCol) = edges.columns.toSeq.take(2)
    val dt = edges.schema(srcCol).dataType
    val cmp = DriverTier.sparkOrder(dt) match {
      case Some(c) => c
      case None => return ccStarWithRounds(edges, maxIter)._1
    }
    val canon = ccCanonEdges(edges, srcCol, dstCol)
    DriverTier.collectIfBounded(canon, canon.count(), DriverTier.Edges) match {
      case Some(rows) =>
        // canonicalization already dropped null-involved and self-loop
        // rows; self-loop-only / isolated endpoints rejoin as singletons
        // from the node set, exactly like the distributed tail
        val uf = unionFindMin(rows.map(r => (r.get(0), r.get(1))), cmp).toMap
        val nodes = edges.select(col(srcCol).as("id"))
          .union(edges.select(col(dstCol).as("id"))).distinct().collect()
        labelFrame(edges.sparkSession, dt, nodes.map { r =>
          val v = r.get(0); (v, uf.getOrElse(v, v)) })
      case None => ccStarLoop(canon, edges, srcCol, dstCol, maxIter)._1
    }
  }

  /** Canonical (hi > lo) distinct edge frame, checkpointed — the star
    * loop's round-0 state. */
  private def ccCanonEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(
        greatest(col(srcCol), col(dstCol)).as("hi"),
        least(col(srcCol), col(dstCol)).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct().localCheckpoint(true)

  /** [[connectedComponentsStar]] + the round count (curve/test hook);
    * always the DISTRIBUTED engine — round-count assertions depend on
    * it. */
  private[graft] def ccStarWithRounds(edges: DataFrame,
      maxIter: Int = 50): (DataFrame, Int) = {
    val Seq(srcCol, dstCol) = edges.columns.toSeq.take(2)
    ccStarLoop(ccCanonEdges(edges, srcCol, dstCol), edges, srcCol, dstCol,
      maxIter)
  }

  private def ccStarLoop(e0: DataFrame, edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int): (DataFrame, Int) = {
    // each round references `e` ~5×, so lineage MUST be truncated per
    // round (the q130 localCheckpoint doctrine) — a persist alone
    // leaves the logical plan growing ~5× per round, which is
    // exponential in rounds (measured: OOM in Catalyst's explainString
    // at round ~10 on a 512-chain before this cut)
    var e = e0
    var rounds = 0
    var done = false
    while (!done && rounds < maxIter) {
      // LARGE-STAR over the bidirectional view
      val d = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mu = d.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = d.join(mu, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"),
          (col("m") =!= col("u")).as("moved"))
        .localCheckpoint(true)
      val movedLs = ls.filter(col("moved")).count()
      val lsE = ls.select("hi", "lo").distinct()
      // SMALL-STAR on the canonical pairs, keyed at the larger end
      val mn = lsE.groupBy("hi").agg(min("lo").as("mn"))
      val withMn = lsE.join(mn, "hi").localCheckpoint(true)
      val movedSs = withMn.filter(col("lo") =!= col("mn")).count()
      e = withMn.select(col("lo").as("hi"), col("mn").as("lo"))
        .union(mn.select(col("hi"), col("mn").as("lo")))
        .filter(col("hi") =!= col("lo"))
        .distinct().localCheckpoint(true)
      rounds += 1
      // fixpoint ⟺ neither phase moved an edge: every node then has
      // either only-larger neighbors (a root) or exactly one smaller
      // neighbor and no larger (a leaf) — a disjoint star forest
      done = movedLs == 0 && movedSs == 0
    }
    // stars: every non-root appears exactly once as hi with lo = root
    val roots = e.select(col("lo")).distinct()
      .join(e.select(col("hi")).distinct(), col("lo") === col("hi"), "left_anti")
    val stars = e.select(col("hi").as("id"), col("lo").as("component"))
      .union(roots.select(col("lo").as("id"), col("lo").as("component")))
    // parity with [[connectedComponents]]: a node seen ONLY in
    // self-loop edges was dropped at canonicalization — rejoin it as
    // its own singleton (one |V|-sized anti-join, outside the loop)
    val nodes = edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id"))).distinct()
    val labels = stars.union(
      nodes.join(stars.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
    val out = labels.localCheckpoint(true)
    (out, rounds)
  }

  /** Triangle counting over an undirected edge frame — the local
    * clustering signal behind community detection and link-spam
    * audits. Edges arrive id-oriented (src < dst, each undirected edge
    * once); wedges are enumerated from the SMALLEST endpoint only
    * (e1(a,b) ⋈ e2(a,c) on a with b < c), so each triangle {a<b<c} is
    * generated exactly once as its (b,c) wedge, then closed by one
    * hash join against the edge frame. Per-node counts explode the
    * closed triangle's three corners and hash-aggregate.
    *
    * 100 TB: wedge volume is Σ deg_min(v)² — bounded by orienting
    * wedges at the low-degree endpoint. Id-orientation is gate-exact
    * and fine at the fixture's bounded degrees; DEGREE-ordered
    * orientation (order vertices by (deg, id), wedge at the smallest)
    * is the declared skew fix — it caps wedge fan-out at O(E^1.5)
    * regardless of hubs. Support-thresholding the edge builder (below)
    * is the other production lever: co-occurrence graphs at corpus
    * scale keep only edges seen ≥ s times, which removes the random
    * hairball before any quadratic step. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst")
    val wedges = e.as("e1").join(e.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    // closure probe under fresh names (a third self-reference of `e`
    // by raw column would trip ambiguous-self-join resolution)
    val closing = e.select(col("src").as("cb"), col("dst").as("cc"))
    val tri = wedges.join(closing,
      col("b") === col("cb") && col("c") === col("cc"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Co-order part edges: parts appearing together in ≥ minSupport
    * orders (the significant-co-purchase graph; support ≥ 2 removes
    * one-off noise pairs before the quadratic triangle step). Pairs
    * are generated per order with a `<` orientation, so each
    * undirected edge appears once. */
  def coOrderEdges(lineitem: DataFrame, minSupport: Long): DataFrame = {
    val items = lineitem.select(col("l_orderkey").as("okey"),
      col("l_partkey").as("pkey")).distinct()
    items.as("x").join(items.as("y"),
        col("x.okey") === col("y.okey") && col("x.pkey") < col("y.pkey"))
      .groupBy(col("x.pkey").as("src"), col("y.pkey").as("dst"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .select("src", "dst")
  }

  /** Q120 — triangle counting under the ORACLE gate: per-part triangle
    * participation in the co-order graph restricted to small parts
    * (p_size ≤ 10 bounds the slice's degree so the id-oriented wedge
    * join stays proportionate at every SF; the slice is the gate
    * fixture, not the algorithm's limit — see triangleCounts' scaling
    * note). DuckDB rebuilds the same oriented wedge+closure joins. */
  def q120(s: SparkSession, d: String): DataFrame = {
    val small = Tables.part(s, d).filter(col("p_size") <= 10)
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(small), col("l_partkey") === col("p_partkey"), "left_semi")
    val edges = coOrderEdges(li, minSupport = 1)
    triangleCounts(edges)
      .select(col("node").as("part"), col("n_triangles"))
      .orderBy("part")
  }

  /** PageRank — fixed-iteration power method over an undirected edge
    * frame (both directions added; degree = undirected degree). Each
    * round is one equi-join of the rank frame against the
    * loop-invariant adjacency plus one hash agg — the CC loop's
    * shuffle discipline (adjacency pre-partitioned once on its join
    * key, per-round frames persisted, previous round released, O(1)
    * lineage). The symmetrized graph has no dangling nodes by
    * construction (every node appearing in an edge has outdegree ≥ 1),
    * so ranks sum to 1 without a dangling-mass correction; a directed
    * variant would add the standard uniform redistribution term.
    *
    * NO DuckDB oracle by documented impossibility: each round sums
    * floating-point contributions across a shuffle, and float addition
    * order differs between engines (and between partitionings), so a
    * hash gate on the doubles would pin an accident. Correctness is
    * pinned in ScalaTest against an in-test reference iteration
    * (identical arithmetic, driver-side) and closed-form fixpoints
    * (uniform on regular graphs) — the q47/q50/q52 rows-only class.
    *
    * 100 TB: per-round cost is O(|E|) shuffled bytes for the rank
    * frame only (adjacency stays put); iteration count is fixed (the
    * production norm: 10–20 rounds or an L1-delta stop); hub skew in
    * the contribution agg is partial-aggregated map-side by Spark's
    * hash agg, the classic combiner win. */
  def pageRank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, materializeEvery: Int = 5): DataFrame = {
    val Seq(srcCol, dstCol) = edges.columns.toSeq.take(2)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val adjWide = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    val nEdges = adjWide.count()
    // Driver tier (DriverTier.Edges): the power method's state is the
    // symmetrized adjacency + one rank per node — when the edge set
    // fits the driver, 10 rounds of join+agg job trains buy nothing.
    // Same update expression per node: (1−d)/n + d·Σ rank(u)/deg(u).
    // Float-sum ORDER is fixed here (edges sorted by (src, dst)) where
    // the distributed rounds sum in partition order — PageRank is
    // declared rows-only for exactly that reason (cross-engine/cross-
    // partitioning float order), the q273 invariant gate is order-free,
    // and EntityAnalyticsSpec pins the 1e-9 reference-iteration contract
    // on BOTH paths. Null endpoints or exotic id types keep the
    // distributed loop.
    val dt = e.schema("src").dataType
    for (cmp <- DriverTier.sparkOrder(dt) if nEdges > 0;
         rows <- DriverTier.collectIfBounded(adjWide, nEdges, DriverTier.Edges)
         if !rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
      adjWide.unpersist()
      val arr = rows.map(r => (r.get(0), r.get(1))).sortWith { (a, b) =>
        val c = cmp(a._1, b._1); c < 0 || (c == 0 && cmp(a._2, b._2) < 0) }
      val ids = arr.map(_._1).distinct // first-seen = sorted order
      val idx = ids.zipWithIndex.toMap
      val n = ids.length
      val deg = new Array[Long](n)
      arr.foreach { case (u, _) => deg(idx(u)) += 1L }
      val src = arr.map(x => idx(x._1))
      val dst = arr.map(x => idx(x._2))
      var rank = Array.fill(n)(1.0 / n)
      val base = (1.0 - damping) / n
      (1 to iterations).foreach { _ =>
        val recv = new Array[Double](n)
        var i = 0
        while (i < arr.length) {
          recv(dst(i)) += rank(src(i)) / deg(src(i))
          i += 1
        }
        rank = recv.map(r => base + damping * r)
      }
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      return DriverTier.localFrame(edges.sparkSession,
        StructType(Seq(StructField("id", dt),
          StructField("rank", DoubleType, nullable = false))),
        ids.indices.map(i => org.apache.spark.sql.Row(ids(i), rank(i))))
    }
    val loopParts = math.max(1, math.min(
      edges.sparkSession.sessionState.conf.numShufflePartitions,
      (nEdges / 100000L).toInt + 1))
    // Degree folds into the adjacency ONCE (loop-invariant, like the
    // CC pre-partition): each round is then a single equi-join + one
    // hash agg + one left join, nothing recomputed.
    val deg = adjWide.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = adjWide.join(deg, "src")
      .repartition(loopParts, col("src")).persist()
    adj.count()
    adjWide.unpersist()
    // Node count only — the per-iteration node frame is NOT needed:
    // the adjacency is symmetrized, so every node is some edge's dst
    // and receives ≥ 1 contribution each round. The pre-r19 loop left-
    // joined a persisted node frame per iteration to re-admit zero-
    // contribution nodes that cannot exist here (coalesce(recv, 0)
    // never fired); dropping it removes one join and one persisted
    // frame per query with identical output rows (guide §2.4 — don't
    // plan work a structural invariant already rules out). A directed
    // variant (dangling mass) would need the node frame back.
    val nodes = adj.select(col("src").as("id")).distinct()
    val n = nodes.count()
    var cached = nodes.select(col("id"), lit(1.0 / n).as("rank"))
      .repartition(loopParts, col("id")).persist()
    cached.count()
    var ranks = cached
    // Rounds COMPOSE lazily and materialize every `materializeEvery`
    // iterations: a persist+count barrier per round makes a toy-scale
    // loop driver-round-trip-bound (measured: 5.6 s/round on an 80k-
    // edge graph where the actual work is milliseconds), while pure
    // lazy composition grows lineage unboundedly (the r4 doctrine).
    // Bounded-interval checkpointing is the production middle: lineage
    // depth ≤ materializeEvery, round-trips ∝ iterations/interval.
    (1 to iterations).foreach { i =>
      val contribs = adj.join(ranks, adj("src") === ranks("id"))
        .select(col("dst").as("nid"), (col("rank") / col("deg")).as("share"))
        .groupBy("nid").agg(sum("share").as("recv"))
      val next = contribs.select(col("nid").as("id"),
        (lit((1.0 - damping) / n) +
          lit(damping) * col("recv")).as("rank"))
      if (i % materializeEvery == 0 || i == iterations) {
        val mat = next.persist()
        mat.count()
        cached.unpersist()
        cached = mat
        ranks = mat
      } else ranks = next
    }
    adj.unpersist()
    val out = ranks.localCheckpoint(true)
    cached.unpersist()
    out
  }

  /** Q129 — PageRank over the q120 co-order graph (rows-only driver
    * check; see pageRank's no-oracle rationale — cross-engine float
    * summation order. The numeric contracts live in
    * EntityAnalyticsSpec: uniform fixpoint on a cycle, reference-
    * iteration equality on an asymmetric graph, Σrank = 1). */
  def q129(s: SparkSession, d: String): DataFrame = {
    val small = Tables.part(s, d).filter(col("p_size") <= 10)
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(small), col("l_partkey") === col("p_partkey"), "left_semi")
    pageRank(coOrderEdges(li, minSupport = 1), iterations = 10)
      .select(col("id").as("part"), round(col("rank"), 9).as("rank"))
      .orderBy("part")
  }

  /** Q273 — the q129 PageRank's INVARIANT CONTRACT under the ORACLE
    * gate (r17: shrink the rows-only set with derived-invariant
    * gates). The per-node ranks stay rows-only (cross-engine float
    * summation order), but three PROJECTIONS are strictly checkable:
    * `n_nodes` (the symmetrized co-order graph's node count — DuckDB
    * recomputes it from the q120 edge CTE), `sums_to_one` (the graph
    * is symmetrized so every node has outdegree ≥ 1 — no dangling
    * mass — and Σrank is conserved at 1; float error across 10 rounds
    * stays ≪ 1e-9), and `all_positive` (every rank ≥ (1−d)/n > 0).
    * A dropped node, a degree bug, or leaked rank mass now fails the
    * HASH gate, not just EntityAnalyticsSpec's contracts. */
  def q273(s: SparkSession, d: String): DataFrame = {
    val small = Tables.part(s, d).filter(col("p_size") <= 10)
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(small), col("l_partkey") === col("p_partkey"), "left_semi")
    pageRank(coOrderEdges(li, minSupport = 1), iterations = 10)
      .agg(count(lit(1)).as("n_nodes"),
        sum("rank").as("s"), min("rank").as("mn"))
      .select(col("n_nodes"),
        (abs(col("s") - lit(1.0)) < lit(1e-9)).as("sums_to_one"),
        (col("mn") > lit(0.0)).as("all_positive"))
  }

  /** Q105 — entity clusters under the ORACLE gate: q100's fuzzy name
    * pairs become an undirected graph, connected components give each
    * (brand, name) its cluster id = the lexicographically smallest
    * name composite reachable through chains of ≤2-edit links (the
    * transitive closure q100's pairwise output stops short of: "old
    * gear"–"red gear"–"red bear" is ONE entity cluster even though
    * the ends are 4 edits apart). Node ids are `brand|name` composites
    * ('|' appears in neither column), so min-label comparisons stay
    * within a brand by construction. DuckDB rebuilds reachability with
    * a recursive CTE (base: every node labeled itself; step: labels
    * flow across edges; MIN per node at fixpoint) — a hash match
    * proves the distributed propagation computes exactly the
    * transitive closure. Singleton names (no fuzzy link) rejoin as
    * their own cluster via the left join. */
  def q105(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
    val pairs = graft.ext.Entity
      .fuzzyNamePairs(parts, "p_brand", "p_name", maxDist = 2)
    val edges = pairs.select(
      concat_ws("|", col("p_brand"), col("name_a")).as("src"),
      concat_ws("|", col("p_brand"), col("name_b")).as("dst"))
    val nodes = parts.select(col("p_brand"), col("p_name")).distinct()
      .withColumn("id", concat_ws("|", col("p_brand"), col("p_name")))
    nodes.join(connectedComponents(edges), Seq("id"), "left")
      .select(col("p_brand").as("brand"), col("p_name").as("name"),
        coalesce(col("component"), col("id")).as("cluster"))
      .orderBy("brand", "name")
  }

  /** Local clustering coefficient — per node, the fraction of its
    * neighbor pairs that are themselves connected: cc = 2·T(v) /
    * (deg(v)·(deg(v)−1)), 0 for degree < 2 (Watts & Strogatz 1998).
    * The node-level cohesion signal on top of q120's raw triangle
    * counts: a hub with cc→0 is a broker, cc→1 a clique member.
    *
    * Determinism: T and deg are exact BIGINTs; 2·T and deg·(deg−1) are
    * exact in double far past any real degree; cc is ONE mirrored IEEE
    * divide, round(6) presentation. Scale rides q120's wedge-join
    * analysis (support-thresholded edges; degree-ordered orientation is
    * the declared hub-skew cap) plus one degree agg — the degree frame
    * is vocabulary-sized, broadcast back. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst")
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(e), Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("cc", when(col("degree") >= 2,
          round(lit(2.0d) * col("n_triangles") /
            (col("degree") * (col("degree") - 1)), 6))
        .otherwise(lit(0.0d)))
  }

  /** k-core decomposition (the k-core itself): iteratively peel nodes
    * of degree < k until fixpoint — the standard cohesive-subgraph
    * extraction (Seidman 1983; the preprocessing cut community mining
    * and fraud-ring detection run before anything quadratic). Returns
    * the surviving nodes with their WITHIN-CORE degree.
    *
    * Distributed shape: each round is one degree aggregation + a
    * broadcast anti-join of the (always small) peel set against both
    * endpoint columns — the edge frame is never globally sorted or
    * collected, and rounds persist with the bounded-interval
    * lineage-cut discipline of connectedComponents/pageRank (their
    * scaladocs carry the why). Wave count is bounded by the graph's
    * degeneracy ordering depth — tens for real graphs; `maxIter` is
    * the declared safety cap, mirrored exactly by the oracle's
    * recursion bound so both engines compute the same fixpoint. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50,
      frontierLimit: Int = 500000): DataFrame = {
    val e0 = edges.toDF("src", "dst")
    val spark = edges.sparkSession
    val sym = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
    // Pre-partition the edge frame by src ONCE (the CC loop doctrine):
    // every wave's degree agg groups on src, so a frame already hash-
    // partitioned there satisfies the Exchange requirement and no wave
    // re-shuffles edges; the peel filters are narrow.
    val loopParts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism))
    var alive = sym.repartition(loopParts, col("src")).persist()
    val nSym = alive.count()
    // Driver tier (DriverTier.Edges): the k-core is the UNIQUE maximal
    // subgraph of min-degree ≥ k — peel order does not change the
    // fixpoint — so a bounded symmetric edge list resolves with one
    // driver-side queue peel instead of maxIter wave jobs (15 waves at
    // sf0.1 = 15 agg+collect+filter trains). Multiplicity semantics
    // match the distributed form exactly: degree = symmetric edge ROWS
    // per src, each removed occurrence decrements its mirror's count.
    // Any id type works (no ordering needed). Past the cap the wave
    // loop below runs unchanged.
    for (rows <- DriverTier.collectIfBounded(alive, nSym, DriverTier.Edges)) {
      import scala.collection.mutable
      alive.unpersist()
      val deg = mutable.HashMap.empty[Any, Long]
      val adj = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
      rows.foreach { r =>
        val s = r.get(0); val t = r.get(1)
        deg.update(s, deg.getOrElse(s, 0L) + 1L)
        adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += t
      }
      val removed = mutable.HashSet.empty[Any]
      val queue = mutable.Queue.empty[Any]
      deg.foreach { case (v, dv) => if (dv < k) queue += v }
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        if (!removed.contains(v)) {
          removed += v
          adj.getOrElse(v, mutable.ArrayBuffer.empty).foreach { u =>
            if (!removed.contains(u)) {
              val du = deg(u) - 1L
              deg.update(u, du)
              if (du == k - 1L) queue += u // just crossed the threshold
            }
          }
        }
      }
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      return DriverTier.localFrame(spark,
        StructType(Seq(StructField("node", e0.schema("src").dataType),
          StructField("core_deg", LongType, nullable = false))),
        deg.iterator.filter { case (v, dv) => !removed.contains(v) && dv > 0L }
          .map { case (v, dv) => org.apache.spark.sql.Row(v, dv) }.toSeq)
    }
    var round = 0
    var done = false
    while (round < maxIter && !done) {
      // The wave frontier (nodes now under k) rides to the driver as a
      // codegen InSet filter — ONE job per wave instead of the
      // peel-materialize + 2 broadcast-build + next-materialize train
      // of the join formulation (measured 3.5 s/wave → ~0.5 s/wave at
      // sf0.1's 15-wave cascade). Frontier size is bounded by the
      // guard: a wave larger than `frontierLimit` falls back to the
      // broadcast anti-join shape, so driver memory is never bet on a
      // total-collapse wave at cluster scale.
      val peelDf = alive.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") < k).select("src")
      val frontier = peelDf.limit(frontierLimit + 1).collect().map(_.get(0))
      if (frontier.isEmpty) done = true
      else {
        val next =
          if (frontier.length <= frontierLimit) {
            val f = frontier.toSet
            alive.filter(!col("src").isInCollection(f) &&
              !col("dst").isInCollection(f))
          } else {
            val peel = peelDf.select(col("src").as("peeled"))
            alive
              .join(broadcast(peel), col("src") === col("peeled"), "left_anti")
              .join(broadcast(peel), col("dst") === col("peeled"), "left_anti")
          }
        // lineage-cut every 5 waves; between cuts the next wave's agg
        // materializes the persist and a miss replays ≤ 5 narrow InSet
        // filters above the last checkpoint (the Bpe.train doctrine)
        val cached =
          if (round % 5 == 4) next.localCheckpoint(true) else next.persist()
        alive.unpersist()
        alive = cached
        round += 1
      }
    }
    val out = alive.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
    val materialized = out.localCheckpoint(true)
    alive.unpersist()
    materialized
  }

  /** Q146 — 16-core of the q120 co-order graph under the ORACLE gate.
    * k = 16 drives a genuine 9-wave cascade at sf0.01 (394 nodes →
    * 291-node core; degrees run 9–42). The oracle UNROLLS the peel as
    * explicit wave CTEs with exactly the engine's wave semantics —
    * remove ALL currently-under-k nodes per wave against the FULL
    * removed-so-far set. (A recursive-CTE formulation was probed and
    * rejected: DuckDB's working-table reference re-admits old removals
    * into the flicker and truncates deep cascades at the recursion cap
    * — it reported a 317-node "core" for the true 291.) 18 unrolled
    * waves ≥ the fixpoint at both gate SFs (9 at sf0.01, 15 at sf0.1 —
    * a 12-wave unroll truncated the sf0.1 cascade, caught by the round
    * sweep), and post-fixpoint waves are no-ops, so both engines land
    * on the identical core. */
  def q146(s: SparkSession, d: String): DataFrame = {
    val small = Tables.part(s, d).filter(col("p_size") <= 10)
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(small), col("l_partkey") === col("p_partkey"), "left_semi")
    kCore(coOrderEdges(li, minSupport = 1), k = 16)
      .select(col("node").as("part"), col("core_deg"))
      .orderBy("part")
  }

  /** Hierarchy expansion — the RECURSIVE-QUERY capability as a
    * first-class operator: the (ancestor, descendant, depth)
    * transitive closure of a parent→child edge frame (org charts,
    * bill-of-materials, category trees — the queries a warehouse
    * answers with RECURSIVE CTEs, which Spark SQL lacks; this is the
    * DataFrame-loop equivalent, and the DuckDB oracle IS a recursive
    * CTE, so the gate proves the loop computes exactly the closure).
    *
    * Shape: frontier iteration — round r joins the depth-r pairs
    * against the edge frame (hash join on the child key), unioning
    * each round; rounds persist with the bounded-interval lineage
    * discipline (CC/PageRank/kCore doctrine) and stop at an empty
    * frontier or `maxDepth` (mirrored by the oracle's recursion
    * bound). Closure size is Σ depth(v) — for a b-ary tree ≈ n·log_b n
    * rows, the well-known materialization cost of ancestor paths;
    * per-LEVEL aggregation pushes into the loop when only rollups are
    * needed (q160's shape could; it gates the general closure
    * instead). */
  def descendants(edges: DataFrame, maxDepth: Int = 20): DataFrame = {
    val e = edges.toDF("parent", "child").persist()
    e.count()
    var frontier = e.select(col("parent").as("anc"), col("child").as("node"),
      lit(1L).as("depth")).persist()
    var acc = frontier
    var depth = 1
    var done = frontier.isEmpty
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    while (!done && depth < maxDepth) {
      val next = frontier.join(e, col("node") === col("parent"))
        .select(col("anc"), col("child").as("node"),
          (col("depth") + 1).as("depth"))
        .persist()
      if (next.isEmpty) { next.unpersist(); done = true }
      else {
        rounds += next
        acc = acc.unionByName(next)
        frontier = next
        depth += 1
      }
    }
    val out = acc.localCheckpoint(true)
    rounds.foreach(_.unpersist())
    e.unpersist()
    out
  }

  /** The deterministic part hierarchy: parent(k) = k div 4 (a 4-ary
    * tree over the part keys; edges only where the parent is itself a
    * part key). */
  private def partTree(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select((col("p_partkey") / 4).cast("long").as("parent"),
        col("p_partkey").as("child"))
      .filter(col("parent") >= 1)

  /** Q159 — hierarchy structure report: per ancestor, descendant count
    * and subtree depth (ORACLE: DuckDB recursive CTE closure). */
  def q159(s: SparkSession, d: String): DataFrame =
    descendants(partTree(s, d))
      .groupBy(col("anc"))
      .agg(count(lit(1)).as("n_desc"), max("depth").as("max_depth"))
      .orderBy("anc")

  /** Q160 — subtree rollup: per ancestor, exact-decimal retail value
    * of its descendants PLUS itself (the BOM-cost / category-revenue
    * query). */
  def q160(s: SparkSession, d: String): DataFrame = {
    val price = Tables.part(s, d).select(col("p_partkey").as("node"),
      col("p_retailprice").cast("decimal(18,2)").as("pd"))
    val selfPairs = price.select(col("node").as("anc"), col("node"))
    val all = descendants(partTree(s, d)).select("anc", "node")
      .unionByName(selfPairs)
    all.join(price, "node")
      .groupBy("anc")
      .agg(count(lit(1)).as("n_nodes"),
        sum("pd").cast("double").as("subtree_value"))
      .orderBy("anc")
  }

  /** Q137 — clustering coefficient over the q120 co-order graph. */
  def q137(s: SparkSession, d: String): DataFrame = {
    val small = Tables.part(s, d).filter(col("p_size") <= 10)
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(small), col("l_partkey") === col("p_partkey"), "left_semi")
    clusteringCoefficient(coOrderEdges(li, minSupport = 1))
      .select(col("node").as("part"), col("degree"),
        col("n_triangles"), col("cc"))
      .orderBy("part")
  }
}
