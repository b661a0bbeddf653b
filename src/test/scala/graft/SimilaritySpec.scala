package graft

import graft.core.DriverTier
import org.apache.spark.sql.functions._
import graft.ext.{Ann, Similarity}
import graft.sources.Tables

/** Batched top-k Aggregator + IVF ANN (SURVEY.md §2.5/§7.4). Brute force
  * (orderBy+limit per query — Q27's shape) is the ground truth. */
class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001")).persist()
  private lazy val queries = emb.filter(col("vec_id") < 3)

  private def bruteTopK(qid: Long, k: Int): Seq[(Long, Double)] = {
    import graft.functions.VectorFunctions._
    val qv = emb.filter(col("vec_id") === qid).select(col("embedding").as("qe"))
    emb.crossJoin(broadcast(qv))
      .select(col("vec_id"), round(cosineSimilarity(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("topKBatch equals brute-force orderBy/limit for every query vector") {
    val got = Similarity.topKBatch(emb, queries, 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    for (qid <- 0L to 2L) {
      val expect = bruteTopK(qid, 10)
      val actual = got(qid).sortBy(_._2).map(t => (t._3, t._4)).toSeq
      assert(actual == expect, s"qid=$qid")
    }
  }

  test("topKBatch plan aggregates partially (no window sort of all pairs)") {
    val plan = Similarity.topKBatch(emb, queries, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(plan.toLowerCase.contains("partial_topkaggregator"), plan.take(2000))
    assert(!plan.contains("Window"), "unexpected window sort in top-k plan")
  }

  test("IVF with full probe count is exact; half probe keeps recall >= 0.5") {
    val (centroids, assigned) = Ann.build(emb, nCentroids = 8, iters = 2)
    val brute = (0L to 2L).map(q => q -> bruteTopK(q, 10).map(_._1).toSet).toMap

    val exact = Ann.search(assigned, centroids, queries, k = 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    for (q <- 0L to 2L)
      assert(exact(q).map(_._2).toSet == brute(q), s"full-probe qid=$q")

    val approx = Ann.search(assigned, centroids, queries, k = 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val recalls = (0L to 2L).map { q =>
      approx(q).map(_._2).toSet.intersect(brute(q)).size / 10.0
    }
    assert(recalls.forall(_ >= 0.5), s"recall@10 with nProbe=4/8: $recalls")
    info(s"recall@10 at nProbe=4/8: $recalls")
  }

  test("IVF build is layout-invariant: same centroids and assignment under repartition") {
    // centroid_id is row_number-over-vec_id on the seed rows (a pure
    // function of the data); the r1–r4 monotonically_increasing_id
    // encoded the physical partition layout into the id (r3 ADVICE).
    def buildOn(corpus: org.apache.spark.sql.DataFrame) = {
      val (c, a) = Ann.build(corpus, nCentroids = 8, iters = 2)
      val cs = c.select(col("centroid_id"), col("centroid"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
      val as = a.select(col("centroid_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      c.unpersist(); a.unpersist()
      (cs, as)
    }
    val (c1, a1) = buildOn(emb)
    val (c2, a2) = buildOn(emb.repartition(7, col("vec_id")))
    assert(c1 == c2, "centroids differ across partitionings")
    assert(a1 == a2, "assignments differ across partitionings")
  }

  test("q29 cosine pairs: symmetric-free (a<b), thresholded, 59 pairs at sf0.01") {
    val pairs = Similarity.q29(spark, sf("sf0.01")).collect()
    assert(pairs.length == 59)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.4))
  }

  test("IVF+SQ: codes are 64 B, dequantization bounded, rescored search recall 1.0 at full probe") {
    import graft.ext.Ann
    val (centroids, assigned) = Ann.build(emb, nCentroids = 16, iters = 2)
    val aq = Ann.quantizeAssigned(assigned).persist()
    // the memory lever: 64 one-byte codes vs 64 4-byte floats
    val rows = aq.collect()
    assert(rows.forall(_.getAs[Array[Byte]]("codes").length == 64))
    // reconstruction error ≤ delta per dimension
    val joined = aq.join(emb, Seq("vec_id")).collect()
    joined.foreach { r =>
      val codes = r.getAs[Array[Byte]]("codes")
      val mn = r.getAs[Double]("mn"); val delta = r.getAs[Double]("delta")
      val e = r.getAs[scala.collection.Seq[Float]]("embedding")
      val maxErr = codes.zip(e).map { case (c, x) =>
        math.abs(mn + (c & 0xff) * delta - x) }.max
      assert(maxErr <= delta + 1e-12, s"vec ${r.getAs[Long]("vec_id")} err $maxErr > $delta")
    }
    // exact top-k recovered from the code scan + rescore at full probe
    val queries = emb.filter(col("vec_id") < 3)
    val exact = Ann.search(assigned, centroids, queries, 10, 16)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Ann.searchQuantized(aq, emb, centroids, queries, 10, 16, rescoreK = 40)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact intersect sq).size == exact.size,
      s"recall ${(exact intersect sq).size}/${exact.size}")
    aq.unpersist(); centroids.unpersist(); assigned.unpersist()
  }

  test("q68 vector stats: self-row is cos 1.0, norms positive, dot = cos for unit vectors") {
    val r = Similarity.q68(spark, sf("sf0.001")).collect()
    assert(r.length == 200)
    val self = r.find(_.getLong(0) == 0L).get
    assert(self.getDouble(3) == 1.0) // cos(q, q)
    assert(r.forall(_.getDouble(1) > 0))
    assert(r.forall(x => math.abs(x.getDouble(3)) <= 1.000001))
  }

  test("semDedup: kept set = brute-force shadow filter within brute-force clusters") {
    import graft.functions.VectorFunctions._
    val k = 4
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // brute-force assignment: rounded cosine argmax, ties -> lowest cid
    val assigned = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(cosineSimilarity(col("embedding"), col("ce")), 6).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (v, rows) =>
        v -> rows.minBy(t => (-t._3, t._2))._2
      }
    // brute-force shadowing: any lower-id cluster-mate with sim >= tau
    val vecs = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expectKept = vecs.keys.toSeq.sorted.filter { v =>
      !vecs.keys.exists(u => u < v && assigned(u) == assigned(v) &&
        cos(vecs(u), vecs(v)) >= 0.4)
    }
    val got = Similarity.semDedup(emb, k = k, tau = 0.4)
      .orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == expectKept)
    assert(got.length < vecs.size, "fixture must contain at least one shadowed pair")
  }

  test("semDedup two-level: valid partition, deterministic, mostly agrees with flat") {
    val flat = Similarity.semDedup(emb, k = 8, tau = 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = Similarity.semDedup(emb, k = 8, tau = 0.4, twoLevel = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two2 = Similarity.semDedup(emb, k = 8, tau = 0.4, twoLevel = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == two2) // deterministic across runs
    assert(two.values.forall(c => c >= 0 && c < 8)) // real centroid ids
    // boundary vectors may hop families, but the two paths must agree
    // on the vast majority of kept/cluster decisions (fixture-pinned)
    val common = flat.keySet intersect two.keySet
    assert(common.size.toDouble >= 0.9 * flat.size,
      s"kept sets diverged: flat=${flat.size} two=${two.size} common=${common.size}")
  }

  test("semDedup plan: broadcast centroid assign, pair join shuffles on centroid only") {
    val plan = Similarity.semDedup(emb).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), "pair join must be the centroid equi-join")
  }

  test("knnJoin equals brute-force orderBy/limit for every row, and the plan is heap-shaped") {
    val knn = Similarity.knnJoin(emb, 5)
    val plan = knn.queryExecution.executedPlan.toString
    // grid is an equi-join fan-out; candidates merge through the
    // bounded-heap aggregator — never a window sort of all pairs
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    assert(plan.toLowerCase.contains("partial_topkaggregator"), plan.take(2000))
    val got = knn.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(got.size == 500 && got.values.forall(_.length == 5))
    // spot-check 10 rows against the q27-shape brute force (self excluded)
    import graft.functions.VectorFunctions._
    (0L to 9L).foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid).select(col("embedding").as("qe"))
      val expect = emb.filter(col("vec_id") =!= qid).crossJoin(broadcast(qv))
        .select(col("vec_id"), round(cosineSimilarity(col("embedding"), col("qe")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val actual = got(qid).sortBy(_._2).map(t => (t._3, t._4)).toSeq
      assert(actual == expect, s"qid=$qid")
    }
  }

  test("IVF full-probe equals exact kNN-join: q81 is the recall oracle it claims to be") {
    // SURVEY/BASELINE declare knnJoin the recall oracle for the ANN
    // path. Back the claim: at nProbe = nCentroids the IVF search is
    // exhaustive, and with queries = the corpus itself its rank 2..6
    // (rank 1 = self, sim 1.0) must equal knnJoin's top-5 EXACTLY —
    // both round to 6dp and rank (sim DESC, id ASC), and both kernels
    // accumulate doubles left-to-right over the same widened floats.
    val (centroids, assigned) = Ann.build(emb, nCentroids = 16, iters = 2)
    val ivf = Ann.search(assigned, centroids, emb, k = 6, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val knn = Similarity.knnJoin(emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(ivf.keySet == knn.keySet && knn.size == 500)
    ivf.foreach { case (qid, hits) =>
      val sorted = hits.sortBy(_._2)
      assert(sorted.head._3 == qid && sorted.head._4 == 1.0, s"qid=$qid rank1 not self")
      val tail = sorted.tail.map(t => (t._3, t._4)).toSeq
      val expect = knn(qid).sortBy(_._2).map(t => (t._3, t._4)).toSeq
      assert(tail == expect, s"qid=$qid IVF tail != exact kNN")
    }
    centroids.unpersist(); assigned.unpersist()
  }

  test("q86 centroid distance: driver recomputation matches, centroids broadcast, no corpus-keyed shuffle") {
    val q = Similarity.q86(spark, sf("sf0.001"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    val r = q.collect().map(x => (x.getLong(0), x.getInt(1), x.getDouble(2)))
    assert(r.length == 500)
    val rows = emb.select("vec_id", "label", "embedding").collect()
      .map(x => (x.getLong(0), x.getInt(1),
        x.getSeq[Float](2).map(_.toDouble).toArray))
    val byLabel = rows.groupBy(_._2)
    val cents = byLabel.map { case (l, vs) =>
      val sorted = vs.sortBy(_._1)
      val dim = sorted.head._3.length
      l -> Array.tabulate(dim) { p =>
        sorted.foldLeft(0d)((a, v) => a + v._3(p)) / sorted.length
      }
    }
    r.foreach { case (id, l, dist) =>
      val v = rows.find(_._1 == id).get._3
      val c = cents(l)
      var s = 0d; var i = 0
      while (i < v.length) { val d0 = v(i) - c(i); s += d0 * d0; i += 1 }
      val expect = BigDecimal(math.sqrt(s))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(dist == expect, s"vec $id")
    }
    // diversity signal sanity: distances are spread, not collapsed
    val ds = r.map(_._3)
    assert(ds.max > ds.min + 0.01)
  }

  test("q87 kmeans: two-pass driver replay matches every assignment, corpus never shuffles for assignment") {
    val q = Similarity.q87(spark, sf("sf0.001"))
    val r = q.collect().map(x => (x.getLong(0), x.getInt(1), x.getDouble(2)))
    assert(r.length == 500)
    val rows = emb.select("vec_id", "embedding").collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0d; var i = 0
      while (i < a.length) { val d0 = a(i) - b(i); s += d0 * d0; i += 1 }
      s
    }
    def assign(cents: Map[Int, Array[Double]]) = rows.map { case (id, v) =>
      val best = cents.toSeq.map { case (c, cv) => (d2(v, cv), c) }
        .minBy(identity)
      (id, best._2, best._1)
    }
    var cents = rows.take(8).map { case (id, v) => id.toInt -> v }.toMap
    val a1 = assign(cents)
    cents = a1.groupBy(_._2).map { case (c, as) =>
      val members = as.map(_._1).sorted.map(id => rows(id.toInt)._2)
      c -> Array.tabulate(members.head.length) { p =>
        members.foldLeft(0d)((acc, m) => acc + m(p)) / members.length
      }
    }
    val a2 = assign(cents)
    val expect = a2.map { case (id, c, dd) =>
      (id, c, BigDecimal(math.sqrt(dd)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1).toSeq
    assert(r.sortBy(_._1).toSeq == expect)
    assert(r.map(_._2).distinct.length == 8, "all 8 clusters populated")
    // both assignment passes broadcast the centroid table; the only
    // corpus-keyed exchange is the update's centroid aggregation
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(2000))
  }

  test("quantize: 64 codes per vector, min element -> 0 exactly, all codes in [0, 255]") {
    val q = Similarity.q70(spark, sf("sf0.001")).collect()
    assert(q.length == 200)
    q.foreach { row =>
      val codes = row.getString(1).split(",").map(_.toInt)
      assert(codes.length == 64)
      // (mn - mn) * 255 / (mx - mn) is exactly 0.0 in FP — guaranteed
      assert(codes.min == 0)
      // the max element lands at 254 or 255 depending on a*255/a FP
      // rounding — bounded, engine-consistent (the oracle pins equality)
      assert(codes.max <= 255 && codes.max >= 254)
    }
  }

  test("q92 quantized full-probe top-k == q34 float full-probe top-k (r11 gate)") {
    import graft.ext.Ann
    val d = sf("sf0.001")
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val sq = key(Ann.q92(spark, d).collect())
    val fl = key(Ann.q34(spark, d).collect())
    assert(sq == fl)
    assert(sq.size == 50) // 5 queries x k=10, ranks intact
  }

  test("q93 PQ full-probe top-k == q34; codebooks deterministic; reconstruction sane") {
    import graft.ext.Ann
    val d = sf("sf0.001")
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(key(Ann.q93(spark, d).collect()) == key(Ann.q34(spark, d).collect()))
    // determinism: same sample -> bit-identical codebooks across calls
    val sample = Tables.embeddings(spark, d).filter(col("vec_id") < 64)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    val a = Ann.pqTrain(sample); val b = Ann.pqTrain(sample)
    assert(a.centroids.flatten.flatten.toSeq == b.centroids.flatten.flatten.toSeq)
    assert(a.m == 8 && a.ks == 256 && a.subDim == sample.head.length / 8)
  }

  test("centroidOutliers flags a planted far vector and reads ~0 at the centroid") {
    import spark.implicits._
    // label 0: a tight cluster at (1,0) plus one planted outlier at
    // (9,0); label 1: all at (0,2) — its members must not outrank the
    // planted point
    val emb = (Seq.fill(9)(Array(1.0f, 0.0f)) :+ Array(9.0f, 0.0f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v, 0) } ++
      (0 until 5).map(i => (100L + i, Array(0.0f, 2.0f), 1))
    val df = emb.toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(df, 3).collect()
    // centroid of label 0 is (1.8, 0): outlier dist 7.2, members 0.8
    assert(out.head.getLong(0) == 9L)
    assert(out.head.getAs[Double]("dist") == 7.2)
    assert(out.map(_.getLong(0)).toSet.contains(9L))
    // label-1 members sit exactly on their centroid → dist 0, never
    // in the top-3 ahead of label-0's spread
    assert(!out.map(_.getLong(0)).exists(_ >= 100L))
  }

  test("normBands: exact elements on a planted norm ladder") {
    import spark.implicits._
    // norms 3,4,5 (3-4-5 triangles scaled): p50 element = 4
    val df = Seq(
      (1L, Array(3.0f, 0.0f), 0), (2L, Array(0.0f, 4.0f), 0),
      (3L, Array(3.0f, 4.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.normBands(df).collect().head
    assert(r.getAs[Long]("n") == 3)
    assert(r.getAs[Double]("nrm_min") == 3.0 &&
      r.getAs[Double]("nrm_p50") == 4.0 && r.getAs[Double]("nrm_max") == 5.0)
  }

  test("pcaProject == driver power-iteration recompute (identical fold orders)") {
    val d = sf("sf0.001")
    val embd = Tables.embeddings(spark, d)
    val covRows = Similarity.covarianceMatrix(embd).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    val cov = scala.collection.mutable.Map.empty[(Long, Long), Double]
    covRows.foreach { case ((i, j), c) => cov((i, j)) = c; cov((j, i)) = c }
    val dims = covRows.flatMap(p => Seq(p._1._1, p._1._2)).distinct.sorted
    var v = Array.fill(dims.length)(1.0)
    for (_ <- 1 to 12) {
      val u = dims.map { i =>
        dims.foldLeft(0.0) { (a, j) => a + cov((i, j)) * v(j.toInt) }
      }.toArray
      val s = math.sqrt(dims.foldLeft(0.0) { (a, i) =>
        a + u(i.toInt) * u(i.toInt) })
      v = u.map(_ / s)
    }
    val want = embd.select("vec_id", "embedding").collect().map { r =>
      val xs = r.getSeq[Float](1)
      val p = xs.indices.foldLeft(0.0) { (a, i) => a + xs(i).toDouble * v(i) }
      r.getLong(0) ->
        BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = Similarity.q268(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet, s"coverage ${got.size} vs ${want.size}")
    val diff = got.filter { case (k, p) => want(k) != p }
    assert(diff.isEmpty, s"diverged for ${diff.size}, e.g. ${diff.headOption}")
    assert(got.values.toSet.size > 10, "degenerate projections")
  }

  test("covarianceMatrix exact-long fast path == decimal join path (r19)") {
    val embd = Tables.embeddings(spark, sf("sf0.001"))
    val fast = Similarity.covarianceMatrix(embd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    DriverTier.withFallback {
      val dec = Similarity.covarianceMatrix(embd).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(fast == dec,
        s"diff: ${(fast -- dec).take(3)} / ${(dec -- fast).take(3)}")
      assert(fast.size == 2080, s"cell count ${fast.size}")
    }
  }

  test("topComponent fails fast on constant embeddings (r17 ADVICE: no silent NaN)") {
    import spark.implicits._
    val df = Seq(0L, 1L, 2L)
      .map(id => (id, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    // all-zero covariance annihilates the all-ones start: ||A*v|| = 0
    val e = intercept[IllegalArgumentException] {
      Similarity.topComponent(df)
    }
    assert(e.getMessage.contains("degenerated"), e.getMessage)
  }

}
