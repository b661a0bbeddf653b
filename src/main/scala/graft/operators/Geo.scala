package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Spherical (lat/lon) spatial tier — the haversine radius join real
  * geofencing/catchment users arrive with, generalizing the planar
  * integer grid of [[Spatial.gridNeighborJoin]] (q246) to the sphere:
  * latitude-banded grid cells whose longitude width widens toward the
  * poles, longitude wraparound handled by per-band modular cells, and
  * an exact mirrored verify. The reference has no spatial surface
  * (its full pipeline is RawDataIngestion.java:95-169); this is
  * north-star territory.
  *
  * DETERMINISM DOCTRINE EXTENSION (measured in r15, BASELINE.md): the
  * mirrored-libm doctrine (q157's sqrt/ln/log10/pow class) does NOT
  * extend to trig/exp — on this host JVM `Math` and DuckDB's libm
  * disagree in the last ulp on 0.2% of sin/cos inputs, 6% of asin and
  * 9.7% of exp inputs (200k-sample probe; sqrt: 0 — IEEE requires
  * correct rounding for sqrt, libm only ~1 ulp for the rest). A
  * last-ulp wobble under a radius PREDICATE flips borderline pairs,
  * so the distance here is a DEFINED truncated-series haversine built
  * from +,-,*,/ only — operations IEEE 754 fully determines — with
  * both engines evaluating the identical expression text over
  * identical doubles, making every intermediate bit-identical by
  * construction rather than by libm luck:
  *
  *   hav = sinP(Δφ/2)² + cosP(φa)·cosP(φb)·sinP(Δλ/2)²  ≤  K
  *
  * where sinP/cosP are degree-13/12 Taylor polynomials (Horner form)
  * and K = sin²(r/2R) is a driver-computed constant embedded as the
  * same literal on both sides.
  *
  * FULL-LATITUDE contract (±90°, r16 — the r15 |lat| ≤ 60° limit is
  * gone): cos(φ) at high latitude is computed by EXACT integer
  * quadrant reduction BEFORE the double conversion — coordinates are
  * integer micro-degrees, so `90000000 − ABS(lat)` is exact in
  * BIGINT, and the branch predicate (`ABS(lat) ≤ 45000000`) is an
  * exact integer compare that can never wobble between engines:
  *
  *   cos(φ) = cosP(φ)            when |lat| ≤ 45°   (|x| ≤ π/4)
  *          = sinP(90° − |lat|)  otherwise          (x ∈ [0, π/4])
  *
  * Every cosine argument is then ≤ π/4, where truncation error is
  * < 4e-13 (cos) / 3e-14 (sin); the remaining worst case is
  * sinP(Δλ/2) at |x| ≤ π/2 (< 7e-10) — total polynomial error vs
  * true haversine < 2e-9 on hav across the whole sphere (≈ 1 m at a
  * 150 km threshold), absorbed by the grid slack and pinned by a
  * GeoSpec contract test at 89°. Determinism is unchanged: both
  * engines evaluate the identical CASE + polynomial text.
  *
  * Coordinates are integer MICRO-DEGREES (exact in BIGINT and in
  * double), so the only roundings are the two scale-multiplies both
  * engines perform identically. */
object Geo {

  /** Mean Earth radius, metres (defined constant of the operator). */
  val EarthR: Double = 6371000.0

  private val CR: Double = math.Pi / 180.0 / 1e6  // micro-deg → rad
  private val CR2: Double = CR / 2.0

  /** Shortest round-trip decimal render — Double.toString and DuckDB's
    * strtod are both correctly rounded, so this literal parses back to
    * the identical double on both engines. */
  private def d2s(d: Double): String = java.lang.Double.toString(d)

  /** Degree-13 Taylor sine in Horner form over a column-name argument;
    * the same text is pasted into the Spark plan (via expr) and the
    * DuckDB oracle, so the op sequence is identical by construction.
    * Truncation error ≤ x¹⁵/15! (6.7e-10 at x = π/2). */
  def sinPSql(x: String): String = {
    val cs = Seq(1.0 / 6227020800.0, -1.0 / 39916800.0, 1.0 / 362880.0,
      -1.0 / 5040.0, 1.0 / 120.0, -1.0 / 6.0)
    val inner = cs.tail.foldLeft(d2s(cs.head)) { (acc, c) =>
      s"(${d2s(c)} + (($x * $x) * $acc))"
    }
    s"($x * (1.0 + (($x * $x) * $inner)))"
  }

  /** Degree-12 Taylor cosine in Horner form (error ≤ x¹⁴/14!,
    * 2.2e-11 at x = π/3). */
  def cosPSql(x: String): String = {
    val cs = Seq(1.0 / 479001600.0, -1.0 / 3628800.0, 1.0 / 40320.0,
      -1.0 / 720.0, 1.0 / 24.0, -0.5)
    val inner = cs.tail.foldLeft(d2s(cs.head)) { (acc, c) =>
      s"(${d2s(c)} + (($x * $x) * $acc))"
    }
    s"(1.0 + (($x * $x) * $inner))"
  }

  /** K = sin²(r / 2R): the haversine threshold for radius r metres.
    * Driver-side true sin — it is a CONSTANT of the query, embedded as
    * one identical literal on both engines, never recomputed by either. */
  def havK(radiusMeters: Double): Double = {
    val s = math.sin(radiusMeters / (2.0 * EarthR))
    s * s
  }

  /** The quadrant-reduced latitude argument (see header): exact
    * BIGINT fold of `lat` into ±45°-equivalent form, THEN the one
    * double conversion. `q<s> = 1` selects the cosP branch. */
  private def latReduceSql(latCol: String): String =
    s"CAST(CASE WHEN ABS($latCol) <= 45000000 THEN $latCol " +
      s"ELSE 90000000 - ABS($latCol) END AS DOUBLE) * ${d2s(CR)}"
  private def latBranchSql(latCol: String): String =
    s"(CASE WHEN ABS($latCol) <= 45000000 THEN 1 ELSE 0 END)"
  /** cos(lat) over the reduced argument: cosP below 45°, sinP of the
    * exact complement above — the CASE predicate is an integer column
    * from layer 1, so both engines branch identically. */
  private def cosReducedSql(phi: String, q: String): String =
    s"(CASE WHEN $q = 1 THEN ${cosPSql(phi)} ELSE ${sinPSql(phi)} END)"

  /** The mirrored verify layers over candidate columns
    * (la, loa, lb, lob — integer micro-degrees). Each layer's
    * expressions reference only prior-layer names, so Spark
    * (withColumn chain) and DuckDB (CTE chain) evaluate the identical
    * op sequence. */
  def havLayer1: Seq[(String, String)] = Seq(
    "dphih" -> s"CAST(la - lb AS DOUBLE) * ${d2s(CR2)}",
    "dlamh" -> ("CAST(((loa - lob + 540000000) % 360000000) - 180000000 " +
      s"AS DOUBLE) * ${d2s(CR2)}"),
    "qa" -> latBranchSql("la"), "qb" -> latBranchSql("lb"),
    "phia" -> latReduceSql("la"), "phib" -> latReduceSql("lb"))
  def havLayer2: Seq[(String, String)] = Seq(
    "sp" -> sinPSql("dphih"), "sl" -> sinPSql("dlamh"),
    "ca" -> cosReducedSql("phia", "qa"), "cb" -> cosReducedSql("phib", "qb"))
  def havLayer3: (String, String) =
    "hav" -> "((sp * sp) + ((ca * cb) * (sl * sl)))"

  /** Per-band longitude cell counts for the lossless latitude-banded
    * grid. Band b (SHIFTED: lat ∈ [b·H − 60e6, (b+1)·H − 60e6)) gets
    * nc cells of uniform angular width 360e6/nc micro-degrees — a
    * uniform division of the circle, so wraparound adjacency is a
    * clean ±1 (mod nc) with NO narrow seam cell (a remainder-width
    * last cell would let a close pair land 2 cells apart across the
    * seam — the lossy case a first cut hit). Width ≥ the Δλ bound
    * for any pair whose BOTH endpoints lie in bands b−1..b+1:
    * sin(Δλ/2) ≤ sin(θ/2)/cos(φmax) exactly (from the haversine
    * identity), evaluated with true driver-side trig + slack — these
    * constants are ENGINE-ONLY (the oracle is the naive all-pairs
    * join), so no mirroring is needed, only losslessness. */
  private def bandCells(thetaMax: Double, H: Long): Seq[(Long, Long)] = {
    val bMax = 180000000L / H
    (-1L to bMax + 1L).map { b =>
      val latLo = (b - 1) * H - 90000000L
      val latHi = (b + 2) * H - 90000000L
      // a 3-band window touching a pole saturates (cos → ~6e-17, the
      // min(1, ·) clamps, dlon = π) and the band keeps ONE whole-circle
      // cell — pole-crossing pairs then share it, and exactly-once
      // survives because exploded keys are deduplicated (see above)
      val maxAbs = math.min(90000000L, math.max(math.abs(latLo), math.abs(latHi)))
      val cosMin = math.cos(maxAbs * 1e-6 * math.Pi / 180.0)
      val dlon = 2.0 * math.asin(math.min(1.0, math.sin(thetaMax / 2.0) / cosMin))
      val wMin = math.ceil(dlon * 180.0 / math.Pi * 1e6).toLong + 1000L
      val nc = math.max(1L, 360000000L / wMin) // floor ⇒ width ≥ wMin
      (b, nc)
    }
  }

  /** The shared banded-grid candidate machinery: latitude bands of
    * height H = Δφ bound (so band distance ≤ 1), per-band uniform
    * modular longitude cells (width ≥ Δλ bound at the band's worst
    * latitude), one side exploded to its 3×3 (band, cell)
    * neighborhood — each qualifying pair is generated EXACTLY once:
    * B sits in a unique key, and A's exploded keys are DEDUPLICATED
    * per band (`array_distinct` before the explode), so even a band
    * whose nc collapses to 1 or 2 near the radius cap — where
    * dc ∈ {−1, 0, 1} alias mod nc — contributes each (tb, jcell) key
    * once (a first cut relied on "nc ≥ 180 below 62°", which fails
    * for radii ≳ 1.55 Mm where the Δλ bound saturates at π and a
    * populated band keeps a single cell). The only shuffle is the
    * (band, cell) equi-join; the band table rides two broadcast
    * joins; fanout is density-bounded — never n². Candidates are cut
    * with the CHEAP INTEGER box bound (|Δlat| ≤ θ bound; wrapped
    * |Δlon| ≤ the domain-worst Δλ bound) INSIDE the join condition,
    * before any polynomial evaluates — the box is implied by
    * hav ≤ K, so it is lossless, and it spares most of the 3×3
    * neighborhood the ~50-flop verify. `ordered` selects `<` (radius
    * join) vs `=!=` (kNN) pair generation. */
  /** The grid parameters for a radius: (H band height µdeg, per-band
    * (band, nc) cells, wMax domain-worst wrapped-Δλ bound µdeg).
    * Shared by the batch joins and the S44 streaming grid. */
  private[graft] def gridParams(radiusMeters: Double): (Long, Seq[(Long, Long)], Long) = {
    require(radiusMeters > 0, s"radius=$radiusMeters must be positive")
    // correctness no longer caps the radius (exploded keys are
    // deduplicated, so collapsed bands stay exactly-once); 2000 km is
    // the PERFORMANCE contract — beyond it the bands degenerate
    // toward one whole-circle cell each and the cut tends to all-pairs
    require(radiusMeters <= 2000000.0,
      s"radius=$radiusMeters m exceeds the 2000 km grid-cut contract")
    val k = havK(radiusMeters)
    // polynomial-hav ≤ K ⇒ true-hav ≤ K + 3e-9; widen θ accordingly
    val thetaMax = 2.0 * math.asin(math.min(1.0, math.sqrt(k + 3e-9))) * 1.0001
    val H = math.ceil(thetaMax * 180.0 / math.Pi * 1e6).toLong + 1000L
    val cells = bandCells(thetaMax, H)
    // domain-worst Δλ bound (the widest band's cell width):
    // wrapped |Δlon| of any qualifying pair is ≤ it
    val wMax = cells.map(c => 360000000L / c._2 + 1L).max
    (H, cells, wMax)
  }

  /** Executor-side per-zone threshold: the IDENTICAL ops as
    * [[kzLayers]] (divide by the 2R literal, sinP, square) in Scala —
    * bit-identical to the batch column form. */
  def kzScala(radiusMeters: Double): Double = {
    val sr = sinPoly(radiusMeters / 12742000.0)
    sr * sr
  }

  /** Executor-side defined haversine: the IDENTICAL op sequence as the
    * SQL layers ([[havLayer1]]–[[havLayer3]]) in Scala — same Horner
    * folds, same literals, same quadrant reduction — so a state
    * function (S44) scores a pair bit-identically to the batch join. */
  def havScala(la: Long, loa: Long, lb: Long, lob: Long): Double = {
    val dphih = (la - lb).toDouble * CR2
    val dlamh = (((loa - lob + 540000000L) % 360000000L) - 180000000L)
      .toDouble * CR2
    val sp = sinPoly(dphih)
    val sl = sinPoly(dlamh)
    sp * sp + (zoneCb(la) * zoneCb(lb)) * (sl * sl)
  }

  private def candidates(points: DataFrame, radiusMeters: Double,
      ordered: Boolean): (DataFrame, Double) = {
    val spark = points.sparkSession
    import spark.implicits._
    val k = havK(radiusMeters)
    val (h, cells, wMax) = gridParams(radiusMeters)
    val H = h
    val bt = broadcast(cells.toDF("bt_band", "bt_nc"))
    val p = points.select(col("id").cast("long").as("id"),
        col("la").cast("long").as("la"), col("lo").cast("long").as("lo"))
      .withColumn("band", expr(s"(la + 90000000) DIV $H"))
    val b = p.join(bt, col("band") === col("bt_band"))
      .select(col("id").as("id_b"), col("la").as("lb"), col("lo").as("lob"),
        col("band").as("b_band"),
        expr("((lo + 180000000) * bt_nc) DIV 360000000").as("b_cell"))
    val a = p
      .withColumn("db", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("tb", col("band") + col("db"))
      .join(bt, col("tb") === col("bt_band"))
      .withColumn("cell0", expr("((lo + 180000000) * bt_nc) DIV 360000000"))
      .withColumn("jcell", explode(array_distinct(
        transform(array(lit(-1L), lit(0L), lit(1L)),
          dc => pmod(col("cell0") + dc, col("bt_nc"))))))
      .select(col("id").as("id_a"), col("la"), col("lo").as("loa"),
        col("tb"), col("jcell"))
    val pairCut = if (ordered) col("id_a") < col("id_b")
      else col("id_a") =!= col("id_b")
    val boxCut = abs(col("la") - col("lb")) <= H &&
      expr("abs(((loa - lob + 540000000) % 360000000) - 180000000)") <= wMax
    // SHUFFLE_HASH on the un-exploded side: the default sort-merge
    // join would SORT the 9n exploded rows (the n log n that turns the
    // curve superlinear); hashing the n-row side instead keeps the
    // exploded side streaming
    (a.join(b.hint("SHUFFLE_HASH"),
      col("tb") === col("b_band") && col("jcell") === col("b_cell") &&
        pairCut && boxCut), k)
  }

  private def verified(cand: DataFrame, k: Double): DataFrame = {
    val l1 = havLayer1.foldLeft(cand) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
    val l2 = havLayer2.foldLeft(l1) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
    val l3 = l2.withColumn(havLayer3._1, expr(havLayer3._2))
    // NOT a plain .filter(hav <= K): PushDownPredicates transposes
    // that through the layer projections, substituting the full
    // polynomial tree into the join stage — measured 142 s vs 12 s at
    // the 5 M curve point (the blown-up stage runs ~14 µs/row, the
    // interpreted/JIT-refused regime). A Generator is the one operator
    // predicates cannot transpose through, so the when-explode form
    // evaluates hav exactly once per candidate with no materialization
    // barrier. Same rows, same schema.
    l3.select(explode(when(col("hav") <= lit(k),
        array(struct(col("id_a"), col("id_b"), col("hav"))))
      .otherwise(array().cast(
        "array<struct<id_a:bigint,id_b:bigint,hav:double>>"))).as("r"))
      .select("r.*")
  }

  def sphericalRadiusJoin(points: DataFrame, radiusMeters: Double): DataFrame = {
    val (cand, k) = candidates(points, radiusMeters, ordered = true)
    verified(cand, k).select("id_a", "id_b", "hav")
  }

  /** Radius-bounded k-nearest-neighbor join on the sphere — q247's
    * spherical sibling: for EVERY point its k nearest within
    * `radiusMeters` of defined haversine, ranked by the TOTAL order
    * (hav, id_b) — hav is bit-identical on both engines (the
    * polynomial doctrine above), so the rank never wobbles. DIRECTED
    * pairs; a point with no in-radius neighbor emits nothing.
    *
    * Plan: [[sphericalRadiusJoin]]'s banded-grid candidates without
    * the ordered-pair cut, then a per-point rank window (partitioned
    * on id_a — never low-cardinality; state bounded by the in-radius
    * neighbor count). */
  def sphericalRadiusKnn(points: DataFrame, radiusMeters: Double,
      k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val (cand, kThr) = candidates(points, radiusMeters, ordered = false)
    verified(cand, kThr)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id_a").orderBy(col("hav"), col("id_b"))))
      .filter(col("rk") <= k)
      .select(col("id_a"), col("id_b"), col("hav"),
        col("rk").cast("long").as("rk"))
  }

  /** Q253 — 5 nearest customers within 400 km of each customer
    * (spherical; same md5 coordinate derivation as q249). */
  def q253(s: SparkSession, d: String): DataFrame =
    sphericalRadiusKnn(customerPoints(s, d), 400000.0, 5)
      .orderBy("id_a", "rk")

  /** The q253 oracle SQL: naive directed pairs over the identical
    * generated layers + ROW_NUMBER under the (hav, id_b) tie order. */
  def q253OracleSql: String = {
    val k = havK(400000.0)
    val l1 = havLayer1.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val l2 = havLayer2.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    "WITH pts AS (SELECT CAST(c_custkey AS BIGINT) AS id, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 180000001 - 90000000 AS la, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000 AS lo " +
      "FROM customer), " +
      "d AS (SELECT a.id AS id_a, b.id AS id_b, a.la AS la, a.lo AS loa, " +
      "b.la AS lb, b.lo AS lob FROM pts a JOIN pts b ON a.id <> b.id), " +
      s"l1 AS (SELECT id_a, id_b, $l1 FROM d), " +
      s"l2 AS (SELECT id_a, id_b, $l2 FROM l1), " +
      s"l3 AS (SELECT id_a, id_b, ${havLayer3._2} AS ${havLayer3._1} FROM l2), " +
      s"r AS (SELECT id_a, id_b, hav, ROW_NUMBER() OVER (PARTITION BY id_a " +
      s"ORDER BY hav, id_b) AS rk FROM l3 WHERE hav <= ${d2s(k)}) " +
      "SELECT id_a, id_b, hav, CAST(rk AS BIGINT) AS rk FROM r " +
      "WHERE rk <= 5 ORDER BY id_a, rk"
  }

  /** The layered polynomial haversine to FIXED zone centers — the
    * zone-membership form of the join verify layers. A first cut
    * inlined each zone's full expression text (the dphih argument
    * textually duplicated 13× per Horner level): the single giant
    * Project ran ~120 µs/row at sf0.1 (the q249 interpreted-regime
    * smell). Layering (shared phia/ca; per-zone dphih/dlamh → sp/sl →
    * hav columns) keeps every sub-expression evaluated once in small
    * codegen-friendly Projects — and the oracle mirrors the same
    * layers, so bit-identity is unchanged. Center cosP folds to a
    * literal via the SAME polynomial (not libm). */
  def zoneLayer1(zones: Seq[(String, Long, Long, Double)]): Seq[(String, String)] =
    Seq("qa" -> latBranchSql("la"), "phia" -> latReduceSql("la")) ++
      zones.zipWithIndex.flatMap { case ((_, latZ, lonZ, _), i) => Seq(
        s"dphih$i" -> s"CAST(la - $latZ AS DOUBLE) * ${d2s(CR2)}",
        s"dlamh$i" -> (s"CAST(((lo - $lonZ + 540000000) % 360000000) - " +
          s"180000000 AS DOUBLE) * ${d2s(CR2)}"))
      }
  def zoneLayer2(zones: Seq[(String, Long, Long, Double)]): Seq[(String, String)] =
    ("ca" -> cosReducedSql("phia", "qa")) +:
      zones.indices.flatMap { i => Seq(
        s"sp$i" -> sinPSql(s"dphih$i"), s"sl$i" -> sinPSql(s"dlamh$i"))
      }
  /** Driver-side sinP/cosP matching the SQL Horner order bit-for-bit
    * (same left fold, same literals). */
  private def sinPoly(x: Double): Double = {
    val x2 = x * x
    val cs = Seq(1.0 / 6227020800.0, -1.0 / 39916800.0, 1.0 / 362880.0,
      -1.0 / 5040.0, 1.0 / 120.0, -1.0 / 6.0)
    x * (1.0 + x2 * cs.tail.foldLeft(cs.head) { (acc, c) => c + x2 * acc })
  }
  private def cosPoly(x: Double): Double = {
    val x2 = x * x
    val cs = Seq(1.0 / 479001600.0, -1.0 / 3628800.0, 1.0 / 40320.0,
      -1.0 / 720.0, 1.0 / 24.0, -0.5)
    1.0 + x2 * cs.tail.foldLeft(cs.head) { (acc, c) => c + x2 * acc }
  }
  /** The center's cos constant via the same quadrant-reduced
    * polynomials as the column form — a zone center is data, so the
    * reduction happens driver-side in exact Long arithmetic. */
  def zoneCb(latZ: Long): Double = {
    val m = math.abs(latZ)
    if (m <= 45000000L) cosPoly(latZ * CR)
    else sinPoly((90000000L - m) * CR)
  }
  def zoneLayer3(zones: Seq[(String, Long, Long, Double)]): Seq[(String, String)] =
    zones.zipWithIndex.map { case ((_, latZ, _, _), i) =>
      s"hav$i" -> (s"((sp$i * sp$i) + ((ca * ${d2s(zoneCb(latZ))}) * " +
        s"(sl$i * sl$i)))")
    }

  /** Apply the zone layers to a frame carrying (la, lo): adds one
    * `hav<i>` column per zone. */
  def withZoneHavs(df: DataFrame,
      zones: Seq[(String, Long, Long, Double)]): DataFrame =
    (zoneLayer1(zones) ++ zoneLayer2(zones) ++ zoneLayer3(zones))
      .foldLeft(df) { case (acc, (n, e)) => acc.withColumn(n, expr(e)) }

  /** Demo spherical circle zones: (name, lat µdeg, lon µdeg,
    * radius m) — one crossing the antimeridian, one high-latitude,
    * one equatorial, one POLAR (87.5° — exercises the quadrant-reduced
    * cosine on both the point and the center side). Shared by q255,
    * its oracle generator, and the S43 golden. */
  val demoCircleZones: Seq[(String, Long, Long, Double)] = Seq(
    ("dateline", 0L, 179900000L, 900000.0),
    ("nordic", 58000000L, 15000000L, 1200000.0),
    ("equator", -2000000L, -60000000L, 1500000.0),
    ("polar", 87500000L, -20000000L, 700000.0))

  /** Resolve the FIRST containing circle zone (list order) as a
    * `zone` column, "outside" otherwise — the S43 hot path: the
    * layered hav columns land in small Projects, the CASE reads them
    * once each, and the temporaries are dropped.
    *
    * CUTOVER guidance: this literal-column form is the documented
    * O(10)-zone fast path — plan size grows linearly with the zone
    * list, and a 10³+ geofence fleet lands in the interpreted-regime
    * plan blowup (the q249 class). Past ~a few dozen zones, make the
    * zones a DataFrame and use [[sphericalZoneJoin]] (constant plan,
    * density-bounded grid join; measured flat 2.5 s at 5 M points from
    * 10 to 10⁴ zones — the zone-axis ScaleBench curve). */
  def resolveCircleZones(df: DataFrame,
      zones: Seq[(String, Long, Long, Double)]): DataFrame = {
    val withHavs = withZoneHavs(df, zones)
    val zcol = zones.zipWithIndex.foldRight(lit("outside")) {
      case (((name, _, _, r), i), rest) =>
        when(col(s"hav$i") <= lit(havK(r)), lit(name)).otherwise(rest)
    }
    val tmp = (zoneLayer1(zones) ++ zoneLayer2(zones) ++ zoneLayer3(zones))
      .map(_._1)
    withHavs.withColumn("zone", zcol).drop(tmp: _*)
  }

  /** Q255 — spherical circle-zone membership under the ORACLE gate:
    * every (customer, zone) pair with defined haversine to the zone
    * center ≤ the zone radius (multi-membership, q250's spherical
    * sibling). One scan: layered havs, in-row zone array, nulls
    * compacted, exploded. */
  def q255(s: SparkSession, d: String): DataFrame = {
    val zones = demoCircleZones
    val withHavs = withZoneHavs(customerPoints(s, d), zones)
    val zs = zones.zipWithIndex.map { case ((name, _, _, r), i) =>
      when(col(s"hav$i") <= lit(havK(r)),
        struct(lit(name).as("zone"), col(s"hav$i").as("hav")))
        .otherwise(lit(null))
    }
    withHavs
      .select(col("id"), explode(filter(array(zs: _*), z => z.isNotNull)).as("z"))
      .select(col("id"), col("z.zone").as("zone"), col("z.hav").as("hav"))
      .orderBy("id", "zone")
  }

  /** The q255 oracle SQL — the identical layers as CTEs, then a
    * per-zone UNION ALL over the hav columns. */
  def q255OracleSql: String = {
    val zones = demoCircleZones
    val pts = "SELECT CAST(c_custkey AS BIGINT) AS id, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 180000001 - 90000000 AS la, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000 AS lo " +
      "FROM customer"
    val l1 = zoneLayer1(zones).map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val l2 = zoneLayer2(zones).map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val l3 = zoneLayer3(zones).map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val legs = zones.zipWithIndex.map { case ((name, _, _, r), i) =>
      s"SELECT id, '$name' AS zone, hav$i AS hav FROM l3 " +
        s"WHERE hav$i <= ${d2s(havK(r))}"
    }
    s"WITH pts AS ($pts), " +
      s"l1 AS (SELECT id, $l1 FROM pts), " +
      s"l2 AS (SELECT id, $l2 FROM l1), " +
      s"l3 AS (SELECT id, $l3 FROM l2) " +
      legs.mkString("", " UNION ALL ", "") + " ORDER BY id, zone"
  }

  /** The per-zone haversine threshold as mirrored LAYERS over a
    * `radius_m` double column: kz = sinP(r/2R)² — r ≤ 2000 km keeps
    * the argument ≤ 0.157 rad where sinP is exact to ~1e-17 relative,
    * and both engines evaluate the identical text, so the per-zone
    * cut is bit-stable like every other predicate in this tier. */
  def kzLayers: Seq[(String, String)] = Seq(
    "rh" -> "(radius_m / 12742000.0)",
    "sr" -> sinPSql("rh"),
    "kz" -> "(sr * sr)")

  /** ZONE-SCALE spherical membership (r16): zones as a DATAFRAME
    * (zone_id, zla, zlo in µdeg, radius_m double) joined to points
    * through the banded grid — the scale path past the O(10)
    * literal-CASE resolver ([[resolveCircleZones]] / q255's layered
    * columns), whose plan grows linearly with the zone count and hits
    * the interpreted-regime wall at 10³+ geofences. Here zone count
    * is DATA: the grid is sized by `maxRadiusMeters` (the fleet's
    * largest geofence), each zone sits in its center's (band, cell)
    * key, each point probes its deduplicated 3×3 neighborhood, and
    * the only shuffle is the (band, cell) equi-join — cost is
    * density-bounded, 10⁶ zones cost no more plan than 10.
    *
    * Fail-fast contract: a zone radius outside (0, maxRadiusMeters]
    * raises — the guard is fused into the `radius_m` column the
    * verify reads (the q248 intervalUnion doctrine), so column
    * pruning cannot elide it. The guard CASE passes the double
    * through unchanged, so mirrored bit-identity is unaffected.
    *
    * Emits every (id, zone_id, hav) membership pair exactly once —
    * zone keys are unique, point keys deduplicated (the nc-collapse
    * argument above). */
  def sphericalZoneJoin(points: DataFrame, zones: DataFrame,
      maxRadiusMeters: Double): DataFrame = {
    val cand = zoneCandidates(points, zones, maxRadiusMeters)
    val l = (havLayer1 ++ havLayer2 :+ havLayer3) ++ kzLayers
    val lay = l.foldLeft(cand) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
    // Generator-form verify (the q249 pushdown-blowup doctrine)
    lay.select(explode(when(col("hav") <= col("kz"),
        array(struct(col("id"), col("zone_id"), col("hav"))))
      .otherwise(array().cast(
        "array<struct<id:bigint,zone_id:bigint,hav:double>>"))).as("r"))
      .select("r.*")
  }

  /** The grid CANDIDATE stage of [[sphericalZoneJoin]] (everything up
    * to the haversine verify) — split out so the ScaleBench zones
    * curve can measure candidate volume per point directly: the scale
    * claim is candidates/point = O(zones per grid cell), never
    * O(zones). */
  private[graft] def zoneCandidates(points: DataFrame, zones: DataFrame,
      maxRadiusMeters: Double): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val (hh, cells, wMax) = gridParams(maxRadiusMeters)
    val H = hh
    val bt = broadcast(cells.toDF("bt_band", "bt_nc"))
    val z = zones.select(col("zone_id").cast("long").as("zone_id"),
        col("zla").cast("long").as("lb"), col("zlo").cast("long").as("lob"),
        when(col("radius_m") > lit(0.0) &&
            col("radius_m") <= lit(maxRadiusMeters),
          col("radius_m").cast("double"))
          .otherwise(raise_error(concat(
            lit(s"sphericalZoneJoin: radius outside (0, $maxRadiusMeters]: "),
            col("radius_m").cast("string")))).as("radius_m"))
      .withColumn("zband", expr(s"(lb + 90000000) DIV $H"))
      .join(bt, col("zband") === col("bt_band"))
      .select(col("zone_id"), col("lb"), col("lob"), col("radius_m"),
        col("zband"), expr("((lob + 180000000) * bt_nc) DIV 360000000").as("zcell"))
    val p = points.select(col("id").cast("long").as("id"),
        col("la").cast("long").as("la"), col("lo").cast("long").as("lo"))
      .withColumn("band", expr(s"(la + 90000000) DIV $H"))
      .withColumn("db", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("tb", col("band") + col("db"))
      .join(bt, col("tb") === col("bt_band"))
      .withColumn("cell0", expr("((lo + 180000000) * bt_nc) DIV 360000000"))
      .withColumn("jcell", explode(array_distinct(
        transform(array(lit(-1L), lit(0L), lit(1L)),
          dc => pmod(col("cell0") + dc, col("bt_nc"))))))
      .select(col("id"), col("la"), col("lo").as("loa"), col("tb"), col("jcell"))
    val boxCut = abs(col("la") - col("lb")) <= H &&
      expr("abs(((loa - lob + 540000000) % 360000000) - 180000000)") <= wMax
    // SHUFFLE_HASH the zone side (the smaller, un-exploded relation);
    // the exploded point side streams un-sorted, as in `candidates`
    p.join(z.hint("SHUFFLE_HASH"),
      col("tb") === col("zband") && col("jcell") === col("zcell") && boxCut)
  }

  /** The q256 zone derivation: suppliers mapped to deterministic
    * zone centers (same md5 idiom as [[customerPoints]], full ±90°)
    * with integer-metre radii in [100 km, 2000 km]. */
  def supplierZones(s: SparkSession, d: String): DataFrame = {
    val h = md5(col("s_suppkey").cast("string"))
    Tables.supplier(s, d).select(
      col("s_suppkey").cast("long").as("zone_id"),
      (pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(180000001L))
        - 90000000L).as("zla"),
      (pmod(conv(substring(h, 9, 8), 16, 10).cast("long"), lit(360000000L))
        - 180000000L).as("zlo"),
      (pmod(conv(substring(h, 17, 8), 16, 10).cast("long"), lit(1900001L))
        + 100000L).cast("double").as("radius_m"))
  }

  /** Q256 — zone-scale membership under the ORACLE gate: every
    * (customer, supplier-zone) pair within the zone's own radius of
    * defined haversine; the oracle is the naive point × zone cross
    * join over the identical layers. */
  def q256(s: SparkSession, d: String): DataFrame =
    sphericalZoneJoin(customerPoints(s, d), supplierZones(s, d), 2000000.0)
      .orderBy("id", "zone_id")

  def q256OracleSql: String = {
    val l1 = havLayer1.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val l2 = havLayer2.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val kzl = kzLayers
    "WITH pts AS (SELECT CAST(c_custkey AS BIGINT) AS id, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 180000001 - 90000000 AS la, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000 AS lo " +
      "FROM customer), " +
      "zs AS (SELECT CAST(s_suppkey AS BIGINT) AS zone_id, " +
      "CAST(CONCAT('0x', substr(md5(CAST(s_suppkey AS VARCHAR)), 1, 8)) AS BIGINT) % 180000001 - 90000000 AS zla, " +
      "CAST(CONCAT('0x', substr(md5(CAST(s_suppkey AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000 AS zlo, " +
      "CAST(CAST(CONCAT('0x', substr(md5(CAST(s_suppkey AS VARCHAR)), 17, 8)) AS BIGINT) % 1900001 + 100000 AS DOUBLE) AS radius_m " +
      "FROM supplier), " +
      "d AS (SELECT p.id, z.zone_id, p.la, p.lo AS loa, z.zla AS lb, " +
      "z.zlo AS lob, z.radius_m FROM pts p, zs z), " +
      s"l1 AS (SELECT id, zone_id, radius_m, $l1 FROM d), " +
      s"l2 AS (SELECT id, zone_id, radius_m, $l2 FROM l1), " +
      s"l3 AS (SELECT id, zone_id, radius_m, ${havLayer3._2} AS ${havLayer3._1} FROM l2), " +
      s"l4 AS (SELECT id, zone_id, hav, ${kzl.head._2} AS ${kzl.head._1} FROM l3), " +
      s"l5 AS (SELECT id, zone_id, hav, ${kzl(1)._2} AS ${kzl(1)._1} FROM l4), " +
      s"l6 AS (SELECT id, zone_id, hav, ${kzl(2)._2} AS ${kzl(2)._1} FROM l5) " +
      "SELECT id, zone_id, hav FROM l6 WHERE hav <= kz ORDER BY id, zone_id"
  }

  /** First-match zone CASE as SQL text (the oracle side of
    * [[resolveCircleZones]]'s column form). */
  def zoneCaseSql(zones: Seq[(String, Long, Long, Double)]): String =
    zones.zipWithIndex.foldRight("'outside'") {
      case (((name, _, _, r), i), rest) =>
        s"CASE WHEN hav$i <= ${d2s(havK(r))} THEN '$name' ELSE $rest END"
    }

  /** The q258 event-point derivation: each event gets deterministic
    * coordinates = the user's md5-derived HOME (lat ±80°) plus an
    * hourly md5 drift (±1°) — temporally coherent (a user stays put
    * within an hour, wanders between hours), so zone DWELL segments
    * actually exist; every step exact integers mirrored by the oracle. */
  def eventPoints(s: SparkSession, d: String): DataFrame = {
    val uh = md5(col("user_id").cast("string"))
    val hr = expr("unix_timestamp(ts) DIV 3600")
    val dh = md5(concat(col("user_id").cast("string"), lit("#"),
      hr.cast("string")))
    Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("tsu"),
        ((pmod(conv(substring(uh, 1, 8), 16, 10).cast("long"), lit(160000001L))
          - 80000000L) +
         (pmod(conv(substring(dh, 1, 6), 16, 10).cast("long"), lit(2000001L))
          - 1000000L)).as("la"),
        (pmod((pmod(conv(substring(uh, 9, 8), 16, 10).cast("long"), lit(360000000L))
          - 180000000L) +
         (pmod(conv(substring(dh, 7, 6), 16, 10).cast("long"), lit(2000001L))
          - 1000000L) + 540000000L, lit(360000000L)) - 180000000L).as("lo"))
  }

  /** The q258 dwell zones: continental-scale circles (~30% sphere
    * coverage) so the uniform home fixture yields a real visit
    * population — 142 visits at sf0.01 (the demo zones' ~4% coverage
    * gave 6, a near-vacuous gate). */
  val dwellZones: Seq[(String, Long, Long, Double)] = Seq(
    ("americas", 10000000L, -80000000L, 3500000.0),
    ("europe", 50000000L, 10000000L, 2500000.0),
    ("eastasia", 30000000L, 115000000L, 3000000.0),
    ("oceania", -25000000L, 140000000L, 3000000.0),
    ("southam", -20000000L, -60000000L, 3000000.0),
    ("polar_n", 85000000L, 0L, 2000000.0))

  /** Q258 — zone DWELL segments: resolve each event's circle zone
    * (first match, the q255 layers), then gaps-and-islands runs of
    * consecutive same-zone events per user in (tsu, event_id) order —
    * one row per IN-ZONE visit with enter/exit/n_events (the
    * store-visit / geofence-dwell read). All key-partitioned windows. */
  def q258(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val zones = dwellZones
    val resolved = resolveCircleZones(eventPoints(s, d), zones)
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val wz = Window.partitionBy("user_id", "zone").orderBy("tsu", "event_id")
    resolved
      .withColumn("grp", row_number().over(w) - row_number().over(wz))
      .filter(col("zone") =!= "outside")
      .groupBy("user_id", "zone", "grp")
      .agg(min("tsu").as("enter_s"), max("tsu").as("exit_s"),
        count(lit(1)).as("n_events"))
      .select("user_id", "zone", "enter_s", "exit_s", "n_events")
      .orderBy("user_id", "enter_s", "zone")
  }

  private def eventPointsSql: String =
    "SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsu, " +
      "(CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 160000001 - 80000000) + " +
      "(CAST(CONCAT('0x', substr(md5(CONCAT(CAST(user_id AS VARCHAR), '#', CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS VARCHAR))), 1, 6)) AS BIGINT) % 2000001 - 1000000) AS la, " +
      "(((CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000) + " +
      "(CAST(CONCAT('0x', substr(md5(CONCAT(CAST(user_id AS VARCHAR), '#', CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS VARCHAR))), 7, 6)) AS BIGINT) % 2000001 - 1000000) + 540000000) % 360000000) - 180000000 AS lo " +
      "FROM events"

  def q258OracleSql: String = {
    val zones = dwellZones
    val l1 = zoneLayer1(zones).map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val l2 = zoneLayer2(zones).map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val l3 = zoneLayer3(zones).map { case (n, e) => s"$e AS $n" }.mkString(", ")
    s"WITH pts AS ($eventPointsSql), " +
      s"l1 AS (SELECT user_id, event_id, tsu, $l1 FROM pts), " +
      s"l2 AS (SELECT user_id, event_id, tsu, $l2 FROM l1), " +
      s"l3 AS (SELECT user_id, event_id, tsu, $l3 FROM l2), " +
      s"z AS (SELECT user_id, event_id, tsu, ${zoneCaseSql(zones)} AS zone FROM l3), " +
      "g AS (SELECT user_id, tsu, event_id, zone, " +
      "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tsu, event_id) - " +
      "ROW_NUMBER() OVER (PARTITION BY user_id, zone ORDER BY tsu, event_id) AS grp FROM z) " +
      "SELECT user_id, zone, MIN(tsu) AS enter_s, MAX(tsu) AS exit_s, " +
      "CAST(COUNT(*) AS BIGINT) AS n_events FROM g WHERE zone <> 'outside' " +
      "GROUP BY user_id, zone, grp ORDER BY user_id, enter_s, zone"
  }

  /** Q260 — nearest-zone assignment (store/warehouse attribution):
    * each customer's nearest supplier zone center within 2000 km,
    * ranked by the bit-stable (hav, zone_id) order — q256's machinery
    * with a constant radius and a per-point rank window. */
  def q260(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val zones = supplierZones(s, d).withColumn("radius_m", lit(2000000.0))
    sphericalZoneJoin(customerPoints(s, d), zones, 2000000.0)
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("hav"), col("zone_id"))))
      .filter(col("rk") === 1)
      .select("id", "zone_id", "hav")
      .orderBy("id")
  }

  def q260OracleSql: String = {
    val l1 = havLayer1.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val l2 = havLayer2.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val kzl = kzLayers
    "WITH pts AS (SELECT CAST(c_custkey AS BIGINT) AS id, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 180000001 - 90000000 AS la, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000 AS lo " +
      "FROM customer), " +
      "zs AS (SELECT CAST(s_suppkey AS BIGINT) AS zone_id, " +
      "CAST(CONCAT('0x', substr(md5(CAST(s_suppkey AS VARCHAR)), 1, 8)) AS BIGINT) % 180000001 - 90000000 AS zla, " +
      "CAST(CONCAT('0x', substr(md5(CAST(s_suppkey AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000 AS zlo, " +
      "CAST(2000000 AS DOUBLE) AS radius_m FROM supplier), " +
      "d AS (SELECT p.id, z.zone_id, p.la, p.lo AS loa, z.zla AS lb, " +
      "z.zlo AS lob, z.radius_m FROM pts p, zs z), " +
      s"l1 AS (SELECT id, zone_id, radius_m, $l1 FROM d), " +
      s"l2 AS (SELECT id, zone_id, radius_m, $l2 FROM l1), " +
      s"l3 AS (SELECT id, zone_id, radius_m, ${havLayer3._2} AS ${havLayer3._1} FROM l2), " +
      s"l4 AS (SELECT id, zone_id, hav, ${kzl.head._2} AS ${kzl.head._1} FROM l3), " +
      s"l5 AS (SELECT id, zone_id, hav, ${kzl(1)._2} AS ${kzl(1)._1} FROM l4), " +
      s"l6 AS (SELECT id, zone_id, hav, ${kzl(2)._2} AS ${kzl(2)._1} FROM l5), " +
      "r AS (SELECT id, zone_id, hav, ROW_NUMBER() OVER (PARTITION BY id " +
      "ORDER BY hav, zone_id) AS rk FROM l6 WHERE hav <= kz) " +
      "SELECT id, zone_id, hav FROM r WHERE rk = 1 ORDER BY id"
  }

  /** Q261 — geocell rollup: point counts per uniform lat/lon cell at
    * three resolutions (15°/5°/1° — the multi-resolution density read
    * behind heat maps and geo partitioning audits); cell ids are one
    * exact integer per (row, col). */
  def q261(s: SparkSession, d: String): DataFrame = {
    val p = customerPoints(s, d)
    def at(res: Long): DataFrame = {
      val wide = 360000000L / res + 1L
      p.groupBy(
          expr(s"((la + 90000000) DIV $res) * $wide + (lo + 180000000) DIV $res")
            .as("cell"))
        .agg(count(lit(1)).as("n"))
        .select(lit(res).as("res"), col("cell"), col("n"))
    }
    at(15000000L).union(at(5000000L)).union(at(1000000L))
      .orderBy("res", "cell")
  }

  def q261OracleSql: String = {
    def leg(res: Long): String = {
      val wide = 360000000L / res + 1L
      s"SELECT CAST($res AS BIGINT) AS res, " +
        s"((la + 90000000) // $res) * $wide + (lo + 180000000) // $res AS cell, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2"
    }
    "WITH pts AS (SELECT " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 180000001 - 90000000 AS la, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000 AS lo " +
      "FROM customer) " +
      Seq(15000000L, 5000000L, 1000000L).map(leg).mkString(" UNION ALL ") +
      " ORDER BY res, cell"
  }

  /** The q249 point derivation: customers mapped to deterministic
    * integer micro-degree coordinates, lat ∈ [−90°, 90°] (the FULL
    * sphere — r16 widened it from ±60° with the quadrant-reduced
    * cosine; uniform-in-lat, so the poles carry a deliberate dense
    * clump that exercises the whole-circle collapsed bands), lon ∈
    * [−180°, 180°), via two independent md5 slices (the q246 idiom —
    * hash-derived, never a multiplicative congruence). */
  def customerPoints(s: SparkSession, d: String): DataFrame = {
    val h = md5(col("c_custkey").cast("string"))
    Tables.customer(s, d).select(
      col("c_custkey").cast("long").as("id"),
      (pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(180000001L))
        - 90000000L).as("la"),
      (pmod(conv(substring(h, 9, 8), 16, 10).cast("long"), lit(360000000L))
        - 180000000L).as("lo"))
  }

  /** Q249 — spherical radius join under the ORACLE gate: all customer
    * pairs within 150 km of defined haversine. The oracle is the
    * NAIVE all-pairs join evaluating the identical polynomial layers
    * — the banded grid must reproduce it exactly. */
  def q249(s: SparkSession, d: String): DataFrame =
    sphericalRadiusJoin(customerPoints(s, d), 150000.0)
      .orderBy("id_a", "id_b")

  /** The q249 oracle SQL, generated from the SAME layer text the
    * engine compiles — one source of truth for every float op. */
  def q249OracleSql: String = {
    val k = havK(150000.0)
    val l1 = havLayer1.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val l2 = havLayer2.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    "WITH pts AS (SELECT CAST(c_custkey AS BIGINT) AS id, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 180000001 - 90000000 AS la, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000 AS lo " +
      "FROM customer), " +
      "d AS (SELECT a.id AS id_a, b.id AS id_b, a.la AS la, a.lo AS loa, " +
      "b.la AS lb, b.lo AS lob FROM pts a JOIN pts b ON a.id < b.id), " +
      s"l1 AS (SELECT id_a, id_b, $l1 FROM d), " +
      s"l2 AS (SELECT id_a, id_b, $l2 FROM l1), " +
      s"l3 AS (SELECT id_a, id_b, ${havLayer3._2} AS ${havLayer3._1} FROM l2) " +
      s"SELECT id_a, id_b, hav FROM l3 WHERE hav <= ${d2s(k)} " +
      "ORDER BY id_a, id_b"
  }

  /** Travel-speed anomaly screen (GPS teleport detection — the
    * trajectory-QA gate location ingest runs before any dwell/geofence
    * analytic trusts the fixes; the reference ingests raw sensor
    * streams with no such screen, RawDataIngestion.java:103-149): for
    * each user's consecutive fix pair in (tsu, event_id) order, the
    * pair is anomalous when its defined polynomial haversine EXCEEDS
    * the haversine of the maximum plausible travel distance vMax·Δt —
    * the fix implies motion faster than vMax.
    *
    * NO asin/sqrt ever runs: sin²(d/2R) is monotone in d on [0, πR],
    * so `distance > vMax·Δt` is exactly `hav > kz(vMax·Δt)` with kz
    * the mirrored [[kzLayers]] text over a per-row radius column (the
    * q256 per-zone-threshold move). The radius caps at πR − ε
    * (antipodal — no point is farther), keeping the sinP argument
    * ≤ π/2 where the series is accurate AND monotone; a capped pair
    * can only flag if hav exceeds sinP(π/2)² ≈ 1, i.e. never on real
    * fixes.
    *
    * Scale: one user-keyed shuffle for the LAG window, then a narrow
    * layered projection per pair; the verify is the Generator form
    * (the q249 pushdown-blowup doctrine — a plain `.filter` on the
    * polynomial column gets transposed into one interpreted-regime
    * mega-expression). State per window partition is one row. */
  def speedAnomalies(points: DataFrame, vMax: Double): DataFrame = {
    require(vMax > 0, s"vMax=$vMax must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val prev = points
      .withColumn("lb", lag("la", 1).over(w))
      .withColumn("lob", lag("lo", 1).over(w))
      .withColumn("ptsu", lag("tsu", 1).over(w))
      .filter(col("lb").isNotNull)
      .withColumn("loa", col("lo"))
      .withColumn("dt_s", col("tsu") - col("ptsu"))
      .withColumn("radius_m",
        least(lit(vMax) * col("dt_s").cast("double"), lit(20015086.0)))
    val l = (havLayer1 ++ havLayer2 :+ havLayer3) ++ kzLayers
    val lay = l.foldLeft(prev) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
    lay.select(explode(when(col("hav") > col("kz"),
        array(struct(col("user_id"), col("event_id"), col("dt_s"),
          col("hav"), col("kz"))))
      .otherwise(array().cast(
        "array<struct<user_id:bigint,event_id:bigint,dt_s:bigint," +
          "hav:double,kz:double>>"))).as("r"))
      .select("r.*")
  }

  /** Q262 — travel-speed anomalies under the ORACLE gate: the q258
    * trajectory fixture screened at 40 m/s (144 km/h — fast ground
    * travel; 274 of 9,850 consecutive pairs flag at sf0.01). The
    * oracle is the identical LAG + layer chain in DuckDB. */
  def q262(s: SparkSession, d: String): DataFrame =
    speedAnomalies(eventPoints(s, d), 40.0)
      .orderBy("user_id", "event_id")

  def q262OracleSql: String = {
    val l1 = havLayer1.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val l2 = havLayer2.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val kzl = kzLayers
    s"WITH pts AS ($eventPointsSql), " +
      "lg AS (SELECT user_id, event_id, tsu, la, lo AS loa, " +
      "LAG(la) OVER w AS lb, LAG(lo) OVER w AS lob, LAG(tsu) OVER w AS ptsu " +
      "FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)), " +
      "d AS (SELECT user_id, event_id, tsu - ptsu AS dt_s, la, loa, lb, lob, " +
      s"LEAST(${d2s(40.0)} * CAST(tsu - ptsu AS DOUBLE), ${d2s(20015086.0)}) AS radius_m " +
      "FROM lg WHERE lb IS NOT NULL), " +
      s"l1 AS (SELECT user_id, event_id, dt_s, radius_m, $l1 FROM d), " +
      s"l2 AS (SELECT user_id, event_id, dt_s, radius_m, $l2 FROM l1), " +
      s"l3 AS (SELECT user_id, event_id, dt_s, radius_m, ${havLayer3._2} AS ${havLayer3._1} FROM l2), " +
      s"l4 AS (SELECT user_id, event_id, dt_s, hav, ${kzl.head._2} AS ${kzl.head._1} FROM l3), " +
      s"l5 AS (SELECT user_id, event_id, dt_s, hav, ${kzl(1)._2} AS ${kzl(1)._1} FROM l4), " +
      s"l6 AS (SELECT user_id, event_id, dt_s, hav, ${kzl(2)._2} AS ${kzl(2)._1} FROM l5) " +
      "SELECT user_id, event_id, dt_s, hav, kz FROM l6 WHERE hav > kz " +
      "ORDER BY user_id, event_id"
  }

  /** Trajectory resampling to a uniform time grid — the canonical step
    * after raw sensor-fix ingestion (the reference's own domain:
    * RawDataIngestion.java:103-149 ingests irregular mCerebrum sensor
    * datapoints; aligning them to a fixed grid is what downstream
    * fusion/model consumers do first): per user, one interpolated
    * position every `gridSeconds` within the user's own fix span (no
    * extrapolation). Interpolation is EXACT-INTEGER linear:
    * coordinates shift to non-negative (la+90e6, lo+180e6) so the
    * numerator a₀·(t₁−t) + a₁·(t−t₀) is a non-negative BIGINT and one
    * truncating division equals floor division on BOTH engines (the
    * q254 sign-semantics class, solved by construction instead of by
    * mirrored sign fixups); a grid instant that hits a fix exactly
    * returns that fix. Longitude interpolates naively (no dateline
    * shortcut) — documented; a wrap-aware variant would interpolate
    * the unwrapped cumulative angle.
    *
    * Scale: one per-user span agg + a bounded sequence explode
    * (span/grid rows per user), then the fixes ∪ grid frame takes two
    * user-keyed window passes (prev-fix / next-fix via IGNORE-NULLS
    * edge values over the same (t, kind, eid) total order) — the
    * shuffle set of any per-user window; no join, no driver work. */
  def resampleTrajectory(points: DataFrame, gridSeconds: Long): DataFrame = {
    require(gridSeconds > 0, s"gridSeconds=$gridSeconds must be positive")
    import org.apache.spark.sql.expressions.Window
    val G = gridSeconds
    val span = points.groupBy("user_id")
      .agg(expr(s"((min(tsu) + ${G - 1}) DIV $G) * $G").as("g0"),
        expr(s"(max(tsu) DIV $G) * $G").as("g1"))
      .filter(col("g0") <= col("g1"))
    val grid = span.select(col("user_id"),
      explode(sequence(col("g0"), col("g1"), lit(G))).as("t"))
    val u = points.select(col("user_id"), col("tsu").as("t"),
        lit(0).as("kind"), col("event_id").as("eid"),
        (col("la") + 90000000L).as("las"), (col("lo") + 180000000L).as("los"))
      .unionByName(grid.select(col("user_id"), col("t"), lit(1).as("kind"),
        lit(Long.MaxValue).as("eid"),
        lit(null).cast("long").as("las"), lit(null).cast("long").as("los")))
    val wp = Window.partitionBy("user_id")
      .orderBy(col("t"), col("kind"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("user_id")
      .orderBy(col("t"), col("kind"), col("eid"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val fixT = when(col("kind") === 0, col("t"))
    val w = u.select(col("user_id"), col("t"), col("kind"),
      last(col("las"), ignoreNulls = true).over(wp).as("pla"),
      last(col("los"), ignoreNulls = true).over(wp).as("plo"),
      last(fixT, ignoreNulls = true).over(wp).as("pt"),
      first(col("las"), ignoreNulls = true).over(wn).as("nla"),
      first(col("los"), ignoreNulls = true).over(wn).as("nlo"),
      first(fixT, ignoreNulls = true).over(wn).as("nt"))
    w.filter(col("kind") === 1 && col("pla").isNotNull &&
        (col("pt") === col("t") || col("nla").isNotNull))
      .select(col("user_id"), col("t"),
        (when(col("pt") === col("t"), col("pla"))
          .otherwise(expr("(pla * (nt - t) + nla * (t - pt)) DIV (nt - pt)"))
          - 90000000L).as("la_i"),
        (when(col("pt") === col("t"), col("plo"))
          .otherwise(expr("(plo * (nt - t) + nlo * (t - pt)) DIV (nt - pt)"))
          - 180000000L).as("lo_i"))
  }

  /** Q265 — trajectory resampling under the ORACLE gate: the q258
    * fixture resampled to a 6-hour grid (17,493 grid positions at
    * sf0.01, one per user per grid instant inside the user's span). */
  def q265(s: SparkSession, d: String): DataFrame =
    resampleTrajectory(eventPoints(s, d), 21600L).orderBy("user_id", "t")

  def q265OracleSql: String = {
    val G = 21600L
    s"WITH pts AS ($eventPointsSql), " +
      s"span AS (SELECT user_id, ((MIN(tsu) + ${G - 1}) // $G) * $G AS g0, " +
      s"(MAX(tsu) // $G) * $G AS g1 FROM pts GROUP BY user_id), " +
      s"grid AS (SELECT user_id, unnest(range(g0, g1 + 1, $G)) AS t " +
      "FROM span WHERE g0 <= g1), " +
      "u AS (SELECT user_id, tsu AS t, 0 AS kind, event_id AS eid, " +
      "la + 90000000 AS las, lo + 180000000 AS los FROM pts " +
      "UNION ALL SELECT user_id, t, 1 AS kind, 9223372036854775807 AS eid, " +
      "NULL, NULL FROM grid), " +
      "w AS (SELECT user_id, t, kind, " +
      "last_value(las IGNORE NULLS) OVER wp AS pla, " +
      "last_value(los IGNORE NULLS) OVER wp AS plo, " +
      "last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS) OVER wp AS pt, " +
      "first_value(las IGNORE NULLS) OVER wn AS nla, " +
      "first_value(los IGNORE NULLS) OVER wn AS nlo, " +
      "first_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS) OVER wn AS nt " +
      "FROM u WINDOW " +
      "wp AS (PARTITION BY user_id ORDER BY t, kind, eid " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
      "wn AS (PARTITION BY user_id ORDER BY t, kind, eid " +
      "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
      "SELECT user_id, t, " +
      "CASE WHEN pt = t THEN pla " +
      "ELSE (pla * (nt - t) + nla * (t - pt)) // (nt - pt) END - 90000000 AS la_i, " +
      "CASE WHEN pt = t THEN plo " +
      "ELSE (plo * (nt - t) + nlo * (t - pt)) // (nt - pt) END - 180000000 AS lo_i " +
      "FROM w WHERE kind = 1 AND pla IS NOT NULL " +
      "AND (pt = t OR nla IS NOT NULL) ORDER BY user_id, t"
  }

  /** Geo hotspot clusters — grid-density clustering (the GDBSCAN/
    * STING family: density-reachable cells merged into regions):
    * cells at `resMicroDeg` whose point count is STRICTLY above
    * `factor`× the AMBIENT mean merge into clusters by 8-neighborhood
    * connected components (longitude wraps mod the grid; latitude
    * does not). The density test is the exact integer cross-multiply
    * n·C > factor·N (C = the grid's fixed cell count, N = total
    * points), so "hotspot" is scale-invariant — the same operator is
    * non-degenerate at any corpus size, and both engines compare
    * exact BIGINTs.
    *
    * Scale: the corpus is touched by ONE hash-agg (the cell count);
    * everything after runs on the DENSE-CELL frame, which the
    * ambient-relative threshold keeps a vanishing fraction of the
    * grid. Adjacency is the same explode-to-neighborhood equi-join as
    * the banded grid (never cell×cell), and the component merge is
    * [[Graph.connectedComponentsStar]] (log-diameter rounds): hotspot
    * graphs are usually shallow, but a long corridor of dense cells
    * can exceed a propagation round budget and SILENTLY split, so
    * the convergence-safe form is the default.
    * Out-of-range latitude neighbors simply miss the join; isolated
    * dense cells come back as singleton clusters (the q105 union). */
  def geoHotspots(points: DataFrame, resMicroDeg: Long = 5000000L,
      factor: Long = 2L): DataFrame = {
    require(resMicroDeg > 0 && 360000000L % resMicroDeg == 0L &&
      180000000L % resMicroDeg == 0L,
      s"res=$resMicroDeg µdeg must divide both 180e6 and 360e6")
    require(factor >= 1L, s"factor=$factor must be >= 1")
    val res = resMicroDeg
    val ncols = 360000000L / res
    require(ncols >= 3L, s"grid too coarse: $ncols longitude cells")
    val wide = ncols + 1L // the q261 cell-id scheme
    val cTot = (180000000L / res) * ncols
    val cells = points.groupBy(
        expr(s"(la + 90000000) DIV $res").as("r"),
        expr(s"(lo + 180000000) DIV $res").as("c"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum("n").as("nn"))
    val dense = cells.crossJoin(broadcast(tot))
      .filter(col("n") * lit(cTot) > lit(factor) * col("nn"))
      .select(col("r"), col("c"), col("n"),
        (col("r") * wide + col("c")).as("cell"))
      .localCheckpoint(true) // multi-consumer: edge sides + singles + agg
    val nbr = dense
      .withColumn("dr", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dc", explode(array(lit(-1L), lit(0L), lit(1L))))
      .filter(col("dr") =!= 0L || col("dc") =!= 0L)
      .select(col("cell").as("src"),
        ((col("r") + col("dr")) * wide +
          pmod(col("c") + col("dc"), lit(ncols))).as("dst_key"))
    val edges = nbr.join(dense.select(col("cell").as("dst")),
        col("dst_key") === col("dst"))
      .filter(col("src") < col("dst"))
      .select("src", "dst")
    // star contraction, not min-label propagation: hotspot chains can
    // exceed propagation's round budget (a long corridor of dense
    // cells would silently split clusters at maxIter); star rounds
    // grow ~log(diameter), so a 20-round cap is never the binding
    // constraint at any realistic grid size
    val cc = Graph.connectedComponentsStar(edges)
    val singles = dense.select(col("cell").as("id"))
      .join(cc.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    cc.union(singles)
      .join(dense.select(col("cell").as("id"), col("n")), Seq("id"))
      .groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_cells"), sum("n").as("n_points"))
  }

  /** Q264 — hotspot clusters under the ORACLE gate: customer points,
    * 5° cells, 2× ambient density (182 clusters at sf0.01, 32 at
    * sf0.1 — the relative threshold keeps both scales non-vacuous).
    * The oracle rebuilds the closure with a recursive CTE (the q105
    * reachability idiom). */
  def q264(s: SparkSession, d: String): DataFrame =
    geoHotspots(customerPoints(s, d)).orderBy("cluster")

  def q264OracleSql: String = {
    val res = 5000000L
    val ncols = 360000000L / res
    val wide = ncols + 1L
    val cTot = (180000000L / res) * ncols
    "WITH RECURSIVE pts AS (SELECT " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 180000001 - 90000000 AS la, " +
      "CAST(CONCAT('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % 360000000 - 180000000 AS lo " +
      "FROM customer), " +
      s"cells AS (SELECT (la + 90000000) // $res AS r, " +
      s"(lo + 180000000) // $res AS c, COUNT(*) AS n FROM pts GROUP BY 1, 2), " +
      "tot AS (SELECT SUM(n) AS nn FROM cells), " +
      s"dense AS (SELECT r, c, n, r * $wide + c AS cell FROM cells, tot " +
      s"WHERE n * $cTot > 2 * nn), " +
      "e0 AS (SELECT a.cell AS src, b.cell AS dst FROM dense a JOIN dense b " +
      "ON abs(a.r - b.r) <= 1 AND " +
      s"LEAST(((a.c - b.c) % $ncols + $ncols) % $ncols, " +
      s"((b.c - a.c) % $ncols + $ncols) % $ncols) <= 1 " +
      "AND a.cell <> b.cell), " +
      "reach(id, label) AS (SELECT cell, cell FROM dense " +
      "UNION SELECT e0.dst, r.label FROM reach r JOIN e0 ON e0.src = r.id), " +
      "cl AS (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id) " +
      "SELECT cl.cluster, CAST(COUNT(*) AS BIGINT) AS n_cells, " +
      "CAST(SUM(d.n) AS BIGINT) AS n_points " +
      "FROM dense d JOIN cl ON d.cell = cl.id GROUP BY cl.cluster " +
      "ORDER BY cluster"
  }
}
