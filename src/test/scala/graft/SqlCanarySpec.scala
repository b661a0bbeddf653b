package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** SQL front-end canary (r13 verdict #5): the declared Q1–Q26 oracle
  * strings are written DUAL-DIALECT — they were validated to parse on
  * any ANSI engine pre-r1, but until r14 only q46 exercised the
  * engine's `spark.sql` entry point continuously. This sweep registers
  * the fixture tables as temp views, runs each core query's SQL string
  * through Spark's OWN SQL parser, and asserts value equality with the
  * DataFrame-API form — a cheap dialect-drift tripwire: a Spark
  * upgrade that changes a function's SQL semantics (or an oracle edit
  * that silently leaves ANSI) fails here before the DuckDB gate ever
  * sees it.
  *
  * Comparison mirrors the driver's oracle protocol: columns sorted by
  * name, rows canonicalized to strings (decimals stripped of trailing
  * zeros so DECIMAL/DOUBLE presentation differences don't alias as
  * value differences), row MULTISET equality (both sides carry total
  * ORDER BYs, but the canary gates values, not tie layout). */
class SqlCanarySpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def canon(df: DataFrame): Seq[Vector[String]] = {
    val cols = df.columns.sorted.map(col(_))
    df.select(cols.toIndexedSeq: _*).collect().iterator.map { r =>
      r.toSeq.map {
        case null => "∅"
        // Spark's date_trunc returns TIMESTAMP where DuckDB (and the
        // DataFrame side's .cast("date")) return DATE — a midnight
        // timestamp and its date are the same VALUE under the gate's
        // presentation, so canonicalize the render, not the instant.
        case t: java.sql.Timestamp if t.toString.endsWith(" 00:00:00.0") =>
          t.toString.stripSuffix(" 00:00:00.0")
        case d: java.math.BigDecimal =>
          val s = d.stripTrailingZeros
          // stripTrailingZeros(0.00) -> 0E-2; normalize zero explicitly
          if (s.unscaledValue.signum == 0) "0" else s.toPlainString
        case d: Double =>
          if (d == math.rint(d) && math.abs(d) < 1e15) math.rint(d).toLong.toString
          else d.toString
        case f: Float =>
          val d = f.toDouble
          if (d == math.rint(d) && math.abs(d) < 1e15) math.rint(d).toLong.toString
          else d.toString
        case x => x.toString
      }.toVector
    }.toVector.sortBy(_.mkString("|"))
  }

  test("Q1-Q26 SQL strings run through spark.sql and match the DataFrame API") {
    val qNum = "^q(\\d+)_.*$".r
    val core = SparkEntry.queries.keys.toSeq
      .filter { case qNum(n) => n.toInt <= 26; case _ => false }
      .sorted.filter(SparkEntry.oracleSql.contains)
    assert(core.size == 26, s"expected the 26 core queries, got ${core.size}: $core")
    // Known dialect gaps — the only two core oracles using DuckDB-only
    // routines. They stay exempt (rewriting a GREEN oracle to chase
    // dual-dialect purity risks the DuckDB gate); the assert below
    // keeps the list honest: if a future edit makes one parse in
    // Spark, the canary demands the exemption be removed.
    val exempt = Map(
      "q23_json_extract" -> "json_extract (Spark: get_json_object)",
      "q26_term_count"   -> "UNNEST table fn (Spark: LATERAL VIEW explode)")
    exempt.keys.foreach { name =>
      val stillGap =
        try { spark.sql(SparkEntry.oracleSql(name)); false }
        catch { case _: org.apache.spark.sql.AnalysisException => true }
      assert(stillGap, s"$name now parses in Spark SQL — drop its exemption")
    }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    val failures = core.filterNot(exempt.contains).flatMap { name =>
      try {
        val api = canon(SparkEntry.queries(name)(spark, dir))
        val sql = canon(spark.sql(SparkEntry.oracleSql(name)))
        if (api == sql) None
        else Some(s"$name: ${api.size} api rows vs ${sql.size} sql rows; " +
          s"first diff api=${api.diff(sql).headOption} sql=${sql.diff(api).headOption}")
      } catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Extension-gate coverage (r14 verdict #7): every declared oracle
    * string past Q26 that is dual-dialect runs through `spark.sql`
    * continuously; the rest are asserted to remain genuinely
    * DuckDB-only (the rot tripwire: a Spark upgrade that makes one
    * parse demands its promotion into the covered set). An r15
    * exhaustive run of every oracle string found 95 of 240
    * are dual-dialect TODAY with ZERO value mismatches; the 145
    * others fail on DuckDB-only surface — list_sum/list/epoch/len/
    * string_split(_regex)/string_agg/UNNEST-range/QUALIFY/VALUES-
    * alias/AS MATERIALIZED/recursive-CTE-UNION, and the
    * CAST('0x…' AS BIGINT) hex idiom (Spark: conv()). */
  private val coveredExtension = Set(
    "q28_near_dup_minhash", "q40_cube", "q41_lead_lag", "q45_pivot",
    "q46_grouping_sets", "q48_unpivot", "q49_rank_dist", "q51_winnow_pairs",
    "q53_multimodal", "q56_salted_join", "q61_bloom_join", "q72_dedup_best",
    "q94_split_leakage", "q96_format_roundtrip", "q100_fuzzy_join",
    "q102_retention", "q103_outliers", "q106_pivot", "q111_correlation",
    "q113_cooccurrence", "q118_dq_report", "q121_item_neighbors",
    "q125_ab_test", "q128_sorted_neighborhood", "q130_recommend",
    "q131_scd2", "q132_snapshot_diff", "q134_mad_outliers",
    "q135_equidepth_bins", "q138_skipgrams", "q143_trimmed_mean",
    "q144_contribution", "q149_dict_encode", "q151_unpivot",
    "q154_robust_scale", "q157_benford", "q158_scd_integrity",
    "q162_time_travel", "q163_incremental_agg", "q171_pctile_bands",
    "q173_asof_enrich", "q177_minmax_scale", "q179_assoc_rules",
    "q180_gini", "q185_ks_drift", "q186_spearman", "q187_mann_whitney",
    "q191_fk_orphans", "q192_col_profile", "q196_welch_t",
    "q203_partition_skew", "q204_spend_deciles", "q206_weighted_median",
    "q213_rate_anomaly", "q214_degree_dist", "q215_adamic_adar",
    "q220_corr_matrix", "q221_growth_acct", "q222_stickiness",
    "q223_abc_classes", "q224_recommend_bucketed", "q225_xyz_classes",
    "q227_new_vs_returning", "q229_priority_mix", "q230_streaks",
    "q234_audience_overlap", "q236_price_volume", "q237_band_join",
    "q239_mode", "q240_winsorized", "q245_cdc_merge",
    // r17 derived-invariant tier: these oracles are plain enough to be
    // dual-dialect (exact counts + literal-TRUE contract booleans)
    "q175_video_meta", "q272_cms_guarantees", "q273_pagerank_invariants",
    "q274_bloom_guarantees", "q275_gk_rank_gate", "q277_image_dedup_recall")

  test("extension dual-dialect oracle strings run through spark.sql and match") {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    val missing = coveredExtension.filterNot(SparkEntry.oracleSql.contains)
    assert(missing.isEmpty, s"covered names without an oracle: $missing")
    val failures = coveredExtension.toSeq.sorted.flatMap { name =>
      try {
        val api = canon(SparkEntry.queries(name)(spark, dir))
        val sql = canon(spark.sql(SparkEntry.oracleSql(name)))
        if (api == sql) None
        else Some(s"$name: ${api.size} api rows vs ${sql.size} sql rows; " +
          s"first diff api=${api.diff(sql).headOption} sql=${sql.diff(api).headOption}")
      } catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("non-covered extension oracles remain genuinely DuckDB-only") {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    val qNum = "^q(\\d+)_.*$".r
    val uncovered = SparkEntry.oracleSql.keys.toSeq.sorted
      .filter { case qNum(n) => n.toInt > 26; case _ => true }
      .filterNot(coveredExtension.contains)
    val nowParse = uncovered.flatMap { name =>
      try {
        spark.sql(SparkEntry.oracleSql(name)).collect()
        Some(name) // ran clean in Spark — promote it to the covered set
      } catch { case _: Throwable => None }
    }
    assert(nowParse.isEmpty,
      s"these oracles now run in Spark SQL — promote to coveredExtension: $nowParse")
  }
}
