package graft

import graft.sources.Tables

/** A user of the reference engine drives it with SQL. This spec
  * proves the same workflow on graft: register the tables once
  * (`Tables.registerAll`) and run ANSI SQL via `spark.sql` — the
  * results match the library's DataFrame operators row-for-row
  * (slt-style statements drawn from the reference's tests/slt
  * surface: aggregation, join, distinct, order/limit, having). */
class SqlParitySpec extends SparkSuite {

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.registerAll(spark, sfDir)
  }

  private def parity(opName: String, sql: String): Unit = {
    val viaSql = spark.sql(sql).collect()
    val viaOp = SparkEntry.queries(opName)(spark, sfDir).collect()
    assert(viaSql.toSeq == viaOp.toSeq, s"$opName: SQL and DataFrame disagree")
    assert(viaSql.nonEmpty)
  }

  test("aggregation (q1) via spark.sql") {
    parity("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS DOUBLE) AS avg_qty,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
        |  CAST(max(l_extendedprice) AS DOUBLE) AS max_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  test("join + filter (q3) via spark.sql") {
    parity("q3_join_inner",
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin)
  }

  test("distinct (q12) via spark.sql") {
    parity("q12_distinct",
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin)
  }

  test("having (q20) via spark.sql") {
    parity("q20_having",
      """SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS tot
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) >= 12
        |ORDER BY o_custkey""".stripMargin)
  }

  test("cube (q40) via spark.sql") {
    parity("q40_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  test("window frames (q43) via spark.sql") {
    parity("q43_window_frames",
      """SELECT o_orderkey, o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum,
        |  CAST(lag(o_totalprice) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price
        |FROM orders WHERE o_custkey < 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  test("exact quantiles (q45) via spark.sql") {
    parity("q45_exact_quantiles",
      """WITH ranked AS (
        |  SELECT l_returnflag, l_quantity,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |    count(*)    OVER (PARTITION BY l_returnflag) AS cnt
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  min(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN l_quantity END) AS p50,
        |  min(CASE WHEN rn = CAST(ceil(cnt * 0.9) AS BIGINT) THEN l_quantity END) AS p90,
        |  max(cnt) AS n
        |FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  // ---- auto-generated parity: every oracle that IS Spark SQL -------
  //
  // The hand-written statements above pin a few canonical slt shapes;
  // this block closes the drift class structurally: every op's
  // `Op.sql` oracle that parses and means the same thing in Spark's
  // dialect is ALSO executed through spark.sql and compared against
  // the DataFrame operator. A divergence like the round-3 q20 bug
  // (parity text edited away from the oracle) is now impossible —
  // there is no second copy of the SQL.

  /** Oracles excluded from auto-parity, each for a stated dialect
    * reason: DuckDB-only syntax Spark can't parse, or a function that
    * doesn't exist in Spark's catalog. Nothing here is excluded for a
    * VALUE difference — a semantic divergence must fail the test, not
    * grow this list. */
  private val duckdbOnly: Map[String, String] = Map(
    "q16_expressions" -> "CAST(x AS VARCHAR) — Spark requires VARCHAR(n)",
    "q24_read_csv" -> "read_csv(path, header := ...) named-arg table function",
    "q62_csv_bad_records" -> "read_csv columns={...} + ignore_errors named args",
    "q36_json_extract" -> "json_extract_string()",
    "q52_read_jsonl" -> "read_json_auto() table function",
    "dedup_ngram_jaccard" -> "DuckDB [..] list literals/slicing",
    "dedup_simhash" -> "HUGEINT mod-2^64 hash replay + list_reduce lambda",
    "dedup_minhash_lsh" -> "HUGEINT mod-2^64 signature replay + list comprehension",
    "text_fingerprint" -> "HUGEINT mod-2^64 hash replay + list_reduce lambda",
    "stats_countmin" -> "HUGEINT xxh64-hashLong replay (xor/shift/HUGEINT casts)",
    "dedup_embedding" -> "::DOUBLE[] array cast",
    "dedup_lines" -> "list_* lambda functions",
    "dedup_contamination" -> "unnest()",
    "ann_topk_brute" -> "::DOUBLE[] array cast + QUALIFY",
    "ann_lsh" -> "::DOUBLE[] array cast + QUALIFY",
    "text_langid" -> "DuckDB [..] list literals",
    "text_quality" -> "list_ lambda syntax",
    "text_tokens" -> "string_split_regex()",
    "text_lm_score" -> "unnest(string_split_regex())",
    "text_gopher" -> "string_split_regex() + list_filter lambda",
    "text_pack_sequences" -> "string_split_regex()",
    "text_normalize" -> "regexp_replace(.., 'g') global flag argument",
    "text_split_assign" -> "0x3 hex literal",
    "sample_stratified" -> "0x3 hex literal",
    "text_repetition" -> "DuckDB [..] list literals",
    "text_pii" -> "CAST(x AS VARCHAR)",
    "text_topterms" -> "QUALIFY clause",
    "text_editdist" -> "strpos()",
    "stream_window_agg" -> "epoch_us()",
    "stream_sessionize" -> "epoch_us()",
    "stream_stateful_track" -> "epoch_us()",
    "stream_stream_join" -> "epoch_us()",
    "stream_topk" -> "epoch_us()",
    "q30_range_join" -> "epoch_us()",
    "q31_asof_join" -> "ASOF JOIN syntax",
    "q49_asof_tolerance" -> "ASOF JOIN syntax",
    "pipeline_e2e" -> "string_split()",
    "pipeline_pack" -> "string_split()",
    "q47_zorder" -> "DuckDB lambda syntax in the Morton bit-interleave",
    "q41_pivot" -> "DuckDB PIVOT ... ON ... USING syntax",
    "q42_explode" -> "unnest()",
    "q48_gapfill" -> "unnest(generate_series())",
    "q43_window_frames" -> "DuckDB WINDOW-clause placement",
    "q44_listagg" -> "string_agg(x, sep ORDER BY ..) in-args ordering",
    "q58_time_range_frame" -> "epoch()",
    "q59_transitive_closure" -> "WITH RECURSIVE + // division",
    "q64_locf" -> "epoch() + IGNORE NULLS argument placement",
    "ann_knn_classify" -> "::DOUBLE[] + list_cosine_similarity + QUALIFY",
    "sample_mixture" -> "// division + DuckDB WINDOW-clause placement",
    "q61_unpivot" -> "DuckDB UNPIVOT statement syntax",
    "text_chunk_overlap" -> "list_filter/list_slice lambda + generate_series + // division",
    "text_fuzzy_join" -> "string_split_regex() + regexp_full_match()",
    "text_bm25" -> "unnest(string_split_regex()) + count(*) FILTER",
    "q67_sessionize" -> "epoch_us()",
    "q69_decay_score" -> "epoch_us() + DuckDB WINDOW-clause placement",
    "text_url_canon" -> "// division + list_filter/list_aggregate lambda + string_split()",
    "q71_interval_merge" -> "epoch_us()",
    "vec_profile" -> "::DOUBLE[] cast + generate_series table function",
    "text_vocab_growth" -> "unnest(string_split_regex())",
    "graph_pagerank" -> "// integer division",
    "q74_ohlc" -> "epoch_us() + arg_min/arg_max names",
    "stream_ohlc" -> "epoch_us() + time_bucket() + arg_min/arg_max names",
    "q75_markov" -> "epoch_us()",
    "text_cooccur" -> "unnest(string_split()) + QUALIFY",
    "dedup_substring" -> "list slice toks[a:b] + unnest(range()) + list_transform lambda",
    "dedup_substring_rewrite" -> "list slice toks[a:b] + unnest(range()) + count(*) FILTER",
    "ann_filtered" -> "::DOUBLE[] + list_cosine_similarity + QUALIFY",
    "stream_drift" -> "epoch_us() + time_bucket()",
    "text_corpus_card" -> "len(string_split_regex())",
    "mm_metadata" -> "unnest(range()) lateral + // division",
    "mm_frame_sample" -> "unnest(range()) lateral + // division",
    "mm_audio_features" -> "unnest(range()) lateral + // division",
    "mm_scene_detect" -> "unnest(range()) lateral + // division",
    "mm_video_keyframe" -> "unnest(range()) lateral + // division",
    "mm_audio_vad" -> "unnest(range()) lateral + // division",
    "mm_phash_dedup" -> "HUGEINT bit ops + list_reduce/list_filter lambda + unnest(range())",
    "pipeline_mm" -> "HUGEINT bit ops + list_reduce lambda + unnest(range())",
    "text_bpe_train" -> "AS MATERIALIZED CTEs + string_split_regex + list slicing",
    "text_bpe_encode" -> "AS MATERIALIZED CTEs + string_split_regex + list slicing",
    "ann_ivf" -> "::DOUBLE[] cast + LATERAL correlated limit + list_cosine_similarity",
    "dedup_semantic" -> "::DOUBLE[] cast + MATERIALIZED CTEs + list_cosine_similarity",
    "ann_pq" -> "::DOUBLE[] cast + list slicing + list_reduce lambda + MATERIALIZED CTEs",
    "ann_ivfpq" -> "::DOUBLE[] cast + LATERAL + list_reduce lambda + MATERIALIZED CTEs",
    "ann_knn_ivfpq" -> "::DOUBLE[] cast + LATERAL + QUALIFY + MATERIALIZED CTEs",
    "ann_ivf_persist" -> "::DOUBLE[] cast + LATERAL correlated limit + list_cosine_similarity",
    "ann_hard_negatives" -> "::DOUBLE[] cast + QUALIFY + list_cosine_similarity",
    "ann_ivf_append" -> "::DOUBLE[] cast + LATERAL + MATERIALIZED CTEs + list_cosine_similarity",
    "stream_ivf_assign" -> "::DOUBLE[] cast + MATERIALIZED CTEs + list_cosine_similarity",
    "text_distill_filter" -> "string_split_regex + list_filter lambda + WINDOW clause placement",
    "ann_range_search" -> "::DOUBLE[] cast + LATERAL correlated limit + list_cosine_similarity",
    "ann_recall_eval" -> "::DOUBLE[] cast + LATERAL + MATERIALIZED CTEs + list_cosine_similarity",
    "graph_components" -> "WITH RECURSIVE UNION-dedup + // division",
    "text_perplexity_bucket" -> "unnest(string_split_regex()) + // division",
    "sample_balanced" -> "HUGEINT xxh64-hashLong replay (xor/shift/HUGEINT casts)",
    "stream_minhash_dedup" -> "HUGEINT mod-2^64 signature replay + list comprehension",
    "stream_contamination" -> "list comprehension + list slice toks[a:b] + string_split_regex",
    "dedup_near_cluster" -> "HUGEINT mod-2^64 signature replay + WITH RECURSIVE UNION-dedup",
    "sample_epoch_order" -> "HUGEINT xxh64-hashLong replay + unnest() lateral",
    "dedup_minhash_eval" -> "HUGEINT mod-2^64 signature replay + list comprehension",
    "dedup_doc_containment" -> "list slice toks[a:b] + unnest(range()) + list_transform lambda",
    "ann_sq8" -> "::DOUBLE[] cast + list_transform lambda + MATERIALIZED CTEs",
    "ann_binary" -> "::DOUBLE[] cast + list_filter lambda + MATERIALIZED CTEs",
    "ann_centroid_drift" -> "::DOUBLE[] cast + MATERIALIZED CTEs + list_cosine_similarity",
    "stream_quality_monitor" -> "string_split_regex() + list_filter lambda",
    "stats_auc" -> "string_split_regex() + list_filter lambda (distill CTEs)",
    "text_feature_hash" -> "string_split_regex() + list_filter lambda + 0x hex-string cast",
    "text_inverted_index" -> "string_split_regex() + list_filter lambda + // division + list(x ORDER BY)",
    "text_rake" -> "string_split_regex() + unnest(range()) + list_reduce lambda",
    "q77_asof_nearest" -> "epoch_us() + IGNORE NULLS argument placement",
    "q78_window_distinct" -> "epoch_us() + DISTINCT window aggregate (Spark analyzer rejects)",
    "stats_anova" -> "list_reduce lambda + list(x ORDER BY g)",
    "mm_shard_manifest" -> "// integer division",
    "vec_gram" -> "::DOUBLE[] cast + generate_series table function",
    "ann_mmr" -> "::DOUBLE[] cast + QUALIFY + list_cosine_similarity + MATERIALIZED CTEs",
    "stats_bootstrap" -> "HUGEINT xxh64-hashLong replay + unnest() + list_reduce lambda",
    "graph_kcore" -> "AS MATERIALIZED CTEs (the unrolled peel re-expands exponentially without them)",
    "mm_color_hist" -> "unnest(range()) lateral + // division",
    "stats_permutation" -> "HUGEINT xxh64-hashLong replay + unnest()",
    "stats_cuped" -> "epoch_us() + // division",
    "stats_winsorize" -> "// integer division",
    "kv_seek_scan" -> "// integer division",
    "text_readability" -> "len(regexp_extract_all())",
    "kv_cdc_batches" -> "// integer division",
    "sample_curriculum" -> "len(regexp_extract_all()) + HUGEINT xxh64-hashLong replay",
    "ann_pq_distortion" -> "::DOUBLE[] cast + list slicing + MATERIALIZED CTEs (the shared PQ chain)",
    "stream_asof_enrich" -> "epoch_us() + IGNORE NULLS argument placement",
    "pipeline_lineage" -> "len(string_split())",
    "stats_quantile_ci" -> "// integer division",
    "stats_mannwhitney" -> "HUGEINT rank-sum accumulation + // division",
    "stats_fdr" -> "HUGEINT xxh64-hashLong replay (the shared permutation chain) + // division",
    "q81_hopping_window" -> "epoch_us() + unnest() lateral",
    "stats_gini" -> "VARCHAR cast path (wide-decimal→double rule; Spark needs VARCHAR(n))",
    "stats_cusum" -> "epoch_us()/time_bucket() + MATERIALIZED CTE + VARCHAR cast path",
    "stats_acf" -> "epoch_us()/time_bucket() + MATERIALIZED CTE + range() + VARCHAR cast path",
    "stats_forecast_backtest" -> "epoch_us()/time_bucket() + // division + VARCHAR cast path",
    "stats_benford" -> "range() table function + VARCHAR cast of the cents integer",
    "kv_txn_occ" -> "MATERIALIZED CTEs (the unrolled OCC chain) + // division",
    "kv_compaction_pick" -> "// integer division",
    "sample_dpo_pairs" -> "MATERIALIZED CTEs + list_filter/list_contains lambdas + // division",
    "mm_patchify" -> "unnest(range()) lateral + // division",
    "stream_late_audit" -> "epoch_us() + MATERIALIZED CTE + // division",
    "graph_assortativity" -> "MATERIALIZED CTEs (shared edge/degree tables)",
    "layout_zonemap_skip" -> "strftime() + // division",
    "pipeline_incremental" -> "len(string_split()) + '0x'||substr hex cast (the shared e2e split hash)",
    "stats_seasonality" -> "VARCHAR cast path (wide-decimal→double rule)",
    "stream_watermark_tune" -> "epoch_us() + unnest([..]) list literal + // division",
    "stats_sequential" -> "// integer division + VARCHAR cast path",
    "mm_interleave" -> "len(regexp_extract_all()) + // division",
    "kv_read_amp" -> "unnest([..]) list literal + max_by + // division",
    "kv_amplification" -> "// integer division (flush-bucket files)",
    "kv_mvcc_gc" -> "UNION ALL of ungrouped aggregates over shared CTE + // division",
    "text_bpe_fertility" -> "unrolled BPE training CTEs (string_split_regex, list slicing)",
    "graph_walk_sample" -> "HUGEINT xxh64 seed-chain replay + MATERIALIZED step CTEs",
    "ann_knn_graph" -> "::DOUBLE[] cast + list_cosine_similarity (the shared band machinery)",
  )

  test("every Spark-dialect-compatible oracle runs via spark.sql and matches its operator") {
    // DuckDB double-quotes identifiers ("value"); default Spark parses
    // "..." as a string literal. ANSI double-quoted identifiers give
    // the oracle text its DuckDB meaning — scoped to a derived session
    // so the rest of the suite keeps default parsing.
    val sess = graft.operators.Tuned.derived(spark,
      "spark.sql.ansi.enabled" -> "true",
      "spark.sql.ansi.doubleQuotedIdentifiers" -> "true")
    Tables.registerAll(sess, sfDir)
    val candidates = SparkEntry.ops
      .filter(op => op.oracle.isDefined && !duckdbOnly.contains(op.name))
    val failures = candidates.flatMap { op =>
      try {
        val viaSql = sess.sql(op.oracle.get).collect()
        val viaOp = op.run(sess, sfDir).collect()
        // multiset compare on formatted rows: the oracle's ORDER BY
        // may be a partial order, and the driver's own compare is
        // order-insensitive too
        val a = viaSql.map(_.toString).sorted.toSeq
        val b = viaOp.map(_.toString).sorted.toSeq
        if (a == b) None
        else Some(op.name -> s"MISMATCH sql=${a.take(2)}.. op=${b.take(2)}.. (${a.size}/${b.size} rows)")
      } catch {
        case e: Throwable =>
          Some(op.name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ").take(200)}")
      }
    }
    assert(failures.isEmpty,
      failures.map { case (n, m) => s"\n  $n: $m" }.mkString)
    // coverage floor: the denylist can only shrink this far — adding
    // an op to it without a real dialect reason fails here
    assert(candidates.size >= 65,
      s"auto-parity covers only ${candidates.size} ops — denylist grew too far")
  }

  test("pragma surface: SET / SHOW TABLES / DESCRIBE (reference tests/slt/pragma.slt)") {
    // the reference's pragma.slt drives engine settings and catalog
    // introspection as SQL statements; Spark's SET/SHOW/DESCRIBE is
    // the same surface, cross-checked against the q25/q26 operators
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.sql("SET spark.sql.autoBroadcastJoinThreshold=1048576")
      val r = spark.sql("SET spark.sql.autoBroadcastJoinThreshold").collect()
      assert(r.length == 1 && r(0).getString(1) == "1048576",
        "SET did not round-trip through SQL")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // SHOW TABLES lists every table q25_query_tables counts
    val shown = spark.sql("SHOW TABLES").collect().map(_.getString(1)).toSet
    val q25 = SparkEntry.queries("q25_query_tables")(spark, sfDir)
      .collect().map(_.getString(1)).toSet
    assert(q25.subsetOf(shown), s"SHOW TABLES missing ${q25 -- shown}")
    // DESCRIBE agrees with q26_query_columns on lineitem's layout
    import org.apache.spark.sql.functions.col
    val desc = spark.sql("DESCRIBE lineitem").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val q26 = SparkEntry.queries("q26_query_columns")(spark, sfDir)
      .filter(col("table_name") === "lineitem").collect()
      .map(r => (r.getString(1), r.getString(3)))
    assert(q26.nonEmpty)
    q26.foreach { case (name, ty) =>
      assert(desc.contains(name), s"DESCRIBE lineitem missing column $name")
      assert(graft.sources.Catalog.normalizeType(desc(name).toUpperCase) == ty,
        s"$name: DESCRIBE says ${desc(name)}, catalog op says $ty")
    }
  }

  test("custom graft functions are SQL-callable through the extension") {
    val r = spark.sql(
      """SELECT doc_id, graft_simhash64(text) AS sh,
        |       graft_minhash_bands(text, 64, 16) AS bands
        |FROM documents ORDER BY doc_id LIMIT 5""".stripMargin).collect()
    assert(r.length == 5)
    assert(r.forall(_.getSeq[Long](2).length == 16))
  }
}
