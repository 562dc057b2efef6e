package graft

import org.apache.spark.sql.execution.FormattedMode

/** Executable plan audit (SURVEY §4): the scale-critical physical
  * plan properties, asserted so they can't silently regress. These
  * are the properties that don't show up in correctness tests but
  * decide whether a plan survives 100 TB. */
class PlanAuditSpec extends SparkSuite {

  override def beforeAll(): Unit = {
    super.beforeAll()
    // other specs cache tables in the shared session; a cached
    // InMemoryRelation would be substituted into these plans and mask
    // the scan-level properties under audit
    spark.catalog.clearCache()
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)

  test("filters and projections reach the parquet scan (q2)") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "filter not pushed to scan")
    assert(!p.contains("l_returnflag"), "column pruning lost: unneeded column read")
  }

  test("fact-dim join chain broadcasts every dimension (q10)") {
    // nation/region are explicitly broadcast; customer broadcasts via
    // the size threshold at test SF (at 100 TB it would legitimately
    // shuffle — that's why it carries no hint); lineitem⋈orders is
    // fact⋈fact and may legitimately shuffle at scale
    val p = plan("q10_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "expected the 3 explicit dim joins broadcast")
  }

  test("KV merge is a pure hash aggregation, never SortAggregate") {
    Seq("kv_compact", "kv_point_get", "kv_snapshot_read").foreach { q =>
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q: no HashAggregate")
      assert(!p.contains("SortAggregate"),
        s"$q: struct-buffer fallback to SortAggregate (see KVTable.merged)")
    }
  }

  test("KV point get pushes the key to the scan") {
    assert(plan("kv_point_get").contains("EqualTo(user_id,7)"),
      "point-get key predicate not pushed to parquet")
  }

  test("brute-force ANN top-k is partial per partition (WindowGroupLimit)") {
    val p = plan("ann_topk_brute")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k not pushed to partial per-partition limits")
  }

  test("stream drift enrichment is join-free: the static side lives in the plan") {
    // stream-static enrichment via literal boundaries: if a join ever
    // appears here, the stream has acquired join state it must not have
    val p = plan("stream_drift")
    assert(!p.contains("Join"), "drift bucket assignment regressed to a join")
    assert(p.contains("HashAggregate"), "window x bucket count lost hash aggregation")
  }

  test("temperature sampling broadcasts the target table, ranks per source shard") {
    val p = plan("sample_temperature")
    assert(p.contains("BroadcastHashJoin"), "target join not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "target join degenerated to an unkeyed join")
  }

  test("filtered ANN turns the predicate into a keyed broadcast join") {
    val p = plan("ann_filtered")
    assert(p.contains("BroadcastHashJoin"),
      "label equality not planned as a keyed broadcast join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "filtered search degenerated to an unkeyed join")
    assert(p.contains("WindowGroupLimit"), "partial top-k lost")
  }

  test("bucketed join shuffles neither side (no hash Exchange)") {
    val p = plan("q34_bucketed_join")
    assert(p.contains("SortMergeJoin"), "expected SMJ over bucketed scans")
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed join re-shuffled a side — bucket layout not picked up")
    assert(p.contains("SelectedBucketsCount"), "scan not bucket-aware")
  }

  test("partitioned layout prunes to the filtered date at the scan") {
    val p = plan("q35_partition_pruning")
    assert(p.contains("PartitionFilters") && p.contains("2024-01-15"),
      "date filter did not become a partition filter")
  }

  test("near-dup candidate joins are keyed (hash/broadcast), not nested-loop") {
    Seq("dedup_minhash_lsh", "dedup_simhash", "ann_lsh", "dedup_embedding",
      "dedup_semantic", "dedup_substring").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: candidate generation degenerated to an unkeyed join")
    }
  }

  test("banded self-joins shuffle on the band key — the corpus-sized side never broadcasts") {
    // at test SF the banded table fits under the broadcast threshold,
    // so without the shuffle_hash hint the planner would build a
    // CORPUS-sized hashed relation on the driver — a shape that cannot
    // exist at 100 TB (and is measured 2× slower even at sf0.1: the
    // broadcast build is single-threaded). These plans must keep the
    // keyed shuffle join regardless of the side's estimated size.
    Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_embedding",
      "dedup_semantic").foreach { q =>
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"),
        s"$q: banded self-join is not a shuffled hash join")
    }
  }

  test("dedup_embedding: first-match filter and cosine verify both run IN the join, before any exchange") {
    // r13 shape: each banded pair is kept only at its smallest
    // matching band (the element_at array compares) and the cosine
    // verify runs in the same join condition — so the post-join
    // exchange carries already-unique scalar pairs. Losing either
    // from the join condition re-introduces per-band duplicate kernel
    // evaluations or ships unverified pairs into the shuffle.
    val p = plan("dedup_embedding")
    val cond = p.linesIterator.filter(_.contains("Join condition")).mkString
    assert(cond.contains("element_at"),
      "first-match band predicate not in the join condition")
    assert(cond.contains("graft_cosine"),
      "cosine verify not in the join condition (pairs shuffle unverified)")
  }

  test("stream_sessionize: lag and session-id windows share ONE sort; no MergingSessions") {
    // r13 shape: the lag gap-split and the running session-id sum
    // stack as two Window operators over a SINGLE (user_id, ts) sort
    // and a single key exchange; the session_window MergingSessions
    // aggregate (the streaming face's operator) must not reappear
    // here, and a second sort between the windows would mean they
    // stopped sharing their ordering.
    val p = plan("stream_sessionize")
    assert(!p.contains("MergingSessions"),
      "batch plan regressed to the MergingSessions aggregate")
    val windowSorts =
      "user_id#\\d+L ASC NULLS FIRST, ts#\\d+ ASC NULLS FIRST\\], false".r
        .findAllIn(p).size
    assert(windowSorts == 1,
      s"expected the two window frames to share one (user_id, ts) sort, found $windowSorts")
  }

  test("LM score: vocab joins broadcast, every aggregate stays hash-based") {
    val p = plan("text_lm_score")
    assert(p.contains("BroadcastHashJoin"),
      "vocab/total join is not a broadcast — the token stream would shuffle twice")
    assert(!p.contains("SortAggregate"),
      "count/sum degenerated to SortAggregate (loses map-side combine)")
    // the one BroadcastNestedLoopJoin is the 1-row corpus-total scalar
    // broadcast (the repo's standard scalar pattern) — only an unkeyed
    // join between REAL relations would be a scale defect
    assert(!p.contains("CartesianProduct"))
  }

  test("gopher filter is shuffle-free per-row work (only the final sort exchanges)") {
    val p = plan("text_gopher")
    // per-doc rule evaluation must not aggregate or join anything —
    // the only Exchange allowed is the rangepartitioning of orderBy
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      "gopher rules should be pure per-row expressions")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected shuffles in a per-row filter plan:\n$p")
  }

  test("BPE encode is shuffle-free per-row work over the corpus scan") {
    // the vocab is a driver-held literal (trained+cached separately),
    // so the encode itself must be a pure projection: no join against
    // a merges table, no aggregate, only the orderBy exchange
    val p = plan("text_bpe_encode")
    assert(!p.contains("Join"), "encode must not join the vocab")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      "encode must not aggregate")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected shuffles in the encode plan:\n$p")
  }

  test("IVF+PQ probe prunes the codes index to the probed cells, keyed joins only") {
    val p = plan("ann_ivfpq")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      "probe-cell IN literal did not become PartitionFilters on the codes scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "ADC stage degenerated to an unkeyed join")
  }

  test("cached KV runs serve reads from memory (block-cache analog), same results") {
    // the reference keeps hot SSTable blocks in a block/table cache
    // (storage_engine/src/cache); Spark's columnar cache is the
    // analog: cache the run set once, and every subsequent
    // merge/get/scan reads InMemoryTableScan instead of parquet
    import org.apache.spark.sql.functions._
    val runs = graft.sources.Tables.load(spark, sfDir, "events").select(
      col("user_id").as("key"), col("event_id").as("seq"),
      (col("event_type") === "error").as("tombstone"), col("value").as("v"))
    val table = graft.kv.KVTable(runs, "key", "seq", "tombstone")
    val cold = table.merged().orderBy("key").collect()
    val cachedRuns = runs.cache()
    cachedRuns.count() // materialize
    try {
      val cachedTable = graft.kv.KVTable(cachedRuns, "key", "seq", "tombstone")
      val p = cachedTable.merged().queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("InMemoryTableScan"), "read did not hit the cache")
      assert(cachedTable.merged().orderBy("key").collect().toSeq == cold.toSeq,
        "cached read diverged from cold read")
    } finally { cachedRuns.unpersist(): Unit }
  }

  test("z-order layout: every file's 2-D bounding box is a fraction of the space") {
    import org.apache.spark.sql.functions._
    graft.operators.Layout.writeZordered(spark, sfDir)
    val files = new java.io.File(graft.operators.Layout.ZorderPath)
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 4, "expected multiple z-range files")
    def box(df: org.apache.spark.sql.DataFrame): (Long, Long, Int, Int) = {
      val r = df.agg(min("o_custkey"), max("o_custkey"),
        min(datediff(col("d"), lit("1992-01-01").cast("date"))),
        max(datediff(col("d"), lit("1992-01-01").cast("date")))).head()
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))
    }
    val (gx0, gx1, gy0, gy1) = box(spark.read.parquet(graft.operators.Layout.ZorderPath))
    val gArea = (gx1 - gx0 + 1).toDouble * (gy1 - gy0 + 1)
    val fracs = files.map { f =>
      val (x0, x1, y0, y1) = box(spark.read.parquet(f.getAbsolutePath))
      (x1 - x0 + 1).toDouble * (y1 - y0 + 1) / gArea
    }
    val avg = fracs.sum / fracs.length
    // a linear custkey sort would put the FULL date range in every
    // file (avg ≈ 1/nFiles in one dim but 1.0 in the other); z-order
    // bounds both dims at once
    assert(avg < 0.4, f"files cover $avg%.2f of the (custkey × day) space on average")
    fracs.foreach(fr => assert(fr < 0.7, f"one file spans $fr%.2f of the space"))
  }

  test("small-file compaction: file count collapses to the byte-sized target, rows survive") {
    import graft.operators.Layout
    val (nFrag, nOut) = Layout.compactSmallFiles(spark, sfDir)
    assert(nFrag == Layout.FragmentFiles, s"fragmentation produced $nFrag files")
    assert(nOut < nFrag, "compaction did not reduce the file count")
    // the output count is the byte-derived target, not a guess
    val bytes = new java.io.File(Layout.SmallFilesPath)
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val want = math.max(1,
      ((bytes + Layout.TargetFileBytes - 1) / Layout.TargetFileBytes).toInt)
    assert(nOut == want, s"wrote $nOut files, byte-sized target is $want")
    assert(spark.read.parquet(Layout.CompactedPath).count() ==
      graft.sources.Tables.load(spark, sfDir, "events").count(),
      "compaction lost rows")
  }

  test("chunking is narrow: no hash Exchange before the final sort (explode in-partition)") {
    val p = plan("text_chunk_overlap")
    assert(!p.contains("hashpartitioning"),
      "chunk fan-out introduced a hash shuffle — explode must stay narrow")
    assert(p.contains("Generate"), "explode missing from the plan")
  }

  test("fuzzy join: banded equi-join broadcasts the probe side, never nested-loops") {
    val p = plan("text_fuzzy_join")
    assert(p.contains("BroadcastHashJoin"),
      "length-band join must hash-join on the band key with broadcast probes")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "fuzzy join fell back to an all-pairs plan")
  }

  test("ranking suite: both windows share one shuffle on the partition key") {
    val p = plan("q60_ranking_suite")
    val exchanges = "hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"two windows over the same partition key must reuse one Exchange, saw $exchanges")
  }

  test("single-window ops shuffle exactly once on their partition key") {
    // each of these is one per-key window pass; a second hash Exchange
    // would mean the plan re-partitions needlessly at 100 TB
    // q67 includes a groupBy(user_id, session_id) AFTER its windows:
    // one exchange proves the aggregate reuses the user_id
    // partitioning (grouping keys ⊇ partition key), q69's eight lags
    // share one window
    // q78's running-distinct collect_set window is the same contract
    Seq("kv_scd2" -> 1, "q58_time_range_frame" -> 1, "q64_locf" -> 1,
        "sample_mixture" -> 1, "q67_sessionize" -> 1,
        "q69_decay_score" -> 1, "q71_interval_merge" -> 1,
        "q78_window_distinct" -> 1).foreach { case (op, want) =>
      val n = "hashpartitioning".r.findAllIn(plan(op)).length
      assert(n == want, s"$op: expected $want hash Exchange(s), saw $n")
    }
  }

  test("edge similarity: every join keyed, never nested-loop or cartesian") {
    // the wedge enumeration and the count/degree joins all carry
    // equi-conjuncts; losing one to a BNLJ would make the plan
    // hub-quadratic — the exact failure the orientation prevents
    val p = plan("graph_edge_similarity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edge-similarity joins must stay keyed:\n$p")
  }

  test("snapshot diff is a keyed full-outer merge join, never nested-loop") {
    val p = plan("q68_snapshot_diff")
    assert(p.contains("FullOuter"), "diff must be a full outer join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      "CDC diff fell off the keyed-join path")
  }

  test("grouping sets expand map-side into one hash aggregation") {
    val p = plan("q57_grouping_sets")
    assert(p.contains("Expand"), "grouping sets must Expand, not re-scan per set")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      "grouping-set aggregate fell back to SortAggregate")
  }

  test("runtime bloom filter prunes the fact scan before the join shuffle (q65)") {
    // the selective dim predicate must materialize as bloom_filter_agg
    // on the creation side and a might_contain filter on the fact side
    // BEFORE the shuffle — the property that keeps an 80%-selective
    // dim filter from shuffling the whole 100 TB fact table
    val p = plan("q65_runtime_bloom_join")
    assert(p.contains("bloom_filter_agg"),
      "no runtime bloom filter built from the filtered dim side")
    assert(p.contains("might_contain"),
      "fact side not pruned by might_contain before the join")
  }

  test("triangle counting: every join is keyed, never nested-loop or cartesian") {
    // the wedge self-join and the closing-edge join both carry an
    // equi-conjunct (src=src / (src,dst) match); losing it to a BNLJ
    // would make the plan hub-quadratic — the exact failure the
    // degree orientation exists to prevent
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle joins must stay keyed:\n$p")
  }

  test("ANALYZE stats: exact row count, NDVs within HLL tolerance, exact ranges") {
    val rows = graft.operators.Layout.layoutAnalyzeStats.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5)))
    val orders = graft.sources.Tables.load(spark, sfDir, "orders")
    val n = orders.count()
    assert(rows.nonEmpty && rows.forall(_._6 == n),
      "catalog row count must be exact")
    rows.foreach { case (c, ndv, nulls, mn, mx, _) =>
      assert(nulls == "0", s"$c: unexpected nulls in fixture")
      val exact = orders.select(c).distinct().count()
      val est = ndv.toLong
      // ANALYZE's relativeSD=0.05 is a standard deviation, not a
      // bound — allow 2 sigma
      assert(math.abs(est - exact) <= math.max(1L, (exact * 0.10).toLong),
        s"$c: NDV $est vs exact $exact beyond 10% HLL tolerance")
      if (c == "o_orderkey") {
        // numeric min/max are exact, and the optimizer can now bound
        // range predicates with them
        import org.apache.spark.sql.functions.{col, min, max}
        assert(mn.toLong == orders.agg(min(col(c))).head().getLong(0))
        assert(mx.toLong == orders.agg(max(col(c))).head().getLong(0))
      }
    }
  }

  test("pagerank rounds are keyed joins, never nested-loop or cartesian") {
    // five unrolled rounds of edges⋈ranks — a single BNLJ anywhere
    // would be O(n·m) per round instead of O(m). Audited through the
    // materialize=false builder: the operator itself checkpoints its
    // result, which explains as a bare Scan ExistingRDD and would
    // make these assertions vacuous.
    val p = graft.operators.Analytics
      .pagerankFrame(spark, sfDir, materialize = false)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("Join"), "expected the 5-round join tree in the plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pagerank joins must stay keyed:\n$p")
    assert(!p.contains("SortAggregate"),
      "contribution sums must stay hash-aggregated")
  }

  test("MAD outliers: median/MAD frames broadcast back, aggregates stay hash-based") {
    // same materialize=false rationale as the pagerank audit
    val p = graft.operators.Analytics
      .madOutliersFrame(spark, sfDir, materialize = false)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the 3-row median/MAD frames must broadcast-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), "median/MAD join is not broadcast")
    assert(!p.contains("SortAggregate"),
      "rank-select aggregates fell back to SortAggregate")
  }

  test("url canon is per-row codegen until the single dedup hash-agg") {
    val p = plan("text_url_canon")
    assert(!p.contains("Join"), "url canonicalization must not join anything")
    assert(p.contains("HashAggregate"), "dedup must be a hash aggregate")
    // partial+final agg pair = one hash Exchange, plus the orderBy's
    // range Exchange — nothing else may shuffle (formatted mode lists
    // each operator twice: tree line + detail block, so 2 × 2 = 4)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 4, s"unexpected shuffles in url canon plan:\n$p")
  }

  test("correlation matrix: one fact scan, moments reduce to a single row, no join") {
    val p = plan("stats_corr")
    // formatted explain names each scan twice (tree line + detail
    // header), so one physical scan == 2 matches
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"corr must compute all 15 moments from ONE lineitem scan:\n$p")
    assert(!p.contains("Join"), "corr matrix must not join anything")
    assert(p.contains("HashAggregate"), "moments must hash-aggregate")
    assert(!p.contains("SortAggregate"), "moments fell back to SortAggregate")
  }

  test("markov matrix: the only data-sized shuffle is the user-keyed lag window") {
    val p = plan("q75_markov")
    assert(p.contains("hashpartitioning(user_id"),
      "lag window must shuffle on user_id")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the |types|-row total join must stay keyed:\n$p")
  }

  test("co-occurrence: vocab filter broadcasts, pair join keyed on doc_id") {
    val p = plan("text_cooccur")
    assert(p.contains("BroadcastHashJoin"),
      "the 100-row vocabulary must broadcast into the token stream")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    // the single 1-row corpus-count crossJoin is the only nested-loop
    // allowed (broadcast scalar); the doc_id pair join must be keyed
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"pair join degenerated to nested-loop:\n$p")
  }

  test("appendable IVF probe broadcasts the query side, never the corpus index") {
    // without the pin the planner builds on the corpus-sized
    // base∪delta index because it fits at test SF — the r7 scale-bug
    // class (OOM at 10 B vectors). probed is left in the join, so the
    // pinned broadcast must surface as BuildLeft.
    val p = plan("ann_ivf_append")
    assert("BroadcastHashJoin [^\\n]*BuildLeft".r.findFirstIn(p).isDefined,
      s"probe join must build on the broadcast query side:\n$p")
  }

  test("lateral top-n decorrelates to a partial window group limit, never a nested loop") {
    // the correlated LATERAL LIMIT must become Catalyst's ranked-window
    // rewrite (WindowGroupLimit prunes to k rows per key MAP-SIDE,
    // before the shuffle) joined back on the correlation key; a
    // BNLJ/cartesian here would re-run the subquery per outer row
    val p = plan("q76_lateral_topn")
    assert(p.contains("WindowGroupLimit"),
      s"lateral did not decorrelate to a group-limit window:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lateral executed as a nested loop:\n$p")
  }

  test("range search is a scan-shaped broadcast probe with the radius filter fused into the join") {
    // same build-side contract as ann_ivf_append: queries×NumProbes
    // broadcast, the corpus stream-side; the cos >= tau predicate must
    // live in the join condition (fused into codegen), not a window
    val p = plan("ann_range_search")
    assert("BroadcastHashJoin [^\\n]*BuildLeft".r.findFirstIn(p).isDefined,
      s"range probe must build on the broadcast query side:\n$p")
    assert(p.contains("graft_cosine") && p.contains(">= 0.3"),
      s"radius predicate not fused into the probe join:\n$p")
    assert(!p.contains("Window"), s"range search must not rank:\n$p")
  }

  test("doc containment: the corpus-sized dup side never broadcasts, no unkeyed join") {
    // same hazard class as the banded self-joins (SURVEY §4.3): the
    // distinct dup-hash set is corpus-proportional but fits a driver
    // hashed relation at test SF — the hint must pin the keyed shuffle
    val p = plan("dedup_doc_containment")
    assert(p.contains("ShuffledHashJoin"),
      s"dup-hash hit join is not a shuffled hash join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment degenerated to an unkeyed join:\n$p")
    // EVERY side of this op is corpus-proportional (windows, dup
    // hashes, per-doc aggregates) — nothing may broadcast (the final
    // verdict join was caught broadcasting the per-doc aggregate in
    // the round-9 sf0.1 sweep)
    assert(!p.contains("BroadcastHashJoin"),
      s"containment broadcasts a corpus-sized side:\n$p")
  }

  test("bloom prefilter: the probe is in-plan codegen, the verify join stays keyed") {
    val p = plan("dedup_bloom_prefilter")
    assert(p.contains("might_contain"),
      s"bloom probe expression missing — the pre-filter is not in the plan:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"seen-hash verify join must stay a keyed shuffle (corpus-sized side):\n$p")
  }

  test("RAKE broadcasts only the vocab word scores; phrase tables join keyed") {
    val p = plan("text_rake")
    val nBroadcast = "\\(\\d+\\) BroadcastExchange".r.findAllIn(p).length
    assert(nBroadcast == 1,
      s"rake must broadcast exactly the |vocab| word-score table, found $nBroadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"phrase-level joins must stay keyed shuffles:\n$p")
  }

  test("retention read joins two user-sized aggregates keyed, never broadcast") {
    // both join inputs are |users|-proportional aggregate outputs; a
    // broadcast here is the test-SF mirage that OOMs at 10 B users
    val p = plan("stream_retention")
    assert(p.contains("ShuffledHashJoin"),
      s"user-keyed retention join is not a shuffled hash join:\n$p")
  }

  test("quantized ANN: code scan ranks with partial top-k, queries broadcast") {
    // the two-stage shape that survives 10 B vectors: the corpus is
    // scanned once against broadcast query codes, and the shortlist
    // rank is partial per partition (WindowGroupLimit) so the shuffle
    // carries O(k·partitions), never O(corpus)
    Seq("ann_sq8", "ann_binary").foreach { q =>
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q: shortlist rank is not partial per partition:\n$p")
      assert(p.contains("BroadcastExchange"),
        s"$q: query codes must broadcast:\n$p")
    }
  }

  test("backfill seam: the serve join over two user-sized aggregates stays keyed") {
    // both sides are |users|-proportional aggregate outputs — the
    // same trap class as retention; a broadcast OOMs at 10 B users
    val p = plan("stream_backfill_merge")
    assert(p.contains("ShuffledHashJoin"),
      s"backfill serve join is not a shuffled hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"a user-sized side broadcast in the serve join:\n$p")
  }

  test("shard manifest: the packing window is bucket-partitioned, never a global sort") {
    val p = plan("mm_shard_manifest")
    assert(p.contains("Window"), "no window operator")
    // the window partitions on (mime, bucket) — its exchange is a
    // hashpartitioning on those keys, not a singleton/range partition
    assert(p.contains("hashpartitioning(mime"),
      s"packing window is not bucket-hash-partitioned:\n$p")
  }

  test("vec_gram: ONE corpus pass — the partials checkpoint feeds all three aggregates") {
    val p = plan("vec_gram")
    // after the eager checkpoint the plan must read the materialized
    // partials RDD, not re-run the mapPartitions outer product per
    // consumer (4 corpus scans at 100 TB)
    assert(!p.contains("Scan parquet"),
      s"vec_gram re-scans the corpus downstream of the partials:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 3,
      s"aggregates do not share the checkpointed partials:\n$p")
  }

  test("ann_mmr: shortlist is the brute plan (broadcast queries, partial top-k)") {
    val p = plan("ann_mmr")
    assert(p.contains("WindowGroupLimit"),
      s"shortlist rank is not partial per partition:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"query side must broadcast:\n$p")
  }

  test("bipartite projection: incidence self-join and degree joins all stay shuffled") {
    val p = plan("graph_bipartite_project")
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 3,
      s"projection joins degraded from shuffled hash:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"a corpus-proportional side broadcast in the projection:\n$p")
  }

  test("CDC feed: both snapshot diffs are keyed full-outer shuffled hash joins") {
    val p = plan("kv_cdc_batches")
    assert("ShuffledHashJoin FullOuter".r.findAllIn(p).size == 2,
      s"snapshot diffs are not keyed shuffled joins:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"a keys-proportional snapshot broadcast in the diff:\n$p")
  }

  test("k-core peel round: the dropped-node anti joins stay shuffled, never driver builds") {
    // the drop set is graph-proportional — the same class as the
    // banded dedup self-joins. kCore checkpoints each round, so audit
    // one round's join plan directly through the same code path.
    import org.apache.spark.sql.functions._
    val edges = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").cast("long").as("u"),
        (lit(1000000000L) + col("l_suppkey")).cast("long").as("v"))
      .distinct()
    val deg = edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d")).hint("shuffle_hash")
    val bad = deg.filter(col("d") < 4).select("n")
    val round = edges
      .join(bad.withColumnRenamed("n", "u").hint("shuffle_hash"), Seq("u"), "left_anti")
      .join(bad.withColumnRenamed("n", "v").hint("shuffle_hash"), Seq("v"), "left_anti")
    val p = round.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("ShuffledHashJoin LeftAnti".r.findAllIn(p).size == 2,
      s"peel anti joins are not shuffled hash joins:\n$p")
  }

  test("multi get pushes the whole key batch as one In filter") {
    val p = plan("kv_multi_get")
    assert(p.contains("In(user_id, [") && p.contains("99999"),
      s"the MultiGet batch is not one pushed In filter:\n$p")
    assert(!p.contains("SortAggregate"), "merge fell back to SortAggregate")
  }

  test("range delete: the tombstone overlay broadcasts the METADATA side only") {
    // the tombstone list is index metadata (tiny, fixed); the data
    // side must never become the broadcast build of the anti join
    val p = plan("kv_range_delete")
    assert(p.contains("BroadcastNestedLoopJoin LeftAnti BuildRight"),
      s"tombstone overlay is not a broadcast anti join on the rts side:\n$p")
    assert(!p.contains("SortAggregate"), "merge fell back to SortAggregate")
  }

  test("lineage ownership join is a keyed shuffle, never a corpus-sized driver build") {
    val p = plan("pipeline_lineage")
    assert(p.contains("ShuffledHashJoin"),
      s"ownership join is not a shuffled hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"a corpus-proportional ownership broadcast:\n$p")
  }

  test("as-of enrichment is one user-keyed stateful operator") {
    // in batch execution flatMapGroupsWithState lowers to MapGroups
    // over ONE group-key hash exchange (streaming swaps in the state
    // store; StreamingSpec drives that face)
    val p = plan("stream_asof_enrich")
    assert(p.contains("MapGroups"),
      s"as-of enrichment lost its per-group stateful operator:\n$p")
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1,
      s"expected exactly one group-key exchange:\n$p")
  }

  test("Mann-Whitney ranks without ranking rows: join-free, windows only over the value aggregate") {
    val p = plan("stats_mannwhitney")
    assert(!p.contains("Join"),
      s"rank-sum must stay join-free (counts + windows over the aggregate):\n$p")
    // the corpus is touched by the (type, value, group) hash-agg; the
    // window runs AFTER it — a Window directly over the scan would be
    // a corpus-sized sort
    val iAgg = p.indexOf("HashAggregate")
    val iWin = p.indexOf("Window")
    assert(iAgg >= 0 && iWin >= 0 && iAgg < iWin,
      s"window is not downstream of the value aggregate:\n$p")
  }

  test("funnel state machine is one user-keyed stateful operator") {
    val p = plan("stream_funnel")
    assert(p.contains("MapGroups"),
      s"funnel lost its per-group stateful operator:\n$p")
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1,
      s"expected exactly one group-key exchange:\n$p")
  }

  test("partition evolution: both generations prune at their own granularity and both serve rows") {
    val df = SparkEntry.queries("layout_partition_evolution")(spark, sfDir)
    val p = df.queryExecution.explainString(FormattedMode)
    // two scans, each with a real partition filter: month dirs on the
    // old generation, the exact day dir on the new one
    assert("PartitionFilters: \\[isnotnull".r.findAllIn(p).size == 2,
      s"expected both generations' scans partition-pruned:\n$p")
    assert(p.contains("(ym#") && p.contains("(d#"),
      s"expected a month filter on gen1 and a day filter on gen2:\n$p")
    // the probe day genuinely straddles the cut — both layouts serve
    val gens = df.select("generation").distinct().collect().map(_.getInt(0)).sorted
    assert(gens.toSeq == Seq(1, 2), s"probe day did not straddle the cut: $gens")
  }

  test("PQ distortion is a map-side-partial aggregate to M rows") {
    val p = plan("ann_pq_distortion")
    assert(p.contains("HashAggregate"), "distortion agg lost hash aggregation")
    assert(!p.contains("Join"),
      s"distortion must be join-free (codebook is a literal):\n$p")
  }

  test("DPO pairing: the rank self-join is a keyed shuffle-hash, never a corpus broadcast") {
    val p = plan("sample_dpo_pairs")
    assert(p.contains("ShuffledHashJoin"),
      s"pair join must shuffle on (source, rank) — both sides are corpus-proportional:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair join degenerated to an unkeyed join:\n$p")
  }

  test("assortativity: both degree joins shuffle keyed; one-row moment output") {
    val p = plan("graph_assortativity")
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
      s"degree joins must stay keyed shuffles (degree table is graph-sized):\n$p")
    // the only non-equi joins allowed are the one-row scalar
    // compositions (moments × counts), which plan as BNLJ — a
    // CartesianProduct would mean a multi-row unkeyed join appeared
    assert(!p.contains("CartesianProduct"),
      s"a multi-row unkeyed join appeared in the moment composition:\n$p")
  }

  test("CUSUM: the prefix-sum window runs downstream of the bucket aggregate") {
    val p = plan("stats_cusum")
    val iAgg = p.indexOf("HashAggregate")
    val iWin = p.indexOf("Window")
    assert(iAgg >= 0 && iWin >= 0 && iAgg < iWin,
      s"window must run over the bucket aggregate, never the raw scan:\n$p")
  }

  test("ACF: lag pairs join keyed on the bucket index; lags table broadcasts") {
    val p = plan("stats_acf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"6-row lag table must broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"lag pairing must stay an equi-join on (type, idx):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"lag pairing degenerated to a cartesian product:\n$p")
  }

  test("forecast backtest: the day-shift self-join shuffles keyed; the holdout cut broadcasts") {
    val p = plan("stats_forecast_backtest")
    assert(p.contains("ShuffledHashJoin"),
      s"bucket self-join must shuffle on (type, bucket):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |types|-row holdout-cut join must broadcast:\n$p")
  }

  test("late audit: the per-batch watermark frame broadcasts back to the event scan") {
    val p = plan("stream_late_audit")
    assert(p.contains("BroadcastHashJoin"),
      s"4-row watermark frame must broadcast, never shuffle the corpus:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"batch-id join degenerated:\n$p")
  }

  test("Benford: digit profile is one 9-row aggregate plus a one-row broadcast total") {
    val p = plan("stats_benford")
    assert(p.contains("HashAggregate"), "digit counts lost hash aggregation")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"nothing in the 9-row frame may shuffle-join:\n$p")
  }

  test("zonemap: footer stats are bucket-tight and the probe keeps exactly the overlapping bucket") {
    val rows = SparkEntry.queries("layout_zonemap_skip")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    val b = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .agg(org.apache.spark.sql.functions.max("l_orderkey")).head().getLong(0) / 8 + 1
    rows.foreach { case (ym, fb, n, mn, mx, skip) =>
      // footer min/max confined to the bucket's key range — the
      // whole point of bucketing before landing
      assert(mn >= fb * b && mx < (fb + 1) * b, s"$ym/$fb stats outside bucket")
      assert(mn <= mx && n > 0)
      assert(skip == (mx < b || mn >= 2 * b), s"$ym/$fb skip flag")
    }
    // exactly the fb=1 bucket overlaps the [B, 2B) probe
    assert(rows.filter(!_._6).forall(_._2 == 1L))
    assert(rows.exists(_._2 == 1L) && rows.count(_._6) > rows.count(!_._6),
      "most files skippable under the probe")
  }

  test("read amp: the probe In-list reaches the L1 scan; the per-key state never broadcasts whole") {
    val p = plan("kv_read_amp")
    assert(p.contains("In(user_id, [11,3,5,7,9])"),
      s"probe keys not pushed to the L1 scan — the per-key aggregate would be corpus-sized:\n$p")
  }

  test("kNN graph: the banded self-join shuffles keyed; top-3 is a windowed group limit") {
    val p = plan("ann_knn_graph")
    assert(p.contains("ShuffledHashJoin"),
      s"banded candidate join must stay a keyed shuffle (corpus-sized both sides):\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=3 not pushed to partial per-partition limits:\n$p")
  }

  test("kv_range_scan: the gated bounded read keeps the zero-range-exchange shape") {
    // the size gate (Bounded.orderedIfSmall) must resolve this
    // client-sized benchmark read to the single-partition sort: one
    // hash exchange for the latest-wins merge, NO range exchange, no
    // sampling job. A wide read's fallback shape is pinned in KVSpec.
    val p = plan("kv_range_scan")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"bounded KV range read regressed to a range exchange:\n$p")
    assert(p.contains("Coalesce"),
      s"bounded KV range read lost its single-partition sort:\n$p")
  }

  test("q22: bounded-window rewrite shuffles the filtered rows, never the scan") {
    // The literal o_custkey<50 bounds the RESULT (≤~500 rows at any
    // corpus size), so the windows may legally run over one partition
    // — but the funnel must be a SHUFFLE of the filtered rows
    // (repartition(1)), never a CoalesceExec folding the parallel
    // scan+filter into one task (VERDICT r10: coalesce(1) here would
    // serialize a 100 TB orders scan — custkey stripes across the
    // table, so row-group pruning rejects almost nothing). Pins BOTH
    // halves of the shape: no range exchange above, no scan
    // serialization below.
    val p = plan("q22_window_funcs")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"q22 regressed to a sampled range sort:\n$p")
    assert(p.contains("SinglePartition, REPARTITION_BY_NUM"),
      s"q22's single-partition funnel must be a shuffle of the filtered " +
        s"rows (repartition(1)) so the scan stays split-parallel:\n$p")
    assert(p.contains("LessThan(o_custkey,50)"),
      s"q22's literal bound no longer pushes to the parquet scan:\n$p")
  }

  test("bounded-reduce ops run non-adaptive on the Tuned session (one scheduler job)") {
    // Tuned.sizedOneJob with no inputs: ops whose ONLY exchange is a
    // literally-bounded reduce (q1's ≤6 groups, q22's ≤~500 filtered
    // rows, stream_window_agg's hours×types dashboard aggregate) run
    // with AQE off so all stages submit as one job — AQE's per-stage
    // jobs cost 30-50 ms each and its coalescing has nothing to do on
    // a bounded reduce. Corpus-shuffling ops must NOT appear here.
    Seq("q1_agg", "q22_window_funcs", "stream_window_agg",
        "kv_range_scan").foreach { q =>
      val p = plan(q)
      assert(!p.contains("AdaptiveSparkPlan"),
        s"$q lost its bounded-reduce pin (AQE re-enabled):\n$p")
    }
    // and the pin must stay ISOLATED: the caller session keeps AQE
    // (the op derives its own session; shared state untouched)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "an op mutated the shared session's AQE flag")
  }

  test("q30: the binned range join stays a keyed shuffle join, never broadcast") {
    // shuffle_hash pin (r12): without it AQE sees the materialized
    // sides under the broadcast threshold and converts the
    // post-shuffle join to broadcast — a driver-side collect +
    // LZ4/torrent rebuild of a CORPUS-SIZED event stream, measured as
    // a 156-192 ms inter-job stall at sf0.1 and the wrong shape
    // outright at 100 TB. The bin equi-key must stay the shuffle key.
    val p = plan("q30_range_join")
    assert(p.contains("ShuffledHashJoin"),
      s"q30's bin join lost its shuffle-hash pin:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"q30 must never broadcast a corpus-sized join side:\n$p")
    assert(p.contains("hashpartitioning(_bin"),
      s"q30's shuffle must be keyed on the range bin:\n$p")
  }

  test("pipeline_e2e: the dedup shuffle carries the md5 fingerprint, never the text") {
    // the e2e pipeline's dedup stage groups on md5(t) and ships only
    // (hash, per-doc scalars) — grouping on the normalized text would
    // put the whole corpus payload on the wire (r11). Shape: exactly
    // two hash exchanges (fingerprint dedup + ≤3-row split agg), a
    // bounded single-partition tail, no sampled range sort.
    val p = plan("pipeline_e2e")
    assert(p.contains("hashpartitioning(m#"),
      s"dedup must shuffle on the md5 fingerprint:\n$p")
    assert(!p.contains("hashpartitioning(t#"),
      s"dedup must not shuffle the normalized text payload:\n$p")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"the ≤3-row split report must not range-exchange:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 4, // tree + detail = 2×2
      s"pipeline_e2e grew an unexpected shuffle:\n$p")
  }

  test("no op runs an unpartitioned Window over corpus-sized input (all 257 plans)") {
    // A WindowExec with an empty partitionSpec funnels its ENTIRE input
    // through one task ("Moving all data to a single partition") — the
    // one plan shape that cannot survive a 100× scale-up. The r8 fix
    // for mm_interleave (two-level prefix sum) removed the last
    // corpus-sized instance; this sweep keeps it removed. Default-deny:
    // a new op with a global window fails here unless its input is a
    // bounded aggregate AND it is allowlisted with that justification.
    import org.apache.spark.sql.execution.window.WindowExec
    val boundedAggGlobals = Map(
      "mm_interleave" -> "bucket-offset cumulation over a <=10k-bucket aggregate (width scales as ceil(maxId/10k) — bounded at any corpus)",
      "stats_ks" -> "bucket-offset cumulation over |distinct floor(v)| integer buckets (two-level CDF)",
      "stats_chisq" -> "n_total over the |event_type|x2 contingency aggregate",
      "stats_fdr" -> "BH step-up over the |event_type| p-value aggregate",
      "stats_drift" -> "share normalization over the 10-decile aggregate",
      "sample_temperature" -> "target normalization over the |sources| aggregate",
      "sample_curriculum" -> "prefix offsets over the <=21-band aggregate",
      "text_corpus_card" -> "share normalization over the (source,lang) aggregate",
      "text_distill_filter" -> "stump prefix sums over the |distinct integer scores| aggregate",
      "stats_auc" -> "rank cumulation over the |distinct integer scores| aggregate",
      "stream_late_audit" -> "watermark frontier over the per-batch aggregate",
      "stream_watermark_tune" -> "watermark frontier over the per-batch aggregate")
    val globals = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val p = SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan
      name -> p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.size
    }.toMap
    val offenders = globals.filter { case (n, c) => c > 0 && !boundedAggGlobals.contains(n) }
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec outside the bounded-aggregate allowlist: $offenders")
    // the allowlist can't rot: an entry whose op no longer has a global
    // window must be removed (it would shadow a future regression)
    val stale = boundedAggGlobals.keys.filter(n => globals.getOrElse(n, 0) == 0)
    assert(stale.isEmpty, s"allowlist entries with no global window left: $stale")
  }
}
