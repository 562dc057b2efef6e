package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Op
import graft.sources.Tables

/** Analytical-SQL surface beyond the reference's executor set:
  * grouping-set variants, pivot, lateral explode, window frames,
  * ordered list aggregation and exact quantiles — the shapes a
  * warehouse user reaches for next once the §2.1 core exists. All
  * follow the SURVEY §5 determinism rules (decimal-before-sum,
  * explicit ORDER BY, identical aliases both sides).
  */
object Analytics {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** CUBE: all 2^k grouping sets from ONE scan + ONE shuffle — Spark
    * expands grouping sets map-side exactly like ROLLUP (q37), so at
    * 100 TB the fact table is read once, not once per level. */
  val q40Cube: Op = Op.sql("q40_cube",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** PIVOT: event counts per day, one column per event type. The
    * value set is pinned (never inferred — inference would add a
    * driver-side distinct job over 100 TB); count() over a missing
    * (day, type) cell is NULL in Spark's pivot and 0 in a FILTER
    * aggregate, so coalesce pins the contract. One hash-agg shuffle
    * on the day key. */
  val q41Pivot: Op = Op.sql("q41_pivot",
    """SELECT CAST(ts AS DATE) AS d,
      |  count(*) FILTER (event_type = 'click')    AS click,
      |  count(*) FILTER (event_type = 'error')    AS error,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup')   AS signup,
      |  count(*) FILTER (event_type = 'view')     AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    t(s, dir, "events")
      .groupBy(col("ts").cast("date").as("d"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("d") +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy("d")
  }

  /** Lateral explode (reference has no UNNEST; Spark's generator is
    * the idiom): token-length histogram over the corpus. explode is
    * NARROW — each input row fans out within its partition, no
    * shuffle until the final small agg, so it composes with 100 TB
    * scans freely. */
  val q42Explode: Op = Op.sql("q42_explode",
    """SELECT len(tok) AS tok_len, count(*) AS n
      |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents)
      |WHERE tok <> '' GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(length(col("tok")).cast("bigint").as("tok_len"))
      .agg(count(lit(1)).as("n"))
      .orderBy("tok_len")
  }

  /** Window FRAMES (q22 covers ranking; this covers running/sliding
    * aggregates): per-customer running total, 3-row moving sum, and
    * lag — the order-book/time-series shapes. Frame sums add in
    * frame order on both engines, but inputs are cast to DECIMAL
    * anyway so sliding-window re-aggregation can never drift. One
    * shuffle on the partition key; frames evaluate within partitions. */
  val q43WindowFrames: Op = Op.sql("q43_window_frames",
    """SELECT o_orderkey, o_custkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w_run AS DOUBLE) AS run_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w_mov AS DOUBLE) AS mov_sum,
      |  CAST(lag(o_totalprice) OVER w_ord AS DOUBLE) AS prev_price
      |FROM orders WHERE o_custkey < 200
      |WINDOW
      |  w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  w_run AS (w_ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  w_mov AS (w_ord ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val priceD = col("o_totalprice").cast("decimal(12,2)")
    t(s, dir, "orders")
      .filter(col("o_custkey") < 200)
      .select(col("o_orderkey"), col("o_custkey"),
        sum(priceD).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("run_sum"),
        sum(priceD).over(ord.rowsBetween(-2, Window.currentRow))
          .cast("double").as("mov_sum"),
        lag(col("o_totalprice"), 1).over(ord).cast("double").as("prev_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Ordered list aggregation (LISTAGG/string_agg): suppliers per
    * nation as a sorted comma list. Expressed as
    * sort-after-collect so the result is independent of partition
    * arrival order — the only way a distributive string agg can be
    * deterministic. Group payload (≤ suppliers per nation) bounds
    * memory, not corpus size. */
  val q44Listagg: Op = Op.sql("q44_listagg",
    """SELECT n_name, count(*) AS n_suppliers,
      |  string_agg(s_name, ',' ORDER BY s_name) AS suppliers
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        array_join(array_sort(collect_list(col("s_name"))), ",").as("suppliers"))
      .orderBy("n_name")
  }

  /** EXACT quantiles at scale: median and p90 per group via
    * rank-select (one sort shuffle, partial-aggregated count join),
    * NOT a quantile() function — engines disagree on interpolation,
    * but "the value at rank ceil(q·n)" is a pure integer contract
    * both compute identically. This is also the shape that scales:
    * sorting within hash-partitioned groups is exactly what the
    * shuffle already does. */
  val q45ExactQuantiles: Op = Op.sql("q45_exact_quantiles",
    """WITH ranked AS (
      |  SELECT l_returnflag, l_quantity,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
      |    count(*)    OVER (PARTITION BY l_returnflag) AS cnt
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  min(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN l_quantity END) AS p50,
      |  min(CASE WHEN rn = CAST(ceil(cnt * 0.9) AS BIGINT) THEN l_quantity END) AS p90,
      |  max(cnt) AS n
      |FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val byFlag = Window.partitionBy("l_returnflag")
    val ranked = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        row_number().over(byFlag.orderBy("l_quantity")).as("rn"),
        count(lit(1)).over(byFlag).as("cnt"))
    ranked.groupBy("l_returnflag")
      .agg(
        min(when(col("rn") === ceil(col("cnt") * 0.5).cast("bigint"), col("l_quantity"))).as("p50"),
        min(when(col("rn") === ceil(col("cnt") * 0.9).cast("bigint"), col("l_quantity"))).as("p90"),
        max(col("cnt")).as("n"))
      .orderBy("l_returnflag")
  }

  /** Gap-filling over a GENERATED date spine: every (day × type) cell
    * exists in the output even when no event matched (the filter
    * guarantees real gaps). The spine is sequence+explode off a
    * one-row min/max aggregate — rows ≈ days × types, so the dense
    * join runs on post-aggregation data, never on the fact table;
    * at 100 TB the only full-scan work is the initial agg. */
  val q48Gapfill: Op = Op.sql("q48_gapfill",
    """WITH ev AS (SELECT CAST(ts AS DATE) AS d, event_type, "value"
      |            FROM events WHERE "value" > 200),
      |agg AS (SELECT d, event_type, count(*) AS n,
      |          CAST(sum(CAST("value" AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |        FROM ev GROUP BY d, event_type),
      |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
      |spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL '1 day'))::DATE AS d
      |          FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events)
      |SELECT s.d, t.event_type,
      |  coalesce(n, 0) AS n,
      |  coalesce(sum_value, CAST(0 AS DOUBLE)) AS sum_value
      |FROM spine s CROSS JOIN types t
      |LEFT JOIN agg a ON a.d = s.d AND a.event_type = t.event_type
      |ORDER BY s.d, t.event_type""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
      .filter(col("value") > 200)
      .select(col("ts").cast("date").as("d"), col("event_type"), col("value"))
    val agg = ev.groupBy("d", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
    val spine = ev.agg(min("d").as("d0"), max("d").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("d"))
    val types = t(s, dir, "events").select("event_type").distinct()
    // this cross join IS a BroadcastNestedLoopJoin in the plan — by
    // design: |days| × |types| post-aggregation rows, independent of
    // fact-table size (the no-BNLJ plan audits apply to corpus-sized
    // joins, not spine construction)
    spine.crossJoin(types)
      .join(agg, Seq("d", "event_type"), "left")
      .select(col("d"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0).cast("double")).as("sum_value"))
      .orderBy("d", "event_type")
  }

  /** Multiset set operations (q21 covers the DISTINCT forms):
    * INTERSECT ALL / EXCEPT ALL preserve multiplicities — Spark plans
    * both as a single hash aggregation computing per-key counts on
    * each side (min for intersect, difference for except), replicated
    * back; no sort, one shuffle. Output aggregated per key so the
    * contract is the multiplicity itself. */
  val q50SetopsAll: Op = Op.sql("q50_setops_all",
    """SELECT 'except_all' AS op, k, count(*) AS n FROM (
      |  SELECT c_nationkey AS k FROM customer
      |  EXCEPT ALL SELECT s_nationkey FROM supplier) GROUP BY k
      |UNION ALL
      |SELECT 'intersect_all', k, count(*) FROM (
      |  SELECT c_nationkey AS k FROM customer
      |  INTERSECT ALL SELECT s_nationkey FROM supplier) GROUP BY k
      |ORDER BY op, k""".stripMargin) { (s, dir) =>
    val c = t(s, dir, "customer").select(col("c_nationkey").as("k"))
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
    val ex = c.exceptAll(su).groupBy("k").agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("k"), col("n"))
    val in = c.intersectAll(su).groupBy("k").agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("k"), col("n"))
    ex.unionAll(in).orderBy("op", "k")
  }

  /** Ordered event-sequence FUNNEL (view → click → purchase, each
    * stage strictly after the previous one's FIRST occurrence): one
    * min-agg per stage, each joined back user-keyed — shuffle O(n) by
    * user_id, the standard distributed funnel shape (no per-user
    * sort, no sessionization needed for first-occurrence funnels).
    * Sub-microsecond ties are the only cross-engine hazard (Spark
    * reads the NANOS timestamps truncated to micros) and the events
    * table is minutes-sparse. The oracle is Spark-parseable, so
    * auto-parity also runs it through spark.sql. */
  val q54Funnel: Op = Op.sql("q54_funnel",
    """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id)
      |SELECT u.user_id,
      |  v.user_id IS NOT NULL AS reached_view,
      |  c.user_id IS NOT NULL AS reached_click,
      |  p.user_id IS NOT NULL AS reached_purchase
      |FROM (SELECT DISTINCT user_id FROM events) u
      |LEFT JOIN v ON u.user_id = v.user_id
      |LEFT JOIN c ON u.user_id = c.user_id
      |LEFT JOIN p ON u.user_id = p.user_id
      |ORDER BY u.user_id""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events")
    def firstAfter(evType: String, prev: DataFrame, prevTs: String, out: String) =
      e.join(prev, Seq("user_id"))
        .filter(col("event_type") === evType && col("ts") > col(prevTs))
        .groupBy("user_id").agg(min("ts").as(out))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("tv"))
    val c = firstAfter("click", v, "tv", "tc")
    val p = firstAfter("purchase", c, "tc", "tp")
    e.select("user_id").distinct()
      .join(v.select(col("user_id").as("vu")), col("user_id") === col("vu"), "left")
      .join(c.select(col("user_id").as("cu")), col("user_id") === col("cu"), "left")
      .join(p.select(col("user_id").as("pu")), col("user_id") === col("pu"), "left")
      .select(col("user_id"),
        col("vu").isNotNull.as("reached_view"),
        col("cu").isNotNull.as("reached_click"),
        col("pu").isNotNull.as("reached_purchase"))
      .orderBy("user_id")
  }

  /** Weekly cohort RETENTION: cohort = week of a user's first event,
    * counted active in every week they appear. Two user-keyed
    * aggregates + one join — shuffle O(n); the output is the classic
    * (cohort, week, active-users) retention triangle. date_trunc
    * week semantics (Monday start) agree between engines, and the
    * truncation absorbs the micros-vs-nanos timestamp difference. */
  val q55Retention: Op = Op.sql("q55_retention",
    """WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |      FROM events)
      |SELECT f.cohort, a.wk, count(DISTINCT a.user_id) AS n_active
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY f.cohort, a.wk
      |ORDER BY f.cohort, a.wk""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events")
    val f = e.groupBy("user_id")
      .agg(date_trunc("week", min("ts")).cast("date").as("cohort"))
    val a = e.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("wk")).distinct()
    a.join(f, Seq("user_id"))
      .groupBy("cohort", "wk")
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort", "wk")
  }

  /** Arbitrary GROUPING SETS (ROLLUP/CUBE's general form, q37/q40's
    * sibling): two INDEPENDENT one-column summaries — ((status),
    * (priority)) — from ONE scan + ONE shuffle, with per-column
    * GROUPING flags disambiguating grouped-out NULLs from data NULLs.
    * Spark expands grouping sets map-side exactly like CUBE, so the
    * fact table is read once. Flags are emitted per column (0/1 ints)
    * rather than as a combined grouping_id, whose bit order is an
    * engine-specific convention. */
  val q57GroupingSets: Op = Op.sql("q57_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus)  AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY g_status, g_priority,
      |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
      .orderBy(col("g_status"), col("g_priority"),
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** Time-based RANGE frame (q43 covers ROWS frames; this is the
    * value-based sibling): per-user sliding ONE-HOUR sum/count, the
    * rate-limiting / rolling-exposure shape. The order key is epoch
    * SECONDS as a bigint — both engines floor sub-second parts
    * identically, RANGE peers (equal timestamps) are frame-mates by
    * definition so ties cannot reorder, and decimal sums make sliding
    * re-aggregation exact. One shuffle on user_id. */
  val q58TimeRangeFrame: Op = Op.sql("q58_time_range_frame",
    """WITH e AS (SELECT event_id, user_id,
      |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
      |             "value" AS v
      |           FROM events)
      |SELECT event_id, user_id, es,
      |  CAST(sum(CAST(v AS DECIMAL(12,2))) OVER w AS DOUBLE) AS hour_sum,
      |  count(*) OVER w AS hour_n
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY es
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, es, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("es")
      .rangeBetween(-3600L, Window.currentRow)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("es"), col("value").as("v"))
      .select(col("event_id"), col("user_id"), col("es"),
        sum(col("v").cast("decimal(12,2)")).over(w).cast("double").as("hour_sum"),
        count(lit(1)).over(w).as("hour_n"))
      .orderBy("user_id", "es", "event_id")
  }

  /** Recursive-query surface (`WITH RECURSIVE`, the one standard-SQL
    * shape Catalyst has no operator for): full ancestor transitive
    * closure over an edge RELATION, expressed as the iterative
    * frontier⋈edges dataflow every distributed engine compiles
    * recursion into. The edge table is derived deterministically from
    * supplier keys (heap numbering: parent(k) = (k−1) div 2) so both
    * engines build the identical graph from the same parquet — but
    * the traversal itself only ever reads the RELATION, never the
    * formula: each level is one keyed equi-join (frontier.anc =
    * edges.node), so the plan is the real recursive-CTE plan, not
    * arithmetic unrolled.
    *
    * Scale: rounds = graph depth (log n here, diameter in general);
    * per-round shuffle is O(frontier). Each level is eagerly
    * persisted and the final union localCheckpoint'ed, then all loop
    * state freed — superseded rounds are released as in
    * [[largeSmallStar]]. The driver sees only an empty-check per
    * round. */
  /** Ancestor closure of an arbitrary acyclic edge RELATION
    * (`node`, `parent`): (node, anc, depth) for every transitive
    * ancestor. The iterative frontier⋈edges dataflow recursive CTEs
    * compile into — one keyed equi-join per level, rounds = depth.
    * Terminates only at a fixpoint; `maxIter` is a cycle guard. */
  def ancestorClosure(edgesIn: DataFrame, maxIter: Int = 64): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = edgesIn.toDF("node", "parent")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // graph-sized side: keyed shuffle, never broadcast; the edges
    // exchange is identical every round, so AQE reuses one shuffle
    val eJoin = edges.select(col("node").as("e_node"), col("parent").as("e_parent"))
      .hint("shuffle_hash")
    var frontier = edges
      .select(col("node"), col("parent").as("anc"), lit(1L).as("depth"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val next = frontier
        .join(eJoin, col("anc") === col("e_node"))
        .select(col("node"), col("e_parent").as("anc"),
          (col("depth") + 1).as("depth"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the terminating (empty) frontier never joins `levels`, so it
      // must free its own cache entry here
      if (next.isEmpty) { next.unpersist(); done = true }
      else { levels += next; frontier = next }
      iter += 1
    }
    require(done, s"ancestorClosure: frontier alive after $iter rounds (cycle?)")
    val out = levels.reduce(_.unionAll(_)).localCheckpoint(true)
    levels.foreach(_.unpersist())
    edges.unpersist()
    out
  }

  val q59TransitiveClosure: Op = Op.sql("q59_transitive_closure",
    """WITH RECURSIVE edges AS (
      |  SELECT s_suppkey AS node, (s_suppkey - 1) // 2 AS parent
      |  FROM supplier WHERE s_suppkey > 0),
      |anc AS (
      |  SELECT node, parent AS anc, CAST(1 AS BIGINT) AS depth FROM edges
      |  UNION ALL
      |  SELECT a.node, e.parent, a.depth + 1
      |  FROM anc a JOIN edges e ON a.anc = e.node
      |  WHERE a.anc > 0)
      |SELECT node, anc, depth FROM anc ORDER BY node, depth""".stripMargin) { (s, dir) =>
    ancestorClosure(t(s, dir, "supplier")
      .select(col("s_suppkey").as("node"),
        expr("(s_suppkey - 1) DIV 2").as("parent"))
      .filter(col("node") > 0))
      .orderBy("node", "depth")
  }

  /** Ranking-function completeness (q22 covers row_number/rank/
    * sum-over; q43/q58 cover frames): dense_rank, percent_rank and
    * cume_dist over an order WITH ties (their tie semantics are the
    * point — peers share rank, so ties cannot perturb the output),
    * plus ntile(4) and lag-with-default over a TOTAL order (they
    * depend on physical row order, so the order key must be unique
    * for determinism). Both engines define ntile identically (early
    * buckets take the remainder) and percent_rank/cume_dist are exact
    * small-integer IEEE divisions, so doubles hash-match. One shuffle
    * on o_custkey shared by both windows. */
  /** Running DISTINCT count over a window (round 9 — the one common
    * window-aggregate shape Spark has no native support for:
    * `count(DISTINCT) OVER` is rejected by the analyzer): per user,
    * the number of distinct event types seen so far, in (ts, id)
    * order — the "behavioral breadth" feature session scoring uses.
    * Spark-first rewrite: `size(collect_set(x))` over the running
    * frame — collect_set's dedup inside the frame IS the distinct,
    * and the per-frame set is bounded by |event types| (a bounded
    * domain is the contract that makes windowed distinct sane at
    * scale; an unbounded-domain running distinct wants the
    * dense_rank-max rewrite or a sketch instead — both of which this
    * library also ships). One user-keyed shuffle; DuckDB runs the
    * native DISTINCT window aggregate as the oracle. */
  val q78WindowDistinct: Op = Op.sql("q78_window_distinct",
    """SELECT user_id, event_id,
      |  count(DISTINCT event_type) OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id ROWS UNBOUNDED PRECEDING)
      |    AS n_types_so_far
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        size(collect_set(col("event_type")).over(w)).cast("bigint")
          .as("n_types_so_far"))
      .orderBy("user_id", "event_id")
  }

  val q60RankingSuite: Op = Op.sql("q60_ranking_suite",
    """SELECT o_custkey, o_orderkey,
      |  dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS drk,
      |  CAST(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS DOUBLE) AS prk,
      |  CAST(cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS DOUBLE) AS cd,
      |  ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS nt,
      |  lag(o_orderkey, 1, -1) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_key
      |FROM orders WHERE o_custkey < 50
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val byCust = Window.partitionBy("o_custkey")
    val ties = byCust.orderBy(col("o_orderstatus"))
    val total = byCust.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders").filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"),
        dense_rank().over(ties).as("drk"),
        percent_rank().over(ties).cast("double").as("prk"),
        cume_dist().over(ties).cast("double").as("cd"),
        ntile(4).over(total).as("nt"),
        lag(col("o_orderkey"), 1, -1).over(total).as("prev_key"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** UNPIVOT / melt — the inverse of [[q41Pivot]]: three per-status
    * metrics widened by an aggregate, then melted to long form
    * (status, metric, value) in ONE pass over the aggregated rows
    * (Spark's native `unpivot`, which Expands map-side like
    * grouping sets — never one scan per metric). The value column is
    * unified to DOUBLE by both engines' unpivot contract; metrics are
    * decimal-exact or integer-exact before the final cast. */
  val q61Unpivot: Op = Op.sql("q61_unpivot",
    """WITH base AS (
      |  SELECT o_orderstatus AS st,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |    CAST(count(*) AS DOUBLE) AS n_orders,
      |    CAST(min(o_orderkey) AS DOUBLE) AS min_key
      |  FROM orders GROUP BY 1)
      |SELECT st, metric, v
      |FROM (UNPIVOT base ON sum_price, n_orders, min_key INTO NAME metric VALUE v)
      |ORDER BY st, metric""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus").as("st"))
      .agg(sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"),
        count(lit(1)).cast("double").as("n_orders"),
        min("o_orderkey").cast("double").as("min_key"))
      .unpivot(Array(col("st")),
        Array(col("sum_price"), col("n_orders"), col("min_key")),
        "metric", "v")
      .orderBy("st", "metric")
  }

  /** LOCF forward-fill (last observation carried forward — the
    * time-series gap repair [[q48Gapfill]]'s zero-fill doesn't give
    * you): nulls planted on every 3rd event are replaced by the last
    * non-null reading of the SAME user at or before that row, via
    * `last(v, ignoreNulls)` over a running frame — one shuffle on the
    * partition key, single pass, no self-join. A leading null run
    * (no prior observation) stays null by contract. The order key
    * (es, event_id) is total, so the fill is deterministic. */
  val q64Locf: Op = Op.sql("q64_locf",
    """WITH e AS (
      |  SELECT event_id, user_id,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
      |    CASE WHEN event_id % 3 = 0 THEN NULL
      |         ELSE CAST("value" AS DECIMAL(12,2)) END AS v
      |  FROM events)
      |SELECT event_id, user_id, es, CAST(v AS DOUBLE) AS v,
      |  CAST(last_value(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY es, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_filled
      |FROM e ORDER BY user_id, es, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("es"),
        when(pmod(col("event_id"), lit(3)) === 0, lit(null))
          .otherwise(col("value").cast("decimal(12,2)")).as("v"))
      .withColumn("v_filled",
        last(col("v"), ignoreNulls = true).over(w).cast("double"))
      .withColumn("v", col("v").cast("double"))
      .orderBy("user_id", "es", "event_id")
  }

  /** Per-group z-score OUTLIER detection (the anomaly filter every
    * monitoring/data-quality pipeline runs): events whose value sits
    * more than 3σ from their event-type mean. Group moments (n, Σx,
    * Σx²) are computed EXACTLY in decimal — one map-side-partial
    * hash-agg producing |groups| rows — then broadcast back over the
    * stream, so the fact table is scanned once and never shuffled.
    * z = (x − S/n)/√((SS − S²/n)/(n−1)) is evaluated in doubles from
    * exact-decimal inputs with the identical expression tree on both
    * engines, so every IEEE step is correctly rounded to the same
    * bits and the |z| > 3 cut is deterministic (nearest value sits
    * 1.6e-3 from the threshold; fp divergence would need ~1e-15).
    * At 100 TB this is scan + broadcast — no shuffle of the data. */
  val q66ZscoreOutliers: Op = Op.sql("q66_zscore_outliers",
    """WITH e AS (
      |  SELECT event_id, event_type, CAST("value" AS DECIMAL(12,2)) AS pd
      |  FROM events),
      |st AS (SELECT event_type, count(*) AS n,
      |         CAST(sum(pd) AS DOUBLE) AS s,
      |         CAST(sum(pd*pd) AS DOUBLE) AS ss
      |       FROM e GROUP BY event_type)
      |SELECT event_id, e.event_type, CAST(pd AS DOUBLE) AS v,
      |  round((CAST(pd AS DOUBLE) - s/n) / sqrt((ss - s*s/n)/(n-1)), 4) AS z
      |FROM e JOIN st ON e.event_type = st.event_type
      |WHERE abs((CAST(pd AS DOUBLE) - s/n) / sqrt((ss - s*s/n)/(n-1))) > 3.0
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value").cast("decimal(12,2)").as("pd"))
    val st = e.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(col("pd")).cast("double").as("s"),
      sum(col("pd") * col("pd")).cast("double").as("ss"))
    val v = col("pd").cast("double")
    val z = (v - col("s") / col("n")) /
      sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1))
    e.join(broadcast(st), "event_type")
      .filter(abs(z) > 3.0)
      .select(col("event_id"), col("event_type"), v.as("v"), round(z, 4).as("z"))
      .orderBy("event_id")
  }

  /** Batch SESSIONIZATION (the batch face of stream_sessionize's
    * session_window): events more than 30 min after the same user's
    * previous event start a new session; session id = running count
    * of boundary flags. Timestamps compare as INTEGER microseconds
    * (`unix_micros` / DuckDB `epoch_us`) so the 30-min cut is exact —
    * the events table carries sub-second micros, and a double epoch
    * would round them. ONE shuffle total: lag and the running sum
    * share the (user_id | ts, event_id) window, and the per-session
    * aggregate reuses the user_id partitioning because its grouping
    * keys are a superset (plan-audited). The per-user sequential
    * dependency is real but bounded: session assignment is a per-key
    * scan, the classic distributed sessionize shape at 100 TB. */
  val q67Sessionize: Op = Op.sql("q67_sessionize",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |b AS (
      |  SELECT user_id, event_id, tus,
      |    CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |              <= 1800000000 THEN 0 ELSE 1 END AS is_new
      |  FROM e),
      |s AS (
      |  SELECT user_id, tus,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM b)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(tus) AS start_us, max(tus) - min(tus) AS dur_us
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("tus"), 1).over(w)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("is_new",
        when(col("tus") - prev <= 1800000000L, 0L).otherwise(1L))
      .withColumn("session_id", sum(col("is_new")).over(run))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("tus").as("start_us"),
        (max(col("tus")) - min(col("tus"))).as("dur_us"))
      .orderBy("user_id", "session_id")
  }

  /** Exact DECAY-WEIGHTED rolling score (the EWMA-style recency
    * feature a training pipeline attaches to event streams): per
    * user, score = Σ_{j=0..7} value[t−j] / 2^j over the last 8
    * events. The weights 1/2^j are EXACT decimal literals and the
    * products/sum stay in decimal (scale 2+7=9, far under both
    * engines' precision caps), so the score is integer-exact until
    * the final double cast — no IEEE summation-order hazard at all,
    * unlike a pow()-based EWMA. Eight lags share one (user_id | tus,
    * event_id) window: ONE shuffle, single pass. */
  val q69DecayScore: Op = {
    val weights = (0 to 7).map(j => BigDecimal(1) / BigDecimal(2).pow(j))
    val wSql = weights.zipWithIndex.map { case (w, j) =>
      s"coalesce(lag(v, $j) OVER win, CAST(0 AS DECIMAL(12,2))) * CAST($w AS DECIMAL(10,7))"
    }.mkString(" +\n      |  ")
    Op.sql("q69_decay_score",
      s"""WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus,
        |    CAST("value" AS DECIMAL(12,2)) AS v
        |  FROM events)
        |SELECT event_id, user_id, CAST(v AS DOUBLE) AS v,
        |  CAST($wSql AS DOUBLE) AS score
        |FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val win = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val score = weights.zipWithIndex.map { case (w, j) =>
        coalesce(lag(col("v"), j).over(win), lit(BigDecimal(0)).cast("decimal(12,2)")) *
          lit(w).cast("decimal(10,7)")
      }.reduce(_ + _)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"),
          col("value").cast("decimal(12,2)").as("v"))
        .select(col("event_id"), col("user_id"), col("v").cast("double").as("v"),
          score.cast("double").as("score"))
        .orderBy("event_id")
    }
  }

  /** INTERVAL MERGE (gaps-and-islands consolidation) — the general
    * form of [[q67Sessionize]]: inputs are RANGES, not points, so a
    * long interval can swallow several later-starting short ones —
    * which is why the boundary test needs a running `max(end)` over
    * all PRIOR intervals, not a `lag` of the previous row (the bug in
    * every naive port of sessionization to ranges). Intervals are
    * derived deterministically from events (length = (event_id % 7 +
    * 1) minutes); islands = maximal unions of overlapping-or-touching
    * ranges per user. All arithmetic is exact integer microseconds.
    *
    * Scale: both windows and the final aggregate share the user_id
    * key — ONE shuffle total (plan-audited with the other single-key
    * window ops); per-key state is the sort, which Spark externalizes,
    * so a hot user spills instead of failing. */
  val q71IntervalMerge: Op = Op.sql("q71_interval_merge",
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS e_us
      |  FROM events),
      |b AS (
      |  SELECT user_id, s_us, e_us,
      |    CASE WHEN s_us > max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 1 - sign(count(*) OVER (PARTITION BY user_id ORDER BY s_us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) END AS is_new,
      |    event_id
      |  FROM iv),
      |s AS (
      |  SELECT user_id, s_us, e_us,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY s_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      |  FROM b)
      |SELECT user_id, island, count(*) AS n_intervals,
      |  min(s_us) AS start_us, max(e_us) AS end_us
      |FROM s GROUP BY user_id, island
      |ORDER BY user_id, island""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + (col("event_id") % 7 + 1) * 60000000L).as("e_us"))
      // first row of a user has no prior: count-over-prior is 0 there,
      // so 1 - sign(count) opens an island without a null branch —
      // the same expression tree on both engines
      .withColumn("is_new",
        when(col("s_us") > max(col("e_us")).over(prior), 1)
          .otherwise(lit(1) - sign(count(lit(1)).over(prior)).cast("int")))
      .withColumn("island", sum(col("is_new")).over(run).cast("bigint"))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("n_intervals"),
        min("s_us").as("start_us"), max("e_us").as("end_us"))
      .orderBy("user_id", "island")
  }

  /** Exact TRIANGLE COUNTING per node — the standard graph metric
    * for cluster quality (e.g. judging whether a near-dup cluster
    * from [[labelComponents]] is a dense clique or a
    * strung-out chain of borderline matches). The edge relation is
    * derived deterministically from lineitem (as q59 derives its
    * tree), then the count only ever reads the relation.
    *
    * Scale (100 TB): the naive u<v enumeration the oracle uses is
    * fine for DuckDB but its wedge stage is Σ deg², which a few
    * celebrity nodes turn quadratic. The Spark plan orients every
    * edge from its lower-(degree, id) endpoint to the higher
    * ("compact-forward"): out-degrees are bounded by O(√m), wedge
    * work drops to Σ C(outdeg, 2) = O(m^1.5) worst-case and far less
    * on real skewed graphs, and every step is a keyed equi-join —
    * no window, no cartesian. The orientation key packs (deg, node)
    * into one long so ranking needs no global sort. Both orientations
    * enumerate the identical triangle set (each triangle once), so
    * the per-node counts match the oracle exactly. */
  val q70Triangles: Op = Op.sql("graph_triangles",
    """WITH raw AS (
      |  SELECT l_orderkey % 300 AS a, l_suppkey % 300 AS b
      |  FROM lineitem WHERE l_quantity < 10),
      |e AS (
      |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
      |tri AS (
      |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |nodes AS (
      |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
      |SELECT node, count(*) AS n_triangles FROM nodes GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
    orientedTriangles(derivedGraph(s, dir))
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .orderBy("node")
  }

  /** The lineitem-derived undirected graph shared by the graph ops:
    * distinct (u < v) edges. */
  private[graft] def derivedGraph(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") < 10)
      .select((col("l_orderkey") % 300).as("a"), (col("l_suppkey") % 300).as("b"))
      .filter(col("a") =!= col("b"))
    raw.select(least(col("a"), col("b")).as("u"),
      greatest(col("a"), col("b")).as("v")).distinct()
  }

  /** Per-node degrees of the (u < v) edge relation — graph-sized,
    * pinned to a keyed shuffle (never a driver hashed relation). */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .hint("shuffle_hash")

  /** Exact triangle enumeration `(ta, tb, tc)` via the degree-ordered
    * "compact-forward" orientation — each triangle exactly once,
    * wedge volume O(m^1.5) worst-case (see [[q70Triangles]]'s scale
    * notes). Shared by the triangle counter and the per-edge
    * neighbor-similarity op. */
  private[graft] def orientedTriangles(e: DataFrame): DataFrame = {
    val deg = degrees(e)
    // orientation key: (deg, node) packed into one long (node < 300
    // « the 1e6 multiplier, so the packing is order-preserving)
    def key(d: Column, n: Column) = d * 1000000L + n
    val or = e.hint("shuffle_hash")
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(key(col("du"), col("u")) < key(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(key(col("du"), col("u")) < key(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("dst"),
        greatest(key(col("du"), col("u")), key(col("dv"), col("v"))).as("kdst"))
    val orH = or.hint("shuffle_hash")
    val wedges = orH.as("e1")
      .join(orH.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.src").as("ta"), col("e1.dst").as("tb"), col("e2.dst").as("tc"))
    wedges
      .join(orH.as("e3"), col("tb") === col("e3.src") && col("tc") === col("e3.dst"))
      .select("ta", "tb", "tc")
  }

  /** DETERMINISTIC RANDOM WALKS over the shared graph (round 12 —
    * the sampling primitive under DeepWalk/node2vec embeddings: a
    * walk corpus IS the training data, and at 100 TB it must be
    * reproducible across retries, which is why the "randomness" is a
    * seeded hash of (start, step, current), never an RNG): from every
    * node, a 5-step walk where step t moves to the neighbor at index
    * xxhash64(start, t, cur) mod degree in the id-ordered adjacency.
    * Each step is one keyed join of the walk frontier against the
    * ranked adjacency (both graph-sized → shuffle-hash pinned); the
    * oracle replays the FULL 3-link XXH64 seed chain per step with
    * the stats_countmin HUGEINT machinery, so a single wrong hash
    * constant or mod-sign error lands every walk on different nodes
    * and hash-mismatches. */
  val graphWalkSample: Op = Op.sql("graph_walk_sample", {
    import SqlReplay.{stagedSql, hashLongStages, toSignedBigint}
    def stepCte(t: Int): String = {
      val staged = stagedSql(
        s"SELECT w.start AS start, w.cur AS cur, d.deg AS deg " +
          s"FROM w${t - 1} w JOIN dg d ON d.n = w.cur",
        hashLongStages("CAST(start AS HUGEINT)", "42::HUGEINT", "ha") ++
          hashLongStages(s"$t::HUGEINT", "ha", "hb") ++
          hashLongStages("CAST(cur AS HUGEINT)", "hb", "hc"))
      s"""w$t AS MATERIALIZED (
         |  SELECT s.start, rk.nbr AS cur FROM ($staged) s
         |  JOIN rk ON rk.x = s.cur
         |    AND rk.idx = (((${toSignedBigint("s.hc")}) % s.deg) + s.deg) % s.deg)"""
        .stripMargin
    }
    s"""WITH raw AS (
       |  SELECT l_orderkey % 300 AS a, l_suppkey % 300 AS b
       |  FROM lineitem WHERE l_quantity < 10),
       |e AS (
       |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
       |  FROM raw WHERE a <> b),
       |adj AS (SELECT u AS x, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
       |dg AS (SELECT x AS n, count(*) AS deg FROM adj GROUP BY x),
       |rk AS (SELECT x, nbr,
       |         row_number() OVER (PARTITION BY x ORDER BY nbr) - 1 AS idx
       |       FROM adj),
       |w0 AS (SELECT DISTINCT x AS start, x AS cur FROM adj),
       |${(1 to 5).map(stepCte).mkString(",\n")}
       |SELECT * FROM (
       |${(1 to 5).map(t =>
          s"  SELECT start, CAST($t AS BIGINT) AS step, cur AS node FROM w$t")
         .mkString("\n  UNION ALL\n")}
       |) ORDER BY start, step""".stripMargin
  }) { (s, dir) =>
    val e = derivedGraph(s, dir)
    val adj = e.select(col("u").as("x"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("x"), col("u").as("nbr")))
    val rk = adj.withColumn("idx",
      row_number().over(Window.partitionBy("x").orderBy("nbr")) - 1)
    val dg = adj.groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .select(col("x").as("n"), col("deg"))
    var cur = adj.select(col("x").as("start")).distinct()
      .withColumn("cur", col("start"))
    val steps = (1 to 5).map { t =>
      val picked = cur
        .join(dg.hint("shuffle_hash"), col("n") === col("cur"))
        .withColumn("pick",
          pmod(xxhash64(col("start"), lit(t.toLong), col("cur")), col("deg")))
      cur = picked
        .join(rk.hint("shuffle_hash"),
          col("x") === col("cur") && col("idx") === col("pick"))
        .select(col("start"), col("nbr").as("cur"))
      cur.select(col("start"), lit(t.toLong).as("step"), col("cur").as("node"))
    }
    steps.reduce(_ unionByName _).orderBy("start", "step")
  }

  /** LOCAL CLUSTERING COEFFICIENT per node (round 12 — the third
    * member of the triangle family: graph_triangles counts them,
    * graph_edge_similarity scores edges by them, this scores NODES —
    * c_v = 2·tri(v)/(deg_v·(deg_v−1)), Watts–Strogatz's "how clique-
    * like is this node's neighborhood", the per-node version of the
    * density verdict a dedup cluster audit reads): per-node triangle
    * counts from the SHARED [[orientedTriangles]] enumeration
    * (O(m^1.5) wedges, every join keyed), degrees from the shared
    * keyed degree agg, one graph-sized shuffle-hash join, a single
    * IEEE division from exact integers. Nodes with deg < 2 are
    * excluded (the coefficient is undefined there); triangle-free
    * nodes report 0. */
  val graphClustering: Op = Op.sql("graph_clustering",
    """WITH raw AS (
      |  SELECT l_orderkey % 300 AS a, l_suppkey % 300 AS b
      |  FROM lineitem WHERE l_quantity < 10),
      |e AS (
      |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
      |deg AS (
      |  SELECT n, count(*) AS d FROM (
      |    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      |tri AS (
      |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |nodes AS (
      |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri),
      |pn AS (SELECT node, count(*) AS nt FROM nodes GROUP BY node)
      |SELECT deg.n AS node, deg.d AS deg, coalesce(pn.nt, 0) AS n_tri,
      |  CAST(2 * coalesce(pn.nt, 0) AS DOUBLE) / (deg.d * (deg.d - 1))
      |    AS local_cc
      |FROM deg LEFT JOIN pn ON pn.node = deg.n
      |WHERE deg.d >= 2 ORDER BY node""".stripMargin) { (s, dir) =>
    val e = derivedGraph(s, dir)
    val perNode = orientedTriangles(e)
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("nt"))
    degrees(e).filter(col("d") >= 2)
      .join(perNode.hint("shuffle_hash"),
        col("n") === perNode("node"), "left")
      .select(col("n").as("node"), col("d").as("deg"),
        coalesce(col("nt"), lit(0L)).as("n_tri"),
        ((lit(2) * coalesce(col("nt"), lit(0L))).cast("double") /
          (col("d") * (col("d") - 1))).as("local_cc"))
      .orderBy("node")
  }

  /** Per-EDGE neighbor-set Jaccard similarity (round 9 — the local
    * sparsification / tie-strength metric of Satuluri et al. 2011
    * and neo4j's node-similarity restricted to edges; the link-weight
    * a dedup pipeline uses to rank which near-dup edges to trust):
    * for an edge (u, v), common = |N(u) ∩ N(v)| is exactly the
    * number of triangles through the edge, so the ORIENTED triangle
    * enumeration (each triangle once, O(m^1.5) wedges) yields every
    * common-neighbor count by exploding each triangle into its three
    * edges — the edge restriction is what keeps the metric exact AND
    * subquadratic (all-PAIRS neighbor Jaccard is hub-quadratic by
    * nature; production systems cap neighbor lists to approximate it,
    * while the edge-wise form needs no cap). jaccard = c/(du+dv−c)
    * over open neighborhoods — exact integers into ONE IEEE
    * division. Edges on no triangle emit with c = 0 (the weakest
    * ties — sparsification drops them first). */
  val graphEdgeSimilarity: Op = Op.sql("graph_edge_similarity",
    """WITH raw AS (
      |  SELECT l_orderkey % 300 AS a, l_suppkey % 300 AS b
      |  FROM lineitem WHERE l_quantity < 10),
      |e AS (
      |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
      |deg AS (
      |  SELECT n, count(*) AS d FROM (
      |    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      |tri AS (
      |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |te AS (
      |  SELECT least(x, y) AS u, greatest(x, y) AS v FROM tri
      |  UNION ALL SELECT least(x, z), greatest(x, z) FROM tri
      |  UNION ALL SELECT least(y, z), greatest(y, z) FROM tri),
      |c AS (SELECT u, v, count(*) AS common FROM te GROUP BY u, v)
      |SELECT e.u AS u, e.v AS v, coalesce(c.common, 0) AS common,
      |  du.d AS deg_u, dv.d AS deg_v,
      |  CAST(coalesce(c.common, 0) AS DOUBLE)
      |    / (du.d + dv.d - coalesce(c.common, 0)) AS jaccard
      |FROM e
      |JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
      |LEFT JOIN c ON c.u = e.u AND c.v = e.v
      |ORDER BY e.u, e.v""".stripMargin) { (s, dir) =>
    val e = derivedGraph(s, dir)
    val tri = orientedTriangles(e)
    val te = tri.select(least(col("ta"), col("tb")).as("u"),
        greatest(col("ta"), col("tb")).as("v"))
      .unionAll(tri.select(least(col("ta"), col("tc")).as("u"),
        greatest(col("ta"), col("tc")).as("v")))
      .unionAll(tri.select(least(col("tb"), col("tc")).as("u"),
        greatest(col("tb"), col("tc")).as("v")))
    val c = te.groupBy("u", "v").agg(count(lit(1)).as("common"))
      .hint("shuffle_hash")
    val deg = degrees(e)
    val common = coalesce(col("common"), lit(0L))
    e.join(deg.select(col("n").as("u"), col("d").as("deg_u")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("deg_v")), Seq("v"))
      .join(c, Seq("u", "v"), "left")
      .select(col("u"), col("v"), common.as("common"),
        col("deg_u"), col("deg_v"),
        (common.cast("double") / (col("deg_u") + col("deg_v") - common))
          .as("jaccard"))
      .orderBy("u", "v")
  }

  /** ROBUST outlier detection via exact MAD (median absolute
    * deviation) — the complement of q66's z-score, whose mean/std a
    * single wild value corrupts (masking): median and MAD have a 50%
    * breakdown point, so the fence holds even on badly polluted
    * groups. Both the median and the MAD are EXACT rank-selects
    * (q45's integer rank contract — "the value at rank ceil(n/2)",
    * never an interpolating quantile() that engines disagree on), so
    * every number here is a value that exists in the data and the
    * oracle compares hash-exact. The 1.5·MAD fence is the mild
    * convention; dev and the fence compute through the identical
    * IEEE expression tree on both engines.
    *
    * Scale: the 2-column (flag, x) projection is persisted ONCE and
    * feeds all three consumers (median ranks, dev ranks, fence
    * count) — one fact scan, not three; the two rank passes and the
    * final count all partition on the same flag key, and the 3-row
    * median/MAD frames broadcast back. The tiny result checkpoints
    * eagerly so the cached projection is freed before returning —
    * the same residency discipline as [[pagerankFrame]]. */
  val q73MadOutliers: Op = Op.sql("q73_mad_outliers",
    """WITH base AS (SELECT l_returnflag AS flag, l_extendedprice AS x FROM lineitem),
      |r1 AS (SELECT flag, x,
      |  row_number() OVER (PARTITION BY flag ORDER BY x) AS rn,
      |  count(*) OVER (PARTITION BY flag) AS n FROM base),
      |med AS (SELECT flag,
      |  min(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN x END) AS med
      |  FROM r1 GROUP BY flag),
      |d AS (SELECT b.flag, b.x, abs(b.x - med.med) AS dev, med.med
      |  FROM base b JOIN med USING (flag)),
      |r2 AS (SELECT flag, med, dev,
      |  row_number() OVER (PARTITION BY flag ORDER BY dev) AS rn,
      |  count(*) OVER (PARTITION BY flag) AS n FROM d),
      |mad AS (SELECT flag, min(med) AS med,
      |  min(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN dev END) AS mad
      |  FROM r2 GROUP BY flag)
      |SELECT d.flag, min(mad.med) AS med, min(mad.mad) AS mad,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE d.dev > 1.5 * mad.mad) AS n_outliers
      |FROM d JOIN mad ON d.flag = mad.flag
      |GROUP BY d.flag ORDER BY d.flag""".stripMargin) { (s, dir) =>
    madOutliersFrame(s, dir, materialize = true)
  }

  /** The q73 dataflow; `materialize = false` returns the pure plan
    * for the plan audit (same rationale as [[pagerankFrame]]). */
  private[graft] def madOutliersFrame(s: SparkSession, dir: String,
                                      materialize: Boolean): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val base0 = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
    val base = if (materialize) base0.persist(StorageLevel.MEMORY_AND_DISK) else base0
    val w = Window.partitionBy("flag")
    def rankSelect(df: DataFrame, v: String, out: String) =
      df.select(col("flag"), col(v),
          row_number().over(w.orderBy(v)).as("rn"),
          count(lit(1)).over(w).as("n"))
        .groupBy("flag")
        .agg(min(when(col("rn") === ceil(col("n") * 0.5).cast("bigint"), col(v))).as(out))
    val med = rankSelect(base, "x", "med")
    val d = base.join(broadcast(med), "flag")
      .withColumn("dev", abs(col("x") - col("med")))
    val madDf = rankSelect(d.select(col("flag"), col("dev")), "dev", "mad")
    val out = d.join(broadcast(madDf), "flag")
      .groupBy("flag")
      .agg(min("med").as("med"), min("mad").as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("dev") > lit(1.5) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("flag")
    if (materialize) {
      val r = out.localCheckpoint(true)
      base.unpersist()
      r
    } else out
  }

  /** OHLC BARS (open-high-low-close downsampling — THE standard
    * time-series reduction for metrics/market feeds, and the only
    * aggregate family not yet exercised: ORDERED aggregates): per
    * (user, day), the first and last value by event time plus the
    * extremes and count. first/last are `min_by`/`max_by` (DuckDB
    * arg_min/arg_max) over a FIXED-WIDTH (epoch_us, event_id) string
    * key — 20 digits each pads any non-negative long without
    * truncation, so lexicographic order ≡ chronological order with a
    * unique tie-break (domain note: pre-1970 timestamps would put a
    * '-' in the key and break the ordering — events are
    * nonnegative-epoch by schema contract), and the bars are
    * deterministic under any partitioning
    * and the oracle is hash-exact (open/close are data values, never
    * arithmetic). One hash-agg with full map-side partials: min_by
    * partials carry one (value, key) pair per group per partition —
    * the same mergeable shape [[graft.kv.KVTable]] exploits. A
    * window/row_number formulation would sort whole partitions
    * instead; the ordered-aggregate plan never sorts. */
  /** HOPPING (sliding) WINDOW aggregation — 1-hour windows every 30
    * minutes (the overlapping-window face the tumbling ops
    * q74/stream_window_agg don't cover: a rolling hourly metric
    * refreshed twice an hour — each event contributes to exactly
    * window-length/slide = 2 windows): Spark's `window(ts, '1 hour',
    * '30 minutes')` explodes each row into its member windows on the
    * epoch-aligned 30-minute grid; the oracle replays the membership
    * in closed form — the two candidate starts are floor₃₀ₘ(ts) and
    * floor₃₀ₘ(ts)−30min, and BOTH always contain the event (w ≤ ts
    * holds by flooring, ts < w+1h because ts < floor+30min) — so a
    * wrong grid alignment or drop/duplicate membership
    * hash-mismatches. Exact decimal sums; constant ×2 in-partition
    * expansion then one keyed hash-agg — the bounded-blowup shape
    * (stats_bootstrap's class), linear at any scale. */
  val q81HoppingWindow: Op = Op.sql("q81_hopping_window",
    """WITH e AS (SELECT epoch_us(ts) AS tus, event_type,
      |                  CAST("value" AS DECIMAL(12,2)) AS v FROM events),
      |g AS (SELECT tus - (tus % 1800000000) AS g30, event_type, v FROM e),
      |x AS (SELECT g30 - t.off AS win_start, event_type, v
      |      FROM g, unnest([CAST(0 AS BIGINT), CAST(1800000000 AS BIGINT)]) AS t(off))
      |SELECT win_start, event_type, count(*) AS n_events,
      |       CAST(sum(v) AS DOUBLE) AS sum_value
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")
  }

  val q74Ohlc: Op = Op.sql("q74_ohlc",
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS bar, value,
      |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
      |    lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
      |  FROM events)
      |SELECT user_id, bar,
      |  arg_min(value, k) AS open, max(value) AS high,
      |  min(value) AS low, arg_max(value, k) AS close, count(*) AS n
      |FROM e GROUP BY user_id, bar ORDER BY user_id, bar""".stripMargin) { (s, dir) =>
    val k = concat(
      lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 20, "0"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("bar"),
        col("value"), k.as("k"))
      .groupBy("user_id", "bar")
      .agg(min_by(col("value"), col("k")).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), col("k")).as("close"),
        count(lit(1)).as("n"))
      .orderBy("user_id", "bar")
  }

  /** PageRank fixed-point scale (ranks are `pr / PrScale`); the
    * teleport term is 15% of it, derived — never restated. */
  val PrScale = 1000000000000L
  val PrTeleport: Long = PrScale * 15 / 100

  /** INTEGER-EXACT PageRank (5 iterations, damping 0.85) over the
    * same derived graph as [[q70Triangles]] — the link-analysis
    * centrality a curation pipeline uses to weight interlinked
    * sources. Everything is BIGINT: ranks carry a 10^12 fixed-point
    * scale, per-edge contributions are floor divisions (`div` /
    * DuckDB `//`, identical on positive operands), and the damping
    * step is `(85·Σ) div 100` — so both engines produce bit-identical
    * ranks and the oracle is hash-exact, unlike a double-based
    * PageRank whose summation order diverges. The oracle SQL is
    * GENERATED from the same loop that builds the DataFrame plan —
    * one source of truth for the unrolling.
    *
    * Scale: each iteration is one keyed join (edges ⋈ ranks, both
    * partitioned by src) + one hash-agg on dst — shuffle O(m) longs
    * per round, rounds fixed at 5. Edges and out-degrees are
    * persisted once; rank frames are tiny (one long per node). The
    * overflow budget is explicit: 85 · n · scale < 2^63 up to
    * n ≈ 10^5 nodes at this scale, and [[PrScale]] is the single
    * knob — the teleport term and both engines' literals derive from
    * it, so turning it can never desync the oracle from the plan. */
  val q72Pagerank: Op = {
    val base = s"""WITH raw AS (
      |  SELECT l_orderkey % 300 AS a, l_suppkey % 300 AS b
      |  FROM lineitem WHERE l_quantity < 10),
      |ue AS (SELECT DISTINCT least(a,b) AS u, greatest(a,b) AS v FROM raw WHERE a <> b),
      |e AS (SELECT u AS src, v AS dst FROM ue UNION ALL SELECT v, u FROM ue),
      |od AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      |n AS (SELECT DISTINCT src AS node FROM e),
      |p0 AS (SELECT node, CAST($PrScale AS BIGINT) AS pr FROM n)""".stripMargin
    val steps = (1 to 5).map { k =>
      s"""p$k AS (
         |  SELECT n.node,
         |    CAST($PrTeleport + (85 * COALESCE(s.contrib, 0)) // 100 AS BIGINT) AS pr
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p${k - 1}.pr // od.d) AS contrib
         |    FROM e JOIN od ON od.src = e.src JOIN p${k - 1} ON p${k - 1}.node = e.src
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }
    Op.sql("graph_pagerank",
      base + ",\n" + steps.mkString(",\n") +
        "\nSELECT node, pr FROM p5 ORDER BY node") { (s, dir) =>
      pagerankFrame(s, dir, materialize = true)
    }
  }

  /** The q72 dataflow. `materialize = true` (the operator) persists
    * the edge/degree/node frames, eagerly checkpoints the (tiny)
    * result and frees all loop state; `materialize = false` returns
    * the PURE 5-round plan — it exists so PlanAuditSpec can explain
    * the real join/agg tree (a checkpointed result explains as a bare
    * `Scan ExistingRDD`, which would make the audit vacuous). */
  private[graft] def pagerankFrame(s: SparkSession, dir: String,
                                   materialize: Boolean): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val raw = Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") < 10)
      .select((col("l_orderkey") % 300).as("a"), (col("l_suppkey") % 300).as("b"))
      .filter(col("a") =!= col("b"))
    val ue = raw.select(least(col("a"), col("b")).as("u"),
      greatest(col("a"), col("b")).as("v")).distinct()
    def hold(df: DataFrame) =
      if (materialize) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    val e = hold(ue.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(ue.select(col("v").as("src"), col("u").as("dst"))))
    val od = hold(e.groupBy("src").agg(count(lit(1)).as("d")))
    val n = hold(e.select(col("src").as("node")).distinct())
    var p = n.select(col("node"), lit(PrScale).as("pr"))
    for (_ <- 1 to 5) {
      val contrib = e.join(od, "src")
        .join(p.select(col("node").as("src"), col("pr")), "src")
        .select(col("dst").as("node"), expr("pr div d").as("c"))
        .groupBy("node").agg(sum("c").as("contrib"))
      p = n.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(PrTeleport) +
            expr("(85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100"))
            .cast("bigint").as("pr"))
    }
    val sorted = p.orderBy("node")
    if (materialize) {
      val out = sorted.localCheckpoint(true)
      Seq(e, od, n).foreach(_.unpersist())
      out
    } else sorted
  }

  /** Pairwise Pearson CORRELATION MATRIX over lineitem's numeric
    * columns (the feature-drift / collinearity screen a training
    * pipeline runs before model fitting). All ten moments (n, Σx,
    * Σx², Σxy per pair) are EXACT decimal sums reduced in ONE
    * map-side-partial hash aggregate to a single row — the fact
    * table is scanned once and never shuffled; the only exchange
    * carries one row of moments. The corr formula
    * (n·Σxy − ΣxΣy)/(√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)) then runs in
    * doubles from exact inputs with the identical expression tree on
    * both engines (every IEEE op correctly rounded to the same bits),
    * and the six pair rows are exploded from the moments row — no
    * second scan, no join. At 100 TB: scan + 1-row exchange. */
  /** Grouped simple OLS regression (round 9 — stats_corr's
    * prediction-side sibling: corr answers "are they related", the
    * regression answers "by how much per unit"): per l_returnflag,
    * regress extendedprice on quantity — slope, intercept and R² from
    * the SAME moments-first shape as stats_corr (n, Σx, Σy, Σxy, Σx²,
    * Σy² as exact DECIMAL sums reduced map-side-partial; all float
    * math AFTER the reduction, identical IEEE tree both engines, so
    * the oracle hash-compares). ONE fact scan, the exchange carries
    * |groups| rows. R² = corr² for simple OLS — computed through the
    * same expression both engines. */
  val statsLinreg: Op = Op.sql("stats_linreg",
    """WITH e AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(l_quantity AS DECIMAL(12,2)) AS x,
      |         CAST(l_extendedprice AS DECIMAL(12,2)) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT flag, count(*) AS n,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(x*y) AS DOUBLE) AS sxy,
      |    CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(y*y) AS DOUBLE) AS syy
      |  FROM e GROUP BY flag)
      |SELECT flag, n,
      |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
      |  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6) AS intercept,
      |  round(((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)))
      |    * ((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))), 6) AS r2
      |FROM m ORDER BY flag""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "lineitem").select(
      col("l_returnflag").as("flag"),
      col("l_quantity").cast("decimal(12,2)").as("x"),
      col("l_extendedprice").cast("decimal(12,2)").as("y"))
    val m = e.groupBy("flag").agg(count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"), sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y") * col("y")).cast("double").as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val corr = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
        sqrt(col("n") * col("syy") - col("sy") * col("sy")))
    m.select(col("flag"), col("n"),
        round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"),
        round(corr * corr, 6).as("r2"))
      .orderBy("flag")
  }

  val statsCorr: Op = Op.sql("stats_corr",
    """WITH e AS (
      |  SELECT CAST(l_quantity AS DECIMAL(12,2)) AS q,
      |         CAST(l_extendedprice AS DECIMAL(12,2)) AS p,
      |         CAST(l_discount AS DECIMAL(12,2)) AS d,
      |         CAST(l_tax AS DECIMAL(12,2)) AS x
      |  FROM lineitem),
      |m AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(p) AS DOUBLE) AS sp,
      |    CAST(sum(d) AS DOUBLE) AS sd, CAST(sum(x) AS DOUBLE) AS sx,
      |    CAST(sum(q*q) AS DOUBLE) AS sqq, CAST(sum(p*p) AS DOUBLE) AS spp,
      |    CAST(sum(d*d) AS DOUBLE) AS sdd, CAST(sum(x*x) AS DOUBLE) AS sxx,
      |    CAST(sum(q*p) AS DOUBLE) AS sqp, CAST(sum(q*d) AS DOUBLE) AS sqd,
      |    CAST(sum(q*x) AS DOUBLE) AS sqx, CAST(sum(p*d) AS DOUBLE) AS spd,
      |    CAST(sum(p*x) AS DOUBLE) AS spx, CAST(sum(d*x) AS DOUBLE) AS sdx
      |  FROM e)
      |SELECT col_x, col_y,
      |  round((n*sxy - a*b) / (sqrt(n*saa - a*a) * sqrt(n*sbb - b*b)), 6) AS corr_xy
      |FROM (
      |  SELECT 'l_discount' AS col_x, 'l_extendedprice' AS col_y, sd AS a, sp AS b, sdd AS saa, spp AS sbb, spd AS sxy, n FROM m
      |  UNION ALL SELECT 'l_discount', 'l_quantity', sd, sq, sdd, sqq, sqd, n FROM m
      |  UNION ALL SELECT 'l_discount', 'l_tax', sd, sx, sdd, sxx, sdx, n FROM m
      |  UNION ALL SELECT 'l_extendedprice', 'l_quantity', sp, sq, spp, sqq, sqp, n FROM m
      |  UNION ALL SELECT 'l_extendedprice', 'l_tax', sp, sx, spp, sxx, spx, n FROM m
      |  UNION ALL SELECT 'l_quantity', 'l_tax', sq, sx, sqq, sxx, sqx, n FROM m)
      |ORDER BY col_x, col_y""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "lineitem").select(
      col("l_quantity").cast("decimal(12,2)").as("q"),
      col("l_extendedprice").cast("decimal(12,2)").as("p"),
      col("l_discount").cast("decimal(12,2)").as("d"),
      col("l_tax").cast("decimal(12,2)").as("x"))
    def s2(a: String, b: String) = sum(col(a) * col(b)).cast("double")
    val m = e.agg(count(lit(1)).as("n"),
      sum(col("q")).cast("double").as("sq"), sum(col("p")).cast("double").as("sp"),
      sum(col("d")).cast("double").as("sd"), sum(col("x")).cast("double").as("sx"),
      s2("q", "q").as("sqq"), s2("p", "p").as("spp"),
      s2("d", "d").as("sdd"), s2("x", "x").as("sxx"),
      s2("q", "p").as("sqp"), s2("q", "d").as("sqd"),
      s2("q", "x").as("sqx"), s2("p", "d").as("spd"),
      s2("p", "x").as("spx"), s2("d", "x").as("sdx"))
    def corrOf(a: Column, b: Column, saa: Column, sbb: Column, sxy: Column) =
      (col("n") * sxy - a * b) /
        (sqrt(col("n") * saa - a * a) * sqrt(col("n") * sbb - b * b))
    val pairs = Seq(
      ("l_discount", "l_extendedprice", "sd", "sp", "sdd", "spp", "spd"),
      ("l_discount", "l_quantity", "sd", "sq", "sdd", "sqq", "sqd"),
      ("l_discount", "l_tax", "sd", "sx", "sdd", "sxx", "sdx"),
      ("l_extendedprice", "l_quantity", "sp", "sq", "spp", "sqq", "sqp"),
      ("l_extendedprice", "l_tax", "sp", "sx", "spp", "sxx", "spx"),
      ("l_quantity", "l_tax", "sq", "sx", "sqq", "sxx", "sqx"))
    m.select(explode(array(pairs.map { case (cx, cy, a, b, aa, bb, xy) =>
        struct(lit(cx).as("col_x"), lit(cy).as("col_y"),
          round(corrOf(col(a), col(b), col(aa), col(bb), col(xy)), 6).as("corr_xy"))
      }: _*)).as("r"))
      .select(col("r.col_x").as("col_x"), col("r.col_y").as("col_y"),
        col("r.corr_xy").as("corr_xy"))
      .orderBy("col_x", "col_y")
  }

  /** WELCH TWO-SAMPLE T-TEST per event type over an A/B split
    * (`user_id % 2` — the deterministic assignment every experiment
    * framework hashes users into): unequal-variance t statistic and
    * Welch–Satterthwaite degrees of freedom. Per-group moments
    * (n, Σv, Σv²) are exact decimal sums from ONE hash aggregate on
    * (event_type, grp) — 10 rows out of the scan — and the t/df
    * arithmetic runs in doubles from exact inputs with the identical
    * expression tree on both engines. At 100 TB: one map-side-partial
    * agg shuffle of |types|·2 rows; the A/B self-join is on 5-row
    * frames. */
  val statsTtest: Op = Op.sql("stats_ttest",
    """WITH e AS (
      |  SELECT event_type, user_id % 2 AS grp,
      |    CAST("value" AS DECIMAL(12,2)) AS v
      |  FROM events),
      |m AS (SELECT event_type, grp, count(*) AS n,
      |        CAST(sum(v) AS DOUBLE) AS s, CAST(sum(v*v) AS DOUBLE) AS ss
      |      FROM e GROUP BY 1, 2),
      |ab AS (SELECT a.event_type, a.n AS n_a, b.n AS n_b, a.s AS s_a, b.s AS s_b,
      |         a.ss AS ss_a, b.ss AS ss_b
      |       FROM m a JOIN m b ON a.event_type = b.event_type AND a.grp = 0 AND b.grp = 1)
      |SELECT event_type, n_a, n_b,
      |  round(s_a/n_a, 4) AS mean_a, round(s_b/n_b, 4) AS mean_b,
      |  round((s_a/n_a - s_b/n_b) /
      |        sqrt((ss_a - s_a*s_a/n_a)/(n_a-1)/n_a + (ss_b - s_b*s_b/n_b)/(n_b-1)/n_b), 4) AS t_stat,
      |  round(
      |    ((ss_a - s_a*s_a/n_a)/(n_a-1)/n_a + (ss_b - s_b*s_b/n_b)/(n_b-1)/n_b) *
      |    ((ss_a - s_a*s_a/n_a)/(n_a-1)/n_a + (ss_b - s_b*s_b/n_b)/(n_b-1)/n_b) /
      |    ( ((ss_a - s_a*s_a/n_a)/(n_a-1)/n_a)*((ss_a - s_a*s_a/n_a)/(n_a-1)/n_a)/(n_a-1)
      |    + ((ss_b - s_b*s_b/n_b)/(n_b-1)/n_b)*((ss_b - s_b*s_b/n_b)/(n_b-1)/n_b)/(n_b-1) ), 4) AS df
      |FROM ab ORDER BY event_type""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select(col("event_type"),
      (col("user_id") % 2).as("grp"),
      col("value").cast("decimal(12,2)").as("v"))
    val m = e.groupBy("event_type", "grp").agg(count(lit(1)).as("n"),
      sum(col("v")).cast("double").as("s"),
      sum(col("v") * col("v")).cast("double").as("ss"))
    val a = m.filter(col("grp") === 0).select(col("event_type"),
      col("n").as("n_a"), col("s").as("s_a"), col("ss").as("ss_a"))
    val b = m.filter(col("grp") === 1).select(col("event_type"),
      col("n").as("n_b"), col("s").as("s_b"), col("ss").as("ss_b"))
    // standard errors of the two means, left-associated exactly as the oracle
    val sea = (col("ss_a") - col("s_a") * col("s_a") / col("n_a")) /
      (col("n_a") - 1) / col("n_a")
    val seb = (col("ss_b") - col("s_b") * col("s_b") / col("n_b")) /
      (col("n_b") - 1) / col("n_b")
    a.join(b, "event_type")
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("s_a") / col("n_a"), 4).as("mean_a"),
        round(col("s_b") / col("n_b"), 4).as("mean_b"),
        round((col("s_a") / col("n_a") - col("s_b") / col("n_b")) /
          sqrt(sea + seb), 4).as("t_stat"),
        round((sea + seb) * (sea + seb) /
          (sea * sea / (col("n_a") - 1) + seb * seb / (col("n_b") - 1)), 4).as("df"))
      .orderBy("event_type")
  }

  /** ONE-WAY ANOVA F-test across ALL event-type groups (the k-group
    * member of the stats family — `stats_ttest` compares TWO means,
    * this asks whether ANY of the k event types' value means differ:
    * the first gate an experimenter runs before pairwise tests).
    * Per-group moments (n, Σv as exact DECIMAL, Σv² — ONE map-side-
    * partial hash aggregate, |types| rows out of the scan) reduce to
    * the classic decomposition SSB = Σ_g S_g²/n_g − S²/N and
    * SSW = Σ_g (SS_g − S_g²/n_g). The two Σ_g sums are ORDER-DEPENDENT
    * double folds, so both engines run them as the SAME left fold in
    * event-type order (Spark `aggregate` over a sorted collect_list /
    * DuckDB `list_reduce(list(.. ORDER BY g))` — the RAKE/ADC fold
    * identity, 0.0+x₁ ≡ x₁); grand N and S stay exact integer/decimal
    * sums, so every input to the final F division is bit-identical.
    * At 100 TB: one scan, one |types|-row exchange, folds over a
    * k-row frame — nothing grows with data. */
  val statsAnova: Op = Op.sql("stats_anova",
    """WITH e AS (
      |  SELECT event_type AS g, CAST("value" AS DECIMAL(12,2)) AS v FROM events),
      |m AS (
      |  SELECT g, count(*) AS n, sum(v) AS sd,
      |    CAST(sum(v) AS DOUBLE) AS s, CAST(sum(v*v) AS DOUBLE) AS ss
      |  FROM e GROUP BY g),
      |f AS (
      |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,
      |    CAST(sum(sd) AS DOUBLE) AS st,
      |    list_reduce(list(ss - s*s/n ORDER BY g), (a, b) -> a + b) AS ssw,
      |    list_reduce(list(s*s/n ORDER BY g), (a, b) -> a + b) AS sb
      |  FROM m)
      |SELECT k, n, round(sb - st*st/n, 4) AS ssb, round(ssw, 4) AS ssw,
      |  round(((sb - st*st/n)/(k-1)) / (ssw/(n-k)), 4) AS f_stat,
      |  k-1 AS df1, n-k AS df2
      |FROM f""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select(col("event_type").as("g"),
      col("value").cast("decimal(12,2)").as("v"))
    val m = e.groupBy("g").agg(count(lit(1)).as("n"), sum(col("v")).as("sd"),
      sum(col("v")).cast("double").as("s"),
      sum(col("v") * col("v")).cast("double").as("ss"))
    // left fold in event-type order — matches list_reduce exactly
    def fold(x: Column) = aggregate(
      transform(array_sort(collect_list(struct(col("g"), x.as("x")))),
        r => r.getField("x")),
      lit(0.0), (a, b) => a + b)
    val f = m.agg(count(lit(1)).as("k"), sum(col("n")).cast("long").as("n"),
      sum(col("sd")).cast("double").as("st"),
      fold(col("ss") - col("s") * col("s") / col("n")).as("ssw"),
      fold(col("s") * col("s") / col("n")).as("sb"))
    val ssb = col("sb") - col("st") * col("st") / col("n")
    f.select(col("k"), col("n"),
      round(ssb, 4).as("ssb"), round(col("ssw"), 4).as("ssw"),
      round((ssb / (col("k") - 1)) / (col("ssw") / (col("n") - col("k"))), 4)
        .as("f_stat"),
      (col("k") - 1).as("df1"), (col("n") - col("k")).as("df2"))
  }

  /** Poisson(1) inverse-CDF thresholds as floor(cdf(k)·2⁶⁴) for
    * k = 0..8: a draw's weight = how many thresholds its unsigned
    * 64-bit hash clears (clearing all nine ⟹ weight 9, the capped
    * tail — P ≈ 1.1e-6 per draw, the truncation every practical
    * Poisson sampler applies). Exact integers, so the weight is a
    * pure integer comparison on both engines — no float boundary. */
  private[graft] val PoissonT: Seq[BigInt] = Seq(
    "6786177901268885274", "13572355802537770549", "16965444753172213186",
    "18096474403383694065", "18379231815936564285", "18435783298447138329",
    "18445208545532234003", "18446555009401533385", "18446723317385195808"
  ).map(BigInt(_))

  val BootReps = 20

  /** POISSON BOOTSTRAP standard errors per event type (round 10;
    * Chamandy et al. 2012 — THE distributed bootstrap: classic
    * resampling draws n rows with replacement, which is inherently
    * sequential, while the Poisson approximation gives every row an
    * independent Poisson(1) multiplicity per replicate — one scan, no
    * global coordination, exactly how uncertainty is estimated over
    * data too big to resample). Each (row, replicate) weight derives
    * from the seeded `xxhash64(event_id, b)` through the exact
    * integer thresholds [[PoissonT]] (unsigned compare via the
    * sign-bit-xor map on the Spark side; the oracle replays Spark's
    * chained XXH64 in HUGEINT and compares unsigned directly — the
    * count-min / epoch-order pattern). Replicate means are exact
    * decimal sums ÷ integer weight totals; the across-replicate
    * mean/SE run as ordered folds in b order (the ANOVA/RAKE fold
    * identity), so the whole report is bit-exact.
    *
    * Scale (100 TB): one fact scan with a constant ×B in-partition
    * expansion, map-side-partial to |types|·B rows; the folds run on
    * a B-row frame per type. The classic bootstrap's n× resample I/O
    * never happens — that asymmetry is the op's reason to exist. */
  val statsBootstrap: Op = Op.sql("stats_bootstrap", {
    import SqlReplay.{stagedSql, hashLongStages}
    val staged = stagedSql(
      "SELECT event_type, CAST(\"value\" AS DECIMAL(12,2)) AS v, " +
        "CAST(event_id AS HUGEINT) AS ik, CAST(b AS HUGEINT) AS bk, b " +
        s"FROM events, unnest([${(0 until BootReps).mkString(", ")}]) AS t(b)",
      hashLongStages("ik", "42::HUGEINT", "s1") ++ hashLongStages("bk", "s1", "h"))
    val w = PoissonT.map(t => s"(CASE WHEN h >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH rep AS (
       |  SELECT event_type, b, CAST(sum(w) AS BIGINT) AS nw, sum(w * v) AS sv
       |  FROM (SELECT *, $w AS w FROM ($staged)) GROUP BY 1, 2),
       |m AS (SELECT event_type, b, CAST(sv AS DOUBLE) / nw AS m FROM rep),
       |summ AS (
       |  SELECT event_type, count(*) AS n_reps,
       |    list_reduce(list(m ORDER BY b), (a, c) -> a + c) AS sm,
       |    list_reduce(list(m * m ORDER BY b), (a, c) -> a + c) AS sm2
       |  FROM m GROUP BY 1),
       |f AS (SELECT event_type, count(*) AS n,
       |        CAST(sum(CAST("value" AS DECIMAL(12,2))) AS DOUBLE) AS svf
       |      FROM events GROUP BY 1)
       |SELECT f.event_type, f.n, round(f.svf / f.n, 6) AS mean,
       |  s.n_reps, round(s.sm / s.n_reps, 6) AS boot_mean,
       |  round(sqrt((s.sm2 - s.sm * s.sm / s.n_reps) / (s.n_reps - 1)), 6) AS boot_se
       |FROM f JOIN summ s USING (event_type)
       |ORDER BY event_type""".stripMargin
  }) { (s, dir) =>
    val ev = t(s, dir, "events")
    val gh = col("h").bitwiseXOR(lit(Long.MinValue))
    val w = PoissonT.map(tU =>
        when(gh >= lit((tU - BigInt(2).pow(63)).toLong), 1L).otherwise(0L))
      .reduce(_ + _)
    // Parallel.floor before the ×20 replicate explode (the
    // stats_permutation rule: expansion kernels pay work/row ≫
    // serialize/row, so the narrow pre-expansion exchange wins on
    // few-split layouts and is a no-op at scale)
    val rep = Parallel.floor(ev
        .select(col("event_type"), col("value").cast("decimal(12,2)").as("v"),
          col("event_id")))
      .withColumn("b", explode(typedLit((0 until BootReps).map(_.toLong))))
      .withColumn("h", xxhash64(col("event_id"), col("b")))
      .withColumn("w", w)
      .groupBy("event_type", "b")
      .agg(sum(col("w")).cast("long").as("nw"), sum(col("w") * col("v")).as("sv"))
    val m = rep.select(col("event_type"), col("b"),
      (col("sv").cast("double") / col("nw")).as("m"))
    def fold(x: Column) = aggregate(
      transform(array_sort(collect_list(struct(col("b"), x.as("x")))),
        r => r.getField("x")),
      lit(0.0), (a, c) => a + c)
    val summ = m.groupBy("event_type").agg(count(lit(1)).as("n_reps"),
      fold(col("m")).as("sm"), fold(col("m") * col("m")).as("sm2"))
    val full = ev.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(col("value").cast("decimal(12,2)")).cast("double").as("svf"))
    full.join(summ, "event_type")
      .select(col("event_type"), col("n"), round(col("svf") / col("n"), 6).as("mean"),
        col("n_reps"), round(col("sm") / col("n_reps"), 6).as("boot_mean"),
        round(sqrt((col("sm2") - col("sm") * col("sm") / col("n_reps"))
          / (col("n_reps") - 1)), 6).as("boot_se"))
      .orderBy("event_type")
  }

  /** CUPED variance reduction for the A/B experiment (round 10; Deng
    * et al. 2013 — the adjustment every experimentation platform
    * applies: a user's PRE-period activity predicts their POST-period
    * metric, so regressing it out shrinks the variance of the
    * treatment-effect estimate by corr² without biasing it). The
    * timeline splits at the epoch midpoint; per user, X = pre-period
    * value sum and Y = post-period value sum as EXACT DECIMALS (sums,
    * not means — the choice that keeps every cross-moment Σ X·Y, Σ X²
    * an exact order-free decimal; a per-user mean would put rationals
    * into the moment sums), users active in both periods only.
    * θ = cov(X,Y)/var(X) from the global moments, and the group
    * adjustment needs only GROUP-level aggregates:
    * mean_g(Y − θ(X − X̄)) = Σ_g Y/n_g − θ(Σ_g X/n_g − X̄) — so no
    * per-user float ever sums across rows; every double is computed
    * once, after the reduction, through the identical IEEE tree. One
    * row out: θ, raw vs adjusted A−B difference, and the variance
    * reduction corr²(X,Y).
    *
    * Scale (100 TB): one fact scan → user-keyed hash-agg (the
    * retention shape) → a 5-double exchange; the moments discipline
    * of stats_corr extended to the experiment-adjustment workhorse. */
  val statsCuped: Op = Op.sql("stats_cuped",
    """WITH b AS (
      |  SELECT CAST((epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS BIGINT) AS cut
      |  FROM events),
      |u AS (
      |  SELECT user_id, user_id % 2 AS grp,
      |    CAST(sum(CASE WHEN epoch_us(ts) <= cut
      |                  THEN CAST("value" AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS sx,
      |    CAST(sum(CASE WHEN epoch_us(ts) > cut
      |                  THEN CAST("value" AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS sy
      |  FROM events, b GROUP BY 1, 2
      |  HAVING count(CASE WHEN epoch_us(ts) <= cut THEN 1 END) > 0
      |     AND count(CASE WHEN epoch_us(ts) > cut THEN 1 END) > 0),
      |g AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(sx) AS DOUBLE) AS tx, CAST(sum(sy) AS DOUBLE) AS ty,
      |    CAST(sum(sx*sy) AS DOUBLE) AS txy,
      |    CAST(sum(sx*sx) AS DOUBLE) AS txx,
      |    CAST(sum(sy*sy) AS DOUBLE) AS tyy
      |  FROM u),
      |gg AS (SELECT grp, count(*) AS ng,
      |         CAST(sum(sx) AS DOUBLE) AS gx, CAST(sum(sy) AS DOUBLE) AS gy
      |       FROM u GROUP BY grp)
      |SELECT g.n AS n_users,
      |  round((g.n*g.txy - g.tx*g.ty) / (g.n*g.txx - g.tx*g.tx), 6) AS theta,
      |  round(a.gy/a.ng - c.gy/c.ng, 6) AS raw_diff,
      |  round((a.gy/a.ng - (g.n*g.txy - g.tx*g.ty) / (g.n*g.txx - g.tx*g.tx)
      |           * (a.gx/a.ng - g.tx/g.n))
      |      - (c.gy/c.ng - (g.n*g.txy - g.tx*g.ty) / (g.n*g.txx - g.tx*g.tx)
      |           * (c.gx/c.ng - g.tx/g.n)), 6) AS adj_diff,
      |  round(((g.n*g.txy - g.tx*g.ty) * (g.n*g.txy - g.tx*g.ty))
      |        / ((g.n*g.txx - g.tx*g.tx) * (g.n*g.tyy - g.ty*g.ty)), 6) AS var_reduction
      |FROM g, gg a, gg c WHERE a.grp = 0 AND c.grp = 1""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events").select(col("user_id"),
      unix_micros(col("ts")).as("tus"),
      col("value").cast("decimal(12,2)").as("v"))
    val cut = ev.agg(expr("(min(tus) + max(tus)) DIV 2")).head().getLong(0)
    val u = ev.groupBy(col("user_id"), (col("user_id") % 2).as("grp"))
      .agg(sum(when(col("tus") <= cut, col("v"))).cast("decimal(18,2)").as("sx"),
        sum(when(col("tus") > cut, col("v"))).cast("decimal(18,2)").as("sy"),
        count(when(col("tus") <= cut, 1)).as("nx"),
        count(when(col("tus") > cut, 1)).as("ny"))
      .filter(col("nx") > 0 && col("ny") > 0)
      .select("grp", "sx", "sy")
    val g = u.agg(count(lit(1)).as("n"),
      sum(col("sx")).cast("double").as("tx"), sum(col("sy")).cast("double").as("ty"),
      sum(col("sx") * col("sy")).cast("double").as("txy"),
      sum(col("sx") * col("sx")).cast("double").as("txx"),
      sum(col("sy") * col("sy")).cast("double").as("tyy"))
    val gg = u.groupBy("grp").agg(count(lit(1)).as("ng"),
      sum(col("sx")).cast("double").as("gx"), sum(col("sy")).cast("double").as("gy"))
    val a = gg.filter(col("grp") === 0)
      .select(col("ng").as("nga"), col("gx").as("gxa"), col("gy").as("gya"))
    val c = gg.filter(col("grp") === 1)
      .select(col("ng").as("ngc"), col("gx").as("gxc"), col("gy").as("gyc"))
    val theta = (col("n") * col("txy") - col("tx") * col("ty")) /
      (col("n") * col("txx") - col("tx") * col("tx"))
    g.crossJoin(broadcast(a)).crossJoin(broadcast(c))
      .select(col("n").as("n_users"),
        round(theta, 6).as("theta"),
        round(col("gya") / col("nga") - col("gyc") / col("ngc"), 6).as("raw_diff"),
        round((col("gya") / col("nga") - theta * (col("gxa") / col("nga") - col("tx") / col("n")))
          - (col("gyc") / col("ngc") - theta * (col("gxc") / col("ngc") - col("tx") / col("n"))), 6)
          .as("adj_diff"),
        round(((col("n") * col("txy") - col("tx") * col("ty"))
            * (col("n") * col("txy") - col("tx") * col("ty")))
          / ((col("n") * col("txx") - col("tx") * col("tx"))
            * (col("n") * col("tyy") - col("ty") * col("ty"))), 6)
          .as("var_reduction"))
  }

  /** SAMPLE-RATIO-MISMATCH guardrail (round 10 — the FIRST check
    * every experimentation platform runs before reading any metric: a
    * 50/50 assignment whose realized counts drift beyond chance means
    * the assignment or logging pipeline is broken and every
    * downstream result is invalid; Fabijan et al. 2019 document it as
    * the most common silent experiment killer). Per event type, the
    * realized A/B user counts (users, not events — assignment is
    * per-user) against the expected 50/50: the 1-df chi-square
    * statistic (n_a − n_b)²/(n_a + n_b) from exact integers — one
    * IEEE division — and the verdict at the exact 3.841 (α=0.05)
    * literal, an identical double comparison on both engines. Two
    * hash-aggs (distinct users, then counts) — the cheapest possible
    * plan; at 100 TB the distinct is the only corpus-sized step. */
  val statsSrm: Op = Op.sql("stats_srm",
    """WITH u AS (SELECT DISTINCT event_type, user_id, user_id % 2 AS grp FROM events),
      |c AS (SELECT event_type,
      |        count(CASE WHEN grp = 0 THEN 1 END) AS n_a,
      |        count(CASE WHEN grp = 1 THEN 1 END) AS n_b
      |      FROM u GROUP BY 1)
      |SELECT event_type, n_a, n_b,
      |  round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6) AS chi2,
      |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b) > 3.841 AS srm_flag
      |FROM c ORDER BY event_type""".stripMargin) { (s, dir) =>
    val u = t(s, dir, "events")
      .select(col("event_type"), col("user_id"), (col("user_id") % 2).as("grp"))
      .distinct()
    val chi = ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))).cast("double") /
      (col("n_a") + col("n_b"))
    u.groupBy("event_type")
      .agg(count(when(col("grp") === 0, 1)).as("n_a"),
        count(when(col("grp") === 1, 1)).as("n_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(chi, 6).as("chi2"), (chi > 3.841).as("srm_flag"))
      .orderBy("event_type")
  }

  /** WINSORIZED + TRIMMED robust means per event type (round 10 — the
    * outlier-capped metric every revenue dashboard reports: a single
    * whale order moves a raw mean for a quarter; winsorizing clamps
    * the tails at exact order statistics, trimming drops them): the
    * p5/p95 boundaries are EXACT order statistics — the value at rank
    * (5n DIV 100)+1 / n−(5n DIV 100) in (v, event_id) order, pure
    * integer rank arithmetic, no interpolation — so clamped values
    * stay exact decimals and every mean is one division of an exact
    * decimal sum. Ranks come from [[RankSelect.groupRanks]] (the
    * few-huge-groups shape: a per-type window would put corpus/|types|
    * rows on single tasks at 100 TB; the oracle's window formulation
    * is bit-identical by the pinned RankSelect equality); the
    * |types|-row boundary frame broadcasts back legitimately. */
  val statsWinsorize: Op = Op.sql("stats_winsorize",
    """WITH e AS (
      |  SELECT event_type, CAST("value" AS DECIMAL(12,2)) AS v, event_id FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rank,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |k AS (SELECT *, (5 * n) // 100 AS kcut FROM r),
      |b AS (SELECT event_type,
      |        max(CASE WHEN rank = kcut + 1 THEN v END) AS lo,
      |        max(CASE WHEN rank = n - kcut THEN v END) AS hi
      |      FROM k GROUP BY 1)
      |SELECT k.event_type, CAST(max(k.n) AS BIGINT) AS n,
      |  CAST(max(b.lo) AS DOUBLE) AS lo, CAST(max(b.hi) AS DOUBLE) AS hi,
      |  round(CAST(sum(k.v) AS DOUBLE) / max(k.n), 6) AS mean_raw,
      |  round(CAST(sum(CASE WHEN k.v < b.lo THEN b.lo
      |                      WHEN k.v > b.hi THEN b.hi ELSE k.v END) AS DOUBLE)
      |        / max(k.n), 6) AS mean_winsor,
      |  round(CAST(sum(CASE WHEN k.rank > k.kcut AND k.rank <= k.n - k.kcut
      |                      THEN k.v END) AS DOUBLE)
      |        / count(CASE WHEN k.rank > k.kcut AND k.rank <= k.n - k.kcut
      |                     THEN 1 END), 6) AS mean_trimmed
      |FROM k JOIN b USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select(col("event_type"),
      col("value").cast("decimal(12,2)").as("v"), col("event_id"))
    val ranked = RankSelect
      .groupRanks(e, "event_type", Seq(col("v"), col("event_id")))
      .withColumn("kcut", expr("(5 * n) DIV 100"))
    val b = ranked.groupBy("event_type").agg(
      max(when(col("rank") === col("kcut") + 1, col("v"))).as("lo"),
      max(when(col("rank") === col("n") - col("kcut"), col("v"))).as("hi"))
    val inTrim = col("rank") > col("kcut") && col("rank") <= col("n") - col("kcut")
    ranked.join(broadcast(b), "event_type")
      .groupBy("event_type")
      .agg(max(col("n")).cast("long").as("n"),
        max(col("lo")).cast("double").as("lo"),
        max(col("hi")).cast("double").as("hi"),
        round(sum(col("v")).cast("double") / max(col("n")), 6).as("mean_raw"),
        round(sum(when(col("v") < col("lo"), col("lo"))
            .when(col("v") > col("hi"), col("hi"))
            .otherwise(col("v"))).cast("double") / max(col("n")), 6)
          .as("mean_winsor"),
        round(sum(when(inTrim, col("v"))).cast("double") /
          count(when(inTrim, 1)), 6).as("mean_trimmed"))
      .orderBy("event_type")
  }

  /** A/B POWER ANALYSIS per event type (round 10 — the question asked
    * BEFORE the experiment the rest of the suite reads out: "how
    * small an effect could this traffic detect?" MDE at α=0.05 /
    * power 0.8 = (z_{α/2}+z_β)·√(σ²/n_a + σ²/n_b), pooled σ² from
    * the same exact moments as `stats_ttest`): per-group n and the
    * pooled variance come from ONE map-side-partial hash-agg of exact
    * decimal sums, the z constants are the standard literals
    * (1.959964, 0.841621 — fixed doubles, not transcendental calls),
    * and every float op runs once after the reduction through the
    * identical IEEE tree. Output also rates the MDE against the
    * current mean (relative MDE — the number a PM actually reads).
    * Completes the experimentation suite: srm (is the split valid) →
    * power (what can it detect) → ttest/permutation (did it move) →
    * cuped (tighter readout). */
  val statsPower: Op = Op.sql("stats_power",
    """WITH e AS (
      |  SELECT event_type, user_id % 2 AS grp,
      |    CAST("value" AS DECIMAL(12,2)) AS v
      |  FROM events),
      |m AS (SELECT event_type, grp, count(*) AS n,
      |        CAST(sum(v) AS DOUBLE) AS s, CAST(sum(v*v) AS DOUBLE) AS ss
      |      FROM e GROUP BY 1, 2),
      |ab AS (SELECT a.event_type, a.n AS n_a, b.n AS n_b,
      |         a.s AS s_a, b.s AS s_b, a.ss AS ss_a, b.ss AS ss_b
      |       FROM m a JOIN m b
      |         ON a.event_type = b.event_type AND a.grp = 0 AND b.grp = 1)
      |SELECT event_type, n_a, n_b,
      |  round(((ss_a - s_a*s_a/n_a) + (ss_b - s_b*s_b/n_b)) / (n_a + n_b - 2), 6)
      |    AS pooled_var,
      |  round((1.959964 + 0.841621)
      |    * sqrt(((ss_a - s_a*s_a/n_a) + (ss_b - s_b*s_b/n_b)) / (n_a + n_b - 2) / n_a
      |         + ((ss_a - s_a*s_a/n_a) + (ss_b - s_b*s_b/n_b)) / (n_a + n_b - 2) / n_b), 6)
      |    AS mde_abs,
      |  round((1.959964 + 0.841621)
      |    * sqrt(((ss_a - s_a*s_a/n_a) + (ss_b - s_b*s_b/n_b)) / (n_a + n_b - 2) / n_a
      |         + ((ss_a - s_a*s_a/n_a) + (ss_b - s_b*s_b/n_b)) / (n_a + n_b - 2) / n_b)
      |    / ((s_a + s_b) / (n_a + n_b)), 6) AS mde_rel
      |FROM ab ORDER BY event_type""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select(col("event_type"),
      (col("user_id") % 2).as("grp"),
      col("value").cast("decimal(12,2)").as("v"))
    val m = e.groupBy("event_type", "grp").agg(count(lit(1)).as("n"),
      sum(col("v")).cast("double").as("s"),
      sum(col("v") * col("v")).cast("double").as("ss"))
    val a = m.filter(col("grp") === 0).select(col("event_type"),
      col("n").as("n_a"), col("s").as("s_a"), col("ss").as("ss_a"))
    val b = m.filter(col("grp") === 1).select(col("event_type"),
      col("n").as("n_b"), col("s").as("s_b"), col("ss").as("ss_b"))
    val pooled = ((col("ss_a") - col("s_a") * col("s_a") / col("n_a"))
      + (col("ss_b") - col("s_b") * col("s_b") / col("n_b"))) /
      (col("n_a") + col("n_b") - 2)
    val mde = lit(1.959964 + 0.841621) *
      sqrt(pooled / col("n_a") + pooled / col("n_b"))
    a.join(b, "event_type")
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(pooled, 6).as("pooled_var"),
        round(mde, 6).as("mde_abs"),
        round(mde / ((col("s_a") + col("s_b")) / (col("n_a") + col("n_b"))), 6)
          .as("mde_rel"))
      .orderBy("event_type")
  }

  /** DISTRIBUTION-FREE CONFIDENCE INTERVAL for the median per event
    * type (the robust companion to `stats_power`'s mean-based MDE:
    * order-statistic CIs need NO tail assumption — the binomial
    * argument says the values at ranks n/2 ± z·√n/2 bracket the true
    * median with ≈95% coverage regardless of the distribution):
    * the median and both CI endpoints are EXACT order statistics —
    * values at integer ranks in (v, event_id) order, median at rank
    * (n+1) DIV 2, CI at ranks ⌊(n − 1.96·√n)/2⌋ (clamped ≥ 1) and
    * ⌈1 + (n + 1.96·√n)/2⌉ (clamped ≤ n) — the standard large-sample
    * rank formula from exact integer n through one identical IEEE
    * sqrt/mul/floor chain on both engines, so the whole report
    * hash-compares. Ranks via [[RankSelect.groupRanks]] (the
    * few-huge-groups shape, same as `stats_winsorize`; the oracle's
    * window formulation is bit-identical by the pinned RankSelect
    * equality); one |types|-row aggregate after the ranking pass. */
  val statsQuantileCi: Op = Op.sql("stats_quantile_ci",
    """WITH e AS (
      |  SELECT event_type, CAST("value" AS DECIMAL(12,2)) AS v, event_id FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rank,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |k AS (SELECT *,
      |        (n + 1) // 2 AS med_rank,
      |        greatest(1, CAST(floor((n - 1.96 * sqrt(n)) / 2) AS BIGINT)) AS lo_rank,
      |        least(n, CAST(ceil(1 + (n + 1.96 * sqrt(n)) / 2) AS BIGINT)) AS hi_rank
      |      FROM r)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |  CAST(max(CASE WHEN rank = med_rank THEN v END) AS DOUBLE) AS median,
      |  CAST(max(CASE WHEN rank = lo_rank THEN v END) AS DOUBLE) AS ci_lo,
      |  CAST(max(CASE WHEN rank = hi_rank THEN v END) AS DOUBLE) AS ci_hi,
      |  max(lo_rank) AS lo_rank, max(hi_rank) AS hi_rank
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select(col("event_type"),
      col("value").cast("decimal(12,2)").as("v"), col("event_id"))
    val ranked = RankSelect
      .groupRanks(e, "event_type", Seq(col("v"), col("event_id")))
    val nD = col("n").cast("double")
    val zr = lit(1.96) * sqrt(nD)
    val medRank = expr("(n + 1) DIV 2")
    val loRank = greatest(lit(1L), floor((nD - zr) / 2).cast("long"))
    val hiRank = least(col("n"), ceil(lit(1) + (nD + zr) / 2).cast("long"))
    ranked
      .withColumn("med_rank", medRank)
      .withColumn("lo_rank", loRank)
      .withColumn("hi_rank", hiRank)
      .groupBy("event_type")
      .agg(max(col("n")).cast("long").as("n"),
        max(when(col("rank") === col("med_rank"), col("v"))).cast("double").as("median"),
        max(when(col("rank") === col("lo_rank"), col("v"))).cast("double").as("ci_lo"),
        max(when(col("rank") === col("hi_rank"), col("v"))).cast("double").as("ci_hi"),
        max(col("lo_rank")).as("lo_rank"), max(col("hi_rank")).as("hi_rank"))
      .orderBy("event_type")
  }

  /** MANN–WHITNEY U rank-sum test of the A/B split per event type
    * (the RANK-based nonparametric member of the stats family —
    * stats_permutation re-randomizes assignments, Mann–Whitney asks
    * whether one group's values stochastically dominate, immune to
    * any monotone transform of the metric): tie-averaged ranks are
    * computed WITHOUT ranking any row — one map-side-partial
    * hash-agg to per-(type, value, group) counts, then a window over
    * that |distinct values|-sized aggregate gives each value's
    * cumulative position, and 2·avgrank = 2·min_rank + cnt − 1 keeps
    * the rank sum an exact INTEGER (DECIMAL(38,0) accumulation — a
    * doubled rank sum reaches ~2N² and overflows int64 past ~10⁹
    * rows). U, the normal approximation's mean and the tie-corrected
    * variance all derive from those exact integers through one
    * identical IEEE tree, so z hash-compares bit-exact. Scale: the
    * corpus touches ONE hash-agg; everything after runs on
    * aggregate-sized frames (the sanctioned |distinct values| window
    * class). */
  val statsMannWhitney: Op = Op.sql("stats_mannwhitney",
    """WITH e AS (
      |  SELECT event_type, user_id % 2 AS grp,
      |    CAST("value" AS DECIMAL(12,2)) AS v FROM events),
      |pv AS (
      |  SELECT event_type, v,
      |    count(CASE WHEN grp = 0 THEN 1 END) AS ca,
      |    count(CASE WHEN grp = 1 THEN 1 END) AS cb
      |  FROM e GROUP BY 1, 2),
      |rk AS (
      |  SELECT event_type, v, ca, cb, ca + cb AS cnt,
      |    sum(ca + cb) OVER (PARTITION BY event_type ORDER BY v) AS cum
      |  FROM pv),
      |ag AS (
      |  SELECT event_type,
      |    CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
      |    sum(CAST(ca AS HUGEINT) * (2 * (cum - cnt + 1) + cnt - 1)) AS r2a,
      |    sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS t3t
      |  FROM rk GROUP BY 1)
      |-- wide-int → DOUBLE via VARCHAR (the stats_acf/stats_cusum rule,
      |-- ADVICE r8): DuckDB's direct HUGEINT cast truncates instead of
      |-- rounding; Spark's decimal→double is correctly rounded, so past
      |-- 2^53 the engines would diverge on the last bit without this.
      |SELECT event_type, n_a, n_b,
      |  CAST(CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS VARCHAR) AS DOUBLE) / 2 AS u,
      |  round((CAST(CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS VARCHAR) AS DOUBLE) / 2
      |         - CAST(n_a * n_b AS DOUBLE) / 2)
      |    / sqrt(CAST(n_a * n_b AS DOUBLE) / 12
      |        * (CAST(n_a + n_b + 1 AS DOUBLE)
      |           - CAST(CAST(t3t AS VARCHAR) AS DOUBLE)
      |             / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))), 6) AS z
      |FROM ag ORDER BY event_type""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "events").select(col("event_type"),
      (col("user_id") % 2).as("grp"),
      col("value").cast("decimal(12,2)").as("v"))
    val pv = e.groupBy("event_type", "v").agg(
      count(when(col("grp") === 0, 1)).as("ca"),
      count(when(col("grp") === 1, 1)).as("cb"))
    val rk = pv
      .withColumn("cnt", col("ca") + col("cb"))
      .withColumn("cum", sum(col("ca") + col("cb")).over(
        Window.partitionBy("event_type").orderBy("v")))
    val ag = rk.groupBy("event_type").agg(
      sum(col("ca")).cast("long").as("n_a"),
      sum(col("cb")).cast("long").as("n_b"),
      sum(col("ca").cast("decimal(38,0)") *
        (lit(2) * (col("cum") - col("cnt") + 1) + col("cnt") - 1)).as("r2a"),
      sum(col("cnt").cast("decimal(38,0)") * col("cnt") * col("cnt") - col("cnt"))
        .as("t3t"))
    val u = (col("r2a") - col("n_a").cast("decimal(38,0)") * (col("n_a") + lit(1)))
      .cast("double") / 2
    val mu = (col("n_a") * col("n_b")).cast("double") / 2
    val nTot = col("n_a") + col("n_b")
    val sig2 = (col("n_a") * col("n_b")).cast("double") / 12 *
      ((nTot + 1).cast("double") -
        col("t3t").cast("double") / (nTot * (nTot - 1)).cast("double"))
    ag.select(col("event_type"), col("n_a"), col("n_b"),
        u.as("u"), round((u - mu) / sqrt(sig2), 6).as("z"))
      .orderBy("event_type")
  }

  val PermReps = 49

  /** MONTE-CARLO PERMUTATION TEST of the A/B mean difference per
    * event type (round 10 — the NONPARAMETRIC companion to
    * `stats_ttest`: the t-test's p-value assumes normal-ish tails,
    * the randomization test earns its p-value by re-running the
    * experiment under the null, and at scale the random-REASSIGNMENT
    * variant is the standard because an exact permutation needs a
    * global shuffle per replicate): each of [[PermReps]] permutations
    * reassigns every USER a group by bit 0 of the seeded
    * `xxhash64(user_id, 7000+b)` (Spark tests the bit with `& 1` —
    * a signed `%` would differ on negative hashes; the oracle's
    * replayed HUGEINT is unsigned so `% 2` is the same bit), the
    * per-(type, perm) mean difference comes from exact decimal sums
    * with ONE division per group, and the p-value is the add-one rule
    * (1 + #{|d_b| ≥ |d_obs|}) / (B + 1) — integer counts from
    * identical IEEE comparisons, so the whole report is bit-exact.
    *
    * Scale (100 TB): one fact scan with a constant ×B in-partition
    * expansion, map-side-partial to |types|·B rows — the same
    * Poisson-bootstrap shape; nothing re-shuffles per permutation,
    * which is exactly why the Monte-Carlo variant is the one that
    * runs at scale. */
  /** GINI CONCENTRATION per event type (the inequality metric a data
    * platform reads for revenue/volume concentration — "do five
    * whales carry this metric"; for a training corpus the same
    * number over doc lengths per source is the mixture-skew
    * warning): G = Σᵢ(2i−n−1)·x₍ᵢ₎ / (n·Σx) over ascending exact
    * ranks — the numerator is a DECIMAL sum of integer-coefficient
    * products (tie-runs are coefficient-sum invariant, so ties
    * cannot destabilize it), the denominator exact, ONE double
    * division at the end. Ranks via [[RankSelect.groupRanks]]
    * (few-huge-groups shape, the winsorize/quantile_ci discipline);
    * one |types|-row aggregate after the ranking pass. */
  val statsGini: Op = Op.sql("stats_gini",
    """WITH e AS (
      |  SELECT event_type, CAST("value" AS DECIMAL(12,2)) AS v, event_id FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rank,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM e)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |  CAST(sum(v) AS DOUBLE) AS sum_v,
      |  round(CAST(CAST(sum((2 * rank - n - 1) * v) AS VARCHAR) AS DOUBLE)
      |        / (CAST(max(n) AS DOUBLE) * CAST(sum(v) AS DOUBLE)), 6) AS gini
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select(col("event_type"),
      col("value").cast("decimal(12,2)").as("v"), col("event_id"))
    val ranked = RankSelect
      .groupRanks(e, "event_type", Seq(col("v"), col("event_id")))
    ranked.groupBy("event_type")
      .agg(max(col("n")).cast("long").as("n"),
        sum(col("v")).cast("double").as("sum_v"),
        round(sum((lit(2) * col("rank") - col("n") - 1) * col("v")).cast("double") /
          (max(col("n")).cast("double") * sum(col("v")).cast("double")), 6)
          .as("gini"))
      .orderBy("event_type")
  }

  /** DEGREE DISTRIBUTION of the order–supplier graph (the
    * observability stat read before every graph job: a power-law
    * tail means hub nodes, which is exactly when the bipartite
    * projection's C(k,2) blowup and join skew bite — this report is
    * the sizing input for those guards): per log₂ bucket
    * (bucket = len(bin(deg))−1 — pure integer/string arithmetic,
    * NOT floor(log2(·)) whose last-ulp rounding differs across
    * engines at boundaries), the node count, degree range and
    * share. Distinct-edge hash-agg → endpoint explode → per-node
    * count → ≤64-row bucket aggregate; every shuffle keyed, output
    * bounded by 64 buckets at ANY scale. */
  val graphDegreeDist: Op = Op.sql("graph_degree_dist",
    """WITH g AS (SELECT DISTINCT l_orderkey AS u, 1000000000 + l_suppkey AS v
      |           FROM lineitem),
      |d AS (SELECT n, count(*) AS deg
      |      FROM (SELECT u AS n FROM g UNION ALL SELECT v AS n FROM g) GROUP BY n),
      |b AS (SELECT length(bin(deg)) - 1 AS bucket, deg FROM d),
      |tot AS (SELECT count(*) AS nn FROM d)
      |SELECT bucket, count(*) AS n_nodes,
      |  min(deg) AS min_deg, max(deg) AS max_deg,
      |  round(CAST(count(*) AS DOUBLE) / max(nn), 6) AS share
      |FROM b, tot GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    val g = t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("u"),
        (lit(1000000000L) + col("l_suppkey")).cast("long").as("v"))
      .distinct()
    val d = g.select(col("u").as("n")).unionAll(g.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val tot = d.agg(count(lit(1)).as("nn"))
    d.select((length(bin(col("deg"))) - 1).cast("long").as("bucket"), col("deg"))
      .crossJoin(broadcast(tot))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"),
        round(count(lit(1)).cast("double") / max(col("nn")), 6).as("share"))
      .orderBy("bucket")
  }

  /** First-significant-digit profile vs Benford's law — factored on
    * the raw value frame so the spec can plant a conforming/flat
    * sample. The digit comes from the exact cents INTEGER rendered to
    * a string (identical across engines), never from log10/pow on the
    * double (whose last-ulp rounding at exact powers of ten is
    * engine-specific — the graph_degree_dist bin() argument); the
    * nine log₁₀(1+1/d) expectations are fixed double LITERALS (no
    * transcendental calls at query time), and every chi² contribution
    * is one identical IEEE tree from exact integer counts. */
  private[graft] def benfordReport(values: DataFrame): DataFrame = {
    val s = values.sparkSession
    import s.implicits._
    val benfordP = Seq(0.3010299956639812, 0.17609125905568124,
      0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
      0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
      0.04575749056067514)
    val cents = values
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .filter(col("c") >= 1)
    val counts = cents
      .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = cents.agg(count(lit(1)).as("nn"))
    val p = element_at(array(benfordP.map(lit): _*), col("digit").cast("int"))
    (1L to 9L).toDF("digit")
      .join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        // nullif guard: an empty corpus reports NULL shares instead of
        // an ANSI divide-by-zero; for any non-empty corpus the CASE
        // collapses and the division tree is byte-identical
        (col("n").cast("double") /
          when(col("nn") === 0, lit(null)).otherwise(col("nn"))).as("share"),
        p.as("benford_p"),
        (((col("n") - col("nn") * p) * (col("n") - col("nn") * p)) /
          when(col("nn") === 0, lit(null)).otherwise(col("nn") * p))
          .as("chi2_part"))
      .orderBy("digit")
  }

  /** BENFORD FIRST-DIGIT screen over event values (round 12 — the
    * classic fabricated-data / instrumentation-bug smell test:
    * organically-generated magnitudes follow log₁₀(1+1/d); a flat or
    * spiked digit profile means synthetic padding, unit confusion or
    * a capped sensor. The per-digit chi² contributions localize WHICH
    * digit deviates): one corpus scan to exact cents, one 9-row
    * hash-agg, a broadcast one-row total — nothing here grows with
    * data beyond the single scan. */
  val statsBenford: Op = Op.sql("stats_benford",
    """WITH c AS (
      |  SELECT CAST(floor("value" * 100 + 0.5) AS BIGINT) AS c FROM events
      |  WHERE floor("value" * 100 + 0.5) >= 1),
      |cnt AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |        count(*) AS n FROM c GROUP BY 1),
      |tot AS (SELECT count(*) AS nn FROM c),
      |dig AS (SELECT range AS digit,
      |  CASE range WHEN 1 THEN CAST(0.3010299956639812 AS DOUBLE)
      |             WHEN 2 THEN CAST(0.17609125905568124 AS DOUBLE)
      |             WHEN 3 THEN CAST(0.12493873660829992 AS DOUBLE)
      |             WHEN 4 THEN CAST(0.09691001300805642 AS DOUBLE)
      |             WHEN 5 THEN CAST(0.07918124604762482 AS DOUBLE)
      |             WHEN 6 THEN CAST(0.06694678963061322 AS DOUBLE)
      |             WHEN 7 THEN CAST(0.05799194697768673 AS DOUBLE)
      |             WHEN 8 THEN CAST(0.05115252244738129 AS DOUBLE)
      |             ELSE CAST(0.04575749056067514 AS DOUBLE) END AS p
      |  FROM range(1, 10)),
      |r AS (SELECT digit, coalesce(cnt.n, 0) AS n, p FROM dig
      |      LEFT JOIN cnt USING (digit))
      |SELECT digit, n, CAST(n AS DOUBLE) / nn AS share, p AS benford_p,
      |  ((n - nn * p) * (n - nn * p)) / (nn * p) AS chi2_part
      |FROM r, tot ORDER BY digit""".stripMargin) { (s, dir) =>
    benfordReport(t(s, dir, "events").select(col("value")))
  }

  /** Assortativity core over an undirected (u, v) edge frame —
    * factored so the spec can plant a star (r = −1) and recompute
    * sequentially. Degrees join back to the DIRECTED edge list (both
    * orientations — Newman's M⁻¹Σ forms over edge ends), moments are
    * exact integer sums (DECIMAL-cast factors, the stats_corr
    * discipline), and r is one identical IEEE tree from exact inputs.
    * Both degree joins are corpus-proportional, so shuffle-hash is
    * pinned — a broadcast of the degree table cannot exist at 100 TB. */
  private[graft] def assortativityOf(g: DataFrame): DataFrame = {
    val d = g.select(col("u").as("n")).unionAll(g.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val dir = g.select(col("u").as("x"), col("v").as("y"))
      .unionAll(g.select(col("v").as("x"), col("u").as("y")))
    val j = dir
      .join(d.hint("shuffle_hash").withColumnRenamed("n", "x")
        .withColumnRenamed("deg", "jd"), Seq("x"))
      .join(d.hint("shuffle_hash").withColumnRenamed("n", "y")
        .withColumnRenamed("deg", "kd"), Seq("y"))
    val m = j.agg(
      count(lit(1)).cast("double").as("m2"),
      sum(col("jd").cast("decimal(18,0)") * col("kd")).cast("double").as("sjk"),
      sum(col("jd").cast("decimal(18,0)")).cast("double").as("sj"),
      sum(col("jd").cast("decimal(18,0)") * col("jd")).cast("double").as("sj2"))
    val counts = d.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(g.agg(count(lit(1)).as("n_edges")))
    counts.crossJoin(m).select(col("n_nodes"), col("n_edges"),
      ((col("sjk") / col("m2") - (col("sj") / col("m2")) * (col("sj") / col("m2"))) /
        (col("sj2") / col("m2") - (col("sj") / col("m2")) * (col("sj") / col("m2"))))
        .as("assortativity"))
  }

  /** DEGREE ASSORTATIVITY of the order–supplier graph (round 12 —
    * the second number a platform reads after graph_degree_dist's
    * histogram: do high-degree nodes attach to each other (r>0,
    * skew compounds in joins) or to leaves (r<0, hub-and-spoke —
    * salting the hubs suffices)? Newman 2002's degree correlation):
    * Pearson correlation of (deg(x), deg(y)) over DIRECTED edge ends.
    * One distinct-edge hash-agg, one degree agg, two keyed
    * shuffle-hash joins of the edge list, a ONE-row moment exchange —
    * the stats_corr shape on graph data. */
  val graphAssortativity: Op = Op.sql("graph_assortativity",
    """WITH g AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS u, 1000000000 + l_suppkey AS v
      |  FROM lineitem),
      |d AS MATERIALIZED (
      |  SELECT n, count(*) AS deg
      |  FROM (SELECT u AS n FROM g UNION ALL SELECT v AS n FROM g) GROUP BY n),
      |dir AS (SELECT u AS x, v AS y FROM g UNION ALL SELECT v, u FROM g),
      |j AS (SELECT dx.deg AS jd, dy.deg AS kd
      |      FROM dir JOIN d dx ON dir.x = dx.n JOIN d dy ON dir.y = dy.n),
      |m AS (SELECT CAST(count(*) AS DOUBLE) AS m2,
      |       CAST(sum(CAST(jd AS DECIMAL(18,0)) * kd) AS DOUBLE) AS sjk,
      |       CAST(sum(CAST(jd AS DECIMAL(18,0))) AS DOUBLE) AS sj,
      |       CAST(sum(CAST(jd AS DECIMAL(18,0)) * jd) AS DOUBLE) AS sj2
      |      FROM j)
      |SELECT (SELECT count(*) FROM d) AS n_nodes,
      |  (SELECT count(*) FROM g) AS n_edges,
      |  (sjk / m2 - (sj / m2) * (sj / m2)) /
      |    (sj2 / m2 - (sj / m2) * (sj / m2)) AS assortativity
      |FROM m""".stripMargin) { (s, dir) =>
    assortativityOf(t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("u"),
        (lit(1000000000L) + col("l_suppkey")).cast("long").as("v"))
      .distinct())
  }

  /** CUSUM core over a raw events frame — factored so the spec can
    * plant a known mean shift. Bucket the stream hourly, then the
    * scaled CUSUM statistic T_k = N·CumS_k − CumN_k·S over the
    * per-type bucket series: every term an exact integer (cents via
    * the kv_merge_operator floor(v·100+0.5) discipline, DECIMAL(18,0)
    * factors so the product stays inside DECIMAL(38,0) on BOTH
    * engines — at ≳10¹⁸ rows×cents move the factors to (38,0) and
    * accept HUGEINT on the oracle side), so argmax and tie-break
    * (earliest bucket) are exact comparisons, never float. */
  private[graft] def cusumReport(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .select(col("event_type"), unix_micros(col("w.start")).as("bucket"),
        col("cnt"), col("cents"))
    val win = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ser = b
      .withColumn("cn", sum(col("cnt")).over(win).cast("decimal(18,0)"))
      .withColumn("cs", sum(col("cents")).over(win).cast("decimal(18,0)"))
    val tot = b.groupBy("event_type").agg(
      sum(col("cnt")).cast("decimal(18,0)").as("n"),
      sum(col("cents")).cast("decimal(18,0)").as("s_tot"),
      count(lit(1)).as("nb"))
    val tt = ser.join(tot, "event_type")
      .select(col("event_type"), col("bucket"),
        abs(col("n") * col("cs") - col("cn") * col("s_tot")).as("a"),
        col("n"), col("nb"))
    val mx = tt.groupBy("event_type").agg(max(col("a")).as("m"))
    tt.join(mx, Seq("event_type"))
      .filter(col("a") === col("m"))
      .groupBy("event_type")
      .agg(max(col("nb")).cast("long").as("n_buckets"),
        max(col("n")).cast("long").as("n_events"),
        min(col("bucket")).as("cp_bucket"),
        max(col("a")).cast("double").as("cusum_stat"))
      .orderBy("event_type")
  }

  /** GROUP-SEQUENTIAL A/B test per event type (round 12 — the missing
    * member of the experimentation suite: srm (is the split valid) →
    * power (what can it detect) → THIS (peek safely while it runs) →
    * ttest/permutation (final read) → cuped (tighter) → fdr (many
    * metrics). Peeking at a fixed-α test inflates false positives;
    * O'Brien–Fleming spending makes three interim looks safe by
    * demanding more evidence early): looks = seq terciles (cumulative
    * data), Welch z from the SAME exact decimal moments as
    * stats_ttest (identical left-associated SE tree), two-sided OBF
    * boundaries for 3 equal-spaced looks at α=0.05 as fixed double
    * LITERALS (3.471 / 2.454 / 2.004 — no normal-quantile calls at
    * query time); crossed compares the UNROUNDED z, stop_here flags
    * the first crossing look. Cumulative moments come from a window
    * over the \|types\|×2×3 aggregate; oracle casts the wide decimal
    * sums on the VARCHAR path (§5 wide-integer rule). */
  val statsSequential: Op = Op.sql("stats_sequential",
    """WITH e AS (
      |  SELECT event_type, user_id % 2 AS grp, event_id AS seq,
      |    CAST("value" AS DECIMAL(12,2)) AS v
      |  FROM events),
      |mx AS (SELECT max(seq) AS m FROM e),
      |band AS (
      |  SELECT event_type, grp,
      |    1 + CAST(seq > m // 3 AS INT) + CAST(seq > (m * 2) // 3 AS INT) AS look,
      |    v
      |  FROM e, mx),
      |pm AS (SELECT event_type, grp, look, count(*) AS n, sum(v) AS s,
      |         sum(v * v) AS ss
      |       FROM band GROUP BY 1, 2, 3),
      |cm AS (SELECT event_type, grp, look,
      |        CAST(sum(n) OVER w AS BIGINT) AS cn,
      |        CAST(CAST(sum(s) OVER w AS VARCHAR) AS DOUBLE) AS cs,
      |        CAST(CAST(sum(ss) OVER w AS VARCHAR) AS DOUBLE) AS css
      |       FROM pm WINDOW w AS (PARTITION BY event_type, grp ORDER BY look
      |                            ROWS UNBOUNDED PRECEDING)),
      |ab AS (SELECT a.event_type, a.look, a.cn AS n_a, b.cn AS n_b,
      |         a.cs AS s_a, b.cs AS s_b, a.css AS ss_a, b.css AS ss_b
      |       FROM cm a JOIN cm b ON a.event_type = b.event_type
      |         AND a.look = b.look AND a.grp = 0 AND b.grp = 1),
      |z AS (SELECT event_type, look, n_a, n_b,
      |       (s_a/n_a - s_b/n_b) /
      |         sqrt((ss_a - s_a*s_a/n_a)/(n_a-1)/n_a
      |              + (ss_b - s_b*s_b/n_b)/(n_b-1)/n_b) AS zr,
      |       CASE look WHEN 1 THEN CAST(3.471 AS DOUBLE)
      |                 WHEN 2 THEN CAST(2.454 AS DOUBLE)
      |                 ELSE CAST(2.004 AS DOUBLE) END AS bound
      |      FROM ab),
      |c AS (SELECT *, abs(zr) > bound AS crossed FROM z),
      |f AS (SELECT event_type, min(CASE WHEN crossed THEN look END) AS fl
      |      FROM c GROUP BY 1)
      |SELECT c.event_type, CAST(look AS BIGINT) AS look, n_a, n_b,
      |  round(zr, 4) AS z, bound, crossed,
      |  coalesce(crossed AND look = f.fl, false) AS stop_here
      |FROM c JOIN f ON f.event_type = c.event_type
      |ORDER BY c.event_type, look""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select(col("event_type"),
      (col("user_id") % 2).as("grp"), col("event_id").as("seq"),
      col("value").cast("decimal(12,2)").as("v"))
    val m = e.agg(max("seq")).head().getLong(0)
    val band = e.withColumn("look",
      lit(1) + (col("seq") > m / 3).cast("int") +
        (col("seq") > m * 2 / 3).cast("int"))
    val pm = band.groupBy("event_type", "grp", "look")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(col("v") * col("v")).as("ss"))
    val w = Window.partitionBy("event_type", "grp").orderBy("look")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cm = pm.select(col("event_type"), col("grp"), col("look"),
      sum("n").over(w).cast("long").as("cn"),
      sum("s").over(w).cast("double").as("cs"),
      sum("ss").over(w).cast("double").as("css"))
    val a = cm.filter(col("grp") === 0).select(col("event_type"), col("look"),
      col("cn").as("n_a"), col("cs").as("s_a"), col("css").as("ss_a"))
    val b = cm.filter(col("grp") === 1).select(col("event_type"),
      col("look").as("lb"), col("cn").as("n_b"), col("cs").as("s_b"),
      col("css").as("ss_b"))
    val sea = (col("ss_a") - col("s_a") * col("s_a") / col("n_a")) /
      (col("n_a") - 1) / col("n_a")
    val seb = (col("ss_b") - col("s_b") * col("s_b") / col("n_b")) /
      (col("n_b") - 1) / col("n_b")
    val z = a.join(b, a("event_type") === b("event_type") && col("look") === col("lb"))
      .select(a("event_type").as("event_type"), col("look").cast("long").as("look"),
        col("n_a"), col("n_b"),
        ((col("s_a") / col("n_a") - col("s_b") / col("n_b")) /
          sqrt(sea + seb)).as("zr"),
        when(col("look") === 1, 3.471).when(col("look") === 2, 2.454)
          .otherwise(2.004).as("bound"))
      .withColumn("crossed", abs(col("zr")) > col("bound"))
    val f = z.groupBy("event_type")
      .agg(min(when(col("crossed"), col("look"))).as("fl"))
    z.join(broadcast(f), "event_type")
      .select(col("event_type"), col("look"), col("n_a"), col("n_b"),
        round(col("zr"), 4).as("z"), col("bound"), col("crossed"),
        coalesce(col("crossed") && col("look") === col("fl"), lit(false))
          .as("stop_here"))
      .orderBy("event_type", "look")
  }

  /** HOUR-OF-DAY SEASONALITY profile per event type (round 12 — the
    * WHY under stats_forecast_backtest's daily-naive baseline: the
    * seasonality index says how much of the series is explained by
    * time-of-day alone, and which hours carry the load — the shape
    * every capacity plan and anomaly baseline starts from): per
    * (type, hour 0..23), the event share and the index
    * mean_h / mean_overall expressed as the exact-integer cross ratio
    * (cents_h·N)/(n_h·S) — ONE IEEE division of via-VARCHAR-cast
    * exact products (the §5 wide-integer rule). One hash-agg to the
    * \|types\|×24 frame, a broadcast totals join — nothing else
    * touches the corpus. */
  val statsSeasonality: Op = Op.sql("stats_seasonality",
    """WITH h AS (
      |  SELECT event_type, hour(ts) AS hod, count(*) AS n,
      |    sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS cents
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(n) AS nn, sum(cents) AS s
      |        FROM h GROUP BY 1)
      |SELECT h.event_type, CAST(hod AS BIGINT) AS hod, n,
      |  CAST(n AS DOUBLE) / nn AS share,
      |  CAST(CAST(CAST(cents AS DECIMAL(18,0)) * nn AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(CAST(n AS DECIMAL(18,0)) * s AS VARCHAR) AS DOUBLE)
      |    AS idx
      |FROM h JOIN tot ON tot.event_type = h.event_type
      |ORDER BY h.event_type, hod""".stripMargin) { (s, dir) =>
    val h = t(s, dir, "events")
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val tot = h.groupBy("event_type")
      .agg(sum("n").as("nn"), sum("cents").as("s"))
    h.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("hod"), col("n"),
        (col("n").cast("double") / col("nn")).as("share"),
        ((col("cents").cast("decimal(18,0)") * col("nn")).cast("double") /
          (col("n").cast("decimal(18,0)") * col("s")).cast("double")).as("idx"))
      .orderBy("event_type", "hod")
  }

  /** Seasonal-naive backtest core — factored so the spec can plant a
    * perfectly periodic series (MAE must be exactly 0) and a shifted
    * one. Forecast for hour-bucket t is the observed value at
    * t − 24 h; scored on the last quarter of each type's bucket
    * range. Errors stay exact integer cents; MAE/bias/RMSE are one
    * IEEE division (and one IEEE sqrt — correctly rounded on both
    * engines) from exact sums, with the wide-decimal→double casts on
    * the VARCHAR path (the stats_acf DuckDB truncation lesson). */
  private[graft] def forecastBacktest(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val b = events
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .select(col("event_type"), unix_micros(col("w.start")).as("bucket"),
        col("cents"))
    // integer DIV, matching the oracle's `// 4` (ADVICE r8): the old
    // double `/ 4` + long-cast only agreed because hourly epoch-micros
    // happen to be divisible by 4 and below 2^53 — a fragile implicit
    // invariant if the bucket width or time unit ever changes.
    val rng = b.groupBy("event_type")
      .agg(expr("max(bucket) - (max(bucket) - min(bucket)) DIV 4").as("cut"))
    val f = b.select(col("event_type").as("fty"),
      col("bucket").as("fb"), col("cents").as("fc"))
    b.join(f.hint("shuffle_hash"),
        col("fty") === col("event_type") && col("fb") === col("bucket") - dayUs)
      .join(broadcast(rng), "event_type")
      .filter(col("bucket") > col("cut"))
      .withColumn("e", (col("cents") - col("fc")).cast("decimal(18,0)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        (sum(abs(col("e"))).cast("double") / count(lit(1))).as("mae_cents"),
        (sum(col("e")).cast("double") / count(lit(1))).as("bias_cents"),
        sqrt(sum(col("e") * col("e")).cast("double") / count(lit(1)))
          .as("rmse_cents"))
      .orderBy("event_type")
  }

  /** SEASONAL-NAIVE FORECAST BACKTEST per event type (round 12 — the
    * baseline every forecasting system must beat before it exists:
    * "tomorrow looks like yesterday" at daily seasonality, scored on
    * the held-out last quarter of the series. The stats_cusum/acf
    * companions say the series shifted and how it correlates; this
    * says how PREDICTABLE it is at the daily period, which is the
    * go/no-go for investing in a real model): per type, one bucket
    * hash-agg, a keyed self-join on bucket−24h over the bounded
    * bucket frame, a broadcast range join for the holdout cut, one
    * aggregate — nothing beyond the scan grows with data. */
  val statsForecastBacktest: Op = Op.sql("stats_forecast_backtest",
    """WITH b AS MATERIALIZED (
      |  SELECT event_type, epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS bucket,
      |    sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS cents
      |  FROM events GROUP BY 1, 2),
      |rng AS (SELECT event_type,
      |    CAST(max(bucket) - (max(bucket) - min(bucket)) // 4 AS BIGINT) AS cut
      |  FROM b GROUP BY 1),
      |sc AS (
      |  SELECT a.event_type,
      |    CAST(a.cents - f.cents AS DECIMAL(18,0)) AS e
      |  FROM b a
      |  JOIN b f ON f.event_type = a.event_type
      |          AND f.bucket = a.bucket - 86400000000
      |  JOIN rng r ON r.event_type = a.event_type AND a.bucket > r.cut)
      |SELECT event_type, count(*) AS n_scored,
      |  CAST(CAST(sum(abs(e)) AS VARCHAR) AS DOUBLE) / count(*) AS mae_cents,
      |  CAST(CAST(sum(e) AS VARCHAR) AS DOUBLE) / count(*) AS bias_cents,
      |  sqrt(CAST(CAST(sum(e * e) AS VARCHAR) AS DOUBLE) / count(*))
      |    AS rmse_cents
      |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    forecastBacktest(t(s, dir, "events"))
  }

  /** ACF core — factored so the spec can plant an alternating series.
    * Deviations are integerized by multiplying through by n (the
    * stats_gini/cusum trick): dev_t = n·x_t − S is an exact integer,
    * r_k = Σdev_t·dev_{t+k} / Σdev_t² cancels the n² scale, so the
    * only float op is the final division. dev fits DECIMAL(18,0) up
    * to ~10¹⁸ (n·cents per bucket) — beyond that widen the cast and
    * accept HUGEINT on the oracle side. */
  private[graft] def acfReport(events: DataFrame, maxLag: Int): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val b = events
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .select(col("event_type"), unix_micros(col("w.start")).as("bucket"),
        col("cents"))
    val ser = b.withColumn("idx",
      row_number().over(Window.partitionBy("event_type").orderBy("bucket")))
    val tot = ser.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))
    val d = ser.join(tot, "event_type")
      .select(col("event_type"), col("idx"),
        (col("n").cast("decimal(18,0)") * col("cents") -
          col("s").cast("decimal(18,0)")).cast("decimal(18,0)").as("dev"))
    val den = d.groupBy("event_type")
      .agg(sum(col("dev") * col("dev")).as("dd"))
    val lags = (1 to maxLag).toDF("lag")
    val a = d.select(col("event_type"), col("idx"), col("dev").as("da"))
      .crossJoin(broadcast(lags))
    val b2 = d.select(col("event_type").as("bty"), col("idx").as("bidx"),
      col("dev").as("db"))
    val num = a.join(b2,
      col("bty") === col("event_type") && col("bidx") === col("idx") + col("lag"))
      .groupBy(col("event_type"), col("lag"))
      .agg(sum(col("da") * col("db")).as("nn"), count(lit(1)).as("n_pairs"))
    num.join(den, "event_type")
      .select(col("event_type"), col("lag").cast("long").as("lag"),
        col("n_pairs"),
        (col("nn").cast("double") / col("dd").cast("double")).as("acf"))
      .orderBy("event_type", "lag")
  }

  /** AUTOCORRELATION FUNCTION per event type (round 12 — the tool
    * read right after stats_cusum: CUSUM says the level SHIFTED, the
    * ACF says whether the series is momentum-driven, mean-reverting
    * or periodic — the input to every seasonality/forecast decision):
    * Box–Jenkins r_k at lags 1..6 over the hourly bucket sums, full-
    * series mean and denominator. Everything after the bucket agg
    * runs on the \|types\|×\|buckets\| frame (ranked by ONE bounded
    * window, lag pairs via keyed equi-join on idx+k — never a window
    * over raw events); exact integer moments into one IEEE division.
    * The oracle's decimal→double casts go THROUGH VARCHAR: DuckDB's
    * direct wide-DECIMAL→DOUBLE cast TRUNCATES the int128 instead of
    * rounding to nearest (measured round 12: −11491637266516374 →
    * …372e16 direct, …374e16 via string = Java/Python's correctly
    * rounded value), so any oracle casting an exact integer above
    * 2⁵³ must take the string path to match Spark's BigDecimal. */
  val statsAcf: Op = Op.sql("stats_acf",
    """WITH b AS MATERIALIZED (
      |  SELECT event_type, epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS bucket,
      |    sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS cents
      |  FROM events GROUP BY 1, 2),
      |ser AS MATERIALIZED (
      |  SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS idx
      |  FROM b),
      |tot AS (SELECT event_type, count(*) AS n, sum(cents) AS s
      |        FROM ser GROUP BY 1),
      |d AS MATERIALIZED (
      |  SELECT ser.event_type, idx,
      |    CAST(CAST(tot.n AS DECIMAL(18,0)) * cents
      |         - CAST(tot.s AS DECIMAL(18,0)) AS DECIMAL(18,0)) AS dev
      |  FROM ser JOIN tot USING (event_type)),
      |den AS (SELECT event_type, sum(dev * dev) AS dd FROM d GROUP BY 1),
      |lags AS (SELECT range + 1 AS lag FROM range(6)),
      |num AS (
      |  SELECT a.event_type, l.lag, sum(a.dev * b2.dev) AS nn,
      |    count(*) AS n_pairs
      |  FROM d a CROSS JOIN lags l JOIN d b2
      |    ON b2.event_type = a.event_type AND b2.idx = a.idx + l.lag
      |  GROUP BY 1, 2)
      |SELECT num.event_type, CAST(num.lag AS BIGINT) AS lag, num.n_pairs,
      |  CAST(CAST(num.nn AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(den.dd AS VARCHAR) AS DOUBLE) AS acf
      |FROM num JOIN den USING (event_type)
      |ORDER BY event_type, lag""".stripMargin) { (s, dir) =>
    acfReport(t(s, dir, "events"), 6)
  }

  /** CUSUM CHANGEPOINT detection per event type (the drift-LOCATION
    * question stats_drift/stream_drift cannot answer — they say the
    * distribution moved, CUSUM says WHEN): the classic max-|CUSUM|
    * scan statistic over the hourly bucket series, reported as the
    * earliest bucket attaining the maximum. Bucketing first is what
    * makes it scale — the prefix-sum window runs over the \|types\|×
    * \|buckets\| AGGREGATE (the sanctioned window-over-aggregate
    * class), never over raw events, and detection granularity is the
    * bucket, which is the honest contract at 100 TB. */
  val statsCusum: Op = Op.sql("stats_cusum",
    """WITH b AS MATERIALIZED (
      |  SELECT event_type, epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS bucket,
      |    count(*) AS cnt,
      |    sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS cents
      |  FROM events GROUP BY 1, 2),
      |ser AS (
      |  SELECT event_type, bucket,
      |    CAST(sum(cnt) OVER w AS DECIMAL(18,0)) AS cn,
      |    CAST(sum(cents) OVER w AS DECIMAL(18,0)) AS cs
      |  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket
      |                      ROWS UNBOUNDED PRECEDING)),
      |tot AS (
      |  SELECT event_type, CAST(sum(cnt) AS DECIMAL(18,0)) AS n,
      |    CAST(sum(cents) AS DECIMAL(18,0)) AS s_tot, count(*) AS nb
      |  FROM b GROUP BY 1),
      |tt AS (
      |  SELECT ser.event_type, bucket, abs(tot.n * cs - cn * tot.s_tot) AS a,
      |    tot.n, tot.nb
      |  FROM ser JOIN tot USING (event_type)),
      |mx AS (SELECT event_type, max(a) AS m FROM tt GROUP BY 1)
      |SELECT tt.event_type, CAST(max(tt.nb) AS BIGINT) AS n_buckets,
      |  CAST(max(tt.n) AS BIGINT) AS n_events,
      |  min(bucket) AS cp_bucket,
      |  CAST(CAST(max(tt.a) AS VARCHAR) AS DOUBLE) AS cusum_stat
      |FROM tt JOIN mx ON tt.event_type = mx.event_type AND tt.a = mx.m
      |GROUP BY tt.event_type ORDER BY tt.event_type""".stripMargin) { (s, dir) =>
    cusumReport(t(s, dir, "events"))
  }

  /** TOST EQUIVALENCE test per event type (the experimentation
    * question the rest of the suite cannot answer: ttest/permutation
    * detect a DIFFERENCE — "no significant difference" is NOT
    * evidence of equivalence; Schuirmann's two one-sided tests
    * establish that the A/B gap lies INSIDE ±δ, the non-inferiority
    * readout every do-no-harm launch gate needs): margin δ = 10% of
    * the grand mean, Welch standard error from the SAME exact
    * decimal moments as stats_ttest/stats_power (one
    * map-side-partial hash-agg), t_lower = (d+δ)/se and t_upper =
    * (δ−d)/se, equivalent iff BOTH clear the fixed z-critical 1.645
    * (α=0.05 one-sided, large-sample — a literal, not a
    * transcendental call). Every float derives from exact integers
    * through one identical IEEE tree, so the verdict hash-compares.
    */
  val statsTost: Op = Op.sql("stats_tost",
    """WITH e AS (
      |  SELECT event_type, user_id % 2 AS grp,
      |    CAST("value" AS DECIMAL(12,2)) AS v FROM events),
      |m AS (SELECT event_type, grp, count(*) AS n,
      |        CAST(sum(v) AS DOUBLE) AS s, CAST(sum(v*v) AS DOUBLE) AS ss
      |      FROM e GROUP BY 1, 2),
      |ab AS (SELECT a.event_type, a.n AS n_a, b.n AS n_b,
      |         a.s AS s_a, b.s AS s_b, a.ss AS ss_a, b.ss AS ss_b
      |       FROM m a JOIN m b
      |         ON a.event_type = b.event_type AND a.grp = 0 AND b.grp = 1),
      |x AS (SELECT event_type, n_a, n_b,
      |        s_a / n_a - s_b / n_b AS d,
      |        0.1 * ((s_a + s_b) / (n_a + n_b)) AS delta,
      |        sqrt((ss_a - s_a * s_a / n_a) / (n_a - 1) / n_a
      |           + (ss_b - s_b * s_b / n_b) / (n_b - 1) / n_b) AS se
      |      FROM ab)
      |SELECT event_type, n_a, n_b,
      |  round(d, 6) AS d, round(delta, 6) AS delta, round(se, 6) AS se,
      |  round((d + delta) / se, 6) AS t_lower,
      |  round((delta - d) / se, 6) AS t_upper,
      |  (d + delta) / se > 1.645 AND (delta - d) / se > 1.645 AS equivalent
      |FROM x ORDER BY event_type""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select(col("event_type"),
      (col("user_id") % 2).as("grp"),
      col("value").cast("decimal(12,2)").as("v"))
    val m = e.groupBy("event_type", "grp").agg(count(lit(1)).as("n"),
      sum(col("v")).cast("double").as("s"),
      sum(col("v") * col("v")).cast("double").as("ss"))
    val a = m.filter(col("grp") === 0).select(col("event_type"),
      col("n").as("n_a"), col("s").as("s_a"), col("ss").as("ss_a"))
    val b = m.filter(col("grp") === 1).select(col("event_type"),
      col("n").as("n_b"), col("s").as("s_b"), col("ss").as("ss_b"))
    val d = col("s_a") / col("n_a") - col("s_b") / col("n_b")
    val delta = lit(0.1) * ((col("s_a") + col("s_b")) / (col("n_a") + col("n_b")))
    val se = sqrt((col("ss_a") - col("s_a") * col("s_a") / col("n_a")) /
        (col("n_a") - 1) / col("n_a") +
      (col("ss_b") - col("s_b") * col("s_b") / col("n_b")) /
        (col("n_b") - 1) / col("n_b"))
    a.join(b, "event_type")
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(d, 6).as("d"), round(delta, 6).as("delta"), round(se, 6).as("se"),
        round((d + delta) / se, 6).as("t_lower"),
        round((delta - d) / se, 6).as("t_upper"),
        ((d + delta) / se > 1.645 && (delta - d) / se > 1.645).as("equivalent"))
      .orderBy("event_type")
  }

  /** The permutation report's oracle CTE chain ending in `pv` (the
    * per-type exact p-values) — shared verbatim by stats_permutation
    * and stats_fdr so the BH pass consumes bit-identical inputs. */
  private def permOracleCtes: String = {
    import SqlReplay.{stagedSql, hashLongStages}
    // Cent-integer metric (r10, the q1 SumScaledExact rule applied to
    // the ×49 kernel): v = floor(value·100 + 0.5) summed as BIGINT.
    // NOTE this quantization is defined on the DOUBLE's value — it
    // can differ from a decimal(12,2) cast (which rounds the double's
    // exact decimal expansion) at binary .5-boundary values and on
    // negatives; it is the op's METRIC DEFINITION, replayed with the
    // same floor expression on both engines and in the spec's
    // long-cents driver recompute (r11) — never compared against a
    // decimal rounding. The long-buffer hash agg replaces 4.9M
    // non-vectorized Decimal updates (stats_permutation 0.98 →
    // measured below). Division tree (sum→double, /100, /count —
    // sums < 2^53 so the double is exact) is replayed IDENTICALLY
    // everywhere.
    val staged = stagedSql(
      "SELECT event_type, CAST(floor(\"value\" * 100 + 0.5) AS BIGINT) AS v, " +
        "CAST(user_id AS HUGEINT) AS uk, CAST(7000 + b AS HUGEINT) AS bk, b " +
        s"FROM events, unnest([${(0 until PermReps).mkString(", ")}]) AS t(b)",
      hashLongStages("uk", "42::HUGEINT", "s1") ++ hashLongStages("bk", "s1", "h"))
    s"""obs AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(floor("value" * 100 + 0.5) AS BIGINT) END) AS DOUBLE)
       |      / 100 / count(CASE WHEN user_id % 2 = 0 THEN 1 END)
       |    - CAST(sum(CASE WHEN user_id % 2 = 1 THEN CAST(floor("value" * 100 + 0.5) AS BIGINT) END) AS DOUBLE)
       |      / 100 / count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS d_obs
       |  FROM events GROUP BY 1),
       |perm AS (
       |  SELECT event_type, b,
       |    CAST(sum(CASE WHEN h % 2 = 0 THEN v END) AS DOUBLE)
       |      / 100 / count(CASE WHEN h % 2 = 0 THEN 1 END)
       |    - CAST(sum(CASE WHEN h % 2 = 1 THEN v END) AS DOUBLE)
       |      / 100 / count(CASE WHEN h % 2 = 1 THEN 1 END) AS d
       |  FROM ($staged) GROUP BY 1, 2),
       |ex AS (
       |  SELECT p.event_type, count(*) AS n_perms,
       |    count(CASE WHEN abs(p.d) >= abs(o.d_obs) THEN 1 END) AS n_extreme
       |  FROM perm p JOIN obs o USING (event_type) GROUP BY 1),
       |pv AS (
       |  SELECT e.event_type, round(o.d_obs, 6) AS d_obs, e.n_perms, e.n_extreme,
       |    round(CAST(1 + e.n_extreme AS DOUBLE) / (e.n_perms + 1), 6) AS p_value
       |  FROM ex e JOIN obs o USING (event_type))""".stripMargin
  }

  /** The permutation report without its output ordering — shared by
    * stats_permutation and stats_fdr. */
  private def permutationReport(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // cent-integer metric, long aggregation buffers (see the oracle
    // CTE comment): same floor(v·100+0.5) quantization and division
    // tree on both engines and in the spec's recompute
    def grpDiff(g: Column) =
      sum(when(g === 0, col("v"))).cast("double") / 100 / count(when(g === 0, 1)) -
        sum(when(g === 1, col("v"))).cast("double") / 100 / count(when(g === 1, 1))
    def cents = floor(col("value") * 100 + 0.5).cast("long").as("v")
    val obs = ev
      .select(col("event_type"), cents, col("user_id"))
      .groupBy("event_type").agg(grpDiff(col("user_id") % 2).as("d_obs"))
    // Parallel.floor BEFORE the ×49 replicate explode: the expansion
    // kernel (49 hashes + decimal agg updates per input row) is ~50×
    // the per-row serialize cost, so on a single-row-group layout one
    // narrow 3-column exchange buys cores× kernel parallelism
    // (1.58 → ~0.3 s at sf0.1); a no-op at real multi-split layouts
    val perm = Parallel.floor(ev
        .select(col("event_type"), cents, col("user_id")))
      .withColumn("b", explode(typedLit((0 until PermReps).map(_.toLong))))
      .withColumn("h", xxhash64(col("user_id"), lit(7000L) + col("b")))
      .groupBy("event_type", "b")
      .agg(grpDiff(col("h").bitwiseAND(lit(1L))).as("d"))
    val ex = perm.join(broadcast(obs), "event_type")
      .groupBy("event_type").agg(count(lit(1)).as("n_perms"),
        count(when(abs(col("d")) >= abs(col("d_obs")), 1)).as("n_extreme"))
    ex.join(broadcast(obs), "event_type")
      .select(col("event_type"), round(col("d_obs"), 6).as("d_obs"),
        col("n_perms"), col("n_extreme"),
        round((lit(1) + col("n_extreme")).cast("double") / (col("n_perms") + 1), 6)
          .as("p_value"))
  }

  val statsPermutation: Op = Op.sql("stats_permutation",
    s"""WITH $permOracleCtes
       |SELECT * FROM pv ORDER BY event_type""".stripMargin) { (s, dir) =>
    permutationReport(s, dir).orderBy("event_type")
  }

  /** BENJAMINI–HOCHBERG FDR correction across the per-type p-value
    * family (the MULTIPLE-TESTING guardrail the suite was missing:
    * reading |types| permutation p-values at α=0.05 each inflates
    * the family-wise false-discovery rate; BH is the standard
    * control every experimentation platform applies before flagging
    * winners): consumes [[statsPermutation]]'s EXACT p-values
    * (bit-identical on both engines by construction), ranks them,
    * flags every test at or below the largest i with
    * p·m ≤ α·i, and reports the step-up adjusted p-value
    * min_{j≥i}(m·p_(j)/j) clamped to 1 — products/divisions through
    * one identical IEEE tree, running min order-free, so the whole
    * report hash-compares. Scale: everything after the (shared)
    * permutation aggregate runs on the |types|-row frame — the
    * sanctioned aggregate-sized window class. */
  val statsFdr: Op = Op.sql("stats_fdr",
    s"""WITH $permOracleCtes,
       |ranked AS (
       |  SELECT event_type, p_value,
       |    row_number() OVER (ORDER BY p_value, event_type) AS i,
       |    count(*) OVER () AS m
       |  FROM pv),
       |adj AS (
       |  SELECT event_type, p_value, i, m,
       |    least(1.0, min(p_value * m / i) OVER
       |      (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |      AS p_adj,
       |    max(CASE WHEN p_value * m <= 0.05 * i THEN i END) OVER () AS k
       |  FROM ranked)
       |SELECT event_type, p_value, i AS rank, m,
       |  round(p_adj, 6) AS p_adj,
       |  coalesce(i <= k, false) AS reject
       |FROM adj ORDER BY rank""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val pv = permutationReport(s, dir).select(col("event_type"), col("p_value"))
    val gw = Window.partitionBy()
    val ranked = pv
      .withColumn("i", row_number().over(
        Window.orderBy("p_value", "event_type")))
      .withColumn("m", count(lit(1)).over(gw))
    val adj = ranked
      .withColumn("p_adj", least(lit(1.0),
        min(col("p_value") * col("m") / col("i")).over(
          Window.orderBy("i").rowsBetween(Window.currentRow, Window.unboundedFollowing))))
      .withColumn("k", max(when(col("p_value") * col("m") <= lit(0.05) * col("i"),
        col("i"))).over(gw))
    adj.select(col("event_type"), col("p_value"),
        col("i").cast("long").as("rank"), col("m"),
        round(col("p_adj"), 6).as("p_adj"),
        coalesce(col("i") <= col("k"), lit(false)).as("reject"))
      .orderBy("rank")
  }

  /** First-order MARKOV TRANSITION MATRIX over per-user event
    * sequences (the session-flow model behind next-event prediction
    * and funnel diagnostics): count and row-normalized probability of
    * each (prev_type → next_type) transition, consecutive events
    * ordered by (timestamp µs, event_id). ONE user-keyed shuffle for
    * the lag window; the transition counts re-aggregate to |types|²
    * rows and the row-total join is on a |types|-row frame. The
    * probability is a single IEEE division of exact longs, so the
    * oracle is deterministic. At 100 TB this is the sessionize shape:
    * per-user sorted scan, tiny outputs. */
  val q75Markov: Op = Op.sql("q75_markov",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |p AS (SELECT event_type AS next_type,
      |        lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev_type
      |      FROM e),
      |c AS (SELECT prev_type, next_type, count(*) AS n
      |      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
      |SELECT prev_type, next_type, n, round(CAST(n AS DOUBLE) / tot, 6) AS prob
      |FROM c JOIN tot USING (prev_type)
      |ORDER BY prev_type, next_type""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val p = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .select(col("event_type").as("next_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
    val c = p.filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
    val tot = c.groupBy("prev_type").agg(sum(col("n")).cast("long").as("tot"))
    c.join(tot, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("prob"))
      .orderBy("prev_type", "next_type")
  }

  /** Distribution DRIFT report between a reference and a current
    * slice (the train/serve skew monitor every production pipeline
    * runs): decile boundaries from the reference slice, both slices
    * histogrammed against those fixed boundaries, per-bucket counts
    * and shares. All arithmetic is exact (ntile ranks + int/int
    * ratios) so the report is bit-identical across engines — the PSI
    * / KL statistic is one `ln` away and deliberately left to the
    * consumer (transcendentals differ in the last ulp across
    * engines).
    *
    * Scale (100 TB): bucket ASSIGNMENT is the broadcast of ten
    * boundary rows against each slice (bounded ≤10× row expansion,
    * then one hash-aggregate) — linear and shuffle-light. Boundary
    * COMPUTATION here is an exact global ntile (a total sort of the
    * reference slice) for oracle parity; in production you'd feed the
    * same assignment join from stats_sketch's mergeable quantile
    * summary instead — the report side of the plan is unchanged. */
  val statsDrift: Op = Op.sql("stats_drift",
    """WITH ref AS (
      |  SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |cur AS (
      |  SELECT event_id, value FROM events WHERE event_id % 2 = 1),
      |nt AS (SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS b FROM ref),
      |bounds AS (SELECT b, max(value) AS ub FROM nt GROUP BY b),
      |tagged AS (
      |  SELECT 0 AS side, event_id, value FROM ref
      |  UNION ALL SELECT 1, event_id, value FROM cur),
      |assigned AS (
      |  SELECT t.side, t.event_id,
      |         CAST(coalesce(min(bo.b), 10) AS BIGINT) AS bucket
      |  FROM tagged t LEFT JOIN bounds bo ON t.value <= bo.ub
      |  GROUP BY t.side, t.event_id),
      |c AS (
      |  SELECT bucket,
      |    count(*) FILTER (WHERE side = 0) AS ref_n,
      |    count(*) FILTER (WHERE side = 1) AS cur_n
      |  FROM assigned GROUP BY bucket)
      |SELECT bucket, ref_n, cur_n,
      |  CAST(ref_n AS DOUBLE) / CAST(sum(ref_n) OVER () AS DOUBLE) AS ref_share,
      |  CAST(cur_n AS DOUBLE) / CAST(sum(cur_n) OVER () AS DOUBLE) AS cur_share
      |FROM c ORDER BY bucket""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events").select(col("event_id"), col("value"))
    val ref = ev.filter(pmod(col("event_id"), lit(2)) === 0)
    val cur = ev.filter(pmod(col("event_id"), lit(2)) === 1)
    // distributed exact rank-selection, NOT the single-partition
    // ntile window the oracle text uses — bit-identical bounds
    // ([[RankSelect]]; StreamingSpec pins the equality) with a plan
    // that survives scale
    val bounds = RankSelect.decileBoundsDF(ref, "value", "event_id")
    val tagged = ref.withColumn("side", lit(0))
      .unionAll(cur.withColumn("side", lit(1)))
    val assigned = tagged
      .join(broadcast(bounds), col("value") <= col("ub"), "left")
      .groupBy("side", "event_id")
      .agg(coalesce(min("b"), lit(10)).cast("bigint").as("bucket"))
    val c = assigned.groupBy("bucket").agg(
      count(when(col("side") === 0, 1)).as("ref_n"),
      count(when(col("side") === 1, 1)).as("cur_n"))
    val whole = Window.partitionBy()
    c.select(col("bucket"), col("ref_n"), col("cur_n"),
        (col("ref_n").cast("double") / sum("ref_n").over(whole).cast("double")).as("ref_share"),
        (col("cur_n").cast("double") / sum("cur_n").over(whole).cast("double")).as("cur_share"))
      .orderBy("bucket")
  }

  /** Two-sample Kolmogorov–Smirnov distance (round 8) — the
    * distribution-SHAPE drift test completing the stats family:
    * `stats_ttest` compares means, `stats_drift` compares decile
    * shares against a FIXED reference binning, KS is the sup-norm gap
    * between the two empirical CDFs — sensitive to any
    * distributional change, binning-free. Exact, not sampled: group
    * by the exact DECIMAL value (one corpus shuffle), cumulative
    * counts over the per-value aggregate (the running window runs
    * over ≤ |distinct values| rows — aggregate output, never raw
    * data, per the global-window rule), and the per-row CDF gap
    * |fa/na − fb/nb| is two divisions + a subtraction on identical
    * integers — IEEE-identical on both engines, so the max is too. */
  val statsKs: Op = Op.sql("stats_ks",
    """WITH e AS (SELECT user_id % 2 AS grp,
      |             CAST("value" AS DECIMAL(12,2)) AS v FROM events),
      |n AS (SELECT count(*) FILTER (WHERE grp = 0) AS n_a,
      |             count(*) FILTER (WHERE grp = 1) AS n_b FROM e),
      |pv AS (SELECT v, count(*) FILTER (WHERE grp = 0) AS ca,
      |              count(*) FILTER (WHERE grp = 1) AS cb
      |       FROM e GROUP BY v),
      |cum AS (SELECT
      |  sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa,
      |  sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb
      |FROM pv)
      |SELECT n_a, n_b,
      |  round(max(abs(CAST(fa AS DOUBLE) / n_a - CAST(fb AS DOUBLE) / n_b)), 6) AS ks
      |FROM cum, n GROUP BY n_a, n_b ORDER BY n_a""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "events").select((col("user_id") % 2).as("grp"),
      col("value").cast("decimal(12,2)").as("v"))
    val n = e.agg(
      count(when(col("grp") === 0, 1)).as("n_a"),
      count(when(col("grp") === 1, 1)).as("n_b"))
    val pv = e.groupBy("v").agg(
      count(when(col("grp") === 0, 1)).as("ca"),
      count(when(col("grp") === 1, 1)).as("cb"))
    // TWO-LEVEL cumulative count (r8 verdict): the per-value aggregate
    // is bounded by |distinct v| but a DECIMAL(12,2) domain is
    // corpus-adjacent, so a global Window.orderBy here would still
    // serialize one task at 100 TB. floor(v) is order-aligned with v,
    // so: inclusive prefix within each integer bucket (parallel) +
    // broadcast exclusive bucket offsets = the identical global CDF.
    val bucketed = pv.withColumn("bk", floor(col("v")).cast("long"))
    val wLoc = Window.partitionBy("bk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBk = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    val bOff = bucketed.groupBy("bk")
      .agg(sum("ca").as("ta"), sum("cb").as("tb"))
      .withColumn("ba", coalesce(sum(col("ta")).over(wBk), lit(0L)))
      .withColumn("bb", coalesce(sum(col("tb")).over(wBk), lit(0L)))
      .select("bk", "ba", "bb")
    val cum = bucketed
      .withColumn("la", sum(col("ca")).over(wLoc))
      .withColumn("lb", sum(col("cb")).over(wLoc))
      .join(broadcast(bOff), Seq("bk"))
      .select((col("la") + col("ba")).as("fa"),
        (col("lb") + col("bb")).as("fb"))
    cum.crossJoin(broadcast(n))
      .select(col("n_a"), col("n_b"),
        abs(col("fa").cast("double") / col("n_a") -
          col("fb").cast("double") / col("n_b")).as("d"))
      .groupBy("n_a", "n_b").agg(round(max("d"), 6).as("ks"))
      .orderBy("n_a")
  }

  /** Chi-square test of independence over a contingency table
    * (event_type × the user_id%2 A/B assignment `stats_ttest`
    * already uses) — the categorical complement of the stats family:
    * ttest compares group MEANS, KS compares SHAPES of a numeric
    * column, chi-square asks whether two CATEGORICAL variables are
    * associated (the standard guardrail that an experiment's
    * assignment is independent of event mix). Output is the per-cell
    * table: observed count, row/column totals, expected count and the
    * cell's chi-square contribution — everything a dashboard needs;
    * the scalar statistic is the SUM of contributions, which is
    * summation-order-dependent in doubles, so it is deliberately left
    * to the consumer over the ordered cells (PSI's ln is left out of
    * stats_drift for the same reason; AnalyticsSpec computes it and
    * pins df). All inputs to the float math are exact integers from
    * ONE hash-aggregate (|types|·|groups| rows out of the scan); the
    * expected/contribution expressions are the identical IEEE tree on
    * both engines, so every cell is hash-exact. The denominator is
    * computed in doubles (r·c·n overflows int64 beyond ~10⁹ events —
    * exactness of the QUOTIENT is not needed, only cross-engine
    * bit-equality of the expression).
    *
    * Scale (100 TB): the fact table reduces map-side to the
    * contingency cells; the windows run over that ≤|types|·|groups|
    * aggregate — the one exchange carries cells, never events. */
  val statsChisq: Op = Op.sql("stats_chisq",
    """WITH c AS (
      |  SELECT event_type, user_id % 2 AS grp, count(*) AS o
      |  FROM events GROUP BY event_type, user_id % 2),
      |t AS (
      |  -- CAST to BIGINT: DuckDB's windowed sum(BIGINT) is HUGEINT
      |  -- (int128), which the driver's hasher renders apart from
      |  -- Spark's int64 even when values agree (r8 hash-fail).
      |  SELECT event_type, grp, o,
      |    CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS r_total,
      |    CAST(sum(o) OVER (PARTITION BY grp) AS BIGINT) AS c_total,
      |    CAST(sum(o) OVER () AS BIGINT) AS n_total
      |  FROM c)
      |SELECT event_type, grp, o, r_total, c_total,
      |  CAST(r_total AS DOUBLE) * c_total / n_total AS expected,
      |  (CAST(o AS DOUBLE) * n_total - CAST(r_total AS DOUBLE) * c_total)
      |    * (CAST(o AS DOUBLE) * n_total - CAST(r_total AS DOUBLE) * c_total)
      |    / (CAST(r_total AS DOUBLE) * c_total * n_total) AS contrib
      |FROM t ORDER BY event_type, grp""".stripMargin) { (s, dir) =>
    val c = t(s, dir, "events")
      .groupBy(col("event_type"), (col("user_id") % 2).as("grp"))
      .agg(count(lit(1)).as("o"))
    val tt = c.select(col("event_type"), col("grp"), col("o"),
      sum("o").over(Window.partitionBy("event_type")).as("r_total"),
      sum("o").over(Window.partitionBy("grp")).as("c_total"),
      sum("o").over(Window.partitionBy()).as("n_total"))
    val d = col("o").cast("double") * col("n_total") -
      col("r_total").cast("double") * col("c_total")
    tt.select(col("event_type"), col("grp"), col("o"), col("r_total"), col("c_total"),
        (col("r_total").cast("double") * col("c_total") / col("n_total")).as("expected"),
        (d * d / (col("r_total").cast("double") * col("c_total") * col("n_total"))).as("contrib"))
      .orderBy("event_type", "grp")
  }

  /** Iterative k-core peel (Matula–Beck): repeatedly drop nodes of
    * degree < k until fixpoint, at most `maxRounds` removal rounds —
    * NOT converging within the bound fails loudly (the round count is
    * part of the op contract so the unrolled SQL oracle stays exact).
    * Each round is one keyed degree aggregate + two LEFT ANTI hash
    * joins on the node (shuffle_hash pinned — the dropped-node set is
    * graph-proportional and must never become a driver hashed
    * relation); `localCheckpoint` cuts lineage per round like the
    * transitive-closure loop. Shared by [[graphKcore]] and the
    * cascade-fixture spec. */
  private[graft] def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    var g = edges.localCheckpoint(true)
    var r = 0
    var done = false
    while (!done) {
      val bad = degrees(g).filter(col("d") < k).select("n").localCheckpoint(true)
      if (bad.isEmpty) done = true
      else {
        require(r < maxRounds,
          s"k-core did not converge within $maxRounds peel rounds")
        g = g
          .join(bad.withColumnRenamed("n", "u").hint("shuffle_hash"), Seq("u"), "left_anti")
          .join(bad.withColumnRenamed("n", "v").hint("shuffle_hash"), Seq("v"), "left_anti")
          .select("u", "v")
          .localCheckpoint(true)
        r += 1
      }
    }
    g
  }

  /** K-CORE decomposition (round 10 — the graph-family member that
    * finds the DENSE part: pagerank ranks, components partition,
    * triangles count local structure, the k-core is the maximal
    * subgraph where every node keeps ≥ k neighbors — the standard
    * web-spam / bot-ring / community-nucleus screen, and the
    * degeneracy-ordering primitive under triangle/clique algorithms):
    * 4-core of the bipartite order–supplier incidence graph (node
    * degree there is SF-invariant — items per order / orders per
    * supplier — so peeling genuinely bites at every test SF where a
    * mod-N projection saturates). Peel = [[kCore]] (iterate drop
    * degree<4 until fixpoint, ≤4 rounds by contract); output is each
    * surviving node with its WITHIN-CORE degree. The oracle unrolls
    * the same 4 rounds as chained CTEs (a converged round removes
    * nothing, so trailing no-op rounds are identity — the same
    * unroll-past-fixpoint argument as BPE's 12 rounds); a peel that
    * removed too much, too little, or mis-counted a surviving degree
    * hash-mismatches. AnalyticsSpec drives the multi-round CASCADE on
    * a planted chain fixture (corpus converges in one round) and pins
    * the loud non-convergence failure.
    *
    * Scale (100 TB): each round is a degree hash-agg + two anti hash
    * joins, all keyed on the node — no all-pairs, no driver state;
    * rounds are bounded by the contract, and real web-graph peels run
    * O(tens) of rounds of exactly this per-round plan. */
  val graphKcore: Op = Op.sql("graph_kcore",
    """WITH g0 AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS u, 1000000000 + l_suppkey AS v FROM lineitem),
      |d0 AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT u AS n FROM g0 UNION ALL SELECT v AS n FROM g0) GROUP BY n),
      |b0 AS MATERIALIZED (SELECT n FROM d0 WHERE d < 4),
      |g1 AS MATERIALIZED (SELECT u, v FROM g0 g WHERE NOT EXISTS (SELECT 1 FROM b0 x WHERE x.n = g.u) AND NOT EXISTS (SELECT 1 FROM b0 y WHERE y.n = g.v)),
      |d1 AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT u AS n FROM g1 UNION ALL SELECT v AS n FROM g1) GROUP BY n),
      |b1 AS MATERIALIZED (SELECT n FROM d1 WHERE d < 4),
      |g2 AS MATERIALIZED (SELECT u, v FROM g1 g WHERE NOT EXISTS (SELECT 1 FROM b1 x WHERE x.n = g.u) AND NOT EXISTS (SELECT 1 FROM b1 y WHERE y.n = g.v)),
      |d2 AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT u AS n FROM g2 UNION ALL SELECT v AS n FROM g2) GROUP BY n),
      |b2 AS MATERIALIZED (SELECT n FROM d2 WHERE d < 4),
      |g3 AS MATERIALIZED (SELECT u, v FROM g2 g WHERE NOT EXISTS (SELECT 1 FROM b2 x WHERE x.n = g.u) AND NOT EXISTS (SELECT 1 FROM b2 y WHERE y.n = g.v)),
      |d3 AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT u AS n FROM g3 UNION ALL SELECT v AS n FROM g3) GROUP BY n),
      |b3 AS MATERIALIZED (SELECT n FROM d3 WHERE d < 4),
      |g4 AS MATERIALIZED (SELECT u, v FROM g3 g WHERE NOT EXISTS (SELECT 1 FROM b3 x WHERE x.n = g.u) AND NOT EXISTS (SELECT 1 FROM b3 y WHERE y.n = g.v))
      |SELECT n AS node, count(*) AS degree
      |FROM (SELECT u AS n FROM g4 UNION ALL SELECT v AS n FROM g4)
      |GROUP BY n ORDER BY node""".stripMargin) { (s, dir) =>
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("u"),
        (lit(1000000000L) + col("l_suppkey")).cast("long").as("v"))
      .distinct()
    val core = kCore(edges, k = 4, maxRounds = 4)
    // within-core degrees, no join downstream (degrees()' hint would
    // dangle here and warn)
    core.select(col("u").as("node")).unionAll(core.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .orderBy("node")
  }

  /** BIPARTITE PROJECTION with co-occurrence weights (round 10 — the
    * graph-construction primitive under "related items": project the
    * order–supplier incidence onto suppliers, weighting each supplier
    * pair by shared orders, normalized to a Jaccard over their order
    * sets — the co-purchase graph every recommender bootstrap builds,
    * and the projection step that feeds graph_kcore/graph_components
    * style analysis). ONE order-keyed self-join generates per-order
    * pairs (s1 < s2), a hash-agg folds them map-side to the pair
    * weights, and the |suppliers|-row degree aggregate joins back for
    * the normalization; w ≥ 2 drops the noise floor.
    *
    * Scale (100 TB): projection volume is Σ_orders C(k_o, 2) — k is
    * the per-order item fan-out (≤16 on this corpus, bounded by order
    * size, NOT by data volume), so the pair stream is a small
    * constant × the fact table. A marketplace with genuine hub
    * entities caps or salts k first (the standard guard); the join
    * itself is keyed on the order and pinned shuffle-hash on both
    * corpus-proportional sides — a driver hashed relation of the
    * incidence list is the test-SF mirage that cannot exist at scale,
    * and the degree join is the retention-read aggregate-join class
    * (pinned for the same reason). */
  val graphBipartiteProject: Op = Op.sql("graph_bipartite_project",
    """WITH e AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
      |d AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
      |p AS (SELECT a.s AS s1, b.s AS s2, count(*) AS w
      |      FROM e a JOIN e b ON a.o = b.o AND a.s < b.s GROUP BY 1, 2)
      |SELECT p.s1, p.s2, p.w,
      |  round(CAST(p.w AS DOUBLE) / (d1.deg + d2.deg - p.w), 6) AS cooc_jaccard
      |FROM p JOIN d d1 ON d1.s = p.s1 JOIN d d2 ON d2.s = p.s2
      |WHERE p.w >= 2
      |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
    // the distinct incidence feeds THREE consumers (both self-join
    // sides + the degree agg); materialize it once instead of paying
    // three scan+distinct passes — the vec_gram multi-consumer rule
    val e = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("s")).distinct()
      .localCheckpoint(true)
    val d = e.groupBy("s").agg(count(lit(1)).as("deg")).hint("shuffle_hash")
    val p = e.select(col("o"), col("s").as("s1"))
      .join(e.select(col("o"), col("s").as("s2")).hint("shuffle_hash"), Seq("o"))
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
    p.join(d.select(col("s").as("s1"), col("deg").as("deg1")), Seq("s1"))
      .join(d.select(col("s").as("s2"), col("deg").as("deg2")), Seq("s2"))
      .select(col("s1"), col("s2"), col("w"),
        round(col("w").cast("double") / (col("deg1") + col("deg2") - col("w")), 6)
          .as("cooc_jaccard"))
      .orderBy("s1", "s2")
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * graft's one connected-components kernel. It takes O(log n)
    * rounds, where min-label propagation takes as many rounds as the
    * graph's DIAMETER. At 100 TB, dedup graphs routinely contain long
    * chains (substring-overlap chains, URL redirect chains), and
    * diameter-bound propagation simply does not finish on them; star
    * contraction hangs every node below a local minimum each round,
    * roughly halving path lengths, so rounds track the LOG of the
    * largest component. Each half-round is ONE secondary-sort pass
    * keyed on the grouping node — a single keyed shuffle of the edge
    * list, no join and no driver-held state; the (checkpointed) edge
    * list is the only loop state, and a per-batch localCheckpoint
    * bounds lineage. Returns the converged star forest (node ->
    * component min, roots omitted) and the rounds taken;
    * [[labelComponents]] turns it into a label per node. AnalyticsSpec
    * pins the log-round bound on a chain where label propagation
    * provably cannot converge. */
  private[graft] def largeSmallStar(edgesIn: DataFrame,
                                    maxIter: Int = 32,
                                    localMaxBytes: Long = 64L << 20): (DataFrame, Int) = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val spark = edgesIn.sparkSession
    import spark.implicits._
    // the initial dedup runs under the caller's (AQE) config; node
    // ids normalize to long (every caller's ids are integral), so the
    // loop rows are primitive 16 B tuples with no row codec
    val e0 = edgesIn.toDF("x", "y").filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).cast("long").as("u"),
        least(col("x"), col("y")).cast("long").as("v"))
      .distinct()
    // THE LOOP IS RDD-NATIVE (r12). History of the Dataset-API loop:
    // r11 measured AQE scheduling (~60 ms/exchange job) and moved to
    // AQE-off + plan-time partition sizing + 4-round batches (5.3 s
    // -> 2.1-3.3 s). The residual cost was then jstack'd to the
    // DRIVER: 250-460 ms of parse/analyze/optimize/plan per batch —
    // and it survived every Catalyst formulation tried (incremental
    // Dataset calls; per-batch lineage truncation; the whole batch as
    // ONE generated CTE text analyzed once — all within 10% of the
    // same stall, measured this round). An 8-window tree is simply
    // that expensive to plan, and an iterative algorithm pays it
    // EVERY batch while the data shrinks. This is the textbook case
    // for the RDD escape hatch (SURVEY posture: mapPartitions only
    // for genuine per-partition imperative logic): the contraction
    // kernel below is plan-free (zero per-batch Catalyst work),
    // partition counts are explicit per batch (the r11 plan-time
    // sizing rule, now just an argument), NO session config is
    // touched (the ADVICE r11 isolation concern dissolves — nothing
    // to isolate), and the secondary-sort kernel streams each
    // neighborhood with O(1) state where WindowExec buffers the
    // whole unbounded frame per key — strictly better under hot-key
    // concentration, which hash partitioning cannot split anyway.
    //
    // Each half-round: repartitionAndSortWithinPartitions on
    // (node, neighbor) with a node-hash partitioner — ONE shuffle,
    // exactly what the Window formulation paid — then a streaming
    // run-length pass; the sorted run's FIRST neighbor is the
    // neighborhood min.
    var rounds = 0
    var converged = false
    val RoundsPerBatch = 4
    def loopPartitions(edgeRows: Long): Int = {
      // ~48 B per shuffled (u,v) record incl. framing; 64 MB target
      // partitions (AQE's advisory default); <=2x/round transient
      // dupe inflation between batch-boundary dedups
      val bytes = edgeRows * 48L * (1L << RoundsPerBatch)
      math.max(1L, math.min(1000000L, bytes / (64L << 20) + 1)).toInt
    }
    // secondary sort: partition by the grouping node, order by
    // (node, neighbor) inside each partition
    def byNode(parts: Int) = new org.apache.spark.Partitioner {
      override def numPartitions: Int = parts
      override def getPartition(key: Any): Int = {
        val h = java.lang.Long.hashCode(key.asInstanceOf[(Long, Long)]._1)
        ((h % parts) + parts) % parts
      }
    }
    // large-star: per node u over its FULL (symmetrized) neighbor
    // set, hang every strictly-larger neighbor on m = min(N(u) + u);
    // emits (v, m) for v > u — edges leave strictly (big, small).
    // small-star: edges arrive (u > v); hang u and every smaller
    // neighbor except the min itself on m = min(N(u)): (u, m) once
    // per run plus (v, m) for v != m. Dupes between batch-boundary
    // distincts are harmless — both mins are duplicate-insensitive
    // (the r11 rule, unchanged).
    def halfRound(in: RDD[(Long, Long)], large: Boolean, parts: Int): RDD[(Long, Long)] = {
      val keyed: RDD[((Long, Long), Unit)] =
        if (large) in.flatMap { case (u, v) => Iterator(((u, v), ()), ((v, u), ())) }
        else in.map { case (u, v) => ((u, v), ()) }
      keyed.repartitionAndSortWithinPartitions(byNode(parts))
        .mapPartitions({ it =>
          var curU = 0L; var m = 0L; var first = true
          if (large) it.flatMap { case ((u, v), _) =>
            if (first || u != curU) { curU = u; m = math.min(v, u); first = false }
            if (v > u) Iterator((v, m)) else Iterator.empty
          }
          else it.flatMap { case ((u, v), _) =>
            if (first || u != curU) { curU = u; m = v; first = false; Iterator((u, m)) }
            else if (v != m) Iterator((v, m)) else Iterator.empty
          }
        }, preservesPartitioning = false)
    }
    var e: RDD[(Long, Long)] = e0.as[(Long, Long)].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    var eCount = e.count()
    // SIZE-GATED LOCAL KERNEL (r12): when the deduped edge set fits
    // one task's budget — the same 64 MB bound Bounded grants a
    // single sort task, ~48 B per edge — iterating a distributed
    // contraction is pure scheduling overhead: every one of its
    // ~2 stages/round exists to move data BETWEEN tasks that a
    // single task could hold whole. One mapPartitions task runs
    // union-find with min-representatives (path-halving; the labels
    // are provably the same component minima the contraction
    // converges to) in ONE job. The gate is the measured edge COUNT,
    // not an estimate, and a corpus-scaled graph takes the
    // distributed loop below — which stays property-pinned by
    // AnalyticsSpec forcing localMaxBytes = 0. Same smallness
    // discipline as Bounded.orderedIfSmall, same reason DuckDB's
    // recursive CTE wins tiny graphs: below one task of data, local
    // beats distributed by exactly the scheduling constant.
    if (eCount * 48L <= localMaxBytes) {
      val stars = e.coalesce(1).mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.get(r)
          var c = x
          while (parent.getOrDefault(c, c) != r) {
            val n = parent.get(c); parent.put(c, r); c = n
          }
          r
        }
        it.foreach { case (u, v) =>
          val ru = find(u); val rv = find(v)
          if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
        }
        import scala.jdk.CollectionConverters._
        // one pointer per non-root node, rooted at the component min
        parent.keySet.asScala.iterator.map(n => (n, find(n)))
          .filter { case (n, r) => n != r }
      }.localCheckpoint()
      val out = spark.createDataset(stars).toDF("u", "v")
      out.count() // materialize before unpersisting the input
      e.unpersist(blocking = false)
      return (out, 1)
    }
    while (!converged && rounds < maxIter) {
      // FOUR rounds per materialization (r10 paired two; r11 four):
      // the convergence action and the materialization are the
      // per-iteration fixed cost; batching divides them by four for
      // at most three overshoot rounds of (tiny, shrinking) extra
      // compute. Star contraction is monotone (each round lowers the
      // total-depth potential), so a fixpoint is stable through all
      // batched rounds and the compare is exact. The batch-final
      // distinct restores the set property the count-equality
      // fixpoint compare relies on.
      val parts = loopPartitions(eCount)
      var next = e
      (1 to RoundsPerBatch).foreach { _ =>
        next = halfRound(halfRound(next, large = true, parts), large = false, parts)
      }
      next = next.distinct(parts)
      // localCheckpoint: truncate lineage at every batch so a lost
      // partition never recomputes across batches and the DAG stays
      // one batch deep; superseded checkpoint blocks are reclaimed by
      // the ContextCleaner once unreferenced
      next.localCheckpoint()
      val nextCount = next.count()
      // fixpoint = identical edge set: both sides are distinct, so
      // |next| == |e| plus one-way next is-subset-of e decides set
      // equality; the subtract only ever runs on the final
      // (count-stable) batch
      converged = nextCount == eCount && next.subtract(e).isEmpty()
      e.unpersist(blocking = false)
      e = next
      eCount = nextCount
      rounds += RoundsPerBatch
    }
    require(converged, s"largeSmallStar: edges still moving after $rounds rounds")
    (spark.createDataset(e).toDF("u", "v"), rounds)
  }

  /** Connected components of `edges` (two node-id columns) over the
    * node set `nodes` (one node-id column): every node with its
    * component id, the component's minimum node, in column `label`.
    * Runs [[largeSmallStar]] and joins its star forest back onto the
    * node set; a node without a star edge (a component root or an
    * isolated node) is its own label. The join pins `shuffle_hash`:
    * the node set is corpus-derived and must never become a driver
    * hashed relation (SURVEY §4.3). */
  private[graft] def labelComponents(nodes: DataFrame, edges: DataFrame,
                                     label: String): DataFrame = {
    val node = nodes.columns.head
    val (stars, _) = largeSmallStar(edges)
    nodes
      .join(stars.withColumnRenamed("u", node).hint("shuffle_hash"),
        Seq(node), "left")
      .select(col(node), coalesce(col("v"), col(node)).as(label))
  }

  /** §2.3 dedup clustering at scale: connected components by star
    * contraction over a deterministic block-local chain graph derived
    * from `events` (24 blocks of 250 ids, step-7 edges within a block
    * → 168 long path components, the label-propagation WORST case —
    * see [[largeSmallStar]]). Output: every node with its component
    * id (the component min, via [[labelComponents]]), the cluster
    * assignment a dedup pipeline joins back to pick winners. The
    * oracle recomputes components with machinery the operator never
    * touches — recursive undirected reachability (UNION-dedup
    * recursion) + min over the reached set — so the contraction is
    * checked end-to-end. Both joins pin `shuffle_hash`: the node table
    * is corpus-derived and must never become a driver hashed relation
    * (SURVEY §4.3). */
  val graphComponents: Op = Op.sql("graph_components",
    """WITH RECURSIVE nodes AS (
      |  SELECT DISTINCT event_id % 6000 AS node FROM events),
      |e AS (
      |  SELECT n1.node AS u, n2.node AS v
      |  FROM nodes n1 JOIN nodes n2 ON n2.node = n1.node + 7
      |  WHERE (n1.node // 250) = ((n1.node + 7) // 250)),
      |sym AS (
      |  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
      |reach AS (
      |  SELECT node AS src, node AS dst FROM nodes
      |  UNION
      |  SELECT r.src, s.v FROM reach r JOIN sym s ON s.u = r.dst)
      |SELECT src AS node, min(dst) AS component FROM reach
      |GROUP BY src ORDER BY node""".stripMargin) { (s, dir) =>
    // one scan + one distinct for the node set, reused three times
    // (edge left side, edge right side, final label join) — the
    // eager checkpoint is 6k longs here and O(|nodes|) in general,
    // vs three corpus scans + distinct shuffles without it
    val nodes = t(s, dir, "events")
      .select((col("event_id") % 6000).as("node")).distinct()
      .localCheckpoint(true)
    val right = nodes.select(col("node").as("b"))
    val edges = nodes
      .join(right.hint("shuffle_hash"), col("b") === col("node") + 7)
      .filter(expr("node DIV 250") === expr("(node + 7) DIV 250"))
      .select(col("node").as("x"), col("b").as("y"))
    labelComponents(nodes, edges, "component").orderBy("node")
  }

  val all: Seq[Op] = Seq(q40Cube, q41Pivot, q42Explode, q43WindowFrames,
    q44Listagg, q45ExactQuantiles, q48Gapfill, q50SetopsAll,
    q54Funnel, q55Retention, q57GroupingSets, q58TimeRangeFrame,
    q59TransitiveClosure, q60RankingSuite, q61Unpivot, q64Locf,
    q66ZscoreOutliers, q67Sessionize, q69DecayScore, q70Triangles, q71IntervalMerge,
    q72Pagerank, q73MadOutliers, q74Ohlc, q81HoppingWindow, statsCorr, statsTtest, q75Markov,
    statsDrift, graphComponents, statsKs, statsChisq, graphEdgeSimilarity,
    q78WindowDistinct, statsLinreg, statsAnova, graphKcore, statsBootstrap,
    graphBipartiteProject, statsPermutation, statsCuped, statsSrm, statsWinsorize, statsPower,
    statsQuantileCi, statsMannWhitney, statsFdr, statsTost, statsGini,
    graphDegreeDist, statsCusum, graphAssortativity, statsBenford,
    graphClustering, statsAcf, statsForecastBacktest, statsSeasonality,
    statsSequential, graphWalkSample)
}
