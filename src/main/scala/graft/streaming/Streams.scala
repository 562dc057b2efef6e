package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** §2.4 streaming: the reference's stream design
  * (`/root/reference/docs/stream_design.md`, streaming writes over the
  * KV engine) mapped onto Structured Streaming.
  *
  * Each transform below is written against a plain DataFrame so the
  * SAME plan runs in batch (oracle-checked against DuckDB) and as a
  * streaming query (spec-checked via a file source + memory sink):
  * Structured Streaming's incrementalization is exactly this
  * batch-equivalence contract.
  *
  * Scale notes: watermark bounds state (1 hour of open windows per
  * key-group); windowed aggregation state is partitioned by
  * (window, keys) — the same hash shuffle as the batch groupBy;
  * session windows use Spark's native session_window state merging
  * rather than a hand-rolled mapGroupsWithState where built-in
  * semantics suffice.
  */
object Streams {

  /** Tumbling 1-hour window aggregation per event_type, watermarked.
    * (`withWatermark` is a no-op in batch execution.) */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(unix_micros(col("w.start")).as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Daily OHLC bars per user as a STREAMING aggregate — the stream
    * face of [[graft.operators.Analytics.q74Ohlc]]: `min_by`/`max_by`
    * over the same fixed-width (epoch_us, event_id) time key are
    * declarative aggregates with mergeable (value, key) partials, so
    * Structured Streaming incrementalizes them exactly like
    * count/max — per-bar state is four scalars + two keys, bounded by
    * the watermark. A window/row_number formulation would not be
    * expressible as a streaming aggregate at all — the ordered
    * aggregate IS what makes OHLC streamable. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val k = concat(
      lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 20, "0"))
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(min_by(col("value"), k).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), k).as("close"),
        count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")).as("bar_start"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
  }

  /** Gap-based sessionization (30-min inactivity gap) per user:
    * session start/end (+gap) and event count. */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("s_start"),
        unix_micros(col("sw.end")).as("s_end"), col("n_events"))

  /** The read-time half of the trending-top-k pattern: rank a
    * windowed aggregate's output per window, keep the top 3. Runs
    * over post-aggregation rows (|windows| × |types|) — on a stream
    * this is applied to the complete-mode sink, never to the stream
    * itself (window functions over streaming state are unsupported
    * because late data could reorder every rank). */
  val TrendingK = 3

  def rankTopTypes(windowCounts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    windowCounts
      .withColumn("rnk", row_number().over(
        Window.partitionBy("win_start")
          .orderBy(col("n_events").desc, col("event_type"))))
      .filter(col("rnk") <= TrendingK)
      .orderBy("win_start", "rnk")
  }

  /** Last-click state carried per user by [[asofEnrich]]. */
  final case class AsofState(ts_us: Long, v: Double)
  final case class AsofRow(user_id: Long, purch_id: Long, purch_ts: Long,
                           purch_value: Double, click_ts: Option[Long],
                           click_value: Option[Double])

  /** Streaming AS-OF ENRICHMENT — the stateful face of q31's batch
    * as-of join (the enrichment every event pipeline runs online:
    * attach "the latest dimension value so far" to each fact as it
    * arrives, without re-joining history): per user, a
    * `flatMapGroupsWithState` state machine holds ONLY the latest
    * click `(ts, value)` and each purchase emits enriched
    * immediately — per-EVENT emission (Append), not the cumulative
    * per-KEY aggregates the other stateful ops produce. Rows within
    * a group are folded in `(ts_us, event_id)` order (the batch
    * iterator and each micro-batch are sorted in-memory — per-user
    * volumes, the same bound every per-user window op assumes), so
    * a click at the same microsecond as a purchase counts iff its
    * event_id is lower — the exact tie rule the oracle's
    * `last_value IGNORE NULLS` window replays. Purchases before any
    * click emit NULL enrichment. Cross-batch correctness assumes
    * in-order arrival per key (the kappa-pipeline discipline;
    * StreamingSpec feeds time-split files and proves stream ==
    * batch including state carried across batches). State is one
    * 16-byte struct per user — bounded regardless of history. */
  def asofEnrich(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[AsofState]) =>
          var last = state.getOption
          val out = Vector.newBuilder[AsofRow]
          rows.toVector.sortBy(r => (r._3, r._2)).foreach { r =>
            if (r._4 == "click") last = Some(AsofState(r._3, r._5))
            else if (r._4 == "purchase")
              out += AsofRow(user, r._2, r._3, r._5,
                last.map(_.ts_us), last.map(_.v))
          }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF()
  }

  /** Funnel progression state carried per user by [[funnelTrack]]
    * (Long.MinValue = stage not reached). */
  final case class FunnelState(tv: Long, tc: Long, tp: Long)
  final case class FunnelRow(user_id: Long, reached_view: Boolean,
                             reached_click: Boolean, reached_purchase: Boolean)

  /** Streaming FUNNEL tracking — q54's online face (the conversion
    * dashboard every growth team keeps live; recomputing the batch
    * funnel per refresh re-reads history, the state machine holds
    * three timestamps per user and never looks back): per user,
    * fold events in `(ts_us, event_id)` order through the strict
    * view → click-after → purchase-after progression. Folding in
    * time order makes each stage's timestamp exactly q54's "min
    * qualifying" (the first qualifying event IS the minimum), and
    * the strict `>` comparisons run on the VALUES, so equal-µs
    * events resolve identically to the batch joins — the shared
    * oracle is q54's algebra verbatim. Update-mode emissions are
    * monotone (a reached flag never unsets), so the last emission
    * per user is the final funnel — what StreamingSpec pins against
    * batch. State: three longs per user, bounded forever. */
  def funnelTrack(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val Unset = Long.MinValue
    val typed = events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[FunnelState]) =>
          val init = state.getOption.getOrElse(FunnelState(Unset, Unset, Unset))
          val next = rows.toVector.sortBy(r => (r._3, r._2)).foldLeft(init) {
            (st, r) => r._4 match {
              case "view" if st.tv == Unset => st.copy(tv = r._3)
              case "click" if st.tv != Unset && st.tc == Unset && r._3 > st.tv =>
                st.copy(tc = r._3)
              case "purchase" if st.tc != Unset && st.tp == Unset && r._3 > st.tc =>
                st.copy(tp = r._3)
              case _ => st
            }
          }
          state.update(next)
          Iterator.single(FunnelRow(user, next.tv != Unset,
            next.tc != Unset, next.tp != Unset))
      }
      .toDF()
  }

  /** Per-user running aggregate state for [[statefulTrack]]. */
  final case class UserState(n_events: Long, sum_value: Double, last_ts: Long)
  final case class UserTrack(user_id: Long, n_events: Long,
                             sum_value: Double, last_ts: Long)

  /** Custom stateful tracking via `flatMapGroupsWithState` — the
    * general tool when built-in windows can't express the state
    * machine (reference: the stream design's per-key incremental
    * state). State is one small struct per user (bounded), updated
    * per micro-batch; in BATCH execution the same code sees each
    * group once with empty initial state, so batch output == final
    * streaming state — which is what the DuckDB oracle checks. */
  def statefulTrack(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val typed = events.select(col("user_id"), col("value"),
      unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Double, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[UserState, UserTrack](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue))
          val next = rows.foldLeft(prev) { (s, r) =>
            UserState(s.n_events + 1, s.sum_value + r._2, math.max(s.last_ts, r._3))
          }
          state.update(next)
          Iterator.single(UserTrack(user, next.n_events,
            math.rint(next.sum_value * 100) / 100, next.last_ts))
      }
      .toDF()
  }

  /** Streaming ingestion INTO the KV store — the scenario the
    * reference's stream design actually describes
    * (`/root/reference/docs/stream_design.md`: a stream of writes
    * absorbed by the LSM engine): each micro-batch is appended as
    * one immutable KV run (the memtable-flush analog), and any
    * [[graft.kv.KVTable]] read over the accumulated runs sees
    * latest-seq-wins semantics. No per-row writes, no state store —
    * the LSM "many runs, merge on read" shape IS the streaming
    * sink. */
  /** Stream-stream INTERVAL join (click → purchase within 1 hour per
    * user): the canonical two-stream correlation. Both sides carry
    * watermarks and the join condition bounds p_ts to
    * [c_ts, c_ts + 1h], so streaming state is bounded — each side
    * buffers at most watermark + interval of rows per key-group.
    * Timestamps are µs-truncated on BOTH engines (the oracle
    * reconstructs them via make_timestamp(epoch_us(ts))), so the
    * boundary compare is identical. In batch execution the same plan
    * is a plain interval join. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), unix_micros(col("c_ts")).as("click_ts"),
        unix_micros(col("p_ts")).as("purch_ts"))
  }

  /** Streaming dedup of a keyed stream (the ingest-time dedup stage
    * of a training pipeline): first occurrence of each
    * (user_id, event_type) passes, duplicates drop. State = one
    * entry per distinct key. Batch execution of the same plan is a
    * plain distinct, which is what the oracle checks. */
  def streamDistinctKeys(events: DataFrame): DataFrame =
    events.select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")

  /** Exact decile upper bounds of the static reference slice — ten
    * doubles of driver-side index metadata (the same train-once-
    * broadcast discipline as the IVF centroids), consumed by
    * [[driftCounts]] as a literal. Computed by the distributed exact
    * rank-selection in [[graft.operators.RankSelect]] (bit-identical
    * to the ntile window it replaces — StreamingSpec pins it), never
    * a single-partition global window. */
  def decileBounds(events: DataFrame): Seq[Double] =
    graft.operators.RankSelect.decileBounds(events, "value", "event_id")

  /** ONLINE drift monitor — the stream-STATIC enrichment pattern: the
    * static side (decile boundaries of the historical reference) is
    * folded into a sorted array literal, so bucket assignment is a
    * stateless expression on the stream — no join state, no shuffle
    * for the enrichment — and the only stateful operator is one
    * watermarked window × bucket count. Bucket = first boundary ≥
    * value, computed as `11 − |{ub : value ≤ ub}|` clamped to 10
    * (equal to the min-matching-bucket rule, ties included).
    * `bounds` must be ascending. */
  def driftCounts(events: DataFrame, bounds: Seq[Double]): DataFrame = {
    val ubs = array(bounds.map(lit): _*)
    val bucket =
      least(lit(11) - size(filter(ubs, b => col("value") <= b)), lit(10))
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"),
        bucket.cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("win_start"),
        col("bucket"), col("n"))
  }

  /** One micro-batch → one run DIRECTORY keyed by batchId, written
    * with overwrite: a replayed micro-batch (failure before the
    * offset commit) replaces its own previous — possibly partial —
    * output instead of appending duplicate runs. This is the
    * idempotence the reference gets from WAL record framing +
    * sequence-checked replay
    * (`storage_engine/src/wal/wal_record_writer.rs`); here the
    * batchId is the framing. Same write rule as `KVLog.append` and
    * `KVTable.compactTo` ([[graft.kv.KVRun]]): every run carries a key
    * bloom filter, sized to the file's distinct keys at 1% false
    * positives with a 1 MiB cap, so point gets prune fresh
    * uncompacted runs. */
  def ingestBatch(batch: DataFrame, runsDir: String, batchId: Long): Unit =
    graft.kv.KVRun.write(batch.write.mode("overwrite"), "key",
      s"$runsDir/run-$batchId")

  /** All accumulated runs of a [[kvIngest]] directory (one subdir per
    * micro-batch). */
  def kvRuns(spark: SparkSession, runsDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(runsDir)

  def kvIngest(stream: DataFrame, runsDir: String): StreamingQuery =
    stream
      .select(col("user_id").as("key"), col("event_id").as("seq"),
        (col("event_type") === "error").as("tombstone"), col("value").as("v"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch, runsDir, batchId)
      }
      .outputMode("append")
      .start()

  /** Batch form of the [[matviewIngest]] view — per-user event count
    * and EXACT decimal sum. The cumulative decimal is pinned at
    * (22,2) so per-batch additions don't grow precision toward the
    * 38-digit ceiling. Streaming maintenance must converge to
    * exactly this (the oracle checks it). */
  def matviewBatch(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("decimal(22,2)").as("sum_value"))

  /** One maintenance step of the incrementally-maintained aggregate
    * view: merge the micro-batch's delta into the cumulative state
    * and emit ONE new KV run holding updated rows for TOUCHED KEYS
    * ONLY (seq = batchId, latest-wins merge serves reads) — the
    * LSM-native upsert materialized view. Exactly-once on retry
    * comes from reading only runs with id < batchId (a replayed
    * batch recomputes from the same prior state and overwrites its
    * own run), the same batchId framing as [[ingestBatch]].
    *
    * Scale: each step shuffles only the delta's keys; state reads
    * merge the accumulated runs (compact periodically with
    * [[graft.kv.KVTable.compactTo]] exactly like any LSM). */
  def maintainMatview(batch: DataFrame, runsDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val delta = matviewBatch(batch)
    val priorDirs = Option(new java.io.File(runsDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("run-") &&
        f.getName.stripPrefix("run-").toLong < batchId)
      .map(_.getAbsolutePath)
    val updated =
      if (priorDirs.isEmpty) delta
      else {
        // prior state for the DELTA'S KEYS ONLY: semi-join the runs
        // before merging (the KVTable.get pattern) — the step costs
        // O(delta), not O(total keys), as a per-key upsert must
        val prev = graft.kv.KVTable(
          spark.read.option("recursiveFileLookup", "true")
            .parquet(priorDirs: _*)
            .join(broadcast(delta.select("user_id")), Seq("user_id"), "left_semi"),
          "user_id", "seq", "tombstone")
          .merged()
          .select(col("user_id"), col("n_events").as("prev_n"),
            col("sum_value").as("prev_sum"))
        val zero = lit(BigDecimal(0)).cast("decimal(22,2)")
        delta.join(prev, Seq("user_id"), "left")
          .select(col("user_id"),
            (col("n_events") + coalesce(col("prev_n"), lit(0L))).as("n_events"),
            // SQL sum-ignoring-nulls semantics: both sides null stays
            // null (a user that has only null values so far); one
            // null side contributes zero instead of nulling the total
            when(col("sum_value").isNull && col("prev_sum").isNull,
              lit(null).cast("decimal(22,2)"))
              .otherwise((coalesce(col("sum_value"), zero) +
                coalesce(col("prev_sum"), zero)).cast("decimal(22,2)"))
              .as("sum_value"))
      }
    ingestBatch(
      updated.select(col("user_id"), lit(batchId).as("seq"),
        lit(false).as("tombstone"), col("n_events"), col("sum_value")),
      runsDir, batchId)
  }

  /** Continuous maintenance of the view from a raw event stream. */
  def matviewIngest(stream: DataFrame, runsDir: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        maintainMatview(batch, runsDir, batchId)
      }
      .outputMode("append")
      .start()

  /** Current view contents: latest-wins merge of the run layout. */
  def matviewRead(spark: SparkSession, runsDir: String): DataFrame =
    graft.kv.KVTable(kvRuns(spark, runsDir), "user_id", "seq", "tombstone")
      .merged()
      .select("user_id", "n_events", "sum_value")

  /** Streaming IVF cell assignment — the streaming face of
    * ann_ivf_append's delta build: arriving vectors are assigned to
    * the FROZEN base centroids (a literal compiled into the
    * expression, zero join state — the same stream-static enrichment
    * shape as [[driftCounts]]) and counted per cell. The per-cell
    * arrival stats are what an index maintainer appends to inverted
    * lists and watches to decide when staleness demands a retrain.
    * Stateless per row + ONE streaming hash-agg: incremental by
    * construction, state bounded by |cells|. */
  /** Online near-dup suppression state — the streaming face of
    * `dedup_minhash_lsh`: each arriving document explodes into its 16
    * LSH band keys, and per band bucket the state is ONE
    * `(owner = min doc_id, count)` pair maintained by a streaming
    * hash-agg (first-writer-wins: a later doc colliding in any bucket
    * is a near-dup candidate against that bucket's owner). Emitted:
    * only the COLLIDED buckets. State is corpus-linear in distinct
    * band keys — the honest cost of online dedup, held in the state
    * store (RocksDB-backed at scale) keyed by fixed-width
    * (band_id, band_hash); nothing is ever driver-held, and no pair
    * join exists on the stream path at all. */
  /** Streaming quality-gate monitor — the Gopher rule filter
    * ([[graft.operators.TextAnalysis.gopherKeepCol]], the ONE
    * definition of the rule) run at ingest time, with per-source
    * pass/drop counts as the continuously maintained health report: a
    * source whose drop share jumps mid-crawl is flagged while the
    * crawl is still running, not after. The keep decision is pure
    * per-row expressions (stateless, whole-stage codegen — no window,
    * no join), so the only streaming state is the |sources|-row
    * count aggregate; incremental by construction. */
  def qualityGate(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("source"),
        graft.operators.TextAnalysis.gopherKeepCol(col("text")).as("keep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_keep"),
        count(when(!col("keep"), 1)).as("n_drop"))

  /** Per-user first-seen timestamp — a streaming MIN aggregate. Min
    * is arrival-order independent, which is what makes the retention
    * pipeline exactly streamable under ANY arrival order (a
    * sequence-sensitive metric like the strict funnel is not: its
    * "first click AFTER the first view" depends on an aggregate the
    * stream is still refining). State: one timestamp per user. */
  def userFirstSeen(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(min("ts").as("first_ts"))

  /** Distinct (user, week) activity — a streaming keyed aggregate
    * whose KEYS are the payload (the count is discarded at read
    * time). State: one entry per user-week, bounded by users ×
    * horizon weeks. */
  def userWeeks(events: DataFrame): DataFrame =
    events.select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      .groupBy("user_id", "wk")
      .agg(count(lit(1)).as("n"))

  /** Read-time composition of the two maintained tables into the
    * cohort-retention triangle (q55's split form — the multi-query
    * composition pattern: each half streams incrementally, the cheap
    * join+rollup runs over aggregate-sized tables at read time, like
    * [[rankTopTypes]] over the windowed counts). */
  def retentionRead(firstSeen: DataFrame, weeks: DataFrame): DataFrame =
    weeks.select("user_id", "wk")
      // BOTH sides are |users|-proportional aggregate outputs — at
      // test SF either would fit a driver hashed relation, at 10 B
      // users neither can (SURVEY §4.3's trap class). The pin keeps
      // the keyed join; both inputs already hash-partition on
      // user_id from their aggregates, so the shuffle reuses that
      // partitioning where a broadcast would ADD a driver build.
      .join(firstSeen.select(col("user_id"),
        date_trunc("week", col("first_ts")).cast("date").as("cohort"))
        .hint("shuffle_hash"),
        Seq("user_id"))
      .groupBy("cohort", "wk")
      .agg(countDistinct("user_id").as("n_active"))

  def minhashBucketOwners(docsDf: DataFrame): DataFrame =
    graft.operators.Dedup.bandTable(docsDf)
      .groupBy(col("band_id").cast("bigint").as("band_id"), col("band_hash"))
      .agg(min("doc_id").as("owner"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)

  /** Per-row distinct word-5-gram set of `text` — the ONE n-gram
    * derivation shared by [[contaminationGuard]] (train side) and
    * [[evalNgramSet]] (eval side); the guard's ratios are only
    * meaningful if both sides tokenize identically, so neither may
    * own a private copy. */
  private def ngramArray: Column = {
    val toks = split(col("text"), "\\s+")
    when(size(toks) >= 5,
        array_distinct(transform(sequence(lit(0), size(toks) - 5),
          i => concat_ws(" ", slice(toks, i + 1, lit(5))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Ingest-time eval-contamination guard — the streaming face of
    * `dedup_contamination` with the direction flipped: each ARRIVING
    * train document is scored against the STATIC eval benchmark's
    * word-5-gram set (the decision a pipeline makes at ingest:
    * quarantine before the doc ever lands in training data). N-grams
    * are built per-row from the token array (array-slice transform +
    * array_distinct — deliberately NO window function, which a
    * streaming plan cannot run), the eval set rides a stream-static
    * broadcast join (eval benchmarks are SMALL by contract — the
    * static side is the one side that genuinely belongs on the
    * driver), and the only stateful operator is the per-doc count
    * hash-agg. */
  def contaminationGuard(docsDf: DataFrame, evalNgrams: DataFrame): DataFrame = {
    docsDf.select(col("doc_id"), explode(ngramArray).as("ng"))
      .join(broadcast(evalNgrams.withColumn("hit", lit(1L))), Seq("ng"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_ngrams")).as("ratio"))
  }

  /** The static eval-side 5-gram set consumed by
    * [[contaminationGuard]] (docs with doc_id % 50 == 0, the same
    * eval slice as the batch op). */
  def evalNgramSet(docsDf: DataFrame): DataFrame =
    docsDf.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(explode(ngramArray).as("ng")).distinct()

  /** BACKFILL half of the batch+stream seam ([[tailAgg]]'s sibling —
    * together the lambda/kappa unification every migrating pipeline
    * runs: history served from a batch recompute, the live tail from
    * a stream, one view over both): the per-user aggregate of the
    * historical log at or below the seam. State is exact DECIMAL so
    * composition with the tail is an equality, not an approximation
    * (the matview rule). */
  def backfillAgg(events: DataFrame, cut: Long): DataFrame =
    events.filter(col("event_id") <= cut)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_backfill"),
        sum(col("value").cast("decimal(12,2)")).as("sum_backfill"))

  /** STREAMING tail half: the same aggregate over rows STRICTLY above
    * the seam — the filter runs before any state, so at-least-once
    * redelivery of pre-seam rows across the cutover (the classic
    * double-count bug in lambda architectures) is dropped
    * structurally, not by dedup state. Aggregates are order-free
    * (count, exact decimal sum), so stream == batch under any arrival
    * interleaving; state is one (count, decimal) pair per user. */
  def tailAgg(events: DataFrame, cut: Long): DataFrame =
    events.filter(col("event_id") > cut)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_tail"),
        sum(col("value").cast("decimal(12,2)")).as("sum_tail"))

  /** Read-time composition of backfill + tail into the served view:
    * FULL OUTER on the key (a user may exist on either side only),
    * exact decimal addition, double only at the output boundary. Both
    * sides are |users|-proportional aggregates — keyed shuffle join,
    * never a driver build (the retentionRead pin). */
  def backfillServe(backfill: DataFrame, tail: DataFrame): DataFrame = {
    val zero = lit(0).cast("decimal(22,2)")
    backfill.join(tail.hint("shuffle_hash"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("n_backfill"), lit(0L)).as("n_backfill"),
        coalesce(col("n_tail"), lit(0L)).as("n_tail"),
        (coalesce(col("n_backfill"), lit(0L)) +
          coalesce(col("n_tail"), lit(0L))).as("n_events"),
        (coalesce(col("sum_backfill"), zero) + coalesce(col("sum_tail"), zero))
          .cast("double").as("sum_value"))
  }

  def ivfAssignCounts(vecs: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    vecs.withColumn("cell", graft.operators.Similarity.cellExpr(
        typedLit(centroids), col("v")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_new"),
        min("vec_id").as("first_id"), max("vec_id").as("last_id"))

  /** Watermark-lateness fixtures: the deterministic ARRIVAL model the
    * late audit replays. Arrival order is the seq quartile, except
    * stragglers (seq % 37 = 0) deliver TWO batches late — the mobile-
    * client / regional-shard replay every event pipeline fights. A
    * one-batch delay would never be late here (each batch spans days,
    * the watermark 30 min); two batches puts a straggler's window end
    * squarely below the filter watermark. Returns (seq, tus, bid). */
  def lateArrivalBatches(events: DataFrame, nBatches: Int = 4): DataFrame = {
    val e = events.select(col("event_id").as("seq"),
      unix_micros(col("ts")).as("tus"))
    val m = e.agg(max("seq")).head().getLong(0)
    val base = (1 until nBatches)
      .map(k => (col("seq") > lit(m * k / nBatches)).cast("int"))
      .reduce(_ + _) + 1
    e.withColumn("bid",
      least(lit(nBatches),
        base + when(col("seq") % 37 === 0, 2).otherwise(0)).cast("long"))
  }

  /** CLOSED-FORM replay of Spark's measured late-drop protocol
    * (Spark 4.1, pinned in BoundarySpec): the filter watermark active
    * while batch i runs is max event time through batch i−2 minus the
    * delay — one batch BEHIND the eviction watermark the progress
    * reports (the lag measured batch-by-batch: a late row sails into
    * batch i−1, the identical row drops in batch i) — and a row drops
    * iff its WINDOW END (not its raw event time) is ≤ that watermark,
    * equality inclusive. Output: per ingest batch, events, the active
    * filter watermark and the on-time/late split. The per-batch frame
    * is the 4-row aggregate; the only corpus-sized work is one scan +
    * one keyed batch-id agg + one broadcast join back. */
  def lateAudit(events: DataFrame, delayUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wb = lateArrivalBatches(events)
    val pb = wb.groupBy("bid")
      .agg(count(lit(1)).as("ne"), max("tus").as("mt"))
    val w = Window.orderBy("bid").rowsBetween(Window.unboundedPreceding, -2)
    val wm = pb.withColumn("fwm", max("mt").over(w) - delayUs)
      .select(col("bid"), col("fwm"))
    val winEnd = (expr("tus DIV 3600000000") + 1) * 3600000000L
    wb.join(broadcast(wm), "bid")
      .groupBy("bid")
      .agg(count(lit(1)).as("n_events"),
        max("fwm").as("wm_us"),
        count(when(winEnd <= col("fwm"), 1)).as("n_late"))
      .select(col("bid").as("batch_id"), col("n_events"), col("wm_us"),
        col("n_late"), (col("n_events") - col("n_late")).as("n_on_time"))
      .orderBy("batch_id")
  }

  /** Watermark TUNING sweep over a delay grid: for each candidate
    * delay, the total rows [[lateAudit]]'s protocol would drop AND
    * the state cost — open (unfinalized) hour windows at end of
    * stream. One events×delays broadcast join does the whole sweep;
    * chosen = the smallest delay whose drop share clears the 0.1%
    * retention bar (every candidate flagged so the report stands
    * alone). The grid spans the ARRIVAL-lateness scale (half-hour to
    * 8 days — the straggler model delivers two ~2-day batches late,
    * so minute-scale grids all fail and day-scale ones recover). */
  def watermarkTune(events: DataFrame, delaysUs: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = events.sparkSession
    import s.implicits._
    val wb = lateArrivalBatches(events)
    val pb = wb.groupBy("bid")
      .agg(count(lit(1)).as("ne"), max("tus").as("mt"))
    val w = Window.orderBy("bid").rowsBetween(Window.unboundedPreceding, -2)
    val wm = pb.withColumn("pm", max("mt").over(w)).select(col("bid"), col("pm"))
    val globalMax = wb.agg(max("tus")).head().getLong(0)
    val total = wb.count()
    val delays = delaysUs.toDF("delay_us")
    val winEnd = (expr("tus DIV 3600000000") + 1) * 3600000000L
    val late = wb.join(broadcast(wm), "bid")
      .crossJoin(broadcast(delays))
      .groupBy("delay_us")
      .agg(count(when(winEnd <= col("pm") - col("delay_us"), 1)).as("n_late"))
    val open = wb.crossJoin(broadcast(delays))
      .filter(winEnd > lit(globalMax) - col("delay_us"))
      .groupBy("delay_us")
      .agg(countDistinct(expr("tus DIV 3600000000")).as("n_open_windows"))
    val scored = late.join(open, Seq("delay_us"), "left")
      .na.fill(0L, Seq("n_open_windows"))
      .withColumn("drop_share", col("n_late").cast("double") / total)
    val best = scored.filter(col("drop_share") <= 0.001)
      .agg(min("delay_us").as("bd"))
    scored.crossJoin(broadcast(best))
      .select(expr("delay_us DIV 60000000").as("delay_min"),
        col("n_late"), col("drop_share"), col("n_open_windows"),
        (col("delay_us") <=> col("bd")).as("chosen"))
      .orderBy("delay_min")
  }

  /** Run a batch-defined transform as a real streaming query over a
    * file source, writing to an in-memory sink table; returns the
    * started query (caller awaits + reads `spark.table(sinkTable)`).
    * Used by specs to prove the plans are streaming-executable. */
  def runFileStream(spark: SparkSession, srcDir: String,
                    schemaOf: DataFrame, transform: DataFrame => DataFrame,
                    sinkTable: String, outputMode: String = "complete"): StreamingQuery = {
    val stream = spark.readStream
      .schema(schemaOf.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    transform(stream).writeStream
      .format("memory")
      .queryName(sinkTable)
      .outputMode(outputMode)
      .start()
  }
}
