package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.Streams

/** Proves the §2.4 transforms execute as REAL streaming queries
  * (file source → watermark → stateful agg → memory sink) and that
  * the streaming result equals the batch run of the same plan —
  * which is the contract that lets the DuckDB oracle check the batch
  * form. */
class StreamingSpec extends SparkSuite {

  private def withEventsStream(test: (String, org.apache.spark.sql.DataFrame) => Unit): Unit = {
    val events = Tables.load(spark, sfDir, "events").cache()
    val src = Files.createTempDirectory("graft_stream_src").toString
    // Four time-ordered chunks written with distinct mtimes so the
    // file source replays them chronologically (maxFilesPerTrigger=1
    // → genuine multi-batch incremental execution). An out-of-order
    // replay would make the 1h watermark drop "late" quartiles —
    // correct streaming semantics, but not the scenario under test.
    val quartiles = events.stat.approxQuantile("event_id",
      Array(0.25, 0.5, 0.75), 0.001).map(_.toLong).toSeq
    val clock = new ChunkStamper(src)
    (Seq(Long.MinValue) ++ quartiles ++ Seq(Long.MaxValue)).sliding(2).foreach {
      case Seq(lo, hi) =>
        events.filter(col("event_id") > lo && col("event_id") <= hi)
          .coalesce(1).write.mode("append").parquet(src)
        clock.stamp()
      case _ =>
    }
    test(src, events)
  }

  test("windowed aggregation streams incrementally and matches batch") {
    withEventsStream { (src, events) =>
      val q = Streams.runFileStream(spark, src, events, Streams.windowAgg, "win_sink")
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("win_sink").orderBy("win_start", "event_type").collect()
      val batch = Streams.windowAgg(events).orderBy("win_start", "event_type").collect()
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.nonEmpty)
      // rank-in-the-sink: top-3 over the streamed aggregate state ==
      // the fused batch stream_topk op
      val streamedTopk = Streams.rankTopTypes(
        spark.table("win_sink").drop("sum_value")).collect()
      val batchTopk = SparkEntry.queries("stream_topk")(spark, sfDir).collect()
      assert(streamedTopk.toSeq == batchTopk.toSeq)
    }
  }

  test("OHLC bars stream incrementally via ordered-aggregate state and match batch") {
    withEventsStream { (src, events) =>
      // four micro-batches: min_by/max_by (value, key) partials must
      // merge across batch boundaries for open/close to come out right
      val q = Streams.runFileStream(spark, src, events, Streams.ohlcBars, "ohlc_sink")
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("ohlc_sink").orderBy("user_id", "bar_start").collect()
      val batch = Streams.ohlcBars(events).orderBy("user_id", "bar_start").collect()
      assert(streamed.toSeq == batch.toSeq, "streamed bars diverge from batch")
      assert(streamed.nonEmpty)
    }
  }

  test("drift monitor streams with stateless static enrichment and matches batch") {
    withEventsStream { (src, events) =>
      // the static side (decile bounds) is a literal in the plan —
      // the stream carries NO join state, only the window×bucket agg
      val bounds = Streams.decileBounds(events)
      assert(bounds.length == 10 && bounds == bounds.sorted)
      // the distributed rank-selection must reproduce the global
      // ntile window EXACTLY (test code may use the single-partition
      // window it replaced — production code may not)
      val viaNtile = {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        events.select(col("event_id"), col("value"))
          .withColumn("b", ntile(10).over(Window.orderBy("value", "event_id")))
          .groupBy("b").agg(max("value").as("ub")).orderBy("b")
          .collect().map(_.getDouble(1)).toSeq
      }
      assert(bounds == viaNtile,
        s"distributed decile selection diverges from ntile: $bounds vs $viaNtile")
      // n < 10 edge: ntile emits one bucket per row and no rows for
      // empty buckets — the rank-selection's strictly-increasing
      // target filter must reproduce exactly that
      locally {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val tiny = Seq((1L, 5.0), (2L, 1.0), (3L, 3.0)).toDF("event_id", "value")
        val viaSelect = graft.operators.RankSelect
          .decileBounds(tiny, "value", "event_id")
        val viaWin = tiny
          .withColumn("b", ntile(10).over(Window.orderBy("value", "event_id")))
          .groupBy("b").agg(max("value").as("ub")).orderBy("b")
          .collect().map(_.getDouble(1)).toSeq
        assert(viaSelect == viaWin,
          s"n<10 decile selection diverges: $viaSelect vs $viaWin")
      }
      val q = Streams.runFileStream(spark, src, events,
        Streams.driftCounts(_, bounds), "drift_sink")
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("drift_sink").orderBy("win_start", "bucket").collect()
      val batch = Streams.driftCounts(events, bounds)
        .orderBy("win_start", "bucket").collect()
      assert(streamed.toSeq == batch.toSeq, "streamed drift diverges from batch")
      assert(streamed.nonEmpty)
      // every event lands in exactly one bucket
      assert(streamed.map(_.getLong(2)).sum == events.count())
    }
  }

  test("flatMapGroupsWithState tracks per-user state across micro-batches") {
    withEventsStream { (src, events) =>
      val q = Streams.runFileStream(spark, src, events, Streams.statefulTrack,
        "track_sink", outputMode = "update")
      q.processAllAvailable()
      q.stop()
      // update mode emits one row per touched user per micro-batch;
      // the LAST emission per user is the final state
      val finalState = spark.table("track_sink")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")
            .orderBy(col("n_events").desc)))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("user_id").collect()
      val batch = Streams.statefulTrack(events).orderBy("user_id").collect()
      assert(finalState.toSeq == batch.toSeq)
      assert(finalState.nonEmpty)
    }
  }

  test("as-of enrichment streams per-event emissions; state carries the last click across batches") {
    withEventsStream { (src, events) =>
      val q = Streams.runFileStream(spark, src, events, Streams.asofEnrich,
        "asof_sink", outputMode = "append")
      q.processAllAvailable()
      q.stop()
      // append mode: each purchase emitted exactly once, enriched with
      // state at its batch — equal to batch iff the last-click state
      // survives batch boundaries
      val streamed = spark.table("asof_sink").orderBy("user_id", "purch_id").collect()
      val batch = Streams.asofEnrich(events).orderBy("user_id", "purch_id").collect()
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.nonEmpty)
      // the carry genuinely happened: some purchase in a LATER file
      // is enriched by a click from an EARLIER one (else this test
      // would pass with per-batch state resets)
      val quartiles = events.stat.approxQuantile("event_id",
        Array(0.25, 0.5, 0.75), 0.001).map(_.toLong)
      val crossBatch = spark.table("asof_sink")
        .join(events.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_micros(col("ts")).as("click_ts")), Seq("user_id", "click_ts"))
        .filter(col("purch_id") > quartiles(0) && col("click_id") <= quartiles(0))
      assert(crossBatch.count() > 0, "no purchase was enriched across a batch boundary")
    }
  }

  test("funnel state machine streams per-user progression and converges to batch") {
    withEventsStream { (src, events) =>
      val q = Streams.runFileStream(spark, src, events, Streams.funnelTrack,
        "funnel_sink", outputMode = "update")
      q.processAllAvailable()
      q.stop()
      // update mode emits the running funnel per touched user per
      // batch; reached flags are monotone, so the OR across emissions
      // is the final state
      val streamed = spark.table("funnel_sink")
        .groupBy("user_id")
        .agg(max(col("reached_view")).as("reached_view"),
          max(col("reached_click")).as("reached_click"),
          max(col("reached_purchase")).as("reached_purchase"))
        .orderBy("user_id").collect()
      val batch = Streams.funnelTrack(events).orderBy("user_id").collect()
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.nonEmpty)
      // progression is genuinely strict: reached_purchase implies
      // reached_click implies reached_view on every row
      batch.foreach { r =>
        assert(!r.getBoolean(3) || r.getBoolean(2), "purchase without click")
        assert(!r.getBoolean(2) || r.getBoolean(1), "click without view")
      }
    }
  }

  test("stream-stream interval join runs as two real streams and matches batch") {
    withEventsStream { (src, events) =>
      val mk = () => spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      // inner stream-stream joins emit eagerly on match; the
      // watermarks only bound buffered state
      val q = Streams.clickPurchaseJoin(mk(), mk()).writeStream
        .format("memory").queryName("ssj_sink").outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("ssj_sink")
        .orderBy("user_id", "click_ts", "purch_ts").collect()
      val batch = Streams.clickPurchaseJoin(events, events)
        .orderBy("user_id", "click_ts", "purch_ts").collect()
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.nonEmpty)
    }
  }

  test("streaming dedup emits each key once across micro-batches, matches batch distinct") {
    withEventsStream { (src, events) =>
      val q = Streams.runFileStream(spark, src, events,
        Streams.streamDistinctKeys, "dedup_sink", outputMode = "append")
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("dedup_sink").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // no key emitted twice, even though duplicates arrive in
      // different micro-batches (cross-batch state)
      assert(streamed.length == streamed.distinct.length)
      val batch = Streams.streamDistinctKeys(events).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(streamed.toSet == batch.toSet)
      assert(streamed.nonEmpty)
    }
  }

  test("streaming KV ingestion: micro-batch runs merge to the batch KV view") {
    withEventsStream { (src, events) =>
      val runsDir = Files.createTempDirectory("graft_kv_runs").toString + "/runs"
      val stream = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = Streams.kvIngest(stream, runsDir)
      q.processAllAvailable()
      q.stop()
      // ≥4 independent batchId-keyed run dirs (one per micro-batch)
      val runDirs = new java.io.File(runsDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("run-"))
      assert(runDirs.length >= 4, s"expected one run dir per micro-batch, got ${runDirs.length}")
      // every streamed run can reject an absent point-get key without
      // decoding pages (same rule as KVLog.append): via the bloom
      // filter, or — for chunks parquet kept fully dictionary-encoded,
      // common in small micro-batches with few distinct keys — via the
      // dictionary itself (exact membership, so parquet-mr skips the
      // now-redundant bloom filter by design)
      locally {
        import scala.jdk.CollectionConverters._
        val f = runDirs.head.listFiles().filter(_.getName.endsWith(".parquet")).head
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            spark.sparkContext.hadoopConfiguration))
        try {
          val keyChunk = reader.getFooter.getBlocks.get(0).getColumns.asScala
            .find(_.getPath.toDotString == "key").get
          val dictComplete = !keyChunk.getEncodingStats.hasNonDictionaryEncodedPages
          assert(keyChunk.getBloomFilterOffset > 0 || dictComplete,
            "streamed run can't reject absent keys: no bloom filter and " +
              "non-dictionary pages present")
        } finally reader.close()
      }
      // merged read over the accumulated runs == batch KV merge
      val streamedKv = graft.kv.KVTable(
        Streams.kvRuns(spark, runsDir), "key", "seq", "tombstone")
        .merged().orderBy("key").collect()
      val batchKv = graft.kv.KVTable(
        events.selectExpr("user_id AS key", "event_id AS seq",
          "event_type = 'error' AS tombstone", "value AS v"),
        "key", "seq", "tombstone")
        .merged().orderBy("key").collect()
      assert(streamedKv.toSeq == batchKv.toSeq)
      assert(streamedKv.nonEmpty)

      // micro-batch RETRY idempotence: replaying a batchId (failure
      // before the offset commit) must leave the merged view
      // unchanged — the run replaces itself instead of duplicating
      val replayId = runDirs.map(_.getName.stripPrefix("run-").toLong).min
      val orig = Streams.kvRuns(spark, s"$runsDir/run-$replayId")
      // snapshot before re-ingesting: overwrite targets the dir read
      val replayed = spark.createDataFrame(
        spark.sparkContext.parallelize(orig.collect().toSeq), orig.schema)
      Streams.ingestBatch(replayed, runsDir, replayId)
      val afterReplay = graft.kv.KVTable(
        Streams.kvRuns(spark, runsDir), "key", "seq", "tombstone")
        .merged().orderBy("key").collect()
      assert(afterReplay.toSeq == streamedKv.toSeq,
        "replaying a micro-batch changed the merged KV view")

      // the full LSM loop: background compaction folds the
      // accumulated micro-batch runs into key-range-clustered files
      // (+ bloom filter on key) and reads stay identical
      val compactDir = runsDir + "_compacted"
      val compacted = graft.kv.KVTable(
        Streams.kvRuns(spark, runsDir), "key", "seq", "tombstone")
        .compactTo(compactDir, numRanges = 4)
      assert(compacted.merged().orderBy("key").collect().toSeq == streamedKv.toSeq,
        "compaction of streamed runs changed the merged view")
      assert(new java.io.File(compactDir).listFiles()
        .count(_.getName.endsWith(".parquet")) == 4)
    }
  }

  test("ingestBatch sizes each run file's key filter to the keys it holds") {
    import spark.implicits._
    val runsDir = Files.createTempDirectory("graft_kv_runs_filter").toString + "/runs"
    val batch = (0L until 1000L).map(k => (k * 8, k, false, k.toDouble))
      .toDF("key", "seq", "tombstone", "v").coalesce(1)
    Streams.ingestBatch(batch, runsDir, 0L)
    val filters = keyFilters(s"$runsDir/run-0")
    assert(filters.nonEmpty)
    filters.foreach(f => assert(f.getBitsetSize <= 16 * 1024,
      s"key filter of ${f.getBitsetSize} bytes for 1,000 keys"))
  }

  test("incremental materialized view converges to batch and survives replay") {
    withEventsStream { (src, events) =>
      val runsDir = Files.createTempDirectory("graft_matview").toString + "/runs"
      val stream = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = Streams.matviewIngest(stream, runsDir)
      q.processAllAvailable()
      q.stop()
      // incremental maintenance across ≥4 micro-batches == batch agg,
      // EXACTLY (decimal sums make this an equality)
      val view = Streams.matviewRead(spark, runsDir)
        .orderBy("user_id").collect()
      val batch = Streams.matviewBatch(events).orderBy("user_id").collect()
      assert(view.toSeq == batch.toSeq)
      assert(view.nonEmpty)
      // retry exactly-once: recompute a MIDDLE batch from its prior
      // state (only runs with id < batchId are read) — the view must
      // not double-count
      val ids = new java.io.File(runsDir).listFiles()
        .filter(_.getName.startsWith("run-"))
        .map(_.getName.stripPrefix("run-").toLong).sorted
      assert(ids.length >= 4)
      val replayId = ids(ids.length / 2)
      // re-run maintenance with the SAME batch rows, read back from
      // the source chunk files in commit order (maxFilesPerTrigger=1
      // maps file N to micro-batch N)
      Streams.maintainMatview(
        spark.createDataFrame(
          spark.sparkContext.parallelize(
            chunkRows(src, replayId.toInt)), events.schema),
        runsDir, replayId)
      val afterReplay = Streams.matviewRead(spark, runsDir)
        .orderBy("user_id").collect()
      assert(afterReplay.toSeq == batch.toSeq,
        "replaying a micro-batch changed the materialized view")
    }
  }

  /** Rows of the Nth source chunk file (files are written in batch
    * order by withEventsStream; maxFilesPerTrigger=1 maps file N to
    * micro-batch N). */
  private def chunkRows(src: String, n: Int): Seq[org.apache.spark.sql.Row] = {
    val files = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    spark.read.parquet(files(n).getAbsolutePath).collect().toSeq
  }

  test("sessionization streams with session_window state and matches batch") {
    withEventsStream { (src, events) =>
      val q = Streams.runFileStream(spark, src, events, Streams.sessionize, "sess_sink")
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("sess_sink").orderBy("user_id", "s_start").collect()
      val batch = Streams.sessionize(events).orderBy("user_id", "s_start").collect()
      assert(streamed.toSeq == batch.toSeq)
      assert(streamed.nonEmpty)
      // session invariant: end = start + ≥gap, events ≥ 1
      streamed.foreach { r =>
        assert(r.getLong(2) >= r.getLong(1) + 30L * 60 * 1000000)
        assert(r.getLong(3) >= 1)
      }
    }
  }

  test("watermark drops data later than the delay, keeps data within it (measured pin)") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(id: Long, hhmm: String): (Long, Timestamp, Long, String, Double, String) =
      (id, Timestamp.valueOf(s"2024-01-01 $hhmm:00"), 1L, "click", 1.0, "{}")
    val schema = Seq(ev(0L, "00:00")).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val src = Files.createTempDirectory("graft_late_src").toString
    // start the query FIRST and drain between writes — each file is
    // then a separate micro-batch with the watermark advanced in
    // between (writing everything up front can coalesce/reorder
    // batches and void the late-arrival scenario)
    Seq(ev(0L, "11:30")).toDF(schema.columns: _*)
      .coalesce(1).write.mode("append").parquet(src)
    val q = Streams.runFileStream(spark, src, schema, Streams.windowAgg,
      "late_sink", outputMode = "append")
    q.processAllAvailable()
    // batch: window 12:00 gets two events; 15:00 pushes the
    // watermark to 14:00 (1h delay) once the batch commits
    Seq(ev(1L, "12:00"), ev(2L, "12:10"), ev(3L, "15:00"))
      .toDF(schema.columns: _*).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    // batch: 12:05 is LATE beyond the watermark (12:05 < 14:00) →
    // must be dropped; 14:30 is out-of-order but within the delay
    // (14:30 ≥ 14:00) → must be counted
    Seq(ev(4L, "12:05"), ev(5L, "14:30"))
      .toDF(schema.columns: _*).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    // batch: advance the watermark past every open window so the
    // append-mode sink finalizes them all
    Seq(ev(6L, "23:00")).toDF(schema.columns: _*)
      .coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("late_sink").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def us(hhmm: String): Long =
      Timestamp.valueOf(s"2024-01-01 $hhmm:00").getTime * 1000
    assert(counts(us("12:00")) == 2, s"late 12:05 event not dropped: $counts")
    assert(counts(us("14:00")) == 1, s"in-delay 14:30 event lost: $counts")
    assert(counts(us("15:00")) == 1)
  }

  test("streaming IVF assignment: arriving vectors hit frozen cells, matches batch") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val cut = math.floor(maxId * Similarity.AppendFrac).toLong
    val centroids = Similarity.baseCentroidsFor(spark, sfDir, cut)
    val batchVecs = e.filter(col("vec_id") >= cut)
    // three arrival chunks -> three real micro-batches
    val src = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    val third = (maxId - cut) / 3
    val clock = new ChunkStamper(src)
    Seq((cut, cut + third), (cut + third, cut + 2 * third),
        (cut + 2 * third, maxId + 1)).foreach { case (lo, hi) =>
      batchVecs.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("append").parquet(src)
      clock.stamp()
    }
    val q = Streams.runFileStream(spark, src, batchVecs,
      Streams.ivfAssignCounts(_, centroids), "ivf_assign_sink")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ivf_assign_sink").orderBy("cell").collect()
    val batch = SparkEntry.queries("stream_ivf_assign")(spark, sfDir).collect()
    assert(streamed.toSeq == batch.toSeq,
      "streamed cell-arrival counts diverge from the batch form")
    assert(streamed.nonEmpty)
    // every arrival is accounted for exactly once across cells
    assert(streamed.map(_.getLong(1)).sum == maxId - cut + 1)
  }

  test("a stateful aggregation resumes from its checkpoint: restart reads only the new file") {
    // the recovery contract a production stream lives on: stop a
    // stateful query, let data arrive while it is DOWN, restart from
    // the same checkpointLocation — the restarted query must resume
    // offsets AND aggregation state (read only the new file, output
    // the full complete-mode result), not recompute from scratch
    val events = Tables.load(spark, sfDir, "events").cache()
    val src = Files.createTempDirectory("ckpt_src").toString
    val ckpt = Files.createTempDirectory("ckpt_loc").toString
    val mid = events.stat.approxQuantile("event_id", Array(0.5), 0.001)(0).toLong
    val clock = new ChunkStamper(src)
    def chunk(pred: org.apache.spark.sql.Column): Long = {
      val df = events.filter(pred)
      df.coalesce(1).write.mode("append").parquet(src)
      clock.stamp()
      df.count()
    }
    chunk(col("event_id") <= mid / 2)
    chunk(col("event_id") > mid / 2 && col("event_id") <= mid)
    def start(sink: String) = {
      val stream = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      Streams.windowAgg(stream).writeStream.format("memory")
        .queryName(sink).outputMode("complete")
        .option("checkpointLocation", ckpt).start()
    }
    val q1 = start("ckpt_sink_a")
    q1.processAllAvailable(); q1.stop()
    // data arrives while the query is down
    val lateRows = chunk(col("event_id") > mid)
    val q2 = start("ckpt_sink_b")
    q2.processAllAvailable()
    val readAfterRestart = q2.recentProgress.map(_.numInputRows).sum
    q2.stop()
    assert(readAfterRestart == lateRows,
      s"restart read $readAfterRestart rows, expected only the $lateRows new ones")
    val streamed = spark.table("ckpt_sink_b")
      .orderBy("win_start", "event_type").collect()
    val batch = Streams.windowAgg(events)
      .orderBy("win_start", "event_type").collect()
    assert(streamed.toSeq == batch.toSeq,
      "resumed state did not reproduce the batch aggregate")
    assert(streamed.nonEmpty)
  }

  test("stream_minhash_dedup: a real 3-batch doc stream converges to the batch bucket owners") {
    import graft.operators.Dedup
    val corpus = Dedup.corpusNear(spark, sfDir)
    val src = java.nio.file.Files.createTempDirectory("mh_stream").toString
    // three arrival chunks; the +100000 near-dup twins land in a LATER
    // batch than their originals, so ownership must persist across
    // micro-batches for the owners to come out right
    val clock = new ChunkStamper(src)
    Seq(col("doc_id") < 50000, col("doc_id").between(50000, 100000),
        col("doc_id") > 100000).foreach { pred =>
      corpus.filter(pred).coalesce(1).write.mode("append").parquet(src)
      clock.stamp()
    }
    val q = Streams.runFileStream(spark, src, corpus,
      Streams.minhashBucketOwners, "mh_dedup_sink")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mh_dedup_sink")
      .orderBy("band_id", "band_hash").collect()
    val batch = SparkEntry.queries("stream_minhash_dedup")(spark, sfDir).collect()
    assert(streamed.toSeq == batch.toSeq,
      "streamed bucket owners diverge from the batch form")
    assert(streamed.nonEmpty)
    // first-writer-wins: every collided bucket's owner precedes the count
    assert(streamed.forall(r => r.getLong(3) >= 2L))
  }

  test("stream_quality_monitor: the Gopher gate runs as a real 3-batch stream") {
    val d = graft.sources.Tables.load(spark, sfDir, "documents")
    val src = java.nio.file.Files.createTempDirectory("qual_stream").toString
    val maxId = d.agg(max("doc_id")).head().getLong(0)
    val clock = new ChunkStamper(src)
    Seq(col("doc_id") < maxId / 3,
        col("doc_id").between(maxId / 3, 2 * maxId / 3),
        col("doc_id") > 2 * maxId / 3).foreach { pred =>
      d.filter(pred).coalesce(1).write.mode("append").parquet(src)
      clock.stamp()
    }
    val q = Streams.runFileStream(spark, src, d, Streams.qualityGate, "qual_sink")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qual_sink").orderBy("source").collect()
    val batch = SparkEntry.queries("stream_quality_monitor")(spark, sfDir).collect()
    assert(streamed.toSeq == batch.toSeq,
      "streamed quality report diverges from the batch form")
    assert(streamed.nonEmpty)
    // conservation per source, and the gate must actually split
    assert(streamed.forall(r => r.getLong(2) + r.getLong(3) == r.getLong(1)))
    assert(streamed.exists(_.getLong(2) > 0) && streamed.exists(_.getLong(3) > 0),
      "degenerate gate: everything passed or everything dropped")
  }

  test("stream_retention: two order-free streaming aggregates compose to the batch triangle") {
    val e = graft.sources.Tables.load(spark, sfDir, "events")
    val src = java.nio.file.Files.createTempDirectory("ret_stream").toString
    // deliberately NOT time-ordered chunks: min/distinct are
    // arrival-order free, so any interleaving must converge
    val clock = new ChunkStamper(src)
    Seq(col("event_id") % 3 === 0, col("event_id") % 3 === 1,
        col("event_id") % 3 === 2).foreach { pred =>
      e.filter(pred).coalesce(1).write.mode("append").parquet(src)
      clock.stamp()
    }
    val q1 = Streams.runFileStream(spark, src, e, Streams.userFirstSeen, "ret_first")
    val q2 = Streams.runFileStream(spark, src, e, Streams.userWeeks, "ret_weeks")
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    val composed = Streams.retentionRead(
        spark.table("ret_first"), spark.table("ret_weeks"))
      .orderBy("cohort", "wk").collect()
    val batch = SparkEntry.queries("stream_retention")(spark, sfDir).collect()
    assert(composed.toSeq == batch.toSeq,
      "streamed retention diverges from the batch form")
    assert(composed.nonEmpty)
    // and the split form IS the classic triangle
    val q55 = SparkEntry.queries("q55_retention")(spark, sfDir).collect()
    assert(composed.map(_.toString).toSeq == q55.map(_.toString).toSeq,
      "split retention diverges from q55's fused form")
  }

  test("stream_contamination: the ingest guard runs as a real stream against the static eval set") {
    val d = graft.sources.Tables.load(spark, sfDir, "documents")
    val evalSet = Streams.evalNgramSet(d)
    val train = d.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val src = java.nio.file.Files.createTempDirectory("contam_stream").toString
    val maxId = d.agg(max("doc_id")).head().getLong(0)
    val clock = new ChunkStamper(src)
    Seq(col("doc_id") < maxId / 3,
        col("doc_id").between(maxId / 3, 2 * maxId / 3),
        col("doc_id") > 2 * maxId / 3).foreach { pred =>
      train.filter(pred).coalesce(1).write.mode("append").parquet(src)
      clock.stamp()
    }
    val q = Streams.runFileStream(spark, src, train,
      Streams.contaminationGuard(_, evalSet), "contam_sink")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("contam_sink").orderBy("doc_id").collect()
    val batch = SparkEntry.queries("stream_contamination")(spark, sfDir).collect()
    assert(streamed.toSeq == batch.toSeq,
      "streamed contamination scores diverge from the batch form")
    assert(streamed.nonEmpty)
    // ratio is a per-doc proportion
    assert(streamed.forall { r =>
      val ratio = r.getDouble(3)
      ratio >= 0.0 && ratio <= 1.0 && r.getLong(2) <= r.getLong(1)
    })
  }

  test("stream_backfill_merge: the tail streams with planted pre-seam redeliveries and the seam never double-counts") {
    val e = Tables.load(spark, sfDir, "events").cache()
    val cut = e.agg(floor(max("event_id") * 0.8).cast("bigint")).head().getLong(0)
    val src = Files.createTempDirectory("backfill_stream").toString
    val tailRows = e.filter(col("event_id") > cut)
    // batch 1: first half of the tail PLUS replayed pre-seam rows —
    // the at-least-once redelivery a cutover produces; batch 2: rest
    val mid = e.agg(max("event_id")).head().getLong(0) - (e.agg(max("event_id"))
      .head().getLong(0) - cut) / 2
    val replayed = e.filter(col("event_id") > cut - 50 && col("event_id") <= cut)
    assert(replayed.count() > 0, "fixture must actually replay pre-seam rows")
    val clock = new ChunkStamper(src)
    tailRows.filter(col("event_id") <= mid).unionByName(replayed)
      .coalesce(1).write.mode("append").parquet(src)
    clock.stamp()
    tailRows.filter(col("event_id") > mid)
      .coalesce(1).write.mode("append").parquet(src)
    clock.stamp()
    val q = Streams.runFileStream(spark, src, e, Streams.tailAgg(_, cut), "tail_sink")
    q.processAllAvailable()
    q.stop()
    val served = Streams.backfillServe(
        Streams.backfillAgg(e, cut), spark.table("tail_sink"))
      .orderBy("user_id").collect()
    val batch = SparkEntry.queries("stream_backfill_merge")(spark, sfDir).collect()
    assert(served.toSeq == batch.toSeq,
      "streamed backfill+tail seam diverges from the straight batch aggregate")
    assert(served.nonEmpty)
    // the seam genuinely split the data: both sides contribute somewhere
    assert(served.exists(_.getLong(1) > 0) && served.exists(_.getLong(2) > 0))
  }

  test("late audit: the closed-form report predicts a real append stream's drops batch for batch") {
    val events = Tables.load(spark, sfDir, "events").cache()
    val audit = Streams.lateAudit(events, 1800000000L).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3), r.getLong(4)))
    assert(audit.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(audit.take(2).forall(a => a._3.isEmpty && a._4 == 0L),
      "first two batches have no filter watermark yet")
    assert(audit.drop(2).forall(_._4 > 0L), "stragglers make batches 3 and 4 drop")
    assert(audit.forall(a => a._2 == a._4 + a._5))

    // drive the SAME arrival order through a REAL append-mode stream
    val chunks = Streams.lateArrivalBatches(events).cache()
    val src = Files.createTempDirectory("graft_late_src").toString
    val clock = new ChunkStamper(src)
    (1L to 4L).foreach { b =>
      chunks.filter(col("bid") === b)
        .select(timestamp_micros(col("tus")).as("ts"))
        .coalesce(1).write.mode("append").parquet(src)
      clock.stamp()
    }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = stream.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws"), col("n"))
      .writeStream.format("memory").queryName("late_sink")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val droppedPerBatch = q.recentProgress.toSeq
      .sortBy(_.batchId)
      .map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    // processAllAvailable may run a trailing no-data batch after the
    // final watermark update — it must drop nothing
    assert(droppedPerBatch.take(4).map(_.toLong) == audit.map(_._4).toSeq,
      s"real drops $droppedPerBatch != audit ${audit.map(_._4).toSeq}")
    assert(droppedPerBatch.drop(4).forall(_ == 0))

    // final append output equals the protocol replay: windows whose
    // end cleared the LAST batch's eviction watermark, counting only
    // rows the filter kept
    val rows = chunks.select(col("tus"), col("bid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val hourUs = 3600000000L
    val maxThrough = (1L to 4L).map(b =>
      b -> rows.filter(_._2 <= b).map(_._1).max).toMap
    def fwm(b: Long): Option[Long] =
      if (b <= 2) None else Some(maxThrough(b - 2) - 1800000000L)
    val kept = rows.filter { case (tus, b) =>
      val end = (tus / hourUs + 1) * hourUs
      !fwm(b).exists(end <= _)
    }
    // processAllAvailable's trailing no-data batch evicts with the
    // FULLY-advanced watermark (max through batch 4), so the final
    // emitted set clears that, not batch 3's
    val evictWm = maxThrough(4L) - 1800000000L
    val want = kept.groupBy(r => (r._1 / hourUs) * hourUs)
      .filter { case (ws, _) => ws + hourUs <= evictWm }
      .map { case (ws, xs) => (ws, xs.length.toLong) }.toSeq.sortBy(_._1)
    val got = spark.table("late_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(got == want, "final append output diverges from the protocol replay")
    assert(got.nonEmpty)
  }

  test("watermark tuning: late counts fall and state grows with delay; chosen is the smallest qualifying; 30-min row equals the audit") {
    val events = Tables.load(spark, sfDir, "events").cache()
    val got = graft.operators.Streaming.streamWatermarkTune.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    assert(got.map(_._1).toSeq == Seq(30L, 1440L, 2880L, 5760L, 11520L))
    // more patience -> fewer drops, more open state
    assert(got.map(_._2).toSeq == got.map(_._2).sorted.reverse.toSeq, "n_late not non-increasing")
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.toSeq, "state not non-decreasing")
    // exactly one chosen: the smallest delay clearing the 0.1% bar
    val qualifying = got.filter(_._3 <= 0.001)
    assert(qualifying.nonEmpty && got.count(_._5) == 1)
    assert(got.find(_._5).get._1 == qualifying.map(_._1).min)
    // the 30-min candidate is the SAME protocol stream_late_audit reports
    val auditLate = Streams.lateAudit(events, 1800000000L).collect()
      .map(_.getLong(3)).sum
    assert(got.find(_._1 == 30L).get._2 == auditLate,
      "tuning sweep and late audit disagree on the same delay")
  }
}
