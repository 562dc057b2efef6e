package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place graft derives a session. An op that needs session
  * confs other than its caller's runs on a child of the caller's
  * session with those confs set: nothing on the caller's session is
  * mutated, so a concurrent caller keeps its own settings.
  *
  * Derived sessions are memoized per (parent session, conf pairs) for
  * the JVM's lifetime, the same lifetime as [[graft.sources.Tables]]'
  * per-session relation cache, which therefore stays warm across
  * repeated runs of an op. The parent is held strongly: Tables' cache
  * holds DataFrames that pin their session, so a weak key could never
  * be released. The key set stays small, because every conf list is a
  * constant apart from [[sizedOneJob]]'s power-of-two partition count.
  */
object Tuned {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, List[(String, String)]), SparkSession]()

  /** The child of `parent` with `confs` set, one per (parent, confs). */
  private[graft] def derived(parent: SparkSession,
                             confs: (String, String)*): SparkSession =
    cache.computeIfAbsent((parent, confs.toList), _ => {
      val s = parent.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    })

  /** Shuffle-partition target for [[sizedOneJob]]: the same 64 MB
    * advisory partition size AQE coalesces toward. */
  private val SizedPartitionBytes = BigInt(64L << 20)

  /** Default local partition floor of [[sizedOneJob]]: enough to
    * spread a bounded reduce, few enough that task-launch overhead
    * stays under one job handoff even on a 32-core local harness. */
  val PinnedShufflePartitions = 8

  /** AQE-off session for a fixed-shape query, so that the whole query
    * runs as ONE scheduler job. Under AQE every exchange materializes
    * as its own job plus a driver-side re-optimization, a measured
    * 25-50 ms per job at sf0.1 that dominates queries whose total task
    * time is under 300 ms.
    *
    * What AQE would have provided is derived statically:
    *  - partition sizing: `spark.sql.shuffle.partitions` comes from the
    *    analyzed plan's size estimate of `inputs` (file sizes folded
    *    through the plan, no job) times the parquet decompression
    *    factor, at 64 MB per partition, floored at
    *    min(`minPartitions`, defaultParallelism) and rounded up to a
    *    power of two. At 100 TB inputs that is thousands of
    *    partitions, what AQE's coalescing would produce. An op with no
    *    `inputs` is a literally bounded reduce (q1's ≤6 groups): it has
    *    nothing to size by, so the floor alone applies.
    *  - join strategy: callers either hint their joins or join
    *    broadcast-safe dims; the static planner keeps the
    *    estimate-driven broadcast threshold.
    *  - runtime skew splitting is lost, so callers are ops whose shuffle
    *    keys are structurally low-skew (time bins, uniform synthetic
    *    ids, banded signatures), documented per call site.
    *
    * The default floor is [[PinnedShufflePartitions]], not the core
    * count: on sub-MB shuffles a core-count fan-out only multiplies
    * per-task launch constants (measured: q30 0.54 → 0.73 s with a
    * 32-task floor). Callers whose post-shuffle per-row work needs the
    * full spread pass `minPartitions = cores`. */
  def sizedOneJob(parent: SparkSession, inputs: DataFrame*): SparkSession =
    sizedOneJob(parent, PinnedShufflePartitions, inputs: _*)

  def sizedOneJob(parent: SparkSession, minPartitions: Int,
                  inputs: DataFrame*): SparkSession = {
    val bytes = inputs
      .map(_.queryExecution.analyzed.stats.sizeInBytes *
        Bounded.DecompressionFactor).sum
    val need = ((bytes + SizedPartitionBytes - 1) / SizedPartitionBytes)
      .min(BigInt(1 << 20)).max(BigInt(1)).toInt
    val raw = math.max(math.min(minPartitions,
      parent.sparkContext.defaultParallelism), need)
    // a power of two bounds the distinct derived sessions to log2 many
    // while never undershooting the size target
    val n = if (Integer.bitCount(raw) == 1) raw else Integer.highestOneBit(raw) << 1
    derived(parent,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> n.toString)
  }

  /** AQE kept on, with the post-shuffle coalesce floor lowered from
    * Spark's 1 MB default to 64 KB. AQE coalesces toward
    * max(totalBytes / parallelism, minPartitionSize), so under the 1 MB
    * floor a 2-3 MB shuffle collapses to 1-2 partitions and serializes
    * a stage the cores could run in parallel. At cluster scale
    * totalBytes / parallelism dwarfs either floor, so only small
    * shuffles change. */
  def parallelCoalesce(parent: SparkSession): SparkSession =
    derived(parent,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536")
}
