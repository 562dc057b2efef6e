package graft

import graft.operators.{Layout, Tuned}

/** Tuned's one derived-session rule: a child per (parent, conf pairs),
  * memoized, with the parent left untouched. */
class TunedSpec extends SparkSuite {

  test("q65 runs share one derived session instead of deriving one per run") {
    val a = Layout.q65RuntimeBloomJoin.run(spark, sfDir)
    val b = Layout.q65RuntimeBloomJoin.run(spark, sfDir)
    assert(a.sparkSession ne spark, "q65 ran on the caller's session")
    assert(a.sparkSession eq b.sparkSession, "q65 derived a new session per run")
    assert(a.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "q65 mutated the caller's session")
  }

  test("a bounded reduce with no inputs gets the pinned floor, AQE off, one session") {
    val s = Tuned.sizedOneJob(spark)
    assert(s eq Tuned.sizedOneJob(spark))
    assert(s.conf.get("spark.sql.adaptive.enabled") == "false")
    val floor = math.min(Tuned.PinnedShufflePartitions,
      spark.sparkContext.defaultParallelism)
    assert(s.conf.get("spark.sql.shuffle.partitions") == floor.toString)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "the pin mutated the caller's session")
    // a different conf list is a different child
    assert(Tuned.parallelCoalesce(spark) ne s)
    assert(Tuned.parallelCoalesce(spark) eq Tuned.parallelCoalesce(spark))
  }
}
