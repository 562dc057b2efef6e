package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The JVM side of the benchmark; perfbench/run.py builds and starts it.
  *
  *   perfbench.Main oracles --workload W --out F
  *     writes the DuckDB oracle SQL of W's ops as JSON.
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *       --data DIR --expected DIR --work DIR --out F --cores C
  *     sets up once, runs the closed loop for S seconds of whole passes
  *     and writes the result as JSON to F.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("oracles") => oracles(opts("workload"), Paths.get(opts("out")))
      case Some("run") =>
        val conf = Conf(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
          opts("trace") == "1", opts("data"), Paths.get(opts("expected")), Paths.get(opts("work")),
          Paths.get(opts("out")), opts("cores").toInt)
        val code = try { bench(conf); 0 } catch {
          case e: Throwable => e.printStackTrace(); 1
        }
        System.exit(code)
      case _ => System.err.println("usage: perfbench.Main oracles|run --key value ..."); System.exit(2)
    }
  }

  def opsOf(workload: String): Seq[String] = workload match {
    case "sql_mix" => OpsWorkload.SqlMix
    case "kv_ingest_read" => Nil
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Ops a traced run executes after the window, so that a workload
    * without Streams-backed ops still measures the streaming layer. */
  def streamsEpisode(workload: String): Seq[String] =
    if (opsOf(workload).exists(OpsWorkload.StreamsOps)) Nil
    else OpsWorkload.StreamsOps.toSeq.sorted

  def oracles(workload: String, out: Path): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val ops = opsOf(workload) ++ streamsEpisode(workload)
    val m = ops.map(op => op -> sql(op))
    Files.writeString(out, Json.write(mutable.LinkedHashMap(m: _*)))
  }

  /** Number of measured KV cycles run after the timed window, after
    * one unmeasured warm cycle, by the workloads that do not use
    * graft.kv, so that every workload reports the KV metrics. */
  val KvEpisodeCycles = 3

  /** The least op_error_rate reported. */
  val ErrorFloor = 0.001

  /** Files under the fixed `target/graft_*` directories main source
    * writes to, with size and mtime. */
  private def repoState(): Map[String, (Long, Long)] = {
    val target = Paths.get(graft.sources.ManagedTables.defaultWarehouse).getParent
    if (!Files.isDirectory(target)) return Map.empty
    val dirs = Files.list(target)
    try dirs.iterator.asScala.filter(_.getFileName.toString.startsWith("graft_")).flatMap { d =>
      val walk = Files.walk(d)
      try walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toList
      finally walk.close()
    }.toMap
    finally dirs.close()
  }

  def bench(conf: Conf): Unit = {
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Runner.loadavg()
    val stateBefore = repoState()
    val run = new Run(conf)
    val ops = opsOf(conf.workload)
    val opsWorkload = if (ops.nonEmpty) Some(new OpsWorkload(run, ops)) else None
    var kv: Kv = null
    def newKv(): Kv = new Kv(run, conf.work.resolve("kv"), conf.seed)

    // set-up, once, from JVM start: session, table registration, one
    // warm pass
    val t0 = System.nanoTime() - (System.currentTimeMillis() - processStartMs) * 1000000L
    run.tracer("bench", "setup") { s =>
      run.spark = run.tracer("api", "session", s.id)(_ => Runner.session(conf))
      run.tracer("sources", "register", s.id)(_ => graft.sources.Tables.registerAll(run.spark, conf.data))
      run.tracer("bench", "warm", s.id) { _ =>
        opsWorkload match {
          case Some(w) => w.pass(-1L)
          case None => kv = newKv(); kv.init(); kv.cycle()
        }
      }
    }
    val setupS = (System.nanoTime() - t0 - run.checkNs) / 1e9
    System.err.println(f"[perfbench] setup took $setupS%.2f s")
    val probeStart = run.probe()

    // the timed window: whole passes until `seconds` have passed; a
    // traced run alternates untraced and traced passes
    val sc = run.spark.sparkContext
    val kvStats = new KvStats
    if (kv != null) kv.stats = kvStats
    val passes = mutable.ArrayBuffer[(Boolean, Int, Double)]() // traced, ops, seconds
    run.inWindow = true
    val w0 = System.nanoTime()
    var passNo = 0
    def elapsed = (System.nanoTime() - w0) / 1e9
    while (elapsed < conf.seconds || (conf.trace && passes.map(_._1).distinct.size < 2)) {
      run.traced = conf.trace && passNo % 2 == 1
      if (run.traced) sc.addSparkListener(run.events)
      val before = run.samples.size
      val p0 = System.nanoTime() - run.checkNs
      opsWorkload match {
        case Some(w) => w.pass(passNo)
        case None => kv.cycle()
      }
      passes += ((run.traced, run.samples.size - before, (System.nanoTime() - p0 - run.checkNs) / 1e9))
      System.err.println(f"[perfbench] pass $passNo (traced ${run.traced}) took ${passes.last._3}%.2f s")
      if (run.traced) { run.events.settle(); sc.removeSparkListener(run.events) }
      passNo += 1
    }
    val windowS = elapsed
    run.inWindow = false
    run.traced = false
    val probeEnd = run.probe()
    val loadEnd = Runner.loadavg()
    val rssMb = Runner.peakRssMb()

    val kernels = if (conf.trace) Kernels.rates(run) else Nil
    if (conf.trace && streamsEpisode(conf.workload).nonEmpty) {
      // one untraced warm pass, then two traced ones
      val streams = new OpsWorkload(run, streamsEpisode(conf.workload))
      (0 until 3).foreach { i =>
        run.traced = i > 0
        if (run.traced) sc.addSparkListener(run.events)
        streams.pass(i)
        if (run.traced) { run.events.settle(); sc.removeSparkListener(run.events) }
      }
      run.traced = false
    }
    if (kv == null) {
      // the KV episode of the workloads that do not use graft.kv
      kv = newKv()
      kv.init()
      kv.cycle()
      run.traced = conf.trace
      if (run.traced) sc.addSparkListener(run.events)
      kv.stats = kvStats
      (1 to KvEpisodeCycles).foreach(_ => kv.cycle())
      if (run.traced) { run.events.settle(); sc.removeSparkListener(run.events) }
      run.traced = false
    }
    val stateAfter = repoState()

    val timed = run.samples.filter(s => !conf.trace || !s.traced)
    val attempted = timed.size
    val failed = timed.count(!_.ok)
    val done = timed.filter(!_.seconds.isNaN).map(_.seconds).toSeq
    val untracedS = passes.filter(!_._1).map(_._3).sum
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!conf.trace) {
      def lat(kind: String) = Runner.quantile(kvStats.lat(kind).toSeq, 0.5)
      metrics ++= Seq(
        "setup_s" -> (setupS, "s"),
        "op_p50_s" -> (Runner.quantile(done, 0.5), "s"),
        "op_p90_s" -> (Runner.quantile(done, 0.9), "s"),
        "ops_per_s" -> (done.size / untracedS, "1/s"),
        // floored so that it is never 0: a clean run reads ErrorFloor,
        // one failure among the few dozen ops of a run reads 30x more;
        // the raw counts are printed beside it
        "op_error_rate" -> (math.max(failed.toDouble / attempted, ErrorFloor), "ratio"),
        "peak_rss_mb" -> (rssMb, "MB"),
        "get_p50_s" -> (lat("get"), "s"),
        "scan_p50_s" -> (lat("scan"), "s"),
        "append_p50_s" -> (lat("append"), "s"),
        "compact_p50_s" -> (lat("compact"), "s"),
        "write_amp" -> (kvStats.bytesWritten.toDouble / kvStats.userBytes, "ratio"),
        "space_amp" -> (Runner.median(kvStats.spaceAmp.toSeq), "ratio"))
    } else {
      metrics ++= Layers.metrics(run, passes.toSeq, kernels)
      run.tracer.write(conf.work.resolve("trace").resolve(s"${conf.workload}-seed${conf.seed}.jsonl"))
    }

    val created = stateAfter.keySet -- stateBefore.keySet
    val changed = stateAfter.keySet.intersect(stateBefore.keySet).filter(k => stateAfter(k) != stateBefore(k))
    val removed = stateBefore.keySet -- stateAfter.keySet
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "correct" -> (run.samples.forall(_.ok) && run.wrongOutsideWindow == 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "host" -> mutable.LinkedHashMap(
        "cores" -> conf.cores, "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "probe_start_s" -> probeStart, "probe_end_s" -> probeEnd),
      "repo_state" -> mutable.LinkedHashMap(
        "dir" -> Paths.get(graft.sources.ManagedTables.defaultWarehouse).getParent.toString,
        "created" -> created.size, "changed" -> changed.size, "removed" -> removed.size,
        "paths" -> (created ++ changed ++ removed).toSeq.sorted.take(20)),
      "setup_s" -> setupS,
      "window_s" -> windowS,
      "passes" -> passes.map { case (t, n, s) => Map("traced" -> t, "ops" -> n, "seconds" -> s) },
      "samples" -> timed.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "kv_samples" -> kvStats.lat.map { case (k, v) => k -> v.size },
      "failures_outside_window" -> run.wrongOutsideWindow,
      "errors" -> run.errors)
    Files.writeString(conf.out, Json.write(result))
    run.spark.stop()
  }
}
