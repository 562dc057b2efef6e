package perfbench

/** Per-layer metrics of a traced run, computed from its spans and the
  * Spark work the listener attributed to them. Means are per traced op
  * of the timed window unless the name says otherwise; a layer the
  * workload does not exercise reads 0. */
object Layers {
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  val KvReads = Set("get", "multi_get", "scan")
  val KvKinds: Set[String] = KvReads ++ Set("append", "compact")

  def metrics(run: Run, passes: Seq[(Boolean, Int, Double)],
              kernels: Seq[(String, Double)]): Seq[(String, (Double, String))] = {
    val ev = run.events
    def agg(t: OpTrace): SparkAgg = {
      val a = new SparkAgg
      t.sparkSpans.foreach(s => a += ev.forSpan(s.id))
      a
    }
    val ops = run.opTraces.filter(_.inWindow).toSeq
    val aggs = ops.map(agg)
    val built = ops.filter(t => t.construct != null && t.construct.layer == "operators")
    def phase(name: String) = ops.filter(_.construct != null)
      .map(_.plans.filter(_.name == name).map(_.seconds).sum)
    def setupStep(layer: String, name: String) = run.tracer.byLayer(layer, name).map(_.seconds).sum
    // drain wall time not covered by any of its jobs
    def gap(t: OpTrace): Double = {
      val d0 = run.tracer.epochMs(t.drain.t0)
      val d1 = run.tracer.epochMs(t.drain.t1)
      val jobs = ev.forSpan(t.drain.id).jobIntervals
        .map { case (a, b) => (math.max(a.toDouble, d0), math.min(b.toDouble, d1)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var end = d0
      jobs.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      (d1 - d0 - covered) / 1e3
    }
    // the KV traces: the window's on kv_ingest_read, else the KV episode's
    val kvOps = run.opTraces.filter(t => KvKinds(t.kind) && (t.inWindow || !ops.exists(o => KvKinds(o.kind))))
    val reads = kvOps.filter(t => KvReads(t.kind) && t.construct != null)
    val gets = kvOps.filter(_.kind == "get")
    val appends = kvOps.count(_.kind == "append")
    val written = kvOps.flatMap(_.op.attrs.get("bytes_written")).sum
    def rate(traced: Boolean) = {
      val ps = passes.filter(_._1 == traced)
      ps.map(_._2).sum / ps.map(_._3).sum
    }
    val cpu = aggs.map(_.cpuNs / 1e9).sum
    val runS = aggs.map(_.runMs / 1e3).sum
    Seq(
      "api.session_s" -> (setupStep("api", "session"), "s"),
      "sources.register_s" -> (setupStep("sources", "register"), "s"),
      "operators.construct_s" -> (mean(built.map(_.construct.seconds)), "s"),
      "operators.construct_jobs" -> (mean(built.map(t => ev.forSpan(t.construct.id).jobs.toDouble)), "count"),
      "plans.analysis_s" -> (mean(phase("analysis")), "s"),
      "plans.optimization_s" -> (mean(phase("optimization")), "s"),
      "plans.planning_s" -> (mean(phase("planning")), "s"),
      "spark.job_gap_s" -> (mean(ops.filter(_.drain != null).map(gap)), "s"),
      "spark.jobs" -> (mean(aggs.map(_.jobs.toDouble)), "count"),
      "spark.stages" -> (mean(aggs.map(_.stages.toDouble)), "count"),
      "spark.tasks" -> (mean(aggs.map(_.tasks.toDouble)), "count"),
      "spark.task_overhead_s" -> (mean(aggs.map(a => (a.taskMs - a.runMs) / 1e3)), "s"),
      "spark.cpu_s" -> (mean(aggs.map(_.cpuNs / 1e9)), "s"),
      "spark.run_s" -> (mean(aggs.map(_.runMs / 1e3)), "s"),
      "spark.cpu_per_run" -> (if (runS > 0) cpu / runS else 0.0, "ratio"),
      "spark.critical_path_s" -> (mean(aggs.map(_.criticalMs / 1e3)), "s"),
      "spark.shuffle_read_bytes" -> (mean(aggs.map(_.shuffleRead.toDouble)), "bytes"),
      "spark.shuffle_write_bytes" -> (mean(aggs.map(_.shuffleWrite.toDouble)), "bytes"),
      "spark.spill_bytes" -> (mean(aggs.map(_.spill.toDouble)), "bytes"),
      "spark.gc_s" -> (mean(ops.map(_.gcS)), "s"),
      "streaming.exec_s" -> (mean(run.opTraces.filter(_.streams != null).map(_.streams.seconds)), "s"),
      "sources.bytes_read_per_op" -> (mean(aggs.map(_.inBytes.toDouble)), "bytes"),
      "sources.rows_read_per_op" -> (mean(aggs.map(_.inRecords.toDouble)), "count"),
      "kv.runs_per_read" -> (mean(reads.map(_.runs.toDouble)), "count"),
      "kv.files_read_per_get" -> (mean(gets.map(_.filesRead.toDouble)), "count"),
      "kv.bytes_read_per_get" -> (mean(gets.map(t => agg(t).inBytes.toDouble)), "bytes"),
      "kv.plan_s_per_read" -> (mean(reads.map(t => t.construct.seconds +
        t.plans.filter(_.name != "analysis").map(_.seconds).sum)), "s"),
      "kv.bytes_written" -> (if (appends > 0) written / appends else 0.0, "bytes"),
      "host.probe_s" -> (mean(ops.map(_.probeS)), "s"),
      "trace.overhead" -> (rate(true) / rate(false), "ratio")
    ) ++ kernels.map { case (k, v) => s"functions.$k" -> (v, "ns") }
  }
}
