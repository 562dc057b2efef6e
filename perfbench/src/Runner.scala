package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types.StructType

/** Settings of one benchmark process, from the command line. */
final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, expected: Path, work: Path, out: Path, cores: Int)

/** One timed operation of the closed loop. */
final case class Sample(kind: String, seconds: Double, ok: Boolean, traced: Boolean)

/** The spans of one traced operation; Spark's share is read from the
  * listener once the pass has settled. */
final class OpTrace(val kind: String, val op: Span, val inWindow: Boolean) {
  var construct: Span = _
  var drain: Span = _
  var streams: Span = _
  val plans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  var probeS = 0.0
  var gcS = 0.0
  var filesRead = 0L
  var runs = 0
  def sparkSpans: Seq[Span] = (Seq(op, construct, drain) ++ plans).filter(_ != null)
}

/** Per-run state shared by the workloads: the session, the samples, the
  * correctness verdicts and, in a traced pass, the tracer and the Spark
  * listener. */
final class Run(val conf: Conf) {
  val tracer = new Tracer
  val samples: mutable.ArrayBuffer[Sample] = mutable.ArrayBuffer()
  val errors: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
  var wrongOutsideWindow = 0
  /** Time spent checking results, taken out of every measured interval. */
  var checkNs = 0L
  val opTraces: mutable.ArrayBuffer[OpTrace] = mutable.ArrayBuffer()
  val events = new SparkEvents
  var spark: SparkSession = _
  /** Whether the pass in flight is traced, and whether it is timed. */
  var traced = false
  var inWindow = false

  def note(name: String, msg: String): Unit = {
    System.err.println(s"[perfbench] $name: $msg")
    errors.getOrElseUpdate(name, msg.replaceAll("\\s+", " ").take(300))
  }

  def record(kind: String, seconds: Double, ok: Boolean): Unit =
    if (inWindow) samples += Sample(kind, seconds, ok, traced)
    else if (!ok) wrongOutsideWindow += 1

  def checking[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - t0
  }

  def setSpan(id: Long): Unit =
    spark.sparkContext.setLocalProperty(SparkEvents.Key, if (id == 0L) null else id.toString)

  /** A 1-row query drained like any op: its time tracks host speed. */
  def probe(): Double = {
    val t0 = System.nanoTime()
    spark.range(1).toDF().queryExecution.toRdd.foreachPartition((it: Iterator[_]) =>
      while (it.hasNext) it.next())
    (System.nanoTime() - t0) / 1e9
  }

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  /** Open the span of one operation; None when the pass is untraced.
    * A traced operation is preceded by a host probe. */
  def begin(layer: String, kind: String): Option[OpTrace] =
    if (!traced) None
    else {
      val t = new OpTrace(kind, tracer.open(layer, kind), inWindow)
      tracer("host", "probe", t.op.id) { _ => t.probeS = probe() }
      t.gcS = -gcSeconds
      opTraces += t
      Some(t)
    }

  def end(t: Option[OpTrace]): Unit = t.foreach { x =>
    x.gcS += gcSeconds
    tracer.close(x.op)
    setSpan(0L)
  }

  /** Run `body` with `t`'s op span claiming the Spark jobs it starts. */
  def claim[T](t: Option[OpTrace])(body: => T): T = {
    t.foreach(x => setSpan(x.op.id))
    try body finally setSpan(0L)
  }

  /** Construct, plan and drain one DataFrame. Untraced it is `build`
    * then `collect`. Traced, each step gets a span under `t`'s op span
    * and claims the Spark jobs it starts: construction (in
    * `constructLayer`), the plan phases forced in order, then the
    * drain. Returns the seconds from the start of construction to the
    * end of the drain. */
  def execute(t: Option[OpTrace], constructLayer: String, streams: Boolean = false)(
      build: => DataFrame): (Double, StructType, Array[Row], DataFrame) = t match {
    case None =>
      val t0 = System.nanoTime()
      val df = build
      val rows = df.collect()
      ((System.nanoTime() - t0) / 1e9, df.schema, rows, df)
    case Some(x) =>
      val t0 = System.nanoTime()
      try {
        x.construct = tracer.open(constructLayer, x.kind, x.op.id)
        setSpan(x.construct.id)
        val df = try build finally tracer.close(x.construct)
        val qe = df.queryExecution
        // Dataset construction analyses eagerly, so analysis ran inside
        // the construct span; its duration comes from the planning tracker.
        qe.tracker.phases.get("analysis").foreach { p =>
          x.plans += tracer.record("plans", "analysis", x.construct.id, p.startTimeMs, p.endTimeMs)
        }
        x.plans += tracer("plans", "optimization", x.op.id) { s => setSpan(s.id); qe.optimizedPlan; s }
        x.plans += tracer("plans", "planning", x.op.id) { s => setSpan(s.id); qe.executedPlan; s }
        if (streams) x.streams = tracer.open("streaming", x.kind, x.op.id)
        x.drain = tracer.open("spark", "drain", if (streams) x.streams.id else x.op.id)
        setSpan(x.drain.id)
        val rows = try df.collect() finally {
          tracer.close(x.drain)
          if (streams) tracer.close(x.streams)
        }
        ((System.nanoTime() - t0) / 1e9, df.schema, rows, df)
      } finally setSpan(0L)
  }

  /** Parquet files the executed plan's file scans read. */
  def filesRead(df: DataFrame): Long = {
    def scans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
  }
}

object Runner {
  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  /** The session of a workload: `local[cores]` threads, declared
    * parallelism and shuffle partitions both `cores`. */
  def session(conf: Conf): SparkSession = {
    val b = graft.api.GraftSession
      .builder(s"perfbench-${conf.workload}", s"local[${conf.cores}]", Some(conf.cores))
      .config("spark.default.parallelism", conf.cores.toString)
      .config("spark.local.dir", conf.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Harrell-Davis estimate of the `p` quantile: a mean of all order
    * statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density. On the
    * few dozen latencies of a run, whose op kinds form clusters, it
    * repeats better than a single order statistic. NaN for no samples. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.size < 2) return xs.headOption.getOrElse(Double.NaN)
    val s = xs.sorted
    val n = s.size
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(p * (n + 1), (1 - p) * (n + 1))
    s.indices.map(i =>
      (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n)) * s(i)).sum
  }
}
