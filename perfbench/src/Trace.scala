package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One timed call into a graft layer, recorded from the benchmark's side
  * of the call. `parent` is the span that caused it (0 for a root). */
final class Span(val id: Long, val parent: Long, val layer: String, val name: String) {
  var t0: Long = 0L
  var t1: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def seconds: Double = (t1 - t0) / 1e9
}

/** In-memory span store. Spans are kept until the run ends and then
  * written out as JSON lines; per-layer metrics are computed from them. */
final class Tracer {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var nextId = 0L
  // epoch-ms = nanoTime / 1e6 + offset; Spark's listener events carry epoch-ms
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  def epochMs(ns: Long): Double = ns / 1e6 + offsetMs

  def open(layer: String, name: String, parent: Long = 0L): Span = {
    nextId += 1
    val s = new Span(nextId, parent, layer, name)
    s.t0 = System.nanoTime()
    s
  }

  def close(s: Span): Span = { s.t1 = System.nanoTime(); spans += s; s }

  /** A span whose interval was measured elsewhere, in epoch-ms. */
  def record(layer: String, name: String, parent: Long, startMs: Long, endMs: Long): Span = {
    val s = open(layer, name, parent)
    s.t0 = ((startMs - offsetMs) * 1e6).toLong
    s.t1 = ((endMs - offsetMs) * 1e6).toLong
    spans += s
    s
  }

  def apply[T](layer: String, name: String, parent: Long = 0L)(body: Span => T): T = {
    val s = open(layer, name, parent)
    try body(s) finally close(s)
  }

  def byLayer(layer: String, name: String = null): Seq[Span] =
    spans.filter(s => s.layer == layer && (name == null || s.name == name)).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= Json.write(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> epochMs(s.t0), "end_ms" -> epochMs(s.t1), "attrs" -> s.attrs))
      sb += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** What Spark did on behalf of one span, summed from listener events. */
final class SparkAgg {
  var jobs, stages, tasks = 0L
  var taskMs, runMs, cpuNs, shuffleRead, shuffleWrite, spill, inBytes, inRecords = 0L
  var criticalMs = 0L // per stage, its longest task; summed over stages
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()

  def +=(o: SparkAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    runMs += o.runMs; cpuNs += o.cpuNs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; inBytes += o.inBytes
    inRecords += o.inRecords; criticalMs += o.criticalMs; jobIntervals ++= o.jobIntervals
  }
}

/** Attributes Spark's jobs, stages and tasks to benchmark spans through
  * the public listener API. A span claims the jobs submitted while the
  * local property [[SparkEvents.Key]] holds its id; stages and tasks
  * follow their job. Events arrive asynchronously, so [[settle]] waits
  * until every job seen has ended before the aggregates are read. */
final class SparkEvents extends SparkListener {
  private val stageSpan = mutable.HashMap[Int, Long]()
  private val stageMaxMs = mutable.HashMap[Int, Long]()
  private val jobStart = mutable.HashMap[Int, (Long, Long)]() // jobId -> (span, startMs)
  private val aggs = mutable.HashMap[Long, SparkAgg]()
  @volatile private var lastEventNs = System.nanoTime()

  private def agg(span: Long): SparkAgg = aggs.getOrElseUpdate(span, new SparkAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SparkEvents.Key)))
    span.foreach { id =>
      val s = id.toLong
      jobStart(e.jobId) = (s, e.time)
      agg(s).jobs += 1
      e.stageInfos.foreach(si => stageSpan.getOrElseUpdate(si.stageId, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobStart.remove(e.jobId).foreach { case (s, t0) => agg(s).jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    stageSpan.get(e.stageInfo.stageId).foreach { s =>
      val a = agg(s)
      a.stages += 1
      a.criticalMs += stageMaxMs.getOrElse(e.stageInfo.stageId, 0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    stageSpan.get(e.stageId).foreach { s =>
      val a = agg(s)
      val d = Option(e.taskInfo).map(_.duration).getOrElse(0L)
      a.tasks += 1
      a.taskMs += d
      stageMaxMs(e.stageId) = math.max(stageMaxMs.getOrElse(e.stageId, 0L), d)
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Wait (at most `capMs`) until every started job has ended and no
    * event has arrived for `quietMs`. */
  def settle(quietMs: Long = 150, capMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + capMs * 1000000L
    def open = synchronized(jobStart.nonEmpty)
    while (System.nanoTime() < deadline &&
        (open || System.nanoTime() - lastEventNs < quietMs * 1000000L))
      Thread.sleep(10)
  }

  def forSpan(span: Long): SparkAgg = synchronized(aggs.getOrElse(span, new SparkAgg))
}

object SparkEvents {
  val Key = "perfbench.span"
}
