package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import graft.kv.{KVLog, KVTable}

/** A closed loop over named headline ops: each pass runs every op once,
  * in an order fixed by the seed and the pass number. */
final class OpsWorkload(run: Run, val ops: Seq[String]) {
  import OpsWorkload._

  private val expected: Map[String, Result] = run.checking(ops.map { op =>
    val f = run.conf.expected.resolve(s"$op.json")
    if (!Files.exists(f)) throw new IllegalStateException(s"no expected result for $op at $f")
    op -> Check.parse(Files.readString(f))
  }.toMap)

  def pass(passNo: Long): Unit =
    new scala.util.Random(run.conf.seed * 1000003L + passNo).shuffle(ops).foreach(one)

  private def one(name: String): Unit = {
    val t = run.begin("bench", name)
    try {
      val (secs, schema, rows, _) = run.execute(t, "operators", streams = StreamsOps(name)) {
        graft.SparkEntry.queries(name)(run.spark, run.conf.data)
      }
      run.record(name, secs, run.checking(verify(name, schema, rows)))
      System.err.println(f"[perfbench] $name $secs%.3f s")
    } catch {
      case e: Exception =>
        run.note(name, e.toString)
        run.record(name, Double.NaN, ok = false)
    } finally run.end(t)
  }

  private def verify(name: String, schema: StructType, rows: Array[Row]): Boolean = {
    val problem = Check.boundary(schema, expected(name))
      .orElse(Check.diff(expected(name), Check.result(schema, rows)))
    problem.foreach(p => run.note(name, s"wrong result: $p"))
    problem.isEmpty
  }
}

object OpsWorkload {
  val SqlMix: Seq[String] = Seq("q1_agg", "q2_filter_project", "q10_multi_join",
    "q28_topn_agg", "q22_window_funcs", "q30_range_join", "q31_asof_join")
  /** Ops built on graft.streaming.Streams. */
  val StreamsOps: Set[String] = Set("stream_window_agg", "stream_sessionize")
}

/** Latencies and byte counts of the KV loop. */
final class KvStats {
  val lat: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap(
    Seq("append", "get", "multi_get", "scan", "compact").map(_ -> mutable.ArrayBuffer[Double]()): _*)
  var bytesWritten = 0L
  var userBytes = 0L
  val spaceAmp: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer()
}

/** The graft.kv loop on a directory the benchmark owns: seeded batch
  * appends of upserts and tombstones over a fixed keyspace, skewed point
  * gets, multi-gets and short range scans after every append, and a
  * compaction every [[Kv.AppendsPerCycle]] appends. Reads go to the
  * latest compacted generation plus the runs appended since. Every read
  * is checked against an in-memory latest-wins model of all appends. */
final class Kv(run: Run, root: Path, seed: Long) {
  import Kv._

  private val rnd = new scala.util.Random(seed)
  // rank -> key, so the hot keys are scattered over the keyspace
  private val byRank = rnd.shuffle((0 until Keys).toVector).toArray
  private val cdf = {
    val w = (1 to Keys).map(r => 1.0 / math.pow(r, Skew)).scanLeft(0.0)(_ + _).tail
    w.map(_ / w.last).toArray
  }
  private val liveSeq = Array.fill(Keys)(-1L) // -1: never written or deleted
  private val liveValue = new Array[String](Keys)
  private var nextSeq = 1L
  private val log = KVLog(root.resolve("log").toString, "key", "seq", "tomb")
  private var gen: KVTable = _
  private var genNo = 0
  /** Where latencies go; null while not measuring. */
  var stats: KvStats = _

  private def skewedKey(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    byRank(math.min(if (i >= 0) i else -i - 1, Keys - 1))
  }

  private def genPath(n: Int): Path = root.resolve(s"gen_$n")

  /** Empty directory, then the whole keyspace appended as one run. */
  def init(): Unit = {
    graft.sources.LocalDir.deleteRecursively(root.toFile)
    append((0 until Keys).toVector)
  }

  def cycle(): Unit = {
    (0 until AppendsPerCycle).foreach { _ =>
      append(Vector.fill(Batch)(rnd.nextInt(Keys)))
      (0 until GetsPerAppend).foreach(_ => get(skewedKey()))
      multiGet(Vector.fill(MultiGetKeys)(skewedKey()))
      scan(skewedKey())
    }
    if (stats != null) stats.spaceAmp += run.checking(dirBytes(root) / liveBytes.toDouble)
    compact()
  }

  private def liveBytes: Long = (0 until Keys).filter(liveSeq(_) >= 0)
    .map(k => RowOverhead + liveValue(k).length.toLong).sum

  private def timed(kind: String, secs: Double, ok: Boolean): Unit = {
    if (stats != null && !secs.isNaN) stats.lat(kind) += secs
    run.record(kind, secs, ok)
  }

  /** Run one op; `body` returns its latency and whether it was right. */
  private def attempt(kind: String, t: Option[OpTrace])(body: => (Double, Boolean)): Unit = {
    try {
      val (secs, ok) = body
      timed(kind, secs, ok)
    } catch {
      case e: Exception =>
        run.note(s"kv.$kind", e.toString)
        timed(kind, Double.NaN, ok = false)
    } finally run.end(t)
  }

  private def append(keys: Vector[Int]): Unit = {
    val rows = keys.map { k =>
      val seq = nextSeq; nextSeq += 1
      if (rnd.nextDouble() < TombstoneShare) (k, seq, true, null: String)
      else (k, seq, false, rnd.alphanumeric.take(16 + rnd.nextInt(49)).mkString)
    }
    val t = run.begin("kv", "append")
    val before = log.committedRuns.toSet
    attempt("append", t) {
      val t0 = System.nanoTime()
      run.claim(t) {
        val df = run.spark.createDataFrame(
          java.util.Arrays.asList(rows.map { case (k, s, d, v) => Row(k.toLong, s, d, v) }: _*),
          Schema)
        log.append(df)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      rows.foreach { case (k, s, d, v) =>
        liveSeq(k) = if (d) -1L else s
        liveValue(k) = v
      }
      (secs, true)
    }
    val written = run.checking((log.committedRuns.toSet -- before).toSeq
      .map(r => dirBytes(java.nio.file.Paths.get(r))).sum)
    t.foreach(_.op.attrs("bytes_written") = written.toDouble)
    if (stats != null) {
      stats.bytesWritten += written
      stats.userBytes += rows.map { case (_, _, _, v) =>
        RowOverhead + Option(v).map(_.length.toLong).getOrElse(0L) }.sum
    }
  }

  /** The current state: the compacted generation plus newer runs. */
  private def open(t: Option[OpTrace]): KVTable = {
    val runs = log.committedRuns
    t.foreach(_.runs = (if (gen == null) 0 else 1) + runs.size)
    if (gen == null) log.table(run.spark)
    else if (runs.isEmpty) gen
    else gen.withBatch(log.table(run.spark).runs)
  }

  private def expect(keys: Seq[Int]): Vector[(Long, Long, String)] =
    keys.distinct.sorted.filter(liveSeq(_) >= 0).map(k => (k.toLong, liveSeq(k), liveValue(k))).toVector

  private def read(kind: String, keys: Seq[Int])(q: KVTable => org.apache.spark.sql.DataFrame): Unit = {
    val t = run.begin("kv", kind)
    attempt(kind, t) {
      val (secs, _, rows, df) = run.execute(t, "kv")(q(open(t)))
      t.foreach(x => x.filesRead = run.filesRead(df))
      val ok = run.checking {
        val got = rows.toVector.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        val want = expect(keys)
        if (got != want) run.note(s"kv.$kind", s"wrong result: ${got.take(3)} != ${want.take(3)}")
        got == want
      }
      (secs, ok)
    }
  }

  private def get(k: Int): Unit = read("get", Seq(k))(_.get(lit(k.toLong)))

  private def multiGet(keys: Vector[Int]): Unit =
    read("multi_get", keys)(_.multiGet(keys.map(_.toLong)))

  private def scan(lo: Int): Unit = {
    val hi = math.min(lo + ScanKeys - 1, Keys - 1)
    read("scan", lo to hi)(_.range(lit(lo.toLong), lit(hi.toLong)))
  }

  private def compact(): Unit = {
    val t = run.begin("kv", "compact")
    val old = genNo
    attempt("compact", t) {
      val t0 = System.nanoTime()
      genNo += 1
      gen = run.claim(t)(open(None).compactTo(genPath(genNo).toString, run.conf.cores))
      log.reset()
      graft.sources.LocalDir.deleteRecursively(genPath(old).toFile)
      ((System.nanoTime() - t0) / 1e9, true)
    }
    val written = run.checking(dirBytes(genPath(genNo)))
    t.foreach(_.op.attrs("bytes_written") = written.toDouble)
    if (stats != null) stats.bytesWritten += written
  }
}

object Kv {
  val Keys = 10000
  val Skew = 0.99
  val Batch = 1000
  val TombstoneShare = 0.03
  val AppendsPerCycle = 2
  val GetsPerAppend = 3
  val MultiGetKeys = 16
  val ScanKeys = 64
  /** User bytes of a record besides its value: key, seq and the flag. */
  val RowOverhead = 17L

  val Schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false), StructField("seq", LongType, nullable = false),
    StructField("tomb", BooleanType, nullable = false), StructField("value", StringType)))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally walk.close()
    }
}
