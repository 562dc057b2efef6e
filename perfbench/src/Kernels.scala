package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextHashing, VectorKernels}

/** Rates of the public text and vector kernels, timed by direct calls
  * on one thread over the `documents` and `embeddings` rows. */
object Kernels {
  /** Seconds each kernel is timed for, after one untimed sweep. */
  val TimedSeconds = 0.25

  def rates(run: Run): Seq[(String, Double)] = {
    val spark = run.spark
    val docs = graft.sources.Tables.load(spark, run.conf.data, "documents")
      .select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val vecs = graft.sources.Tables.load(spark, run.conf.data, "embeddings")
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(_.getSeq[Double](0).toArray)
    val unsafeVecs = vecs.map(UnsafeArrayData.fromPrimitiveArray(_))
    val hash = graft.operators.Dedup
    var sink = 0L // every result feeds it, so the JIT cannot drop a call

    // ns per item: whole sweeps over `n` items until TimedSeconds pass
    def rate(metric: String, n: Int)(one: Int => Long): (String, Double) =
      run.tracer("functions", metric) { s =>
        (0 until n).foreach(i => sink += one(i))
        var items = 0L
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < TimedSeconds * 1e9) {
          var i = 0
          while (i < n) { sink += one(i); i += 1 }
          items += n
        }
        val ns = (System.nanoTime() - t0).toDouble / items
        s.attrs("items") = items.toDouble
        s.attrs("ns_per_item") = ns
        metric -> ns
      }

    val out = Seq(
      rate("minhash_ns_per_doc", docs.length)(i =>
        TextHashing.minhashBands(docs(i), hash.NumHashes, hash.Bands).numElements()),
      rate("simhash_ns_per_doc", docs.length)(i => TextHashing.simhash64(docs(i))),
      rate("fingerprint_ns_per_doc", docs.length)(i => TextHashing.fingerprint64(docs(i))),
      rate("quality_ns_per_doc", docs.length)(i => TextHashing.qualityCounts(docs(i)).numElements()),
      rate("tokens_ns_per_doc", docs.length)(i => TextHashing.tokenCounts(docs(i)).numElements()),
      rate("cosine_ns_per_pair", vecs.length)(i =>
        java.lang.Double.doubleToLongBits(VectorKernels.cosine(vecs(i), vecs((i * 7 + 1) % vecs.length)))),
      rate("hyperplane_ns_per_vec", vecs.length)(i =>
        VectorKernels.hyperplaneBands(unsafeVecs(i), VectorKernels.HpSigBands).numElements()))
    run.tracer.spans.last.attrs("sink") = sink.toDouble
    out
  }
}
