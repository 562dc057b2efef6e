package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Dedup}

/** Near-dup detection quality on the derived corpus: 500 planted
  * near-duplicate pairs (i, i+100000) = original text vs first word
  * dropped (3-gram-shingle Jaccard ≈ (n−3)/(n−2) ≈ 1). */
class DedupSpec extends SparkSuite {

  private lazy val corpus = Dedup.corpusNear(spark, sfDir).cache()
  private lazy val nDocs = corpus.count() / 2

  private def plantedRecall(pairs: Array[(Long, Long)]): Double = {
    val planted = pairs.count { case (a, b) => b == a + 100000 }
    planted.toDouble / nDocs
  }

  /** Component label per endpoint of the (a, b) `edges`, through the
    * kernel dedup_cluster uses. */
  private def componentsOf(edges: DataFrame): Map[Long, Long] = {
    val nodes = edges.select(col("a").as("id")).union(edges.select(col("b"))).distinct()
    Analytics.labelComponents(nodes, edges, "label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("minhash LSH recovers nearly all planted near-dup pairs") {
    val pairs = Dedup.minhashCandidates(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val recall = plantedRecall(pairs)
    assert(recall >= 0.95, s"recall $recall over $nDocs planted pairs")
    // banding should not degenerate into all-pairs
    assert(pairs.length < nDocs * nDocs / 4, s"candidate explosion: ${pairs.length}")
  }

  test("jaccard verification keeps planted pairs and only high-sim pairs") {
    val verified = Dedup.jaccardVerified(corpus, threshold = 0.5).collect()
    val pairs = verified.map(r => (r.getLong(0), r.getLong(1)))
    assert(plantedRecall(pairs) >= 0.95)
    val jac = verified.map(_.getDouble(2))
    assert(jac.forall(_ >= 0.5))
    // planted pairs should carry near-1 jaccard
    val plantedJac = verified.filter(r => r.getLong(1) == r.getLong(0) + 100000)
      .map(_.getDouble(2))
    assert(plantedJac.nonEmpty && plantedJac.sum / plantedJac.size >= 0.9)
  }

  test("simhash near-dup pairs recover planted pairs at low hamming") {
    val pairs = Dedup.simhashPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val recall = plantedRecall(pairs)
    assert(recall >= 0.9, s"simhash recall $recall")
  }

  test("identical texts have identical simhash; unrelated texts differ") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.simhashCol(col("text")).as("s"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("connected components collapses chains, not just cliques") {
    import spark.implicits._
    // path 1-2-3-4 (diameter 3: exercises multi-round propagation),
    // disjoint pair 10-11, triangle 20-21-22
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val got = componentsOf(edges)
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert(Seq(10L, 11L).forall(got(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(got(_) == 20L))
  }

  test("connected components collapse a 64-node chain to component 0") {
    import spark.implicits._
    // diameter 63: min-label propagation would need 63 rounds and
    // stopped at 20; the star kernel dedup_cluster uses takes O(log n)
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val got = componentsOf(edges)
    assert(got.keySet == (0L until 64L).toSet)
    assert(got.values.forall(_ == 0L), s"chain split into ${got.values.toSet}")
  }

  test("semantic dedup: drops within-cell near-dups, keeps distinct members") {
    import spark.implicits._
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)),      // cell 0, kept (lowest id in its ε-ball)
      (2L, Seq(0.999, 0.045)),  // cos(1,2) ≈ 0.999 → dropped
      (3L, Seq(0.9, 0.436)),    // cell 0 but cos(1,3) = 0.9 < eps → kept
      (4L, Seq(0.0, 1.0)),      // cell 1, kept
      (5L, Seq(0.03, 0.9995)),  // cos(4,5) ≈ 0.9995 → dropped
      (6L, Seq(1.0, 0.001))     // cell 0, near-identical to 1 → dropped
    ).toDF("vec_id", "v")
    val kept = Dedup.semanticPrune(vecs, centroids, 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("semantic dedup: pairs split across cells are never compared (SemDeDup blind spot)") {
    import spark.implicits._
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    // near-identical pair straddling the cell boundary: each lands in
    // a different cell, so SemDeDup keeps BOTH by design — this pins
    // the candidate-generation semantics (clustering IS the blocking)
    val vecs = Seq(
      (7L, Seq(0.7072, 0.707)),  // cell 0 (cos to c0 barely higher)
      (8L, Seq(0.707, 0.7072))   // cell 1
    ).toDF("vec_id", "v")
    val out = Dedup.semanticPrune(vecs, centroids, 0.99)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.keySet == Set(7L, 8L))
    assert(out(7L) == 0 && out(8L) == 1)
  }

  test("incremental dedup flags exactly the verbatim re-ingested batch rows") {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val expectDups = docs.filter(col("doc_id") % 3 === 0).count()
    val out = SparkEntry.queries("dedup_incremental")(spark, sfDir).collect()
    assert(out.length == docs.count())
    val dups = out.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(dups.size.toLong == expectDups)
    // the flagged rows are precisely the batch ids derived from % 3 == 0
    assert(dups.forall(id => (id - 200000) % 3 == 0))
  }

  test("semantic dedup blocking recall on planted near-identical pairs (measured pin)") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions._
    // the synthetic corpus has no pair above cos 0.5 (measured), so
    // the SemDeDup regime — near-identical duplicates — is planted:
    // each vector gets a perturbed copy (5% of the next coordinate
    // mixed into each position, deterministic in pure column exprs),
    // cosine ≈ 0.99. Centroids stay trained on the ORIGINAL corpus
    // (the realistic shape: index trained, duplicates arrive later).
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val copies = e.select((col("vec_id") + 10000).as("vec_id"),
      expr("""transform(v, (x, i) ->
        x + 0.05 * element_at(v, cast((i + 1) % size(v) + 1 as int)))""").as("v"))
    val cLit = typedLit(Similarity.centroidsFor(spark, sfDir))
    val cellOf = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("cell", Similarity.cellExpr(cLit, col("v")))
    val planted = cellOf(e).as("x").join(cellOf(copies).as("y"),
        col("x.vec_id") + 10000 === col("y.vec_id"))
      .select(cosine(col("x.v"), col("y.v")).as("cos"),
        (col("x.cell") === col("y.cell")).as("coloc")).cache()
    val total = planted.count()
    val sim = planted.filter(col("cos") >= 0.95).count()
    val coloc = planted.filter(col("coloc")).count()
    planted.unpersist()
    val recall = coloc.toDouble / total
    info(f"planted pairs: $total, cos>=0.95: $sim, colocated: $coloc, recall $recall%.3f")
    // the perturbation keeps every planted pair in the near-identical
    // regime SemDeDup targets...
    assert(sim.toDouble / total >= 0.95, "perturbation too strong to be a near-dup")
    // ...and k-means blocking co-locates nearly all of them (measured
    // 2026-08-13; only boundary-straddling vectors split cells). A
    // drop below the pin means the shared centroids or the cell
    // assignment regressed — both deterministic for a fixed dataset.
    assert(recall >= 0.90, f"blocking recall $recall%.3f regressed")
  }

  test("dedup_embedding equals an in-process recompute of band-sharing pairs (first-match pins each pair once)") {
    // Independent driver-side recompute of the op's whole contract —
    // pairs sharing >=1 LSH band, exact cosine >= 0.4, each pair
    // exactly once — guarding the r13 FIRST-MATCH rewrite (which
    // replaced the distinct-based multi-band dedup): a bug that
    // emitted a pair per matching band, or dropped a pair whose
    // first matching band tied, would differ from this set.
    import graft.functions.VectorKernels
    val out = SparkEntry.queries("dedup_embedding")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vecs = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def bandsOf(v: Array[Double]): Array[Long] = {
      val r = VectorKernels.HpNumPlanes / VectorKernels.HpSigBands
      val bs = new Array[Long](VectorKernels.HpSigBands)
      var p = 0
      while (p < VectorKernels.HpNumPlanes) {
        val plane = VectorKernels.hyperplanes(p)
        var dot = 0.0
        var i = 0
        val n = math.min(v.length, VectorKernels.HpDim)
        while (i < n) { dot += v(i) * plane(i); i += 1 }
        if (dot > 0) bs(p / r) |= 1L << (p % r)
        p += 1
      }
      bs
    }
    val sigs = vecs.map { case (id, v) => (id, v, bandsOf(v)) }
    val want = (for {
      (ia, va, ba) <- sigs
      (ib, vb, bb) <- sigs
      if ia < ib && ba.zip(bb).exists { case (x, y) => x == y }
      cos = BigDecimal(VectorKernels.cosine(va, vb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cos >= 0.4
    } yield (ia, ib, cos)).toSet
    assert(out.length == want.size,
      s"pair count ${out.length} != recompute ${want.size} (duplicate or dropped pairs)")
    assert(out.toSet == want, "banded pair set diverges from the in-process recompute")
  }

  test("dedup_semantic op: survivors are a subset with no within-cell near-dup pair left") {
    val out = SparkEntry.queries("dedup_semantic")(spark, sfDir)
    val n = out.count()
    assert(n > 0 && n <= 500)
    // self-check: pruning the survivors again removes nothing (fixpoint)
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val survivors = e.join(out.select("vec_id"), Seq("vec_id"))
    val again = Dedup.semanticPrune(survivors,
      graft.operators.Similarity.centroidsFor(spark, sfDir), 0.4).count()
    assert(again == n, s"semantic prune not a fixpoint: $n -> $again")
  }

  test("substring dedup recovers every planted prefix span and merges windows maximally") {
    val ntoks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val spans = Dedup.dedupSubstring.run(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val byDoc = spans.groupBy(_._1)
    // the planted copy shares exactly its first min(25, n) tokens with
    // the original: every doc with >= 15 tokens must carry a span that
    // starts at token 0 and covers at least that prefix (natural
    // cross-doc duplicates may extend it, never shorten it)
    val eligible = ntoks.filter(_._2 >= 15).keys.toSeq
    assert(eligible.size > 100, s"fixture degenerate: ${eligible.size} docs")
    eligible.foreach { id =>
      val prefixEnd = math.min(25, ntoks(id)) - 1
      Seq(id, id + 100000).foreach { d =>
        val ss = byDoc.getOrElse(d, Array.empty[(Long, Long, Long)])
        assert(ss.exists(s => s._2 == 0 && s._3 >= prefixEnd),
          s"doc $d missing planted span [0, $prefixEnd]")
      }
    }
    // maximality: spans within a doc never overlap (overlapping
    // duplicated windows must have been merged into one island)
    byDoc.values.foreach { ss =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b._2 > a._3,
          s"unmerged overlapping spans: $a then $b")
        case _ =>
      }
    }
  }

  test("substring rewrite cuts non-owner duplicated spans, leaves unique docs byte-identical") {
    val out = Dedup.dedupSubstringRewrite.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val ntoks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // a prefix window always has an ORIGINAL doc as first occurrence
    // (original packed doc·2^20+pos ids sort below every planted id),
    // so a planted doc's tokens 0..min(10, n-15) are covered only by
    // windows it can never own and must be cut. (Tokens further in MAY
    // legitimately survive: two originals sharing a natural tail give
    // their planted copies matching x-prefixed tails, and the earlier
    // planted copy owns those windows.)
    ntoks.filter(_._2 >= 15).keys.foreach { id =>
      val mustCut = math.min(11, ntoks(id) - 14)
      val removed = out(id + 100000)._3
      assert(removed >= mustCut,
        s"planted ${id + 100000}: removed $removed < $mustCut")
    }
    // docs carrying no duplicated span come through byte-identical
    val spanDocs = Dedup.dedupSubstring.run(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val orig = Dedup.corpusSub(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = out.keys.filterNot(spanDocs.contains)
    assert(untouched.nonEmpty, "fixture degenerate: every doc carries a span")
    untouched.foreach { d =>
      val (txt, _, removed) = out(d)
      assert(removed == 0 && txt == orig(d), s"unique doc $d was modified")
    }
  }

  test("near-dup clustering: every LSH pair shares a component, exactly one keeper per component") {
    val labels = Dedup.dedupNearCluster.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val pairs = Dedup.dedupMinhashLsh.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture degenerate: no candidate pairs")
    // candidate pairs are edges — both ends must share a component
    assert(pairs.forall { case (a, b) => labels(a)._1 == labels(b)._1 },
      "an LSH pair was split across components")
    val byComp = labels.groupBy(_._2._1)
    byComp.foreach { case (c, members) =>
      assert(members.keys.min == c, s"component $c not labeled by its min")
      assert(members.count(_._2._2) == 1, s"component $c keeper count != 1")
      assert(members(c)._2, s"component $c keeper is not the min id")
    }
    // dedup must actually merge something on the planted near-dup corpus
    assert(byComp.size < labels.size, "no cluster has more than one member")
  }

  test("doc containment flags an embedded copy that Jaccard would miss") {
    import spark.implicits._
    // A (20 unique tokens) is embedded whole inside B (30 tokens):
    // containment(A) = 1 while Jaccard(A, B) = 20/30 — the asymmetric
    // case the op exists for. C shares nothing; D is too short for a
    // single window.
    val aToks = (0 until 20).map(i => s"a$i")
    val bText = ((0 until 5).map(i => s"b$i") ++ aToks ++ (5 until 10).map(i => s"b$i")).mkString(" ")
    val tiny = Seq(
      (1L, aToks.mkString(" ")),
      (2L, bText),
      (3L, (0 until 20).map(i => s"c$i").mkString(" ")),
      (4L, "just a few tokens here")
    ).toDF("doc_id", "text")
    val got = Dedup.docContainment(tiny).collect()
      .map(r => r.getLong(0) -> r).toMap
    // A: all 6 windows (20-14) appear inside B
    assert(got(1L).getLong(1) == 6 && got(1L).getLong(2) == 6)
    assert(got(1L).getDouble(3) == 1.0 && got(1L).getBoolean(4))
    // B: only the 6 pure-A windows of its 16 are shared -> not contained
    assert(got(2L).getLong(1) == 16 && got(2L).getLong(2) == 6)
    assert(!got(2L).getBoolean(4))
    // C: nothing shared
    assert(got(3L).getLong(2) == 0 && !got(3L).getBoolean(4))
    // D: shorter than one window -> no verdict, reported not dropped
    assert(got(4L).getLong(1) == 0 && got(4L).isNullAt(3) && !got(4L).getBoolean(4))
  }

  test("doc containment on the planted corpus: exact-dup shorts flagged, internal consistency") {
    val rows = graft.SparkEntry.queries("dedup_doc_containment")(spark, sfDir).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    rows.foreach { r =>
      val (nw, ns) = (r.getLong(1), r.getLong(2))
      assert(ns >= 0 && ns <= nw)
      if (nw > 0) assert(r.getDouble(3) == ns.toDouble / nw)
      else assert(r.isNullAt(3) && !r.getBoolean(4))
    }
    // corpusSub: docs with <= 25 tokens plant an exact duplicate, so
    // both sides of such a pair are fully contained
    val tokCounts = Dedup.corpusSub(spark, sfDir)
      .filter(col("doc_id") < 100000)
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val shortFull = tokCounts.filter { case (_, n) => n >= 15 && n <= 25 }
    assert(shortFull.nonEmpty, "fixture: need at least one 15..25-token doc")
    shortFull.foreach { case (id, _) =>
      assert(byId(id).getDouble(3) == 1.0 && byId(id).getBoolean(4), s"doc $id")
      assert(byId(id + 100000).getDouble(3) == 1.0, s"planted ${id + 100000}")
    }
    // long originals share exactly their 25-token prefix windows
    tokCounts.filter(_._2 > 25).take(20).foreach { case (id, n) =>
      val expectShared = math.min(11L, n - 14L)
      assert(byId(id).getLong(2) >= expectShared,
        s"doc $id ($n toks): shared ${byId(id).getLong(2)} < $expectShared")
    }
  }

  test("bloom prefilter: decision equals the exact incremental op, prune bites, no false negatives") {
    def decisions(name: String) =
      SparkEntry.queries(name)(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    val viaBloom = decisions("dedup_bloom_prefilter")
    val exact = decisions("dedup_incremental")
    assert(viaBloom == exact, "bloom path changed the dedup decision")

    val (batch, _, bfBytes) = Dedup.bloomParts(spark, sfDir)
    val nBatch = batch.count()
    val nCand = batch.filter(call_function("graft_might_contain",
      lit(bfBytes), xxhash64(col("text")))).count()
    val nDups = exact.count(_._2)
    // no false negatives: every true dup must survive the bloom
    assert(nCand >= nDups, s"bloom dropped a true dup: $nCand < $nDups")
    // and the prune actually bites: candidates ≈ dups + ~3% fp tail
    assert(nCand <= nDups + math.max(4L, nBatch / 10),
      s"bloom barely pruned: $nCand candidates of $nBatch batch rows, $nDups dups")
    assert(nCand < nBatch, "degenerate: everything was a candidate")
  }

  test("minhash eval: high planted recall, counts consistent, precision in range") {
    val r = Dedup.dedupMinhashEval.run(spark, sfDir).head()
    val (nc, nv, np, nh) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (prec, rec) = (r.getDouble(4), r.getDouble(5))
    assert(nc > 0 && np > 0, "fixture degenerate")
    assert(nv <= nc && nh <= np && nh <= nc, s"counts inconsistent: $nc $nv $np $nh")
    assert(prec == nv.toDouble / nc && rec == nh.toDouble / np)
    // the planted twins sit at J≈0.98 where 16-band MinHash recall is
    // essentially 1 — the eval must measure that, not just emit rows
    assert(rec >= 0.95, s"planted-twin recall $rec collapsed")
    assert(prec > 0.0 && prec <= 1.0)
  }
}
