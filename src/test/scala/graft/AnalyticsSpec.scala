package graft

import org.apache.spark.sql.functions._

import graft.operators.Analytics
import graft.sources.Tables

/** Semantic invariants for the analytical-SQL family (the DuckDB
  * oracle checks exact values; these pin the internal consistency
  * properties that must hold at any scale). */
class AnalyticsSpec extends SparkSuite {

  test("cube grand total equals table count and level sums are consistent") {
    val rows = Analytics.q40Cube.run(spark, sfDir).collect()
    val total = Tables.load(spark, sfDir, "orders").count()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    assert(grand.head.getLong(2) == total)
    // each one-dim marginal also sums to the total
    val byStatus = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1)).map(_.getLong(2)).sum
    val byPrio = rows.filter(r => r.isNullAt(0) && !r.isNullAt(1)).map(_.getLong(2)).sum
    assert(byStatus == total && byPrio == total)
  }

  test("pivot cells sum to the event count, no null cells") {
    val df = Analytics.q41Pivot.run(spark, sfDir)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cells = df.select(types.map(c => sum(col(c)).cast("long")): _*).head()
    val total = Tables.load(spark, sfDir, "events").count()
    assert(types.indices.map(cells.getLong).sum == total)
    types.foreach(c => assert(df.filter(col(c).isNull).isEmpty))
  }

  test("explode token-length histogram covers every non-empty token") {
    val df = Analytics.q42Explode.run(spark, sfDir)
    val n = df.agg(sum("n")).head().getLong(0)
    val expected = Tables.load(spark, sfDir, "documents")
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "").count()
    assert(n == expected)
    assert(df.filter(col("tok_len") <= 0).isEmpty)
  }

  test("window frames: moving sum bounded by running sum, lag null only on first row") {
    val df = Analytics.q43WindowFrames.run(spark, sfDir)
    assert(df.filter(col("mov_sum") > col("run_sum")).isEmpty)
    // exactly one null prev_price per customer (the frame's first row)
    val nullsPerCust = df.groupBy("o_custkey")
      .agg(sum(when(col("prev_price").isNull, 1L).otherwise(0L)).as("n"))
    assert(nullsPerCust.filter(col("n") =!= 1L).isEmpty)
  }

  test("listagg list size matches the count and is sorted") {
    val rows = Analytics.q44Listagg.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val items = r.getString(2).split(",").toSeq
      assert(items.length == r.getLong(1))
      assert(items == items.sorted)
    }
  }

  test("gapfill emits the full day×type grid with zero-filled gaps") {
    val df = Analytics.q48Gapfill.run(spark, sfDir)
    val days = df.select("d").distinct().count()
    val types = df.select("event_type").distinct().count()
    assert(df.count() == days * types, "output is not the dense grid")
    assert(df.filter(col("n") === 0).count() > 0, "no gaps were filled (weak fixture)")
    assert(df.filter(col("n") === 0 && col("sum_value") =!= 0).isEmpty)
  }

  test("exact quantiles sit at the right ranks") {
    val rows = Analytics.q45ExactQuantiles.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val li = Tables.load(spark, sfDir, "lineitem").cache()
    rows.foreach { r =>
      val flag = r.getString(0)
      val (p50, p90, n) = (r.getDouble(1), r.getDouble(2), r.getLong(3))
      val group = li.filter(col("l_returnflag") === flag)
      assert(group.count() == n)
      // rank contract: #(values <= p50) >= ceil(n/2), #(values < p50) < ceil(n/2)
      val le50 = group.filter(col("l_quantity") <= p50).count()
      val lt50 = group.filter(col("l_quantity") < p50).count()
      assert(le50 >= math.ceil(n * 0.5).toLong && lt50 < math.ceil(n * 0.5).toLong)
      val le90 = group.filter(col("l_quantity") <= p90).count()
      val lt90 = group.filter(col("l_quantity") < p90).count()
      assert(le90 >= math.ceil(n * 0.9).toLong && lt90 < math.ceil(n * 0.9).toLong)
      assert(p50 <= p90)
    }
    li.unpersist()
  }

  test("funnel stages are monotone and strictly ordered in time") {
    val rows = graft.SparkEntry.queries("q54_funnel")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, c, p) = (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))
      assert(!(c && !v) && !(p && !c), s"funnel not monotone for user ${r.getLong(0)}")
    }
    // the funnel must actually discriminate on this corpus
    val n = rows.length
    val np = rows.count(_.getBoolean(3))
    assert(np > 0 && np <= n)
  }

  test("grouping sets: each declared set is a complete marginal of the table") {
    val rows = Analytics.q57GroupingSets.run(spark, sfDir).collect()
    val total = Tables.load(spark, sfDir, "orders").count()
    // set 1: grouped by status (priority nulled, flags (0,1))
    val byStatus = rows.filter(r => r.getInt(2) == 0 && r.getInt(3) == 1)
    val byPriority = rows.filter(r => r.getInt(2) == 1 && r.getInt(3) == 0)
    assert(byStatus.nonEmpty && byPriority.nonEmpty)
    assert(byStatus.length + byPriority.length == rows.length,
      "grouping flags must partition the output into exactly the two declared sets")
    assert(byStatus.map(_.getLong(4)).sum == total)
    assert(byPriority.map(_.getLong(4)).sum == total)
    // grouped-out column is null, kept column is not (flags disambiguate)
    byStatus.foreach(r => assert(!r.isNullAt(0) && r.isNullAt(1)))
    byPriority.foreach(r => assert(r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("time range frame: sliding hour window equals a brute per-user recompute") {
    val rows = graft.SparkEntry.queries("q58_time_range_frame")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // brute-force the frame for every row of a handful of users
    val users = rows.map(_._1).distinct.take(5).toSet
    val byUser = rows.filter(r => users(r._1)).groupBy(_._1)
    val events = Tables.load(spark, sfDir, "events")
      .filter(col("user_id").isin(users.toSeq: _*))
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    byUser.foreach { case (u, rs) =>
      val evs = events.filter(_._1 == u)
      rs.foreach { case (_, es, hourSum, hourN) =>
        val in = evs.filter(e => e._2 > es - 3601 && e._2 <= es)
        assert(in.length.toLong == hourN, s"user $u at $es: n mismatch")
        assert(math.abs(in.map(e => BigDecimal(e._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble - hourSum) < 1e-9,
          s"user $u at $es: sum mismatch")
      }
    }
  }

  test("transitive closure: every ancestor chain matches the arithmetic recompute") {
    val got = Analytics.q59TransitiveClosure.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val keys = Tables.load(spark, sfDir, "supplier")
      .select("s_suppkey").collect().map(_.getLong(0))
    // the traversal only ever read the edge RELATION; this walks the
    // parent formula independently, root 0 inclusive
    val expected = keys.filter(_ > 0).flatMap { k =>
      var n = k; var d = 0L
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      while (n > 0) { n = (n - 1) / 2; d += 1; out += ((k, n, d)) }
      out
    }.toSet
    assert(got == expected, "closure disagrees with independent chain walk")
    assert(got.exists(_._3 >= 3), "graph too shallow to exercise recursion")
    // root reachability: every node's deepest ancestor is the root
    got.groupBy(_._1).foreach { case (k, rs) =>
      assert(rs.maxBy(_._3)._2 == 0L, s"node $k never reached the root")
    }
  }

  test("ancestor closure property: random seeded forests match the in-process walk") {
    import spark.implicits._
    // parent(k) < k guarantees acyclicity; different seeds give
    // different shapes (chains, stars, mixed) so a join-key mix-up
    // that happens to be symmetric on the heap graph still fails here
    Seq(11, 42, 99).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val parent = (1 until 150).map(k => k.toLong -> rng.nextInt(k).toLong).toMap
      val edges = parent.toSeq.map { case (n, p) => (n, p) }
        .toDF("node", "parent")
      val got = Analytics.ancestorClosure(edges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expected = parent.keys.flatMap { k =>
        var n = k; var d = 0L
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        while (parent.contains(n)) { n = parent(n); d += 1; out += ((k, n, d)) }
        out
      }.toSet
      assert(got == expected, s"seed $seed: closure != walk")
    }
  }

  test("ranking suite: per-partition recompute of all five functions agrees") {
    val rows = Analytics.q60RankingSuite.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getDouble(4), r.getInt(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val orders = Tables.load(spark, sfDir, "orders")
      .filter(col("o_custkey") < 50)
      .select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (ck, got) =>
      val part = orders.filter(_._1 == ck)
      val n = part.length.toDouble
      val statuses = part.map(_._3).sorted
      val totalOrder = part.sortBy(t => (-t._4, t._2)).map(_._2)
      got.foreach { case (_, ok, drk, prk, cd, nt, prev) =>
        val st = part.find(_._2 == ok).get._3
        val below = statuses.count(_ < st)
        val peers = statuses.count(_ == st)
        assert(drk == statuses.distinct.count(_ <= st), s"dense_rank $ck/$ok")
        val expPrk = if (n == 1) 0.0 else below / (n - 1)
        assert(math.abs(prk - expPrk) < 1e-15, s"percent_rank $ck/$ok")
        assert(math.abs(cd - (below + peers) / n) < 1e-15, s"cume_dist $ck/$ok")
        val pos = totalOrder.indexOf(ok)
        // ntile's remainder distribution: early buckets one row larger
        val base = part.length / 4
        val rem = part.length % 4
        val starts = (0 until 4)
          .map(b => base + (if (b < rem) 1 else 0)).scanLeft(0)(_ + _)
        assert(nt == starts.indexWhere(_ > pos), s"ntile $ck/$ok pos $pos nt $nt")
        assert(prev == (if (pos == 0) -1L else totalOrder(pos - 1)),
          s"lag default $ck/$ok")
      }
    }
  }

  test("unpivot: three rows per status, values equal the wide aggregate") {
    val rows = Analytics.q61Unpivot.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val statuses = rows.map(_._1).distinct
    statuses.foreach { st =>
      val ms = rows.filter(_._1 == st).map(_._2).sorted
      assert(ms.toSeq == Seq("min_key", "n_orders", "sum_price"), s"status $st")
    }
    val orders = Tables.load(spark, sfDir, "orders")
    val wide = orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses.length == wide.size)
    rows.filter(_._2 == "n_orders").foreach { case (st, _, v) =>
      assert(v == wide(st).toDouble, s"melted n_orders for $st")
    }
  }

  test("retention triangle: no activity before a user's cohort week") {
    val rows = graft.SparkEntry.queries("q55_retention")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getDate(1).before(r.getDate(0)),
        s"active week ${r.getDate(1)} precedes cohort ${r.getDate(0)}")
      assert(r.getLong(2) > 0)
    }
  }

  test("sessionize equals an independent in-process recompute") {
    val gap = 1800000000L
    val out = Analytics.q67Sessionize.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // recompute sessions sequentially from the raw events — the
    // reference semantics, with none of the window machinery
    val events = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
      val ordered = es.map(e => (e._3, e._2)).sorted
      val sessions = scala.collection.mutable.ArrayBuffer[List[Long]]()
      ordered.foreach { case (tus, _) =>
        if (sessions.nonEmpty && tus - sessions.last.last <= gap)
          sessions(sessions.length - 1) = sessions.last :+ tus
        else sessions += List(tus)
      }
      sessions.zipWithIndex.map { case (ts, i) =>
        (uid, (i + 1).toLong, ts.length.toLong, ts.head, ts.last - ts.head)
      }
    }
    assert(out.sorted.toSeq == expected.sorted,
      s"sessionize diverged from sequential recompute (${out.length} vs ${expected.length} sessions)")
    assert(out.map(_._3).sum == events.length, "events lost or duplicated across sessions")
  }

  test("snapshot diff applied to v0 reproduces v1 exactly (CDC round-trip)") {
    import graft.sources.VersionedTables
    val rows = graft.SparkEntry.queries("q68_snapshot_diff")(spark, sfDir).collect()
    val v0 = VersionedTables.read(spark, "graft_cdc", Some(0))
      .collect().map(r => r.getLong(0) -> r.getDecimal(2).doubleValue).toMap
    val v1 = VersionedTables.read(spark, "graft_cdc", Some(1))
      .collect().map(r => r.getLong(0) -> r.getDecimal(2).doubleValue).toMap
    val deletes = rows.filter(_.getString(1) == "delete").map(_.getLong(0)).toSet
    // after-image from the DIFF OUTPUT ONLY — applying it to v0 must
    // land exactly on v1 (keys and values), the defining CDC property
    val after = rows.filter(r => r.getString(1) != "delete")
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val applied = (v0 -- deletes) ++ after
    assert(applied == v1, "v0 + diff does not reproduce v1")
    // completeness: every key whose value differs is in the diff
    val changed = rows.map(_.getLong(0)).toSet
    (v0.keySet intersect v1.keySet).foreach { k =>
      if (!changed.contains(k)) assert(v0(k) == v1(k),
        s"key $k differs between versions but is missing from the diff")
    }
    // the three op classes are all present and correctly labeled
    assert(deletes.nonEmpty && after.keySet.exists(k => !v0.contains(k))
      && after.keySet.exists(v0.contains), "fixture lost an op class")
    deletes.foreach(k => assert(v0.contains(k) && !v1.contains(k)))
  }

  test("interval merge matches a sequential sweep and islands are maximal") {
    val out = Analytics.q71IntervalMerge.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // independent recompute: classic one-pass sweep per user over
    // (start, end) sorted intervals
    val ivs = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(2) + (r.getLong(1) % 7 + 1) * 60000000L, r.getLong(1)))
    val expected = ivs.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._4))
      val islands = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      for ((_, s, e, _) <- sorted) {
        if (islands.nonEmpty && s <= islands.last._3)
          islands(islands.length - 1) = (islands.last._1 + 1, islands.last._2,
            math.max(islands.last._3, e))
        else islands += ((1L, s, e))
      }
      islands.zipWithIndex.map { case ((n, s, e), i) => (u, i + 1L, n, s, e) }
    }.sortBy(r => (r._1, r._2))
    assert(out.toSeq == expected, "merged islands diverge from the sequential sweep")
    // the merge must actually merge, and islands must be disjoint
    assert(out.exists(_._3 > 1), "no interval ever merged — fixture too sparse")
    out.groupBy(_._1).values.foreach { is =>
      is.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b._4 > a._5, s"islands overlap: $a / $b")
        case _ =>
      }
    }
  }

  test("OHLC bars match a sequential per-bar recompute in time order") {
    val rows = Analytics.q74Ohlc.run(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getDate(1).toString),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))))
      .toMap
    val events = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts").cast("date").cast("string").as("bar"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val expected = events.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      val ordered = es.sortBy(e => (e._3, e._4))
      k -> (ordered.head._5, es.map(_._5).max, es.map(_._5).min,
        ordered.last._5, es.length.toLong)
    }
    assert(rows == expected, "bars diverge from the sequential recompute")
    // open/close really are order-sensitive on this fixture: for some
    // bar they differ from plain min/max (otherwise the ordered
    // aggregate is untested)
    assert(expected.values.exists(b => b._1 != b._3 && b._1 != b._2),
      "no bar whose open differs from both extremes — fixture too weak")
    assert(expected.values.exists(b => b._4 != b._3 && b._4 != b._2),
      "no bar whose close differs from both extremes — fixture too weak")
  }

  test("MAD outliers: rank-selected median/MAD are exact and the fence counts match") {
    val rows = Analytics.q73MadOutliers.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val data = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    rows.foreach { case (flag, med, mad, n, nOut) =>
      val xs = data.filter(_._1 == flag).map(_._2)
      assert(xs.length.toLong == n)
      val sortedX = xs.sorted
      assert(med == sortedX(math.ceil(n * 0.5).toInt - 1), s"$flag: median not at rank")
      val devs = xs.map(x => math.abs(x - med)).sorted
      assert(mad == devs(math.ceil(n * 0.5).toInt - 1), s"$flag: MAD not at rank")
      assert(nOut == xs.count(x => math.abs(x - med) > 1.5 * mad), s"$flag: fence count")
      // the fence bites but never flags a majority (50% breakdown)
      assert(nOut > 0 && nOut * 2 < n)
    }
  }

  test("integer pagerank matches an exact sequential recompute, bit for bit") {
    val out = Analytics.q72Pagerank.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") < 10)
      .select((col("l_orderkey") % 300).as("a"), (col("l_suppkey") % 300).as("b"))
      .filter(col("a") =!= col("b")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .distinct.flatMap { case (u, v) => Seq(u -> v, v -> u) }
    val outdeg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val nodes = outdeg.keySet
    var pr = nodes.map(_ -> Analytics.PrScale).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((s, d) <- edges) contrib(d) += pr(s) / outdeg(s)
      pr = nodes.map(n => n -> (Analytics.PrTeleport + 85 * contrib(n) / 100)).toMap
    }
    assert(out == pr, "distributed integer pagerank diverged from the sequential recompute")
    // rank mass is conserved up to the floor losses (never exceeded)
    assert(out.values.sum <= nodes.size * Analytics.PrScale)
  }

  test("triangle counts match an independent in-process enumeration") {
    val out = Analytics.q70Triangles.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rebuild the same derived edge set and enumerate triangles the
    // slow, obvious way (sorted-adjacency intersection) on the driver
    val edges = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") < 10)
      .select((col("l_orderkey") % 300).as("a"), (col("l_suppkey") % 300).as("b"))
      .filter(col("a") =!= col("b")).collect()
      .map(r => { val (x, y) = (r.getLong(0), r.getLong(1))
        (math.min(x, y), math.max(x, y)) }).distinct
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((u, v) <- edges; w <- adj(u) intersect adj(v); if u < v && v < w) {
      counts(u) += 1; counts(v) += 1; counts(w) += 1
    }
    assert(out == counts.toMap, "per-node triangle counts diverge from brute enumeration")
    assert(out.values.sum % 3 == 0, "triangle incidences must be divisible by 3")
  }

  test("correlation matrix agrees with Spark's builtin corr on every pair") {
    val rows = Analytics.statsCorr.run(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(rows.size == 6, "expected all C(4,2) column pairs")
    val li = Tables.load(spark, sfDir, "lineitem")
    rows.foreach { case ((cx, cy), c) =>
      val ref = li.select(corr(col(cx), col(cy))).head().getDouble(0)
      assert(!ref.isNaN && math.abs(ref) < 1.0,
        s"$cx/$cy: degenerate fixture (constant column?)")
      assert(math.abs(c - ref) < 2e-6, s"$cx/$cy: $c vs builtin $ref")
    }
  }

  test("Welch t-test matches builtin moments; df inside its exact bounds") {
    val rows = Analytics.statsTtest.run(spark, sfDir).collect()
    val types = Tables.load(spark, sfDir, "events")
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet == types,
      "every event type must have both A/B groups populated")
    val e = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), (col("user_id") % 2).as("grp"), col("value"))
    rows.foreach { r =>
      val (ty, nA, nB) = (r.getString(0), r.getLong(1), r.getLong(2))
      val (meanA, meanB, tStat, df) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(nA >= 30 && nB >= 30, s"$ty: groups too small to exercise the test")
      val st = e.filter(col("event_type") === ty).groupBy("grp")
        .agg(count(lit(1)).as("n"), avg("value").as("m"), var_samp("value").as("v"))
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2), x.getDouble(3)))
        .toMap
      val (rnA, mA, vA) = st(0); val (rnB, mB, vB) = st(1)
      assert(rnA == nA && rnB == nB)
      assert(math.abs(meanA - mA) < 1e-3 && math.abs(meanB - mB) < 1e-3)
      val tRef = (mA - mB) / math.sqrt(vA / nA + vB / nB)
      assert(math.abs(tStat - tRef) < 1e-3, s"$ty: t $tStat vs recomputed $tRef")
      assert(math.signum(tStat) == math.signum(meanA - meanB) || tStat == 0.0)
      // Welch–Satterthwaite df is bounded by min(n)-1 and n_a+n_b-2
      assert(df >= math.min(nA, nB) - 1 && df <= nA + nB - 2,
        s"$ty: df $df outside [${math.min(nA, nB) - 1}, ${nA + nB - 2}]")
    }
  }

  test("markov transitions match an in-process sequential recompute") {
    val rows = Analytics.q75Markov.run(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
    // each row of the matrix is a probability distribution
    rows.groupBy(_._1._1).foreach { case (prev, rs) =>
      val mass = rs.map(_._2._2).sum
      assert(math.abs(mass - 1.0) < 5e-6 * rs.size, s"$prev: row mass $mass")
    }
    // exact transition counts from a per-user sequential walk
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (e._2, e._3)).toSeq.sliding(2)
        .collect { case Seq(p, n) => (p._4, n._4) }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(rows.map(r => r._1 -> r._2._1).toMap == expected,
      "transition counts diverge from the sequential walk")
    // every non-first event is exactly one transition
    assert(expected.values.sum == ev.length - ev.map(_._1).distinct.length)
    assert(expected.values.sum > 0, "fixture has no transitions")
  }

  test("graph_components: star contraction converges in log rounds where label propagation cannot") {
    import spark.implicits._
    // a 200-node chain: diameter 199, so min-label propagation needs
    // ~199 rounds; star contraction should take O(log n)
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("x", "y")
    // localMaxBytes = 0 forces the DISTRIBUTED contraction — this
    // test pins the log-round property of the loop itself, which the
    // size-gated local union-find (r12) would otherwise shadow at
    // fixture scale
    val (stars, rounds) = Analytics.largeSmallStar(chain, localMaxBytes = 0L)
    assert(rounds <= 15, s"star contraction took $rounds rounds on a 200-chain")
    val labels = stars.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 199L).forall(labels(_) == 0L), "chain must collapse to component 0")
    assert(!labels.contains(0L), "the root holds no star edge")
    // converged state is a star FOREST: exactly one pointer per node
    assert(stars.groupBy("u").count().filter(col("count") > 1).isEmpty)
    // the local kernel must produce the IDENTICAL forest (pointer per
    // non-root node, rooted at the component min)
    val local = Analytics.largeSmallStar(chain)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == labels, "local union-find diverges from the contraction")
    // the diameter-bound algorithm provably cannot finish a 61-node
    // chain in 12 rounds — this is WHY the operator exists. Min-label
    // propagation: each round every node takes the least label in its
    // closed neighborhood, until a round changes nothing.
    val chain60 = (0L until 60L).map(i => (i, i + 1))
    val nbrs = (chain60 ++ chain60.map(_.swap)).groupMap(_._1)(_._2)
    var prop = nbrs.keys.map(n => n -> n).toMap
    var moved = true
    var propRounds = 0
    while (moved && propRounds < 12) {
      val next = prop.map { case (n, l) => n -> (l +: nbrs(n).map(prop)).min }
      moved = next != prop
      prop = next
      propRounds += 1
    }
    assert(moved && prop(60L) != 0L,
      s"label propagation converged on a 61-node chain in $propRounds rounds")
  }

  test("KS statistic matches an in-process sequential ECDF recompute") {
    val row = Analytics.statsKs.run(spark, sfDir).head()
    val (na, nb, ks) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    val vals = Tables.load(spark, sfDir, "events")
      .select((col("user_id") % 2).as("g"),
        col("value").cast("decimal(12,2)").as("v"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1)))
    val a = vals.filter(_._1 == 0L).map(_._2)
    val b = vals.filter(_._1 == 1L).map(_._2)
    assert(na == a.length && nb == b.length)
    val points = (a ++ b).distinct.sorted
    var best = 0.0
    points.foreach { p =>
      val fa = a.count(_.compareTo(p) <= 0).toDouble / a.length
      val fb = b.count(_.compareTo(p) <= 0).toDouble / b.length
      best = math.max(best, math.abs(fa - fb))
    }
    assert(math.abs(best - ks) <= 5e-7, s"sequential KS $best vs op $ks")
    assert(ks >= 0.0 && ks <= 1.0)
  }

  test("grouped OLS: exact-moment driver recompute matches bit-for-bit, R2 agrees with builtin corr") {
    val rows = Analytics.statsLinreg.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val data = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("decimal(12,2)"),
        col("l_extendedprice").cast("decimal(12,2)"))
      .collect()
      .map(r => (r.getString(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2))))
    data.groupBy(_._1).foreach { case (flag, xs) =>
      val n = xs.length.toLong
      val sx = xs.map(_._2).sum.toDouble; val sy = xs.map(_._3).sum.toDouble
      val sxy = xs.map(t => t._2 * t._3).sum.toDouble
      val sxx = xs.map(t => t._2 * t._2).sum.toDouble
      val syy = xs.map(t => t._3 * t._3).sum.toDouble
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val corr = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      val (gn, gs, gi, gr) = rows(flag)
      // Spark round() is HALF_UP — mirror it exactly
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(gn == n)
      assert(gs == r6(slope), s"$flag slope")
      assert(gi == r6((sy - slope * sx) / n), s"$flag intercept")
      assert(gr == r6(corr * corr), s"$flag r2")
      assert(gr >= 0.0 && gr <= 1.0)
    }
    // R2 agrees with Spark's builtin corr within the rounding grain
    val builtin = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { case (flag, (_, _, _, r2)) =>
      val c = builtin(flag)
      assert(math.abs(r2 - c * c) <= 2e-6, s"$flag: r2 $r2 vs builtin ${c * c}")
    }
  }

  test("one-way ANOVA: ordered-fold driver recompute matches bit-for-bit; decomposition holds") {
    val row = Analytics.statsAnova.run(spark, sfDir).collect().head
    val (k, n) = (row.getLong(0), row.getLong(1))
    val (ssb, ssw, f) = (row.getDouble(2), row.getDouble(3), row.getDouble(4))
    assert(row.getLong(5) == k - 1 && row.getLong(6) == n - k)
    // sequential recompute: exact decimal moments per group, then the
    // SAME left fold in event-type order as the op and its oracle
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("value").cast("decimal(12,2)"))
      .collect().map(r => (r.getString(0), BigDecimal(r.getDecimal(1))))
    val groups = raw.groupBy(_._1).toSeq.sortBy(_._1)
    assert(k == groups.size && n == raw.length.toLong)
    def gm(xs: Array[(String, BigDecimal)]) = {
      val gn = xs.length.toLong
      (gn, xs.map(_._2).sum.toDouble, xs.map(t => t._2 * t._2).sum.toDouble)
    }
    val sswDrv = groups.map { case (_, xs) =>
      val (gn, s, ss) = gm(xs); ss - s * s / gn
    }.foldLeft(0.0)(_ + _)
    val sbDrv = groups.map { case (_, xs) =>
      val (gn, s, _) = gm(xs); s * s / gn
    }.foldLeft(0.0)(_ + _)
    val st = raw.map(_._2).sum.toDouble
    val ssbDrv = sbDrv - st * st / n
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ssb == r4(ssbDrv), s"ssb $ssb vs $ssbDrv")
    assert(ssw == r4(sswDrv), s"ssw $ssw vs $sswDrv")
    assert(f == r4((ssbDrv / (k - 1)) / (sswDrv / (n - k))), s"f_stat $f")
    // the variance decomposition must hold: SSB + SSW = total SS
    val sstot = groups.map { case (_, xs) =>
      val (_, _, ss) = gm(xs); ss
    }.foldLeft(0.0)(_ + _) - st * st / n
    assert(math.abs((ssbDrv + sswDrv) - sstot) <= 1e-6 * math.max(1.0, sstot))
    assert(f > 0.0 && k >= 3, "fixture must exercise a real k-group split")
  }

  test("Poisson bootstrap: sequential recompute from the hashes matches bit-for-bit; SE is calibrated") {
    val got = Analytics.statsBootstrap.run(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // hashes via the same Spark kernel; everything downstream —
    // thresholds, weights, exact sums, folds — recomputed sequentially
    val B = Analytics.BootReps
    val rows = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("value").cast("decimal(12,2)").as("v"),
        col("event_id"))
      .withColumn("b", explode(typedLit((0 until B).map(_.toLong))))
      .withColumn("h", xxhash64(col("event_id"), col("b")))
      .collect()
      .map(r => (r.getString(0), BigDecimal(r.getDecimal(1)), r.getLong(3), r.getLong(4)))
    val tSigned = Analytics.PoissonT.map(t => (t - BigInt(2).pow(63)).toLong)
    def weight(h: Long): Long = tSigned.count(t => (h ^ Long.MinValue) >= t).toLong
    rows.groupBy(_._1).foreach { case (ty, xs) =>
      val (n, mean, nReps, bootMean, bootSe) = got(ty)
      assert(n == xs.length.toLong / B && nReps == B.toLong)
      val reps = xs.groupBy(_._3).toSeq.sortBy(_._1).map { case (_, ys) =>
        val nw = ys.map(y => weight(y._4)).sum
        val sv = ys.map(y => y._2 * BigDecimal(weight(y._4))).sum
        sv.toDouble / nw
      }
      val sm = reps.foldLeft(0.0)(_ + _)
      val sm2 = reps.map(m => m * m).foldLeft(0.0)(_ + _)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(bootMean == r6(sm / B), s"$ty boot_mean")
      assert(bootSe == r6(math.sqrt((sm2 - sm * sm / B) / (B - 1))), s"$ty boot_se")
      // distinct per-replicate weights actually vary (0 and >1 occur)
      val ws = xs.map(y => weight(y._4))
      assert(ws.contains(0L) && ws.exists(_ > 1L), s"$ty: degenerate weights")
      // calibration: the bootstrap SE approximates sd/sqrt(n)
      val vals = xs.filter(_._3 == 0L).map(_._2.toDouble)
      val mu = vals.sum / vals.length
      val classical = math.sqrt(vals.map(x => (x - mu) * (x - mu)).sum /
        (vals.length - 1) / vals.length)
      assert(bootSe > classical / 3 && bootSe < classical * 3,
        s"$ty: boot_se $bootSe vs classical $classical")
      assert(math.abs(bootMean - mean) < 6 * classical, s"$ty: boot_mean far from mean")
    }
    assert(got.nonEmpty)
  }

  test("permutation test: sequential recompute from the hashes matches bit-for-bit") {
    val got = Analytics.statsPermutation.run(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val B = Analytics.PermReps
    // the op's cent-integer metric (r10): quantize floor(v·100+0.5)
    // to LONG cents IN THE DRIVER (same IEEE double ops as the
    // kernel's floor expression, independently evaluated) and replay
    // the exact division tree sum.toDouble/100/count — NOT a
    // decimal(12,2) cast, which rounds the double's exact decimal
    // expansion and disagrees with floor(v·100+0.5) at binary
    // .5-boundary and negative values
    val rows = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("value"), col("user_id"))
      .withColumn("b", explode(typedLit((0 until B).map(_.toLong))))
      .withColumn("h", xxhash64(col("user_id"), lit(7000L) + col("b")))
      .collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong,
        r.getLong(2), r.getLong(3), r.getLong(4)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.groupBy(_._1).foreach { case (ty, xs) =>
      val (dObs, nPerms, nExtreme, p) = got(ty)
      assert(nPerms == B.toLong)
      val base = xs.filter(_._4 == 0L)
      def diff(group: ((String, Long, Long, Long, Long)) => Long) = {
        val a = base.filter(r => group(r) == 0L)
        val bg = base.filter(r => group(r) == 1L)
        a.map(_._2).sum.toDouble / 100 / a.length -
          bg.map(_._2).sum.toDouble / 100 / bg.length
      }
      val dObsDrv = diff(r => r._3 % 2)
      assert(dObs == r6(dObsDrv), s"$ty d_obs")
      val extremes = (0 until B).count { b =>
        val perm = xs.filter(_._4 == b.toLong)
        val a = perm.filter(r => (r._5 & 1L) == 0L)
        val bg = perm.filter(r => (r._5 & 1L) == 1L)
        val d = a.map(_._2).sum.toDouble / 100 / a.length -
          bg.map(_._2).sum.toDouble / 100 / bg.length
        math.abs(d) >= math.abs(dObsDrv)
      }
      assert(nExtreme == extremes.toLong, s"$ty n_extreme")
      assert(p == r6((1.0 + extremes) / (B + 1)), s"$ty p_value")
      assert(p > 0.0 && p <= 1.0)
    }
    assert(got.nonEmpty)
  }

  test("cent quantization + mean tree: fixed inputs match hand-computed literals") {
    // ADVICE r11: the replay tests above verify CONSISTENCY between
    // the kernel and a driver recompute of the same floor(v·100+0.5)
    // tree — a mis-specified quantization would reproduce on both
    // sides and pass. This pins the metric DEFINITION itself on five
    // hand-derived cases (worked out from IEEE-754 semantics,
    // independently cross-checked):
    //   12.34  → 12.34·100  = 1233.9999999999998 → floor(+0.5) = 1234
    //   2.675  → 2.675·100  = 267.50000000000003 → 268 (product
    //            rounds UP in binary; a decimal(12,2) HALF_EVEN cast
    //            would give 267.50 → this is why the contract is the
    //            double tree, not a decimal cast)
    //   -1.005 → -100.49999999999999 → floor(-99.999…) = -100
    //   0.005  →  0.5 + 0.5 = 1.0  → 1
    //   -0.005 → -0.5 + 0.5 = 0.0 → 0  (floor(x+0.5) is NOT
    //            half-away-from-zero at negative boundaries)
    // and the division tree sum.toDouble/100/count on two groups:
    //   g1 = [12.34, 2.675, -1.005] → cents 1402 → 1402.0/100/3
    //      = 4.673333333333333
    //   g2 = [0.005, -0.005]        → cents 1    → 1.0/100/2 = 0.005
    import spark.implicits._
    val fix = Seq(("g1", 12.34), ("g1", 2.675), ("g1", -1.005),
      ("g2", 0.005), ("g2", -0.005)).toDF("g", "v")
    val cents = fix.select(col("g"),
      floor(col("v") * 100 + 0.5).cast("long").as("c")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(cents.toSet == Set(("g1", 1234L), ("g1", 268L), ("g1", -100L),
      ("g2", 1L), ("g2", 0L)).map(identity),
      s"quantization drifted: ${cents.toSeq}")
    val means = fix.groupBy("g")
      .agg((sum(floor(col("v") * 100 + 0.5).cast("long")).cast("double")
        / 100 / count(lit(1))).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(means("g1") == 4.673333333333333, s"g1 mean ${means("g1")}")
    assert(means("g2") == 0.005, s"g2 mean ${means("g2")}")
    // the driver-side replay helper used by the permutation/bootstrap
    // specs must agree with the same literals (closing the loop: spec
    // replay == kernel == definition)
    assert(math.floor(2.675 * 100 + 0.5).toLong == 268L)
    assert(math.floor(-1.005 * 100 + 0.5).toLong == -100L)
  }

  test("winsorized/trimmed means equal a sequential order-statistics recompute") {
    val got = Analytics.statsWinsorize.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("value").cast("decimal(12,2)"), col("event_id"))
      .collect().map(r => (r.getString(0), BigDecimal(r.getDecimal(1)), r.getLong(2)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val (n, lo, hi, mRaw, mWin, mTrim) = got(ty)
      val sorted = xs.sortBy(r => (r._2, r._3)).map(_._2)
      assert(n == sorted.length.toLong)
      val kcut = (5 * sorted.length) / 100
      val (wantLo, wantHi) = (sorted(kcut), sorted(sorted.length - kcut - 1))
      assert(lo == wantLo.toDouble && hi == wantHi.toDouble, s"$ty bounds")
      assert(mRaw == r6(sorted.sum.toDouble / n))
      val win = sorted.map(v => if (v < wantLo) wantLo else if (v > wantHi) wantHi else v)
      assert(mWin == r6(win.sum.toDouble / n), s"$ty winsor")
      val trim = sorted.slice(kcut, sorted.length - kcut)
      assert(mTrim == r6(trim.sum.toDouble / trim.length), s"$ty trim")
      // the robust means are genuinely tail-resistant: both sit inside
      // [lo, hi], and clamping really bit (bounds are interior values)
      assert(mWin >= lo && mWin <= hi && mTrim >= lo && mTrim <= hi)
      assert(wantLo > sorted.head && wantHi < sorted.last, s"$ty: tails never clamped")
    }
    assert(got.nonEmpty)
  }

  test("power analysis: exact-moment recompute matches bit-for-bit; MDE scales as 1/sqrt(n)") {
    val got = Analytics.statsPower.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), (col("user_id") % 2).as("g"),
        col("value").cast("decimal(12,2)"))
      .collect().map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val (na, nb, pooledVar, mdeAbs, mdeRel) = got(ty)
      val a = xs.filter(_._2 == 0L); val b = xs.filter(_._2 == 1L)
      assert(na == a.length.toLong && nb == b.length.toLong)
      val (sa, sb) = (a.map(_._3).sum.toDouble, b.map(_._3).sum.toDouble)
      val (ssa, ssb) = (a.map(x => x._3 * x._3).sum.toDouble, b.map(x => x._3 * x._3).sum.toDouble)
      val pooled = ((ssa - sa * sa / na) + (ssb - sb * sb / nb)) / (na + nb - 2)
      val mde = (1.959964 + 0.841621) * math.sqrt(pooled / na + pooled / nb)
      assert(pooledVar == r6(pooled), s"$ty pooled_var")
      assert(mdeAbs == r6(mde), s"$ty mde_abs")
      assert(mdeRel == r6(mde / ((sa + sb) / (na + nb))), s"$ty mde_rel")
      assert(mdeAbs > 0 && mdeRel > 0)
      // MDE at quadruple traffic is half — the 1/sqrt(n) law through
      // the same formula
      val mde4 = (1.959964 + 0.841621) * math.sqrt(pooled / (4 * na) + pooled / (4 * nb))
      assert(math.abs(mde4 - mde / 2) < 1e-12 * mde)
    }
    assert(got.nonEmpty)
  }

  test("median CI: endpoints are the exact order statistics at the binomial ranks and bracket the median") {
    val got = Analytics.statsQuantileCi.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getLong(6))).toMap
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("value").cast("decimal(12,2)"), col("event_id"))
      .collect().map(r => (r.getString(0), BigDecimal(r.getDecimal(1)), r.getLong(2)))
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val (n, median, ciLo, ciHi, loRank, hiRank) = got(ty)
      val sorted = xs.sortBy(r => (r._2, r._3)).map(_._2)
      assert(n == sorted.length.toLong)
      val zr = 1.96 * math.sqrt(n.toDouble)
      val wantLo = math.max(1L, math.floor((n - zr) / 2).toLong)
      val wantHi = math.min(n, math.ceil(1 + (n + zr) / 2).toLong)
      assert(loRank == wantLo && hiRank == wantHi, s"$ty ranks")
      assert(median == sorted(((n + 1) / 2).toInt - 1).toDouble, s"$ty median")
      assert(ciLo == sorted(wantLo.toInt - 1).toDouble, s"$ty ci_lo")
      assert(ciHi == sorted(wantHi.toInt - 1).toDouble, s"$ty ci_hi")
      // the interval is a genuine bracket, and at these group sizes a
      // proper (non-degenerate) one
      assert(ciLo <= median && median <= ciHi, s"$ty bracket")
      assert(loRank >= 1 && hiRank <= n && loRank < hiRank, s"$ty rank bounds")
    }
    assert(got.nonEmpty)
  }

  test("Mann-Whitney U: sequential tie-averaged rank recompute matches; U_a + U_b = n_a*n_b") {
    val got = Analytics.statsMannWhitney.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toMap
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), (col("user_id") % 2).as("g"),
        col("value").cast("decimal(12,2)"))
      .collect().map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val (na, nb, u, z) = got(ty)
      assert(na == xs.count(_._2 == 0L).toLong && nb == xs.length - na)
      // sequential tie-averaged ranks over the combined sample,
      // doubled to stay integer (2*avgrank = 2*minrank + cnt - 1)
      val sorted = xs.sortBy(_._3)
      val byV = sorted.map(_._3).zipWithIndex.groupBy(_._1)
      val rank2 = byV.map { case (v, occ) =>
        v -> (2L * (occ.map(_._2).min + 1) + occ.length - 1)
      }
      val r2a = xs.filter(_._2 == 0L).map(x => rank2(x._3)).sum
      val wantU = (r2a - na * (na + 1)).toDouble / 2
      assert(u == wantU, s"$ty U")
      // the symmetric identity: U_a + U_b = n_a * n_b (tie-robust)
      val r2b = xs.filter(_._2 == 1L).map(x => rank2(x._3)).sum
      val uB = (r2b - nb * (nb + 1)).toDouble / 2
      assert(u + uB == (na * nb).toDouble, s"$ty U_a + U_b")
      // z from the same exact integers, tolerance only for fold order
      val t3t = byV.values.map(o => { val c = o.length.toLong; c * c * c - c }).sum
      val n = na + nb
      val sig2 = (na * nb).toDouble / 12 *
        ((n + 1).toDouble - t3t.toDouble / (n * (n - 1)).toDouble)
      val wantZ = (wantU - (na * nb).toDouble / 2) / math.sqrt(sig2)
      assert(z == BigDecimal(wantZ).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"$ty z")
    }
    assert(got.nonEmpty)
  }

  test("FDR: BH adjusted p-values are monotone, dominate raw p, and reject iff p_adj <= alpha") {
    val got = Analytics.statsFdr.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    val pRaw = Analytics.statsPermutation.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    val m = got.length.toLong
    assert(got.forall(_._4 == m))
    assert(got.map(_._3).sorted.toSeq == (1L to m).toSeq, "ranks are 1..m")
    // consumes exactly the permutation op's p-values
    got.foreach { case (ty, p, _, _, _, _) => assert(p == pRaw(ty), s"$ty p") }
    // step-up recompute
    val byRank = got.sortBy(_._3)
    val wantAdj = byRank.map { case (_, p, i, _, _, _) => p * m / i }
      .scanRight(Double.MaxValue)(math.min).init.map(x => math.min(1.0, x))
    byRank.zip(wantAdj).foreach { case ((ty, _, _, _, adj, _), want) =>
      assert(adj == BigDecimal(want).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"$ty p_adj")
    }
    // monotone in rank and dominates raw p (up to output rounding)
    assert(byRank.map(_._5).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
    byRank.foreach { case (ty, p, _, _, adj, _) =>
      assert(adj + 5e-7 >= p, s"$ty p_adj >= p")
    }
    // reject set recomputed from the raw step-up rule
    val k = byRank.filter { case (_, p, i, _, _, _) => p * m <= 0.05 * i }
      .map(_._3).maxOption.getOrElse(0L)
    byRank.foreach { case (ty, _, i, _, _, rej) =>
      assert(rej == (i <= k), s"$ty reject")
    }
  }

  test("TOST equivalence: exact-moment recompute matches; a planted shift breaks equivalence") {
    val got = Analytics.statsTost.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getBoolean(8))).toMap
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), (col("user_id") % 2).as("g"),
        col("value").cast("decimal(12,2)"))
      .collect().map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val (na, nb, d, delta, se, tL, tU, eq) = got(ty)
      val a = xs.filter(_._2 == 0L); val b = xs.filter(_._2 == 1L)
      assert(na == a.length.toLong && nb == b.length.toLong)
      val (sa, sb) = (a.map(_._3).sum.toDouble, b.map(_._3).sum.toDouble)
      val (ssa, ssb) = (a.map(x => x._3 * x._3).sum.toDouble, b.map(x => x._3 * x._3).sum.toDouble)
      val wantD = sa / na - sb / nb
      val wantDelta = 0.1 * ((sa + sb) / (na + nb))
      val wantSe = math.sqrt((ssa - sa * sa / na) / (na - 1) / na
        + (ssb - sb * sb / nb) / (nb - 1) / nb)
      assert(d == r6(wantD) && delta == r6(wantDelta) && se == r6(wantSe), s"$ty moments")
      assert(tL == r6((wantD + wantDelta) / wantSe), s"$ty t_lower")
      assert(tU == r6((wantDelta - wantD) / wantSe), s"$ty t_upper")
      assert(eq == ((wantD + wantDelta) / wantSe > 1.645 &&
        (wantDelta - wantD) / wantSe > 1.645), s"$ty verdict")
      // a shift of 2*delta planted on group A must break equivalence:
      // the same tree with d' = d + 2*delta fails the upper test
      val dShift = wantD + 2 * wantDelta
      assert(!((dShift + wantDelta) / wantSe > 1.645 &&
        (wantDelta - dShift) / wantSe > 1.645), s"$ty planted shift")
    }
    // at this SF (~100 rows/group) no type can clear the margin — the
    // honest TOST readout for an underpowered sample ("not proven
    // equivalent" ≠ "different"); at sf0.1 all five types read
    // equivalent (verified against the oracle at the driver gate).
    // Pin the formula-level reason so a silent verdict flip is caught:
    got.values.foreach { case (_, _, d, delta, se, _, _, eq) =>
      if (se > delta / 1.645) assert(!eq, "equivalence claimed beyond the margin's power")
      else assert(eq == (math.abs(d) < delta - 1.645 * se) ||
        math.abs(math.abs(d) - (delta - 1.645 * se)) < 1e-5)
    }
  }

  test("Gini: sequential rank recompute matches; bounded in [0,1); tie-run invariant") {
    val got = Analytics.statsGini.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("value").cast("decimal(12,2)"), col("event_id"))
      .collect().map(r => (r.getString(0), BigDecimal(r.getDecimal(1)), r.getLong(2)))
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val (n, sumV, gini) = got(ty)
      val sorted = xs.sortBy(r => (r._2, r._3)).map(_._2)
      assert(n == sorted.length.toLong)
      assert(sumV == sorted.sum.toDouble, s"$ty sum")
      val num = sorted.zipWithIndex
        .map { case (x, i0) => x * (2 * (i0 + 1) - n - 1) }.sum
      val want = num.toDouble / (n.toDouble * sorted.sum.toDouble)
      assert(gini == BigDecimal(want).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"$ty gini")
      assert(gini >= 0.0 && gini < 1.0, s"$ty bounds")
      // tie invariance: permuting a tie run leaves the numerator fixed
      // (coefficients sum over the run) — recompute with values
      // REVERSE-sorted within ties and expect the identical numerator
      val numRev = xs.sortBy(r => (r._2, -r._3)).map(_._2).zipWithIndex
        .map { case (x, i0) => x * (2 * (i0 + 1) - n - 1) }.sum
      assert(num == numRev, s"$ty tie invariance")
    }
    assert(got.nonEmpty)
  }

  test("degree distribution: sequential histogram matches; buckets tile powers of two; shares sum to 1") {
    val got = Analytics.graphDegreeDist.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val edges = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").cast("long"), col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), 1000000000L + r.getLong(1))).distinct
    val deg = (edges.map(_._1) ++ edges.map(_._2)).groupBy(identity).map(_._2.length)
    val byBucket = deg.groupBy(d => 63 - java.lang.Long.numberOfLeadingZeros(d.toLong))
    assert(got.map(_._1).toSet == byBucket.keySet.map(_.toLong))
    got.foreach { case (b, nNodes, minD, maxD, share) =>
      val ds = byBucket(b.toInt)
      assert(nNodes == ds.size.toLong, s"bucket $b count")
      assert(minD == ds.min.toLong && maxD == ds.max.toLong, s"bucket $b range")
      // the bucket genuinely tiles [2^b, 2^(b+1))
      assert(minD >= (1L << b) && maxD < (1L << (b + 1)), s"bucket $b bounds")
      assert(share == BigDecimal(ds.size.toDouble / deg.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"bucket $b share")
    }
    assert(math.abs(got.map(_._5).sum - 1.0) < 1e-4, "shares sum to ~1")
  }

  test("sequential test: final-look z equals the Welch t; boundaries decrease; at most one stop per type") {
    val got = Analytics.statsSequential.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6), r.getBoolean(7)))
    assert(got.nonEmpty && got.map(_._2).distinct.sorted.toSeq == Seq(1L, 2L, 3L))
    // the cumulative look-3 moments ARE the full-corpus moments, so
    // the final z must equal stats_ttest's Welch t, bit for bit
    val tt = Analytics.statsTtest.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    got.filter(_._2 == 3L).foreach { case (ty, _, _, _, z, _, _, _) =>
      assert(z == tt(ty), s"$ty final z != Welch t")
    }
    got.groupBy(_._1).foreach { case (ty, rows) =>
      val byLook = rows.sortBy(_._2)
      // OBF: evidence bar falls as information accrues
      assert(byLook.map(_._6).toSeq == Seq(3.471, 2.454, 2.004), s"$ty bounds")
      // monotone cumulative sample sizes
      assert(byLook.map(_._3).toSeq == byLook.map(_._3).sorted.toSeq, s"$ty n_a")
      // stop_here: at most one, at the FIRST crossing, and crossed there
      val stops = byLook.filter(_._8)
      assert(stops.size <= 1, s"$ty multiple stops")
      stops.foreach { st =>
        assert(st._7, s"$ty stop without crossing")
        assert(byLook.filter(_._2 < st._2).forall(!_._7), s"$ty stop not first crossing")
      }
    }
  }

  test("seasonality: sequential hour-profile recompute matches; shares and index mass balance") {
    val got = Analytics.statsSeasonality.run(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getDouble(3), r.getDouble(4))))
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), hour(col("ts")).cast("long"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), math.floor(r.getDouble(2) * 100 + 0.5).toLong))
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val nn = xs.length.toLong
      val s = xs.map(e => BigInt(e._3)).sum
      val byH = xs.groupBy(_._2)
      val rows = got.filter(_._1._1 == ty).map { case ((_, h), v) => h -> v }.toMap
      assert(rows.keySet == byH.keySet, s"$ty hours")
      byH.foreach { case (h, es) =>
        val (n, share, idx) = rows(h)
        val cents = es.map(e => BigInt(e._3)).sum
        assert(n == es.length.toLong, s"$ty h$h n")
        assert(share == n.toDouble / nn, s"$ty h$h share")
        assert(idx == (cents * nn).toDouble / (BigInt(n) * s).toDouble, s"$ty h$h idx")
      }
      // share mass == 1 exactly in rationals; allow float sum tolerance
      assert(math.abs(rows.values.map(_._2).sum - 1.0) < 1e-9, s"$ty share mass")
      // index weighted by value mass is 1: sum_h (cents_h/S * idx_h^-1...) — pin
      // instead the direct identity sum_h share_h * idx_h relates means; just
      // require a non-degenerate profile
      assert(rows.values.map(_._3).max > rows.values.map(_._3).min, s"$ty degenerate")
    }
    assert(got.nonEmpty)
  }

  test("forecast backtest: sequential recompute matches; periodic series scores zero; shift shows as bias") {
    import spark.implicits._
    val got = Analytics.statsForecastBacktest.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val hourUs = 3600L * 1000000L
    val dayUs = 24 * hourUs
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), unix_micros(col("ts")), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val buckets = xs.groupBy(e => Math.floorDiv(e._2, hourUs) * hourUs)
        .map { case (b, es) => b -> es.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum }
      val cut = buckets.keys.max - (buckets.keys.max - buckets.keys.min) / 4
      val errs = buckets.toSeq
        .filter { case (b, _) => b > cut && buckets.contains(b - dayUs) }
        .map { case (b, c) => BigInt(c - buckets(b - dayUs)) }
      got.get(ty) match {
        case None => assert(errs.isEmpty, s"$ty missing")
        case Some((n, mae, bias, rmse)) =>
          assert(n == errs.size.toLong, s"$ty n")
          assert(mae == errs.map(_.abs).sum.toDouble / n, s"$ty mae")
          assert(bias == errs.sum.toDouble / n, s"$ty bias")
          assert(rmse == math.sqrt(errs.map(e => e * e).sum.toDouble / n), s"$ty rmse")
      }
    }
    assert(got.nonEmpty)
    // planted: value depends only on hour-of-day -> seasonal naive is
    // exact (all metrics 0); a +5.00 level shift in the tail -> bias 500
    def mk(shiftTail: Boolean) = (0 until 96).map { h =>
      val base = 10.0 + (h % 24)
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(h * 3600L)),
        "p", if (shiftTail && h >= 72) base + 5.0 else base)
    }.toDF("ts", "event_type", "value")
    val zero = Analytics.forecastBacktest(mk(false)).collect().head
    assert(zero.getDouble(2) == 0.0 && zero.getDouble(4) == 0.0)
    val shifted = Analytics.forecastBacktest(mk(true)).collect().head
    assert(shifted.getDouble(3) == 500.0, "shift surfaces as +500 cents bias")
  }

  test("ACF: sequential bucket recompute matches; planted alternating series flips sign by lag parity") {
    import spark.implicits._
    val got = Analytics.statsAcf.run(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val hourUs = 3600L * 1000000L
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), unix_micros(col("ts")), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val series = xs.groupBy(e => Math.floorDiv(e._2, hourUs))
        .toSeq.sortBy(_._1)
        .map(_._2.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum)
      val n = series.length
      val s = series.map(BigInt(_)).sum
      val dev = series.map(x => BigInt(n) * x - s)
      val dd = dev.map(d => d * d).sum
      (1 to 6).foreach { k =>
        val pairs = dev.dropRight(k).zip(dev.drop(k))
        val nn = pairs.map { case (a, b) => a * b }.sum
        val (np, acf) = got((ty, k.toLong))
        assert(np == pairs.size.toLong, s"$ty lag $k pairs")
        assert(acf == nn.toDouble / dd.toDouble, s"$ty lag $k acf")
        assert(acf >= -1.0 - 1e-9 && acf <= 1.0 + 1e-9, s"$ty lag $k bounds")
      }
    }
    assert(got.nonEmpty)
    // planted alternation: one event per hour, values 10/30 alternating
    // -> acf(odd lags) strongly negative, acf(even lags) positive
    val rows = (0 until 48).map { h =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(h * 3600L)),
        "alt", if (h % 2 == 0) 10.0 else 30.0)
    }
    val planted = Analytics.acfReport(rows.toDF("ts", "event_type", "value"), 2)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(planted(1L) < -0.9 && planted(2L) > 0.9, s"alternation: $planted")
  }

  test("clustering coefficient: adjacency-set recompute matches; values bounded; triangle nodes nonzero") {
    val got = Analytics.graphClustering.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val edges = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") < 10)
      .select((col("l_orderkey") % 300).cast("long"), (col("l_suppkey") % 300).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    got.foreach { case (n, d, nt, cc) =>
      val nbrs = adj(n)
      assert(d == nbrs.size.toLong && d >= 2, s"node $n degree")
      val tri = nbrs.toSeq.combinations(2)
        .count { case Seq(a, b) => adj(a).contains(b) }
      assert(nt == tri.toLong, s"node $n triangles")
      assert(cc == (2L * tri).toDouble / (d * (d - 1)), s"node $n cc")
      assert(cc >= 0.0 && cc <= 1.0, s"node $n bounds")
    }
    assert(got.map(_._1).toSet == adj.filter(_._2.size >= 2).keySet)
    assert(got.exists(_._3 > 0), "graph has triangle nodes")
  }

  test("Benford: sequential digit recompute matches; expectations sum to 1; planted spike localizes") {
    import spark.implicits._
    val got = Analytics.statsBenford.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got.map(_._1).toSeq == (1L to 9L))
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-12, "Benford expectations mass")
    val cents = Tables.load(spark, sfDir, "events").select(col("value")).collect()
      .map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong).filter(_ >= 1)
    val nn = cents.length
    val byDigit = cents.groupBy(c => c.toString.head.asDigit.toLong)
      .map { case (d, xs) => d -> xs.length.toLong }
    got.foreach { case (d, n, share, p, chi) =>
      assert(n == byDigit.getOrElse(d, 0L), s"digit $d count")
      assert(share == n.toDouble / nn, s"digit $d share")
      assert(chi >= 0.0, s"digit $d chi part")
    }
    // planted spike: every value leads with digit 7 → share(7)=1 and
    // the digit-7 chi² contribution dominates all others
    val spike = Seq.fill(50)(7.77).toDF("value")
    val sGot = Analytics.benfordReport(spike).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(4)))
    assert(sGot.find(_._1 == 7L).get._2 == 1.0)
    val c7 = sGot.find(_._1 == 7L).get._3
    assert(sGot.filter(_._1 != 7L).forall(_._3 < c7), "spiked digit dominates chi2")
  }

  test("assortativity: sequential moment recompute matches; star graph is maximally disassortative") {
    import spark.implicits._
    def seqR(edges: Seq[(Long, Long)]): Double = {
      val deg = (edges.map(_._1) ++ edges.map(_._2))
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      val dirs = edges.flatMap(e => Seq((e._1, e._2), (e._2, e._1)))
      val m2 = dirs.size.toDouble
      val sjk = dirs.map(e => BigInt(deg(e._1)) * deg(e._2)).sum.toDouble
      val sj = dirs.map(e => BigInt(deg(e._1))).sum.toDouble
      val sj2 = dirs.map(e => BigInt(deg(e._1)) * deg(e._1)).sum.toDouble
      (sjk / m2 - (sj / m2) * (sj / m2)) / (sj2 / m2 - (sj / m2) * (sj / m2))
    }
    val got = Analytics.graphAssortativity.run(spark, sfDir).collect().head
    val edges = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").cast("long"), col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), 1000000000L + r.getLong(1))).distinct.toSeq
    val deg = (edges.map(_._1) ++ edges.map(_._2)).distinct
    assert(got.getLong(0) == deg.size.toLong && got.getLong(1) == edges.size.toLong)
    assert(got.getDouble(2) == seqR(edges), "moment recompute")
    // planted star: hub 0 — leaves 1..12; r must be the same value the
    // sequential formula yields and sit at the disassortative extreme
    val star = (1L to 12L).map(i => (0L, i))
    val sGot = Analytics.assortativityOf(star.toDF("u", "v")).collect().head
    assert(sGot.getDouble(2) == seqR(star))
    assert(sGot.getDouble(2) < -0.99, "star is maximally disassortative")
  }

  test("CUSUM: sequential bucket-series recompute matches; planted mean shift localizes to its bucket") {
    val got = Analytics.statsCusum.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), unix_micros(col("ts")), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val hourUs = 3600L * 1000000L
    raw.groupBy(_._1).foreach { case (ty, xs) =>
      val buckets = xs.groupBy(e => Math.floorDiv(e._2, hourUs) * hourUs)
        .toSeq.sortBy(_._1)
        .map { case (b, es) =>
          (b, es.size.toLong,
            es.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum)
        }
      val n = BigInt(buckets.map(_._2).sum)
      val sTot = BigInt(buckets.map(_._3).sum)
      var (cn, cs) = (BigInt(0), BigInt(0))
      val series = buckets.map { case (b, cnt, cents) =>
        cn += cnt; cs += cents
        (b, (n * cs - cn * sTot).abs)
      }
      val m = series.map(_._2).max
      val cp = series.filter(_._2 == m).map(_._1).min
      val (nb, ne, gcp, stat) = got(ty)
      assert(nb == buckets.size.toLong && ne == n.toLong, s"$ty sizes")
      assert(gcp == cp, s"$ty changepoint")
      assert(stat == m.toDouble, s"$ty stat")
    }
    assert(got.nonEmpty)
  }

  test("CUSUM: a planted step change is located at the step boundary") {
    import spark.implicits._
    val hourUs = 3600L * 1000000L
    // 20 hourly buckets, one event each: value 10.00 for the first
    // 12, then 50.00 — changepoint must be the last pre-shift bucket
    val rows = (0 until 20).map { h =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(h * 3600L)),
        "planted", if (h < 12) 10.0 else 50.0)
    }
    val df = rows.toDF("ts", "event_type", "value")
    val got = Analytics.cusumReport(df).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 20L && r.getLong(2) == 20L)
    assert(r.getLong(3) == 11L * hourUs, "changepoint at the last pre-shift bucket")
  }

  test("SRM guardrail: counts are per-user, chi2 matches, and a planted 90/10 split flags") {
    val got = Analytics.statsSrm.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    val users = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    users.groupBy(_._1).foreach { case (ty, xs) =>
      val (na, nb, chi2, flag) = got(ty)
      val wantA = xs.count(_._2 % 2 == 0).toLong
      assert(na == wantA && nb == xs.length - wantA, s"$ty counts")
      val want = ((na - nb) * (na - nb)).toDouble / (na + nb)
      assert(chi2 == BigDecimal(want).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(flag == (want > 3.841))
    }
    // the even user_id split is balanced by construction — no flag
    assert(got.values.forall(!_._4), "balanced assignment should not flag")
    // a planted 90/10 mismatch MUST flag through the same formula
    val (pa, pb) = (900L, 100L)
    val planted = ((pa - pb) * (pa - pb)).toDouble / (pa + pb)
    assert(planted > 3.841)
  }

  test("CUPED: exact-moment driver recompute matches bit-for-bit; adjustment is unbiased under a null covariate") {
    val row = Analytics.statsCuped.run(spark, sfDir).collect().head
    val (nUsers, theta, rawDiff, adjDiff, varRed) =
      (row.getLong(0), row.getDouble(1), row.getDouble(2), row.getDouble(3), row.getDouble(4))
    // sequential recompute with BigDecimal moments, identical IEEE tree
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("value").cast("decimal(12,2)").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
    val cut = (raw.map(_._2).min + raw.map(_._2).max) / 2
    val users = raw.groupBy(_._1).flatMap { case (uid, xs) =>
      val pre = xs.filter(_._2 <= cut).map(_._3)
      val post = xs.filter(_._2 > cut).map(_._3)
      if (pre.nonEmpty && post.nonEmpty) Some((uid, pre.sum, post.sum)) else None
    }.toSeq
    val n = users.length.toLong
    assert(nUsers == n && n > 10)
    val tx = users.map(_._2).sum.toDouble; val ty = users.map(_._3).sum.toDouble
    val txy = users.map(u => u._2 * u._3).sum.toDouble
    val txx = users.map(u => u._2 * u._2).sum.toDouble
    val tyy = users.map(u => u._3 * u._3).sum.toDouble
    val th = (n * txy - tx * ty) / (n * txx - tx * tx)
    def gagg(g: Long) = {
      val xs = users.filter(_._1 % 2 == g)
      (xs.length.toLong, xs.map(_._2).sum.toDouble, xs.map(_._3).sum.toDouble)
    }
    val (na, gxa, gya) = gagg(0); val (nc, gxc, gyc) = gagg(1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(theta == r6(th), s"theta $theta vs $th")
    assert(rawDiff == r6(gya / na - gyc / nc))
    assert(adjDiff == r6((gya / na - th * (gxa / na - tx / n))
      - (gyc / nc - th * (gxc / nc - tx / n))))
    assert(varRed == r6((n * txy - tx * ty) * (n * txy - tx * ty)
      / ((n * txx - tx * tx) * (n * tyy - ty * ty))))
    assert(varRed >= 0.0 && varRed <= 1.0)
    // unbiasedness identity: over the WHOLE population Σ(X − X̄) = 0,
    // so the adjustment cannot move the global mean — only reshuffle
    // it between groups
    val globalAdj = (gya + gyc) / n - th * ((gxa + gxc) / n - tx / n)
    assert(math.abs(globalAdj - ty / n) < 1e-9 * math.max(1.0, math.abs(ty / n)))
  }

  test("running windowed distinct equals a sequential per-user scan") {
    val got = Analytics.q78WindowDistinct.run(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    ev.groupBy(_._1).foreach { case (uid, rows) =>
      var seen = Set.empty[String]
      rows.sortBy(r => (r._2, r._3)).foreach { case (_, _, eid, ty) =>
        seen += ty
        assert(got((uid, eid)) == seen.size.toLong, s"user $uid event $eid")
      }
    }
    assert(got.nonEmpty)
    // the feature must actually grow somewhere (non-degenerate corpus)
    assert(got.values.exists(_ > 1))
  }

  test("edge similarity equals an adjacency-set recompute; pendant edges score zero") {
    val rows = Analytics.graphEdgeSimilarity.run(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
    assert(rows.nonEmpty)
    // independent adjacency-set recompute over the same derived graph
    val edges = Analytics.derivedGraph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    rows.foreach { case ((u, v), (common, du, dv, jacc)) =>
      val wantCommon = (adj(u) & adj(v)).size.toLong
      assert(common == wantCommon, s"($u,$v): common $common vs $wantCommon")
      assert(du == adj(u).size && dv == adj(v).size)
      assert(jacc == wantCommon.toDouble / (du + dv - wantCommon))
    }
    // every edge of the graph is scored exactly once
    assert(rows.map(_._1).toSet == edges.toSet && rows.length == edges.length)
    // the fixture must exercise both regimes
    assert(rows.exists(_._2._1 == 0), "no pendant (zero-common) edge in fixture")
    assert(rows.exists(_._2._1 > 0), "no embedded (triangle) edge in fixture")
  }

  test("chi-square cells match a driver recompute; df and the statistic are consistent") {
    val cells = Analytics.statsChisq.run(spark, sfDir).collect()
    // independent contingency recompute from raw events
    val raw = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), (col("user_id") % 2).as("g"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val obs = raw.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rowT = raw.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val colT = raw.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = raw.length.toLong
    assert(cells.length == obs.size, "one output row per non-empty cell")
    cells.foreach { c =>
      val (ty, g) = (c.getString(0), c.getLong(1))
      assert(c.getLong(2) == obs((ty, g)), s"observed count of ($ty,$g)")
      assert(c.getLong(3) == rowT(ty) && c.getLong(4) == colT(g))
      val expected = rowT(ty).toDouble * colT(g) / n
      assert(c.getDouble(5) == expected, s"expected count of ($ty,$g)")
      val d = obs((ty, g)).toDouble * n - rowT(ty).toDouble * colT(g)
      val contrib = d * d / (rowT(ty).toDouble * colT(g) * n)
      assert(c.getDouble(6) == contrib, s"contribution of ($ty,$g)")
    }
    // df of the test the consumer runs over these cells
    val df = (rowT.size - 1) * (colT.size - 1)
    assert(df == rowT.size - 1 && df >= 1) // two groups by construction
    // the scalar statistic (order-dependent double sum — which is why
    // the op leaves it to the consumer) agrees within reorder noise
    val chi2op = cells.map(_.getDouble(6)).sum
    val chi2drv = obs.map { case ((ty, g), o) =>
      val e = rowT(ty).toDouble * colT(g) / n
      (o - e) * (o - e) / e
    }.sum
    assert(math.abs(chi2op - chi2drv) <= 1e-9 * math.max(1.0, chi2drv),
      s"op $chi2op vs driver $chi2drv")
  }

  test("k-core equals a sequential peel recompute; peeling genuinely bites") {
    val got = Analytics.graphKcore.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sequential peel from the same derived bipartite graph
    val edges0 = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").cast("long"), col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), 1000000000L + r.getLong(1))).distinct
    var e = edges0.toSet
    var changed = true
    while (changed) {
      val deg = e.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .view.mapValues(_.size).toMap
      val bad = deg.filter(_._2 < 4).keySet
      changed = bad.nonEmpty
      e = e.filter(p => !bad(p._1) && !bad(p._2))
    }
    val want = e.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    assert(got == want)
    assert(got.nonEmpty && got.values.forall(_ >= 4))
    // the peel must remove something, or the op is a no-op filter
    val before = edges0.flatMap(p => Seq(p._1, p._2)).distinct.length
    assert(got.size < before, "fixture never peels")
  }

  test("k-core cascade: a planted chain peels over multiple rounds; non-convergence fails loudly") {
    import spark.implicits._
    // 5-cycle with a 4-node tail: the 2-core is exactly the cycle, and
    // peeling consumes the tail one node per round (4 cascade rounds)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L))
    val tail = Seq((5L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val edges = (cycle ++ tail).toDF("u", "v")
    val core = Analytics.kCore(edges, k = 2, maxRounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core == cycle.toSet, s"2-core should be the cycle, got $core")
    // one round fewer than the cascade needs → loud failure, never a
    // silently-unconverged result
    intercept[IllegalArgumentException] {
      Analytics.kCore(edges, k = 2, maxRounds = 3).collect()
    }
  }

  test("bipartite projection equals an order-set recompute; weights and jaccard exact") {
    val got = Analytics.graphBipartiteProject.run(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val inc = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val orders = inc.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val want = orders.keys.toSeq.sorted.combinations(2).flatMap { case Seq(s1, s2) =>
      val w = (orders(s1) & orders(s2)).size.toLong
      if (w >= 2)
        Some((s1, s2) -> (w,
          BigDecimal(w.toDouble / (orders(s1).size + orders(s2).size - w))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }.toMap
    assert(got == want)
    assert(got.nonEmpty && got.keys.forall { case (a, b) => a < b })
    assert(got.values.forall { case (w, j) => w >= 2 && j > 0.0 && j <= 1.0 })
  }

  test("k-core property: distributed peel equals sequential peel on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      val nNodes = 30 + trial * 15
      val edges = (1 to nNodes * 2)
        .map(_ => (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      val k = 2 + trial % 2
      // sequential peel to fixpoint
      var es = edges.toSet
      var changed = true
      var rounds = 0
      while (changed) {
        val deg = es.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val bad = deg.filter(_._2 < k).keySet
        changed = bad.nonEmpty
        if (changed) { es = es.filter(p => !bad(p._1) && !bad(p._2)); rounds += 1 }
      }
      val core = Analytics.kCore(edges.toDF("u", "v"), k, maxRounds = rounds + 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(core == es, s"trial $trial (n=$nNodes, k=$k, rounds=$rounds)")
    }
  }

  /** In-process min-root union-find oracle: every endpoint of `edges`
    * with its component's MIN node id. Attaching the larger root under
    * the smaller makes each root the component minimum — exactly the
    * label the star kernel emits — and the driver-side recompute is
    * engine-independent. */
  private def unionFindLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(a: Long): Long = {
      var r = a
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = a
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(nd => nd -> find(nd)).toMap
  }

  test("graph_components property: star labels equal an in-process union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val n = 40 + trial * 20
      val edges = (1 to n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val df = edges.toDF("x", "y")
      val want = unionFindLabels(edges)
      // BOTH kernels against the oracle: the size-gated local
      // union-find (default) and the distributed contraction
      // (localMaxBytes = 0), which the gate would otherwise hide at
      // fixture scale (r12)
      val viaStar = Analytics.largeSmallStar(df)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaDist = Analytics.largeSmallStar(df, localMaxBytes = 0L)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val alignedStar = want.map { case (node, _) => node -> viaStar.getOrElse(node, node) }
      assert(alignedStar == want, s"trial $trial (n=$n): star labels diverge from union-find")
      assert(viaDist == viaStar,
        s"trial $trial (n=$n): distributed contraction diverges from local union-find")
    }
  }

  test("graph_components: star labels equal union-find labels on a mixed graph") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L), (22L, 23L), (5L, 6L))
    val edges = pairs.toDF("x", "y")
    val (stars, _) = Analytics.largeSmallStar(edges)
    val viaStar = stars.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaUf = unionFindLabels(pairs)
    // star forest omits roots (label = self there); align the two
    val aligned = viaUf.map { case (n, _) => n -> viaStar.getOrElse(n, n) }
    assert(aligned == viaUf, s"star=$aligned union-find=$viaUf")
  }

  test("walk sample: every step follows a real edge, all walks complete, and reruns are identical") {
    val got = Analytics.graphWalkSample.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") < 10)
      .select((col("l_orderkey") % 300).cast("long"), (col("l_suppkey") % 300).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = adj.keySet
    // every start walks exactly 5 steps
    val byStart = got.groupBy(_._1)
    assert(byStart.keySet == nodes.map(identity))
    byStart.foreach { case (start, steps) =>
      val path = steps.sortBy(_._2)
      assert(path.map(_._2).toSeq == (1L to 5L), s"walk $start incomplete")
      var prev = start
      path.foreach { case (_, _, node) =>
        assert(adj(prev).contains(node), s"walk $start stepped off-graph: $prev -> $node")
        prev = node
      }
    }
    // reproducibility: the hash-driven walk is a pure function of the graph
    val again = Analytics.graphWalkSample.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == again.toSeq, "walks are not deterministic")
  }
}
