package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.EventAnalytics

class EventAnalyticsSpec extends SparkSuite {

  private def events(rows: (Long, Long, Long, String, Double)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, tsMs, user, typ, v) =>
      (id, new java.sql.Timestamp(tsMs), user, typ, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("sessionize splits on gaps greater than the threshold") {
    val min = 60L * 1000
    val df = events(
      (0L, 0 * min, 1L, "a", 1.0),
      (1L, 10 * min, 1L, "a", 1.0),   // same session (10 min gap)
      (2L, 50 * min, 1L, "a", 1.0),   // 40 min gap -> new session
      (3L, 55 * min, 1L, "a", 1.0),
      (4L, 0 * min, 2L, "b", 1.0))    // other user: own session
    val r = rowsOf(EventAnalytics.sessionize(df, gapMinutes = 30))
    assert(r.length == 3)
    val u1 = r.filter(_("user_id") == 1L)
    assert(u1.map(_("n_events")) == Seq(2L, 2L))
    assert(u1.head("session_start_us") == 0L)
    assert(u1(1)("session_start_us") == 50 * min * 1000L)
  }

  test("approx percentiles bracket the exact order statistics") {
    // the scale variant must agree with the exact (oracle) variant up
    // to its rank-error bound: each approx pNN lies within the exact
    // [p-2%, p+2%] order-statistic bracket per event type
    val ev = graft.sources.EventsAsRecords
      .readEvents(spark, "/root/testdata/sf0.01")
    val ps = Seq(0.5, 0.9, 0.99)
    assertPercentileBracket(ev,
      EventAnalytics.valuePercentilesApprox(ev, ps).collect().toSeq, ps)
  }

  test("histogram percentiles land within one bin width of the exact values") {
    // the deterministic variant's contract is VALUE error ≤ one bin
    // width (the rank-t bin is exactly the bin the true order
    // statistic lives in), NOT the sketch's rank-error bound — in-bin
    // skew can push the interpolation anywhere inside the bin
    val ev = graft.sources.EventsAsRecords
      .readEvents(spark, "/root/testdata/sf0.01")
    val ps = Seq(0.5, 0.9, 0.99)
    val bins = 1024
    val got = EventAnalytics.valuePercentilesHistogram(ev, ps, bins)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val exact = EventAnalytics.valuePercentiles(ev, ps)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val widths = ev.filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(((max(col("value")) - min(col("value"))) / bins).as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.nonEmpty && got.keySet == exact.keySet)
    got.foreach { case (t, vals) =>
      ps.indices.foreach { i =>
        val a = vals(i).asInstanceOf[Double]
        val e = exact(t)(i).asInstanceOf[Double]
        assert(math.abs(a - e) <= widths(t) + 1e-9,
          s"$t p${(ps(i) * 100).toInt}: hist=$a exact=$e width=${widths(t)}")
      }
    }
  }

  test("histogram percentiles: degenerate and skewed types stay in-contract") {
    // one type with all-equal values (width 0 → every percentile is
    // that value) and one with extreme in-bin skew
    val rows = (0 until 50).map(i => (i.toLong, 1000L * i, 1L, "flat", 7.5)) ++
      (0 until 100).map(i => (100L + i, 1000L * i, 2L, "skew",
        if (i < 99) 0.99 else 1024.0))
    val df = events(rows: _*)
    val r = rowsOf(EventAnalytics.valuePercentilesHistogram(df))
      .map(m => m("event_type") -> m).toMap
    assert(r("flat")("p50") == 7.5 && r("flat")("p99") == 7.5)
    val width = (1024.0 - 0.99) / 1024
    val skew50 = r("skew")("p50").asInstanceOf[Double]
    // exact p50 is 0.99; the histogram answer must be in p50's bin
    assert(math.abs(skew50 - 0.99) <= width + 1e-9, s"skew p50=$skew50")
  }

  test("adaptive histogram: non-finite values cannot poison a type's percentiles") {
    // one NaN made vmax (hence width) NaN → every row binned at 0 and
    // every percentile NaN, though the exact p50 is finite; one +Inf
    // did the same with Inf — and the oracle's CAST(floor(...)) CRASHES
    // on either. Non-finite values are excluded from the adaptive
    // ranked population (they carry no rank information).
    val rows = (0 until 40).map(i => (i.toLong, 1000L * i, 1L, "poisoned",
      i match {
        case 0 => Double.NaN
        case 1 => Double.PositiveInfinity
        case _ => i.toDouble
      }))
    val r = rowsOf(EventAnalytics.valuePercentilesHistogram(events(rows: _*)))
      .map(m => m("event_type") -> m).toMap
    Seq("p50", "p90", "p99").foreach { p =>
      val v = r("poisoned")(p).asInstanceOf[Double]
      assert(!v.isNaN && !v.isInfinite && v >= 2.0 && v <= 39.0,
        s"$p=$v poisoned by a non-finite value")
    }
  }

  test("domain-mode histogram: single-scan accuracy and end-bin clamping") {
    // fixed domain [0, 1024), width exactly 1.0 — value error ≤ 1.0
    // against the exact percentiles for in-domain data
    val ev = graft.sources.EventsAsRecords
      .readEvents(spark, "/root/testdata/sf0.01")
    val ps = Seq(0.5, 0.9, 0.99)
    val got = EventAnalytics
      .valuePercentilesHistogram(ev, ps, domain = Some((0.0, 1024.0)))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val exact = EventAnalytics.valuePercentiles(ev, ps)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(got.nonEmpty && got.keySet == exact.keySet)
    got.foreach { case (t, vals) =>
      ps.indices.foreach { i =>
        val a = vals(i).asInstanceOf[Double]
        val e = exact(t)(i).asInstanceOf[Double]
        assert(math.abs(a - e) <= 1.0 + 1e-9,
          s"$t p${(ps(i) * 100).toInt}: hist=$a exact=$e")
      }
    }
    // out-of-domain values clamp into the end bins: estimates stay
    // inside [lo, hi] instead of extrapolating, and nothing throws —
    // including the extremes where a cast-then-clamp would diverge
    // cross-engine (CAST(floor(±Inf/NaN/1e300) AS BIGINT) throws in
    // DuckDB): the comparison-based clamp puts -Inf/-50 in bin 0 and
    // +Inf/NaN/1e300 in the top bin on both engines
    val rows = (0 until 40).map(i => (i.toLong, 1000L * i, 1L, "wild",
      i match {
        case 0 => Double.NegativeInfinity
        case 1 => Double.PositiveInfinity
        case 2 => Double.NaN
        case 3 => 1e300
        case j if j < 10 => -50.0
        case j if j >= 30 => 5000.0
        case j => j.toDouble
      }))
    val r = rowsOf(EventAnalytics.valuePercentilesHistogram(
      events(rows: _*), domain = Some((0.0, 100.0))))
      .map(m => m("event_type") -> m).toMap
    Seq("p50", "p90", "p99").foreach { p =>
      val v = r("wild")(p).asInstanceOf[Double]
      assert(v >= 0.0 && v <= 100.0, s"$p=$v escaped the domain")
    }
  }

  test("sessionize invariants on random streams: events partition into sessions") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      (i.toLong, rnd.nextInt(3 * 24 * 60) * 60000L, (i % 7).toLong, "t", 1.0)
    }
    val df = events(rows: _*)
    val sessions = rowsOf(EventAnalytics.sessionize(df, gapMinutes = 45))
    assert(sessions.map(_("n_events").asInstanceOf[Long]).sum == 300L)
    // sessions of one user are disjoint and ordered
    sessions.groupBy(_("user_id")).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_("session_idx").asInstanceOf[Long])
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a("session_end_us").asInstanceOf[Long] <
            b("session_start_us").asInstanceOf[Long])
        case _ =>
      }
    }
  }

  test("top event type per user breaks ties lexicographically") {
    val df = events(
      (0L, 1000L, 1L, "view", 1.0),
      (1L, 2000L, 1L, "view", 1.0),
      (2L, 3000L, 1L, "click", 1.0),
      (3L, 1000L, 2L, "zz", 1.0),
      (4L, 2000L, 2L, "aa", 1.0))     // tie 1-1 -> aa wins
    val r = rowsOf(EventAnalytics.topEventTypePerUser(df))
      .map(m => m("user_id") -> m("top_type")).toMap
    assert(r(1L) == "view" && r(2L) == "aa")
  }

  test("value percentiles pick exact order statistics") {
    val df = events((0 until 10).map(i =>
      (i.toLong, 1000L * i, 1L, "t", (i + 1).toDouble)): _*)
    val r = rowsOf(EventAnalytics.valuePercentiles(df)).head
    // n=10: p50 -> ceil(5)=5th value = 5.0; p90 -> 9th = 9.0; p99 -> 10th = 10.0
    assert(r("p50") == 5.0 && r("p90") == 9.0 && r("p99") == 10.0)
  }

  test("distributed radix-select percentiles equal the window variant at every depth") {
    val ev = graft.sources.EventsAsRecords
      .readEvents(spark, "/root/testdata/sf0.01")
    val exact = rowsOf(EventAnalytics.valuePercentiles(ev))
    // windowMaxRows=1 forces the full 6-level descent; 100000
    // resolves at level 0 (terminal window only); 64 lands in
    // between — parity must hold wherever a target stops refining
    for (wmr <- Seq(1L, 64L, 100000L))
      assert(rowsOf(EventAnalytics.valuePercentilesDistributed(
        ev, windowMaxRows = wmr)) == exact, s"diverged at windowMaxRows=$wmr")
    // the scale claim: no window (hence no sort) partitioned by the
    // whole event type — the terminal window partitions per TARGET
    // over a windowMaxRows-bounded candidate set
    val p = EventAnalytics.valuePercentilesDistributed(ev)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("windowspecdefinition(event_type"),
      s"terminal window regressed to per-type:\n$p")
    // the terminal candidate join must stay an equi-join (broadcast
    // hash), never a nested loop of every row against every target
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"terminal pick regressed to a nested-loop join:\n$p")
    // negative values exercise the sign-flip branch of the bit mapping
    // at EVERY stopping depth — windowMaxRows=100000 resolves at level
    // 0, where the terminal window spans the double sign boundary
    // (caught in review: signed order on the raw key ranked positives
    // before negatives there)
    val signed = events((0 until 20).map(i =>
      (i.toLong, 1000L * i, 1L, "t", i - 10.5)): _*)
    for (wmr <- Seq(1L, 8L, 100000L))
      assert(rowsOf(EventAnalytics.valuePercentilesDistributed(
          signed, windowMaxRows = wmr)) ==
        rowsOf(EventAnalytics.valuePercentiles(signed)),
        s"mixed-sign diverged at windowMaxRows=$wmr")
    // NULL event_type is a legitimate group: the window variant emits
    // it, so the distributed one must too (null-safe target join)
    val s = spark
    import s.implicits._
    val withNullType = Seq[(Long, java.sql.Timestamp, Long, String, Double)](
      (0L, ts(1000L), 1L, null, 3.0), (1L, ts(2000L), 1L, null, 1.0),
      (2L, ts(3000L), 1L, "t", 2.0), (3L, ts(4000L), 2L, null, 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    for (wmr <- Seq(1L, 100000L))
      assert(rowsOf(EventAnalytics.valuePercentilesDistributed(
          withNullType, windowMaxRows = wmr)) ==
        rowsOf(EventAnalytics.valuePercentiles(withNullType)),
        s"null-type diverged at windowMaxRows=$wmr")
  }

  test("distributed percentiles on a no-values input return empty, not an error") {
    // review-caught: zero targets made the terminal probe an array()
    // of NullType and the struct-field reference failed analysis
    val none = events((0L, 1000L, 1L, "t", 1.0))
      .withColumn("value", lit(null).cast("double"))
    assert(rowsOf(EventAnalytics.valuePercentilesDistributed(none)).isEmpty)
    assert(rowsOf(EventAnalytics.valuePercentilesDistributed(
      none.filter(lit(false)))).isEmpty)
  }

  test("distributed spend deciles equal the global-window variant") {
    val ev = graft.sources.EventsAsRecords
      .readEvents(spark, "/root/testdata/sf0.01")
    assert(rowsOf(EventAnalytics.userSpendDecilesDistributed(ev)) ==
      rowsOf(EventAnalytics.userSpendDeciles(ev)))
    // no global (partition-less) window anywhere in the plan — ranks
    // come from the bin-prefix join + per-bin windows
    val p = EventAnalytics.userSpendDecilesDistributed(ev)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("windowspecdefinition(total_dec"),
      s"rank regressed to the global window:\n$p")
    // the bin-assignment join must be an equi-join (broadcast hash),
    // never a nested loop over totals × bins
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bin assignment regressed to a nested-loop join:\n$p")
    // n < buckets edge: every user gets their own bucket, rank order
    val tiny = events(
      (0L, 1000L, 1L, "t", 5.0), (1L, 2000L, 2L, "t", 9.0),
      (2L, 3000L, 3L, "t", 1.0))
    assert(rowsOf(EventAnalytics.userSpendDecilesDistributed(tiny)) ==
      rowsOf(EventAnalytics.userSpendDeciles(tiny)))
    // totals past 2^53 cents: 90071992547409.93 and .94 are DISTINCT
    // decimals whose doubles are EQUAL (verified below) — a double-bits
    // rank key collides them and falls back to user_id order, flipping
    // the ranks (caught in review); the unscaled-cents key cannot
    assert(90071992547409.93.toDouble == 90071992547409.94.toDouble)
    val huge = events(
      (0L, 1000L, 1L, "t", 45035996273704.96),
      (1L, 2000L, 1L, "t", 45035996273704.97), // user 1: total ...409.93
      (2L, 3000L, 2L, "t", 45035996273704.97),
      (3L, 4000L, 2L, "t", 45035996273704.97)) // user 2: total ...409.94
    val h = rowsOf(EventAnalytics.userSpendDecilesDistributed(huge))
    assert(h == rowsOf(EventAnalytics.userSpendDeciles(huge)))
    assert(h.find(_("user_id") == 2L).get("spend_rank") == 1,
      "the one-cent-larger total must rank first despite double collision")
  }

  test("spend-decile hot bins recurse multi-level on clustered totals") {
    // the skew shape the recursion exists for: 64 user totals packed
    // into a 64-cent span (100.00–100.63), so the radix key's top 50
    // bits are IDENTICAL across every user — one level of 10-bit
    // binning puts all of them in a single bin and recreates the
    // single-reducer window. With binMaxRows=4 the planner must
    // descend level after level until the bit positions where the
    // cents actually differ.
    val rows = (0 until 64).map(i =>
      (i.toLong, 1000L * (i + 1), i.toLong, "t", 100.0 + i / 100.0))
    val ev = events(rows: _*)
    val totals = EventAnalytics.spendTotalsWithKey(ev)
    val bins = EventAnalytics.planSpendBins(totals, binMaxRows = 4L)
    val maxLevel = bins.map(_._2).max
    assert(maxLevel > 2, s"expected multi-level descent, got depth $maxLevel")
    assert(bins.length > 1, "clustered totals must end in split bins")
    // disjoint exact cover: bin populations sum to the user count
    assert(bins.map(_._3).sum == 64L)
    // and the refined ranking still equals the global-window variant
    assert(rowsOf(EventAnalytics.userSpendDecilesDistributed(
        ev, binMaxRows = 4L)) ==
      rowsOf(EventAnalytics.userSpendDeciles(ev)))
    // tie floor: equal totals can never split, whatever the depth —
    // the planner must terminate at the 60-bit floor, not loop
    val tied = events((0 until 8).map(i =>
      (i.toLong, 1000L * (i + 1), i.toLong, "t", 42.42)): _*)
    val tiedBins = EventAnalytics.planSpendBins(
      EventAnalytics.spendTotalsWithKey(tied), binMaxRows = 2L)
    assert(tiedBins.map(_._3).sum == 8L)
    assert(rowsOf(EventAnalytics.userSpendDecilesDistributed(
        tied, binMaxRows = 2L)) ==
      rowsOf(EventAnalytics.userSpendDeciles(tied)))
  }

  test("orderable bits preserve double ordering across the full range") {
    import graft.functions.DoubleBits.orderable
    val vs = Seq(Double.NegativeInfinity, -1e300, -490.02, -1.5, -0.01,
      -Double.MinPositiveValue, -0.0, 0.0, Double.MinPositiveValue, 0.01,
      1.5, 490.02, 1e300, Double.PositiveInfinity)
    for (a <- vs; b <- vs) {
      // unsigned comparison of the mapped keys == double comparison
      val cmp = java.lang.Long.compareUnsigned(orderable(a), orderable(b))
      assert(Integer.signum(cmp) ==
        Integer.signum(java.lang.Double.compare(a, b)),
        s"order broken for ($a, $b)")
    }
    // NaN maps above +Inf — both engines sort NaN last
    assert(java.lang.Long.compareUnsigned(
      orderable(Double.NaN), orderable(Double.PositiveInfinity)) > 0)
  }

  test("daily spikes: integer cross-multiplied flag against the trailing window") {
    val day = 24L * 3600 * 1000
    // type t: 3 quiet days (2,2,2) then a 5x day; day 0 has no history
    val rows = Seq.tabulate(3)(d =>
      Seq.tabulate(2)(i => (d * 10 + i).toLong -> (d * day + i * 1000))).flatten ++
      Seq.tabulate(10)(i => (100 + i).toLong -> (3 * day + i * 1000))
    val df = events(rows.map { case (id, ts) => (id, ts, 1L, "t", 1.0) }: _*)
    val r = rowsOf(EventAnalytics.dailySpikes(df))
    assert(r.map(_("n")) == Seq(2L, 2L, 2L, 10L))
    // day 0: no trailing history -> NOT a spike (prev_cnt = 0)
    assert(r.head("is_spike") == false && r.head("prev_cnt") == 0L)
    // days 1-2: 2 * cnt <= 2 * sum -> quiet
    assert(r(1)("is_spike") == false && r(2)("is_spike") == false)
    // day 3: 10 * 3 > 2 * 6 -> spike
    assert(r(3)("is_spike") == true && r(3)("prev_sum") == 6L)
  }

  test("as-of join matches the most recent build at-or-before each probe") {
    val df = events(
      (0L, 100L, 1L, "purchase", 1.0),
      (1L, 200L, 1L, "purchase", 1.0),
      (2L, 200L, 1L, "click", 0.0),    // tie: the equal-ts build MATCHES
      (3L, 300L, 1L, "click", 0.0),    // latest build is still id=1
      (4L, 50L, 2L, "click", 0.0),     // probe before any build -> NULLs
      (5L, 60L, 2L, "purchase", 1.0),
      (6L, 70L, 2L, "click", 0.0))
    val r = rowsOf(EventAnalytics.asOfLastPrior(df).orderBy(col("probe_id")))
      .map(m => m("probe_id") -> m).toMap
    assert(r(2L)("asof_build_id") == 1L, "equal-ts build must match (as-of <=)")
    assert(r(3L)("asof_build_id") == 1L)
    assert(r(3L)("gap_us") == 100L * 1000L)
    assert(r(4L)("asof_build_id") == null, "probe before any build is unmatched")
    assert(r(4L)("gap_us") == null)
    assert(r(6L)("asof_build_id") == 5L, "other user's builds are invisible")
  }

  test("as-of tie among equal-ts builds picks the highest event_id") {
    val df = events(
      (0L, 100L, 1L, "purchase", 1.0),
      (1L, 100L, 1L, "purchase", 1.0),  // same ts: id=1 wins
      (2L, 100L, 1L, "click", 0.0))
    val r = rowsOf(EventAnalytics.asOfLastPrior(df))
    assert(r.head("asof_build_id") == 1L)
  }

  test("audience set ops partition the union: |A| = both + a_only") {
    val df = events(
      (0L, 0L, 1L, "click", 0.0), (1L, 0L, 1L, "purchase", 0.0),
      (2L, 0L, 2L, "click", 0.0),
      (3L, 0L, 3L, "purchase", 0.0), (4L, 0L, 4L, "purchase", 0.0),
      (5L, 0L, 2L, "click", 0.0))    // duplicate events must not double-count
    val r = rowsOf(EventAnalytics.audienceSetOps(df))
      .map(m => m("op") -> m("n_users")).toMap
    assert(r == Map("a_and_b" -> 1L, "a_only" -> 1L, "b_only" -> 2L))
  }

  test("rolling frame never exceeds frame+1 rows and sums exactly") {
    val df = events(
      (0L, 0L, 1L, "a", 1.5), (1L, 1L, 1L, "a", 2.5),
      (2L, 2L, 1L, "a", 3.0), (3L, 3L, 1L, "a", 4.0),
      (4L, 4L, 1L, "a", 5.0))
    val r = rowsOf(EventAnalytics.rollingValue(df, frame = 3)
      .orderBy(col("event_id")))
    assert(r.map(_("n_in_frame")) == Seq(1L, 2L, 3L, 4L, 4L))
    assert(r(4)("rolling_sum") == 2.5 + 3.0 + 4.0 + 5.0)
  }

  test("spend deciles rank by total with deterministic tie-break") {
    val df = events(
      (0L, 0L, 1L, "a", 5.0), (1L, 0L, 2L, "a", 5.0),
      (2L, 0L, 3L, "a", 1.0))
    val r = rowsOf(EventAnalytics.userSpendDeciles(df, buckets = 2))
    // equal totals: dense_rank ties on value would collapse, but the
    // user_id tie-break keeps ranks distinct and buckets deterministic
    assert(r.map(_("spend_rank")) == Seq(1, 2, 3))
    assert(r.map(_("decile")) == Seq(1, 1, 2))
  }

  test("error incidents merge busy minutes across bridgeable gaps") {
    val min = 60L * 1000
    val df = events(
      // minute 0: 2 errors (busy); minute 3: 2 errors (busy, gap 2 <= 5
      // -> same island); minute 20: 2 errors (gap 16 -> new island);
      // minute 1: 1 error (below threshold, ignored)
      (0L, 0 * min, 1L, "error", 0.0), (1L, 0 * min + 1, 2L, "error", 0.0),
      (2L, 1 * min, 1L, "error", 0.0),
      (3L, 3 * min, 1L, "error", 0.0), (4L, 3 * min + 2, 3L, "error", 0.0),
      (5L, 20 * min, 1L, "error", 0.0), (6L, 20 * min + 5, 2L, "error", 0.0))
    val r = rowsOf(EventAnalytics.errorIncidents(df, minErrors = 2,
      bridgeMinutes = 5).orderBy(col("i_start")))
    assert(r.length == 2)
    assert(r.head("n_busy_minutes") == 2L, "minutes 0 and 3 form one island")
    assert(r.head("n_errors") == 4L, "the sub-threshold minute stays out")
    assert(r(1)("n_busy_minutes") == 1L)
  }

  test("incident range join honors [start, end) and only bucket-matched events") {
    val min = 60L * 1000
    val df = events(
      (0L, 0 * min, 1L, "error", 0.0), (1L, 0 * min + 1, 2L, "error", 0.0),
      (2L, 0 * min + 30000, 3L, "view", 1.0), // inside [0, 1min)
      (3L, 1 * min, 4L, "view", 1.0),         // exactly at end: EXCLUDED
      (4L, 5 * min, 5L, "view", 1.0))         // far outside
    val inc = EventAnalytics.errorIncidents(df, minErrors = 2)
    val r = rowsOf(EventAnalytics.incidentEvents(df, inc))
    assert(r.length == 1)
    // the 2 errors + the in-window view; the boundary and outside views drop
    assert(r.head("n_events") == 3L)
    assert(r.head("n_users") == 3L)
  }

  test("the range join stays an equi-join on the minute bucket, never a nested loop") {
    val min = 60L * 1000
    val df = events((0L, 0 * min, 1L, "error", 0.0),
      (1L, 0 * min + 1, 2L, "error", 0.0), (2L, 30000L, 3L, "view", 1.0))
    val plan = EventAnalytics.incidentEvents(df,
      EventAnalytics.errorIncidents(df))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join must band on the bucket, not nested-loop:\n$plan")
  }

  test("salted join equals the plain join and spreads hot keys over salts") {
    // one pathologically hot user (80% of rows) + a cold one
    val rows = (0L until 50L).map(i =>
      (i, i, if (i < 40) 1L else 2L, "view", 1.0))
    val df = events(rows: _*)
    val totals = df.groupBy(col("user_id"))
      .agg(sum(col("value")).as("total"))
    val salted = graft.operators.Skew.saltedJoin(
      df, totals, "user_id", "event_id", salts = 4)
    val plain = df.join(totals, "user_id")
    assert(salted.count() == plain.count())
    assert(rowsOf(salted.groupBy(col("user_id")).agg(sum(col("total")).as("s"))
        .orderBy(col("user_id"))) ==
      rowsOf(plain.groupBy(col("user_id")).agg(sum(col("total")).as("s"))
        .orderBy(col("user_id"))))
    // the salt must be part of the join key (that IS the technique) …
    val keys = salted.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.sql).getOrElse("")
    }
    assert(keys.exists(_.contains("_salt")),
      s"join no longer keys on the salt: $keys")
    // … and the hot user's rows must actually occupy every salt bucket
    val buckets = df
      .withColumn("_salt", pmod(xxhash64(col("event_id")), lit(4L)))
      .filter(col("user_id") === 1L)
      .select(col("_salt")).distinct().count()
    assert(buckets == 4L, s"hot key spread over $buckets/4 salt buckets")
  }

  test("as-of join matches a brute-force oracle on random streams") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val rows = (0 until 120).map { i =>
        val typ = rnd.nextInt(3) match {
          case 0 => "click"; case 1 => "purchase"; case _ => "view"
        }
        // coarse timestamps force ts ties across users and types
        (i.toLong, (rnd.nextInt(20) * 60L * 1000), rnd.nextInt(5).toLong,
          typ, 1.0)
      }
      val df = events(rows: _*)
      val got = rowsOf(EventAnalytics.asOfLastPrior(df))
        .map(m => m("probe_id") -> m("asof_build_id")).toMap
      val builds = rows.filter(_._4 == "purchase")
      val expected = rows.filter(_._4 == "click").map { p =>
        val candidates = builds.filter(b => b._3 == p._3 && (b._2 < p._2 ||
          (b._2 == p._2)))
        // latest ts wins; equal-ts builds tie-break on highest event_id
        p._1 -> (if (candidates.isEmpty) null
          else candidates.maxBy(b => (b._2, b._1))._1)
      }.toMap
      assert(got == expected)
    }
  }

  test("incident islands partition busy minutes and respect the bridge on random streams") {
    val rnd = new scala.util.Random(11)
    val min = 60L * 1000
    val base = 1700000000000L
    for (trial <- 1 to 5) {
      val rows = (0 until 150).map { i =>
        (i.toLong, base + rnd.nextInt(40) * min + rnd.nextInt(3) * 1000L,
          rnd.nextInt(3).toLong,
          if (rnd.nextInt(3) == 0) "error" else "view", 1.0)
      }
      val df = events(rows: _*)
      val bridge = 2
      val r = rowsOf(EventAnalytics.errorIncidents(df, minErrors = 2,
        bridgeMinutes = bridge).orderBy(col("i_start")))
      val busyMinutes = rows.filter(_._4 == "error")
        .groupBy(t => t._2 / min * min).filter(_._2.size >= 2)
      // islands cover every busy minute exactly once
      assert(r.map(_("n_busy_minutes").asInstanceOf[Long]).sum ==
        busyMinutes.size, s"trial $trial")
      assert(r.map(_("n_errors").asInstanceOf[Long]).sum ==
        busyMinutes.values.map(_.size).sum, s"trial $trial")
      // consecutive islands are separated by MORE than the bridge
      // (else they would have merged), and intervals never overlap
      val spans = r.map(m =>
        (m("i_start").asInstanceOf[java.sql.Timestamp].getTime,
          m("i_end").asInstanceOf[java.sql.Timestamp].getTime))
      for (Seq((_, e1), (s2, _)) <- spans.sliding(2) if spans.length > 1)
        assert(s2 - e1 > bridge * min, s"trial $trial: gap ${s2 - e1}")
    }
  }

  test("props extraction nulls malformed JSON and skips it in aggregates") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "a", """{"k": 5}"""),
      (1L, "a", """{"k": 7}"""),
      (2L, "a", """not json at all"""),
      (3L, "a", """{"other": 9}"""),
      (4L, "a", null: String),
      (5L, "b", """{"k": -2}"""))
      .toDF("event_id", "event_type", "props")
      .withColumn("ts", timestamp_millis(col("event_id")))
      .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
    val r = rowsOf(EventAnalytics.propsStats(df))
      .map(m => m("event_type") -> m).toMap
    assert(r("a")("n_with_k") == 2L, "malformed/missing k must not count")
    assert(r("a")("sum_k") == 12L && r("a")("min_k") == 5L)
    assert(r("b")("sum_k") == -2L)
  }

  test("pivot zero-fills missing types and unpivot round-trips losslessly") {
    val df = events(
      (0L, 0L, 1L, "click", 1.0), (1L, 0L, 1L, "click", 1.0),
      (2L, 0L, 1L, "purchase", 1.0),
      (3L, 0L, 2L, "view", 1.0))   // user 2 has NO click/purchase
    val wide = rowsOf(EventAnalytics.eventTypePivot(df))
    assert(wide.map(_("user_id")) == Seq(1L, 2L))
    assert(wide.head("click") == 2L && wide.head("purchase") == 1L &&
      wide.head("view") == 0L, s"zero-fill broken: ${wide.head}")
    assert(wide(1)("click") == 0L && wide(1)("view") == 1L)
    // melt: one row per user x type, zeros explicit, counts preserved
    val long = rowsOf(EventAnalytics.eventTypeLong(df))
    assert(long.length == 2 * EventAnalytics.EventTypes.length)
    val back = long.map(m => (m("user_id"), m("event_type")) -> m("n")).toMap
    assert(back((1L, "click")) == 2L && back((2L, "click")) == 0L &&
      back((2L, "view")) == 1L)
    assert(long.map(_("n").asInstanceOf[Long]).sum == df.count())
    // the melt must not inherit the pivot's presentation sort: exactly
    // one global Sort (its own) in the plan
    val p = EventAnalytics.eventTypeLong(df).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    val sorts = raw"\(\d+\) Sort\b".r.findAllIn(p).length
    assert(sorts <= 1, s"melt pays a dead inner sort ($sorts):\n$p")
  }

  test("cleanText strips urls/emails, collapses punctuation and whitespace") {
    val s = spark
    import s.implicits._
    val got = Seq("See https://example.com/x?q=1 and mail bob@example.com !!!  Wow...  ")
      .toDF("text")
      .select(TextFunctions.cleanText(col("text")).as("c"))
      .collect()(0).getString(0)
    assert(got == "see and mail ! wow.")
  }
  test("typeTransitions counts successor pairs with exact probabilities") {
    // user1: a->b, b->a ; user2: a->b, b->c
    val df = events(
      (0L, 0L, 1L, "a", 1.0),
      (1L, 1000L, 1L, "b", 1.0),
      (2L, 2000L, 1L, "a", 1.0),
      (3L, 0L, 2L, "a", 1.0),
      (4L, 1000L, 2L, "b", 1.0),
      (5L, 2000L, 2L, "c", 1.0))
    val r = rowsOf(EventAnalytics.typeTransitions(df))
    assert(r.map(m => (m("event_type"), m("next_type"), m("n_trans"))) ==
      Seq(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 1L)))
    // a->b saw both users; each b-successor one user
    assert(r.map(_("n_users")) == Seq(2L, 1L, 1L))
    // p(b|a) = 2/2 = 1.0 ; p(a|b) = p(c|b) = 1/2
    assert(r.map(_("p_next")) == Seq(1.0, 0.5, 0.5))
  }

  test("typeTransitions breaks equal-timestamp ties by event_id") {
    val df = events(
      (10L, 1000L, 1L, "x", 0.0),
      (11L, 1000L, 1L, "y", 0.0), // same ts: event_id order => x->y
      (12L, 2000L, 1L, "z", 0.0))
    val r = rowsOf(EventAnalytics.typeTransitions(df))
    assert(r.map(m => (m("event_type"), m("next_type"))) ==
      Seq(("x", "y"), ("y", "z")))
  }

  test("typeTransitions matches a reference fold on random event streams") {
    val rnd = new scala.util.Random(47)
    for (_ <- 1 to 5) {
      val n = 10 + rnd.nextInt(40)
      val rows = (0 until n).map { i =>
        (i.toLong, rnd.nextInt(5).toLong * 1000L, rnd.nextInt(4).toLong,
          s"t${rnd.nextInt(3)}", 1.0)
      }
      val got = rowsOf(EventAnalytics.typeTransitions(events(rows: _*)))
        .map(m => (m("event_type"), m("next_type")) ->
          (m("n_trans"), m("n_users"), m("p_next"))).toMap
      // reference: per user, sort by (ts, event_id), pair successors
      val pairs = rows.groupBy(_._3).toSeq.flatMap { case (user, evs) =>
        val ordered = evs.sortBy(e => (e._2, e._1))
        ordered.zip(ordered.drop(1)).map { case (a, b) =>
          (a._4, b._4, user) }
      }
      val want = pairs.groupBy(p => (p._1, p._2)).map { case (k, g) =>
        k -> (g.size.toLong, g.map(_._3).distinct.size.toLong) }
      val fromTotals = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (k, (nt, nu)) =>
        val (gnt, gnu, gp) = got(k)
        assert(gnt == nt && gnu == nu, s"$k")
        assert(gp == nt.toDouble / fromTotals(k._1).toDouble, s"p_next $k")
      }
    }
  }
}
