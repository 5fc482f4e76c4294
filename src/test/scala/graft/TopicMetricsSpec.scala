package graft

import graft.operators.{AliveKeys, TopicMetrics}

/** Pins the reference's metric semantics, incl. every quirk in
  * SURVEY §2 / §5.2(1): tombstone exclusion from min/max size, avg
  * divisor = alive (not key_non_null), all-tombstone partition defined
  * as 0 (the reference div-by-zero case), dirty-ratio guards,
  * null-key records skipped by the alive-key op.
  */
class TopicMetricsSpec extends SparkSuite {

  test("per-partition counters and identities") {
    val df = records(
      (0, 0L, 1000L, "k1", "v100"),     // alive, keyed
      (0, 1L, 2000L, null, "v2"),       // alive, null key
      (0, 2L, 3000L, "k1", null),       // tombstone, keyed
      (1, 0L, 500L, "key9", "x"))
    val m = rowsOf(TopicMetrics.report(df)).map(r => r("partition") -> r).toMap
    val p0 = m(0)
    assert(p0("total") == 3L && p0("alive") == 2L && p0("tombstones") == 1L)
    assert(p0("key_null") == 1L && p0("key_non_null") == 2L)
    assert(p0("start_offset") == 0L && p0("end_offset") == 3L)
    assert(p0("key_bytes") == 4L)   // k1 twice (tombstone key still counts)
    assert(p0("value_bytes") == 6L) // v100 + v2
    assert(p0("p_bytes") == 10L)
    // avg divisor is alive (2), not key_non_null: floor(4/2)=2
    assert(p0("avg_key_size") == 2L)
    assert(p0("avg_value_size") == 3L)
    assert(p0("avg_msg_size") == 5L)
    assert(p0("dirty_ratio").asInstanceOf[Double] === 100.0 / 3)
    val p1 = m(1)
    assert(p1("total") == 1L && p1("dirty_ratio") == 0.0)
  }

  test("hotKeys: counts, tombstone share, partition spread, ordered cut") {
    val df = records(
      (0, 0L, 1L, "hot", "a"),
      (0, 1L, 2L, "hot", null),   // tombstone still a write
      (1, 0L, 3L, "hot", "b"),    // same key on a second partition
      (0, 2L, 4L, "warm", "x"),
      (1, 1L, 5L, "warm", "y"),
      (0, 3L, 6L, "cold", "z"),
      (0, 4L, 7L, null, "ignored")) // null key: no identity to report
    val r = rowsOf(TopicMetrics.hotKeys(df, k = 2))
    // top-2 cut: hot(3) then warm(2); cold dropped by the limit
    assert(r.map(_("key_str")) == Seq("hot", "warm"))
    val hot = r.head
    assert(hot("n_writes") == 3L && hot("n_tombstones") == 1L)
    assert(hot("n_partitions") == 2) // landed on both partitions
    assert(r(1)("n_partitions") == 2 && r(1)("n_tombstones") == 0L)
  }

  test("hotKeys tie-break is the key string: total order, stable cut") {
    val df = records(
      (0, 0L, 1L, "b", "x"), (0, 1L, 2L, "a", "x"), (0, 2L, 3L, "c", "x"))
    assert(rowsOf(TopicMetrics.hotKeys(df, k = 2)).map(_("key_str")) ==
      Seq("a", "b"))
  }

  test("all-tombstone keyed partition: averages defined as 0, not crash") {
    val df = records((0, 0L, 1L, "kk", null), (0, 1L, 2L, "kk", null))
    val p0 = rowsOf(TopicMetrics.report(df)).head
    assert(p0("alive") == 0L && p0("tombstones") == 2L)
    assert(p0("key_bytes") == 4L)
    assert(p0("avg_key_size") == 0L && p0("avg_msg_size") == 0L)
    assert(p0("dirty_ratio") == 100.0)
  }

  test("global summary: min/max size over non-tombstones only") {
    val df = records(
      (0, 0L, 5000L, "k", "vvvv"),   // size 5
      (0, 1L, 1000L, "kk", "v"),     // size 3
      (1, 0L, 9000L, "huge-key", null)) // tombstone: excluded from min/max
    val s = TopicAnalyzer.analyze(df).summary
    assert(s.overall_count == 3L)
    assert(s.overall_bytes == 5 + 3 + 8)
    assert(s.smallest_msg == 3L && s.largest_msg == 5L)
    assert(s.earliest_us == 1000000L && s.latest_us == 9000000L)
  }

  test("all-tombstone topic: smallest/largest read as 0 (sentinel parity)") {
    val df = records((0, 0L, 1L, "k", null))
    val s = TopicAnalyzer.analyze(df).summary
    assert(s.smallest_msg == 0L && s.largest_msg == 0L)
  }

  test("zero-length non-null keys/values are counted non-null with size 0") {
    val df = records((0, 0L, 1L, "", ""))
    val p0 = rowsOf(TopicMetrics.report(df)).head
    assert(p0("key_non_null") == 1L && p0("alive") == 1L)
    assert(p0("key_bytes") == 0L && p0("value_bytes") == 0L)
  }

  test("rollup emits per-partition rows plus a grand-total row") {
    val df = records((0, 0L, 1L, "a", "x"), (1, 0L, 1L, "b", null))
    val rows = rowsOf(TopicMetrics.rollupStats(df))
    assert(rows.length == 3)
    val total = rows.find(_("partition") == null).get
    assert(total("total") == 2L && total("alive") == 1L && total("tombstones") == 1L)
  }

  test("alive keys: last-write-wins with retraction, null keys skipped") {
    val df = records(
      (0, 0L, 1L, "a", "v"),    // a alive
      (0, 1L, 2L, "a", null),   // a retracted
      (0, 2L, 3L, "b", "v"),    // b alive
      (0, 3L, 4L, "c", null),   // c dead (only ever tombstone)
      (0, 4L, 5L, "c", "v2"),   // c re-marked alive
      (1, 0L, 6L, null, "v"),   // null key: skipped entirely
      (1, 1L, 7L, "d", null))   // d dead
    assert(AliveKeys.exact(df) == 2L) // b, c
  }

  test("compaction estimate: per-PARTITION last writes, tombstones and null keys excluded") {
    val df = records(
      (0, 0L, 1L, "a", "stale"),   // superseded by offset 2
      (0, 1L, 2L, "b", "gone"),    // retracted at offset 3
      (0, 2L, 3L, "a", "kept1"),   // a's last write on p0: retained
      (0, 3L, 4L, "b", null),      // b's last write is a tombstone
      (0, 4L, 5L, null, "nokey"),  // null key: totals only
      (1, 0L, 6L, "a", "kept22"))  // same key, other partition: retained TOO
    val r = rowsOf(AliveKeys.compactionEstimate(df))
      .map(m => m("partition") -> m).toMap
    val p0 = r(0)
    // totals: 5 records; bytes = keys (a,b,a,b)=4 + values
    // (stale,gone,kept1,nokey)=5+4+5+5=19 -> 23
    assert(p0("n_records") == 5L && p0("total_bytes") == 23L)
    // retained: only a@2 -> key 1 + value 5
    assert(p0("alive_keys") == 1L && p0("retained_bytes") == 6L)
    // compaction is per partition log: key "a" also survives on p1
    val p1 = r(1)
    assert(p1("alive_keys") == 1L && p1("retained_bytes") == 7L)
    // all-tombstone/keyless partition reads as zeros, not nulls
    val empty = rowsOf(AliveKeys.compactionEstimate(records(
      (2, 0L, 1L, "x", null), (2, 1L, 2L, null, "v")))).head
    assert(empty("alive_keys") == 0L && empty("retained_bytes") == 0L)
  }

  test("empty topic guard") {
    val df = records((0, 0L, 1L, "a", "x")).filter("partition = 99")
    assert(TopicMetrics.isEmpty(df))
  }

  private implicit class DoubleOps(val d: Double) {
    def ===(other: Double): Boolean = math.abs(d - other) < 1e-12
  }

  test("offset gaps: missing count, run count, and widest run per partition") {
    // partition 0 offsets: 0,1,4,5,9 -> missing 5 (2,3,6,7,8), two
    // runs (2-3 and 6-8), widest 3; partition 1 dense -> all zero
    val df = records(
      (0, 0L, 1L, "a", "v"), (0, 1L, 2L, "a", "v"), (0, 4L, 3L, "a", "v"),
      (0, 5L, 4L, "a", "v"), (0, 9L, 5L, "a", "v"),
      (1, 0L, 1L, "b", "v"), (1, 1L, 2L, "b", "v"))
    val r = rowsOf(graft.operators.TopicMetrics.offsetGaps(df))
    val p0 = r.find(_("partition") == 0).get
    assert(p0("n") == 5L && p0("lo") == 0L && p0("hi") == 9L)
    assert(p0("missing") == 5L && p0("n_gaps") == 2L && p0("max_gap") == 3L)
    val p1 = r.find(_("partition") == 1).get
    assert(p1("missing") == 0L && p1("n_gaps") == 0L && p1("max_gap") == 0L)
  }

  test("offset gaps: bucketed stitch — runs and widest gap across bucket boundaries") {
    // bucketSize=4 forces every boundary case: a run INSIDE a bucket
    // (2→5 within [4,8)), a run straddling a boundary (6→9), a run
    // spanning wholly-empty buckets (10→23, crossing empty [12,16) and
    // [16,20)), and a dense partition. Expected for p0, offsets
    // 0,1,2,5,6,9,10,23: missing 16, runs {3-4, 7-8, 11-22}, widest 12.
    val offs = Seq(0L, 1L, 2L, 5L, 6L, 9L, 10L, 23L)
    val df = records(
      offs.map(o => (0, o, o + 1, "a", "v")) ++
        Seq((1, 0L, 1L, "b", "v"), (1, 1L, 2L, "b", "v")): _*)
    for (b <- Seq(1L, 2L, 4L, 1024L)) {
      val r = rowsOf(graft.operators.TopicMetrics.offsetGaps(df, bucketSize = b))
      val p0 = r.find(_("partition") == 0).get
      assert(p0("n") == 8L && p0("lo") == 0L && p0("hi") == 23L, s"b=$b")
      assert(p0("missing") == 16L && p0("n_gaps") == 3L &&
        p0("max_gap") == 12L, s"b=$b")
      val p1 = r.find(_("partition") == 1).get
      assert(p1("missing") == 0L && p1("n_gaps") == 0L && p1("max_gap") == 0L,
        s"b=$b")
    }
  }

  test("partition throughput buckets on exact integer boundaries") {
    val hour = 3600L * 1000 // ms
    val df = records(
      (0, 0L, 1000L, "a", "v"), (0, 1L, hour - 1, "a", "v"), // bucket 0
      (0, 2L, hour + 1, "a", "v"),                           // bucket 1
      (1, 0L, 2 * hour, "b", "v"))                           // bucket 2
    val r = rowsOf(graft.operators.TopicMetrics
      .partitionThroughput(df, bucketSeconds = 3600))
    assert(r.map(m => (m("partition"), m("bucket_start_us"), m("n"))) == Seq(
      (0, 0L, 2L), (0, hour * 1000, 1L), (1, 2 * hour * 1000, 1L)))
  }

  test("key cardinality counts distinct keys, excluding nulls") {
    val df = records(
      (0, 0L, 1L, "a", "v"), (0, 1L, 2L, "a", "v"), (0, 2L, 3L, "b", "v"),
      (0, 3L, 4L, null, "v"), // null key: not a key
      (1, 0L, 1L, "a", "v"))
    val r = rowsOf(graft.operators.TopicMetrics.keyCardinality(df))
    assert(r.map(m => (m("partition"), m("n_keys"), m("n_keyed_records"))) ==
      Seq((0, 2L, 3L), (1, 1L, 1L)))
  }

  test("approx key cardinality: exact at small counts, brackets at scale") {
    // tiny: pinned HLL with linear counting is exact here
    val df = records(
      (0, 0L, 1L, "a", "v"), (0, 1L, 2L, "a", "v"), (0, 2L, 3L, "b", "v"),
      (0, 3L, 4L, null, "v"),
      (1, 0L, 1L, "a", "v"))
    val r = rowsOf(graft.operators.TopicMetrics.keyCardinalityApprox(df))
    assert(r.map(m =>
        (m("partition"), m("n_keys_approx"), m("n_keyed_records"))) ==
      Seq((0, 2L, 3L), (1, 1L, 1L)))
    // larger: the estimate must bracket the exact count within the
    // ~1.6%-standard-error envelope (deterministic — cannot flake)
    val big = records((0 until 4000).map(i =>
      (i % 4, (i / 4).toLong, i.toLong, s"key-${i % 997}", "v")): _*)
    val approx = rowsOf(graft.operators.TopicMetrics.keyCardinalityApprox(big))
      .map(m => m("partition") -> m("n_keys_approx").asInstanceOf[Long]).toMap
    val exact = rowsOf(graft.operators.TopicMetrics.keyCardinality(big))
      .map(m => m("partition") -> m("n_keys").asInstanceOf[Long]).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (p, e) =>
      assert(math.abs(approx(p) - e) <= math.max(4.0, e * 0.08),
        s"partition $p: approx=${approx(p)} exact=$e")
    }
  }
}
