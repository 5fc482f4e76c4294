package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.TopicSummary

/** The reference's entire metric family (SURVEY §2.C/D/E) as ONE
  * `groupBy(partition).agg(...)` — Catalyst fuses all aggregate
  * expressions into a single `HashAggregateExec` (partial on the scan
  * side, final after a tiny shuffle keyed by partition id), which is the
  * distributed form of the reference's single-pass fold
  * (`src/kafka.rs:107-109` → `src/metric.rs:206-253`).
  *
  * Scale notes: the shuffle moves O(#partitions × #metrics) bytes, not
  * data; map-side partial aggregation means each of the N scan tasks
  * emits one row per Kafka partition it read. Global summary metrics
  * (SURVEY §2.D) are re-reduced from the per-partition frame (§4.3
  * option b) — no second scan of the data, ever.
  */
object TopicMetrics {

  private[graft] def keyLen: Column = coalesce(length(col("key")), lit(0)).cast("long")
  private[graft] def valueLen: Column = coalesce(length(col("value")), lit(0)).cast("long")
  /** key_len + value_len; headers (if any) are NOT counted
    * (`src/metric.rs:212,222,236`). */
  private def msgSize: Column = keyLen + valueLen

  /** C1-C7: the per-group counter expressions — ONE definition shared
    * by the batch, rollup, and streaming aggregations so the
    * nullability guards cannot drift between them.
    */
  def counterAggs: Seq[Column] = Seq(
    count(lit(1)).as("total"),
    count_if(col("value").isNotNull).as("alive"),
    count_if(col("value").isNull).as("tombstones"),
    count_if(col("key").isNull).as("key_null"),
    count_if(col("key").isNotNull).as("key_non_null"),
    sum(keyLen).as("key_bytes"),
    sum(valueLen).as("value_bytes"))

  /** Per-partition counters (C1-C7) plus the min/max partials that make
    * every global metric (D1-D6) re-reducible without a second scan.
    */
  def partitionStats(records: DataFrame): DataFrame = {
    val aggs = Seq(
      min(col("offset")).as("start_offset"),
      (max(col("offset")) + 1).as("end_offset")) ++ counterAggs ++ Seq(
      // partials for the global (topic-level) reduce; min/max message
      // size count non-tombstones only (`src/metric.rs:249-251`)
      min(when(col("value").isNotNull, msgSize)).as("min_alive_msg"),
      max(when(col("value").isNotNull, msgSize)).as("max_alive_msg"),
      min(col("timestamp")).as("min_ts"),
      max(col("timestamp")).as("max_ts"))
    records.groupBy(col("partition")).agg(aggs.head, aggs.tail: _*)
  }

  /** Derived report columns (SURVEY §2.E). Quirk parity:
    *  - averages divide by `alive`, NOT `key_non_null`
    *    (`src/metric.rs:132-157`), with integer (floor) division;
    *  - where the reference div-by-zero-panics (all-tombstone keyed
    *    partition, §2.E1) we define the result as 0;
    *  - dirty_ratio is the tombstone percentage, 0.0 when either term
    *    is 0 (`src/metric.rs:159-167`).
    */
  def withDerived(stats: DataFrame): DataFrame =
    stats
      .withColumn("p_bytes", col("key_bytes") + col("value_bytes"))
      .withColumn("dirty_ratio",
        when(col("total") > 0 && col("tombstones") > 0,
          col("tombstones") * 100.0 / col("total")).otherwise(0.0))
      // TRUE integer division (the reference's src/metric.rs u64
      // division), not floor(double quotient): past 2^53 bytes the
      // correctly-rounded double can cross an integer boundary and
      // floor() then disagrees with integer div — the same 2^53
      // exactness bound this engine treats as hard everywhere else.
      // Oracle mirrors with `//`.
      .withColumn("avg_key_size",
        when(col("alive") > 0 && col("key_bytes") > 0,
          expr("key_bytes div alive")).otherwise(0L).cast("long"))
      .withColumn("avg_value_size",
        when(col("alive") > 0 && col("value_bytes") > 0,
          expr("value_bytes div alive")).otherwise(0L).cast("long"))
      .withColumn("avg_msg_size",
        when(col("alive") > 0 && col("p_bytes") > 0,
          expr("p_bytes div alive")).otherwise(0L).cast("long"))

  /** The full 15-column report frame, ordered by partition id (G1,
    * `src/main.rs:103-106`); column set mirrors the reference's table
    * (`src/main.rs:150-172`).
    */
  def report(records: DataFrame): DataFrame =
    withDerived(partitionStats(records))
      .select(
        col("partition"), col("start_offset"), col("end_offset"),
        col("total"), col("alive"), col("tombstones"), col("dirty_ratio"),
        col("key_null"), col("key_non_null"),
        col("p_bytes"), col("key_bytes"), col("value_bytes"),
        col("avg_key_size"), col("avg_value_size"), col("avg_msg_size"))
      .orderBy(col("partition"))

  /** Global topic summary (D1-D6), re-reduced from the per-partition
    * partials — O(#partitions) rows in, 1 row out; every metric is a
    * commutative monoid so the re-reduction is exact (SURVEY §3.2).
    * Sentinel parity: all-tombstone topic reports smallest=largest=0
    * (the reference's u64::MAX sentinel readout, `src/metric.rs:177-183`).
    */
  def summaryFrame(stats: DataFrame): DataFrame =
    stats.agg(
      // coalesce ALL of them: over an empty stats frame the sums are
      // NULL where every min/max already reads out 0 — summarize's
      // getLong would NPE, and summaryFromPartials (pinned to agree)
      // returns zeros for the same input
      coalesce(sum(col("total")), lit(0L)).as("overall_count"),
      coalesce(sum(col("key_bytes") + col("value_bytes")), lit(0L))
        .as("overall_bytes"),
      coalesce(min(col("min_alive_msg")), lit(0L)).as("smallest_msg"),
      coalesce(max(col("max_alive_msg")), lit(0L)).as("largest_msg"),
      // all-null timestamps read out as 0, like the size sentinels
      coalesce(unix_micros(min(col("min_ts"))), lit(0L)).as("earliest_us"),
      coalesce(unix_micros(max(col("max_ts"))), lit(0L)).as("latest_us"))

  def summarize(stats: DataFrame): TopicSummary = {
    val r = summaryFrame(stats).collect()(0)
    TopicSummary(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))
  }

  /** The D1-D6 reduction over ALREADY-COLLECTED per-partition rows
    * (the output of [[withDerived]]([[partitionStats]])) — the
    * single-scan path used by the report facade. ONE definition of the
    * driver-side re-reduce; must agree with [[summaryFrame]] (pinned
    * by AnalyzerSpec).
    */
  def summaryFromPartials(rows: Seq[org.apache.spark.sql.Row],
      idx: Map[String, Int]): TopicSummary = {
    def longs(c: String): Seq[Long] =
      rows.filterNot(_.isNullAt(idx(c))).map(_.getLong(idx(c)))
    def tsUs(c: String): Seq[Long] =
      rows.filterNot(_.isNullAt(idx(c)))
        .map(r => graft.model.Timestamps.toMicros(r.get(idx(c))))
    val minAlive = longs("min_alive_msg")
    val maxAlive = longs("max_alive_msg")
    val minTs = tsUs("min_ts")
    val maxTs = tsUs("max_ts")
    TopicSummary(
      overall_count = longs("total").sum,
      overall_bytes = longs("p_bytes").sum,
      smallest_msg = if (minAlive.isEmpty) 0L else minAlive.min,
      largest_msg = if (maxAlive.isEmpty) 0L else maxAlive.max,
      earliest_us = if (minTs.isEmpty) 0L else minTs.min,
      latest_us = if (maxTs.isEmpty) 0L else maxTs.max)
  }

  /** Per-partition rows AND the grand-total row in one pass —
    * `rollup(partition)` (SURVEY §4.3 option c). The null-partition row
    * is the whole-topic aggregate. Demonstrates the grouping-sets path;
    * `report` + `summaryFrame` is the default engine surface.
    */
  def rollupStats(records: DataFrame): DataFrame =
    records.rollup(col("partition"))
      .agg(counterAggs.head, counterAggs.tail: _*)
      .orderBy(col("partition").asc_nulls_first)

  /** Watermark/offset discovery report (SURVEY §2.A2): the `< OS` /
    * `> OS` columns. With a live Kafka source these come from
    * `AdminClient.listOffsets`; over a bounded record frame they are the
    * per-partition min/max(offset).
    */
  def offsets(records: DataFrame): DataFrame =
    records.groupBy(col("partition")).agg(
      min(col("offset")).as("start_offset"),
      (max(col("offset")) + 1).as("end_offset"))
      .orderBy(col("partition"))

  /** Empty-topic guard (A4, `src/main.rs:98-101`) as a limit-1 probe.
    * No engine path calls it any more: the CLI's stats pass is its
    * empty guard (CliSpec pins two scans for `-c`). It is kept because
    * the benchmark's `clitrace` mode replays the old probe. */
  def isEmpty(records: DataFrame): Boolean = records.isEmpty

  /** Offset-gap audit — the "did we lose messages?" check the
    * reference's bounded scan silently assumes away: per partition,
    * how many offsets in [min, max] are absent, how many distinct gap
    * runs exist, and the widest run. Pure integer arithmetic (counts
    * and offset differences), so the result is hash-exact across
    * engines.
    *
    * Bucketed two-level formulation: a single lag window partitioned
    * only by Kafka partition funnels a partition's every record through
    * ONE sort task — at 100 TB a billion-record partition is the job.
    * Instead:
    *
    *  1. records window by (partition, `offset div bucketSize`) — the
    *     bucket is part of the window KEY, so per-task cost is capped
    *     at `bucketSize` rows regardless of partition size;
    *  2. one fused aggregate per bucket: count, min/max offset,
    *     within-bucket gap-run count and widest run;
    *  3. boundary stitch: lag over the BUCKET table (1/bucketSize of
    *     the data) joins each present bucket to its predecessor —
    *     a gap spanning any number of wholly-empty buckets surfaces
    *     as `lo − previous hi − 1` between consecutive present rows,
    *     so empty buckets need no rows;
    *  4. per-partition roll-up: within-bucket and boundary gap stats
    *     combine by sum/max.
    *
    * The stitch window's per-task cost is records/bucketSize for the
    * hottest partition; if even that bounds the job, the same
    * construction nests (bucket the buckets) — one more level per
    * 4096× of partition growth.
    *
    * Compacted topics make gaps NORMAL (deleted keys vacate offsets);
    * for those, read `missing` as "compacted or lost", not "lost".
    */
  def offsetGaps(records: DataFrame, bucketSize: Long = 4096L): DataFrame = {
    require(bucketSize > 0, s"bucketSize must be positive: $bucketSize")
    val wInBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partition"), col("bucket")).orderBy(col("offset"))
    val perBucket = records
      .select(col("partition"), col("offset"),
        // `div` = true integer division — `/` on longs goes through
        // double and rounds the operand above 2^53, drifting boundary
        // records into the neighbor bucket (monotone, so results stay
        // correct, but the per-task cap would no longer be exact)
        expr(s"`offset` div $bucketSize").as("bucket"))
      .withColumn("gap_before",
        col("offset") - lag(col("offset"), 1).over(wInBucket) - 1)
      .groupBy(col("partition"), col("bucket"))
      .agg(
        count(lit(1)).as("cnt"),
        min(col("offset")).as("lo_b"),
        max(col("offset")).as("hi_b"),
        count_if(col("gap_before") > 0).as("n_gaps_b"),
        max(when(col("gap_before") > 0, col("gap_before"))).as("max_gap_b"))
    val wStitch = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partition")).orderBy(col("bucket"))
    perBucket
      .withColumn("boundary_gap",
        col("lo_b") - lag(col("hi_b"), 1).over(wStitch) - 1)
      .groupBy(col("partition"))
      .agg(
        sum(col("cnt")).as("n"),
        min(col("lo_b")).as("lo"),
        max(col("hi_b")).as("hi"),
        (max(col("hi_b")) - min(col("lo_b")) + 1 - sum(col("cnt")))
          .as("missing"),
        (sum(col("n_gaps_b")) + count_if(col("boundary_gap") > 0))
          .as("n_gaps"),
        greatest(
          coalesce(max(col("max_gap_b")), lit(0L)),
          coalesce(max(when(col("boundary_gap") > 0, col("boundary_gap"))),
            lit(0L))).as("max_gap"))
      .orderBy(col("partition"))
  }

  /** Per-partition throughput histogram: message counts per
    * fixed-width event-time bucket (integer division of epoch micros —
    * engine-exact, unlike float window arithmetic). The streaming twin
    * is `groupBy(partition, window(timestamp, ...))`; this batch shape
    * is ONE fused aggregate, map-side combined, shuffling only
    * (partition × occupied-bucket) rows.
    */
  def partitionThroughput(records: DataFrame,
      bucketSeconds: Int = 86400): DataFrame = {
    val bucketUs = bucketSeconds * 1000000L
    // `div` = integer division (DuckDB `//` agrees for the
    // non-negative epochs here); a double divide would round
    // 2^50-magnitude micros off the bucket boundary
    records
      .groupBy(col("partition"),
        expr(s"(unix_micros(timestamp) div $bucketUs) * $bucketUs")
          .as("bucket_start_us"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("partition"), col("bucket_start_us"))
  }

  /** Exact distinct-key cardinality per partition. Null-KEY records
    * are excluded (no key to count); TOMBSTONES (null value, non-null
    * key) still count — this measures keys EVER WRITTEN, the
    * "how many keys has this partition seen" audit. The ALIVE-key
    * denominator a post-compaction footprint needs is the separate
    * last-write-wins computation ([[AliveKeys]] /
    * `compactionEstimate`), which retracts tombstoned keys. The
    * two-phase distinct aggregate shuffles only the (partition, key)
    * distinct pairs. Swap in `approx_count_distinct` when ±2% error
    * buys a sketch-sized shuffle instead (not oracle-checkable —
    * sketch results are not engine-stable, so the exact form is the
    * driver query).
    */
  def keyCardinality(records: DataFrame): DataFrame =
    records.groupBy(col("partition"))
      .agg(countDistinct(col("key")).as("n_keys"),
        count(col("key")).as("n_keyed_records"))
      .orderBy(col("partition"))

  /** Scale variant of [[keyCardinality]]: per-partition distinct keys
    * via [[graft.functions.HllSketch]] (pinned HLL — oracle-replayable
    * estimates, rounded longs). The exact `countDistinct` rewrites to
    * a two-phase aggregate whose first phase keys on (partition, key)
    * — at 100 TB the full keyed record stream crosses the wire; the
    * sketch ships one 4 KiB register buffer per partition per map
    * task instead (~1.6% standard error). Keys hash via their string
    * form (binary→string cast — exactly how the oracle's records CTE
    * models keys, and hash64's codepoint fold then agrees for any
    * script); partitions with zero keyed records carry no sketch and
    * are absent, mirrored by the oracle's join.
    */
  def keyCardinalityApprox(records: DataFrame): DataFrame = {
    import graft.functions.HllSketch.{hash64, hllDistinct, hllSketchOfHash}
    records.filter(col("key").isNotNull)
      .select(col("partition"), hash64(col("key")).as("kh"))
      .groupBy(col("partition"))
      .agg(hllDistinct(hllSketchOfHash(col("kh"))).as("n_keys_approx"),
        count(lit(1)).as("n_keyed_records"))
      .orderBy(col("partition"))
  }

  /** Hot-key report: the `k` most-written keys with their skew
    * signature — total writes, tombstone share, and how many
    * partitions the key landed on (> 1 means a non-default or changed
    * partitioner; exactly the situation where compaction and
    * consumer-side keyed state silently diverge). The producer-skew
    * diagnosis the reference's per-partition averages (§2.E) hint at
    * but cannot attribute to a key.
    *
    * Scale shape: ONE partial-aggregable `groupBy(key)` — the
    * partition spread rides as `collect_set(partition)` (bounded by
    * the topic's partition count, so the set is a few dozen ints, not
    * a row explosion; a `countDistinct` would cost a second shuffle
    * via Expand) — then `orderBy.limit(k)` plans as
    * TakeOrderedAndProject: per-partition top-k heaps, driver merges
    * k·partitions rows, never a global sort. Ties break on the key
    * string so the cut is total-ordered and engine-stable.
    */
  def hotKeys(records: DataFrame, k: Int = 20): DataFrame =
    records.filter(col("key").isNotNull)
      .groupBy(col("key").cast("string").as("key_str"))
      .agg(count(lit(1)).as("n_writes"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_tombstones"),
        size(collect_set(col("partition"))).as("n_partitions"))
      .orderBy(col("n_writes").desc, col("key_str"))
      .limit(k)
}
