package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
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
  * option b) — no second scan of the data, ever — by ONE fold,
  * [[Summary]]'s merge and read-out, which the CLI runs driver-side
  * and `q_topic_summary` runs as an aggregate.
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
      // partials for the global (topic-level) reduce, in [[SummaryBuf]]'s
      // encoding (epoch micros; the empty-min/max sentinels where a
      // partition has no alive record or no timestamp); min/max message
      // size count non-tombstones only (`src/metric.rs:249-251`)
      coalesce(min(when(col("value").isNotNull, msgSize)),
        lit(Long.MaxValue)).as("min_alive_msg"),
      coalesce(max(when(col("value").isNotNull, msgSize)),
        lit(Long.MinValue)).as("max_alive_msg"),
      coalesce(unix_micros(min(col("timestamp"))),
        lit(Long.MaxValue)).as("min_ts"),
      coalesce(unix_micros(max(col("timestamp"))),
        lit(Long.MinValue)).as("max_ts"))
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
  def withDerived(stats: DataFrame): DataFrame = {
    val pBytes = col("key_bytes") + col("value_bytes")
    // TRUE integer division (the reference's src/metric.rs u64
    // division), not floor(double quotient): past 2^53 bytes the
    // correctly-rounded double can cross an integer boundary and
    // floor() then disagrees with integer div — the same 2^53
    // exactness bound this engine treats as hard everywhere else.
    // Oracle mirrors with `//`.
    def perAlive(bytes: Column): Column =
      when(col("alive") > 0 && bytes > 0,
        call_function("div", bytes, col("alive"))).otherwise(0L).cast("long")
    // one projection: a withColumn chain re-analyses the plan per column
    stats.select(col("*"), pBytes.as("p_bytes"),
      when(col("total") > 0 && col("tombstones") > 0,
        col("tombstones") * 100.0 / col("total")).otherwise(0.0)
        .as("dirty_ratio"),
      perAlive(col("key_bytes")).as("avg_key_size"),
      perAlive(col("value_bytes")).as("avg_value_size"),
      perAlive(pBytes).as("avg_msg_size"))
  }

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

  /** Global topic summary (D1-D6) as a 1-row frame: [[Summary]] over
    * the per-partition buffers — O(#partitions) rows in, 1 row out, no
    * second scan. `q_topic_summary` runs it; the CLI folds the same
    * buffers driver-side ([[graft.TopicAnalyzer.analyze]]).
    */
  def summaryFrame(stats: DataFrame): DataFrame =
    stats.select(udaf(Summary, Encoders.product[SummaryBuf])(
        col("total"), col("key_bytes") + col("value_bytes"),
        col("min_alive_msg"), col("max_alive_msg"),
        col("min_ts"), col("max_ts")).as("s"))
      .select(col("s.*"))

  /** D1-D6's partial buffer, in the encoding [[partitionStats]] emits
    * per partition (its fields are named after those columns;
    * `p_bytes` = key_bytes + value_bytes). */
  final case class SummaryBuf(total: Long, p_bytes: Long,
      min_alive_msg: Long, max_alive_msg: Long, min_ts: Long, max_ts: Long)

  /** D1-D6 as a typed `Aggregator` over per-partition buffers — the
    * Spark-native form of the reference's `MetricHandler`
    * (`src/kafka.rs:18-20`: state, update, end-of-scan read-out). The
    * stats pass has already folded each partition's records, so its
    * update is [[merge]] too. Every metric is a commutative monoid, so
    * the merge is exact in any order (SURVEY §3.2). An empty min is
    * `Long.MaxValue` and an empty max `Long.MinValue`, the reference's
    * sentinels (`src/metric.rs:39-62`); [[finish]] reads them out as 0,
    * so an all-tombstone topic reports smallest = largest = 0
    * (`src/metric.rs:177-183`) and all-null timestamps read
    * earliest = latest = 0.
    */
  object Summary extends Aggregator[SummaryBuf, SummaryBuf, TopicSummary] {
    def zero: SummaryBuf = SummaryBuf(0L, 0L,
      Long.MaxValue, Long.MinValue, Long.MaxValue, Long.MinValue)
    def reduce(b: SummaryBuf, part: SummaryBuf): SummaryBuf = merge(b, part)
    def merge(a: SummaryBuf, b: SummaryBuf): SummaryBuf =
      SummaryBuf(a.total + b.total, a.p_bytes + b.p_bytes,
        math.min(a.min_alive_msg, b.min_alive_msg),
        math.max(a.max_alive_msg, b.max_alive_msg),
        math.min(a.min_ts, b.min_ts), math.max(a.max_ts, b.max_ts))
    def finish(b: SummaryBuf): TopicSummary = {
      def lo(v: Long) = if (v == Long.MaxValue) 0L else v
      def hi(v: Long) = if (v == Long.MinValue) 0L else v
      TopicSummary(b.total, b.p_bytes, lo(b.min_alive_msg),
        hi(b.max_alive_msg), lo(b.min_ts), hi(b.max_ts))
    }
    def bufferEncoder: Encoder[SummaryBuf] = Encoders.product[SummaryBuf]
    def outputEncoder: Encoder[TopicSummary] = Encoders.product[TopicSummary]
  }

  /** Per-partition rows AND the grand-total row in one pass —
    * `rollup(partition)` (SURVEY §4.3 option c). The null-partition row
    * is the whole-topic aggregate. Demonstrates the grouping-sets path;
    * the default engine surface is `report` plus the D1-D6 fold over
    * the same stats pass ([[graft.TopicAnalyzer.analyze]], [[summaryFrame]]).
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
