package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.KafkaRecord

/** Structured Streaming surface of the engine (north star: "Structured
  * Streaming + aggregations"). The reference side-steps streaming by
  * bounding its scan (SURVEY §1.1); here the same operators run
  * unbounded:
  *
  *  - [[partitionStats]]: the C-family counters as a streaming
  *    `groupBy(partition).agg(...)` — valid in update/complete mode;
  *    every metric is a commutative monoid fold so incremental state is
  *    exact.
  *  - [[aliveKeyUpdates]]: the F2 last-write-wins alive-key op as
  *    `flatMapGroupsWithState` keyed by key bytes, holding
  *    `(partition, offset, alive)` — emits the key's CURRENT aliveness
  *    in every micro-batch the key appears in (a re-emission is not a
  *    transition; consumers needing change-only semantics compare
  *    against their previous value). Retraction works because state
  *    keeps the max (partition, offset) seen, not arrival order.
  *
  * State sizing at scale: [[aliveKeyUpdates]] holds O(distinct keys)
  * × ~30 bytes — exact LWW, parity with the reference (whose bitset
  * also grows unboundedly, `src/metric.rs:262-270`), fine while the
  * key space is bounded. For UNBOUNDED key spaces the engine ships
  * two explicit scale modes instead of a silent OOM:
  *  - [[aliveKeyUpdatesWithTtl]] — watermark-TTL eviction; state is
  *    O(keys active within the TTL horizon), the documented
  *    approximation being that a tombstone later than the horizon
  *    cannot retract (see its scaladoc for the full contract);
  *  - the pinned-HLL cardinality twin
  *    ([[graft.operators.TopicMetrics.keyCardinalityApprox]] /
  *    [[StreamingSketches]]) when the question is "how many keys
  *    live" rather than "which" — 4 KiB of state per group, period.
  */
object StreamingTopicMetrics {

  /** Streaming per-partition counters (run with output mode update or
    * complete). Same expressions as the batch operator — Catalyst
    * maintains the partial-aggregate state between micro-batches.
    */
  def partitionStats(stream: DataFrame): DataFrame = {
    val aggs = graft.operators.TopicMetrics.counterAggs
    stream.groupBy(col("partition")).agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming twin of [[graft.operators.TopicMetrics
    * .partitionThroughput]]: message counts per (partition, event-time
    * window). The watermark closes windows `delay` past their end, so
    * state is bounded by partitions × in-flight windows; run in
    * update/append mode. The batch twin buckets by integer epoch
    * division for oracle exactness — `window()` here is the native
    * streaming form of the same tumbling bucket FOR NON-NEGATIVE
    * epochs (the Kafka path guarantees them:
    * `KafkaRecordSource.normalizeTimestamp` clamps pre-epoch input). A
    * pre-1970 event time would diverge: `window()` floors, the batch
    * `div` truncates toward zero.
    */
  def partitionThroughput(stream: DataFrame, bucket: String = "1 day",
      delay: String = "1 hour"): DataFrame =
    stream
      .withWatermark("timestamp", delay)
      .groupBy(col("partition"),
        window(col("timestamp"), bucket).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("partition"),
        unix_micros(col("w.start")).as("bucket_start_us"), col("n"))

  /** A maximal run of PRESENT (arrived) offsets. */
  case class GapRun(lo: Long, hi: Long)
  case class GapState(lo: Long, hi: Long, n: Long,
      runs: List[GapRun], saturated: Boolean)
  case class GapUpdate(partition: Int, lo: Long, hi: Long, n: Long,
      missing: Long, n_gaps: Long, max_gap: Long, saturated: Boolean)

  /** Merge a SORTED batch of offsets into a coalesced present-run set
    * (both inputs ascending): one linear pass, duplicates and
    * already-covered offsets absorb into the current run. Adjacent
    * runs (next.lo == cur.hi + 1) coalesce, so distinct output runs
    * are always separated by a real gap.
    */
  private[graft] def mergeRuns(runs: List[GapRun],
      offs: Array[Long]): List[GapRun] = {
    val out = scala.collection.mutable.ListBuffer.empty[GapRun]
    var cur: GapRun = null
    def push(r: GapRun): Unit =
      if (cur == null) cur = r
      else if (r.lo <= cur.hi + 1) {
        if (r.hi > cur.hi) cur = GapRun(cur.lo, r.hi)
      } else { out += cur; cur = r }
    val it = runs.iterator
    var nextRun: GapRun = if (it.hasNext) it.next() else null
    var i = 0
    while (nextRun != null || i < offs.length) {
      if (nextRun == null || (i < offs.length && offs(i) < nextRun.lo)) {
        push(GapRun(offs(i), offs(i))); i += 1
      } else {
        push(nextRun)
        nextRun = if (it.hasNext) it.next() else null
      }
    }
    if (cur != null) out += cur
    out.toList
  }

  /** Streaming lost-message monitor — the incremental twin of
    * [[graft.operators.TopicMetrics.offsetGaps]]: per partition, how
    * many offsets inside the observed [lo, hi] range have not arrived,
    * how many distinct gap runs exist, and the widest one. State is a
    * coalesced range-set of PRESENT-offset runs — O(gap runs), not
    * O(records) — hard-bounded by `maxRuns`: a partition whose shape
    * exceeds it SATURATES, dropping run detail permanently (the flag
    * stays set). The SATURATING batch itself still reports exact
    * statistics — its pre-drop run set is in hand, and discarding it
    * would let the summary fallback understate `missing` under
    * redelivery in the very report that announces degradation — with
    * the flag already set as the from-here-on warning; every LATER
    * report carries n_gaps/max_gap as -1, unmistakably not a
    * statistic, never a silent wrong number. The headline `missing`
    * survives saturation (three-long summary arithmetic). A healthy
    * topic has ~0 runs of gaps, so saturation itself is an alert: it
    * means ≥`maxRuns` distinct holes are live right now.
    *
    * Unbounded-time safe with NoTimeout. Emits one row per partition
    * per micro-batch in which it received records; `missing` shrinks
    * as laggards arrive and runs coalesce, so a persistently non-zero
    * value IS the alert. While unsaturated, `missing` is computed from
    * run coverage, so upstream redelivery (at-least-once) cannot
    * understate it — only the arrival counter `n` inflates; after
    * saturation the summary fallback `hi-lo+1-n` inherits that
    * exactly-once caveat.
    *
    * STATE-SCHEMA MIGRATION: the range-set extension widened
    * [[GapState]] from (lo, hi, n) to (lo, hi, n, runs, saturated) —
    * a query restored from a checkpoint written by the 3-field
    * monitor will fail state-schema validation. Restart such queries
    * with a FRESH checkpoint directory (the monitor's state rebuilds
    * from the stream; only the pre-restart observed range is
    * forgotten, exactly as on first deploy).
    */
  def offsetGapMonitor(stream: Dataset[KafkaRecord],
      maxRuns: Int = 256): Dataset[GapUpdate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .groupByKey(_.partition)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (p: Int, rows: Iterator[KafkaRecord], state: GroupState[GapState]) =>
          val prev = state.getOption
            .getOrElse(GapState(Long.MaxValue, Long.MinValue, 0L, Nil, false))
          val offs = rows.map(_.offset).toArray
          java.util.Arrays.sort(offs)
          var lo = prev.lo; var hi = prev.hi
          if (offs.nonEmpty) {
            if (offs(0) < lo) lo = offs(0)
            if (offs(offs.length - 1) > hi) hi = offs(offs.length - 1)
          }
          val n = prev.n + offs.length
          val merged =
            if (prev.saturated) Nil else mergeRuns(prev.runs, offs)
          val saturated = prev.saturated || merged.size > maxRuns
          val runs = if (saturated) Nil else merged
          state.update(GapState(lo, hi, n, runs, saturated))
          val update =
            if (prev.saturated)
              // run detail was dropped in an EARLIER batch; only the
              // summary fallback remains (its at-least-once caveat
              // with it)
              GapUpdate(p, lo, hi, n, hi - lo + 1 - n, -1L, -1L, saturated)
            else {
              // `merged` holds the EXACT coverage even on the batch
              // that saturates — emit the last exact report (which
              // redelivery cannot understate) before degrading; the
              // flag already says detail is gone from here on
              var covered = 0L; var nGaps = 0L; var maxGap = 0L
              var prevHi = Long.MinValue
              merged.foreach { r =>
                covered += r.hi - r.lo + 1
                if (prevHi != Long.MinValue) {
                  val g = r.lo - prevHi - 1
                  nGaps += 1
                  if (g > maxGap) maxGap = g
                }
                prevHi = r.hi
              }
              GapUpdate(p, lo, hi, n, hi - lo + 1 - covered,
                nGaps, maxGap, saturated)
            }
          Iterator.single(update)
      }
  }

  case class KeyState(partition: Int, offset: Long, alive: Boolean)
  case class KeyUpdate(key: String, alive: Boolean)

  /** Per-key last-write-wins state updates. Key bytes are base64-coded
    * for value-equality grouping. Emits one row per key per micro-batch
    * in which the key appeared.
    */
  def aliveKeyUpdates(stream: Dataset[KafkaRecord]): Dataset[KeyUpdate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .filter((r: KafkaRecord) => r.key != null)
      .groupByKey(r => java.util.Base64.getEncoder.encodeToString(r.key))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[KafkaRecord], state: GroupState[KeyState]) =>
          lastWriteWins(key, rows, state)
      }
  }

  /** [[aliveKeyUpdates]] with bounded state for unbounded key spaces:
    * a key whose last record's event time falls `ttl` behind the
    * watermark is evicted (the memory-safety knob the batch operator
    * doesn't need — and the reference's on-disk bitset lacks entirely,
    * `src/metric.rs:262-270`). Semantics of eviction match compacted-
    * topic retention: a key idle past the horizon is forgotten, so a
    * later (even lower-offset) record for it starts fresh state.
    *
    * CONTRACT — the price of bounded state: records later than
    * `watermarkDelay` behind the stream's max event time are dropped by
    * the watermark BEFORE the last-write-wins fold, so a late tombstone
    * past that horizon will NOT retract its key. That bound is inherent
    * to event-time TTL (state cannot be both evictable and open to
    * arbitrarily late input). In particular do NOT feed this variant a
    * topic whose producers omit timestamps — Kafka's -1 ms encoding
    * normalizes to epoch 0 ([[graft.sources.KafkaRecordSource
    * .normalizeTimestamp]]) and every such record is late once the
    * watermark moves. Use [[aliveKeyUpdates]] (unbounded state, exact
    * LWW) for those streams.
    *
    * That footgun fires SILENTLY (the stream runs, emits nothing), so
    * the plan carries a loud runtime guard: an `observe` node named
    * `alive_ttl_guard` counts keyed records whose timestamp is the
    * epoch-0 missing-timestamp encoding (`epoch0_keyed`) beside the
    * total (`keyed_records`). Read it from
    * `StreamingQueryProgress.observedMetrics` — any nonzero
    * `epoch0_keyed` means producers are omitting timestamps and this
    * variant is the wrong operator for the topic. An observe is the
    * strongest in-plan guard available: watermark drops happen inside
    * the stateful operator where user code cannot intercept them, and
    * aborting the query from a metric would turn a data-quality
    * signal into an outage.
    *
    * Spark requires observed-metric names to be UNIQUE within one
    * query: a plan composing this operator twice (two topics unioned,
    * say) must give each instance its own `guardName`, or analysis
    * fails loudly at start. (The same rule applies to
    * [[graft.operators.Similarity.semanticKeepCounted]]'s
    * `semantic_keep` node.)
    */
  def aliveKeyUpdatesWithTtl(stream: Dataset[KafkaRecord],
      ttl: java.time.Duration,
      watermarkDelay: String = "10 seconds",
      guardName: String = "alive_ttl_guard"): Dataset[KeyUpdate] = {
    require(!ttl.isNegative && !ttl.isZero,
      s"ttl must be positive, got $ttl (a zero timeout timestamp aborts " +
        "the streaming query inside the state function)")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .filter((r: KafkaRecord) => r.key != null)
      .observe(guardName,
        count(when(col("timestamp").isNull ||
            col("timestamp") === lit(new java.sql.Timestamp(0L)), 1))
          .as("epoch0_keyed"),
        count(lit(1)).as("keyed_records"))
      .withWatermark("timestamp", watermarkDelay)
      .groupByKey(r => java.util.Base64.getEncoder.encodeToString(r.key))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[KafkaRecord], state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var maxEventMs = Long.MinValue
            val out = lastWriteWins(key,
              rows.map { r =>
                if (r.timestamp != null)
                  maxEventMs = math.max(maxEventMs, r.timestamp.getTime)
                r
              }, state)
            // the timeout must sit strictly beyond the current watermark
            // (and stay positive: saturate instead of overflowing on
            // effectively-infinite TTLs)
            val base = math.max(state.getCurrentWatermarkMs(),
              if (maxEventMs == Long.MinValue) 0L else maxEventMs)
            val at = base + ttl.toMillis
            state.setTimeoutTimestamp(
              if (at <= base) Long.MaxValue else math.max(at, 1L))
            out
          }
      }
  }

  case class HotKeyEntry(key: String, count: Long, err: Long)
  case class HotKeyState(entries: List[HotKeyEntry], processed: Long)
  case class HotKeyUpdate(partition: Int, key_str: String, est_count: Long,
      max_err: Long, n_processed: Long)

  /** Space-Saving summary fold (Metwally et al., the bounded-state
    * heavy-hitters sketch): a present key increments; a new key takes a
    * free slot; at capacity the (count, key)-minimum entry is EVICTED
    * and the newcomer inherits `min+1` with error `min`. The classic
    * guarantees follow for N processed keyed records:
    *  - any key with true count > N/capacity is IN the summary;
    *  - true ≤ est ≤ true + err, and err ≤ N/capacity.
    * Eviction ties break on the key string, so the summary is a pure
    * function of the fold order. Pulled out of the state op for the
    * randomized-oracle spec (the [[mergeRuns]] discipline).
    */
  private[graft] def spaceSavingFold(entries: Map[String, (Long, Long)],
      keys: IterableOnce[String], capacity: Int): Map[String, (Long, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    m ++= entries
    keys.iterator.foreach { k =>
      m.get(k) match {
        case Some((c, e)) => m(k) = (c + 1, e)
        case None if m.size < capacity => m(k) = (1L, 0L)
        case None =>
          val (mk, (mc, _)) = m.minBy { case (k2, (c2, _)) => (c2, k2) }
          m.remove(mk)
          m(k) = (mc + 1, mc)
      }
    }
    m.toMap
  }

  /** Streaming twin of [[graft.operators.TopicMetrics.hotKeys]]: a
    * per-partition Space-Saving summary over the unbounded record
    * stream. The batch operator's exact `groupBy(key)` would keep
    * O(distinct keys) streaming state forever; this keeps EXACTLY
    * `capacity` entries per partition (the state bound is partitions ×
    * capacity × key size — a few KiB per partition, watermark-free)
    * while still guaranteeing every key hotter than 1/capacity of the
    * partition's traffic is reported, with its count bracketed by
    * [est − err, est].
    *
    * Each micro-batch folds the group's records in OFFSET order — the
    * partition log's total order — so the summary is replay-
    * deterministic regardless of task-internal arrival order, and
    * emits the full summary (update mode): the monitoring consumer
    * keeps only the latest row set per partition.
    *
    * Key identity is the UTF-8 DECODING of the key bytes — exactly
    * the batch twin's `groupBy(key.cast("string"))`, so the est/err
    * bracket holds per DECODED key string on both sides. Binary keys
    * that are not valid UTF-8 decode with replacement chars and may
    * merge (in the batch report too); a deployment with opaque binary
    * keys should extend both twins with a base64 identity, together.
    */
  def hotKeyMonitor(stream: Dataset[KafkaRecord],
      capacity: Int = 64): Dataset[HotKeyUpdate] = {
    // a zero/negative capacity would abort the QUERY at the first
    // keyed record (minBy on an empty summary inside the state
    // function) — fail at construction like the TTL variant does
    require(capacity > 0, s"hotKeyMonitor capacity must be positive, got $capacity")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .filter((r: KafkaRecord) => r.key != null)
      .groupByKey(_.partition)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (p: Int, rows: Iterator[KafkaRecord], state: GroupState[HotKeyState]) =>
          val prev = state.getOption.getOrElse(HotKeyState(Nil, 0L))
          val batch = rows.toArray.sortBy(_.offset)
          val folded = spaceSavingFold(
            prev.entries.map(e => e.key -> (e.count, e.err)).toMap,
            batch.iterator.map(r =>
              new String(r.key, java.nio.charset.StandardCharsets.UTF_8)),
            capacity)
          val processed = prev.processed + batch.length
          val ranked = folded.toList
            .map { case (k, (c, e)) => HotKeyEntry(k, c, e) }
            .sortBy(e => (-e.count, e.key))
          state.update(HotKeyState(ranked, processed))
          ranked.iterator.map(e =>
            HotKeyUpdate(p, e.key, e.count, e.err, processed))
      }
  }

  /** The shared LWW fold: newer = larger (partition, offset); a stale
    * replay can never overwrite newer state. */
  private def lastWriteWins(key: String, rows: Iterator[KafkaRecord],
      state: GroupState[KeyState]): Iterator[KeyUpdate] = {
    var cur = state.getOption
    rows.foreach { r =>
      val newer = cur.forall(s =>
        r.partition > s.partition ||
          (r.partition == s.partition && r.offset > s.offset))
      if (newer) cur = Some(KeyState(r.partition, r.offset, r.value != null))
    }
    cur.foreach(state.update)
    cur.map(s => KeyUpdate(key, s.alive)).iterator
  }
}
