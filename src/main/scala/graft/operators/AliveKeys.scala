package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.LastWrite

/** Alive-key counting (the reference's `-c` flag, SURVEY §2.F): the
  * number of keys whose LAST write (by partition, offset order) is not a
  * tombstone — i.e. the keys a log-compacted topic would retain.
  *
  * The reference's formulation (`src/metric.rs:262-305`) is an in-memory
  * bitset over a 32-bit hash, mutated in arrival order: approximate
  * (hash collisions merge keys, a colliding tombstone erases an innocent
  * key) and cross-partition-nondeterministic. The Spark-native
  * formulation below is EXACT and deterministic: reduce per key with
  * [[LastWrite]] — the `value IS NULL` flag of the record with the
  * largest (partition, offset) — then count the keys whose last value
  * is non-null.
  *
  * Scale: one shuffle hash-partitioned by key. `value IS NULL` is
  * projected next to the scan, so the value bytes never reach the
  * aggregate or the shuffle. [[LastWrite]]'s buffer is a fixed-width
  * (INT, LONG, BOOLEAN) triple, so each reduction plans as a
  * code-generated `HashAggregate` that partial-aggregates map-side and
  * sorts nothing, and no single node ever materializes the key set —
  * the distributed replacement for the reference's single-host 512 MiB
  * bitset bound (`src/fnv32.rs:74-82`). Null-key records are excluded
  * up front (`src/metric.rs:290-303`), so the filter prunes before the
  * shuffle.
  */
object AliveKeys {

  /** Per-group last-write state over the keyed records: the grouping
    * column `group` as `name`, and `dead_at_end`. */
  private def lastWriteBy(records: DataFrame, group: Column,
      name: String): DataFrame =
    records
      .filter(col("key").isNotNull)
      .select(group.as(name), col("partition"), col("offset"),
        col("value").isNull.as("tomb"))
      .groupBy(col(name))
      .agg(LastWrite.dead(col("partition"), col("offset"), col("tomb"))
        .as("dead_at_end"))

  /** Per-key last-write state: key, deadAtEnd flag. */
  def lastWritePerKey(records: DataFrame): DataFrame =
    lastWriteBy(records, col("key"), "key")

  /** Exact alive-key count, as a 1-row/1-column frame. */
  def exactFrame(records: DataFrame): DataFrame =
    lastWritePerKey(records)
      .agg(count_if(!col("dead_at_end")).as("alive_keys"))

  def exact(records: DataFrame): Long =
    exactFrame(records).collect()(0).getLong(0)

  /** Approximate variant for memory-bounded scans at extreme key
    * cardinality: identical last-write-wins reduction, but over a 64-bit
    * `xxhash64(key)` instead of the raw key bytes — the idiomatic
    * stand-in for the reference's 32-bit FNV-variant bitset index
    * (`src/fnv32.rs:74-102`; SURVEY §2.F1 says do NOT replicate that
    * hash bit-for-bit). Collision rate at 64 bits is ~n²/2⁶⁵ —
    * negligible up to billions of keys — while the shuffle rows shrink
    * from arbitrary key bytes to 8 bytes.
    */
  def approxFrame(records: DataFrame): DataFrame =
    lastWriteBy(records, xxhash64(col("key")), "hash")
      .agg(count_if(!col("dead_at_end")).as("alive_keys_approx"))

  def approx(records: DataFrame): Long =
    approxFrame(records).collect()(0).getLong(0)

  /** Per-partition post-compaction footprint estimate — the natural
    * "what would compaction buy me" companion to the dirty ratio
    * (`src/metric.rs:305-311` stops at the ratio; this prices it in
    * bytes). Kafka compaction operates PER PARTITION LOG, so the
    * last-write reduction groups by (partition, key) — the same key on
    * two partitions survives on both, exactly like a broker. Modeled
    * at the post-tombstone-purge steady state: a partition retains the
    * last record of each key whose last value is non-null (tombstones
    * themselves are eventually purged after delete.retention); null-key
    * records are invalid on compacted topics and count only toward the
    * pre-compaction totals.
    *
    * Scale: one (partition, key) shuffle whose `max_by` buffer carries
    * the value bytes — a BINARY buffer, so this one plans as a
    * sort-based aggregate — re-reduced per partition; totals re-use the partition
    * grouping. Output is O(#partitions) rows of exact BIGINTs.
    */
  def compactionEstimate(records: DataFrame): DataFrame = {
    val totals = records.groupBy(col("partition")).agg(
      count(lit(1)).as("n_records"),
      (coalesce(sum(length(col("key"))), lit(0L)) +
        coalesce(sum(length(col("value"))), lit(0L))).as("total_bytes"))
    val retained = records.filter(col("key").isNotNull)
      .groupBy(col("partition"), col("key"))
      .agg(max_by(col("value"), col("offset")).as("last_value"))
      .filter(col("last_value").isNotNull)
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("alive_keys"),
        sum(length(col("key")) + length(col("last_value")))
          .as("retained_bytes"))
    totals.join(retained, Seq("partition"), "left")
      .select(col("partition"), col("n_records"), col("total_bytes"),
        coalesce(col("alive_keys"), lit(0L)).as("alive_keys"),
        coalesce(col("retained_bytes"), lit(0L)).as("retained_bytes"))
      .orderBy(col("partition"))
  }

  /** Reference-fidelity approximate count: buckets keys by the
    * reference's own 32-bit FNV-variant hash (`src/fnv32.rs`), applies
    * last-write-wins PER BUCKET — reproducing the reference's bitset
    * semantics exactly (hash collisions merge keys; a colliding
    * tombstone erases the bucket), but deterministically ordered by
    * (partition, offset) instead of arrival order (SURVEY §7.4).
    */
  def approxFnv32Frame(records: DataFrame): DataFrame =
    lastWriteBy(records, graft.functions.Fnv32.fnv32(col("key")), "bucket")
      .agg(count_if(!col("dead_at_end")).as("alive_keys_fnv32"))
}
