package graft.model

import org.apache.spark.sql.types._

/** The engine's native record shape — an append-only partitioned record
  * log (reference: `src/metric.rs:206-253`, SURVEY §1.2). Key and value
  * are opaque byte arrays; null value marks a tombstone
  * (`src/metric.rs:233-245`), null key is legal (`src/metric.rs:227-231`).
  */
case class KafkaRecord(
    partition: Int,
    offset: Long,
    timestamp: java.sql.Timestamp,
    key: Array[Byte],
    value: Array[Byte])

object RecordSchema {
  /** StructType mirror of the record model — a strict subset of Spark's
    * Kafka source schema, so a `spark.read.format("kafka")` frame can be
    * `select`-ed straight into it.
    */
  val schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true)))
}

/** Per-partition stats row — the engine's equivalent of the reference's
  * `PartitionedCounterBucket` family (`src/metric.rs:8-19`) plus the
  * derived report columns (`src/main.rs:150-172`).
  */
case class PartitionStats(
    partition: Int,
    start_offset: Long,
    end_offset: Long,
    total: Long,
    alive: Long,
    tombstones: Long,
    dirty_ratio: Double,
    key_null: Long,
    key_non_null: Long,
    p_bytes: Long,
    key_bytes: Long,
    value_bytes: Long,
    avg_key_size: Long,
    avg_value_size: Long,
    avg_msg_size: Long)

/** Whole-topic summary — the reference's global scalars
  * (`src/metric.rs:20-25`, rendered `src/main.rs:125-148`). Timestamps
  * kept at microsecond precision (the reference truncates to seconds,
  * `src/metric.rs:210` — a lossy quirk we do not replicate in the engine).
  */
case class TopicSummary(
    overall_count: Long,
    overall_bytes: Long,
    smallest_msg: Long,
    largest_msg: Long,
    earliest_us: Long,
    latest_us: Long)
