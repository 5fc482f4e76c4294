package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch Kafka source — the Spark-native form of the reference's bounded
  * scan (`src/kafka.rs:60-72` watermark snapshot + `src/kafka.rs:74-137`
  * poll loop). Spark's Kafka batch source snapshots end offsets at
  * planning time and emits exactly one task per Kafka partition covering
  * `[earliest, latest)` — the reference's A2+A3 for free, parallelized.
  *
  * `extraOptions` pass through arbitrary `kafka.*` consumer settings,
  * mirroring the `--librdkafka` k=v list (`src/main.rs:84-92`).
  * Not exercised by the verification tiers (no broker in the test env);
  * the parquet mapping below feeds the same downstream operators.
  */
final class KafkaRecordSource(
    bootstrapServers: String,
    topic: String,
    extraOptions: Map[String, String] = Map.empty) {

  def records(spark: SparkSession): DataFrame = {
    val opts = KafkaRecordSource.batchOptions(bootstrapServers, topic, extraOptions)
    KafkaRecordSource.project(
      opts.foldLeft(spark.read.format("kafka")) {
        case (r, (k, v)) => r.option(k, v)
      }.load())
  }

  /** Streaming variant (north star: Structured Streaming). */
  def recordStream(spark: SparkSession): DataFrame = {
    val opts = KafkaRecordSource.streamOptions(bootstrapServers, topic, extraOptions)
    KafkaRecordSource.project(
      opts.foldLeft(spark.readStream.format("kafka")) {
        case (r, (k, v)) => r.option(k, v)
      }.load())
  }
}

object KafkaRecordSource {
  /** Reader options for the bounded batch scan (earliest → snapshot of
    * latest, like `src/kafka.rs:60-72`); user options come LAST so a
    * `--librdkafka`-style override wins, mirroring the reference's
    * pass-through config behavior (`src/main.rs:84-92`).
    */
  def batchOptions(bootstrapServers: String, topic: String,
      extra: Map[String, String]): Seq[(String, String)] =
    Seq(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest",
      "endingOffsets" -> "latest") ++ extra.toSeq

  def streamOptions(bootstrapServers: String, topic: String,
      extra: Map[String, String]): Seq[(String, String)] =
    Seq(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest") ++ extra.toSeq

  /** Records without a timestamp read as epoch 0, matching the
    * reference's unwrap_or(0) (`src/metric.rs:209`, SURVEY §2.B5).
    * Kafka encodes "no timestamp" as -1 MILLISECONDS (not NULL), which
    * Spark materializes as a pre-epoch instant — so anything before
    * epoch 0 (or NULL, defensively) maps to epoch 0.
    */
  def normalizeTimestamp(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(ts.isNull || unix_millis(ts) < 0, to_timestamp(lit(0)))
      .otherwise(ts).as("timestamp")

  /** The Kafka-source-frame → record-log projection, factored out so
    * the no-broker test tier can drive it with a synthetic frame in the
    * documented Kafka source schema (key/value binary, topic string,
    * partition int, offset long, timestamp, timestampType int).
    */
  def project(kafkaFrame: DataFrame): DataFrame =
    kafkaFrame.select(col("partition"), col("offset"),
      normalizeTimestamp(col("timestamp")),
      col("key"), col("value"))
}

/** Deterministic mapping of the driver's `events` parquet table onto the
  * record-log shape (FIXTURES.md §1-2): `user_id % NumPartitions` →
  * partition, per-partition ordinal → offset, `user_id % 19 == 0` →
  * null key, `event_id % 13 == 0` → tombstone. The same mapping is
  * expressed in ANSI SQL by [[EventsAsRecords.oracleCte]] so every
  * downstream operator is DuckDB-oracle-checkable.
  *
  * The `row_number` window exists only because parquet rows have no
  * native offset; the real source (Kafka) provides offsets without any
  * shuffle. Do not cargo-cult this window into a 100 TB path.
  *
  * What rides the window's exchange and sort is the partition, the
  * `event_id` order key, and whatever a query reads above the window:
  * `key` and `value` cross it only when read bare (the alive-key pass
  * groups by `key`). A query reading only their lengths and null flags,
  * as the stats pass does, gets one length per column computed below
  * the window by [[graft.GraftExtensions.NarrowWindowInputs]], so the
  * bytes never cross it.
  */
object EventsAsRecords {
  val NumPartitions = 8

  /** The raw events table with `ts` as a proper micros TimestampType.
    * The driver's events.parquet has stored ts as TIMESTAMP(NANOS)
    * and as TIMESTAMP_NTZ micros, depending on its writer version — so
    * every reader must come through here. A NANOS-encoded file reads
    * (as a raw long) only on a session carrying
    * [[graft.GraftSession.NanosAsLong]], which every GraftSession does;
    * this reader never touches the session's conf, so any other
    * session gets Spark's own `Illegal Parquet type` error for such a
    * file.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(Tables.read(spark, sfDir, "events"))

  /** Normalize `ts` to TimestampType whatever the parquet encoding
    * yielded: raw long nanos (the nanosAsLong fallback), TIMESTAMP_NTZ
    * (the cast is value-preserving because Verify/Bench/specs pin the
    * session time zone to UTC), or already TimestampType. Works on
    * batch and streaming frames alike — column ops only.
    */
  def normalizeTs(ev: DataFrame): DataFrame = normalizeTs(ev, "ts")

  /** [[normalizeTs]] for an arbitrary event-time column — the entry
    * guard for every operator that accepts a USER-supplied frame
    * (streaming sessionization, attribution joins) rather than one
    * produced by [[readEvents]]. Without it, an NTZ-encoded input
    * detonates at `unix_micros` deep inside the operator's plan.
    */
  def normalizeTs(ev: DataFrame, colName: String): DataFrame =
    ev.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: double division loses microseconds at
        // 2^60-magnitude nano timestamps (53-bit mantissa)
        ev.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        ev.withColumn(colName, col(colName).cast("timestamp"))
      case _ => ev
    }

  def records(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEvents(spark, sfDir)
    val part = (col("user_id") % NumPartitions).cast("int")
    val w = Window.partitionBy(part).orderBy(col("event_id"))
    ev.select(
      part.as("partition"),
      (row_number().over(w) - 1).cast("long").as("offset"),
      col("ts").as("timestamp"),
      when(col("user_id") % 19 === 0, lit(null))
        .otherwise(col("user_id").cast("string").cast("binary")).as("key"),
      when(col("event_id") % 13 === 0, lit(null))
        .otherwise(col("props").cast("binary")).as("value"))
  }

  /** The identical mapping as a DuckDB CTE named `records` over the
    * driver-registered `events` view. Key/value stay VARCHAR in the
    * oracle (pure-ASCII, so octet lengths agree with the engine's
    * BinaryType lengths).
    */
  val oracleCte: String =
    """WITH records AS (
      |  SELECT CAST(user_id % 8 AS INTEGER) AS "partition",
      |         ROW_NUMBER() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS "offset",
      |         ts AS "timestamp",
      |         CASE WHEN user_id % 19 = 0 THEN NULL ELSE CAST(user_id AS VARCHAR) END AS "key",
      |         CASE WHEN event_id % 13 = 0 THEN NULL ELSE props END AS "value"
      |  FROM events)""".stripMargin
}
