package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.EventsAsRecords

/** Regression pins for the events-source timestamp contract. The
  * driver's `events.parquet` has shipped `ts` as TIMESTAMP(NANOS)
  * (read as raw long under nanosAsLong), and later as TIMESTAMP_NTZ
  * micros — an encoding flip that once broke every `unix_micros`
  * consumer at analysis time. These tests pin: (a) `normalizeTs`
  * yields TimestampType with identical instants for ALL three
  * encodings, (b) the real fixture, whatever the current driver
  * wrote, comes out of `readEvents` as TimestampType, and (c) reading
  * it sets nothing on the session's conf.
  */
class EventsSourceSpec extends SparkSuite {

  import scala.jdk.CollectionConverters._

  // 2024-03-05T06:07:08.123456 UTC, in micros
  private val micros = 1709618828123456L

  private def tsTypeOf(df: org.apache.spark.sql.DataFrame): DataType =
    df.schema("ts").dataType

  test("normalizeTs: long nanos -> TimestampType, exact micros") {
    val df = spark.createDataFrame(
      Seq(Row(micros * 1000L)).asJava,
      StructType(Seq(StructField("ts", LongType))))
    val out = EventsAsRecords.normalizeTs(df)
    assert(tsTypeOf(out) == TimestampType)
    assert(rowsOf(out.select(unix_micros(col("ts")).as("us")))
      .head("us") == micros)
  }

  test("normalizeTs: TIMESTAMP_NTZ -> TimestampType, value-preserving under UTC") {
    val ldt = java.time.LocalDateTime
      .ofEpochSecond(micros / 1000000L, (micros % 1000000L).toInt * 1000,
        java.time.ZoneOffset.UTC)
    val df = spark.createDataFrame(
      Seq(Row(ldt)).asJava,
      StructType(Seq(StructField("ts", TimestampNTZType))))
    val out = EventsAsRecords.normalizeTs(df)
    assert(tsTypeOf(out) == TimestampType)
    assert(rowsOf(out.select(unix_micros(col("ts")).as("us")))
      .head("us") == micros)
  }

  test("normalizeTs: TimestampType passes through untouched") {
    val df = spark.createDataFrame(
      Seq(Row(java.time.Instant.ofEpochSecond(
        micros / 1000000L, (micros % 1000000L) * 1000L))).asJava,
      StructType(Seq(StructField("ts", TimestampType))))
    val out = EventsAsRecords.normalizeTs(df)
    assert(out eq df) // no-op branch, not a rewritten plan
    assert(rowsOf(out.select(unix_micros(col("ts")).as("us")))
      .head("us") == micros)
  }

  test("readEvents on the real fixture yields TimestampType (env guard)") {
    val ev = EventsAsRecords.readEvents(spark, "/root/testdata/sf0.001")
    assert(tsTypeOf(ev) == TimestampType,
      s"driver fixture ts decoded as ${tsTypeOf(ev)}; extend " +
        "EventsAsRecords.normalizeTs for the new encoding")
    // unix_micros must analyze — this is the exact call the analytics
    // operators make and the one a TIMESTAMP_NTZ leak breaks
    assert(rowsOf(ev.select(max(unix_micros(col("ts"))).as("m")))
      .head("m").asInstanceOf[Long] > 0L)
  }

  test("records reads the fixture without touching the session's conf") {
    // a private session without the legacy-nanos key, the one every
    // GraftSession carries: the fixture's micros `ts` needs no legacy
    // read, and the reader must leave the conf exactly as it found it
    val s = spark.newSession()
    s.conf.unset(GraftSession.NanosAsLong)
    val before = s.conf.getAll
    val rec = EventsAsRecords.records(s, "/root/testdata/sf0.001")
    assert(rec.schema("timestamp").dataType == TimestampType)
    assert(s.conf.getAll == before)
  }

  test("user-frame operators accept TIMESTAMP_NTZ input (entry guard)") {
    // sessionWindows / attribution consume USER-supplied frames, not
    // readEvents output — they must normalize at entry or an NTZ `ts`
    // detonates at unix_micros during analysis (batch mode exercises
    // the identical plan; withWatermark is a no-op here)
    val ldt = java.time.LocalDateTime
      .ofEpochSecond(micros / 1000000L, (micros % 1000000L).toInt * 1000,
        java.time.ZoneOffset.UTC)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampNTZType), StructField("value", DoubleType)))
    val click = spark.createDataFrame(
      Seq(Row(1L, 7L, ldt, 1.0)).asJava, schema)
    val buy = spark.createDataFrame(
      Seq(Row(2L, 7L, ldt.plusMinutes(5), 9.5)).asJava, schema)

    val sess = rowsOf(graft.streaming.StreamingSessions.sessionWindows(click))
    assert(sess.head("session_start_us") == micros)

    val att = rowsOf(graft.streaming.StreamingJoins.attribution(click, buy))
    assert(att.head("click_ts_us") == micros)
    assert(att.head("purchase_ts_us") == micros + 5L * 60L * 1000000L)
  }
}
