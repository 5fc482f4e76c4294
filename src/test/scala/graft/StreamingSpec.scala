package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.KafkaRecord
import graft.streaming.StreamingTopicMetrics

class StreamingSpec extends SparkSuite {

  test("mergeRuns: random interleavings equal the set-derived run decomposition") {
    import graft.streaming.StreamingTopicMetrics.{mergeRuns, GapRun}
    val rnd = new scala.util.Random(421)
    for (_ <- 0 until 200) {
      // random offset universe arriving in random micro-batch splits
      // (with duplicates across batches) must fold to the same run set
      // as decomposing the final SET of offsets
      val universe = Iterator.continually(rnd.nextInt(60).toLong)
        .take(1 + rnd.nextInt(40)).toSeq
      val batches = universe.grouped(1 + rnd.nextInt(7)).toSeq
      val folded = batches.foldLeft(List.empty[GapRun]) { (runs, b) =>
        mergeRuns(runs, b.sorted.toArray)
      }
      val expected = universe.toSet.toSeq.sorted
        .foldLeft(List.empty[(Long, Long)]) {
          case ((lo, hi) :: tail, o) if o == hi + 1 => (lo, o) :: tail
          case (acc, o)                             => (o, o) :: acc
        }.reverse.map { case (lo, hi) => GapRun(lo, hi) }
      assert(folded == expected, s"batches=$batches")
    }
  }

  test("spaceSavingFold: Space-Saving guarantees hold on random key streams") {
    import graft.streaming.StreamingTopicMetrics.spaceSavingFold
    val rnd = new scala.util.Random(1187)
    for (_ <- 0 until 60) {
      val cap = 4 + rnd.nextInt(12)
      val n = 50 + rnd.nextInt(400)
      // cubed uniform draw ~ skewed key popularity (small ids dominate)
      val keys = Seq.fill(n)(
        s"k${(math.pow(rnd.nextDouble(), 3) * 40).toInt}")
      // fold across random micro-batch splits to exercise resumption
      val cut1 = rnd.nextInt(n + 1)
      val cut2 = cut1 + rnd.nextInt(n - cut1 + 1)
      val sum = spaceSavingFold(
        spaceSavingFold(
          spaceSavingFold(Map.empty, keys.slice(0, cut1), cap),
          keys.slice(cut1, cut2), cap),
        keys.slice(cut2, n), cap)
      val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(sum.size <= cap)
      // count-sum conservation: every processed key adds exactly 1
      assert(sum.values.map(_._1).sum == n.toLong)
      sum.foreach { case (k, (est, err)) =>
        val t = exact.getOrElse(k, 0L)
        assert(t <= est && est <= t + err && err <= n.toLong / cap,
          s"bracket violated: key=$k t=$t est=$est err=$err n=$n cap=$cap")
      }
      exact.foreach { case (k, t) =>
        assert(t <= n.toLong / cap || sum.contains(k),
          s"hot key evicted: $k count=$t n=$n cap=$cap")
      }
    }
  }

  test("streaming hot-key monitor brackets exact counts with bounded state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaRecord]
    // a non-positive capacity must fail HERE, at construction — inside
    // the state function it would abort the whole query at the first
    // keyed record (empty.minBy)
    intercept[IllegalArgumentException](
      StreamingTopicMetrics.hotKeyMonitor(mem.toDS(), capacity = 0))
    val q = StreamingTopicMetrics.hotKeyMonitor(mem.toDS(), capacity = 3)
      .writeStream.format("memory").queryName("hotkeys")
      .outputMode("update").start()
    // 5 distinct keys through 3 slots; "hot" dominates; null key dropped
    mem.addData(rec(0, 0, "hot", "x"), rec(0, 1, "hot", "x"),
      rec(0, 2, "b", "x"), rec(0, 3, null, "x"))
    q.processAllAvailable()
    mem.addData(rec(0, 4, "hot", null), rec(0, 5, "c", "x"),
      rec(0, 6, "d", "x"), rec(0, 7, "hot", "x"), rec(1, 0, "p1", "y"))
    q.processAllAvailable()
    q.stop()
    // latest partition-0 summary: the batch that brought n_processed to 7
    val rows = rowsOf(spark.table("hotkeys")
      .filter(col("partition") === 0 && col("n_processed") === 7))
    assert(rows.nonEmpty && rows.size <= 3, s"state bound violated: $rows")
    // the dominant key survived eviction pressure and ranks first
    val top = rows.maxBy(_("est_count").asInstanceOf[Long])
    assert(top("key_str") == "hot")
    // exact count 4 is bracketed by [est - err, est]
    val est = top("est_count").asInstanceOf[Long]
    val err = top("max_err").asInstanceOf[Long]
    assert(est >= 4L && est - err <= 4L, s"bracket: est=$est err=$err")
    // other partitions keep independent summaries
    val p1 = rowsOf(spark.table("hotkeys").filter(col("partition") === 1))
    assert(p1.map(_("key_str")) == Seq("p1"))
  }

  private def rec(p: Int, o: Long, k: String, v: String): KafkaRecord =
    KafkaRecord(p, o, ts(1000L * (o + 1)), b(k), b(v))

  test("streaming partition stats equal batch stats on same data") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaRecord]
    val q = StreamingTopicMetrics.partitionStats(mem.toDF())
      .writeStream.format("memory").queryName("pstats")
      .outputMode("complete").start()
    mem.addData(rec(0, 0, "a", "x"), rec(0, 1, "a", null), rec(1, 0, null, "y"))
    q.processAllAvailable()
    mem.addData(rec(1, 1, "b", "zz"))
    q.processAllAvailable()
    q.stop()
    val streamed = rowsOf(spark.table("pstats").orderBy("partition"))
    val batch = rowsOf(StreamingTopicMetrics.partitionStats(records(
      (0, 0L, 1000L, "a", "x"), (0, 1L, 2000L, "a", null),
      (1, 0L, 1000L, null, "y"), (1, 1L, 2000L, "b", "zz")))
      .orderBy("partition"))
    assert(streamed == batch)
  }

  test("event-time windows run as a streaming query over the parquet fixture") {
    // the file stream source wants a directory; link the fixture in
    val dir = java.nio.file.Files.createTempDirectory("ev_stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"))
    val schema = spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    val stream = graft.sources.EventsAsRecords.normalizeTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = graft.operators.EventAnalytics.dailyWindows(stream)
      .writeStream.format("memory").queryName("ev_windows")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = rowsOf(spark.table("ev_windows"))
    val batch = rowsOf(graft.operators.EventAnalytics.dailyWindows(
      graft.sources.EventsAsRecords.readEvents(spark, "/root/testdata/sf0.001")))
    assert(streamed.toSet == batch.toSet && streamed.nonEmpty)
  }

  test("chunk projection runs unchanged as a streaming transform") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    // stateless narrow projection: append mode, no watermark, no state
    val q = graft.operators.CorpusOps.chunkProjection(docs, 3, 2)
      .writeStream.format("memory").queryName("schunks")
      .outputMode("append").start()
    mem.addData((0L, "a b c d e"), (1L, "x y"))
    q.processAllAvailable()
    mem.addData((2L, "a b c d e f g"))
    q.processAllAvailable()
    q.stop()
    val streamed = rowsOf(spark.table("schunks")).toSet
    val batch = rowsOf(graft.operators.CorpusOps.docChunks(
      Seq((0L, "a b c d e"), (1L, "x y"), (2L, "a b c d e f g"))
        .toDF("doc_id", "text"), 3, 2)).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming exact dedup keeps the first-seen doc per fingerprint") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamingDedup.deduped(docs)
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    // duplicates arrive in LATER micro-batches: cross-batch dedup is
    // exactly what the state guarantees (within one batch, which of
    // two equal-fingerprint rows survives is partition-order-defined)
    mem.addData((1L, "Hello   World"), (3L, "unique one"))
    q.processAllAvailable()
    mem.addData((4L, "HELLO WORLD"), (2L, "hello world"), (5L, "another text"))
    q.processAllAvailable()
    q.stop()
    val kept = rowsOf(spark.table("sdedup").orderBy("doc_id"))
      .map(_("doc_id")).toSet
    assert(kept == Set(1L, 3L, 5L))
    // matches the batch operator's canonical set (the first-seen docs
    // here also carry the smallest doc_ids)
    val batch = rowsOf(graft.operators.Dedup.exact(
      Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "unique one"),
        (4L, "HELLO WORLD"), (5L, "another text")).toDF("doc_id", "text")))
      .map(_("canonical_doc_id")).toSet
    assert(kept == batch)
  }

  test("streaming dedup passes null-fingerprint docs through undeduped") {
    // a null fingerprint asserts nothing about equal content — the
    // batch rule (Dedup.exact excludes null-text docs from its
    // groupBy); dropDuplicates treats null as one more value, so the
    // naive plan would collapse every missing-text doc ever ingested
    // into the FIRST one seen. Three distinct null-text docs across
    // two batches must ALL survive, while real duplicates still dedup.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamingDedup.deduped(docs)
      .writeStream.format("memory").queryName("sdedup_null")
      .outputMode("append").start()
    mem.addData((1L, null), (2L, "real text"))
    q.processAllAvailable()
    mem.addData((3L, null), (4L, "REAL   TEXT"), (5L, null))
    q.processAllAvailable()
    q.stop()
    val kept = rowsOf(spark.table("sdedup_null")).map(_("doc_id")).toSet
    assert(kept == Set(1L, 2L, 3L, 5L),
      s"null-text docs were deduped against each other: $kept")
  }

  test("watermark-bounded dedup passes null-fingerprint docs through too") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "event_ts", "text")
    val q = graft.streaming.StreamingDedup
      .dedupedWithinWatermark(docs, "event_ts", "10 minutes")
      .writeStream.format("memory").queryName("sdedup_wm_null")
      .outputMode("append").start()
    val base = 1700000000000L
    val min = 60L * 1000
    mem.addData((1L, ts(base + 0 * min), null: String),
      (2L, ts(base + 0 * min), "same text"))
    q.processAllAvailable()
    mem.addData((3L, ts(base + 1 * min), null: String),
      (4L, ts(base + 1 * min), "same  text"))
    q.processAllAvailable()
    q.stop()
    val kept = rowsOf(spark.table("sdedup_wm_null")).map(_("doc_id")).toSet
    assert(kept == Set(1L, 2L, 3L),
      s"expected null-text passthrough + in-horizon dedup, got $kept")
  }

  test("stream-stream attribution join matches batch and honors the horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val min = 60L * 1000
    // event times sit on a realistic base: the INITIAL watermark is
    // epoch 0, and the watermark operator drops rows at-or-before it —
    // epoch-adjacent fixtures silently vanish as "late" (debugged here,
    // worth keeping: real clocks never start at 1970)
    val base = 1700000000000L
    def frame(mem: MemoryStream[(Long, Long, Long)]) =
      mem.toDF().toDF("event_id", "ts_ms", "user_id")
        .select(col("event_id"), timestamp_millis(col("ts_ms")).as("ts"),
          col("user_id"), lit(1.0).as("value"))
    val clicks = MemoryStream[(Long, Long, Long)]
    val purchases = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.StreamingJoins.attribution(
        frame(clicks), frame(purchases), horizonMinutes = 30)
      .writeStream.format("memory").queryName("sattr")
      .outputMode("append").start()
    // click at t=0 (user 1), t=0 (user 2); purchases: in-horizon for
    // user 1, BEFORE the click for user 2 (no match), beyond horizon
    // for user 1 (no match)
    clicks.addData((10L, base, 1L), (11L, base, 2L))
    purchases.addData((20L, base + 5 * min, 1L), // match
      (21L, base + 5 * min, 3L),                 // other user: no match
      (22L, base - min, 2L),                     // before the click: no match
      (23L, base + 31 * min, 1L))                // past the horizon: no match
    q.processAllAvailable()
    q.stop()
    val got = rowsOf(spark.table("sattr"))
      .map(m => (m("click_id"), m("purchase_id"))).toSet
    assert(got == Set((10L, 20L)))
    // parity: the same function over batch frames (watermark = no-op)
    def batchFrame(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("event_id", "ts_ms", "user_id")
        .select(col("event_id"), timestamp_millis(col("ts_ms")).as("ts"),
          col("user_id"), lit(1.0).as("value"))
    val batch = rowsOf(graft.streaming.StreamingJoins.attribution(
        batchFrame(Seq((10L, base, 1L), (11L, base, 2L))),
        batchFrame(Seq((20L, base + 5 * min, 1L), (21L, base + 5 * min, 3L),
          (22L, base - min, 2L), (23L, base + 31 * min, 1L)))))
      .map(m => (m("click_id"), m("purchase_id"))).toSet
    assert(batch == got)
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("event_id", "user_id")
    val q = graft.streaming.StreamingJoins.enriched(stream, dim)
      .writeStream.format("memory").queryName("senrich")
      .outputMode("append").start()
    mem.addData((10L, 1L), (11L, 3L))   // 3 has no profile -> left outer null
    q.processAllAvailable()
    mem.addData((12L, 2L))
    q.processAllAvailable()
    q.stop()
    val got = rowsOf(spark.table("senrich"))
      .map(m => (m("event_id"), m("tier"))).toSet
    assert(got == Set((10L, "gold"), (11L, null), (12L, "basic")))
  }

  test("streaming curation gates and scrubs identically to the batch expressions") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and then the " +
        "other animals follow it into the field because they are curious " +
        "about what is there and mail me at a@b.co for more details soon"),
      (2L, "der hund und die katze und der vogel und das pferd gehen in " +
        "den wald weil sie dort etwas suchen und finden wollen heute"),
      (3L, "x")) // too short to pass the quality gate
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingCuration.curated(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("scur")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = rowsOf(spark.table("scur").orderBy("doc_id"))
    // stateless projections: batch over the same rows must agree row-for-row
    val batch = rowsOf(graft.streaming.StreamingCuration.curated(
      rows.toDF("doc_id", "text")).orderBy("doc_id"))
    assert(streamed == batch)
    assert(streamed.map(_("doc_id")) == Seq(1L)) // en gate drops 2, quality drops 3
    val kept = streamed.head
    assert(kept("text").asInstanceOf[String].contains("<email>"))
    assert(Set("train", "val", "test").contains(kept("split").asInstanceOf[String]))
    // the fingerprint must cover the EMITTED (redacted) text — a
    // pre-redaction fingerprint beside redacted text mismatches every
    // downstream recomputation (dedup indexes fingerprint the stored
    // text), and two docs redacting to identical text would not
    // collapse (round-15 review finding)
    val expectedFp = rowsOf(
      Seq(kept("text").asInstanceOf[String]).toDF("text").select(
        graft.functions.TextFunctions.fingerprintMd5(col("text"))
          .as("fp"))).head("fp")
    assert(kept("fingerprint") == expectedFp,
      "curated fingerprint is not the fingerprint of the emitted text")
  }

  test("streaming mixture gate admits exactly the batch sampler's draw") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch corpus → rate table; the stream replays the same docs plus
    // one from an UNKNOWN source (absent from the rates: must pass)
    def doc(id: Long, n: Int, src: String) =
      (id, Seq.fill(n)("w").mkString(" "), src)
    val corpusRows = Seq(doc(0L, 60, "big"), doc(1L, 40, "big"),
      doc(2L, 25, "mid")) ++ (3L to 6L).map(i => doc(i, 1, "small"))
    val corpus = corpusRows.toDF("doc_id", "text", "source")
    val rates = graft.operators.CorpusOps.mixtureRates(corpus)
    val streamRows = corpusRows :+ doc(99L, 7, "brand_new")
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingCuration.mixtureGate(
        mem.toDF().toDF("doc_id", "text", "source"), rates)
      .writeStream.format("memory").queryName("mixgate")
      .outputMode("append").start()
    mem.addData(streamRows: _*)
    q.processAllAvailable()
    q.stop()
    val admitted = rowsOf(spark.table("mixgate"))
      .map(_("doc_id").asInstanceOf[Long]).toSet
    // unknown source passes at rate 1
    assert(admitted.contains(99L))
    // known sources: exactly the batch sampler's deterministic draw
    val batchKept = rowsOf(graft.operators.CorpusOps.mixtureSample(corpus))
      .map(_("doc_id").asInstanceOf[Long]).toSet
    assert(admitted - 99L == batchKept)
  }

  test("watermark-bounded streaming dedup suppresses dupes within the horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "event_ts", "text")
    val q = graft.streaming.StreamingDedup
      .dedupedWithinWatermark(docs, "event_ts", "10 minutes")
      .writeStream.format("memory").queryName("sdedup_wm")
      .outputMode("append").start()
    // base the event times well above the epoch: rows at/below the
    // initial watermark (epoch 0) are dropped as late arrivals
    val base = 1700000000000L
    val min = 60L * 1000
    mem.addData((1L, ts(base + 0 * min), "same text"))
    q.processAllAvailable()
    // in-horizon duplicate in a LATER batch: suppressed by state
    mem.addData((2L, ts(base + 1 * min), "same  text"))
    q.processAllAvailable()
    q.stop()
    val kept = rowsOf(spark.table("sdedup_wm")).map(_("doc_id")).toSet
    assert(kept == Set(1L))
  }

  test("alive-key TTL evicts idle state past the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaRecord]
    val q = StreamingTopicMetrics.aliveKeyUpdatesWithTtl(
        mem.toDS(), java.time.Duration.ofSeconds(5), "0 seconds")
      .writeStream.format("memory").queryName("alive_ttl")
      .outputMode("update").start()
    val keyA = java.util.Base64.getEncoder.encodeToString(b("a"))
    // batch 1: key a dies at offset 1 (t=2s); LWW state pins (0,1,dead)
    mem.addData(rec(0, 0, "a", "v1"), rec(0, 1, "a", null))
    q.processAllAvailable()
    // batch 2: unrelated key at t=100s advances the watermark far past
    // a's timeout (2s + 5s TTL); batch 3 fires the timeout → eviction
    mem.addData(rec(1, 98, "b", "x"))
    q.processAllAvailable()
    mem.addData(rec(1, 99, "b", "y"))
    q.processAllAvailable()
    // after eviction, a STALE lower-offset record for a starts fresh
    // state (retention semantics); with NoTimeout it could never win
    mem.addData(KafkaRecord(0, 0, ts(101000L), b("a"), b("resurrect")))
    q.processAllAvailable()
    q.stop()
    val aRows = rowsOf(spark.table("alive_ttl").filter(col("key") === keyA))
    assert(aRows.head("alive") == false) // batch 1 emitted the death
    assert(aRows.last("alive") == true,  // post-eviction fresh state
      s"expected eviction then fresh alive state, got: $aRows")
  }

  test("TTL footgun guard: timestamp-less records fire alive_ttl_guard, not silence") {
    // the documented footgun: producers omitting timestamps normalize
    // to epoch 0, and once any timestamped record moves the watermark,
    // every such record is late — the stream keeps running and emits
    // NOTHING for those keys. The observe guard must count them so an
    // operator watching progress sees the misconfiguration.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaRecord]
    val q = StreamingTopicMetrics.aliveKeyUpdatesWithTtl(
        mem.toDS(), java.time.Duration.ofSeconds(5), "0 seconds")
      .writeStream.format("memory").queryName("alive_ttl_guarded")
      .outputMode("update").start()
    // two timestamp-less keys before the watermark moves, one after
    mem.addData(KafkaRecord(0, 0, ts(0L), b("a"), b("v")),
      KafkaRecord(0, 1, ts(0L), b("gb"), b("v")))
    q.processAllAvailable()
    mem.addData(KafkaRecord(0, 2, ts(100000L), b("c"), b("v")))
    q.processAllAvailable()
    mem.addData(KafkaRecord(0, 3, ts(0L), b("gd"), b("v")))
    q.processAllAvailable()
    val flagged = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("alive_ttl_guard")))
      .map(_.getAs[Long]("epoch0_keyed")).sum
    q.stop()
    // the late epoch-0 record emitted nothing — the silent failure mode
    val keyD = java.util.Base64.getEncoder.encodeToString(b("gd"))
    assert(rowsOf(spark.table("alive_ttl_guarded")
        .filter(col("key") === keyD)).isEmpty,
      "a watermark-late epoch-0 record should have been dropped")
    // ...but the guard counted every timestamp-less keyed record
    assert(flagged == 3L,
      s"alive_ttl_guard should count all 3 epoch-0 keyed records, got $flagged")
  }

  test("streaming alive-key state handles retraction across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaRecord]
    val q = StreamingTopicMetrics.aliveKeyUpdates(mem.toDS())
      .writeStream.format("memory").queryName("alive")
      .outputMode("update").start()
    val keyA = java.util.Base64.getEncoder.encodeToString(b("a"))
    mem.addData(rec(0, 0, "a", "v1"), rec(0, 1, "b", "v2"))
    q.processAllAvailable()
    assert(rowsOf(spark.table("alive").filter(col("key") === keyA))
      .last("alive") == true)
    mem.addData(rec(0, 2, "a", null)) // tombstone retracts a
    q.processAllAvailable()
    // stale update arriving later must NOT resurrect the key
    mem.addData(rec(0, 1, "a", "stale"))
    q.processAllAvailable()
    q.stop()
    val aRows = rowsOf(spark.table("alive").filter(col("key") === keyA))
    assert(aRows.last("alive") == false)
  }

  test("streaming session windows match batch sessionization on closed sessions") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L // well above epoch 0: rows at/below the
                            // initial watermark are dropped as late
    def ev(id: Long, user: Long, offsetMin: Long, v: Double): SessEvent =
      SessEvent(id, ts(t0 + offsetMin * 60000L), user, v)
    val mem = MemoryStream[SessEvent]
    val q = graft.streaming.StreamingSessions
      .sessionWindows(mem.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    // user 1: two sessions (10-min gap merges, 60-min gap splits);
    // user 2: one singleton session.
    // FIXTURE CONSTRAINT: no event pair may sit EXACTLY gapMinutes
    // apart — session_window splits a boundary tie that batch
    // sessionize (diff > gap) merges (documented in StreamingSessions),
    // so an exact-gap pair would make this parity test flake by design.
    val live = Seq(
      ev(1, 1L, 0, 1.5), ev(2, 1L, 10, 2.5), ev(3, 1L, 70, 4.0),
      ev(4, 2L, 5, 7.25))
    mem.addData(live: _*)
    q.processAllAvailable()
    // flush batch: advances the watermark a day, closing every session
    mem.addData(ev(99, 99L, 24 * 60, 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = rowsOf(spark.table("sess")
      .select(col("user_id"), col("session_start_us"), col("n_events"),
        col("sum_value"))
      .orderBy(col("user_id"), col("session_start_us")))
    val batch = rowsOf(graft.operators.EventAnalytics.sessionize(
      live.toDF(), gapMinutes = 30)
      .select(col("user_id"), col("session_start_us"), col("n_events"),
        col("sum_value"))
      .orderBy(col("user_id"), col("session_start_us")))
    assert(streamed == batch && streamed.length == 3)
  }

  test("streaming throughput windows equal the batch bucket counts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hour = 3600L * 1000
    val rows = Seq(
      rec2(0, 0L, 1000L), rec2(0, 1L, hour - 1), // bucket 0
      rec2(0, 2L, hour + 1),                     // bucket 1
      rec2(1, 0L, 2 * hour))                     // bucket 2
    val mem = MemoryStream[KafkaRecord]
    val q = StreamingTopicMetrics.partitionThroughput(
        mem.toDF(), bucket = "1 hour")
      .writeStream.format("memory").queryName("tput")
      .outputMode("complete").start()
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = rowsOf(spark.table("tput")
      .orderBy(col("partition"), col("bucket_start_us")))
    val batch = rowsOf(graft.operators.TopicMetrics.partitionThroughput(
      records(
        (0, 0L, 1000L, "k", "v"), (0, 1L, hour - 1, "k", "v"),
        (0, 2L, hour + 1, "k", "v"), (1, 0L, 2 * hour, "k", "v")),
      bucketSeconds = 3600))
    assert(streamed == batch && streamed.size == 3)
  }

  private def rec2(p: Int, o: Long, tsMs: Long): KafkaRecord =
    KafkaRecord(p, o, ts(tsMs), b("k"), b("v"))

  test("streaming throughput in append mode: watermark closes and emits windows") {
    // the production-recommended configuration (append + watermark):
    // only windows whose end has passed the watermark emit, and state
    // for them is dropped. Fixture uses a realistic clock base — an
    // epoch-adjacent base would start the watermark at 0 and silently
    // drop everything (the known event-time-streaming trap).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hour = 3600L * 1000
    val base = 1754002800000L // 2025-08-01-ish, hour-ALIGNED ms
    val mem = MemoryStream[KafkaRecord]
    val q = StreamingTopicMetrics.partitionThroughput(
        mem.toDF(), bucket = "1 hour", delay = "1 minute")
      .writeStream.format("memory").queryName("tput_append")
      .outputMode("append").start()
    // two records in bucket 0, one in bucket 1
    mem.addData(rec2(0, 0L, base), rec2(0, 1L, base + hour - 1),
      rec2(0, 2L, base + hour))
    q.processAllAvailable()
    // advance the watermark far past bucket 1's end -> both close
    mem.addData(rec2(0, 3L, base + 4 * hour))
    q.processAllAvailable()
    q.stop()
    val emitted = rowsOf(spark.table("tput_append")
      .orderBy(col("bucket_start_us")))
    val bucket0 = base * 1000 // base is hour-aligned; micros
    assert(emitted.map(m => (m("bucket_start_us"), m("n"))) ==
      Seq((bucket0, 2L), (bucket0 + hour * 1000, 1L)),
      s"append mode must emit exactly the closed windows: $emitted")
  }

  test("offset-gap monitor converges to the batch audit as laggards arrive") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaRecord]
    val q = StreamingTopicMetrics.offsetGapMonitor(mem.toDS())
      .writeStream.format("memory").queryName("gapmon")
      .outputMode("update").start()
    // batch 1: partition 0 sees 0,1,4 -> range [0,4], 3 seen, 2 missing
    mem.addData(rec(0, 0L, "a", "v"), rec(0, 1L, "a", "v"), rec(0, 4L, "a", "v"))
    q.processAllAvailable()
    val after1 = rowsOf(spark.table("gapmon"))
    assert(after1.map(m => (m("partition"), m("missing"))) == Seq((0, 2L)))
    // batch 2: laggard 2 arrives (missing shrinks), partition 1 starts
    // dense at [5, 6] (lo>0 — the monitor ranges over OBSERVED offsets)
    mem.addData(rec(0, 2L, "a", "v"), rec(1, 5L, "b", "v"), rec(1, 6L, "b", "v"))
    q.processAllAvailable()
    q.stop()
    val last = rowsOf(spark.table("gapmon")).drop(after1.size)
      .map(m => (m("partition"), m("lo"), m("hi"), m("n"), m("missing"),
        m("n_gaps"), m("max_gap")))
      .sortBy(_._1.asInstanceOf[Int])
    assert(last == Seq((0, 0L, 4L, 4L, 1L, 1L, 1L), (1, 5L, 6L, 2L, 0L, 0L, 0L)))
    // final state agrees with the batch audit on the same records —
    // including the gap-RUN statistics the range-set state now carries
    val batch = rowsOf(graft.operators.TopicMetrics.offsetGaps(records(
      (0, 0L, 1000L, "a", "v"), (0, 1L, 1000L, "a", "v"),
      (0, 4L, 1000L, "a", "v"), (0, 2L, 1000L, "a", "v"),
      (1, 5L, 1000L, "b", "v"), (1, 6L, 1000L, "b", "v"))))
      .map(m => (m("partition"), m("lo"), m("hi"), m("n"), m("missing"),
        m("n_gaps"), m("max_gap")))
    assert(last == batch)
  }

  test("offset-gap monitor: laggards coalesce runs; saturation is loud and sticky") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaRecord]
    val q = StreamingTopicMetrics.offsetGapMonitor(mem.toDS(), maxRuns = 2)
      .writeStream.format("memory").queryName("gapmon_sat")
      .outputMode("update").start()
    // two runs {0, 4} -> at the bound, still exact: 2 runs, 1+3=...
    // offsets 0 and 4: runs {0-0, 4-4}, missing 3, n_gaps 1, max_gap 3
    mem.addData(rec(0, 0L, "a", "v"), rec(0, 4L, "a", "v"))
    q.processAllAvailable()
    val r1 = rowsOf(spark.table("gapmon_sat")).last
    assert((r1("missing"), r1("n_gaps"), r1("max_gap"), r1("saturated")) ==
      (3L, 1L, 3L, false))
    // laggard 3 coalesces into run 4: {0-0, 3-4}, gap shrinks to 1-2
    mem.addData(rec(0, 3L, "a", "v"))
    q.processAllAvailable()
    val r2 = rowsOf(spark.table("gapmon_sat")).last
    assert((r2("missing"), r2("n_gaps"), r2("max_gap"), r2("saturated")) ==
      (2L, 1L, 2L, false))
    // offset 8 makes a third run: over maxRuns=2 -> saturate. The
    // SATURATING batch still reports exact statistics from its
    // pre-drop run set {0-0, 3-4, 8-8} — the batch also redelivers
    // offset 0, which would make the summary fallback understate
    // missing as hi-lo+1-n = 9-5 = 4 when the true count is 5 — with
    // the flag already set as the from-here-on warning
    mem.addData(rec(0, 8L, "a", "v"), rec(0, 0L, "a", "v"))
    q.processAllAvailable()
    val r3 = rowsOf(spark.table("gapmon_sat")).last
    assert((r3("n"), r3("missing"), r3("n_gaps"), r3("max_gap"),
      r3("saturated")) == (5L, 5L, 2L, 3L, true))
    // sticky, and detail now really is gone (-1 sentinels); the
    // summary fallback inherits the exactly-once caveat from here on
    // (the earlier redelivery makes it read 2 where the truth is 3)
    mem.addData(rec(0, 1L, "a", "v"), rec(0, 2L, "a", "v"))
    q.processAllAvailable()
    q.stop()
    val r4 = rowsOf(spark.table("gapmon_sat")).last
    assert((r4("n"), r4("missing"), r4("n_gaps"), r4("saturated")) ==
      (7L, 2L, -1L, true))
  }

  test("streaming approx percentiles bracket the batch exact order statistics") {
    // the streaming percentile story: sketches merge INCREMENTALLY
    // across micro-batches (two addData rounds force a real state
    // merge), and the final running result must satisfy the same
    // rank-error bracket against the batch EXACT order statistics the
    // batch approx twin is held to
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.EventsAsRecords
      .readEvents(spark, "/root/testdata/sf0.001")
    val rows = ev.select(col("event_type"), col("value"))
      .as[(String, Option[Double])].collect()
    assert(rows.length > 10)
    val mem = MemoryStream[(String, Option[Double])]
    val q = graft.streaming.StreamingPercentiles.valuePercentiles(
        mem.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("stream_pcts")
      .outputMode("complete").start()
    val (first, second) = rows.splitAt(rows.length / 2)
    mem.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_pcts").collect().toSeq
    assertPercentileBracket(ev, streamed, Seq(0.5, 0.9, 0.99))
  }

  test("streaming transitions equal the batch matrix on in-order batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val ev = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
    val q = graft.streaming.StreamingTransitions.transitionUpdates(ev)
      .writeStream.format("memory").queryName("strans")
      .outputMode("update").start()
    // user1's b->a spans the batch boundary; user2's a->b likewise
    mem.addData((1L, ts(1000), 0L, "a"), (1L, ts(2000), 1L, "b"),
      (2L, ts(1000), 2L, "a"))
    q.processAllAvailable()
    mem.addData((1L, ts(3000), 3L, "a"), (2L, ts(2000), 4L, "b"))
    q.processAllAvailable()
    q.stop()
    val streamed = rowsOf(spark.table("strans"))
    assert(streamed.forall(m => m("out_of_order") == false))
    val counts = streamed
      .groupBy(m => (m("event_type"), m("next_type")))
      .view.mapValues(_.size.toLong).toMap
    val batchDf = Seq(
      (0L, 1000L, 1L, "a"), (1L, 2000L, 1L, "b"), (2L, 1000L, 2L, "a"),
      (3L, 3000L, 1L, "a"), (4L, 2000L, 2L, "b"))
      .map { case (id, t, u, ty) => (id, ts(t), u, ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val batch = rowsOf(graft.operators.EventAnalytics.typeTransitions(batchDf))
      .map(m => (m("event_type"), m("next_type")) -> m("n_trans")).toMap
    assert(counts == batch && counts.nonEmpty)
  }

  test("streaming transitions drop timestamp-less events instead of dying") {
    // null ts is an IN-CONTRACT dirty payload (the degenerate gates
    // null the whole column; the batch twin survives it) — without the
    // guard the typed encoder NPEs on its primitive ts_us field and
    // one corrupt row kills the WHOLE query
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val ev = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
    val q = graft.streaming.StreamingTransitions.transitionUpdates(ev)
      .writeStream.format("memory").queryName("strans_null")
      .outputMode("update").start()
    mem.addData((1L, ts(1000), 0L, "a"),
      (1L, null: java.sql.Timestamp, 1L, "junk"),
      (1L, ts(2000), 2L, "b"))
    q.processAllAvailable()
    val flagged = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("transitions_ts_guard")))
      .map(_.getAs[Long]("null_ts_events")).sum
    q.stop()
    val streamed = rowsOf(spark.table("strans_null"))
    // the timestamp-less row neither pairs nor crashes: a -> b only
    assert(streamed.map(m => (m("event_type"), m("next_type"))) ==
      Seq(("a", "b")), streamed.toString)
    // ...and the drop was counted, not silent
    assert(flagged == 1L,
      s"transitions_ts_guard should count the dropped row, got $flagged")
  }

  test("streaming sessions drop timestamp-less events instead of dying") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ev = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = graft.streaming.StreamingSessions.sessionWindows(ev,
        gapMinutes = 30, delay = "0 seconds")
      .writeStream.format("memory").queryName("ssess_null")
      .outputMode("append").start()
    val base = 1700000000000L
    mem.addData((1L, ts(base), 0L, "a", 1.0),
      (1L, null: java.sql.Timestamp, 1L, "junk", 2.0),
      (1L, ts(base + 1000), 2L, "b", 3.0))
    q.processAllAvailable()
    // a much-later event advances the watermark past user 1's session
    // so append mode emits it closed
    mem.addData((2L, ts(base + 5L * 3600 * 1000), 3L, "a", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = rowsOf(spark.table("ssess_null")
      .filter(col("user_id") === 1L))
    // one closed session for user 1, two timed events in it; the
    // timestamp-less row contributed nothing (and did not crash the
    // query)
    assert(rows.map(m => (m("user_id"), m("n_events"))) == Seq((1L, 2L)),
      rows.toString)
  }

  test("transitions TTL evicts idle users; their next event starts a fresh chain") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val ev = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
    val q = graft.streaming.StreamingTransitions
      .transitionUpdatesWithTtl(ev, java.time.Duration.ofSeconds(5),
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("strans_ttl")
      .outputMode("update").start()
    val base = 1700000000000L
    // user 1 chains a -> b inside one batch
    mem.addData((1L, ts(base), 0L, "a"), (1L, ts(base + 1000), 1L, "b"))
    q.processAllAvailable()
    // an unrelated user far in the future advances the watermark past
    // user 1's timeout; the next trigger fires the eviction
    mem.addData((2L, ts(base + 100000), 2L, "x"))
    q.processAllAvailable()
    mem.addData((2L, ts(base + 101000), 3L, "y"))
    q.processAllAvailable()
    // user 1 returns AFTER eviction: a fresh chain — this event has no
    // predecessor, so NO b -> c transition is emitted (under NoTimeout
    // it would have paired with the stored b)
    mem.addData((1L, ts(base + 102000), 4L, "c"))
    q.processAllAvailable()
    // the fresh chain is live: the following event pairs against c
    mem.addData((1L, ts(base + 103000), 5L, "d"))
    q.processAllAvailable()
    q.stop()
    val u1 = rowsOf(spark.table("strans_ttl").filter(col("user_id") === 1L))
      .map(m => (m("event_type"), m("next_type")))
    assert(u1 == Seq(("a", "b"), ("c", "d")),
      s"expected the pre-eviction pair and the fresh chain's pair, got $u1")
  }

  test("streaming transitions flag cross-batch stragglers, never miscount") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val ev = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
    val q = graft.streaming.StreamingTransitions.transitionUpdates(ev)
      .writeStream.format("memory").queryName("strans_ooo")
      .outputMode("update").start()
    mem.addData((1L, ts(5000), 10L, "x"))
    q.processAllAvailable()
    mem.addData((1L, ts(1000), 11L, "y")) // older than the stored last
    q.processAllAvailable()
    q.stop()
    val r = rowsOf(spark.table("strans_ooo"))
    assert(r.map(m => (m("event_type"), m("next_type"), m("out_of_order"))) ==
      Seq(("x", "y", true)))
  }

  test("transitions fold: batch-split invariance on random in-order streams") {
    import graft.streaming.StreamingTransitions.{EventRow, foldBatch}
    val rnd = new scala.util.Random(41)
    for (_ <- 1 to 25) {
      val n = 1 + rnd.nextInt(30)
      val events = (0 until n).map { i =>
        EventRow(7L, rnd.nextInt(5).toLong * 1000L, i.toLong,
          s"t${rnd.nextInt(4)}")
      }
      // canonical order = the batch lead order
      val ordered = events.sortBy(e => (e.ts_us, e.event_id))
      val (wholePairs, wholeState) = foldBatch(7L, None, ordered)
      // random in-order split into batches, each internally shuffled
      // (the fold re-sorts) — pairs and final state must be identical
      var idx = 0
      var state: Option[graft.streaming.StreamingTransitions.LastEvent] = None
      val got = Seq.newBuilder[graft.streaming.StreamingTransitions.Transition]
      while (idx < ordered.size) {
        val take = 1 + rnd.nextInt(ordered.size - idx)
        val chunk = rnd.shuffle(ordered.slice(idx, idx + take))
        val (pairs, st) = foldBatch(7L, state, chunk)
        got ++= pairs; state = st; idx += take
      }
      assert(got.result() == wholePairs && state == wholeState)
      assert(wholePairs.forall(!_.out_of_order))
    }
  }
  test("streaming decontamination gate quarantines a superset of batch flags") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // eval docs (id < 100) share a 6-word phrase with train doc 101;
    // train docs 102/103 are clean
    val all = Seq(
      (1L, "the quick brown fox jumps over lazy dogs today"),
      (2L, "completely unrelated evaluation material here for benchmarks"),
      (101L, "we saw the quick brown fox jumps over lazy dogs yesterday"),
      (102L, "novel training text with no overlap whatsoever in sight"),
      (103L, "another clean document of fresh original training words"))
    val df = all.toDF("doc_id", "text")
    val bloom = graft.operators.CorpusOps.evalShingleBloom(
      df.filter(col("doc_id") < 100L))
    // batch exact flags (train side)
    val flagged = rowsOf(graft.operators.CorpusOps.decontaminateById(df))
      .map(_("train_doc").asInstanceOf[Long]).toSet
    assert(flagged == Set(101L))

    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingCuration.decontaminationGate(
        mem.toDF().toDF("doc_id", "text").filter(col("doc_id") >= 100L), bloom)
      .writeStream.format("memory").queryName("decon_gate")
      .outputMode("append").start()
    mem.addData(all.filter(_._1 >= 100L): _*)
    q.processAllAvailable()
    q.stop()
    val out = rowsOf(spark.table("decon_gate"))
    val quarantined = out.filter(_("quarantined") == true)
      .map(_("doc_id").asInstanceOf[Long]).toSet
    // no false negatives: every batch-flagged doc is quarantined
    assert(flagged.subsetOf(quarantined), s"leaked: ${flagged -- quarantined}")
    // and the conservative gate stayed tight on this fixture
    assert(quarantined == Set(101L), quarantined.toString)
    // a null sketch (empty eval set) quarantines nothing
    val none = rowsOf(graft.streaming.StreamingCuration
      .decontaminationGate(Seq((5L, "x y z")).toDF("doc_id", "text"), null))
    assert(none.forall(_("quarantined") == false))
  }

  test("streaming cell counts accumulate to the batch assignment profile") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      0L -> Seq.fill(64)(0.1f).updated(0, 1f),
      1L -> Seq.fill(64)(0.1f).updated(1, 1f)).toDF("vec_id", "embedding")
    val book = graft.operators.Similarity.coarseBook(corpus, nCentroids = 2)
    val rows = Seq(
      10L -> Seq.fill(64)(0.1f).updated(0, 2f),
      11L -> Seq.fill(64)(0.1f).updated(1, 2f),
      12L -> Seq.fill(64)(0.1f).updated(0, 3f),
      13L -> Seq.fill(64)(0.1f).updated(1, 3f))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamingSimilarity.cellCounts(
        mem.toDF().toDF("vec_id", "embedding"), book)
      .writeStream.format("memory").queryName("cellcounts")
      .outputMode("complete").start()
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = rowsOf(spark.table("cellcounts").orderBy("cid"))
      .map(m => m("cid") -> m("n_arrived")).toMap
    val batch = rowsOf(graft.operators.Similarity.cellAssignments(
        rows.toDF("vec_id", "embedding"), book))
      .groupBy(_("cid")).view.mapValues(_.size.toLong).toMap
    assert(streamed == batch)
    assert(streamed.values.map(_.asInstanceOf[Long]).sum == 4L)
  }

  test("vocab sketch aggregate is legal streaming state: streamed == batch") {
    // the TypedImperativeAggregate's register buffer round-trips
    // through the streaming state store each trigger; complete-mode
    // output after all batches must equal the batch computation over
    // their union — not approximately, IDENTICALLY (same registers)
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamingSketches.vocabGrowth(docs)
      .writeStream.format("memory").queryName("svocab")
      .outputMode("complete").start()
    val b1 = (1 to 30).map(i => (i.toLong, s"alpha w$i beta"))
    val b2 = (31 to 55).map(i => (i.toLong, s"gamma w$i delta w${i % 7}"))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = rowsOf(spark.table("svocab")).head
    val batch = rowsOf(graft.operators.TextAnalysis
      .vocabularySummaryApprox((b1 ++ b2).toDF("doc_id", "text"))).head
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("streaming sketch ingest: dashboard == batch recompute; replay and compaction are no-ops") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-sk-ing").toString
    val C = graft.operators.CorpusOps
    try {
      val all = (1 to 40).map(i =>
        (i.toLong, s"text body ${i % 13}", s"s${i % 3}"))
      val (b1, b2) = all.splitAt(25)
      // base table from the first tranche, streamed growth for the rest
      C.writeDistinctSketches(
        b1.toDF("doc_id", "text", "source"), s"$root/sk")
      val mem = MemoryStream[(Long, String, String)]
      val docs = mem.toDF().toDF("doc_id", "text", "source")
      val q = graft.streaming.StreamingSketches.sketchIngest(docs, s"$root/sk")()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      def dash() = rowsOf(C.sourceDistinctFromSketches(
        C.readDistinctSketches(spark, s"$root/sk")))
      val grown = dash()
      val batch = rowsOf(C.sourceDistinctApprox(
        all.toDF("doc_id", "text", "source")))
      // union-of-partials == whole: not just close, IDENTICAL rows
      assert(grown == batch && grown.nonEmpty)
      // at-least-once replay, verbatim: registers are max-idempotent
      // and n_docs rides the overwrite-once batch dir — no movement
      C.appendDistinctSketches(
        b2.toDF("doc_id", "text", "source"), s"$root/sk", batchId = 0L)
      assert(dash() == grown)
      // compaction folds to one row per source without moving a number
      C.compactDistinctSketches(spark, s"$root/sk")
      assert(dash() == grown)
      assert(C.readDistinctSketches(spark, s"$root/sk").count() == 3L)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }
}



/** MemoryStream row for the session-window parity test — field order
  * mirrors the events table columns the operators read. */
case class SessEvent(event_id: Long, ts: java.sql.Timestamp,
  user_id: Long, value: Double)
