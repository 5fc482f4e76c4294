package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression tests: the scale claims made in code comments
  * (exchange reuse, checkpoint-preserved partitioning, pushdown) must
  * hold in the ACTUAL physical plan, not just in prose — a silent
  * optimizer-behavior change should fail here.
  */
class PlanShapeSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The EXECUTED plan's final-plan section (adaptive plans print the
    * pre-execution "Initial Plan" after it — scan/reuse counts must not
    * see that). Falls back to the whole string when the marker is
    * absent (non-adaptive plan) instead of a substring crash.
    */
  private def executedFinal(df: org.apache.spark.sql.DataFrame): String = {
    val s = df.queryExecution.executedPlan.toString
    val i = s.indexOf("== Initial Plan ==")
    if (i < 0) s else s.substring(0, i)
  }

  private def table(name: String) =
    spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")

  /** Explicit broadcast() hints in the analyzed plan — the per-query
    * hint-policy pin (hints only on schema-bounded frames). */
  private def hints(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.length

  test("checkpointed frames report UnknownPartitioning under AQE (documented)") {
    val s = spark
    import s.implicits._
    // pins the empirical fact the nearDupClusters comment relies on:
    // pre-partitioning before localCheckpoint does NOT survive (the
    // unexecuted AdaptiveSparkPlan has no final partitioning), so the
    // iteration must not be designed around checkpoint-preserved
    // partitioning. If Spark ever starts preserving it, this fails and
    // the clustering loop should be re-planned to exploit it.
    val edges = Seq((1L, 2L), (2L, 1L))
      .toDF("doc_a", "doc_b").repartition(col("doc_b")).localCheckpoint(true)
    val p = plan(edges)
    assert(p.contains("UnknownPartitioning"), s"partitioning metadata:\n$p")
  }

  test("unpersistCheckpoint releases local-checkpoint blocks (unpersist cannot)") {
    val s = spark
    import s.implicits._
    val df = Seq(1L, 2L).toDF("x").localCheckpoint(true)
    // track the checkpoint's own RDD id — the global persistent-RDD map
    // can shrink concurrently (ContextCleaner collects stale entries)
    val ids = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(ids.nonEmpty)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.forall(persisted.contains))
    // Dataset.unpersist only clears CacheManager entries — pins WHY the
    // bridge helper exists; if Spark ever makes this work, simplify
    df.unpersist()
    assert(ids.forall(persisted.contains))
    org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpoint(df)
    assert(ids.forall(id => !persisted.contains(id)))
  }

  test("iterative clustering does not accumulate persisted frames") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.size
    graft.operators.Dedup.nearDupClusters(docs).collect()
    // only the final label checkpoint may remain, however many
    // propagation rounds ran
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, s"leaked checkpoints: $before -> $after")
  }

  test("clustering convergence check is a narrow filter, not a join") {
    val s = spark
    import s.implicits._
    // same shape as the nearDupClusters fixpoint test: filter over the
    // checkpointed (doc_id, prev, cluster) frame — no exchange, no join
    val next = Seq((1L, 1L, 1L), (2L, 2L, 1L))
      .toDF("doc_id", "prev", "cluster").localCheckpoint(true)
    val p = plan(next.filter(col("cluster") =!= col("prev")))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"convergence must stay narrow:\n$p")
  }

  test("text projections push column pruning into the parquet scan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.operators.TextAnalysis.stats(docs))
    // only (doc_id, text) may be read, however many columns the table has
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"),
      s"expected doc_id,text in ReadSchema: $readSchema")
    assert(!readSchema.contains("lang") || readSchema.count(_ == ',') <= 1,
      s"scan reads more than the projected columns: $readSchema")
  }

  test("docChunks is a narrow transform: no exchange before the presentation sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.operators.CorpusOps.docChunks(docs))
    // tokenize → explode → slice is per-row; the ONLY exchange allowed
    // is the rangepartitioning for the trailing presentation orderBy
    val shuffles = raw"\(\d+\) Exchange\b".r.findAllIn(p).length
    assert(shuffles <= 1, s"expected at most the sort exchange:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must not hash-shuffle:\n$p")
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
    // column pruning must reach the scan: (doc_id, text) only
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang"),
      s"scan must prune to (doc_id, text): $readSchema")
  }

  test("batchPadding windows by (len_bucket, stream), never one global stream") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.operators.CorpusOps.batchPadding(docs))
    // parallelism = buckets×streams REQUIRES the row_number window to
    // partition by both keys; a stream-less (or bucket-less) window
    // would serialize the corpus through one task at scale
    val specs = raw"windowspecdefinition\([^)]*\)".r.findAllIn(p).toList
    assert(specs.nonEmpty, s"expected a window in the plan:\n$p")
    specs.foreach(spec =>
      assert(spec.contains("len_bucket") && spec.contains("stream"),
        s"window must partition by (len_bucket, stream): $spec"))
  }

  test("offset gaps never sorts a full Kafka partition in one window") {
    val rec = graft.sources.EventsAsRecords.records(spark, "/root/testdata/sf0.001")
    val p = plan(graft.operators.TopicMetrics.offsetGaps(rec))
    // the record-level lag must window by (partition, bucket) — the
    // bucket key is what caps per-task cost at bucketSize. The only
    // window allowed to partition by `partition` alone is the stitch
    // lag over the BUCKET table, which orders by bucket, not offset.
    val specs = raw"windowspecdefinition\([^)]*\)".r.findAllIn(p).toList
    assert(specs.nonEmpty, s"expected windows in the plan:\n$p")
    specs.filter(_.contains("offset")).foreach(spec =>
      assert(spec.contains("bucket"),
        s"record lag windows a full partition:\n$spec\n$p"))
  }

  test("distributed source quota never ranks docs in a source-only window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.CorpusOps.sourceQuotaDistributed(docs)
    val p = plan(df)
    // the doc-ranking row_number must partition by the radix bin
    // (source, b_level, b_prefix), never by source alone — a
    // source-only rank window is exactly the mega-source bottleneck
    // this twin exists to remove. The bin-offset sum window partitions
    // by source too, but over the BIN table (ordered by ustart_signed),
    // so the pin targets row_number specifically.
    org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpoint(df)
    val rowNumberSpecs = raw"row_number\(\) windowspecdefinition\([^)]*\)".r
      .findAllIn(p).toList
    assert(rowNumberSpecs.nonEmpty, s"expected a row_number window:\n$p")
    rowNumberSpecs.foreach(spec =>
      assert(spec.contains("b_prefix"),
        s"row_number windows a full source:\n$spec\n$p"))
  }

  test("ivf kNN corpus assignment is a shuffle-free argmax projection") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.operators.Similarity.knnIvf(
      emb, emb.filter(col("vec_id") < 4), 3))
    // cell assignment must NOT shuffle or window the corpus: the only
    // Window nodes allowed are the probe-side top-nProbes (tiny query
    // set) and the final per-query top-k; the only shuffle Exchanges
    // are those two windows' partitionings plus the final orderBy.
    // The previous formulation added a third window (corpus × centroids
    // row_number) whose exchange shuffled k× the corpus.
    val windows = raw"\(\d+\) Window\b".r.findAllIn(p).length
    assert(windows <= 2, s"corpus assignment regressed to a window ($windows):\n$p")
    val shuffles = raw"\(\d+\) Exchange\b".r.findAllIn(p).length
    assert(shuffles <= 3, s"too many shuffle exchanges ($shuffles):\n$p")
  }

  test("bucketed propagation round: both joins co-located, one exchange total") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ndb-plan").toString
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val pairs = graft.operators.Dedup.minhashPairsUnsorted(docs)
        .select(col("doc_a"), col("doc_b"))
      val sym = pairs.union(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      graft.sources.CorpusStore.writeBucketed(
        sym, "plan_ndb_edges", s"$dir/edges", 4, bucketCol = "doc_b")
      val edges = spark.table("plan_ndb_edges")
      val seed = edges.groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("doc_b")).as("nbr_min"))
        .select(col("doc_id"),
          least(col("doc_id"), col("nbr_min")).as("cluster"))
      graft.sources.CorpusStore.writeBucketed(
        seed, "plan_ndb_labels", s"$dir/labels", 4)
      // force the SMJ path: a broadcast of the small fixture would mask
      // the co-location claim under test
      spark.conf.set(thresholdKey, "-1")
      val round = graft.operators.Dedup.propagationRound(
        edges, spark.table("plan_ndb_labels").select(col("doc_id"), col("cluster")))
      round.collect()
      val executed = executedFinal(round)
      assert(round.queryExecution.executedPlan.toString
        .contains("isFinalPlan=true"), executed.take(500))
      // the round's ONLY exchange is the partial-aggregated label-update
      // stream (groupBy doc_a) — the irreducible communication. The edge
      // scan and both label scans feed their joins bucket-aligned: the
      // edge⋈labels SMJ directly, the carry-through left join because
      // the aggregate's hashpartitioning(doc_a, buckets) already matches
      // the label table's bucketing. An Exchange under either join
      // input, or a second exchange anywhere, means a round re-shuffles
      // state — the cost this variant exists to amortize away.
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(executed).length
      assert(exchanges == 1,
        s"round must shuffle only the update stream ($exchanges):\n$executed")
      assert(!executed.contains("BroadcastExchange"),
        s"broadcast crept past the disabled threshold:\n$executed")
    } finally {
      spark.conf.set(thresholdKey, prev)
      spark.sql("DROP TABLE IF EXISTS plan_ndb_edges")
      spark.sql("DROP TABLE IF EXISTS plan_ndb_labels")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("docKeywords never windows by raw term; tf exchange is shared at runtime") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.CorpusOps.docKeywords(docs)
    val p = plan(df)
    // terms are Zipfian: a Window partitioned by raw term would land a
    // stopword's ~N tf rows on ONE task with no AQE skew escape. The
    // only window allowed is the per-document rank (bounded by tokens
    // per doc); df must arrive via a partial-aggregable groupBy + join.
    val windows = raw"\(\d+\) Window\b".r.findAllIn(p).length
    assert(windows == 1, s"docKeywords grew extra windows ($windows):\n$p")
    assert(!p.contains("windowspecdefinition(term"),
      s"df regressed to a term-partitioned window:\n$p")
    // both sides of the tf⋈df join derive from the tf aggregate — the
    // (doc_id, term) exchange must be stage-reused so the corpus is
    // tokenized exactly once (only the EXECUTED adaptive plan proves it)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"), executed.take(500))
    assert(executed.contains("ReusedExchange"),
      s"tf/df no longer share the tokenize exchange:\n${executed.take(3000)}")
  }

  test("tokenRarity: no term window, tf exchange shared at runtime") {
    // same Zipf-safety contract as docKeywords: corpus term frequency
    // is re-aggregated from the per-doc tf aggregate (never a
    // term-partitioned window) and the tf exchange is stage-reused so
    // the corpus tokenizes exactly once
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.TextAnalysis.tokenRarity(docs)
    val p = plan(df)
    assert(!p.contains("windowspecdefinition(term"),
      s"ctf regressed to a term-partitioned window:\n$p")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"), executed.take(500))
    assert(executed.contains("ReusedExchange"),
      s"tf/ctf no longer share the tokenize exchange:\n${executed.take(3000)}")
  }

  test("sketch self-joins reuse one exchange per input at runtime") {
    // the forced-SMJ claim (Dedup.ngramJaccardPairs, simhashPairs,
    // Similarity.lshNearPairs): both self-join sides demand identical
    // ENSURE_REQUIREMENTS exchanges, and AQE stage-reuses them — the
    // posting-list/signature pipeline and its shuffle run ONCE. The
    // static plan shows two exchanges; only the EXECUTED adaptive plan
    // proves the reuse, so execute and inspect the final plan. If a
    // Spark/AQE change (e.g. broadcast conversion overriding the merge
    // hint) breaks this, the pipeline silently computes twice — fail
    // here instead.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (df <- Seq(
        graft.operators.Dedup.ngramJaccardPairs(docs),
        graft.operators.Dedup.simhashPairs(docs))) {
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("isFinalPlan=true"), executed.take(500))
      assert(executed.contains("ReusedExchange"),
        s"self-join sides no longer share an exchange:\n${executed.take(3000)}")
    }
  }

  test("sourceDistinctApprox: per-source and union rows share the sketch exchange at runtime") {
    // the dashboard's two consumers (per-source estimates, __all__
    // union) both hang off the same sketch aggregate; the static plan
    // prints two scan+aggregate subtrees, and the reuseAnchor exists
    // precisely so they canonicalize identical and AQE stage-reuses
    // them — the corpus is md5+fnv64-hashed ONCE. Execute to prove it.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.CorpusOps.sourceDistinctApprox(docs)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"), executed.take(500))
    assert(executed.contains("ReusedExchange"),
      s"dashboard consumers no longer share the sketch exchange:\n${executed.take(3000)}")
  }

  test("vocabularySummaryApprox: one aggregate pair, one exchange, hashes in the projection") {
    // the whole summary is a single partial→final aggregate over the
    // exploded token stream: ONE exchange of two 4 KiB sketches + a
    // count per partition — never a countDistinct value exchange. The
    // two hash64 columns must sit in the pre-aggregate projection
    // (codegen), not inside the aggregate expressions (interpreted).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.TextAnalysis.vocabularySummaryApprox(docs)
    val p = plan(df)
    val exchanges = raw"\(\d+\) Exchange\b".r.findAllIn(p).length
    assert(exchanges == 1, s"vocab summary grew exchanges ($exchanges):\n$p")
    assert(!p.contains("windowspecdefinition"), s"unexpected window:\n$p")
  }

  test("histogram percentiles: broadcast stats joins, window only over the bin table") {
    // two scans are the algorithm; what must NOT appear is a shuffle
    // of the event stream for the stats join (broadcast both times)
    // or a value-ordered window (the cumulative sum orders BINS)
    val ev = graft.sources.EventsAsRecords
      .readEvents(spark, "/root/testdata/sf0.001")
    val df = graft.operators.EventAnalytics.valuePercentilesHistogram(ev)
    val p = plan(df)
    val windows = raw"\(\d+\) Window\b".r.findAllIn(p).length
    assert(windows == 1, s"histogram grew windows ($windows):\n$p")
    // the cumulative sum must order BINS: the one window spec's
    // ordering clause names bin, never the raw value column
    val wspec = raw"windowspecdefinition\([^)]*\)".r.findFirstIn(p)
    assert(wspec.exists(w => w.contains("bin#") && !w.contains("value#")),
      s"window lost its bin ordering: $wspec\n$p")
    df.collect()
    val executed = executedFinal(df)
    assert(executed.contains("BroadcastHashJoin"),
      s"stats join stopped broadcasting:\n${executed.take(3000)}")
    assert(!executed.contains("SortMergeJoin"),
      s"a stats join regressed to SMJ:\n${executed.take(3000)}")
  }

  test("tpch q3 pushes filters, broadcasts the customer dim, top-ks without a global sort") {
    val q3 = graft.operators.Relational.shippingPriority(
      spark.read.parquet("/root/testdata/sf0.001/customer.parquet"),
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"))
    val p = plan(q3)
    // the segment-filtered customer dim must broadcast; the
    // orders-derived side is DELIBERATELY not asserted broadcast — it
    // is unhinted (fact-derived, linear in SF) and AQE/stats own that
    // choice per scale. Date/segment predicates must reach the scans
    // and the top-10 must be TakeOrderedAndProject, not Sort+Limit.
    val bhj = raw"\(\d+\) BroadcastHashJoin\b".r.findAllIn(p).length
    assert(bhj >= 1, s"customer dim no longer broadcasts ($bhj):\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k regressed to a sort:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(_.contains("l_shipdate")) &&
      pushed.exists(_.contains("o_orderdate")) &&
      pushed.exists(_.contains("c_mktsegment")),
      s"predicates not pushed to scans:\n${pushed.mkString("\n")}")
  }

  test("tpch broadcast hints mark only TRUE dimensions, never fact-derived frames") {
    // the 100×-scale contract: an explicit broadcast() hint bypasses
    // autoBroadcastJoinThreshold, so a hint on a frame that grows with
    // the fact tables (date-filtered orders ⋈ customer, part) is a
    // forced OOM at scale where an unhinted plan degrades to a shuffle
    // join. Pin the hint COUNT per query — the dims that legitimately
    // carry hints — so a hint creeping onto a fact-derived frame fails
    // here with intent, not in a cluster post-mortem.
    val q3 = graft.operators.Relational.shippingPriority(
      table("customer"), table("orders"), table("lineitem"))
    assert(hints(q3) == 1, "Q3: exactly the segment-filtered customer dim")
    val q5 = graft.operators.Relational.localSupplierRevenue(
      table("region"), table("nation"), table("supplier"), table("customer"),
      table("orders"), table("lineitem"))
    assert(hints(q5) == 4,
      "Q5: region, nation-chain, supplier, customer projection — not orders⋈customer")
    val q14 = graft.operators.Relational.promoRevenue(
      table("lineitem"), table("part"))
    assert(hints(q14) == 0, "Q14: part scales with SF — no forced broadcast")
  }

  test("tpch q6 collapses to a pure pushed-filter scan aggregate") {
    val q6 = graft.operators.Relational.forecastRevenue(
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"))
    val p = plan(q6)
    assert(!p.contains("Join"), s"q6 must not join anything:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not pushed to the scan:\n$pushed")
    // one partial + one final aggregate, single exchange between them
    val shuffles = raw"\(\d+\) Exchange\b".r.findAllIn(p).length
    assert(shuffles <= 1, s"scan aggregate grew extra shuffles ($shuffles):\n$p")
  }

  test("tpch q10/q18 hint only schema-bounded lookups; top-k never global-sorts") {
    val q10 = graft.operators.Relational.returnedItemRevenue(
      table("customer"), table("orders"), table("lineitem"), table("nation"))
    assert(hints(q10) == 2, "Q10: customer projection + nation only")
    assert(plan(q10).contains("TakeOrderedAndProject"))
    val q18 = graft.operators.Relational.largeOrders(
      table("customer"), table("orders"), table("lineitem"))
    assert(hints(q18) == 1, "Q18: the c_name lookup only — the HAVING " +
      "aggregate is fact-derived and stays unhinted")
    assert(plan(q18).contains("TakeOrderedAndProject"))
  }

  test("tpch q4/q22 use true semi/anti joins with pushed date filters") {
    val q4 = plan(graft.operators.Relational.orderPriorityCheck(
      table("orders"), table("lineitem")))
    // a semi join, never an inner-join+distinct blowup; the quarter
    // filter must prune the orders scan
    assert(q4.contains("LeftSemi"), s"expected a left-semi join:\n$q4")
    assert(!q4.contains("HashAggregate(keys=[o_orderkey"),
      s"semi join regressed to join+distinct:\n$q4")
    assert(q4.linesIterator.filter(_.contains("PushedFilters"))
      .exists(_.contains("o_orderdate")), s"date filter not pushed:\n$q4")
    val q22df = graft.operators.Relational.inactiveHighBalanceCustomers(
      table("customer"), table("orders"))
    val q22 = plan(q22df)
    assert(q22.contains("LeftAnti"), s"expected a left-anti join:\n$q22")
    assert(q22.linesIterator.filter(_.contains("PushedFilters"))
      .exists(_.contains("o_orderdate")),
      s"inactivity window not pushed to the orders scan:\n$q22")
    // the only hint is the 1-row scalar-aggregate broadcast; the
    // date-filtered orders side (fact-derived) stays unhinted
    assert(hints(q22df) == 1,
      s"q22 should hint only the scalar aggregate (${hints(q22df)})")
  }

  test("remaining tpch suite: hints only on schema-bounded frames, true join shapes") {
    import graft.operators.DecisionSupport._
    // hint counts include hints REPLICATED by plan-subtree reuse (a
    // dimension built once but joined at N sites contributes its
    // embedded hints N times) — the pin is on the analyzed tree as
    // Catalyst sees it, so a hint creeping onto a fact-derived frame
    // (per-pair aggregates, filtered part/orders, brand lines) changes
    // the count and fails with intent.
    val q2 = minCostSupplier(table("region"), table("nation"),
      table("supplier"), table("part"), table("lineitem"))
    assert(hints(q2) == 9,
      s"Q2: region/nation/supplier dims at 3 join sites — filtered part unhinted (${hints(q2)})")
    val q7 = volumeShipping(table("nation"), table("supplier"),
      table("customer"), table("orders"), table("lineitem"))
    assert(hints(q7) == 4, s"Q7: supp/cust nation lookups only (${hints(q7)})")
    val q8 = marketShare(table("region"), table("nation"), table("supplier"),
      table("customer"), table("orders"), table("lineitem"), table("part"))
    assert(hints(q8) == 5,
      s"Q8: region chain + customer membership + supplier nation — part unhinted (${hints(q8)})")
    val q9 = productProfit(table("nation"), table("supplier"), table("part"),
      table("orders"), table("lineitem"))
    assert(hints(q9) == 2,
      s"Q9: supplier-nation lookup only — part and orders unhinted (${hints(q9)})")
    assert(hints(importantParts(table("lineitem"))) == 1,
      "Q11: the 1-row scalar aggregate only")
    val q12 = lateShipmentPriority(table("orders"), table("lineitem"))
    assert(hints(q12) == 0, "Q12: fact ⋈ fact — no hints")
    val q13 = customerDistribution(table("customer"), table("orders"))
    assert(hints(q13) == 0, "Q13: fact ⟕ fact — no hints")
    assert(plan(q13).contains("LeftOuter"),
      s"Q13 must keep the outer join (order-less customers count 0):\n${plan(q13)}")
    val q15 = topSupplier(table("supplier"), table("lineitem"))
    assert(hints(q15) == 2,
      "Q15: the name lookup + the 1-row scalar max (the Q22 idiom)")
    // the single-scan claim survives the scalar-max formulation only
    // at RUNTIME (the rand-anchored gate keeps both per-supplier
    // aggregates canonical, and AQE stage-reuses the exchange; the
    // static plan still prints the twin)
    q15.collect()
    val final15 = executedFinal(q15)
    assert("lineitem.parquet".r.findAllIn(final15).length == 1,
      s"Q15 scans lineitem more than once:\n${final15.take(3000)}")
    assert(final15.contains("ReusedExchange"),
      s"Q15 max branch no longer shares the aggregate exchange:\n${final15.take(3000)}")
    val q16 = partSupplierCounts(table("supplier"), table("part"),
      table("lineitem"))
    assert(hints(q16) == 1,
      "Q16: the excluded-supplier list only — part attributes unhinted")
    assert(plan(q16).contains("LeftAnti"),
      s"Q16 exclusion must stay an anti join:\n${plan(q16)}")
    assert(hints(smallQuantityRevenue(table("part"), table("lineitem"))) == 0,
      "Q17: brand lines and the per-part cap are both fact-derived")
    val q19 = discountedRevenue(table("part"), table("lineitem"))
    assert(hints(q19) == 0, "Q19: part scales with SF — unhinted")
    // the disjunction must reach the part scan as a pushed filter
    // (Catalyst extracts the per-side conjuncts from the OR-of-ANDs)
    assert(plan(q19).linesIterator.filter(_.contains("PushedFilters"))
      .exists(l => l.contains("p_brand") || l.contains("p_size")),
      s"Q19 disjunction not pushed to the part scan:\n${plan(q19)}")
    val q20 = dominantSuppliers(table("nation"), table("supplier"),
      table("part"), table("lineitem"))
    assert(hints(q20) == 1, "Q20: the nation filter only")
    assert(plan(q20).contains("LeftSemi"),
      s"Q20 membership must stay a semi join:\n${plan(q20)}")
    val q21 = waitingSuppliers(table("supplier"), table("orders"),
      table("lineitem"))
    assert(hints(q21) == 1, "Q21: the supplier-name lookup only")
    val p21 = plan(q21)
    assert(p21.contains("TakeOrderedAndProject"),
      s"Q21 top-k regressed to a global sort:\n$p21")
    // the semi/anti self-join pair is re-expressed as ONE lineitem
    // shuffle + per-order windows: at runtime the two consumers must
    // stage-reuse the repartition exchange so lineitem is scanned and
    // shuffled exactly once (the executed adaptive plan proves it)
    q21.collect()
    val final21 = executedFinal(q21)
    assert("lineitem.parquet".r.findAllIn(final21).length == 1,
      s"Q21 scans lineitem more than once:\n${final21.take(3000)}")
    assert(final21.contains("ReusedExchange"),
      s"Q21 branches no longer share the lineitem exchange:\n${final21.take(3000)}")
  }

  test("token-budget selection prunes the scan and sorts only the boundary bin") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.operators.CorpusOps.selectByTokenBudget(docs, 500L))
    // only (doc_id, text) may be read from the corpus
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
      r.contains("doc_id") && r.contains("text") && !r.contains("lang")),
      s"scan reads more than the scoring projection:\n${reads.mkString("\n")}")
    // the prefix-sum window must sit above a bin FILTER (the boundary
    // bin only), never over the whole scored corpus
    val windows = raw"\(\d+\) Window\b".r.findAllIn(p).length
    assert(windows == 1, s"expected exactly the boundary-bin window ($windows):\n$p")
    // and the scoring chain must run ONCE per row: the rand() barrier
    // keeps the bin predicates ABOVE the scoring projection, so no
    // Filter condition may contain the fused scoring expressions
    val scoringInFilters = p.linesIterator
      .filter(_.contains("Condition"))
      .count(l => l.contains("stopwordhitsexpr") || l.contains("bpepunctcountsexpr"))
    assert(scoringInFilters == 0,
      s"bin filter re-derives the scoring chain ($scoringInFilters):\n$p")
    // the same contract for q_corpus_filter is covered by the
    // all-queries Filter sweep below; the streaming curation gate is
    // NOT in the queries map, so it gets its own check here
    // (batch-mode plan; the same Column definitions run in the stream)
    val cur = plan(graft.streaming.StreamingCuration.curated(docs))
    val curInFilters = cur.linesIterator
      .filter(_.contains("Condition"))
      .count(l => l.contains("stopwordhitsexpr") || l.contains("bpepunctcountsexpr"))
    assert(curInFilters == 0,
      s"curation gate re-derives the scoring chain ($curInFilters):\n$cur")
  }

  test("shingle-hash runs once per row: no hash in scan filters, no sort before join") {
    // explode_outer + non-nullable count (Dedup.ngramJaccardPairs,
    // CorpusOps.decontaminate) keep InferFiltersFromGenerate from
    // inlining the fused shingle hash into the pushed scan Filter —
    // where predicates get no subexpression elimination, so each
    // inferred conjunct would re-run the whole hash per row.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pd = plan(graft.operators.CorpusOps.decontaminateById(docs))
    for ((p, what) <- Seq(
        plan(graft.operators.Dedup.ngramJaccardPairs(docs)) -> "ngram",
        pd -> "decontaminate")) {
      val inFilter = p.linesIterator
        .filter(_.contains("Condition"))
        .count(_.contains("shinglehashexpr"))
      assert(inFilter == 0,
        s"shingle hash leaked back into a $what Filter condition:\n$p")
    }
    // decontaminate must broadcast the (small) eval side
    assert(pd.contains("BroadcastHashJoin"), s"eval side should broadcast:\n$pd")
    // pair/label consumers must not inherit the producers' presentation
    // sorts (nearDupLabels / minhashPairsUnsorted exist for this): no
    // doc_id / pair-id range exchange anywhere under these plans
    for ((p, what) <- Seq(
        plan(graft.operators.CorpusOps.bestOfCluster(docs)) -> "bestOfCluster",
        plan(graft.operators.CorpusOps.sourceOverlap(docs)) -> "sourceOverlap")) {
      assert(!p.contains("rangepartitioning(doc_id") &&
        !p.contains("rangepartitioning(doc_a"),
        s"$what inherited a producer's presentation sort:\n$p")
    }
  }

  test("duplicated-ngram audit: two hash passes, hot set broadcast") {
    // totals and dup counts come out of ONE left-join aggregate, so
    // the fused shingle hash must appear exactly twice (hot-set pass +
    // join pass) — a separate totals frame would make it three — and
    // the hot side (df-threshold survivors) must broadcast, never
    // shuffle the exploded corpus for a sort-merge join.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.operators.Dedup.duplicatedNgrams(docs))
    val hashes = "shinglehashexpr".r.findAllIn(p.toLowerCase).size
    assert(hashes == 2, s"expected exactly 2 shingle-hash passes, got $hashes:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"hot set should broadcast:\n$p")
  }

  test("no query plan evaluates a fused expensive expression inside a Filter") {
    // the generalized net for the class round 5 kept finding: Filter
    // conditions get NO subexpression elimination, so an expensive
    // fused expression that leaks into one (via inferred isnotnull
    // constraints on nullable derived columns, or predicate pushdown
    // through an all-deterministic projection after a dead barrier is
    // pruned) silently re-runs per row. Three instances were caught by
    // this sweep (simhash band join, IVF unit filter, corpus-filter
    // gate); every future query walks through it.
    val expensive = Seq("stopwordhitsexpr", "bpepunctcountsexpr",
      "shinglehashexpr", "minhashsigexpr", "simhashexpr", "unitvectorexpr")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = plan(fn(spark, "/root/testdata/sf0.001"))
        val hits = p.linesIterator.filter(_.contains("Condition"))
          .flatMap(l => expensive.filter(l.contains)).toSeq.distinct
        if (hits.isEmpty) None else Some(s"$name: ${hits.mkString(",")}")
    }
    assert(offenders.isEmpty,
      s"fused expressions inside Filter conditions:\n${offenders.mkString("\n")}")
  }

  test("every global (partition-less) window is on the documented allowlist") {
    // the other named scale-killer class: a Window with no partitionBy
    // is a single-reducer total order over its whole input. The engine
    // allows exactly two, both with documented bounds; any new query
    // (or a regression that drops a partition spec) must justify
    // itself here or get a distributed formulation like
    // valuePercentilesDistributed / userSpendDecilesDistributed.
    // SCOPE: this audits each query's TERMINAL plan (building it runs
    // the eager driver-loop queries — real job time); windows inside a
    // loop's intermediate per-round frames are invisible here and are
    // pinned by their operators' dedicated round-plan tests instead.
    val allow = Map(
      // terminal prefix-sum over the boundary BIN only — population
      // bounded by windowMaxRows via recursive refinement
      "q_token_budget" -> 1,
      // post-aggregate user-cardinality frame — documented bound; the
      // distributed twin is q_spend_deciles_dist
      "q_spend_deciles" -> 1,
      // gaps-and-islands lag + running-sum over the BUSY-MINUTE frame:
      // bounded by calendar minutes in the horizon (~526k/year), and a
      // total order is inherent to island numbering
      "q_incident_range_join" -> 2,
      // query-term rank over the LIMIT-bounded (skipTop + nTerms ≤ 26
      // rows) vocabulary head — population capped before the window
      "q_text_search" -> 1)
    // The same walk audits sort-based aggregates (building every query
    // twice would double this test's time). A SortAggregate sorts its
    // whole input on both sides of the shuffle — the plan Spark falls
    // back to when an aggregate buffer cannot live in a hash map (a
    // struct, string or binary max_by/min_by). Each remaining site
    // needs a reason here; a fixed-width aggregate (LastWrite) is the
    // usual way out.
    val allowSortAgg = Map(
      // max_by(eval_id, struct(score, -eval_id)) tie-break ordering,
      // Similarity.semanticContamination, over the post-join hit rows
      "q_decontaminate_semantic" -> 2,
      // max_by(doc_id, struct(quality, -doc_id)) tie-break ordering,
      // CorpusOps.bestOfClusterFromLabels, one row per labelled doc
      "q_cluster_best" -> 2,
      "q_cluster_best_indexed" -> 2,
      // compactionEstimate's max_by(value, offset): the retained value
      // bytes ARE the output (retained_bytes), so they ride the buffer
      "q_compaction_estimate" -> 2,
      // max(struct(score, -pos)) best-positive ordering,
      // Similarity.contrastiveTriplets, over the LSH near-pair rows
      "q_contrastive_triplets" -> 2,
      // min/max(source) STRING fold of each melted pair's two rows,
      // CorpusOps.sourceOverlap — two rows per group
      "q_source_overlap" -> 2,
      // min/max(split) STRING per cluster (plus the countDistinct
      // expand's second level), CorpusOps.splitLeakageFromLabels
      "q_split_leakage" -> 4,
      "q_split_leakage_indexed" -> 4)
    val (offenders, sortAggOffenders) = SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) =>
        val qe = fn(spark, "/root/testdata/sf0.001").queryExecution
        val n = qe.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
          }.length
        val sa = qe.sparkPlan.collect {
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        }.length
        (if (n > allow.getOrElse(name, 0)) Some(s"$name: $n global windows")
          else None,
         if (sa != allowSortAgg.getOrElse(name, 0))
           Some(s"$name: $sa sort aggregates") else None)
      }.unzip
    assert(offenders.flatten.isEmpty,
      s"undocumented single-reducer windows:\n${offenders.flatten.mkString("\n")}")
    assert(sortAggOffenders.flatten.isEmpty,
      "sort-based aggregates off the allowlist (or an allowlisted count " +
        s"that changed):\n${sortAggOffenders.flatten.mkString("\n")}")
  }

  test("bloom decontamination filters train postings BELOW the join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val d = table("documents").select(col("doc_id"), col("text"))
    val opt = graft.operators.CorpusOps.decontaminateBloomById(d)
      .queryExecution.optimizedPlan
    // the sketch prefilter is the operator's reason to exist: train
    // postings must pass through might_contain on the way INTO the
    // join (a refactor that filters after joining — or drops the
    // filter — silently reverts to the exact operator's shuffle size)
    def hasBloomFilter(
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collect { case f: Filter
        if f.condition.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
            .BloomFilterMightContain]) => f }.nonEmpty
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, s"expected the exact verify join:\n$opt")
    assert(joins.exists(j =>
        hasBloomFilter(j.left) || hasBloomFilter(j.right)),
      s"bloom prefilter not below the join:\n$opt")
  }

  test("diverseSample: shuffle-free assignment, one cell exchange + sort") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.operators.Similarity.diverseSample(emb, quota = 10))
    // assignment is the knnIvf argmax projection (no corpus shuffle);
    // the rank and cell-size windows share ONE cid exchange; the only
    // other exchange is the presentation orderBy
    val shuffles = raw"\(\d+\) Exchange\b".r.findAllIn(p).length
    assert(shuffles <= 2, s"diverseSample grew an extra shuffle ($shuffles):\n$p")
  }

  test("hotKeys plans one aggregate + TakeOrderedAndProject, no global sort") {
    // parquet-backed input: a bounded-maxRows LocalRelation would let
    // EliminateLimits remove the k-cut entirely and void the pin
    val recs = graft.sources.EventsAsRecords.records(spark, "/root/testdata/sf0.001")
    val p = plan(graft.operators.TopicMetrics.hotKeys(recs))
    // the k-cut must be the per-partition-heap TakeOrderedAndProject,
    // never a second full Sort over the key domain (the one Sort in
    // the plan belongs to the fixture adapter's offset window)
    assert(p.contains("TakeOrderedAndProject"),
      s"hot-key cut regressed to a global sort:\n$p")
    assert(raw"\(\d+\) Sort\b".r.findAllIn(p).length <= 1,
      s"extra Sort beyond the fixture's offset window:\n$p")
    // ONE aggregation (partial+final pair) on key; the partition
    // spread must ride in it (collect_set), not add an Expand shuffle
    assert(!p.contains("Expand"),
      s"partition spread expanded into a second shuffle:\n$p")
  }

  test("semanticContamination broadcasts eval; corpus is never shuffled with vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.operators.Similarity.semanticContaminationById(emb, 8))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval side should broadcast into one corpus scan:\n$p")
    // allowed shuffles: the train_id aggregate + the presentation sort
    // — both carry verdict rows (id + 3 scalars), never vectors
    val shuffles = raw"\(\d+\) Exchange\b".r.findAllIn(p).length
    assert(shuffles <= 2, s"too many shuffle exchanges ($shuffles):\n$p")
  }

  test("brute-force kNN broadcasts the query side, never the corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.operators.Similarity.knnBruteForce(
      emb, emb.filter(col("vec_id") < 4), 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$p")
    // the corpus must not be shuffled before scoring: the only shuffles
    // allowed are (a) the top-k window's hash partitioning — which sits
    // ABOVE a map-side WindowGroupLimit, so it carries at most
    // k x queries x partitions pruned rows, never the scored cross
    // product — and (b) the final orderBy over k x queries rows.
    // Formatted explain names shuffle nodes "(n) Exchange" in the
    // detail section (tree lines carry '+-' prefixes, so a
    // startsWith("Exchange") count is vacuously 0).
    val shuffles = raw"\(\d+\) Exchange\b".r.findAllIn(p).length
    assert(shuffles <= 2, s"too many shuffle exchanges ($shuffles):\n$p")
    // rank-limit pushdown must prune BELOW the window exchange: two
    // WindowGroupLimit nodes (partial map-side + final) bracket it
    val wgl = raw"\(\d+\) WindowGroupLimit\b".r.findAllIn(p).length
    assert(wgl >= 2, s"expected map-side + final WindowGroupLimit:\n$p")
  }

  test("searchTopK: qterms broadcast into postings; tf exchange shared at runtime") {
    // same Zipf-safety + single-tokenize contract as tokenRarity: the
    // query-term table (limit-bounded) must BROADCAST into the posting
    // stream, and the vocab branch must stage-reuse the (doc_id, term)
    // tf exchange so the corpus tokenizes exactly once
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.TextAnalysis.searchTopK(docs)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"qterms join lost its broadcast:\n$p")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"), executed.take(500))
    assert(executed.contains("ReusedExchange"),
      s"vocab/postings no longer share the tokenize exchange:\n${executed.take(3000)}")
  }

  test("embeddingOutliers: zero exchanges, one TakeOrderedAndProject cut") {
    // the whole operator is a pruned scan + one codegen'd projection +
    // a per-partition-heap bottom-k; parquet-backed input so
    // EliminateLimits cannot void the pin (the hotKeys lesson)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.operators.Similarity.embeddingOutliers(emb))
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k regressed to a global sort:\n$p")
    val shuffles = raw"\(\d+\) Exchange\b".r.findAllIn(p).length
    assert(shuffles == 0, s"cell assignment grew a shuffle ($shuffles):\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(embedding)]"),
      s"null-embedding filter no longer reaches the scan:\n$p")
  }

  test("typeTransitions: user_id window shuffle, probability window stays type-keyed") {
    val events = graft.sources.EventsAsRecords.readEvents(
      spark, "/root/testdata/sf0.001")
    val p = plan(graft.operators.EventAnalytics.typeTransitions(events))
    // the probability window must partition by event_type over the
    // ALREADY-AGGREGATED |types|^2 frame, never a per-user window over
    // raw events; the lead window is the only user-keyed one
    assert(p.contains("windowspecdefinition(event_type"),
      s"probability window lost its type partitioning:\n$p")
    // the count-distinct rewrite must stay the keyed two-phase
    // aggregate, not an Expand blowup of the event stream
    assert(!p.contains("Expand"),
      s"countDistinct expanded the event stream:\n$p")
    // scans prune to the four consumed columns
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp"),
      s"scan reads more than (event_id, ts, user_id, event_type):\n$p")
  }

  test("collocations: marginals broadcast; pair exchange shared at runtime") {
    // one tokenize scan at runtime: the three marginal consumers
    // (left, right, total) must stage-reuse the (w1, w2) pair
    // exchange (reuse-anchored — the tokenRarity discipline), the
    // vocab²-bounded marginals broadcast back onto the pair table,
    // and the k-cut is a TakeOrderedAndProject
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.TextAnalysis.collocations(docs)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"lift top-k regressed to a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"marginal joins lost their broadcast:\n$p")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"), executed.take(500))
    assert(executed.contains("ReusedExchange"),
      s"marginals no longer share the bigram exchange:\n${executed.take(3000)}")
  }

  test("bpe encode: segment fold rides the vocab side; tf exchange shared") {
    // the merge fold must evaluate once per DISTINCT word: the vocab
    // branch re-aggregates the (doc_id, word) tf exchange
    // (reuse-anchored) and carries the fold; the corpus side only
    // joins integer counts back
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Seq(graft.operators.Bpe.Merge(0, "e", "r", 0L),
      graft.operators.Bpe.Merge(1, "t", "h", 0L))
    val df = graft.operators.Bpe.encodeCounts(docs, merges)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"), executed.take(500))
    assert(executed.contains("ReusedExchange"),
      s"vocab/doc branches no longer share the tokenize exchange:\n${executed.take(3000)}")
    // the fold chain must not appear on the corpus-cardinality side:
    // exactly one aggregate carries the lambda evaluation
    assert(raw"aggregate\(".r.findAllIn(
      df.queryExecution.optimizedPlan.toString).nonEmpty)
  }

  test("cellBaseline: no vector shuffle; counts exchange shared at runtime") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = graft.operators.Similarity.cellBaseline(emb)
    val p = plan(df)
    // cell assignment must remain the shuffle-free argmax projection:
    // every exchange in the plan carries (cid, count) rows, never
    // corpus vectors — no hashpartitioning on vec_id or unit anywhere
    assert(!p.contains("hashpartitioning(vec_id") &&
      !p.contains("hashpartitioning(unit"),
      s"cell profile shuffles corpus vectors:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"total lost its 1-row broadcast:\n$p")
    // the total branch re-aggregates the SAME counts exchange (the
    // reuseAnchor discipline) — adjudicated on the executed plan
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"), executed.take(500))
    assert(executed.contains("ReusedExchange"),
      s"total no longer shares the counts exchange:\n${executed.take(3000)}")
  }

  test("label-table consumers: parquet scan, zero propagation rounds, twin-identical") {
    val docs = table("documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-labels").toString
    try {
      graft.operators.Dedup.writeDedupLabels(docs, dir)
      // the writer releases its own checkpoint: session back to the
      // persistent-RDD fixed point immediately after the write
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        "writeDedupLabels leaked its label checkpoint")
      val labels = graft.operators.Dedup.readDedupLabels(spark, dir)
      val derived = Seq(
        "splitLeakage" -> graft.operators.CorpusOps.splitLeakageFromLabels(labels),
        "repairSplits" -> graft.operators.CorpusOps.repairSplitsFromLabels(labels),
        "bestOfCluster" -> graft.operators.CorpusOps.bestOfClusterFromLabels(docs, labels),
        "qualityDupProfile" -> graft.operators.Dedup.qualityDupProfileFromLabels(docs, labels))
      derived.foreach { case (name, df) =>
        // ZERO propagation rounds: the plan must contain no checkpoint
        // scan (LogicalRDD is how a localCheckpoint re-enters a plan)
        // — the labels arrive via a plain parquet file scan
        val rdds = df.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l
        }
        assert(rdds.isEmpty, s"$name still embeds a propagation checkpoint")
        assert(plan(df).contains("Scan parquet"), s"$name lost the labels scan")
      }
      // executing a derived query creates no checkpoints at all
      val before = spark.sparkContext.getPersistentRDDs.size
      derived.foreach(_._2.collect())
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        "derived audit ran a propagation round")
      // hash-identical to the recomputing twins (the shared-oracle claim)
      val twins = Seq(
        "splitLeakage" -> graft.operators.CorpusOps.splitLeakage(docs),
        "repairSplits" -> graft.operators.CorpusOps.repairSplits(docs),
        "bestOfCluster" -> graft.operators.CorpusOps.bestOfCluster(docs),
        "qualityDupProfile" -> graft.operators.Dedup.qualityDupProfile(docs))
      derived.zip(twins).foreach { case ((name, ix), (_, tw)) =>
        val same = rowsOf(ix) == rowsOf(tw)
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpoint(tw)
        assert(same, s"$name: indexed twin diverged from recomputing twin")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("alive-key reductions: codegen'd hash aggregates, no sort, no value in a shuffle") {
    // LastWrite's fixed-width buffer keeps each AliveKeys reduction a
    // map-side-partial HashAggregate; the struct-ordered max_by it
    // replaced planned Sort → SortAggregate on both sides of the
    // shuffle, with every record's value bytes in the map-side sort
    import org.apache.spark.sql.execution.{SortExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.AliveKeys
    object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("graft-alive-plan").toString
    try {
      records((0, 0L, 1000L, "a", "x"), (1, 5L, 1000L, "a", null),
        (0, 1L, 1000L, "b", "y"), (1, 6L, 1000L, null, "z"))
        .write.mode("overwrite").parquet(dir)
      val recs = spark.read.parquet(dir)
      Seq("key" -> AliveKeys.exactFrame(recs),
          "hash" -> AliveKeys.approxFrame(recs),
          "bucket" -> AliveKeys.approxFnv32Frame(recs)).foreach {
        case (group, df) =>
          assert(df.collect()(0).getLong(0) == 1L)
          val p = df.queryExecution.executedPlan
          val keyed = aqe.collect(p) {
            case a: HashAggregateExec
              if a.groupingExpressions.map(_.name) == Seq(group) => a
          }
          assert(keyed.size == 2, s"$group: expected partial + final:\n$p")
          val codegen = aqe.collect(p) {
            case w: WholeStageCodegenExec => w.child.collect {
              case a: HashAggregateExec => a
            }
          }.flatten
          assert(keyed.forall(k => codegen.exists(_ eq k)),
            s"$group: aggregate fell out of whole-stage codegen:\n$p")
          val sorts = aqe.collect(p) {
            case a: SortAggregateExec => a
            case s: SortExec => s
          }
          assert(sorts.isEmpty, s"$group: sort-based plan:\n$p")
          val valueShuffles = aqe.collect(p) {
            case e: ShuffleExchangeExec if e.output.exists(_.name == "value") => e
          }
          assert(valueShuffles.isEmpty, s"$group: value bytes shuffled:\n$p")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("sharedSpans: island window partitions by pair AND diagonal") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.operators.Dedup.sharedSpans(docs))
    // the run-numbering window must carry the alignment diagonal in
    // its partition spec: dropping it would serialize each PAIR's
    // full match set through one island ordering and chain unrelated
    // alignments into bogus runs
    val specs = raw"windowspecdefinition\([^)]*\)".r.findAllIn(p).toList
      .filter(_.contains("pos_a"))
    assert(specs.nonEmpty, s"expected the island window:\n$p")
    specs.foreach(w => assert(
      w.contains("doc_a") && w.contains("doc_b") && w.contains("diag"),
      s"island window lost a partition key: $w"))
  }
}
