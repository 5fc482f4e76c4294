package graft

import scala.util.Random

import org.apache.spark.sql.Column

import graft.operators.{AliveKeys, TopicMetrics}

/** Randomized invariant tests (SURVEY §5.2(2)): metric identities and
  * the alive-key brute-force oracle over seeded random record streams,
  * including cross-partition permutation invariance.
  */
class InvariantsSpec extends SparkSuite {

  private def randomRecords(seed: Long, n: Int): Seq[(Int, Long, Long, String, String)] = {
    val rnd = new Random(seed)
    val offsets = collection.mutable.Map.empty[Int, Long]
    (0 until n).map { _ =>
      val p = rnd.nextInt(4)
      val o = offsets.getOrElse(p, 0L)
      offsets(p) = o + 1
      val key = if (rnd.nextInt(10) == 0) null
        else s"k${rnd.nextInt(20)}"                   // duplicate keys likely
      val value = if (rnd.nextInt(5) == 0) null       // 20% tombstones
        else "v" * (1 + rnd.nextInt(8))
      (p, o, 1000L + rnd.nextInt(100000), key, value)
    }
  }

  test("metric identities hold over random streams") {
    for (seed <- 1L to 8L) {
      val rows = randomRecords(seed, 200)
      val stats = rowsOf(TopicMetrics.report(records(rows: _*)))
      stats.foreach { p =>
        assert(p("total") == p("alive").asInstanceOf[Long] + p("tombstones").asInstanceOf[Long])
        assert(p("total") == p("key_null").asInstanceOf[Long] + p("key_non_null").asInstanceOf[Long])
        assert(p("p_bytes") == p("key_bytes").asInstanceOf[Long] + p("value_bytes").asInstanceOf[Long])
        val dr = p("dirty_ratio").asInstanceOf[Double]
        assert(dr >= 0.0 && dr <= 100.0)
      }
      val summary = TopicAnalyzer.analyze(records(rows: _*)).summary
      assert(summary.overall_count == rows.length.toLong)
      assert(summary.overall_count == stats.map(_("total").asInstanceOf[Long]).sum)
      assert(summary.overall_bytes == stats.map(_("p_bytes").asInstanceOf[Long]).sum)
      if (stats.exists(_("alive").asInstanceOf[Long] > 0))
        assert(summary.smallest_msg <= summary.largest_msg)
    }
  }

  test("alive keys match the brute-force last-write-per-key oracle") {
    for (seed <- 1L to 8L) {
      val rows = randomRecords(seed, 300)
      val expected = rows
        .filter(_._4 != null)
        .groupBy(_._4)
        .count { case (_, rs) =>
          val last = rs.maxBy(r => (r._1, r._2)) // (partition, offset)
          last._5 != null
        }
      assert(AliveKeys.exact(records(rows: _*)) == expected.toLong)
    }
  }

  /** The struct-ordered `max_by` form [[graft.functions.LastWrite]]
    * replaced, kept here as the reference: alive groups of `group`. */
  private def maxByAlive(recs: org.apache.spark.sql.DataFrame,
      group: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    recs.filter(col("key").isNotNull)
      .groupBy(group.as("g"))
      .agg(max_by(col("value").isNull,
        struct(col("partition"), col("offset"))).as("dead"))
      .agg(count_if(!col("dead"))).collect()(0).getLong(0)
  }

  test("alive keys stay exact at the (partition, offset) encoding's edges") {
    // signed extremes on both ordering fields, keys written in several
    // partitions with a LOWER offset in the HIGHER partition, and the
    // same rows at 1, 3 and 7 input partitions so merge order varies.
    // Each layout runs again with the hash aggregate forced into its
    // sort-based fallback after 2 rows, which merges LastWrite buffers
    // through mergeExpressions instead of the hash map.
    import org.apache.spark.sql.functions.col
    val parts = Seq(Int.MinValue, -1, 0, Int.MaxValue)
    val offs = Seq(Long.MinValue, -1L, 0L, 1L << 40, Long.MaxValue)
    val pinned = Seq(
      (Int.MinValue, Long.MaxValue, 0L, "dead-by-partition", "v"),
      (Int.MaxValue, Long.MinValue, 0L, "dead-by-partition", null),
      (-1, Long.MaxValue, 0L, "alive-by-partition", null),
      (0, Long.MinValue, 0L, "alive-by-partition", "v"))
    val slots = for (p <- parts; o <- offs) yield (p, o)
    val fallbackKey = "spark.sql.TungstenAggregate.testFallbackStartsAt"
    for (seed <- 1L to 6L) {
      val rnd = new Random(seed)
      val rows = pinned ++ rnd.shuffle(slots.filterNot(s =>
          pinned.exists(r => (r._1, r._2) == s)))
        .take(12 + rnd.nextInt(5)).map { case (p, o) =>
          (p, o, 0L, if (rnd.nextInt(8) == 0) null else s"k${rnd.nextInt(4)}",
            if (rnd.nextInt(3) == 0) null else "v")
        }
      val expected = rows.filter(_._4 != null).groupBy(_._4)
        .count { case (_, rs) => rs.maxBy(r => (r._1, r._2))._5 != null }
      for (n <- Seq(1, 3, 7)) {
        val recs = records(new Random(seed * 31 + n).shuffle(rows): _*)
          .repartition(n)
        assert(recs.rdd.getNumPartitions == n)
        assert(maxByAlive(recs, col("key")) == expected.toLong)
        val fnv = maxByAlive(recs, graft.functions.Fnv32.fnv32(col("key")))
        for (fallback <- Seq(None, Some("1,2"))) {
          val ctx = s"seed=$seed partitions=$n fallback=$fallback"
          fallback.foreach(spark.conf.set(fallbackKey, _))
          try {
            assert(AliveKeys.exact(recs) == expected.toLong, ctx)
            assert(rowsOf(AliveKeys.approxFnv32Frame(recs))
              .head("alive_keys_fnv32") == fnv, ctx)
          } finally spark.conf.unset(fallbackKey)
        }
      }
    }
  }

  /** `df`'s rows in a canonical order, each double as its bits (NaN
    * equals NaN, -0.0 differs from 0.0), except that the `byValue`
    * columns read a zero of either sign as 0.0. */
  private def exactRows(df: org.apache.spark.sql.DataFrame,
      byValue: Set[String] = Set.empty): Seq[Seq[Any]] = {
    val cols = df.columns.toSeq
    df.collect().toSeq.map(r => cols.indices.map(i => r.get(i) match {
      case d: Double if byValue(cols(i)) && d == 0.0 => 0L
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    })).sortBy(_.mkString(","))
  }

  test("LastWrite.bestId and compactionEstimate pick the rows the max_by/max(struct) forms they replaced pick") {
    // The Spark forms each site ran before LastWrite, kept here only as
    // the reference. Best-of-cluster, semantic decontamination and
    // contrastive positives each reduce with LastWrite.bestId beside a
    // count or max; each of those aggregate lists runs against its old
    // form. Scores cover null (lowest), NaN (highest, equal to NaN),
    // -0.0 = 0.0, all-null groups, null ids and ties broken by the id;
    // compaction keys end on a tombstone, a zero-length value, or live
    // on two partitions. Each layout runs at 1, 3 and 7 input
    // partitions, then again with the hash aggregate forced into its
    // sort-based fallback after 2 rows, which merges buffers through
    // mergeExpressions.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.functions.LastWrite
    val s = spark
    import s.implicits._
    val nan = Double.NaN
    val scored = Seq[(Long, Option[Long], Option[Double])](
      (1L, Some(4L), None), (1L, Some(2L), None), (1L, Some(9L), None),
      (2L, Some(1L), None), (2L, Some(6L), Some(0.25)), (2L, Some(3L), Some(-1.0)),
      (3L, Some(5L), Some(nan)), (3L, Some(2L), Some(Double.PositiveInfinity)),
      (3L, Some(8L), Some(nan)), (3L, Some(1L), None),
      (4L, Some(5L), Some(0.0)), (4L, Some(3L), Some(-0.0)),
      (4L, Some(9L), Some(-1e-300)),
      (5L, Some(7L), Some(0.5)), (5L, Some(2L), Some(0.5)),
      (5L, Some(9L), Some(0.5)), (5L, Some(4L), Some(0.4999)),
      (6L, None, Some(1.0)), (6L, Some(4L), Some(0.5)),
      (7L, Some(11L), Some(Double.NegativeInfinity)),
      (8L, None, None), (8L, None, None))
    // (site, its aggregates over (g, id, score), their old form). The
    // `top` max compares by value: Spark's max keeps the first of -0.0
    // and 0.0 it meets, so its sign depends on the plan's row order;
    // the old max(struct) took the positive's score from the winner.
    def by(aggs: Column*): DataFrame => DataFrame =
      _.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
    val best = LastWrite.bestId(col("id"), col("score")).as("best")
    val maxBy = max_by(col("id"), struct(col("score"), -col("id"))).as("best")
    val sites = Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)](
      ("CorpusOps.bestOfClusterFromLabels",
        by(count(lit(1)).as("n"), best, max(col("score")).as("top")),
        by(count(lit(1)).as("n"), maxBy, max(col("score")).as("top"))),
      ("Similarity.semanticContamination",
        by(count(lit(1)).as("n"), best, round(max(col("score")), 6).as("top")),
        by(count(lit(1)).as("n"), maxBy, round(max(col("score")), 6).as("top"))),
      ("Similarity.contrastiveTriplets",
        by(best, max(col("score")).as("top")),
        by(max(struct(col("score"), (-col("id")).as("nid"))).as("m"))
          .andThen(_.select(col("g"), (-col("m.nid")).as("best"),
            col("m.score").as("top")))))
    def compactionBefore(records: DataFrame): DataFrame = {
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
    }
    val log = Seq(
      (0, 1L, 0L, "t", "a"), (0, 5L, 0L, "t", null),
      (0, 2L, 0L, "z", "abc"), (0, 7L, 0L, "z", ""),
      (1, 3L, 0L, "z", null), (1, 1L, 0L, "z", "q"),
      (1, Long.MinValue, 0L, "m", "x"), (1, Long.MaxValue, 0L, "m", "yy"),
      (1, 0L, 0L, "m", null), (0, 9L, 0L, null, "nokey"),
      (1, 8L, 0L, null, null), (2, 4L, 0L, "e", null), (0, -1L, 0L, "w", ""))
    val fallbackKey = "spark.sql.TungstenAggregate.testFallbackStartsAt"
    for (seed <- 1L to 2L; n <- Seq(1, 3, 7)) {
      val rnd = new Random(seed * 31 + n)
      val input = rnd.shuffle(scored).toDF("g", "id", "score").repartition(n)
      // plus a key whose only record has no offset, which max_by skipped
      val recs = records(rnd.shuffle(log): _*)
        .union(records((2, 0L, 0L, "n", "v"))
          .withColumn("offset", lit(null).cast("long")))
        .repartition(n)
      assert(input.rdd.getNumPartitions == n && recs.rdd.getNumPartitions == n)
      val cases = sites.map { case (name, site, reference) =>
        (name, () => exactRows(site(input), Set("top")),
          exactRows(reference(input), Set("top")))
      } :+ ("compactionEstimate",
        () => exactRows(AliveKeys.compactionEstimate(recs)),
        exactRows(compactionBefore(recs)))
      for (fallback <- Seq(None, Some("1,2"))) {
        fallback.foreach(spark.conf.set(fallbackKey, _))
        try cases.foreach { case (name, got, expected) =>
          assert(got() == expected,
            s"$name seed=$seed partitions=$n fallback=$fallback")
        } finally spark.conf.unset(fallbackKey)
      }
    }
    // a variable-width input is refused at analysis, never planned as
    // a sort-based aggregate
    val refused = intercept[org.apache.spark.sql.AnalysisException](
      scored.toDF("g", "id", "score").groupBy(col("g"))
        .agg(LastWrite.argMax(
          col("id").cast("string"), col("score"))).collect())
    assert(refused.getMessage.contains("graft_last_write"))
  }

  test("metrics invariant under cross-partition record permutation") {
    val rows = randomRecords(42L, 300)
    val shuffled = new Random(7).shuffle(rows)
    assert(rowsOf(TopicMetrics.report(records(rows: _*))) ==
      rowsOf(TopicMetrics.report(records(shuffled: _*))))
    assert(AliveKeys.exact(records(rows: _*)) ==
      AliveKeys.exact(records(shuffled: _*)))
  }

  test("bucketed offset gaps match a brute-force oracle on random sparse sets") {
    // the bucketed stitch has real edge cases (runs straddling bucket
    // boundaries, runs spanning wholly-empty buckets, single-offset
    // partitions) — sweep random sparse offset sets × bucket sizes
    // against a sequential reference computation
    for (seed <- 1L to 8L) {
      val rnd = new Random(seed * 131)
      val byPartition = (0 until 3).map { p =>
        val n = 1 + rnd.nextInt(40)
        p -> Iterator.continually(rnd.nextInt(120).toLong)
          .take(200).toSet.take(n).toSeq.sorted
      }.toMap
      val rows = byPartition.toSeq.flatMap { case (p, offs) =>
        offs.map(o => (p, o, 1000L, "k", "v"))
      }
      val expected = byPartition.map { case (p, offs) =>
        val gaps = offs.sliding(2).collect {
          case Seq(a, b) if b - a > 1 => b - a - 1
        }.toSeq
        p -> (offs.size.toLong, offs.head, offs.last,
          offs.last - offs.head + 1 - offs.size,
          gaps.size.toLong, if (gaps.isEmpty) 0L else gaps.max)
      }
      for (b <- Seq(1L, 2L, 7L, 64L, 4096L)) {
        val got = rowsOf(TopicMetrics.offsetGaps(records(rows: _*), b))
          .map(m => m("partition").asInstanceOf[Int] ->
            (m("n"), m("lo"), m("hi"), m("missing"), m("n_gaps"),
              m("max_gap"))).toMap
        assert(got == expected, s"seed=$seed bucket=$b")
      }
    }
  }

  test("minLabelClosure equals the component-min fixpoint on random graphs") {
    // the driver-local union-find must reproduce labelPropagate's
    // semantics EXACTLY (label = min id reachable in the symmetrized
    // graph) — the assignDedupLabels fast path silently swaps one in
    // for the other, so the equivalence is load-bearing
    val rnd = new Random(20260814L)
    for (_ <- 1 to 200) {
      val n = 1 + rnd.nextInt(30)
      val edges = Array.fill(rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = graft.operators.Dedup.minLabelClosure(edges)
      // brute force: BFS components over the symmetrized adjacency
      val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
      def link(a: Long, b: Long): Unit =
        adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      edges.foreach { case (a, b) => link(a, b); link(b, a) }
      val expected = collection.mutable.Map.empty[Long, Long]
      val seen = collection.mutable.Set.empty[Long]
      adj.keys.foreach { v =>
        if (!seen(v)) {
          val comp = collection.mutable.Set(v)
          val queue = collection.mutable.Queue(v)
          while (queue.nonEmpty)
            adj(queue.dequeue()).foreach(u =>
              if (comp.add(u)) queue.enqueue(u))
          val m = comp.min
          comp.foreach { u => expected(u) = m; seen += u }
        }
      }
      assert(got == expected.toMap,
        s"closure mismatch on ${edges.toSeq}")
    }
  }

  test("frozen-corpus assignment equals full recompute restricted to the batch") {
    // The theorem the assignDedupLabels scaladoc leans on, checked
    // generatively: corpus clusters are transitively CLOSED, so there
    // are no corpus-corpus edges across clusters, every union-graph
    // path from a batch doc alternates batch docs and within-cluster
    // corpus docs, and a cluster's min id IS its cluster id — hence
    // min-over-component computed against frozen (cluster-id) vertices
    // equals min-over-component of the full recompute, for every batch
    // doc, uncapped. Only the CORPUS table lags (bridge-induced merges
    // are not retroactively recorded) — batch assignments do not.
    val s = spark
    import s.implicits._
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")
    for (seed <- 1 to 3) {
      val rnd = new Random(seed * 17)
      def doc(): String =
        Seq.fill(5 + rnd.nextInt(7))(pool(rnd.nextInt(pool.size))).mkString(" ")
      // base docs plus mutated near-copies so clusters actually form
      val bases = Vector.fill(6)(doc())
      def variant(): String = {
        val toks = bases(rnd.nextInt(bases.size)).split(" ").toBuffer
        if (rnd.nextBoolean()) toks += pool(rnd.nextInt(pool.size))
        toks.mkString(" ")
      }
      val all = (0 until 24).map(i =>
        (i.toLong, if (rnd.nextBoolean()) variant() else doc()))
      val corpus = all.filter(_._1 % 3 != 0).toDF("doc_id", "text")
      val batch = all.filter(_._1 % 3 == 0).toDF("doc_id", "text")
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-asgn-gen$seed").toString
      try {
        graft.operators.Dedup.writeDedupIndex(corpus, s"$root/idx")
        graft.operators.Dedup.writeDedupLabels(corpus, s"$root/lbl",
          threshold = 0.4)
        val assigned = rowsOf(graft.operators.Dedup.assignDedupLabels(
            s"$root/idx", s"$root/lbl", batch))
          .map(r => r("doc_id") -> r("cluster")).toMap
        val fullFrame = graft.operators.Dedup.nearDupLabels(
          all.toDF("doc_id", "text"), threshold = 0.4)
        val full = rowsOf(fullFrame)
          .map(r => r("doc_id").asInstanceOf[Long] -> r("cluster")).toMap
        org.apache.spark.sql.graftbridge.ColumnBridge
          .unpersistCheckpoint(fullFrame)
        val fullBatch = full.view.filterKeys(_ % 3 == 0).toMap
        assert(assigned == fullBatch,
          s"seed=$seed: frozen assignment diverged from full recompute\n" +
            s"assigned: $assigned\nfull:     $fullBatch")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      }
    }
  }
}
