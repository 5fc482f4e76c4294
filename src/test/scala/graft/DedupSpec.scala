package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSuite {

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while rain falls on the green hills " +
      "and a river runs through the quiet valley under a pale morning sky"

  test("exact dedup groups normalized duplicates under smallest doc_id") {
    val d = docs(
      1L -> "Hello   World",
      2L -> "hello world",   // same after normalization
      3L -> "something else")
    val r = rowsOf(Dedup.exact(d).orderBy(col("canonical_doc_id")))
    assert(r.length == 2)
    assert(r.head("canonical_doc_id") == 1L && r.head("dup_count") == 2L)
  }

  test("null-text docs: never duplicates of each other, never banded, still audited") {
    // round-15 review findings: (a) exact() grouped every null-text
    // doc under the single null fingerprint — a consumer dropping
    // non-canonical members would delete unrelated documents; (b) the
    // band table gave them all band_sig "" (concat_ws over a null
    // array), one degenerate bucket self-joining quadratically; (c)
    // the ngram audits dropped them entirely, so an all-null source
    // vanished from the profile
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, base), (2L, base),             // one real duplicate pair
      (3L, null.asInstanceOf[String]),    // three docs with no text:
      (4L, null.asInstanceOf[String]),    // not duplicates of anything,
      (5L, null.asInstanceOf[String]))    // least of all each other
      .toDF("doc_id", "text")
    // exact: no null-fingerprint group; the real pair still collapses
    val ex = rowsOf(Dedup.exact(d).orderBy(col("canonical_doc_id")))
    assert(ex.length == 1 && ex.head("dup_count") == 2L,
      s"null-text docs grouped as duplicates: $ex")
    // banding: null-text docs produce NO band rows (no "" bucket)
    val bands = rowsOf(graft.operators.Dedup
      .bandFrame(d, numHashes = 16, bands = 4, shingleN = 3))
    assert(bands.forall(b => Set(1L, 2L).contains(b("doc_id").asInstanceOf[Long])),
      "null-text doc entered the band table")
    assert(rowsOf(Dedup.minhashPairs(d)).forall(p =>
      p("doc_a") == 1L && p("doc_b") == 2L))
    // audits: null-text docs surface with zero totals, never drop out
    val dn = rowsOf(Dedup.duplicatedNgrams(d))
      .map(m => m("doc_id") -> m).toMap
    assert(dn.keySet == Set(1L, 2L, 3L, 4L, 5L),
      s"audit lost docs: ${dn.keySet}")
    assert(dn(3L)("total_ngrams") == 0L && dn(3L)("dup_frac") == 0.0)
    assert(dn(1L)("dup_frac") == 1.0)
    // an all-null source appears in the profile with zero totals
    val withSrc = d.withColumn("source",
      when(col("doc_id") <= 2L, "real").otherwise("ghost"))
    val prof = rowsOf(Dedup.sourceDupProfile(withSrc))
      .map(m => m("source") -> m).toMap
    assert(prof.keySet == Set("real", "ghost"),
      s"all-null source vanished: ${prof.keySet}")
    assert(prof("ghost")("n_docs") == 3L &&
      prof("ghost")("total_ngrams") == 0L &&
      prof("ghost")("dup_ratio") == 0.0)
  }

  test("minhash LSH finds planted near-duplicate, skips unrelated") {
    val d = docs(
      1L -> base,
      2L -> (base + " extra trailing words here"), // high jaccard with 1
      3L -> "completely different text about spark catalyst optimizer rules and physical plans for distributed aggregation at scale")
    val pairs = rowsOf(Dedup.minhashPairs(d, threshold = 0.3))
    assert(pairs.exists(p => p("doc_a") == 1L && p("doc_b") == 2L))
    assert(!pairs.exists(p => p("doc_b") == 3L || p("doc_a") == 3L))
  }

  test("duplicated-ngram audit matches brute-force document frequencies") {
    val d = docs(
      1L -> base,                      // shares all shingles with 2
      2L -> base,                      // exact copy → dup_frac 1.0
      3L -> (base + " extra trailing words here"), // partial overlap
      4L -> "unrelated words entirely disjoint from the others completely")
    val got = rowsOf(Dedup.duplicatedNgrams(d))
      .map(r => r("doc_id") -> r).toMap
    // brute force: distinct 3-gram shingles, df >= 2
    def sh(t: String) = t.toLowerCase.split("\\s+").sliding(3)
      .map(_.mkString(" ")).toSet
    val texts = Map(1L -> base, 2L -> base,
      3L -> (base + " extra trailing words here"),
      4L -> "unrelated words entirely disjoint from the others completely")
    val all = texts.values.toSeq.flatMap(t => sh(t).toSeq)
      .groupBy(identity).view.mapValues(_.size).toMap
    texts.foreach { case (id, t) =>
      val mine = sh(t)
      val dup = mine.count(all(_) >= 2)
      assert(got(id)("total_ngrams") == mine.size.toLong, s"total doc $id")
      assert(got(id)("dup_ngrams") == dup.toLong, s"dup doc $id")
      assert(got(id)("dup_frac").asInstanceOf[Double]
        == dup.toDouble / mine.size, s"frac doc $id")
    }
    assert(got(1L)("dup_frac") == 1.0 && got(2L)("dup_frac") == 1.0)
    assert(got(4L)("dup_frac") == 0.0)
  }

  test("per-source dup profile: boilerplate source flagged, clean source at zero") {
    val s = spark
    import s.implicits._
    val d = Seq(
      // spam: one template, three "documents"
      (1L, base, "spam"), (2L, base, "spam"), (3L, base, "spam"),
      // clean: mutually disjoint texts, disjoint from the template
      (4L, "unrelated words entirely disjoint from the others completely", "clean"),
      (5L, "catalyst rules rewrite logical plans before physical strategies run", "clean"))
      .toDF("doc_id", "text", "source")
    val got = rowsOf(Dedup.sourceDupProfile(d))
      .map(r => r("source") -> r).toMap
    assert(got("spam")("n_docs") == 3L)
    assert(got("spam")("dup_ratio") == 1.0) // every shingle in 3 docs
    assert(got("clean")("n_docs") == 2L)
    assert(got("clean")("dup_ratio") == 0.0) // no shingle repeats anywhere
    // totals are shingle OCCURRENCES (per doc), not distinct shingles
    def sh(t: String) = t.toLowerCase.split("\\s+").sliding(3)
      .map(_.mkString(" ")).toSet.size
    assert(got("spam")("total_ngrams") == 3L * sh(base))
  }

  test("ngram jaccard pairs match brute-force jaccard") {
    val d = docs(1L -> base, 2L -> (base + " extra words appended"),
      3L -> "unrelated words entirely disjoint from the others completely")
    val got = rowsOf(Dedup.ngramJaccardPairs(d, threshold = 0.1))
    // brute force for pair (1,2)
    def sh(t: String) = t.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val (s1, s2) = (sh(base), sh(base + " extra words appended"))
    val expected = s1.intersect(s2).size.toDouble / s1.union(s2).size
    val p12 = got.find(p => p("doc_a") == 1L && p("doc_b") == 2L).get
    assert(math.abs(p12("jaccard").asInstanceOf[Double] - expected) < 1e-12)
  }

  test("near-dup clusters: transitive closure, singletons label themselves") {
    // 1-2 near-dup chain (transitively one cluster), 3 unrelated
    val d = docs(
      1L -> base,
      2L -> (base + " tail one"),
      3L -> (base + " tail one tail two"),
      4L -> "entirely different content about query planners and shuffles and joins at massive scale everywhere")
    val clusters = rowsOf(Dedup.nearDupClusters(d, threshold = 0.3))
      .map(r => r("doc_id") -> r("cluster")).toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(4L) == 4L)
    // one extra propagation round is a fixpoint
    val more = rowsOf(Dedup.nearDupClusters(d, threshold = 0.3, maxIters = 6))
      .map(r => r("doc_id") -> r("cluster")).toMap
    assert(more == clusters)
  }

  test("bucketed clustering matches the checkpoint variant on the real corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ndb").toString
    try {
      val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val expect = rowsOf(Dedup.nearDupClusters(d))
        .map(r => r("doc_id") -> r("cluster")).toMap
      val got = rowsOf(Dedup.nearDupClustersBucketed(d, dir, buckets = 4))
        .map(r => r("doc_id") -> r("cluster")).toMap
      assert(got == expect)
      // loop hygiene: only the final labels parquet survives — all
      // superseded rounds, the edge store, and every catalog entry are
      // gone (bench reruns must not accumulate tables or files)
      val left = new java.io.File(dir).listFiles().map(_.getName).toSet
      assert(left.forall(_.startsWith("labels_")) && left.size == 1,
        s"stale state left behind: $left")
      assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith("graft_ndb_")), "catalog entries leaked")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("jump compaction shrinks rounds on a deep-chain graph, same labels") {
    // a 16-doc PATH graph — each doc shares a 30-token sliding window
    // with its neighbors only (threshold 0.9 keeps J≈0.93 consecutive
    // pairs, drops J≈0.87 distance-2 pairs) — the worst case for
    // one-hop propagation: the min label crawls one edge per round.
    // Jump rounds must converge the same labels in fewer rounds.
    val words = (0 until 60).map(i => f"t$i%02d")
    val chainDocs = (0 until 16).map { i =>
      (i + 1).toLong -> words.slice(i, i + 31).mkString(" ")
    }
    val d = docs(chainDocs: _*)
    val dirA = java.nio.file.Files.createTempDirectory("graft-ndb-chainA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ndb-chainB").toString
    try {
      val (dfNo, roundsNo) = Dedup.nearDupClustersBucketedCounted(
        d, dirA, buckets = 4, threshold = 0.9, jumpEvery = 0)
      val a = rowsOf(dfNo).map(r => r("doc_id") -> r("cluster")).toMap
      val (dfJump, roundsJump) = Dedup.nearDupClustersBucketedCounted(
        d, dirB, buckets = 4, threshold = 0.9, jumpEvery = 4)
      val b = rowsOf(dfJump).map(r => r("doc_id") -> r("cluster")).toMap
      assert(a == b)
      // the fixture really is one chain: everything labels to doc 1
      assert(a.values.toSet == Set(1L), s"chain broke: $a")
      assert(roundsJump < roundsNo,
        s"jump rounds ($roundsJump) not fewer than one-hop-only ($roundsNo)")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirA))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirB))
    }
  }

  test("bucketed clustering on an all-unique corpus: every doc its own cluster") {
    // the empty-pair-graph short circuit (review-caught: a zero-row
    // bucketed labels table has no parquet data files, so the final
    // by-path read cannot infer a schema and crashed)
    val dir = java.nio.file.Files.createTempDirectory("graft-ndb-empty").toString
    try {
      val d = docs(
        1L -> "entirely different content about query planners everywhere",
        2L -> "completely unrelated prose concerning streaming watermarks",
        3L -> "a third thing on bucketed storage layouts and pruning")
      val got = rowsOf(Dedup.nearDupClustersBucketed(d, dir, buckets = 4))
        .map(r => r("doc_id") -> r("cluster")).toMap
      assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
      assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith("graft_ndb_")), "catalog entries leaked")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("observed convergence: correct verdicts, no job beyond the write itself") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ndb-obs").toString
    def cleanup(): Unit = {
      Seq("obs_edges", "obs_r1", "obs_r2", "obs_base")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    try {
      // 3-doc chain 1–2–3: the seed labels 3 as 2, so round 1 CHANGES
      // (3 joins cluster 1 through 2's label) and round 2 is a fixpoint
      val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
        .toDF("doc_a", "doc_b")
      graft.sources.CorpusStore.writeBucketed(
        sym, "obs_edges", s"$dir/edges", 4, bucketCol = "doc_b")
      val edges = spark.table("obs_edges")
      val seed = edges.groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("doc_b")).as("nbr_min"))
        .select(col("doc_id"),
          least(col("doc_id"), col("nbr_min")).as("cluster"))
      val conv1 = Dedup.writeRoundObserved(
        Dedup.propagationRound(edges, seed), "obs_r1", s"$dir/r1", 4)
      assert(!conv1, "a label-changing round must not report convergence")
      val labels1 = spark.table("obs_r1").select(col("doc_id"), col("cluster"))
      assert(rowsOf(labels1.orderBy("doc_id")).map(_("cluster")) ==
        Seq(1L, 1L, 1L))
      // the fixpoint round, twice over the same frame: once through the
      // bare bucketed write (baseline job count) and once through the
      // observed write. Equal counts prove the convergence verdict rides
      // INSIDE the write job — the old shape's separate post-write
      // filter scan would show up as an extra job here.
      def countJobs(run: => Unit): Long =
        RunRecorder(spark).window(run)._2.jobs
      val baseJobs = countJobs {
        graft.sources.CorpusStore.writeBucketed(
          Dedup.propagationRound(edges, labels1), "obs_base", s"$dir/base", 4)
      }
      var conv2 = false
      val obsJobs = countJobs {
        conv2 = Dedup.writeRoundObserved(
          Dedup.propagationRound(edges, labels1), "obs_r2", s"$dir/r2", 4)
      }
      assert(conv2, "a fixpoint round must report convergence")
      assert(obsJobs == baseJobs,
        s"observed write ran $obsJobs jobs vs $baseJobs bare — " +
          "the convergence check launched its own scan")
    } finally cleanup()
  }

  test("hot-bucket cap: degenerate identical-doc buckets are skipped, " +
      "under-cap pairs survive") {
    // the corpus dedup exists for: a pile of identical boilerplate docs
    // (every band bucket hot) PLUS one genuine near-dup pair whose
    // buckets stay at size 2. The cap must kill the quadratic bucket
    // and keep the planted pair — the documented recall trade.
    val boiler = (10L to 29L).map(_ -> "empty boilerplate page nothing to see here at all today")
    val planted = Seq(1L -> base, 2L -> (base + " extra trailing words here"))
    val d = docs((boiler ++ planted): _*)
    val uncapped = rowsOf(Dedup.minhashPairs(d, threshold = 0.3))
    // 20 identical docs → C(20,2)=190 mutual pairs + the planted one
    assert(uncapped.length == 191)
    val capped = rowsOf(Dedup.minhashPairs(d, threshold = 0.3, maxBucket = Some(5)))
    assert(capped.length == 1 && capped.head("doc_a") == 1L &&
      capped.head("doc_b") == 2L,
      s"cap should keep exactly the planted under-cap pair: $capped")
    // same contract on the simhash side
    val simCapped = rowsOf(Dedup.simhashPairs(d, maxBucket = Some(5)))
    assert(!simCapped.exists(p => p("doc_a").asInstanceOf[Long] >= 10L),
      s"hot-bucket members must not pair under the cap: $simCapped")
    // plan shape: the guard is an anti-join against the over-cap
    // bucket list (unhinted — AQE broadcasts it while it fits)
    val p = Dedup.minhashPairs(d, maxBucket = Some(5))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LeftAnti"), s"expected an anti-join guard:\n$p")
  }

  test("label checkpoint release: unpersistCheckpoint on a DERIVED frame " +
      "returns the session to its persistent-RDD fixed point") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val d = docs(
      1L -> base,
      2L -> (base + " tail one"),
      3L -> "completely unrelated content about distributed join strategies and exchanges")
    // a consumer-shaped plan: aggregate OVER the labels, not the labels
    // themselves — the release handle must find the checkpoint through
    // the derived plan, because that is all a real caller still holds.
    // Pin by the checkpoint's OWN rdd ids, not the global persistent-RDD
    // map size: the shared session's ContextCleaner collects other
    // tests' stale entries concurrently.
    // cap = 0 forces the ITERATIVE path (this fixture's graph would
    // take the checkpoint-free driver closure) — the release contract
    // under test only exists on the iterative path
    System.setProperty("graft.driverEdgeCap", "0")
    val derived =
      try Dedup.nearDupLabels(d, threshold = 0.3)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      finally System.clearProperty("graft.driverEdgeCap")
    derived.collect()
    val ids = derived.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(ids.nonEmpty, "the derived plan should embed the label checkpoint")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.forall(persisted.contains),
      "the label checkpoint should be persisted while the result is live")
    ColumnBridge.unpersistCheckpoint(derived)
    assert(ids.forall(id => !persisted.contains(id)),
      "release through the derived frame must free every embedded checkpoint")
  }

  test("withNearDupLabels releases the checkpoint structurally, even when f throws") {
    val d = docs(1L -> base, 2L -> base, 3L -> "something else entirely here")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // force the iterative path — the scoped-release contract under
    // test only materializes a checkpoint there (the bounded-graph
    // driver closure has nothing to release)
    System.setProperty("graft.driverEdgeCap", "0")
    try {
    var ids: Seq[Int] = Nil
    val clusters = Dedup.withNearDupLabels(d, threshold = 0.3) { labels =>
      ids = labels.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }
      assert(ids.nonEmpty && ids.forall(persisted.contains),
        "checkpoint should be live inside the scope")
      rowsOf(labels).map(r => r("doc_id") -> r("cluster")).toMap
    }
    assert(clusters(1L) == clusters(2L) && clusters(1L) != clusters(3L))
    assert(ids.forall(id => !persisted.contains(id)),
      "scoped exit must release the embedded checkpoint")
    // the finally-release also covers a caller whose body fails
    var ids2: Seq[Int] = Nil
    intercept[RuntimeException] {
      Dedup.withNearDupLabels(d, threshold = 0.3) { labels =>
        labels.count()
        ids2 = labels.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
        }
        throw new RuntimeException("caller bug")
      }
    }
    assert(ids2.nonEmpty && ids2.forall(id => !persisted.contains(id)),
      "a throwing scope body must still release the checkpoint")
    } finally System.clearProperty("graft.driverEdgeCap")
  }

  test("bounded graphs take the driver closure: labels identical, nothing persisted") {
    // the r21 fast path — labelPropagate's union-find over a
    // cap-bounded edge sample — must (a) return exactly the iterative
    // fixpoint and (b) leave NO persisted frame in the returned plan
    val d = docs(1L -> base, 2L -> base,
      3L -> (base + " with a small tail difference appended here"),
      4L -> "completely unrelated content about exchanges and joins",
      5L -> "another unrelated doc mentioning broadcast strategies")
    val fastDf = Dedup.nearDupLabels(d, threshold = 0.3)
    val fast = rowsOf(fastDf).map(r => r("doc_id") -> r("cluster")).toMap
    assert(fastDf.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.isEmpty, "the driver-closure plan must embed no checkpoint")
    System.setProperty("graft.driverEdgeCap", "0")
    val slow =
      try Dedup.withNearDupLabels(d, threshold = 0.3)(labels =>
        rowsOf(labels).map(r => r("doc_id") -> r("cluster")).toMap)
      finally System.clearProperty("graft.driverEdgeCap")
    assert(fast == slow,
      s"fast-path labels diverge from the iterative fixpoint:\n$fast\n$slow")
  }

  test("corpus filter keeps only canonical, high-quality, target-language docs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = rowsOf(graft.SparkEntry.queries("q_corpus_filter")(
      spark, "/root/testdata/sf0.001")).map(_("doc_id").asInstanceOf[Long]).toSet
    assert(kept.nonEmpty && kept.size < d.count())
    // every kept doc is its own cluster canonical
    val clusters = rowsOf(Dedup.nearDupClusters(d))
      .map(r => r("doc_id") -> r("cluster")).toMap
    assert(kept.forall(id => clusters(id) == id))
  }

  test("simhash: identical docs same signature; near-dups within small hamming") {
    val d = docs(1L -> base, 2L -> base, 3L -> (base + " tail tweak"))
    val sigs = rowsOf(d.select(col("doc_id"), Dedup.simhash(col("text")).as("sig")))
      .map(r => r("doc_id") -> r("sig").asInstanceOf[Long]).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <= 6)
    val pairs = rowsOf(Dedup.simhashPairs(d, maxHamming = 6))
    val p12 = pairs.find(p => p("doc_a") == 1L && p("doc_b") == 2L)
    assert(p12.isDefined && p12.get("hamming").toString.toInt == 0)
  }

  test("sharedSpans: contiguous copies chain into one run, scatter does not") {
    // docs 1/2 share a verbatim 8-token block (plus enough shingle
    // overlap to be minhash candidates); docs 1/3 share the same
    // VOCABULARY but scattered, so runs stay short
    val block = "one two three four five six seven eight"
    val d = docs(
      1L -> s"$block tail alpha beta gamma",
      2L -> s"$block tail alpha beta gamma extra",
      3L -> s"eight one three two five four seven six tail beta alpha gamma")
    val r = rowsOf(graft.operators.Dedup.sharedSpans(d, threshold = 0.1))
    val byPair = r.map(m => (m("doc_a"), m("doc_b")) -> m).toMap
    val copy = byPair.get((1L, 2L))
    assert(copy.isDefined, s"pair (1,2) not a candidate: $r")
    // doc1 is a strict 12-token prefix of doc2: 10 chained 3-shingles
    assert(copy.get("longest_run") == 10L &&
      copy.get("longest_span_tokens") == 12L, copy.toString)
    byPair.get((1L, 3L)).foreach { scatter =>
      assert(scatter("longest_run").asInstanceOf[Long] <= 2L,
        s"scattered overlap chained: $scatter")
    }
  }

  test("qualityDupProfile buckets docs and counts clustered ones exactly") {
    // docs 1/2 near-dup (identical but one token); 3 unique
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog again today",
      2L -> "the quick brown fox jumps over the lazy dog again tonight",
      3L -> "completely different content with its own words here now")
    val r = rowsOf(graft.operators.Dedup.qualityDupProfile(d))
    assert(r.map(_("n_docs").asInstanceOf[Long]).sum == 3L)
    assert(r.map(_("n_duped").asInstanceOf[Long]).sum == 2L)
    r.foreach { m =>
      val ppm = m("dup_ppm").asInstanceOf[Long]
      assert(ppm == m("n_duped").asInstanceOf[Long] * 1000000L /
        m("n_docs").asInstanceOf[Long])
      val b = m("q_bucket").asInstanceOf[Long]
      assert(b >= 0L && b <= 10L)
    }
  }
}
