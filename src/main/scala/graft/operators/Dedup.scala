package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{ArrayHashExprs, Hashing, TextFunctions}
import graft.sources.EpochedTable

/** Deduplication operators for large-scale training-data pipelines:
  * exact (content-hash groupBy), MinHash+LSH, SimHash, and n-gram
  * Jaccard. All are expressed as declarative DataFrame plans —
  * shuffle-by-hash-bucket joins, no driver-side pair enumeration — so
  * the same code scales from the 500-doc fixture to a 1000-executor
  * cluster: work is proportional to (docs × shingles) plus the size of
  * the candidate-pair set, never to docs².
  */
object Dedup {

  /** Distinct word n-gram shingles of the normalized text. Documents
    * shorter than n tokens contribute their whole text as one shingle.
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(TextFunctions.tokens(text), n)

  /** Shingles from an already-materialized token-array column —
    * reference `toks` as an attribute so the (regexp+split)
    * normalization pipeline runs once per document, not once per use
    * inside this 4-reference expression.
    */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))

  /** (doc_id, xs): distinct shingle-hash arrays via the fused native
    * [[ArrayHashExprs.ShingleHashExpr]] — the sketch operators' input.
    * All set arithmetic downstream (jaccard, minhash, simhash) runs on
    * 31-bit hashes instead of shingle strings: identical results
    * modulo ~2^-31 hash-collision probability, mirrored exactly by the
    * oracles.
    */
  def shingleHashFrame(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      ArrayHashExprs.shingle_hashes(
        TextFunctions.normText(col("text")), n).as("xs"))

  /** Exact dedup: group by content fingerprint (md5 of normalized
    * text), keep the smallest doc_id as canonical. One shuffle on a
    * 128-bit hash — the canonical exact-dedup plan at any scale.
    * Null-text docs are EXCLUDED: their fingerprint is null, and a
    * groupBy would collapse every missing-text doc into one null
    * "duplicate group" — a consumer dropping non-canonical members
    * would then delete unrelated documents. Missing content is not
    * equal content (the incremental path agrees: a null fingerprint
    * never equi-joins, so such docs are always "kept").
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .groupBy(TextFunctions.fingerprintMd5(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("dup_count"))

  /** Declarative (HOF-composition) minhash — semantically identical to
    * the native [[ArrayHashExprs.MinHashSigExpr]] on NULL-FREE arrays
    * (the only kind the engine produces); kept as the parity oracle
    * for it. Null elements diverge by construction — see the
    * [[ArrayHashExprs]] header. */
  def minhashSigDeclarative(xs: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(xs, x => Hashing.permHash(x, i)))): _*)

  /** LSH band table of a doc frame: one (doc_id, band, band_sig) row
    * per document per band, `band_sig` the `_`-joined slice of the
    * minhash signature. The shared banding step of [[minhashPairs]],
    * [[writeDedupIndex]], and [[dedupIncremental]] — one definition so
    * the inline self-join, the persisted index, and the incremental
    * batch probe can never band differently.
    */
  private[graft] def bandFrame(docs: DataFrame, numHashes: Int,
      bands: Int, shingleN: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide evenly into bands ($bands); " +
        "leftover signature positions would silently never band")
    val rows = numHashes / bands
    // null-text docs OUT: minhash of a null shingle list is null, but
    // concat_ws over a null array is "" (not null) — every such doc
    // would share one degenerate ("", band) bucket that self-joins
    // quadratically (and, in the persisted index, GROWS with every
    // ingest batch). They can never verify as near-dups anyway (null
    // jaccard is filtered), so banding them buys nothing but the
    // blow-up. simhashPairs applies the same guard.
    shingleHashFrame(docs.filter(col("text").isNotNull), shingleN)
      .select(col("doc_id"),
        ArrayHashExprs.minhash_sig(col("xs"), numHashes).as("minhash"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"),
            concat_ws("_", transform(slice(col("minhash"), b * rows + 1, lit(rows)),
              x => x.cast("string"))).as("band_sig")))).as("bs"))
      .select(col("doc_id"), col("bs.band"), col("bs.band_sig"))
  }

  /** Drop LSH band buckets whose population exceeds `cap` — the
    * skew guard both banded self-joins share. A band self-join is
    * quadratic PER BUCKET, and the corpora dedup exists for are
    * exactly the ones with degenerate hot buckets (empty documents,
    * boilerplate pages — thousands of docs sharing one signature), so
    * an ungated join is the first thing to break at 100 TB. Dropping a
    * bucket UNDERCOUNTS candidates (recall becomes a documented lower
    * bound, mirroring [[ngramJaccardPairs]]' `maxDf` contract) — but a
    * bucket of thousands of mutual near-identical docs is better served
    * by [[exact]] dedup than by enumerating its O(n²) pairs. The
    * over-cap bucket list is usually small (rows/cap is its hard upper
    * bound), but that bound is DATA-DEPENDENT — so no forced broadcast
    * hint: AQE broadcasts the list while it fits and degrades to a
    * shuffle anti-join when a pathological corpus actually produces
    * millions of over-cap buckets (the same unhinted-fact-frame policy
    * as the TPC-H joins).
    */
  private def dropHotBuckets(banded: DataFrame, keys: Seq[String],
      cap: Int): DataFrame = {
    val hot = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_bucket"))
      .filter(col("n_bucket") > cap)
      .select(keys.map(col): _*)
    banded.join(hot, keys, "left_anti")
  }

  /** MinHash+LSH near-dup pairs. Plan shape (the standard distributed
    * formulation):
    *   1. signature projection (narrow);
    *   2. explode `bands` band-slices of the signature and
    *      self-join on (band index, band signature) — a shuffle keyed
    *      by band bucket, linear in docs × bands;
    *   3. exact Jaccard on the (small) candidate set via
    *      array_intersect of distinct-shingle arrays;
    *   4. filter >= `threshold`.
    * Candidate volume is controlled by the band/row trade-off
    * (P[candidate] = 1-(1-j^rows)^bands) — plus, on skewed corpora,
    * the `maxBucket` hot-bucket cap ([[dropHotBuckets]]), without
    * which one degenerate bucket is locally quadratic. Off by default:
    * the exact small-scale contract (and the oracles) keep every
    * bucket.
    */
  def minhashPairs(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, shingleN: Int = 3,
      maxBucket: Option[Int] = None): DataFrame =
    minhashPairsUnsorted(docs, numHashes, bands, threshold, shingleN, maxBucket)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[minhashPairs]] without the presentation sort — for consumers
    * that feed the pairs straight into a join, aggregate, or eager
    * checkpoint (the sort's range exchange would otherwise be
    * materialized and thrown away; same split as
    * [[nearDupLabels]]/[[nearDupClusters]]). */
  def minhashPairsUnsorted(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, shingleN: Int = 3,
      maxBucket: Option[Int] = None): DataFrame = {
    // pre-shuffle on the join keys: both self-join sides then share
    // ONE stage-reused exchange, so signatures are computed once, not
    // twice; AQE's broadcast conversion reads the reused shuffle
    // output for the build side (measured faster here than forcing
    // SMJ — the banded frame is small; contrast ngramJaccardPairs,
    // where the exploded posting list is large and SMJ + coalescible
    // ENSURE_REQUIREMENTS exchanges win)
    val bandedAll = bandFrame(docs, numHashes, bands, shingleN)
      .repartition(col("band"), col("band_sig"))
    val banded = maxBucket.fold(bandedAll)(
      dropHotBuckets(bandedAll, Seq("band", "band_sig"), _))
    // candidate de-dup on id pairs only — never shuffle shingle arrays
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify-side hashes are recomputed ONLY for docs that appear in a
    // candidate pair (semi-join before the shingle projection): the
    // full-corpus hash pass happens once — inside the signature
    // exchange above — not three times. Candidates are the small set by
    // LSH design, so these probes are broadcast-scale. One explode over
    // ONE reference to the candidate subtree (r22): the old
    // union-of-two-projections referenced `cand` twice — its final
    // post-shuffle aggregate executed once per reference (exchanges
    // stage-reuse, the agg above them does not) and every consumer's
    // plan embedded the candidate pipeline twice. Same id set.
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val shCand = shingleHashFrame(
      docs.join(candIds, Seq("doc_id"), "left_semi"), shingleN)
    cand
      .join(shCand.as("x"), col("doc_a") === col("x.doc_id"))
      .join(shCand.as("y"), col("doc_b") === col("y.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("x.xs"), col("y.xs"))).cast("long"))
      .withColumn("jaccard",
        col("inter") / (size(col("x.xs")) + size(col("y.xs")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** Exact all-pairs n-gram Jaccard >= threshold via an inverted-index
    * self-join on shingles (explode → join on shingle → count shared
    * per pair). Exact counterpart of [[minhashPairs]]; work is
    * Σ_shingle df² — fine when shingle document frequency is bounded,
    * the documented contract for this operator (use [[minhashPairs]]
    * when it is not).
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
      shingleN: Int = 3, maxDf: Option[Int] = None): DataFrame = {
    // coalesce makes `n` non-nullable, so the final jaccard filter's
    // constraints don't infer an `isnotnull(size(xs))` predicate that
    // pushdown would inline into the scan as one more full hash pass
    val sh = shingleHashFrame(docs, shingleN)
      .withColumn("n", coalesce(size(col("xs")), lit(0)))
    // explode_OUTER, deliberately: for an inner explode,
    // InferFiltersFromGenerate adds `size(xs) > 0 AND isnotnull(xs)`,
    // and predicate pushdown then inlines the whole fused shingle-hash
    // expression into the scan Filter — where no subexpression
    // elimination exists — so every row pays the hash THREE times
    // (twice in the filter, once in the projection). The rule skips
    // outer generates; the null row an outer explode emits for a
    // null/empty array is dropped by the inner equi-join below, so
    // results are identical.
    val exRaw = sh.select(col("doc_id"), col("n"), explode_outer(col("xs")).as("s"))
    // optional scale guard: drop shingles whose document frequency
    // exceeds maxDf — join work is Σ df², so stop-shingle-like n-grams
    // on skewed corpora otherwise dominate. Dropping them UNDERCOUNTS
    // `inter` (jaccard becomes a lower bound); the exact default keeps
    // every shingle.
    val ex = maxDf.fold(exRaw) { cap =>
      val df = exRaw.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("s"))
      exRaw.join(df, Seq("s"))
    }
    // merge hint: forcing SMJ makes both self-join sides demand the
    // SAME ENSURE_REQUIREMENTS exchange over identical subplans, which
    // AQE stage-reuses (the explode pipeline and its shuffle run once)
    // and coalesces freely. Without it, AQE converts the build side to
    // a broadcast fed by a SECOND identical exchange — computing the
    // posting list twice; an explicit repartition would instead pin a
    // partition count AQE won't coalesce (near-empty reducers).
    ex.as("a").join(ex.as("b").hint("shuffle_merge"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Corpus-wide duplicated-n-gram audit — per document, how much of
    * its content is n-gram-level boilerplate repeated across the
    * corpus (the distributed approximation of the substring-dedup
    * pass from "Deduplicating Training Data Makes Language Models
    * Better": count n-gram hashes instead of building suffix arrays).
    * Output: (doc_id, total_ngrams, dup_ngrams, dup_frac) where
    * dup_ngrams counts the document's DISTINCT shingles whose document
    * frequency is ≥ `minDf`; dup_frac ~1 flags boilerplate documents
    * even when no single whole-document near-dup exists — the case
    * MinHash misses by design.
    *
    * Scale shape: one map-side-combinable count over shingle hashes,
    * then a semi join of the exploded shingles against the surviving
    * hot set, then a per-doc re-count. Work is linear in corpus
    * shingles; no pair enumeration anywhere. The hot set (df ≥ minDf)
    * is the df-skew tail — orders of magnitude smaller than the
    * shingle universe — so AQE turns the semi join into a broadcast at
    * any realistic threshold.
    */
  /** Shared explode/hot-set base of [[duplicatedNgrams]] and
    * [[sourceDupProfile]] — ONE definition (the two audits previously
    * duplicated this pipeline and could drift apart on a one-sided
    * fix). `ex` keeps EVERY doc: explode_outer emits one null-h row
    * for a null-text doc (shingle_hashes of null is null), and the
    * null never equi-joins the hot set nor counts via count(h) — so
    * such docs surface with zero totals instead of silently dropping
    * out of the audit (a source of all-null docs previously VANISHED
    * from the profile). explode_outer also keeps the fused hash
    * expression out of the scan filter (the InferFiltersFromGenerate
    * note on [[ngramJaccardPairs]]). */
  private def dupNgramBase(docs: DataFrame, carry: Seq[String],
      shingleN: Int, minDf: Int): (DataFrame, DataFrame) = {
    val keyCols = col("doc_id") +: carry.map(col)
    val ex = docs
      .select(keyCols :+ ArrayHashExprs.shingle_hashes(
        TextFunctions.normText(col("text")), shingleN).as("xs"): _*)
      .select(keyCols :+ explode_outer(col("xs")).as("h"): _*)
    val hot = ex.filter(col("h").isNotNull)
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"), lit(1).as("hot"))
    (ex, hot)
  }

  def duplicatedNgrams(docs: DataFrame, shingleN: Int = 3,
      minDf: Int = 2): DataFrame = {
    val (ex, hot) = dupNgramBase(docs, Nil, shingleN, minDf)
    // LEFT join + one conditional count, so the per-doc totals and the
    // dup counts come out of the SAME aggregate — the corpus text is
    // tokenized+hashed twice (hot-set pass, join pass), not three
    // times as a separate totals frame would cost. count(h), not
    // count(*): a null-text doc's single null-h row must total 0.
    ex.join(hot, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("total_ngrams"),
        count(col("hot")).as("dup_ngrams"))
      .withColumn("dup_frac",
        when(col("total_ngrams") > 0,
          col("dup_ngrams").cast("double") /
            col("total_ngrams").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  /** Per-source boilerplate profile — [[duplicatedNgrams]] rolled up
    * to the source axis: for each source, how many of its documents'
    * shingle occurrences are corpus-duplicated (df ≥ `minDf`). The
    * curation signal behind "drop spammy domains": a source whose
    * `dup_ratio` dwarfs the corpus norm is template/boilerplate output
    * even when its individual documents look unique. Same two-pass
    * shape as the per-doc audit (df count → broadcast hot set → one
    * LEFT-join aggregate), grouped by source directly — no per-doc
    * intermediate, so the second pass's shuffle is source-cardinality
    * sized. Integer counts + one final division keep the output
    * hash-stable across engines.
    */
  def sourceDupProfile(docs: DataFrame, shingleN: Int = 3,
      minDf: Int = 2): DataFrame = {
    val (ex, hot) = dupNgramBase(docs, Seq("source"), shingleN, minDf)
    ex.join(hot, Seq("h"), "left")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(col("h")).as("total_ngrams"),
        count(col("hot")).as("dup_ngrams"))
      .withColumn("dup_ratio",
        when(col("total_ngrams") > 0,
          col("dup_ngrams").cast("double") /
            col("total_ngrams").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy(col("source"))
  }

  /** Transitive near-duplicate clusters over the MinHash pair graph:
    * every document is labeled with the smallest doc_id reachable
    * through near-dup pairs (singletons label themselves). Min-label
    * propagation — `maxIters` rounds of join + min-aggregate — is the
    * standard distributed connected-components formulation; it
    * converges once `maxIters` ≥ the largest cluster diameter (near-dup
    * clusters are shallow in practice; the companion spec asserts an
    * extra round is a fixpoint). Edge/label frames are
    * locally checkpointed each round to cut lineage — at cluster scale
    * use `checkpoint` on a reliable store instead.
    */
  def nearDupClusters(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, shingleN: Int = 3, maxIters: Int = 50,
      maxBucket: Option[Int] = None): DataFrame =
    nearDupLabels(docs, numHashes, bands, threshold, shingleN, maxIters, maxBucket)
      .orderBy(col("doc_id"))

  /** [[nearDupClusters]] without the presentation sort — for consumers
    * that immediately join or aggregate the labels (the sort's range
    * exchange would be thrown away one operator later).
    *
    * STORAGE CONTRACT: the returned plan embeds the final label
    * checkpoint, which stays persisted so the caller can execute the
    * result (the checkpoint truncated its lineage — its blocks cannot
    * be recomputed, so this function cannot release it). After the
    * LAST action over the result (or any frame derived from it), call
    * [[ColumnBridge.unpersistCheckpoint]] on that frame — it walks the
    * analyzed plan and frees every embedded checkpoint. Skipping the
    * release leaks one persisted frame per invocation for the session
    * lifetime; `Bench`/`Verify` release at their execution boundary and
    * assert the session returns to its persistent-RDD fixed point.
    */
  def nearDupLabels(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, shingleN: Int = 3, maxIters: Int = 50,
      maxBucket: Option[Int] = None): DataFrame =
    labelPropagate(
      minhashPairsUnsorted(docs, numHashes, bands, threshold, shingleN,
        maxBucket)
        .select(col("doc_a").as("a"), col("doc_b").as("b")),
      docs.select(col("doc_id")), maxIters, "nearDupClusters")

  /** [[nearDupLabels]] with the storage contract made STRUCTURAL:
    * `f` runs over the label frame and the embedded checkpoint is
    * released in `finally` ([[graft.StorageHygiene.scoped]]) — the
    * form library callers should reach for, instead of remembering
    * the scaladoc plea above. Every action over the labels (or any
    * frame derived from them) must happen inside `f`; return
    * materialized results, not lazy frames. */
  def withNearDupLabels[A](docs: DataFrame, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5, shingleN: Int = 3,
      maxIters: Int = 50, maxBucket: Option[Int] = None)(
      f: DataFrame => A): A =
    graft.StorageHygiene.scoped(
      nearDupLabels(docs, numHashes, bands, threshold, shingleN, maxIters,
        maxBucket))(f)

  /** Min-label propagation over an ARBITRARY undirected pair graph —
    * the connected-components core [[nearDupLabels]] (text near-dups)
    * and [[Similarity.semanticKeep]] (embedding epsilon-balls) share.
    * Every vertex in `ids` (a single-column frame; its column name is
    * preserved in the output) gets the smallest id reachable through
    * `pairs` (columns `a`, `b`); vertices outside the graph label
    * themselves via the final corpus-wide left join, so the iteration
    * touches only graph vertices. Storage contract: on the ITERATIVE
    * path (symmetrized edge list above [[driverEdgeCap]] rows) the
    * returned plan embeds the final label checkpoint — release with
    * [[ColumnBridge.unpersistCheckpoint]] after the last action
    * (Bench/Verify do, at their execution boundary). On the sub-cap
    * fast path the labels are a driver-held broadcast literal and the
    * plan embeds NO checkpoint; the release call is then a harmless
    * no-op, so callers use one code path either way.
    */
  private[graft] def labelPropagate(pairs: DataFrame, ids: DataFrame,
      maxIters: Int, tag: String): DataFrame =
    labelPropagateCounted(pairs, ids, maxIters, tag)._1

  /** [[labelPropagate]] also returning the number of propagation
    * rounds the loop ran — the telemetry the noise-floor specs pin: a
    * threshold at a fixture's noise floor welds a giant component
    * whose diameter shows up directly as extra rounds.
    */
  private[graft] def labelPropagateCounted(pairs: DataFrame, ids: DataFrame,
      maxIters: Int, tag: String): (DataFrame, Int) = {
    val idCol = ids.columns.head
    // NOTE on partitioning: under AQE a localCheckpoint records
    // UnknownPartitioning (verified via explain — the unexecuted
    // AdaptiveSparkPlan has no final partitioning to preserve), so
    // pre-partitioning on the join key buys the NEXT round nothing;
    // each round AQE re-plans the join and broadcasts the label side
    // when it is small. At cluster scale, persist edges to a bucketed
    // table (bucket by b) to make iterations exchange-free
    // ([[nearDupClustersBucketed]] is that formulation).
    val edges = pairs
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    // Bounded-graph fast path (r21): [[assignDedupLabels]]' driver
    // union-find promoted to the shared core. The pair pipeline just
    // materialized into the checkpoint above (that cost is the
    // operator's floor either way); when the SYMMETRIZED edge list
    // fits [[DriverEdgeCap]] (≤ ~1.6 MB of (Long, Long) rows — the
    // codebook-collect bound), [[minLabelClosure]] computes the exact
    // component-min fixpoint in one pass and the result is a broadcast
    // join of a driver-held literal: every per-round join + checkpoint
    // + convergence job disappears (measured: 5 rounds ≈ 2.5 s of the
    // 3.3 s q_semantic_keep window at sf0.1/32 cores). The probe is a
    // limit(cap+1) read of the already-materialized checkpoint blocks
    // — no corpus-shaped data can reach the driver, and a graph above
    // the cap falls through to the iterative path unchanged (the
    // 100 TB shape; [[nearDupClustersBucketed]] keeps the distributed
    // iteration exercised regardless). Labels are identical: union-find
    // attaches larger roots under smaller, so find() IS the min id
    // reachable — the loop's converged fixpoint, without the loop's
    // maxIters truncation risk.
    val sample = edges.limit(driverEdgeCap + 1).collect()
    if (sample.length <= driverEdgeCap) {
      ColumnBridge.unpersistCheckpoint(edges)
      val labelOf = minLabelClosure(
        sample.map(r => (r.getLong(0), r.getLong(1))))
      val spark = ids.sparkSession
      import spark.implicits._
      val labelDf = labelOf.toSeq.toDF(idCol, "graph_cluster")
      return (ids.join(broadcast(labelDf), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("graph_cluster"), col(idCol)).as("cluster")), 0)
    }
    // iterate over the PAIR GRAPH's vertices only, never the corpus:
    // a doc in no near-dup pair keeps label = self forever, so it has
    // no business inside the propagation loop. The graph is orders of
    // magnitude smaller than the corpus (that is the point of LSH), so
    // every round's join, checkpoint, and convergence check run on the
    // tiny active set; singletons rejoin in ONE corpus-wide left join
    // at the end. At 100 TB this is the difference between iterating
    // over ~10^8 graph vertices and re-shuffling 10^11 docs per round.
    // seed = min(self, direct neighbors): the same single shuffle a
    // plain distinct() seed would cost, but it starts every vertex one
    // hop ahead — star-shaped clusters (the common LSH case, everything
    // paired with the min doc) converge on the first confirming round
    var labels = edges.groupBy(col("a").as("vid"))
      .agg(min(col("b")).as("nbr_min"))
      .select(col("vid"),
        least(col("vid"), col("nbr_min")).as("cluster"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    try {
      while (!converged && iter < maxIters) {
        // pointer jump (hash-to-min doubling) BEFORE the neighbor
        // round: cluster ← min(cluster, label(cluster)). A plain
        // neighbor propagation moves the min one hop per round —
        // O(component diameter) rounds, which a chain-shaped component
        // (the noise-floor-threshold pathology) turns into dozens of
        // checkpointed iterations; following the label indirection
        // doubles the reach each round, O(log diameter). `jumped`
        // derives only from the materialized label checkpoint, so its
        // two uses below recompute a cheap self-join of the tiny label
        // frame (AQE broadcasts it), never the round's edge shuffle.
        // The label is always itself a graph vertex, so the lookup
        // always matches; "left" is belt-and-braces.
        val jc = labels
          .select(col("vid").as("j_vid"), col("cluster").as("j_cluster"))
        val jumped = labels.join(jc, labels("cluster") === jc("j_vid"), "left")
          .select(labels("vid"), labels("cluster").as("prev"),
            least(labels("cluster"),
              coalesce(col("j_cluster"), labels("cluster"))).as("cluster"))
        val prop = edges.join(jumped, edges("b") === jumped("vid"))
          .groupBy(edges("a").as("nbr_vid"))
          .agg(min(col("cluster")).as("nbr_min"))
        // carry the previous label through so convergence is a narrow
        // filter on the (already-materialized) checkpoint — no extra
        // join+shuffle per round just to detect the fixpoint. prev is
        // the label BEFORE the jump: convergence must see a change
        // from either the jump or the neighbor round.
        // (r21 note: fusing this check into the checkpoint job via
        // `observe` — the writeRoundObserved mechanism — was tried and
        // measured NO faster here: Observation.get waits on the async
        // listener bus, which costs about what the trivial filter job
        // on the materialized checkpoint costs. The bucketed loop
        // keeps its observe because there it rides an already-paid
        // table write; this loop keeps the synchronous check.)
        val next = jumped.join(prop, jumped("vid") === prop("nbr_vid"), "left")
          .select(jumped("vid"), col("prev"),
            least(jumped("cluster"),
              coalesce(col("nbr_min"), jumped("cluster"))).as("cluster"))
          .localCheckpoint(true)
        // `next` is persisted from this point on but not yet the live
        // frame the outer catch releases — a throw in the convergence
        // check would orphan it, so it needs its own release path
        converged =
          try next.filter(col("cluster") =!= col("prev")).isEmpty
          catch { case t: Throwable =>
            ColumnBridge.unpersistCheckpoint(next)
            throw t
          }
        // `next` is eagerly materialized, so the previous round's
        // checkpoint blocks are now unreachable — release them instead
        // of leaking one persisted frame per round for the session
        // lifetime
        ColumnBridge.unpersistCheckpoint(labels)
        labels = next.select(col("vid"), col("cluster"))
        iter += 1
      }
    } catch {
      case t: Throwable =>
        // a failed round must not orphan the live label checkpoint —
        // the caller never sees the frame, so nothing can release it
        // later (the session-lifetime leak this cleanup exists to stop)
        ColumnBridge.unpersistCheckpoint(labels)
        throw t
    } finally
      // the final labels checkpoint stays persisted on success (the
      // caller executes it), but the edge table is no longer reachable
      // from it — release it on every path
      ColumnBridge.unpersistCheckpoint(edges)
    if (!converged)
      System.err.println(
        s"[$tag] NOT converged after $maxIters rounds — " +
          "labels may be non-minimal; raise maxIters for deeper chains")
    // singletons rejoin: vertices outside the pair graph label
    // themselves. The label side is the (small) graph-vertex set →
    // AQE broadcasts it; the corpus side streams through untouched.
    (ids.join(labels, col(idCol) === col("vid"), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster")), iter)
  }

  /** One label-propagation round over a bucketed edge/label pair — the
    * iteration body [[nearDupLabelsBucketed]] runs and the plan shape
    * the companion spec pins. With `edges` bucketed by `doc_b` and
    * `labels` bucketed by `doc_id` (same bucket count), both joins run
    * bucket-co-located: the edge table — the BIG side, |E| ≫ |V| — is
    * never exchanged, and the only shuffle left in the round is the
    * label-update stream between them (`groupBy(doc_a).min`), which is
    * partial-aggregated map-side inside the bucket tasks so it carries
    * at most |V| rows however many edges a hot vertex has. That stream
    * is the irreducible communication of label propagation (labels
    * must cross the graph); everything else is exchange-free.
    *
    * Output: (doc_id, prev, cluster) — prev carried through so the
    * convergence check stays a narrow filter on the next round's table.
    */
  /** NOTE on pointer jumping: the checkpointed core
    * ([[labelPropagate]]) jumps through the label indirection each
    * round (O(log diameter) rounds) because its tiny label frame
    * broadcasts for free. HERE the jump would cost a by-cluster
    * exchange of the label table every round — against this
    * formulation's spec-pinned single-exchange shape — so the bucketed
    * round stays one-hop, and [[nearDupClustersBucketed]] interleaves
    * a [[jumpRound]] compaction every `jumpEvery` one-hop rounds
    * instead (see there for the depth heuristic).
    */
  def propagationRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val prop = edges.join(labels, edges("doc_b") === labels("doc_id"))
      .groupBy(edges("doc_a").as("nbr_doc"))
      .agg(min(col("cluster")).as("nbr_min"))
    labels.join(prop, labels("doc_id") === prop("nbr_doc"), "left")
      .select(labels("doc_id"), col("cluster").as("prev"),
        least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
          .as("cluster"))
  }

  /** Pointer-jump compaction round: each vertex adopts its LABEL's
    * label — `cluster' = cluster(cluster)` — roughly halving chain
    * depth, with NO edge scan: the big table never moves, only the
    * label table pays one by-cluster exchange plus the round write.
    * Every cluster value is itself a graph vertex (labels are mins of
    * vertex ids), so the self-join is total; the left join + coalesce
    * is belt-and-braces, not a semantic branch. Label monotonicity is
    * preserved (`cluster(x) ≤ x`, so the adopted label can only be
    * smaller-or-equal), which keeps the component-min fixed point of
    * the propagation rounds intact.
    */
  private[graft] def jumpRound(labels: DataFrame): DataFrame = {
    val jump = labels
      .select(col("doc_id").as("j_doc"), col("cluster").as("j_cluster"))
    labels.join(jump, labels("cluster") === col("j_doc"), "left")
      .select(labels("doc_id"), labels("cluster").as("prev"),
        coalesce(col("j_cluster"), labels("cluster")).as("cluster"))
  }

  /** [[nearDupClusters]] with the iteration state held in BUCKETED
    * tables ([[graft.sources.CorpusStore.writeBucketed]]) instead of
    * local checkpoints — the cluster-scale formulation the checkpoint
    * variant's NOTE points at: a localCheckpoint records
    * UnknownPartitioning under AQE, so the checkpointed loop re-plans
    * (and on big inputs re-shuffles) the edge side every round, while
    * a bucketed edge table carries its co-location in catalog metadata
    * that every round's scan reuses. Per round, only the
    * partial-aggregated label-update stream shuffles (see
    * [[propagationRound]]); the edge table is read bucket-aligned
    * `maxIters` times with ZERO exchanges (spec-pinned).
    *
    * Storage: everything lives under `storeDir` (a scratch path — at
    * cluster scale, a durable store; locally, a temp dir). Superseded
    * rounds' tables and files are dropped as the loop advances; on
    * return only the FINAL label parquet remains (the returned plan
    * reads it — callers that need the files gone afterwards delete
    * `storeDir` once done with the frame). Unlike [[nearDupLabels]]
    * there is no persisted-RDD contract: state is on disk, and a crash
    * leaves only droppable catalog entries + files under `storeDir`.
    *
    * `buckets` should match `spark.sql.shuffle.partitions` so the
    * update stream's aggregate partitioning aligns with the label
    * table's bucketing and the carry-through join needs no realignment.
    *
    * Concurrency: catalog table names are unique per invocation, but
    * the FILES live under `storeDir` — concurrent invocations must use
    * distinct storeDirs.
    */
  def nearDupClustersBucketed(docs: DataFrame, storeDir: String,
      buckets: Int = 32, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, shingleN: Int = 3, maxIters: Int = 50,
      maxBucket: Option[Int] = None, jumpEvery: Int = 4): DataFrame =
    nearDupClustersBucketedCounted(docs, storeDir, buckets, numHashes,
      bands, threshold, shingleN, maxIters, maxBucket, jumpEvery)._1

  /** [[nearDupClustersBucketed]] also returning the number of rounds
    * the loop ran — the observable the jump-compaction spec asserts
    * shrinks on deep-chain graphs. */
  private[graft] def nearDupClustersBucketedCounted(docs: DataFrame,
      storeDir: String,
      buckets: Int = 32, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, shingleN: Int = 3, maxIters: Int = 50,
      maxBucket: Option[Int] = None, jumpEvery: Int = 4): (DataFrame, Int) = {
    val spark = docs.sparkSession
    // per-invocation unique tag: a storeDir-derived name alone would
    // let two runs (same dir, or a 31-bit hash collision) overwrite
    // and DROP each other's catalog entries mid-loop. The counter
    // disambiguates the catalog; the FILES still key on storeDir, so
    // concurrent invocations must use distinct storeDirs (documented).
    val tag = "graft_ndb_" + BucketedRunCounter.incrementAndGet() + "_" +
      java.lang.Integer.toHexString(storeDir.hashCode & 0x7fffffff)
    def rm(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    def drop(table: String): Unit =
      spark.sql(s"DROP TABLE IF EXISTS $table")
    val pairs = minhashPairsUnsorted(docs, numHashes, bands, threshold,
        shingleN, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    val sym = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    graft.sources.CorpusStore.writeBucketed(
      sym, s"${tag}_edges", s"$storeDir/edges", buckets, bucketCol = "doc_b")
    val edges = spark.table(s"${tag}_edges")
    def labelsTable(i: Int) = s"${tag}_labels_$i"
    def labelsPath(i: Int) = s"$storeDir/labels_$i"
    // seed = min(self, direct neighbors), same head start as the
    // checkpoint variant; written bucketed by doc_id for round 1
    // the seed stays a FRAME, never a table: round 1 pays one tiny
    // (≤|V| rows) exchange to align it with the edge bucketing, which
    // is strictly cheaper than the bucketed write+read a labels_0
    // table would cost. Every later round reads its predecessor's
    // table bucket-aligned. (No prev column: round 0 is never
    // convergence-checked — every table comes out of propagationRound,
    // which carries prev.)
    // an EMPTY pair graph (all-unique corpus) must short-circuit before
    // the loop: round 1 would write a zero-row bucketed table whose
    // directory has no parquet data files (bucketed writers open files
    // lazily), and the final by-path read of it cannot infer a schema.
    // Every doc is then its own cluster — no state needed at all.
    if (edges.isEmpty) {
      drop(s"${tag}_edges"); rm(s"$storeDir/edges")
      return (docs.select(col("doc_id"), col("doc_id").as("cluster"))
        .orderBy(col("doc_id")), 0)
    }
    val seed = edges.groupBy(col("doc_a").as("doc_id"))
      .agg(min(col("doc_b")).as("nbr_min"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nbr_min")).as("cluster"))
    var labelsFrame = seed
    var iter = 0
    var converged = false
    // one-hop rounds since the last jump compaction. jumpEvery = 4 is
    // the chain-depth heuristic: star-heavy LSH graphs converge in ≤3
    // one-hop rounds, so a graph still unconverged after 4 has depth
    // only chains produce — from then on a jump round (no edge scan)
    // interleaves after every jumpEvery one-hops, turning O(depth)
    // rounds into roughly O(log depth). jumpEvery = 0 disables.
    var sinceJump = 0
    while (!converged && iter < maxIters) {
      val isJump = jumpEvery > 0 && sinceJump >= jumpEvery
      val round =
        if (isJump) { sinceJump = 0; jumpRound(labelsFrame) }
        else { sinceJump += 1; propagationRound(edges, labelsFrame) }
      val changedZero = writeRoundObserved(round,
        labelsTable(iter + 1), labelsPath(iter + 1), buckets)
      // a change-free JUMP only says labels are pointer-stable
      // (cluster(cluster) = cluster); neighbors can still offer
      // smaller labels, so convergence is only ever declared from a
      // change-free PROPAGATION round
      converged = changedZero && !isJump
      if (iter > 0) { drop(labelsTable(iter)); rm(labelsPath(iter)) }
      labelsFrame = spark.table(labelsTable(iter + 1))
        .select(col("doc_id"), col("cluster"))
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[nearDupClustersBucketed] NOT converged after $maxIters rounds — " +
          "labels may be non-minimal; raise maxIters for deeper chains")
    // the returned plan reads the final parquet by PATH so the catalog
    // entries can be dropped now; the edge files are no longer needed.
    // Only maxIters=0 falls back to the seed frame (the empty-graph
    // case returned above), which still references the edge table —
    // keep it in that case.
    val labels =
      if (iter > 0) spark.read.parquet(labelsPath(iter))
        .select(col("doc_id"), col("cluster"))
      else seed
    if (iter > 0) { drop(labelsTable(iter)); drop(s"${tag}_edges"); rm(s"$storeDir/edges") }
    (docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("doc_id", "graph_doc"),
        col("doc_id") === col("graph_doc"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .orderBy(col("doc_id")), iter)
  }

  /** Disambiguates [[nearDupClustersBucketed]] catalog entries across
    * invocations in one JVM. */
  private val BucketedRunCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Write one propagation round bucketed and return whether it
    * converged (changed zero labels). Convergence is OBSERVED inside
    * the write job itself — `Dataset.observe` plants a CollectMetrics
    * node counting `cluster =!= prev` rows as the write streams past —
    * instead of re-scanning the just-written table with a separate
    * filter job, saving one read of the round state per iteration
    * (the loop's only other read of the table is as the NEXT round's
    * input, which is irreducible). `Observation.get` blocks until the
    * write action's completion listener delivers the metric.
    */
  private[graft] def writeRoundObserved(round: DataFrame, table: String,
      path: String, buckets: Int): Boolean = {
    val obs = org.apache.spark.sql.Observation()
    graft.sources.CorpusStore.writeBucketed(
      round.observe(obs,
        coalesce(sum(when(col("cluster") =!= col("prev"), 1L)
          .otherwise(0L)), lit(0L)).as("changed")),
      table, path, buckets)
    obs.get("changed").asInstanceOf[Long] == 0L
  }

  val SimhashBits = 32

  /** 32-bit SimHash over distinct word-3-gram shingles: bit j of the
    * fingerprint is the sign of Σ_shingles (bit j of shingle-hash ?
    * +1 : -1). Shingle-level (not token-level) input keeps fingerprints
    * diverse on small-vocabulary corpora — token-level SimHash
    * degenerates into near-identical signatures when documents share
    * most of their vocabulary, blowing up the pair join. Pure
    * higher-order-function arithmetic on the 60-bit base hash —
    * deterministic and oracle-reproducible.
    */
  def simhash(text: Column, shingleN: Int = 3): Column =
    simhashFromHashes(ArrayHashExprs.shingle_hashes(
      TextFunctions.normText(text), shingleN))

  /** SimHash from a precomputed hash array column — native codegen'd
    * expression: one fused loop per row over the array. */
  def simhashFromHashes(xs: Column): Column =
    ArrayHashExprs.simhash_bits(xs, SimhashBits)

  /** Declarative (32 aggregate-HOF passes) simhash — semantically
    * identical to the native [[ArrayHashExprs.SimHashExpr]] on
    * NULL-FREE arrays (a null element counts −1 here, is SKIPPED by
    * the native form — see the [[ArrayHashExprs]] header); kept as
    * the parity oracle for it. */
  def simhashDeclarative(xs: Column): Column =
    (0 until SimhashBits).map { j =>
      val bitSum = aggregate(xs, lit(0L),
        (acc, x) => acc + when(shiftright(x, j).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))
      when(bitSum > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** SimHash near-dup pairs: band the fingerprint into `bands` slices
    * (pigeonhole: hamming <= bands-1 guarantees a shared band), join
    * per band, verify true hamming distance <= maxHamming via
    * bit_count(xor). Same LSH-bucket plan shape as [[minhashPairs]],
    * including the optional `maxBucket` hot-bucket skew guard
    * ([[dropHotBuckets]] — dropping a bucket also voids the pigeonhole
    * guarantee for its members, the documented recall trade).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, maxBucket: Option[Int] = None): DataFrame = {
    require(SimhashBits % bands == 0,
      s"bands ($bands) must divide $SimhashBits bits; unbanded top bits " +
        "would silently void the pigeonhole guarantee")
    if (bands < maxHamming + 1)
      System.err.println(
        s"[simhashPairs] bands ($bands) < maxHamming+1 (${maxHamming + 1}): " +
          "candidate recall is approximate, not pigeonhole-guaranteed")
    val bandBits = SimhashBits / bands
    val mask = (1L << bandBits) - 1
    // cheap text.isNotNull pre-filter + non-nullable sig: the join
    // constraint on band_val otherwise infers isnotnull(simhash(
    // shinglehash(...))) into BOTH self-join scans, re-running the
    // fused chain per row inside a Filter condition (the same
    // InferFilters class as round 4's ngram fix; caught by the round-5
    // plan sweep). Null-text docs never matched anyway (null band_val
    // never equi-joins), so dropping them up front is semantics-free.
    val withSig = shingleHashFrame(docs.filter(col("text").isNotNull))
      .select(col("doc_id"),
        coalesce(simhashFromHashes(col("xs")), lit(0L)).as("sig"))
    val bandedAll = withSig.select(col("doc_id"), col("sig"),
      explode(array((0 until bands).map(bi =>
        struct(lit(bi).as("band"),
          shiftright(col("sig"), bi * bandBits).bitwiseAND(mask)
            .as("band_val"))): _*)).as("bs"))
      .select(col("doc_id"), col("sig"), col("bs.band"), col("bs.band_val"))
    val banded = maxBucket.fold(bandedAll)(
      dropHotBuckets(bandedAll, Seq("band", "band_val"), _))
    // shared (AQE stage-reused) exchange via forced SMJ — see minhashPairs
    banded.as("a").join(banded.as("b").hint("shuffle_merge"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------------------
  // Incremental dedup: index the corpus once, dedup each new batch
  // against the index. At 100 TB nobody re-deduplicates the whole
  // corpus per ingest — the corpus is hashed/banded ONCE (write-side),
  // and each delta pays work proportional to (batch × bands) plus
  // its candidate set, never a corpus rescan. The index is three
  // parquet tables + a meta sidecar (same pattern as the persisted
  // IVF-PQ index in [[Similarity.writePqIndex]]): `fp` exact
  // fingerprints, `bands` the LSH band table, `shingles` the distinct
  // shingle-hash lists candidate verification needs.
  // ------------------------------------------------------------------

  /** Write the dedup index of `docs` under `dir`:
    * `dir/fp` (doc_id, fingerprint), `dir/bands` (doc_id, band,
    * band_sig), `dir/shingles` (doc_id, xs), and `dir/meta` pinning
    * (numHashes, bands, shingleN) — [[appendToDedupIndex]] and
    * [[dedupIncrementalIndexed]] read meta rather than trusting the
    * caller to repeat the same constants (a batch banded with
    * different parameters would probe empty buckets and silently find
    * nothing). Band rows are repartitioned by (band, band_sig) so
    * file contents align with the probe join's key distribution; on a
    * real cluster, bucket `bands` by band_sig (CorpusStore-style) to
    * make every later probe join shuffle-free on the index side.
    */
  def writeDedupIndex(docs: DataFrame, dir: String, numHashes: Int = 16,
      bands: Int = 4, shingleN: Int = 3): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // epoch-aware rebuild (see EpochedTable.replaceWith): a fresh dir
    // gets the plain layout; a rebuild over a grown/compacted index
    // commits the next generation before retiring the old one.
    // The build stamp makes the MULTI-table rebuild torn-state
    // DETECTABLE: the three tables and the meta sidecar commit
    // independently (no cross-table transaction exists here), so a
    // crash mid-rebuild can leave meta pinning parameters some table
    // was not built with — a probe would then band batches with the
    // wrong constants and silently find zero candidates. Each table
    // records the rebuild's id as it commits; meta (carrying the same
    // id) commits LAST; readDedupMeta refuses a mismatched set.
    val buildId = java.util.UUID.randomUUID().toString
    fpTable(dir).replaceWith(docs.select(col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fingerprint")))
    writeBuildStamp(spark, dir, "fp", buildId)
    bandsTable(dir).replaceWith(bandFrame(docs, numHashes, bands, shingleN)
      .repartition(col("band"), col("band_sig")))
    writeBuildStamp(spark, dir, "bands", buildId)
    shinglesTable(dir).replaceWith(shingleHashFrame(docs, shingleN))
    writeBuildStamp(spark, dir, "shingles", buildId)
    Seq((numHashes, bands, shingleN, buildId))
      .toDF("num_hashes", "bands", "shingle_n", "build_id")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  private def stampPath(dir: String, tbl: String) =
    new org.apache.hadoop.fs.Path(s"$dir/${tbl}_build")

  private def writeBuildStamp(spark: org.apache.spark.sql.SparkSession,
      dir: String, tbl: String, id: String): Unit = {
    val p = stampPath(dir, tbl)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // atomic commit, matching the epoch layout's discipline: an
    // in-place create/write/close would let a probe racing the rebuild
    // read a TRUNCATED stamp and fail with a spurious torn-store error
    // even though the rebuild completes. A racing reader sees the old
    // stamp, the new stamp, or (only under the helper's delete+retry
    // fallback) briefly NO stamp — which readBuildStamp treats like
    // the legacy pre-stamp layout, a documented pass-unchecked, never
    // a spurious failure.
    EpochedTable.writeFileAtomic(fs, p,
      id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readBuildStamp(spark: org.apache.spark.sql.SparkSession,
      dir: String, tbl: String): Option[String] = {
    val p = stampPath(dir, tbl)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** Refuse a store whose meta and table build stamps DISAGREE — the
    * signature of a rebuild that crashed between table and sidecar
    * commits. Legacy stores (meta without `build_id`) pass unchecked,
    * and so does a MISSING stamp: stamps are written before meta, so
    * meta-with-id + no-stamp only happens in writeFileAtomic's
    * delete+retry fallback window (filesystems whose rename refuses an
    * existing destination) or after manual deletion — a probe racing a
    * clean rebuild there must not fail spuriously, and the real torn
    * hazard (a table left from a DIFFERENT build) always presents as a
    * mismatched id, not an absent one. Loud failure on mismatch is the
    * honest contract a non-transactional multi-file store can keep:
    * the alternative is probes silently finding nothing (stale banding
    * constants) or audits mixing near-dup definitions. Recovery =
    * re-run the rebuild. */
  private def requireConsistentBuild(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      metaDf: DataFrame, tables: Seq[String]): Unit =
    if (metaDf.columns.contains("build_id")) {
      val id = metaDf.select(col("build_id")).head().getString(0)
      tables.foreach { t =>
        readBuildStamp(spark, dir, t).foreach(st =>
          require(st == id,
            s"dedup store at $dir is torn: table '$t' carries build stamp " +
              s"$st but meta was written by build " +
              s"$id — a rebuild crashed between table and sidecar commits; " +
              "re-run the rebuild before probing"))
      }
    }

  /** Materialize the near-dup label table — the OTHER half of the
    * persisted-index story: [[writeDedupIndex]] persists the sketches
    * a future BATCH probes, this persists the cluster assignment a
    * whole FAMILY of audits derives from. Six consumers
    * ([[qualityDupProfileFromLabels]], `CorpusOps.splitLeakage` /
    * `repairSplits` / `bestOfCluster`, downstream canonicalization)
    * each need only `(doc_id, cluster)` plus a cheap aggregate, yet
    * their inline twins all re-run the most expensive computation in
    * the engine (MinHash + banded LSH + label propagation). At 100 TB
    * that is six corpus-scale pipelines where one suffices: run the
    * propagation ONCE, write the one-row-per-doc frame, and every
    * audit becomes a parquet scan + small aggregate with ZERO
    * propagation rounds (pinned by PlanShapeSpec).
    *
    * Layout: `dir/labels` (doc_id, cluster) and `dir/meta` pinning the
    * sketch parameters, so a reader can tell which near-dup definition
    * the labels encode. The label frame's embedded checkpoint is
    * released here after the write — callers get a clean store, not a
    * storage contract.
    */
  def writeDedupLabels(docs: DataFrame, dir: String, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5, shingleN: Int = 3,
      maxIters: Int = 50, maxBucket: Option[Int] = None): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val labels = nearDupLabels(docs, numHashes, bands, threshold, shingleN,
      maxIters, maxBucket)
    // epoch-aware: a REBUILD over a store that has grown ingest
    // batches (or been compacted to generation N) lands as generation
    // N+1 and retires the old generation + its now-superseded ingest
    // rows only after committing — same crash-safety as compaction.
    // A fresh store writes the plain epoch-0 layout.
    val buildId = java.util.UUID.randomUUID().toString
    try labelsTable(dir).replaceWith(labels)
    finally ColumnBridge.unpersistCheckpoint(labels)
    // stamp-then-meta, meta LAST — same torn-rebuild detection as
    // writeDedupIndex (labels rebuilt at a new threshold with a
    // crash-leftover meta still claiming the old one would otherwise
    // mislabel every audit silently)
    writeBuildStamp(spark, dir, "labels", buildId)
    Seq((numHashes, bands, threshold, shingleN, buildId))
      .toDF("num_hashes", "bands", "threshold", "shingle_n", "build_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  private def labelsTable(dir: String): EpochedTable =
    EpochedTable(dir, "labels", Seq("doc_id", "cluster"),
      legacyIngest = Some(s"$dir/ingest"))

  /** Read a [[writeDedupLabels]] table: (doc_id, cluster), one row per
    * document — plain parquet scans (the active generation's base
    * table plus any [[appendDedupLabels]] ingest batches), no
    * checkpoint to release, no dedup needed: the base write and each
    * batch dir are OVERWRITE-once, so replays cannot double rows. */
  def readDedupLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String, excludeBatchId: Option[Long] = None): DataFrame =
    labelsTable(dir).read(spark, excludeBatchId)

  /** Append one ingest batch's assigned label rows
    * ([[assignDedupLabels]] output) to a [[writeDedupLabels]] table —
    * the grow step of [[graft.streaming.StreamingDedup.labeledIngest]]:
    * once written, later batches' matches against these docs resolve
    * to the clusters assigned here. Each batch lands in its OWN
    * subdirectory (`.../batch-<id>` under the active generation's
    * ingest dir) with mode=overwrite, so an at-least-once replay of
    * the same `batchId` rewrites the same rows instead of duplicating
    * them — the idempotence `foreachBatch` recovery needs and a bare
    * parquet append cannot give. */
  def appendDedupLabels(labels: DataFrame, labelsDir: String,
      batchId: Long): Unit =
    labelsTable(labelsDir).appendBatch(labels, batchId)

  /** Compact a grown label table: fold every ingest batch into the
    * base table and retire the old generation — file-count hygiene
    * after a long [[graft.streaming.StreamingDedup.labeledIngest]] run
    * (one parquet dir per micro-batch adds listing cost, never wrong
    * answers). Labels are UNCHANGED by compaction; recording
    * bridge-induced merges is [[writeDedupLabels]]' rebuild job. The
    * swap is generation-based (see [[EpochedTable]]): the folded table
    * commits as a NEW generation before anything old is deleted, so a
    * crash at any point leaves a complete readable table and never
    * double-counts ingest rows. Quiesce ingest while compacting —
    * a batch appended mid-compaction to the outgoing generation is
    * not folded in and would vanish from reads when the new
    * generation commits.
    */
  def compactDedupLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    labelsTable(dir).compact(spark)

  private def readDedupMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int, Int) = {
    val df = spark.read.parquet(s"$dir/meta")
    requireConsistentBuild(spark, dir, df, Seq("fp", "bands", "shingles"))
    val m = df.select(col("num_hashes"), col("bands"), col("shingle_n"))
      .head()
    (m.getInt(0), m.getInt(1), m.getInt(2))
  }

  /** Append `docs` (e.g. the kept rows of a deduped batch) to an
    * existing index, banding them with the meta-pinned parameters.
    * After appending, a re-run of [[dedupIncrementalIndexed]] on the
    * same batch reports every doc as an exact corpus duplicate — the
    * ingest-loop invariant the spec pins.
    *
    * With a `batchId` (the streaming ingest loops pass theirs), each
    * table's rows land in an OVERWRITE-once per-batch subdirectory
    * (`dir/<tbl>_ingest/batch-<id>`) — the same idempotence contract
    * as [[appendDedupLabels]]: an at-least-once replay rewrites the
    * same rows instead of permanently duplicating fp/bands/shingles
    * entries (a bare append would grow the index and its probe cost a
    * little more on every recovery; the candidate-side DISTINCT keeps
    * answers right but should be a backstop, not the mechanism).
    * Without one (ad-hoc batch use), rows append to the base tables.
    */
  private def fpTable(dir: String): EpochedTable =
    EpochedTable(dir, "fp", Seq("doc_id", "fingerprint"))
  private def bandsTable(dir: String): EpochedTable =
    EpochedTable(dir, "bands", Seq("doc_id", "band", "band_sig"))
  private def shinglesTable(dir: String): EpochedTable =
    EpochedTable(dir, "shingles", Seq("doc_id", "xs"))

  def appendToDedupIndex(docs: DataFrame, dir: String,
      batchId: Option[Long] = None): Unit = {
    val (numHashes, bands, shingleN) = readDedupMeta(docs.sparkSession, dir)
    def sink(df: DataFrame, tbl: EpochedTable): Unit =
      batchId match {
        case Some(id) => tbl.appendBatch(df, id)
        case None     =>
          df.write.mode("append")
            .parquet(tbl.tableDir(tbl.activeEpoch(docs.sparkSession)))
      }
    sink(docs.select(col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fingerprint")), fpTable(dir))
    sink(bandFrame(docs, numHashes, bands, shingleN)
      .repartition(col("band"), col("band_sig")), bandsTable(dir))
    sink(shingleHashFrame(docs, shingleN), shinglesTable(dir))
  }

  /** Compact a grown dedup index: fold each table's per-batch ingest
    * dirs ([[appendToDedupIndex]] with batchIds) into its base —
    * the same listing-cost hygiene, generation scheme, and crash
    * contract as [[compactDedupLabels]]; the band table is
    * re-partitioned on its probe-join key so the compacted files
    * keep the layout [[writeDedupIndex]] established. Quiesce ingest
    * while compacting. */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    fpTable(dir).compact(spark)
    bandsTable(dir).compact(spark,
      _.repartition(col("band"), col("band_sig")))
    shinglesTable(dir).compact(spark)
  }

  /** Dedup a new `batch` against a `corpus`, both given inline — the
    * index tables are derived on the fly and handed to the shared
    * core. The small-scale / oracle-checked twin of
    * [[dedupIncrementalIndexed]]; both run the identical core, so the
    * spec's indexed-equals-inline parity holds by construction plus
    * one read path.
    */
  def dedupIncremental(corpus: DataFrame, batch: DataFrame,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      shingleN: Int = 3, maxBucket: Option[Int] = None): DataFrame =
    dedupIncrementalCore(
      corpus.select(col("doc_id"),
        TextFunctions.fingerprintMd5(col("text")).as("fingerprint")),
      bandFrame(corpus, numHashes, bands, shingleN),
      shingleHashFrame(corpus, shingleN),
      batch, numHashes, bands, shingleN, threshold, maxBucket)

  /** [[dedupIncremental]] against a persisted index written by
    * [[writeDedupIndex]] — the production shape: corpus text is never
    * re-read, re-normalized, or re-hashed; the probe joins consume the
    * index parquet directly, and corpus shingle lists are read only
    * for docs that actually appear in a candidate pair (semi-join
    * prune before the verification join).
    */
  /** `excludeBatchId` hides that batch's own ingest dirs from the
    * probe: an at-least-once REPLAY must dedup against the state
    * before its failed attempt — probing its own leftovers would turn
    * every previously-kept doc into a self-match (`exact_corpus` of
    * itself), and the verdict-filtered re-append in
    * [[graft.streaming.StreamingDedup.incrementalIngest]] would then
    * overwrite the batch dir with ZERO rows, silently deleting the
    * kept docs from the index. */
  def dedupIncrementalIndexed(dir: String, batch: DataFrame,
      threshold: Double = 0.5, maxBucket: Option[Int] = None,
      excludeBatchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val (numHashes, bands, shingleN) = readDedupMeta(spark, dir)
    dedupIncrementalCore(
      fpTable(dir).read(spark, excludeBatchId),
      bandsTable(dir).read(spark, excludeBatchId),
      shinglesTable(dir).read(spark, excludeBatchId),
      batch, numHashes, bands, shingleN, threshold, maxBucket)
  }

  /** Shared incremental core. Verdict per batch doc, first match wins
    * (deterministic, non-recursive — the C4-style greedy rule, chosen
    * over transitive clustering so the decision for a doc depends only
    * on the corpus and on SMALLER batch ids, never on a chain of
    * other verdicts):
    *   1. `exact_corpus` — fingerprint exists in the corpus;
    *   2. `exact_batch`  — a smaller batch doc_id has the fingerprint;
    *   3. `near_corpus`  — jaccard ≥ threshold with a corpus doc;
    *   4. `near_batch`   — jaccard ≥ threshold with a smaller batch id;
    *   5. `kept`.
    * `match_id` is the smallest matching doc_id of the winning class
    * (−1 for kept). Near-dup candidates come from the LSH band join —
    * batch×index plus batch×batch(smaller-id), both keyed by
    * (band, band_sig) with the same hot-bucket cap contract as
    * [[minhashPairs]] — so recall matches the banded pair operator,
    * not exhaustive Jaccard. All five outcomes reduce to four
    * min-aggregates left-joined back to the batch on doc_id:
    * batch-cardinality frames, broadcast-scale under AQE.
    */
  private def dedupIncrementalCore(corpusFp: DataFrame,
      corpusBands: DataFrame, corpusShingles: DataFrame, batch: DataFrame,
      numHashes: Int, bands: Int, shingleN: Int, threshold: Double,
      maxBucket: Option[Int]): DataFrame = {
    val batchFp = batch.select(col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fingerprint"))
    val near = verifiedIncrementalPairs(corpusBands, corpusShingles, batch,
      numHashes, bands, shingleN, threshold, maxBucket)
    // ONE grouped aggregate per evidence family (r21): the four
    // verdict classes previously ran four aggregate+join pipelines,
    // each re-embedding its input subtree — the `near` pipeline (band
    // probes + Jaccard verify, the expensive part) twice, batchFp
    // three times. Conditional mins over a provenance flag produce the
    // identical values: a doc with no pair of a class aggregates NULL
    // there (min over an empty when-set), exactly what the per-class
    // left join yielded. Plan: 86 scans / 58 exchanges → 60 / 40.
    val rightFp = corpusFp
      .select(col("doc_id").as("o_id"), col("fingerprint").as("o_fp"),
        lit(true).as("o_corpus"))
      .unionAll(batchFp
        .select(col("doc_id").as("o_id"), col("fingerprint").as("o_fp"),
          lit(false).as("o_corpus")))
    val exactMin = batchFp
      .join(rightFp, col("fingerprint") === col("o_fp") &&
        (col("o_corpus") || col("o_id") < col("doc_id")))
      .groupBy(col("doc_id"))
      .agg(min(when(col("o_corpus"), col("o_id"))).as("ec"),
        min(when(!col("o_corpus"), col("o_id"))).as("eb"))
    val nearMin = near
      .groupBy(col("b_id").as("doc_id"))
      .agg(min(when(col("from_corpus"), col("o_id"))).as("nc"),
        min(when(!col("from_corpus"), col("o_id"))).as("nb"))
    batch.select(col("doc_id"))
      .join(exactMin, Seq("doc_id"), "left")
      .join(nearMin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ec").isNotNull, lit("exact_corpus"))
          .when(col("eb").isNotNull, lit("exact_batch"))
          .when(col("nc").isNotNull, lit("near_corpus"))
          .when(col("nb").isNotNull, lit("near_batch"))
          .otherwise(lit("kept")).as("verdict"),
        coalesce(col("ec"), col("eb"), col("nc"), col("nb"), lit(-1L))
          .as("match_id"))
      .orderBy(col("doc_id"))
  }

  /** The banded-candidate + Jaccard-verify machinery shared by
    * [[dedupIncrementalCore]] and [[assignDedupLabels]]: every
    * VERIFIED near-dup pair between a batch doc and (a) an indexed
    * corpus doc or (b) a smaller-id batch doc. Returns
    * `(from_corpus, b_id, o_id)`. Exact duplicates are a subset
    * (identical text ⇒ identical bands ⇒ jaccard 1.0).
    */
  private def verifiedIncrementalPairs(corpusBands: DataFrame,
      corpusShingles: DataFrame, batch: DataFrame,
      numHashes: Int, bands: Int, shingleN: Int, threshold: Double,
      maxBucket: Option[Int]): DataFrame = {
    val batchBands = bandFrame(batch, numHashes, bands, shingleN)
      .repartition(col("band"), col("band_sig"))
    // hot-bucket cap counts the COMBINED population (index + batch):
    // a bucket degenerate in the corpus stays degenerate when probed.
    // Corpus-side rows are semi-join-pruned to the buckets the batch
    // actually probes BEFORE the count — unprobed buckets can never
    // match the left_anti below, and without the prune every delta
    // would pay a shuffle-aggregate over the whole persisted bands
    // table, breaking the index contract (delta work ∝ batch, never a
    // corpus rescan). The probe-key set is batch-sized → broadcast.
    val probeBands = maxBucket.fold(batchBands) { cap =>
      val probeKeys = batchBands.select(col("band"), col("band_sig")).distinct()
      val all = corpusBands.select(col("band"), col("band_sig"))
        .join(probeKeys, Seq("band", "band_sig"), "left_semi")
        .union(batchBands.select(col("band"), col("band_sig")))
      val hot = all.groupBy(col("band"), col("band_sig"))
        .agg(count(lit(1)).as("n_bucket"))
        .filter(col("n_bucket") > cap)
        .select(col("band"), col("band_sig"))
      batchBands.join(hot, Seq("band", "band_sig"), "left_anti")
    }
    val candCorpus = probeBands.as("a").join(corpusBands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig"))
      .select(col("a.doc_id").as("b_id"), col("b.doc_id").as("o_id"))
      .distinct()
    val candBatch = probeBands.as("a").join(probeBands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("b_id"), col("b.doc_id").as("o_id"))
      .distinct()
    val cand = candCorpus.withColumn("from_corpus", lit(true))
      .union(candBatch.withColumn("from_corpus", lit(false)))
    // shingle lists only for docs in some candidate pair — batch side
    // recomputed for the (small) probe set, corpus side READ from the
    // index, both semi-join-pruned before any array ships
    val batchIds = cand.select(col("b_id").as("doc_id"))
      .union(candBatch.select(col("o_id").as("doc_id"))).distinct()
    val batchSh = shingleHashFrame(
      batch.join(batchIds, Seq("doc_id"), "left_semi"), shingleN)
    val corpusSh = corpusShingles.join(
      candCorpus.select(col("o_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    // the other side carries its own provenance flag under a distinct
    // name — `otherSh` shares lineage with `batchSh`, so a same-named
    // column would force attribute-id disambiguation in the join
    val otherSh = corpusSh
      .select(col("doc_id").as("o_doc_id"), col("xs"), lit(true).as("o_corpus"))
      .union(batchSh
        .select(col("doc_id").as("o_doc_id"), col("xs"), lit(false).as("o_corpus")))
    val near = cand
      .join(batchSh.as("x"), col("b_id") === col("x.doc_id"))
      .join(otherSh.as("y"),
        col("o_id") === col("y.o_doc_id") &&
          col("from_corpus") === col("y.o_corpus"))
      .withColumn("inter",
        size(array_intersect(col("x.xs"), col("y.xs"))).cast("long"))
      .withColumn("jaccard",
        col("inter") / (size(col("x.xs")) + size(col("y.xs")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("from_corpus"), col("b_id"), col("o_id"))
    near
  }

  /** Incremental cluster ASSIGNMENT — the ingest-side counterpart of
    * [[writeDedupLabels]]: label a new `batch` of documents against a
    * frozen corpus clustering WITHOUT recomputing corpus propagation.
    * Each batch doc's cluster is the smallest id reachable through
    * (a) verified batch↔corpus near-dup matches, projected to the
    * matched docs' persisted CLUSTER ids, and (b) verified
    * batch↔batch near-dup pairs; unmatched docs label themselves —
    * so a batch near-copy of an indexed doc inherits that doc's
    * cluster, a batch doc whose only link is ANOTHER batch doc
    * inherits transitively, and novel duplicate groups cluster among
    * themselves under their min batch id.
    *
    * FROZEN-CORPUS SEMANTICS, documented: the corpus clustering is
    * read-only here. A batch doc bridging two distinct corpus
    * clusters is assigned the smaller cluster id, but the two corpus
    * clusters are NOT merged in the table — re-run
    * [[writeDedupLabels]] over the grown corpus when retroactive
    * merges matter. The lag is confined to the CORPUS table: for the
    * BATCH itself, frozen assignment equals a full recompute over
    * corpus ∪ batch restricted to batch docs (uncapped) — corpus
    * clusters are transitively closed, so no corpus-corpus edge
    * crosses clusters, every union-graph path alternates batch docs
    * with within-cluster corpus docs, and a cluster's min id IS its
    * cluster id; InvariantsSpec checks the identity generatively.
    *
    * PARAMETERS come from the artifacts, not the caller: the sketch
    * constants are meta-pinned on BOTH sidecars and refused loudly on
    * mismatch (differently-banded artifacts probe empty buckets and
    * would return all-singletons), and `threshold = None` defaults to
    * the threshold the LABEL TABLE was built at — corpus clusters
    * formed at 0.3 probed at 0.5 silently break the identity above.
    * COVERAGE CONTRACT: every doc in the index must carry a label row
    * ([[labeledIngest]] maintains this by appending both in lockstep);
    * an index doc without a label contributes no bridge edge, so its
    * batch matches would silently split off as novel singletons —
    * do not mix [[graft.streaming.StreamingDedup.incrementalIngest]]
    * (which appends kept docs to the index but writes no labels) with
    * this operator on the same index.
    *
    * Plan shape: delta work ∝ batch — band probes against the
    * persisted index, Jaccard verification on semi-join-pruned
    * shingle lists, then label propagation over the BATCH-SIZED pair
    * graph only (cluster ids enter as frozen vertices; corpus rows
    * never iterate). Inherits [[nearDupLabels]]' storage contract
    * (release via `ColumnBridge.unpersistCheckpoint` after the last
    * action).
    */
  def assignDedupLabels(indexDir: String, labelsDir: String,
      batch: DataFrame, threshold: Option[Double] = None,
      maxIters: Int = 50, maxBucket: Option[Int] = None,
      excludeBatchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val (numHashes, bands, shingleN) = readDedupMeta(spark, indexDir)
    val lmDf = spark.read.parquet(s"$labelsDir/meta")
    requireConsistentBuild(spark, labelsDir, lmDf, Seq("labels"))
    val lm = lmDf
      .select(col("num_hashes"), col("bands"), col("shingle_n"),
        col("threshold")).head()
    require((lm.getInt(0), lm.getInt(1), lm.getInt(2)) ==
        ((numHashes, bands, shingleN)),
      s"index/labels sketch parameters disagree: index=($numHashes,$bands," +
        s"$shingleN) labels=(${lm.getInt(0)},${lm.getInt(1)},${lm.getInt(2)})")
    val thr = threshold.getOrElse(lm.getDouble(3))
    // excludeBatchId: a replayed ingest batch probes the state BEFORE
    // its own failed attempt — self-bridging against its leftover
    // index/label rows would still converge when those rows are
    // complete, but a torn attempt (index written, labels not) must
    // reproduce the ORIGINAL assignment, which only the pre-batch
    // view guarantees
    val near = verifiedIncrementalPairs(
      bandsTable(indexDir).read(spark, excludeBatchId),
      shinglesTable(indexDir).read(spark, excludeBatchId),
      batch, numHashes, bands, shingleN, thr, maxBucket)
    // ONE pass over `near` (r21): the previous bridge ∪ batch-batch
    // union referenced the verify pipeline twice, so the band probes +
    // Jaccard verification executed twice into the checkpoint below. A
    // conditional left join against the label table builds both edge
    // classes in one reference: corpus pairs project to their matched
    // doc's persisted cluster (null — an unlabeled index doc — is
    // filtered, reproducing the old inner join's coverage contract),
    // batch pairs keep their partner id.
    val edges = near
      .join(readDedupLabels(spark, labelsDir, excludeBatchId)
          .select(col("doc_id").as("lbl_doc"), col("cluster")),
        col("o_id") === col("lbl_doc") && col("from_corpus"), "left")
      .select(col("b_id").as("a"),
        when(col("from_corpus"), col("cluster"))
          .otherwise(col("o_id")).as("b"))
      .filter(col("b").isNotNull)
      // the expensive part — band probes + Jaccard verify — executes
      // exactly ONCE, into this checkpoint; both the bound probe below
      // and (above the cap) labelPropagate's own edge materialization
      // read the materialized list instead of re-running the pipeline
      .localCheckpoint(true)
    try {
      // Driver-local min-label closure for BATCH-BOUNDED pair graphs:
      // the edge list is ∝ batch by construction (band probes emit
      // candidates for batch docs only), yet the iterative
      // labelPropagate pays one Spark job + checkpoint per round — for
      // a typical ingest batch's graph of tens of edges, job overhead
      // dominates the whole operator. Probing the bound with
      // limit(cap + 1) keeps the collect legitimately bounded (≤ cap
      // edge rows on the driver, never corpus rows — allowlisted with
      // this bound), and union-find collapses all propagation rounds
      // into one broadcast join. A graph above the cap — a huge batch —
      // falls back to the iterative path unchanged.
      val sample = edges.limit(driverEdgeCap + 1).collect()
      val assigned =
        if (sample.length <= driverEdgeCap) {
          val labelOf = minLabelClosure(
            sample.map(r => (r.getLong(0), r.getLong(1))))
          import spark.implicits._
          val labelDf = labelOf.toSeq.toDF("doc_id", "assigned_cluster")
          batch.select(col("doc_id"))
            .join(broadcast(labelDf), Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("assigned_cluster"), col("doc_id")).as("cluster"))
        } else
          labelPropagate(edges, batch.select(col("doc_id")), maxIters,
            "assignDedupLabels")
      assigned.orderBy(col("doc_id"))
    } finally
      // safe to release before the caller executes the result: the
      // fast path's plan derives only from driver-held rows, and
      // labelPropagate eagerly materialized its own edge checkpoint
      // from this one during the call
      ColumnBridge.unpersistCheckpoint(edges)
  }

  /** Edge-count bound for the driver-local closures in
    * [[assignDedupLabels]] and [[labelPropagateCounted]]'s fast path:
    * ≤ this many (Long, Long) rows ever reach the driver (~1.6 MB) —
    * the codebook-collect pattern, sized far above any sane ingest
    * batch's pair graph but far below anything corpus-shaped. */
  private[graft] val DriverEdgeCap = 100000

  /** The live cap — [[DriverEdgeCap]] unless overridden via the
    * `graft.driverEdgeCap` system property. A TEST SEAM only: the
    * storage-contract specs set it to 0 to force the iterative path
    * (whose checkpoint-release contract they pin) on fixtures whose
    * graphs would otherwise take the driver closure; production code
    * never sets it. The property is process-global and the specs
    * set/clear it non-atomically — safe under sbt's sequential
    * per-JVM suite execution, a known flake source if
    * `testForkedParallel` is ever enabled (don't). A malformed value
    * fails LOUDLY with the property named, never as a bare
    * NumberFormatException three frames deep in a query.
    *
    * CAP UNITS differ by call site, deliberately: [[assignDedupLabels]]
    * probes the RAW pair list (1 row per undirected pair) while
    * [[labelPropagateCounted]] probes the SYMMETRIZED edge list (2 rows
    * per pair), so the effective fast-path threshold there is cap/2
    * pairs. Both bound the same thing — rows collected to the driver —
    * which is what the cap exists to bound; the label core simply
    * takes its driver closure on graphs up to half the pair count. */
  private[graft] def driverEdgeCap: Int =
    sys.props.get("graft.driverEdgeCap").fold(DriverEdgeCap) { v =>
      try v.trim.toInt
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"system property graft.driverEdgeCap='$v' is not an int — " +
          "it is a test-only seam; unset it or pass a number")
      }
    }

  /** Min-label connected components over a driver-held edge list:
    * union-find attaching the LARGER root under the smaller, so every
    * root is its component's minimum id and `find` returns the final
    * label directly — exactly [[labelPropagate]]'s fixpoint (label =
    * min id reachable in the symmetrized graph), in one pass. */
  private[graft] def minLabelClosure(
      edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    edges.iterator
      .flatMap(e => Iterator(e._1, e._2))
      .map(v => v -> find(v))
      .toMap
  }

  /** Quality × duplication profile — the boilerplate question made a
    * table: per integer quality bucket (`floor(quality·10)` — a
    * narrow projection, deliberately NOT a corpus-wide decile window,
    * which would be the partition-less-ntile scale-killer the
    * allowlist guards), how many docs sit in a near-dup cluster of
    * size > 1, as an exact-integer ppm. Boilerplate is typically BOTH
    * low-quality and highly duplicated; this measures whether quality
    * filtering and dedup are redundant or complementary passes on a
    * given corpus. Cluster labels come from the same propagation core
    * every dedup surface shares; the rest is two tiny aggregates.
    */
  def qualityDupProfile(docs: DataFrame): DataFrame =
    qualityDupProfileFromLabels(docs, nearDupLabels(docs))

  /** [[qualityDupProfile]] over an already-computed label frame —
    * the consumer half of the write-once/derive-many split
    * ([[writeDedupLabels]]): the profile is two tiny aggregates, and
    * feeding it the persisted table removes the full LSH+propagation
    * recompute its inline twin pays. Output is identical by
    * construction (same columns, same arithmetic). */
  def qualityDupProfileFromLabels(docs: DataFrame,
      labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"))
    val duped = labels.join(sizes, Seq("cluster"))
      .select(col("doc_id"), (col("csize") > 1).as("is_duped"))
    docs.select(col("doc_id"),
        floor(TextFunctions.qualityScore(col("text")) * 10).cast("long")
          .as("q_bucket"))
      .join(duped, Seq("doc_id"))
      .groupBy(col("q_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_duped"), 1L).otherwise(0L)).as("n_duped"))
      .withColumn("dup_ppm", expr("(n_duped * 1000000) div n_docs"))
      .orderBy(col("q_bucket"))
  }

  /** Longest-shared-span report over the near-dup pair graph — the
    * question "are these near-dups wholesale copies or scattered
    * overlap?" made a column: for each MinHash-candidate pair, the
    * matched shingle positions chain into diagonal runs
    * (gaps-and-islands on `pos_a − pos_b`), and the longest run is
    * the longest contiguous shared token span (`run + n − 1` tokens).
    * The Lee-et-al exact-substring-dedup signal, bounded to the pair
    * graph the banded LSH already found: positional postings join
    * ONLY within candidate pairs — never all-pairs — so work is
    * |pairs| × overlap volume, and the island window partitions by
    * (pair, diagonal), both corpus-independent. Positional shingles
    * are NON-distinct (unlike [[shingleHashFrame]]'s deduped sets —
    * a repeated phrase must match at every occurrence for the
    * diagonals to chain), hashed with the same 31-bit polynomial.
    */
  def sharedSpans(docs: DataFrame, shingleN: Int = 3,
      numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // r22 MEASURED and REJECTED the pair-doc semi-join prune of the
    // positional-shingle frame (verdict item 4). Two variants, both
    // slower at sf0.1/32 cores in same-JVM interleaved A/Bs:
    //   - lazy prune (toksF semi-joined to the exploded pair-id set):
    //     every reference re-embedded the whole LSH pipeline — the
    //     dump grew 32 → 88 embedded scans / 62 → 206 exchange
    //     mentions, and the query read 1.0 → 1.16 s;
    //   - prune over an eagerly-checkpointed pair list (the label-
    //     family storage contract): plan shrank to 8 scans, but the
    //     extra materialization job cost more than the pruned explode
    //     saved — med 1.19 → 1.64 s, min 1.07 → 1.12 s.
    // Mechanism: both joins below already stream `ps` through a
    // broadcast of the (tiny) pair side with NO corpus shuffle, so the
    // prune only saves the normalize+explode CPU of non-pair docs —
    // while paying an extra job + block writes (checkpoint variant) or
    // a 3× plan (lazy variant). At 100 TB the same two broadcast
    // probes stream the postings without moving them, so the unpruned
    // shape is scan-bound, not shuffle-bound, and the trade stays
    // negative. Keeping the r21 shape; numbers in OPTIMIZATION_r22.md.
    val pairs = minhashPairsUnsorted(docs, numHashes, bands, threshold,
        shingleN)
      .select(col("doc_a"), col("doc_b"))
    val toksF = docs
      .select(col("doc_id"), TextFunctions.normText(col("text")).as("norm"))
      .withColumn("toks", split(col("norm"), " "))
    // per-doc token counts, for the sub-shingle clamp below — a narrow
    // projection joined only to the tiny aggregated pair report
    val tcnt = toksF.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_toks"))
    val ps = toksF
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(toks) >= $shingleN
           |THEN transform(sequence(1, size(toks) - ${shingleN - 1}),
           |       i -> array_join(slice(toks, i, $shingleN), ' '))
           |ELSE array(array_join(toks, ' ')) END""".stripMargin)))
      .select(col("doc_id"), col("pos"),
        ArrayHashExprs.poly_hash31(col("col")).as("g"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    pairs
      .join(ps.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
        col("g")), Seq("doc_a"))
      .join(ps.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
        col("g")), Seq("doc_b", "g"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("run_len")).as("n_matches"),
        max(col("run_len")).as("longest_run"))
      // run + n − 1 is exact for real shingles, but a sub-shingle doc's
      // whole-text fallback "shingle" has fewer than n tokens — clamp
      // by the shorter doc's token count so the span never overstates
      // what the document physically contains (for docs ≥ n tokens the
      // clamp is a no-op: run ≤ n_toks − n + 1 on both sides)
      .join(tcnt.select(col("doc_id").as("doc_a"),
        col("n_toks").as("toks_a")), Seq("doc_a"))
      .join(tcnt.select(col("doc_id").as("doc_b"),
        col("n_toks").as("toks_b")), Seq("doc_b"))
      .withColumn("longest_span_tokens",
        least(col("longest_run") + lit(shingleN - 1).cast("long"),
          least(col("toks_a"), col("toks_b"))))
      .select(col("doc_a"), col("doc_b"), col("n_matches"),
        col("longest_run"), col("longest_span_tokens"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
