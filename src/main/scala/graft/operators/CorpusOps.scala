package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Fnv32, LastWrite, TextFunctions}

/** Corpus-curation operators for large-scale training-data pipelines:
  * deterministic train/val/test splitting, hash-Bernoulli (stratified)
  * sampling, eval-set decontamination, per-cluster canonical selection,
  * and dataset accounting (per-source stats, language-ID confusion).
  *
  * Everything here is reproducible by construction — membership
  * decisions hash the stable document id rather than drawing RNG
  * state, so a re-run (or a different cluster size / partitioning)
  * assigns every document to the same split/sample. That property is
  * what makes these usable as *pipeline* stages: downstream jobs can
  * recompute membership instead of materializing it.
  */
object CorpusOps {

  /** Deterministic bucket in [0, buckets) from the document id: the
    * engine's reference-compat FNV-1a-variant hash
    * ([[graft.functions.Fnv32]], cited there to the reference's
    * `src/fnv32.rs:74-102`) over the ASCII id string. Hashing the id —
    * not the row position or an RNG — makes assignment stable across
    * runs, partitionings, and engines (the DuckDB oracle mirrors it
    * byte-for-byte). A narrow projection: no shuffle, scales linearly.
    *
    * ASCII-ID CONTRACT: the Spark side hashes the id's UTF-8 BYTES
    * while the DuckDB oracle mirror folds CODEPOINTS, so the two agree
    * only while every id character is ASCII (byte == codepoint —
    * trivially true for the numeric ids here). Feeding non-ASCII ids
    * keeps this function deterministic but breaks cross-engine
    * reproducibility of the assignment.
    */
  def hashBucket(id: Column, buckets: Int): Column =
    hashBucket(id, lit(buckets))

  /** Column-typed bucket count — the SQL-surface builder's shape
    * (`graft_hash_bucket(id, buckets)`); same arithmetic. */
  def hashBucket(id: Column, buckets: Column): Column =
    pmod(Fnv32.fnv32(id.cast("string").cast("binary")), buckets)

  /** Split name from an already-materialized percent bucket — the ONE
    * definition of the train/val/test boundaries. Takes the bucket as
    * a column (not the id) because `when` branches past the first are
    * lazily evaluated: subexpression elimination would not merge three
    * inline hash references, so callers materialize the bucket once. */
  def splitNameFromBucket(bucket: Column, trainPct: Int = 80,
      valPct: Int = 10): Column =
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))

  /** Split name for a document id: buckets 0..79 → train, 80..89 →
    * val, 90..99 → test (by default). */
  def splitName(id: Column, trainPct: Int = 80, valPct: Int = 10): Column =
    splitNameFromBucket(hashBucket(id, 100), trainPct, valPct)

  /** Per-split accounting over `documents`: doc count and total chars.
    * One narrow projection + a 3-group aggregate — scan-bound at any
    * scale.
    */
  def splitStats(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame =
    docs
      .select(hashBucket(col("doc_id"), 100).as("bucket"), col("n_chars"))
      .select(splitNameFromBucket(col("bucket"), trainPct, valPct).as("split"),
        col("n_chars"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"))

  /** Hash-Bernoulli keep decision: true iff the id's 1000-bucket hash
    * falls under `permille`. THE one definition of the sampling
    * predicate — [[sampleByHash]], [[stratifiedSampleStats]], and the
    * SQL surface's `graft_sample_keep` all route here, so the modulus
    * and strict-`<` convention cannot drift between them. */
  def sampleKeep(id: Column, permille: Column): Column =
    hashBucket(id, lit(1000)) < permille

  /** Shuffle-free deterministic Bernoulli sample: keep rows whose id
    * hashes under `permille`/1000. The scale-correct sampling shape —
    * a pushable filter, no repartition, no global pass — unlike
    * sort-by-random or reservoir variants that need a shuffle or a
    * driver merge.
    */
  def sampleByHash(df: DataFrame, idCol: Column, permille: Int): DataFrame =
    df.filter(sampleKeep(idCol, lit(permille)))

  /** Stratified sampling rates per language — downsampling the
    * dominant strata is the standard corpus-balancing move. Returns
    * per-language (n_total, n_kept, chars_kept) in ONE scan: the keep
    * decision is a projected boolean, so total and kept counts come
    * from the same aggregate rather than two passes.
    */
  def stratifiedSampleStats(docs: DataFrame,
      permilleByLang: Map[String, Int] = Map("en" -> 250),
      defaultPermille: Int = 1000): DataFrame = {
    val rate = permilleByLang.foldLeft(lit(defaultPermille)) {
      case (acc, (l, p)) => when(col("lang") === l, lit(p)).otherwise(acc)
    }
    docs
      .select(col("lang"), col("n_chars"),
        sampleKeep(col("doc_id"), rate).as("kept"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        count_if(col("kept")).as("n_kept"),
        coalesce(sum(when(col("kept"), col("n_chars"))), lit(0L))
          .as("chars_kept"))
      .orderBy(col("lang"))
  }

  /** Eval-set decontamination: for every training document, count the
    * distinct `shingleN`-gram shingles it shares with each eval
    * document; report pairs sharing at least `minShared`. The standard
    * pre-training hygiene pass (drop or flag training docs that leak
    * benchmark content). Both frames need (doc_id, text) columns —
    * real pipelines hold eval benchmarks in their own table, so the
    * eval set is a first-class input, not an id-range convention.
    *
    * Plan shape for 100 TB: the eval set is small by construction
    * (benchmark suites are ≪ the corpus), so its exploded shingle
    * postings BROADCAST — the train side streams through a
    * broadcast-hash join with no shuffle; only the matched pairs (a
    * tiny set) shuffle into the count aggregate. Work is linear in
    * train-corpus shingles, never train × eval. If the eval frame is
    * NOT known-small (its exploded postings must fit in executor
    * memory), pass `broadcastEval = false`: the forced hint would
    * bypass `autoBroadcastJoinThreshold` and OOM where an unhinted
    * shuffle join (AQE-sized) runs fine.
    *
    * Shingles are the fused 31-bit hashes of
    * [[Dedup.shingleHashFrame]] — identical to the dedup family's
    * arithmetic, mirrored exactly by the oracle.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, shingleN: Int = 5,
      minShared: Long = 1L, broadcastEval: Boolean = true): DataFrame = {
    val evalEx = shinglePostings(eval, "eval_doc", shingleN)
    val evalSide = if (broadcastEval) broadcast(evalEx) else evalEx
    sharedShingleReport(
      shinglePostings(train, "train_doc", shingleN), evalSide, minShared)
  }

  /** Exploded (doc, shingle-hash) postings. `explode_outer`: stops
    * InferFiltersFromGenerate from inlining the fused shingle-hash
    * into the scan filter (3× per-row evaluation — see the twin
    * comment in Dedup.ngramJaccardPairs); the null rows it can emit
    * are dropped by the inner join on `g` downstream.
    */
  private def shinglePostings(docs: DataFrame, as: String,
      shingleN: Int): DataFrame =
    Dedup.shingleHashFrame(docs, shingleN)
      .select(col("doc_id").as(as), explode_outer(col("xs")).as("g"))

  /** The shared tail of both decontamination variants: matched
    * postings → per-pair shared-shingle counts ≥ `minShared`. */
  private def sharedShingleReport(trainPost: DataFrame,
      evalSide: DataFrame, minShared: Long): DataFrame =
    trainPost.join(evalSide, Seq("g"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("train_doc"), col("eval_doc"))

  /** [[decontaminate]] with a Bloom-prefiltered train side — the
    * eval-not-small scale path. [[decontaminate]]'s linear-in-train
    * plan still JOINS every train shingle posting against the eval
    * postings; when the eval side outgrows a broadcast
    * (`broadcastEval = false`), that is a corpus-sized shuffle whose
    * matches are a vanishing fraction. Here the eval shingle set first
    * folds into ONE fixed-size Bloom sketch (Spark's own
    * `BloomFilterAggregate` — map-side combining, `numBits/8` bytes on
    * the driver regardless of eval cardinality: the codebook pattern),
    * and train postings filter through the codegen'd
    * `might_contain` BEFORE any join — so the shuffle carries true
    * matches + an `fpp` sliver of false positives, both removed by the
    * exact join that follows. No false negatives exist (Bloom
    * guarantee), therefore output ≡ [[decontaminate]] row-for-row and
    * the two share one oracle.
    *
    * `expectedEvalShingles` sizes the sketch: ~1.2 bytes/shingle at
    * the default 1% fpp (Spark caps it at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`, default
    * 4M — raise that conf alongside for benchmark suites beyond it).
    */
  def decontaminateBloom(train: DataFrame, eval: DataFrame,
      shingleN: Int = 5, minShared: Long = 1L,
      expectedEvalShingles: Long = 1L << 20,
      broadcastEval: Boolean = true): DataFrame = {
    val evalEx = shinglePostings(eval, "eval_doc", shingleN)
    val evalSide = if (broadcastEval) broadcast(evalEx) else evalEx
    sharedShingleReport(
      bloomPrefilter(shinglePostings(train, "train_doc", shingleN),
        evalEx, expectedEvalShingles),
      evalSide, minShared)
  }

  /** `trainPost` filtered to postings whose shingle might be in
    * `evalPost`'s shingle set. The collect is the ONE bounded driver
    * artifact: the serialized sketch, ≤ numBits/8 bytes (≈1.2 MB at
    * the 1%-fpp default sizing), never a row of either corpus.
    */
  private[graft] def bloomPrefilter(trainPost: DataFrame,
      evalPost: DataFrame, expectedEvalShingles: Long): DataFrame = {
    val bytes = shingleBloomOf(evalPost, expectedEvalShingles)
    if (bytes == null) trainPost.filter(lit(false)) // empty eval set
    else trainPost.filter(shingleMightContain(bytes, col("g")))
  }

  /** Serialized eval-shingle Bloom sketch — the PERSISTABLE batch
    * artifact the streaming decontamination gate replays (the
    * mixtureGate pattern: expensive global knowledge computed once,
    * shipped as bytes, applied as cheap per-row arithmetic). Returns
    * null for an empty eval set. */
  def evalShingleBloom(eval: DataFrame, shingleN: Int = 5,
      expectedEvalShingles: Long = 1L << 20): Array[Byte] =
    shingleBloomOf(shinglePostings(eval, "eval_doc", shingleN),
      expectedEvalShingles)

  private def shingleBloomOf(post: DataFrame,
      expectedEvalShingles: Long): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bloomAgg = ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.catalystExpression(col("g").cast("long")),
        expectedEvalShingles).toAggregateExpression())
    post.filter(col("g").isNotNull)
      .agg(bloomAgg.as("bf")).collect()(0).getAs[Array[Byte]]("bf")
  }

  /** The codegen'd membership probe over one shingle-hash column —
    * ONE home for the cast convention (the sketch folds LONGs). */
  private[graft] def shingleMightContain(bytes: Array[Byte],
      g: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bytes), ColumnBridge.catalystExpression(g.cast("long"))))
  }

  /** Fixture adapter twin of [[decontaminateById]] for the Bloom
    * variant — same oracle as [[decontaminateById]] (the sketch is a
    * prefilter, not a semantics change). */
  def decontaminateBloomById(docs: DataFrame, evalMaxId: Long = 100,
      shingleN: Int = 5, minShared: Long = 1): DataFrame =
    decontaminateBloom(
      docs.filter(col("doc_id") >= evalMaxId),
      docs.filter(col("doc_id") < evalMaxId),
      shingleN, minShared)

  /** Fixture adapter: eval set = `doc_id < evalMaxId` within one
    * corpus frame — the driver-query shape over the single `documents`
    * table. Pipelines with a real eval table use
    * [[decontaminate(train:org\.apache\.spark\.sql\.DataFrame,eval:org\.apache\.spark\.sql\.DataFrame)* decontaminate]]
    * directly.
    */
  def decontaminateById(docs: DataFrame, evalMaxId: Long = 100,
      shingleN: Int = 5, minShared: Long = 1): DataFrame =
    decontaminate(
      docs.filter(col("doc_id") >= evalMaxId),
      docs.filter(col("doc_id") < evalMaxId),
      shingleN, minShared, broadcastEval = true)

  /** Canonical selection by QUALITY: within each near-dup cluster
    * (transitive MinHash closure, [[Dedup.nearDupClusters]]), keep the
    * highest-quality document, ties broken toward the smallest id.
    * The production alternative to min-id canonicalization — dedup
    * should keep the *best* copy, not an arbitrary one.
    *
    * [[LastWrite]] over the (quality, -doc_id) order is a one-shuffle
    * hash aggregate with map-side partials — no per-cluster sort. The
    * quality arithmetic is [[TextFunctions.qualityScore]], already
    * bit-matched by its oracle, so the argmax is engine-stable.
    */
  def bestOfCluster(docs: DataFrame): DataFrame =
    bestOfClusterFromLabels(docs, Dedup.nearDupLabels(docs))

  /** [[bestOfCluster]] over an already-computed label frame (e.g. the
    * [[Dedup.writeDedupLabels]] table) — the argmax is one shuffle
    * over (doc_id, cluster, quality); feeding it persisted labels
    * removes the LSH+propagation recompute entirely. */
  def bestOfClusterFromLabels(docs: DataFrame,
      labels: DataFrame): DataFrame =
    labels
      .join(docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality")), Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        LastWrite.bestId(col("doc_id"), col("quality")).as("best_doc_id"),
        max(col("quality")).as("best_quality"))
      .orderBy(col("cluster"))

  /** Sequence packing — the concat-then-chunk shape LLM pretraining
    * uses: documents are concatenated into fixed token-budget bins and
    * each document is assigned to the bin where its first token lands.
    * Distribution strategy: docs hash into `packBuckets` INDEPENDENT
    * packing streams (FNV of the id — deterministic and
    * engine-reproducible like every membership decision here), each
    * stream orders its docs by id and takes a running token total; the
    * bin is the running total's exclusive-prefix divided by the
    * budget.
    *
    * Scale shape: ONE shuffle on `pack_bucket` + a per-bucket sort —
    * the cumulative sum is the only inherently sequential step, and
    * bucketing bounds it to a 1/`packBuckets` slice. At 100 TB raise
    * `packBuckets` to O(10⁵): streams stay independent, so
    * parallelism is the bucket count and NO global ordering is ever
    * materialized. Re-running with the same (budget, buckets) yields
    * byte-identical assignments on any cluster size.
    */
  def packAssignments(docs: DataFrame, budgetTokens: Int = 512,
      packBuckets: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("pack_bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"),
        hashBucket(col("doc_id"), packBuckets).as("pack_bucket"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // double division then floor: exact while token totals stay under
      // 2^53 (always — a 100 TB corpus is ~10^13 tokens), and the same
      // two IEEE ops on both engines
      .withColumn("bin_id",
        floor(col("start_tok") / lit(budgetTokens.toDouble)).cast("long"))
  }

  /** Per-(stream, bin) packing accounting: how many docs and tokens
    * each bin carries, and its first document — the audit a packing
    * run ships with (bins except each stream's last should sit at or
    * just over budget).
    */
  def packStats(docs: DataFrame, budgetTokens: Int = 512,
      packBuckets: Int = 8): DataFrame =
    packAssignments(docs, budgetTokens, packBuckets)
      .groupBy(col("pack_bucket"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("pack_bucket"), col("bin_id"))

  /** Source mixture weights — the temperature-style rebalancing a
    * multi-source pretraining mix applies so big crawls don't drown
    * small high-quality sources: each source's relative sampling
    * weight is `tokens^α` with α fixed at 1/2 via `sqrt`. Engine-exact
    * by construction: token totals are integer sums, `sqrt` is
    * IEEE-754 correctly rounded on every engine (an arbitrary `pow`'s
    * libm ulp drift would break the cross-engine hash), and the
    * normalizer is the MAX source (order-independent) rather than a
    * float sum (whose addition order differs across engines). Output
    * per source: doc/token totals, the proportional share
    * `tokens/total`, and `rel_weight = sqrt(tokens)/sqrt(max_tokens)`
    * — 1 for the largest source, and > raw share for every smaller
    * one (the flattening that is the point of the operator).
    *
    * Scale shape: one partial-aggregable groupBy(source) (map-side
    * combine collapses 100 TB to O(#sources) rows) + a broadcast
    * 1-row scalar for the totals — the Q22 idiom; no corpus-wide
    * shuffle beyond the tiny per-source aggregate.
    */
  /** The α=1/2 normalize-by-max tail shared by [[sourceMixture]] and
    * [[sourceMixtureEffective]] — ONE definition of the arithmetic
    * their scaladoc contracts promise is identical (previously two
    * hand-kept copies that a one-sided tweak could silently
    * desynchronize). `per` must carry (source, n_docs, tokens). */
  private def mixtureTail(per: DataFrame): DataFrame = {
    val tot = per.agg(sum(col("tokens")).as("tot_tokens"),
      max(col("tokens")).as("max_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"),
        (col("tokens").cast("double") / col("tot_tokens")).as("raw_share"),
        (sqrt(col("tokens").cast("double")) /
          sqrt(col("max_tokens").cast("double"))).as("rel_weight"))
      .orderBy(col("source"))
  }

  def sourceMixture(docs: DataFrame): DataFrame =
    mixtureTail(docs.select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens")))

  /** [[sourceMixture]] computed from EFFECTIVE tokens — the dup-tax
    * correction [[effectiveTokens]] exists to feed: per source, only
    * the tokens of near-dup cluster CANONICALS count toward the
    * mixture, so a source padded with near-copies no longer buys
    * sampling weight with text dedup will delete. Same α=1/2
    * normalize-by-max arithmetic as the raw mixture (identical IEEE
    * ops, engine-exact); the label frame is the persisted
    * [[graft.operators.Dedup.writeDedupLabels]] table, so the
    * correction costs one scan + join + aggregate, never a
    * propagation.
    */
  def sourceMixtureEffective(docs: DataFrame, labels: DataFrame): DataFrame =
    mixtureTail(docs.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
      .join(labels, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster") === col("doc_id"), col("n_toks"))
          .otherwise(0L)).as("tokens")))

  /** Temperature sampling APPLIED — [[sourceMixture]]'s α=1/2
    * rebalancing turned into an actual deterministic per-source keep
    * rate: sampled tokens per source come out ∝ √tokens, so the big
    * crawls shrink and the smallest source keeps everything
    * (rate_s = √(min_tokens / tokens_s), the unique per-source
    * Bernoulli rate with that property that never exceeds 1).
    *
    * Exactness discipline: the rate is two IEEE-correctly-rounded
    * `sqrt`s, one division, one multiply, one `floor` to an integer
    * parts-per-million threshold — every engine lands on the SAME
    * ppm integer, and membership is then pure integer arithmetic
    * (FNV of the doc id mod 1e6 under the threshold: the
    * [[sampleKeep]] shape at ppm granularity). Truncation biases the
    * rate DOWN (≤ 0.5 doc expected shortfall per million) — the safe
    * direction for a cap. Re-runs, repartitionings, and other
    * engines draw the identical sample.
    *
    * Two-pass plan (the [[selectByTokenBudget]] regime): pass 1
    * collapses the corpus to O(#sources) token sums (map-side
    * combining) + a broadcast 1-row min; pass 2 re-scans with the
    * tiny rate table joined back (AQE broadcasts it) and the
    * membership filter — no corpus shuffle in either pass.
    */
  /** The (source, tokens, ppm) rate table — the persistable artifact
    * a pipeline computes from yesterday's corpus and joins against
    * today's ingest (see [[graft.streaming.StreamingCuration
    * .mixtureGate]], the streaming face of this sampler). */
  def mixtureRates(docs: DataFrame): DataFrame = {
    val srcTok = docs.select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      // coalesce: a source whose every doc has null text summed to
      // NULL tokens → NULL ppm → mixtureSample silently dropped the
      // whole source (the same vanishing-source class the dedup
      // audits fixed). Zero tokens is the honest value
      .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("tokens"))
    // min over POSITIVE totals only: a zero-token source must not
    // drag every other source's rate to zero
    val mn = srcTok.filter(col("tokens") > 0)
      .agg(min(col("tokens")).as("min_tokens"))
    srcTok.crossJoin(broadcast(mn))
      .select(col("source"), col("tokens"),
        // a token-less source is the smallest there is — the mixture
        // rule keeps the smallest sources whole, and keeping docs
        // that contribute zero tokens costs the mixture nothing
        when(col("tokens") > 0,
          floor(sqrt(col("min_tokens").cast("double")) /
            sqrt(col("tokens").cast("double")) * 1000000.0)
            .cast("long"))
          .otherwise(lit(1000000L)).as("ppm"))
  }

  /** The per-doc membership rule shared by the batch sampler and the
    * streaming gate: FNV(id) mod 1e6 under the source's ppm. */
  private[graft] def mixtureKeep(id: Column, ppm: Column): Column =
    hashBucket(id, lit(1000000)) < ppm

  private def mixtureKept(docs: DataFrame): DataFrame = {
    val per = docs.select(col("source"), col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .alias("d")
    // NULL-SAFE source equality: mixtureRates' groupBy keeps a
    // null-source group (its rate row exists), but a plain equi-join
    // here silently vanished every null-source doc from the sample —
    // the same vanishing-source class sourceQuotaDistributed fixed
    // with <=>. A null source is a real source bucket (unattributed
    // docs), and it samples under its own rate like any other.
    // EqualNullSafe is a legal hash-join key, so the tiny rate table
    // still broadcasts.
    per.join(mixtureRates(docs).alias("r"),
        col("d.source") <=> col("r.source"))
      .select(col("d.source"), col("d.doc_id"), col("d.n_tokens"),
        col("r.tokens"), col("r.ppm"))
      .withColumn("kept", mixtureKeep(col("doc_id"), col("ppm")))
  }

  /** The kept rows — the pipeline-usable sampled corpus. */
  def mixtureSample(docs: DataFrame): DataFrame =
    mixtureKept(docs).filter(col("kept"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Per-source accounting for [[mixtureSample]]: the ppm rate and
    * the doc/token counts before and after — all-integer output, so
    * the oracle compare is hash-exact. */
  def mixtureSampleStats(docs: DataFrame): DataFrame =
    mixtureKept(docs)
      .groupBy(col("source"), col("tokens"), col("ppm"))
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("kept")).as("n_kept"),
        coalesce(sum(when(col("kept"), col("n_tokens"))), lit(0L))
          .as("kept_tokens"))
      .orderBy(col("source"))

  /** Length-bucketed batch accounting — the padding-waste audit that
    * motivates length bucketing: batching similar-length sequences
    * shrinks the `max(len)·batch − Σlen` padding a naive random batch
    * pays. Documents bucket by `n_tokens div bucketTokens` (capped at
    * `maxBucket` — pure integer arithmetic, engine-exact; no log2,
    * whose float rounding at exact powers of two could flip buckets
    * between engines), then split into `streams` independent FNV
    * sub-streams, and each (bucket, stream) forms batches of
    * `batchSize` docs in doc-id order. Output: per-batch doc/token
    * totals, the batch max, and `padding_tokens` — the waste a
    * pad-to-longest collator would add.
    *
    * Scale shape: ONE shuffle on (len_bucket, stream) + a per-group
    * row_number — the same independent-stream trick as
    * [[packAssignments]]: parallelism is buckets×streams, so at
    * 100 TB raise `streams` to O(10⁴-10⁵) and no group ever
    * serializes the corpus. Assignment hashes the stable doc id, so
    * re-runs on any cluster size reproduce identical batches.
    */
  def batchPadding(docs: DataFrame, batchSize: Int = 8, streams: Int = 4,
      bucketTokens: Int = 16, maxBucket: Int = 8): DataFrame = {
    require(batchSize >= 1 && streams >= 1 && bucketTokens >= 1 &&
      maxBucket >= 0,
      s"batchSize/streams/bucketTokens must be >= 1 and maxBucket >= 0; " +
        s"got batchSize=$batchSize streams=$streams " +
        s"bucketTokens=$bucketTokens maxBucket=$maxBucket")
    val w = Window.partitionBy(col("len_bucket"), col("stream"))
      .orderBy(col("doc_id"))
    // coalesce: least() SKIPS nulls, so a null-text doc (null token
    // count) landed in the TOP length bucket and inflated its
    // padding by a full max_tokens — zero tokens is the honest value
    // and puts it in bucket 0
    docs.select(col("doc_id"),
        coalesce(TextFunctions.tokenCount(col("text")).cast("long"), lit(0L))
          .as("n_tokens"),
        hashBucket(col("doc_id"), streams).as("stream"))
      .withColumn("len_bucket",
        least(expr(s"n_tokens div $bucketTokens"), lit(maxBucket.toLong)))
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("batch_id", expr(s"rn div $batchSize").cast("long"))
      .groupBy(col("len_bucket"), col("stream"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("batch_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .withColumn("padding_tokens",
        col("max_tokens") * col("n_docs") - col("batch_tokens"))
      .orderBy(col("len_bucket"), col("stream"), col("batch_id"))
  }

  /** Padding parameter sweep — [[batchPadding]] evaluated for several
    * candidate length-bucket granularities in ONE job, summarized to
    * one row per candidate: batch count, real vs padding tokens, and
    * the integer pad rate (`pad_ppm`, the mixtureSample exact-share
    * rule). This is how a pipeline CHOOSES its collator config —
    * measured on the corpus itself rather than folklore — and the
    * general pattern: a config sweep is a union of re-aggregations,
    * so the candidates share the corpus scan work per branch instead
    * of one job per config run by hand. The optimum is genuinely
    * corpus-dependent, which is the operator's reason to exist: finer
    * buckets reduce padding ONLY while `maxBucket·bucketTokens` still
    * covers the corpus' length range — past that, ever-finer buckets
    * shove more of the corpus into the mixed-length overflow bucket
    * and padding climbs back up (the sf0.01 fixture's optimum is the
    * MIDDLE config for exactly this reason). Within-range
    * monotonicity is spec-pinned; the driver oracle checks the full
    * non-monotone sweep.
    */
  def paddingSweep(docs: DataFrame, bucketSizes: Seq[Int] = Seq(4, 16, 64),
      batchSize: Int = 8, streams: Int = 4,
      maxBucket: Int = 8): DataFrame = {
    require(bucketSizes.nonEmpty, "bucketSizes must be non-empty")
    bucketSizes.distinct.sorted.map { b =>
      batchPadding(docs, batchSize, streams, b, maxBucket)
        .agg(count(lit(1)).as("n_batches"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("batch_tokens")).as("real_tokens"),
          sum(col("padding_tokens")).as("padding_tokens"))
        .select(lit(b).as("bucket_tokens"), col("n_batches"),
          col("n_docs"), col("real_tokens"), col("padding_tokens"))
        // overflow-safe split ppm ([[graft.functions.ExactMath]] —
        // padding_tokens·10⁶ overflows long past ~9.2×10¹² padding
        // tokens); null when the corpus is empty, exactly as the
        // unsplit nullif form
        .withColumn("pad_ppm", graft.functions.ExactMath.ppmSplitDiv(
          "padding_tokens", "nullif(real_tokens + padding_tokens, 0)"))
    }.reduce(_.unionAll(_)).orderBy(col("bucket_tokens"))
  }

  /** Sliding-window token chunking — context-length preparation: each
    * document yields windows of `window` tokens advancing by `stride`
    * (overlap = `window − stride`), the shape long-document corpora are
    * cut into before packing/training. A document shorter than `window`
    * yields exactly ONE chunk (its whole text); only the final chunk of
    * a longer document may be short. `stride ≤ window` is required —
    * that is what guarantees every token lands in at least one chunk.
    *
    * Scale shape: a NARROW per-row transform — tokenize once, explode
    * into ⌈n/stride⌉ rows, slice+join per chunk — NO shuffle anywhere
    * (the trailing orderBy is presentation-only for the oracle compare;
    * production callers drop it). At 100 TB this runs at parquet-scan
    * speed with column pruning to (doc_id, text); output volume is
    * input × window/stride, the expected overlap factor.
    */
  def docChunks(docs: DataFrame, window: Int = 32, stride: Int = 16): DataFrame =
    chunkProjection(docs, window, stride)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** The chunk projection alone — stateless and narrow, so it runs
    * UNCHANGED as a Structured Streaming transform (append mode, no
    * state, no watermark): chunking a live document feed is the same
    * plan as chunking the batch corpus. [[docChunks]] adds only the
    * batch-tier presentation sort, which streaming neither allows nor
    * needs.
    */
  def chunkProjection(docs: DataFrame, window: Int = 32,
      stride: Int = 16): DataFrame = {
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window]; got stride=$stride window=$window")
    docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      // chunk count − 1: ceil((n − window)/stride), floored at 0 so a
      // short document still emits its single whole-text chunk
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          greatest(ceil((size(col("toks")) - window) / lit(stride.toDouble)),
            lit(0)).cast("int"))).as("chunk_id"))
      .select(col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        array_join(
          slice(col("toks"), col("chunk_id") * stride + 1, lit(window)), " ")
          .as("chunk"),
        least(size(col("toks")) - col("chunk_id") * stride, lit(window))
          .cast("long").as("n_tokens"))
  }

  /** Per-document keyword extraction: top-`k` terms by tf×idf with a
    * LINEAR idf (tf × N/df, not tf × ln(N/df)) — chosen deliberately
    * for engine stability: the scoring is two IEEE-exact double ops
    * (divide, multiply) that every engine rounds identically, where a
    * transcendental `ln` differs in final ulps across libm
    * implementations and can flip ranks/hashes. Linear idf preserves
    * the ranking property that matters (rare terms beat stopwords:
    * df≈N scores ≈tf, df=2 scores ≈tf·N/2).
    *
    * Plan shape: ONE token explode (Σ tokens work) into the tf
    * aggregate; df is RE-AGGREGATED from the tf frame
    * (`tf.groupBy(term).count` — both join sides share the tf
    * aggregate's (doc_id, term) Exchange, which ReuseExchange dedupes,
    * so the corpus is still tokenized exactly once) and equi-joined
    * back. NOT a `count over (partition by term)` window on the tf
    * rows: terms are Zipfian, and a window Exchange keyed by raw term
    * must land a stopword's ~N tf rows on ONE task (windows cannot be
    * skew-split), where (a) the df aggregate is partial-aggregable so
    * the hot key combines map-side to O(#partitions) rows, and (b) the
    * tf⋈df join exchange IS AQE-skew-splittable at runtime. N is a
    * broadcast 1-row aggregate (the Q22 scalar idiom), rank a
    * WindowGroupLimit-prunable row_number over doc_id (bounded: tokens
    * per document). Ties break on the term string so top-k is
    * deterministic.
    */
  def docKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val ex = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = ex.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // load-bearing vacuous gate: without a reference to tf, column
    // pruning rewrites the df-side copy of the tf aggregate into a bare
    // distinct (functions=[]), de-canonicalizing it from the tf side's —
    // AQE then cannot stage-reuse the exchange and the corpus tokenizes
    // TWICE (observed; the spec pins the reuse). Why this form holds is
    // documented once at [[graft.functions.Barrier.reuseAnchor]].
    val df = tf.filter(graft.functions.Barrier.reuseAnchor(col("tf")))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Cross-source near-duplicate overlap: for every near-dup pair
    * (MinHash+LSH, [[Dedup.minhashPairs]]), attribute the pair to its
    * two sources and count pairs per unordered source pair — the
    * "which sources copy each other" corpus audit. Source labels join
    * onto the (tiny) pair set, never the other way round, so the
    * corpus-side cost is exactly one minhash pass; `least/greatest`
    * canonicalize the pair so (A,B) and (B,A) land in one cell.
    */
  /** Corpus snapshot diff — the incremental-crawl audit: which docs
    * were added, removed, or changed between two corpus snapshots.
    * Both sides collapse to (doc_id, md5-fingerprint) BEFORE the join,
    * so the full-outer shuffle carries 16-byte digests, never document
    * text; status falls out of null-ness and fingerprint inequality.
    * Unchanged docs (the overwhelming majority between adjacent crawl
    * snapshots) are filtered out, so the result is delta-sized.
    *
    * Scale shape: one doc_id shuffle per side (zero with snapshots
    * stored bucketed by doc_id via [[graft.sources.CorpusStore]] — the
    * natural layout for a corpus diffed every crawl). Null text is
    * fingerprinted as the empty string so a present-but-null doc
    * compares as present on both engines.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def fp(d: DataFrame, as: String) = d.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as(as))
    fp(oldDocs, "old_fp")
      .join(fp(newDocs, "new_fp"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"), col("old_fp"), col("new_fp"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic "next crawl" of a corpus for the diff query's
    * fixture: every 7th doc dropped, every 5th revised (text suffix),
    * every 11th re-crawled under a shifted id — the oracle rebuilds
    * the same snapshot in SQL, so the diff is hash-exact end-to-end.
    */
  def syntheticNextSnapshot(docs: DataFrame, idShift: Long = 1000000L): DataFrame =
    docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + lit(idShift)).as("doc_id"), col("text")))

  /** Near-duplicate pairs counted per (source_lo, source_hi) pair of
    * sources. Precondition: `doc_id` is unique in `docs`. The melt
    * below matches the old double join (least/greatest over the two
    * members' sources) and its regroup is 1:1 only for unique ids. A
    * repeated id attaches all of its sources to each of its pairs: the
    * regroup folds them into one row whose min/max can span two of the
    * id's own sources, where the double join emitted one row per
    * source combination.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    // r22 (guide §2.4): the old shape joined the (doc_id, source)
    // projection to the pair list TWICE — two full corpus-projection
    // scans whose only job was attaching one source string each.
    // Melt each pair into its two members, attach source with ONE
    // join (AQE broadcasts the tiny melted side at runtime, so the
    // corpus projection is scanned once and never shuffled), and fold
    // the two member rows back with min/max — identical to
    // least/greatest over the attached pair: both are the binary-
    // collation extremes of the same two values, with the same
    // null-skipping. (doc_a, doc_b) rows are unique by construction
    // (the candidate set is distinct), so the regroup is 1:1.
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.minhashPairsUnsorted(docs)
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(src, Seq("doc_id"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("source")).as("source_lo"),
        max(col("source")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_lo"), col("source_hi"))
  }

  /** Per-source × language accounting: doc count and total chars per
    * (source, lang) cell. The first report any corpus audit asks for;
    * a single straight aggregate.
    */
  /** Per-source quota curation — the domain-balancing step (CCNet /
    * RefinedWeb style): cap every source at `cap` documents, keeping
    * the highest-quality ones (quality DESC, doc_id tiebreak for
    * engine-stable ranking). Emits every doc with its within-source
    * rank and a `kept` flag, so downstream both filters and audits
    * how much each source was squeezed.
    *
    * Scale shape: ONE source-partitioned window over a projection that
    * computes quality inline — no join, no second pass. Window
    * parallelism is the source count and per-task cost the largest
    * source's cardinality; a mega-source (half the crawl from one
    * domain) is the documented bound — pre-aggregate by (source,
    * quality-bucket) histogram prefix, as in
    * [[graft.operators.EventAnalytics.userSpendDecilesDistributed]],
    * if one source dominates the corpus.
    */
  def sourceQuota(docs: DataFrame, cap: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    docs.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      .withColumn("src_rank", row_number().over(w))
      .withColumn("kept", col("src_rank") <= cap)
      .orderBy(col("doc_id"))
  }

  /** Distributed-rank twin of [[sourceQuota]] — identical output, no
    * full-source window. [[sourceQuota]]'s `row_number() OVER
    * (PARTITION BY source)` funnels every doc of a source through ONE
    * window task; a mega-source (half the crawl from one domain) makes
    * that task the job. This twin ranks by radix histogram prefix
    * instead (the [[graft.operators.EventAnalytics.userSpendDecilesDistributed]]
    * machinery, here per source):
    *
    *  1. per-doc radix key: complemented [[graft.functions.DoubleBits]]
    *     orderable bits of quality — unsigned-ascending == (quality
    *     DESC); doc_id breaks ties inside a bin. Equal qualities share
    *     a key, so a tie can never straddle bins.
    *  2. histogram per (source, top-10-bits) — an ordinary distributed
    *     aggregate; bins holding more than `binMaxRows` docs refine 10
    *     more bits per round (≤6 rounds to the 60-bit floor, where
    *     only exact quality ties remain). Each round's bin table is
    *     locally checkpointed (tiny: ≤1024 bins/source/round) so the
    *     returned plan reads materialized bins instead of re-running
    *     the planning aggregates — same storage contract as the
    *     near-dup label family: release with
    *     `ColumnBridge.unpersistCheckpoint` after the last action.
    *  3. bin offsets: running count over the BIN table per source —
    *     window cardinality is bins, never docs.
    *  4. each doc probes one struct per refinement level (≤6) and
    *     equi-joins its unique bin; rank = bin offset + row_number
    *     within (source, bin) — per-task cost `binMaxRows`, not
    *     source cardinality. Signed bkey order inside a bin is safe:
    *     every bin fixes the top ≥10 key bits, sign bit included.
    *
    * The hot-bin probe side is broadcast: its size is bounded by
    * docs/`binMaxRows`, not by source cardinality.
    */
  def sourceQuotaDistributed(docs: DataFrame, cap: Int = 50,
      binMaxRows: Long = 1000000L): DataFrame = {
    val MaxLevels = 6
    val base = docs.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      .withColumn("bkey",
        // NULL quality → unsigned max == DESC NULLS LAST in both
        // engines; collides only with an unreachable -Inf quality,
        // and the doc_id tiebreak keeps even that deterministic
        coalesce(
          graft.functions.DoubleBits.orderableBits(col("quality"))
            .bitwiseXOR(lit(-1L)),
          lit(-1L)))
    def prefixAt(level: Int): Column =
      shiftrightunsigned(col("bkey"), 64 - 10 * level)
    var level = 1
    var hist = base.groupBy(col("source"), prefixAt(1).as("b_prefix"))
      .agg(count(lit(1)).as("n"))
      .withColumn("b_level", lit(1))
      .localCheckpoint()
    var leaves = hist.filter(col("n") <= binMaxRows)
    var hot = hist.filter(col("n") > binMaxRows)
    var hotLeft = hot.limit(1).count() > 0
    // LAZY persist, the planSpendBins discipline: the no-skew case
    // resolves from the single level-1 histogram and must not pay a
    // cache materialization, but every refinement round below joins
    // `base` again — uncached that recomputes qualityScore over the
    // FULL corpus per round (the filter applies after scoring).
    // Released before returning; the terminal probe plan recomputes
    // base once — review-caught (round 9).
    var persisted = false
    try {
      while (hotLeft && level < MaxLevels) {
        if (!persisted) { base.persist(); persisted = true }
        val hotKeys = hot.select(col("source").as("h_source"),
          col("b_prefix").as("h_prefix"))
        val sub = base.join(broadcast(hotKeys),
            col("source") === col("h_source") &&
              prefixAt(level) === col("h_prefix"))
          .groupBy(col("source"), prefixAt(level + 1).as("b_prefix"))
          .agg(count(lit(1)).as("n"))
          .withColumn("b_level", lit(level + 1))
          .localCheckpoint()
        level += 1
        if (level < MaxLevels) {
          leaves = leaves.unionByName(sub.filter(col("n") <= binMaxRows))
          hot = sub.filter(col("n") > binMaxRows)
          hotLeft = hot.limit(1).count() > 0
        } else {
          // 60-bit floor: what remains over-sized is pure quality ties —
          // the irreducible window cost no radix depth can split
          leaves = leaves.unionByName(sub)
          hotLeft = false
        }
      }
    } finally if (persisted) base.unpersist(blocking = false)
    // left-align each bin's range start to 64 bits; x ^ MIN_VALUE maps
    // unsigned order onto the window's signed sort
    val wOff = Window.partitionBy(col("source"))
      .orderBy(col("ustart_signed"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val binTable = leaves
      .withColumn("ustart_signed",
        expr("shiftleft(b_prefix, 64 - 10 * b_level)")
          .bitwiseXOR(lit(Long.MinValue)))
      .withColumn("row_prefix", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("source").as("b_source"), col("b_level"),
        col("b_prefix"), col("row_prefix"))
    // equi-join on the (level, truncated-key) pair — bin disjointness
    // guarantees exactly one surviving probe per doc (the deciles'
    // review-caught lesson: a shift amount drawn from the bin side
    // would plan a nested-loop join)
    val probeArr = array((1 to level).map(l =>
      struct(lit(l).as("lvl"), prefixAt(l).as("k"))): _*)
    val wRank = Window
      .partitionBy(col("source"), col("b_level"), col("b_prefix"))
      .orderBy(col("bkey"), col("doc_id"))
    // no broadcast hint on the bin table: its cardinality grows with
    // SOURCE count (≤~1024 bins each), so AQE must stay free to pick a
    // shuffle hash join when sources number in the millions; at the
    // common scale it broadcasts on its own
    base.withColumn("probe", explode(probeArr))
      // null-SAFE source equality: the window twin (sourceQuota)
      // treats a null source as an ordinary partition and ranks its
      // docs, so a plain === here would silently drop every
      // null-source row at the probe join and diverge from the
      // documented identical-output contract. <=> still plans as a
      // hash join (EqualNullSafe is a valid equi-join key).
      .join(binTable,
        col("source") <=> col("b_source") &&
          col("probe.lvl") === col("b_level") &&
          col("probe.k") === col("b_prefix"))
      .withColumn("src_rank",
        (col("row_prefix") + row_number().over(wRank)).cast("int"))
      .select(col("doc_id"), col("source"), col("quality"),
        col("src_rank"), (col("src_rank") <= cap).as("kept"))
      .orderBy(col("doc_id"))
  }

  def sourceStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"), col("lang"))

  /** Effective-token accounting: per source, the raw token total vs
    * the tokens contributed by near-dup cluster CANONICALS only
    * (`cluster == doc_id`, the min-id representative) — "how many
    * tokens does this source really add once near-dups collapse".
    * `dup_tax_ppm` = floor((raw − effective)·10⁶ / raw), exact
    * integers: a source with a high tax pads the raw mixture numbers
    * with text dedup will delete, so mixture weights computed from
    * RAW counts over-sample it — this report is the correction
    * input. Another [[graft.operators.Dedup.writeDedupLabels]]
    * consumer: pass the persisted table and the report is one scan +
    * one join + one aggregate, zero propagation rounds.
    */
  def effectiveTokens(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
      .join(labels, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("raw_tokens"),
        sum(when(col("cluster") === col("doc_id"), col("n_toks"))
          .otherwise(0L)).as("effective_tokens"))
      // exact ((raw−eff)·10⁶) div raw via the overflow-safe split
      // quotient ([[graft.functions.ExactMath.ppmSplitDiv]] — the
      // split raises the Spark ceiling from ~9.2×10¹² taxed tokens,
      // BELOW the 100 TB design point of ~10¹³, to ~9.2×10¹⁵; the
      // oracle's HUGEINT computes the unsplit form and they agree
      // wherever longs don't overflow). Zero/NULL raw → 0 tax: no
      // tokens, no tax (the unguarded div would throw under ANSI).
      .withColumn("dup_tax_ppm",
        when(col("raw_tokens") > 0, graft.functions.ExactMath.ppmSplitDiv(
          "(raw_tokens - effective_tokens)", "raw_tokens"))
          .otherwise(lit(0L)))
      .orderBy(col("source"))

  /** Per-source distinct-content accounting via MERGEABLE HLL
    * sketches — the sketch-at-rest pattern for corpus bookkeeping at
    * 100 TB: each source's distinct-fingerprint sketch is a few KB
    * that merges associatively, so the global distinct count (and any
    * source-subset's) comes from a union aggregate over the per-source
    * SKETCH ROWS, never a second corpus scan — this is what an exact
    * `countDistinct` can never do (its per-value shuffle re-runs on
    * every grouping change). Output: one row per source with the
    * sketch estimate plus a `__all__` row whose estimate comes from
    * the union of the per-source sketches (the in-plan proof of
    * mergeability; the per-source aggregate is stage-reused, not
    * rescanned — the sketch column feeds both consumers).
    *
    * The sketch is [[graft.functions.HllSketch]], graft's PINNED HLL
    * (fnv64 hash, 4096 registers, exact-integer estimate sum) rather
    * than the engine-internal DataSketches `hll_sketch_agg` — same
    * merge algebra and scale shape, but every register is public
    * arithmetic, so the DuckDB oracle replays the estimates
    * hash-exactly (the estimate column is a rounded long; see the
    * sketch scaladoc for the one ln-ulp caveat that rounding absorbs).
    */
  def sourceDistinctApprox(docs: DataFrame): DataFrame =
    distinctDashboard(distinctSketchFrame(docs))

  /** The per-source sketch aggregate: md5 + fnv64 + fmix64 all inside
    * whole-stage codegen, the aggregate folding a plain long.
    * Declaration order (count BEFORE sketch) is load-bearing: the
    * dashboard's per-source branch collapses its select into the
    * aggregate with the count first, and AQE only stage-reuses the
    * union branch's exchange when both partial aggregates canonicalize
    * IDENTICAL — function order included (plan-pinned). */
  private def distinctSketchFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        graft.functions.HllSketch.hash64(
          graft.functions.TextFunctions.fingerprintMd5(col("text")))
          .as("fph"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.HllSketch.hllSketchOfHash(col("fph")).as("sketch"))

  /** Per-source estimates + the `__all__` union row off a sketch
    * frame (inline aggregate or persisted table — same dashboard). */
  private def distinctDashboard(sk: DataFrame): DataFrame = {
    import graft.functions.HllSketch.{hllDistinct, hllUnion}
    val anchored = sk.filter(graft.functions.Barrier.reuseAnchor(col("n_docs")))
    val per = sk.select(col("source"), col("n_docs"),
      hllDistinct(col("sketch")).as("distinct_approx"))
    val all = anchored
      // coalesce: on an empty corpus the grand sum is null but the
      // union of zero sketches estimates 0 — emit (0, 0), which the
      // oracle's LEFT JOIN + COALESCE mirrors exactly
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        hllDistinct(hllUnion(col("sketch"))).as("distinct_approx"))
      .select(lit("__all__").as("source"), col("n_docs"),
        col("distinct_approx"))
    per.unionAll(all).orderBy(col("source"))
  }

  private def sketchesTable(dir: String): graft.sources.EpochedTable =
    // zstd since golden v2: sketch registers are high-entropy binary
    // blobs where zstd beats snappy materially on ratio at similar
    // scan speed — at 100 TB the ratio is storage + IO cost. Reads
    // are codec-transparent (parquet self-describes), so v1 snappy
    // stores stay readable — GoldenFormatSpec pins both versions.
    graft.sources.EpochedTable(dir, "sketches",
      Seq("source", "sketch", "n_docs"), codec = Some("zstd"))

  /** Persist the per-source sketch table `(source, sketch, n_docs)` —
    * the write-once half of sketch-at-rest: ONE corpus scan ever, a
    * few KiB per source at rest. Derived accounting then reads
    * [[sourceDistinctFromSketches]] — and because the registers are
    * deterministic (max-merge, pinned hash), the derived dashboard is
    * HASH-IDENTICAL to the inline recompute, so both share one
    * oracle. At 100 TB this is the difference between re-hashing the
    * corpus per dashboard refresh and scanning ~sources rows. Storage
    * follows the [[graft.sources.EpochedTable]] discipline shared with
    * the label / dedup-index / PQ-codes tables (generation swap,
    * `_SUCCESS`-gated reads, overwrite-once ingest batches). */
  def writeDistinctSketches(docs: DataFrame, dir: String): Unit =
    sketchesTable(dir).replaceWith(distinctSketchFrame(docs))

  def readDistinctSketches(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    sketchesTable(dir).read(spark)

  /** Append one ingest batch's per-source sketch rows — the grow step
    * of [[graft.streaming.StreamingSketches.sketchIngest]]. Replay
    * safety is layered: the REGISTERS are algebraically idempotent
    * (an at-least-once replay max-merges the same rho values — a
    * duplicate can never move a max), and `n_docs` — a sum, which
    * replays CAN double — rides the overwrite-once `batch-<id>` dir,
    * so the rewrite replaces rather than adds. */
  def appendDistinctSketches(batch: DataFrame, dir: String,
      batchId: Long): Unit =
    sketchesTable(dir).appendBatch(distinctSketchFrame(batch), batchId)

  /** Fold ingest batches into one row per source (file-count hygiene
    * after a long ingest run; estimates unchanged — union is exact on
    * registers). Generation-swap semantics as everywhere: quiesce
    * ingest while compacting. */
  def compactDistinctSketches(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    sketchesTable(dir).compact(spark, mergeSketchRows)

  /** The distinct-count dashboard derived from PERSISTED sketch rows —
    * zero corpus scans, zero hashing. Tolerates multiple rows per
    * source (base + ingest batches): rows union-merge per source
    * first, a ~sources-row aggregate. */
  def sourceDistinctFromSketches(sk: DataFrame): DataFrame =
    distinctDashboard(mergeSketchRows(sk))

  private def mergeSketchRows(sk: DataFrame): DataFrame =
    sk.groupBy(col("source"))
      .agg(graft.functions.HllSketch.hllUnion(col("sketch")).as("sketch"),
        sum(col("n_docs")).cast("long").as("n_docs"))

  /** One-row corpus health report — the dashboard aggregate a
    * curation pipeline alarms on, composing the engine's own audits:
    * exact-dup volume (distinct content fingerprints), language and
    * quality pass counts, eval contamination (distinct flagged train
    * docs), and dedup-aware split leakage (cluster count). Every
    * column is an exact integer — the mean-of-doubles a naive health
    * report would emit is order-dependent across engines, so rates
    * are left to the reader as divisions of the reported counts. The
    * two heavy audits ride as broadcast 1-row aggregates (the Q22
    * idiom); the base stats are ONE corpus scan.
    */
  def corpusHealth(docs: DataFrame, evalMaxId: Long = 100,
      minQuality: Double = 0.65, lang: String = "en"): DataFrame =
    corpusHealthCore(docs, splitLeakage(docs), evalMaxId, minQuality, lang)

  /** [[corpusHealth]] with the leakage audit read from a persisted
    * [[graft.operators.Dedup.writeDedupLabels]] table — the dashboard
    * joins the audit FAMILY's artifact instead of re-running the
    * engine's most expensive computation (MinHash + LSH + propagation)
    * on every refresh: the leak count becomes a label-table scan +
    * one aggregate, zero propagation rounds, and a health dashboard
    * polled hourly stops costing six corpus passes a day. Same output
    * schema and oracle as the inline twin. */
  def corpusHealthFromLabels(docs: DataFrame, labels: DataFrame,
      evalMaxId: Long = 100, minQuality: Double = 0.65,
      lang: String = "en"): DataFrame =
    corpusHealthCore(docs, splitLeakageFromLabels(labels), evalMaxId,
      minQuality, lang)

  private def corpusHealthCore(docs: DataFrame, leaksFrame: DataFrame,
      evalMaxId: Long, minQuality: Double, lang: String): DataFrame = {
    import graft.functions.TextFunctions
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(TextFunctions.fingerprintMd5(col("text")))
        .as("n_distinct_fp"),
      sum(when(TextFunctions.langIdFromHits(
          TextFunctions.langHits(col("text"))) === lang, 1L)
        .otherwise(0L)).as("n_lang"),
      sum(when(TextFunctions.qualityScore(col("text")) >= minQuality, 1L)
        .otherwise(0L)).as("n_quality_pass"))
    val cont = decontaminateById(docs, evalMaxId)
      .agg(countDistinct(col("train_doc")).as("n_contaminated"))
    val leaks = leaksFrame
      .agg(count(lit(1)).as("n_leaky_clusters"))
    base
      .withColumn("n_exact_dup_docs", col("n_docs") - col("n_distinct_fp"))
      .crossJoin(broadcast(cont))
      .crossJoin(broadcast(leaks))
      .select(col("n_docs"), col("n_distinct_fp"), col("n_exact_dup_docs"),
        col("n_lang"), col("n_quality_pass"), col("n_contaminated"),
        col("n_leaky_clusters"))
  }

  /** [[sourceStats]] with every marginal: CUBE over (source, lang) —
    * per-cell, per-source, per-language, and grand-total rows in ONE
    * grouping-sets pass (Spark expands the cube in the partial
    * aggregate, so the corpus is still scanned once; same family as
    * the topic report's ROLLUP). Null group keys mark the margins,
    * exactly as SQL does.
    */
  def sourceCube(docs: DataFrame): DataFrame =
    docs.cube(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)

  /** End-to-end decontamination: the training corpus MINUS every doc
    * [[decontaminate]] flags — the anti-join composition a pipeline
    * actually ships (the pair report is the audit; this is the output
    * table). One extra left-anti against the (tiny) flagged-doc set;
    * the corpus side streams through untouched, AQE broadcasts the
    * flag list.
    */
  def cleanCorpus(train: DataFrame, eval: DataFrame, shingleN: Int = 5,
      minShared: Long = 1): DataFrame = {
    val flagged = decontaminate(train, eval, shingleN, minShared)
      .select(col("train_doc").as("doc_id")).distinct()
    train.select(col("doc_id"))
      .join(flagged, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Fixture adapter twin of [[decontaminateById]] for the output
    * table — ONE home for the id-range eval convention. */
  def cleanCorpusById(docs: DataFrame, evalMaxId: Long = 100,
      shingleN: Int = 5, minShared: Long = 1): DataFrame =
    cleanCorpus(
      docs.filter(col("doc_id") >= evalMaxId),
      docs.filter(col("doc_id") < evalMaxId),
      shingleN, minShared)

  /** Dedup-aware split-leakage audit: near-dup clusters
    * ([[Dedup.nearDupLabels]], transitive MinHash closure) whose
    * members straddle train/val/test boundaries. Hash-splitting is
    * blind to content, so two near-copies of one document routinely
    * land in train AND test — exactly the contamination a held-out
    * split exists to prevent, invisible to [[decontaminate]] (which
    * guards a separate eval BENCHMARK, not the corpus' own split).
    * Emits one row per leaking cluster with its size, the number of
    * splits spanned, and the (min, max) split names — deterministic
    * columns instead of a collected list. The repair is membership
    * re-derivation: assign each doc `splitName(cluster)` instead of
    * `splitName(doc_id)` and the leak is gone by construction.
    *
    * Plan: the label frame (one row per doc) joins nothing — split
    * derives from the id by arithmetic; one cluster-keyed aggregate.
    * `countDistinct` is safe here: the distinct domain is the three
    * split names. Inherits [[Dedup.nearDupLabels]]' checkpoint-release
    * contract (consumers release via `ColumnBridge.unpersistCheckpoint`
    * after the last action).
    */
  def splitLeakage(docs: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame =
    splitLeakageFromLabels(Dedup.nearDupLabels(docs), trainPct, valPct)

  /** [[splitLeakage]] over an already-computed label frame — the audit
    * itself is one cluster-keyed aggregate over (doc_id, cluster);
    * with a [[Dedup.writeDedupLabels]] table it costs a parquet scan,
    * zero propagation rounds. */
  def splitLeakageFromLabels(labels: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame =
    labels
      .withColumn("split", splitName(col("doc_id"), trainPct, valPct))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        min(col("split")).as("split_a"),
        max(col("split")).as("split_b"))
      .filter(col("n_splits") > 1)
      .orderBy(col("cluster"))

  /** The actionable counterpart of [[splitLeakage]]: re-derive split
    * membership from the near-dup CLUSTER id (its min member id)
    * instead of the document id, so near-copies land in the same
    * split BY CONSTRUCTION — the split is a function of the cluster,
    * so no cluster can straddle a boundary. Singleton clusters
    * (cluster == doc_id, the overwhelming majority of a real corpus)
    * keep their original split, so the repair moves only near-dup
    * members and split-size drift is bounded by the dup rate.
    * Output: one row per document with old/new split and a `moved`
    * flag; downstream writers partition by the repaired `split`.
    *
    * Plan: [[Dedup.nearDupLabels]]' label frame + pure column
    * arithmetic — the split hash needs no join, so repair adds ZERO
    * shuffles beyond the labels themselves (and inherits their
    * checkpoint-release contract).
    */
  def repairSplits(docs: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame =
    repairSplitsFromLabels(Dedup.nearDupLabels(docs), trainPct, valPct)

  /** [[repairSplits]] over an already-computed label frame — pure
    * column arithmetic plus the presentation sort; with a persisted
    * [[Dedup.writeDedupLabels]] table the repair is scan → project →
    * sort, no joins and zero propagation rounds. */
  def repairSplitsFromLabels(labels: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame =
    labels
      .withColumn("old_split", splitName(col("doc_id"), trainPct, valPct))
      .withColumn("split", splitName(col("cluster"), trainPct, valPct))
      .withColumn("moved", col("old_split") =!= col("split"))
      .orderBy(col("doc_id"))

  /** Language-ID confusion matrix: the labeled `lang` column vs the
    * engine's n-gram language prediction ([[TextFunctions.langId]]) —
    * the standard eval for a heuristic classifier when gold labels
    * exist. Narrow projection + small aggregate.
    */
  def langConfusion(docs: DataFrame): DataFrame =
    docs.select(col("lang").as("lang_label"),
        TextFunctions.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_label"), col("lang_pred"))

  /** Token-budget corpus selection: take documents in quality order
    * (ties by doc_id) until the cumulative token count would exceed
    * `budgetTokens` — "the best B tokens", the selection rule a
    * data-constrained training run applies to a scored corpus.
    *
    * SEMANTICS are the global prefix: cum tokens over
    * (quality DESC, doc_id) ≤ budget — exactly what the oracle's one
    * window computes. The IMPLEMENTATION never runs that global sort:
    * quality lives in [0, 1], so a histogram of `bins` quality bins
    * (pass 1: one aggregate, O(bins) rows to the driver) locates the
    * boundary bin by cumulative bin totals; bins above it are taken
    * whole by a pushable filter, and only the boundary BIN — whose
    * population the bin width bounds — pays a prefix-sum window. Docs
    * with equal quality land in the same bin, so bin order extends to
    * the exact global order and the two-pass result is identical, at
    * the cost of one small sort instead of a corpus-wide range
    * exchange. The driver holds O(bins) longs — never rows.
    *
    * Both passes recompute the scoring projection rather than
    * materializing it: the narrow (id, quality, tokens) frame is
    * still corpus-cardinality (terabytes at the design point), so
    * recomputing a codegen'd expression chain beats persisting and
    * re-reading it — the same recompute-over-materialize call the
    * rest of the curation surface makes. NOTE the recursion multiplies
    * this: each refinement level re-scans and re-scores the full
    * corpus (the bin gate deliberately sits above the barrier, so it
    * cannot prune the scan), so a hot boundary bin costs up to
    * MaxRefineDepth+1 = 5 scoring passes before assembly — still
    * scan-bound and shuffle-free, but O(depth) scans, not the two of
    * the non-recursive case. A deployment where scoring dominates
    * scanning should persist the boundary-bin frame once refinement
    * triggers and trade storage for the repeated scoring.
    */
  def selectByTokenBudget(docs: DataFrame, budgetTokens: Long = 15000L,
      bins: Int = 1024, windowMaxRows: Long = 1L << 20): DataFrame = {
    require(bins > 1, s"bins must be > 1: $bins (a single bin cannot " +
      "locate a boundary; <= 0 would silently disable the budget)")
    // gate predicates over the scoring projection use the anchored
    // barrier (functions.Barrier) so the quality chain never inlines
    // into Filter conditions
    val q = TextFunctions.qualityScore(col("text"))
    val scored = docs.select(col("doc_id"),
      q.as("quality"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
      graft.functions.Barrier.column)
    prefixSelect(scored, budgetTokens, bins, windowMaxRows,
      lo = 0.0, width = 1.0, depth = MaxRefineDepth)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** 4 levels × 1024 bins resolve quality to ~10^-12 — finer than
    * double noise; past this, remaining boundary mass is quality TIES,
    * which only the doc_id total order can split. */
  private val MaxRefineDepth = 4

  /** One refinement level of the budget prefix over the quality range
    * `[lo, lo + width)`: histogram `frame` into `bins`, take whole
    * bins above the boundary, and resolve the boundary bin by
    * RECURSING into its (bins×-finer) quality sub-range while its
    * population exceeds `windowMaxRows` — so the terminal prefix-sum
    * window sorts a bounded row set on its one reducer, not whatever
    * fraction of the corpus shares a quality bin (quality
    * concentrates: ordinary >=100-word English text pins several score
    * terms at their caps). Quality TIES cannot be split by any bin
    * resolution; they exhaust `depth` in a few cheap aggregates and
    * fall to the window — the irreducible case, since only the doc_id
    * tie-break orders them.
    */
  private def prefixSelect(frame: DataFrame, budget: Long, bins: Int,
      windowMaxRows: Long, lo: Double, width: Double, depth: Int): DataFrame = {
    import graft.functions.Barrier
    val binned = frame.withColumn("bin",
      least(lit(bins - 1), greatest(lit(0),
        floor((col("quality") - lo) / width * bins))).cast("int"))
    // O(bins) (tokens, rows) pairs to the driver — never rows. Null
    // token sums (an all-null-text bin) read as 0: SUM skips nulls in
    // both engines, so null-token docs never advance the budget.
    val hist = binned.groupBy(col("bin"))
      .agg(sum(col("n_tokens")).as("t"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2)))
      .toMap
    // cumulative from the best bin down: bins above `boundary` fit
    // entirely; the prefix stops inside `boundary` (contiguous in
    // global quality order, so lower bins cannot contribute)
    var above = 0L
    var boundary = -1
    var b = bins - 1
    while (b >= 0 && boundary < 0) {
      val t = hist.getOrElse(b, (0L, 0L))._1
      if (above + t <= budget) above += t
      else boundary = b
      b -= 1
    }
    if (boundary < 0) frame
    else {
      val whole = binned.filter(Barrier.anchored(col("bin") > boundary))
        .drop("bin")
      val inBoundary = binned
        .filter(Barrier.anchored(col("bin") === boundary)).drop("bin")
      val remaining = budget - above
      val partial =
        if (depth > 0 && hist(boundary)._2 > windowMaxRows)
          prefixSelect(inBoundary, remaining, bins, windowMaxRows,
            lo + boundary * (width / bins), width / bins, depth - 1)
        else {
          val w = Window
            .orderBy(col("quality").desc, col("doc_id"))
            .rowsBetween(
              Window.unboundedPreceding,
              Window.currentRow)
          inBoundary
            .withColumn("cum", sum(col("n_tokens")).over(w))
            .filter(col("cum") <= remaining)
            .drop("cum")
        }
      whole.unionByName(partial)
    }
  }
}
