package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Distributed BPE tokenizer training — the corpus-side half of the
  * tokenizer pipeline (Sennrich et al.'s byte-pair encoding, the
  * word-frequency formulation every practical trainer uses): merges
  * are learned from the DISTINCT-WORD table with counts, never the
  * raw corpus, so the iteration's working set collapses from 100 TB
  * of text to the word vocabulary (~10⁷ rows) after ONE corpus-wide
  * tokenize + count shuffle.
  *
  * Each round is then a small Spark job over the word table:
  *  1. adjacent symbol pairs explode from a guarded `transform`
  *     projection (the [[TextAnalysis.collocations]] shape) weighted
  *     by word count, partial-aggregated map-side;
  *  2. the best pair is a 1-row driver collect over `orderBy.limit(1)`
  *     (TakeOrderedAndProject; the codebook pattern — the driver
  *     holds one pair per round, never rows), tie-broken
  *     (weight desc, left, right) so runs are reproducible;
  *  3. the merge applies as a pure left-to-right greedy `aggregate`
  *     fold over each word's symbol array — Column-lambda API, no
  *     SQL-string splicing of corpus-derived tokens.
  *
  * The word table is `localCheckpoint`ed every round (it is tiny
  * after the initial aggregate) so the fold never nests across
  * rounds and lineage stays flat; the previous round's blocks are
  * released eagerly via [[ColumnBridge.unpersistCheckpoint]].
  *
  * Pair counting uses the sliding (overlapping) adjacent definition
  * and merge application is greedy left-to-right — the classic
  * dictionary-trainer semantics; [[graft.BpeSpec]] pins exact parity
  * against an independent single-machine reference implementation.
  * Both surfaces are ALSO hash-exact against DuckDB oracles: a
  * recursive CTE cannot express the train loop (aggregation over the
  * recursive reference), but `numMerges` is a constant, so the oracle
  * UNROLLS the rounds into chained argmax CTEs (`OracleSql
  * .bpeMerges`), and encode under the pinned merge table replays the
  * greedy fold as a boundary-safe replace chain (`OracleSql
  * .bpeEncode`).
  *
  * DRIVER-ROUNDS BOUND, measured: training is O(numMerges)
  * driver-sequenced rounds by construction — each merge depends on
  * the table the previous merge produced, which no batching that
  * preserves the classic merge table can break. The per-round cost is
  * FLAT and scale-insensitive ([[graft.tools.BpeTrainBench]]:
  * ~0.10–0.17 s/merge at local[8], identical at sf0.01 and sf0.1,
  * mildly DECREASING with rank as pairs thin out), because every
  * round runs over the distinct-word table, whose size is the
  * vocabulary's — corpus scale only affects the one-off initial
  * tokenize+count. A production 50k-merge vocabulary is therefore a
  * long linear walk (~1.5 h at the measured constant), not a
  * blow-up; batch-parallel trainers change the learned merge table
  * and are out of scope for this oracle-pinned formulation.
  */
object Bpe {

  /** One learned merge: rank is 0-based learn order. */
  case class Merge(rank: Int, left: String, right: String, weight: Long)

  /** (syms, wc) distinct-word frame: one row per distinct token with
    * its corpus count, symbols initialized to single characters. */
  private def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      // split on the empty pattern keeps a trailing "" under Spark's
      // default limit=-1 — filter it out or it pairs with real symbols
      .select(filter(split(col("word"), ""), s => s =!= "").as("syms"),
        col("wc"))

  /** Adjacent symbol pairs of one row's `syms`, sliding window. */
  private val adjacentPairs: Column = expr(
    """CASE WHEN size(syms) >= 2
      |THEN transform(sequence(1, size(syms) - 1),
      |       i -> named_struct('l', syms[i-1], 'r', syms[i]))
      |ELSE CAST(array() AS array<struct<l:string,r:string>>) END"""
      .stripMargin)

  /** Greedy left-to-right merge of adjacent (left, right) into one
    * symbol — a pure fold, so "aaa" under (a,a) becomes ["aa","a"]. */
  private def applyMerge(syms: Column, left: String, right: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(left) && s === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(lit(left + right))))
        .otherwise(concat(acc, array(s))))

  /** Learn `numMerges` merges; stops early when no pair remains.
    * Returns the driver-held merge list (one tiny row per round). */
  def trainMerges(docs: DataFrame, numMerges: Int = 20): Seq[Merge] = {
    var cur = wordTable(docs).localCheckpoint(true)
    val out = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    // try/finally so a failed mid-loop collect cannot leak the live
    // word-table checkpoint for the session lifetime — the failure
    // path releases whatever round was current when it broke
    try {
      while (rank < numMerges && !exhausted) {
        val best = cur
          .select(col("wc"), explode(adjacentPairs).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("wc")).as("w"))
          .orderBy(col("w").desc, col("l"), col("r"))
          .limit(1)
          .collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, r, w) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          out += Merge(rank, l, r, w)
          val next = cur
            .select(applyMerge(col("syms"), l, r).as("syms"), col("wc"))
            .localCheckpoint(true)
          ColumnBridge.unpersistCheckpoint(cur)
          cur = next
          rank += 1
        }
      }
    } finally ColumnBridge.unpersistCheckpoint(cur)
    out.result()
  }

  /** The merge table as a frame — (rank, left, right, merged, weight),
    * rank-ascending: what a tokenizer ships as its merges.txt. */
  def mergesFrame(docs: DataFrame, numMerges: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val learned = trainMerges(docs, numMerges)
    learned.map(m => (m.rank, m.left, m.right, m.left + m.right, m.weight))
      .toDF("rank", "left", "right", "merged", "weight")
  }

  /** `word` split to characters and run through `merges` in rank
    * order — the encode-side fold chain. Applied ONLY to the distinct
    * word table, so the (numMerges-deep) expression evaluates
    * vocab-many times, never corpus-many. */
  private def segmentExpr(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(filter(split(word, ""), s => s =!= "")) {
      (acc, m) => applyMerge(acc, m.left, m.right)
    }

  /** Encode the corpus with a trained merge list: per document, the
    * word count and the BPE piece count under `merges`. The
    * tokenizer-apply half of the pipeline, shaped for scale the same
    * way the trainer is: segmentation runs ONCE PER DISTINCT WORD —
    * the (doc_id, word) tf aggregate is re-aggregated into the
    * distinct-word frame (reuse-anchored, so the tokenize exchange is
    * stage-shared — the tokenRarity discipline), each distinct word
    * pays the merge fold once, and per-doc piece counts come from an
    * integer `Σ tf · |segments(word)|` join — the corpus never
    * evaluates the fold chain. Zero merges degenerates to character
    * counts; more merges can only shrink `n_pieces` (spec-pinned
    * invariants, plus exact parity with the reference encoder).
    */
  def encodeCounts(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val vocabSeg = tf
      .filter(graft.functions.Barrier.reuseAnchor(col("tf")))
      .groupBy(col("word")).agg(sum(col("tf")).as("wtf"))
      .select(col("word"),
        size(segmentExpr(col("word"), merges)).cast("long").as("n_seg"))
    tf.join(vocabSeg, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_words"),
        sum(col("tf") * col("n_seg")).cast("long").as("n_pieces"))
      .orderBy(col("doc_id"))
  }

  /** The shipped tokenizer: a FIXED merge table, pinned from one
    * [[trainMerges]] run over the reference corpus (sf0.01 documents,
    * numMerges = 24) — the deployment reality that a tokenizer is
    * trained once and applied everywhere, never retrained per query.
    * Pinning makes encode fully deterministic and SQL-expressible:
    * the DuckDB oracle replays the same list as a chain of
    * boundary-safe string replaces (greedy left-to-right semantics —
    * see `OracleSql.bpeEncode`), so the encode query is hash-exact
    * against the oracle instead of rows-only.
    */
  val PinnedMerges: Seq[Merge] = Seq(
    Merge(0, "e", "r", 4568L), Merge(1, "i", "n", 2760L),
    Merge(2, "o", "w", 2747L), Merge(3, "o", "r", 2696L),
    Merge(4, "s", "t", 2676L), Merge(5, "m", "er", 1852L),
    Merge(6, "a", "t", 1845L), Merge(7, "l", "u", 1831L),
    Merge(8, "a", "r", 1758L), Merge(9, "p", "ar", 1758L),
    Merge(10, "j", "o", 964L), Merge(11, "jo", "in", 964L),
    Merge(12, "a", "s", 947L), Merge(13, "as", "h", 947L),
    Merge(14, "h", "ash", 947L), Merge(15, "r", "ow", 943L),
    Merge(16, "at", "c", 937L), Merge(17, "atc", "h", 937L),
    Merge(18, "b", "atch", 937L), Merge(19, "a", "n", 936L),
    Merge(20, "c", "an", 936L), Merge(21, "s", "can", 936L),
    Merge(22, "c", "o", 934L), Merge(23, "c", "u", 934L))

  /** Encode under the [[PinnedMerges]] shipped tokenizer — the
    * [[SparkEntry]] `q_bpe_encode` surface: no training in the plan
    * (the train-time cost lives in `q_bpe_merges`), just the
    * vocab-folded segmentation join, and an exact SQL oracle. */
  def encodePinnedQuery(docs: DataFrame): DataFrame =
    encodeCounts(docs, PinnedMerges)

  /** Tokenizer-fit report: per source, how well the shipped merge
    * table compresses that source's text — `pieces_per_mchar` =
    * floor(pieces · 10⁶ / chars), an exact integer (1 000 000 = the
    * tokenizer learned nothing for that source, every piece one
    * character; lower = better fit). The practical question this
    * answers: a tokenizer trained on one distribution silently
    * fragments another (different language, different domain), which
    * shows up directly as a high per-source ratio — the standard
    * fertility/compression check before committing a tokenizer to a
    * mixture.
    *
    * Same scale shape as [[encodeCounts]]: the merge fold runs once
    * per distinct (not corpus) word, and per-source totals are
    * integer joins — `Σ tf·|word|` and `Σ tf·|segments(word)|` — off
    * the reuse-anchored tf exchange.
    */
  def tokenizerFit(docs: DataFrame,
      merges: Seq[Merge] = PinnedMerges): DataFrame = {
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val vocabSeg = tf
      .filter(graft.functions.Barrier.reuseAnchor(col("tf")))
      .groupBy(col("word")).agg(sum(col("tf")).as("wtf"))
      .select(col("word"),
        length(col("word")).cast("long").as("n_chars_w"),
        size(segmentExpr(col("word"), merges)).cast("long").as("n_seg"))
    tf.join(vocabSeg, Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("tf")).cast("long").as("n_words"),
        sum(col("tf") * col("n_chars_w")).cast("long").as("n_chars"),
        sum(col("tf") * col("n_seg")).cast("long").as("n_pieces"))
      // overflow-safe split ppm ([[graft.functions.ExactMath]]):
      // n_pieces·10⁶ overflows long past ~9.2×10¹² pieces, and a
      // dominant source of a 100 TB corpus (~10¹³⁻¹⁴ pieces) crosses
      // that. n_chars > 0 always: words are non-empty by the
      // tokenizer's "" filter.
      .withColumn("pieces_per_mchar",
        graft.functions.ExactMath.ppmSplitDiv("n_pieces", "n_chars"))
      .orderBy(col("source"))
  }
}
