package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.LastWrite
import graft.sources.EpochedTable

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, same API:
  *  - [[knnBruteForce]]: exact top-k — broadcast the (small) query set
  *    against the full corpus; one scan, no shuffle of the corpus.
  *    The honest baseline and the recall oracle for the ANN path.
  *  - [[lshNearPairs]] / [[knnLsh]]: random-hyperplane LSH — multiple
  *    signature tables, bucket join, exact cosine only within buckets.
  *    Corpus-side work is linear in rows × tables; the quadratic blowup
  *    is confined to bucket-local candidate sets. This is the
  *    100 TB-scale path.
  *
  * Plan-shape rules learned from `.explain` at scale:
  *  - vectors are unit-normalized ONCE per row up front ([[withUnit]]);
  *    scoring a candidate is then a single dot product — norms are
  *    never recomputed per pair;
  *  - candidate de-dup (`distinct`) runs on id pairs only; vectors are
  *    joined back afterwards — never shuffle or hash-aggregate the
  *    arrays themselves.
  *
  * All arithmetic is element-wise double fold in index order
  * (`zip_with` + sequential `aggregate`) — bit-deterministic, so a
  * DuckDB oracle reproduces scores exactly.
  */
object Similarity {

  /** Sequential index-order fold (acc starts 0.0) — NOT a tree
    * reduction — so oracle engines computing the same fold get
    * bit-identical doubles. Native codegen'd expression; the
    * declarative `aggregate(zip_with(...))` form evaluated its lambdas
    * interpreted and dominated kNN runtime.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayHashExprs.dot_product(
      a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Adds `unit`: the double-cast, unit-normalized vector, via the
    * fused codegen'd [[graft.functions.ArrayHashExprs.UnitVectorExpr]]
    * (one loop per row; the earlier `sqrt(dot)` + per-element
    * `transform` lambda evaluated interpreted). An all-zero vector
    * (common for failed encodes in real embedding dumps) maps to a
    * zero unit vector instead of NaNs — NaN scores would otherwise
    * sort FIRST under descending order and poison every top-k.
    */
  def withUnit(df: DataFrame): DataFrame =
    df.withColumn("unit",
      graft.functions.ArrayHashExprs.unit_vector(
        col("embedding").cast("array<double>")))

  /** The declarative composition [[withUnit]] replaced — kept as the
    * parity oracle for [[graft.functions.ArrayHashExprs.UnitVectorExpr]]. */
  def withUnitDeclarative(df: DataFrame): DataFrame =
    df.withColumn("nrm", norm(col("embedding")))
      .withColumn("unit",
        transform(col("embedding"),
          x => when(col("nrm") === 0.0, lit(0.0))
            .otherwise(x.cast("double") / col("nrm"))))
      .drop("nrm")

  /** Exact top-k neighbors for each query vector. `queries` must be
    * small (it is broadcast); the corpus side never shuffles before
    * the final (tiny) top-k window.
    */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // unitIndex, not raw withUnit: a null-embedding query would emit k
    // rows of null score (row_number ranks them regardless), and
    // null-embedding corpus rows would enter any top-k short of k
    // non-null candidates (desc sort puts nulls last, not out)
    val c = unitIndex(corpus)
    val q = unitIndex(queries)
    val scored = c.as("c")
      .join(broadcast(q.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        dot(col("q.unit"), col("c.unit")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  val LshDims = 64

  /** Deterministic pseudo-random hyperplane component: table `t`,
    * plane `j`, dimension `d` → value in [-1, 1]. A fixed LCG over the
    * flattened index, reproducible in any engine with int64 arithmetic.
    */
  def planeComponent(t: Int, j: Int, d: Int): Double = {
    val idx = (t.toLong * 1000 + j) * LshDims + d
    (((1103515245L * idx + 12345L) % 2147483647L) % 2001L - 1000L) / 1000.0
  }

  /** Signature for one LSH table: `planes` sign bits packed into a
    * long. Expression-only (literal plane array + zip_with dot). */
  def lshSignature(vec: Column, table: Int, planes: Int): Column =
    (0 until planes).map { j =>
      val plane = array((0 until LshDims).map(d =>
        lit(planeComponent(table, j, d))): _*)
      when(dot(vec, plane) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** (vec_id, unit, tbl, sig) — one row per vector per LSH table. */
  private def withSigs(unitDf: DataFrame, tables: Int, planes: Int): DataFrame =
    unitDf.select(col("vec_id"), col("unit"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          lshSignature(col("unit"), t, planes).as("sig"))): _*)).as("s"))
      .select(col("vec_id"), col("unit"), col("s.tbl"), col("s.sig"))

  /** Candidate near-pairs via multi-table random-hyperplane LSH, then
    * exact cosine >= threshold on candidates only. Pair de-dup happens
    * on (vec_a, vec_b) ids; unit vectors join back after.
    */
  def lshNearPairs(corpus: DataFrame, tables: Int = 4, planes: Int = 4,
      threshold: Double = 0.35): DataFrame =
    lshNearPairsUnsorted(corpus, tables, planes, threshold)
      .orderBy(col("vec_a"), col("vec_b"))

  /** [[lshNearPairs]] without the presentation sort — for consumers
    * that immediately aggregate or iterate the pairs (the sort's range
    * exchange would be thrown away one operator later). */
  def lshNearPairsUnsorted(corpus: DataFrame, tables: Int = 4,
      planes: Int = 4, threshold: Double = 0.35): DataFrame = {
    require(threshold > 0.0,
      s"near-pair threshold must be positive, got $threshold — at ≤ 0 " +
        "every pair qualifies and banding is the wrong algorithm")
    // null AND zero-norm vectors out before banding: every zero unit
    // scores dot ≤ 0 against every hyperplane, so ALL of them land in
    // sig=0 of EVERY table — one degenerate bucket self-joining
    // quadratically (D failed encodes → tables·D(D−1)/2 candidate
    // rows), the embedding twin of the Dedup band-table hazard. They
    // can never pass the threshold anyway (score 0 < any positive
    // threshold), so banding them bought only the blow-up.
    val u = unitIndex(corpus, dropZeroNorm = true)
    val sigs = withSigs(u, tables, planes)
      .select(col("vec_id"), col("tbl"), col("sig"))
    // shared exchange via forced SMJ: both self-join sides demand the
    // same ENSURE_REQUIREMENTS shuffle over identical subplans, which
    // AQE stage-reuses — the 16 hyperplane dot products per vector are
    // computed once (an AQE broadcast conversion would bypass the
    // shared shuffle and recompute them per side; see Dedup)
    val cand = sigs.as("a").join(sigs.as("b").hint("shuffle_merge"),
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(u.as("x"), col("vec_a") === col("x.vec_id"))
      .join(u.as("y"), col("vec_b") === col("y.vec_id"))
      .withColumn("score", dot(col("x.unit"), col("y.unit")))
      .filter(col("score") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("score"), 6).as("score"))
  }

  /** SemDeDup-style semantic deduplication: vectors whose cosine
    * similarity exceeds `threshold` form an epsilon-ball graph
    * ([[lshNearPairsUnsorted]] — LSH candidates, exact cosine verify),
    * transitive closure labels each vector with its cluster
    * ([[Dedup.labelPropagate]] — the same min-label iteration the text
    * near-dup stack uses), and the cluster's minimum id is the kept
    * representative. Output: (vec_id, cluster, kept) for every vector;
    * downstream pipelines keep `kept` rows and drop the rest.
    *
    * Scale shape inherits from its two parts: candidate generation is
    * banded LSH (never all-pairs), the iteration touches only
    * graph vertices. STORAGE CONTRACT: same as [[Dedup.nearDupLabels]]
    * — the plan embeds the final label checkpoint; release with
    * `ColumnBridge.unpersistCheckpoint` after the last action.
    */
  def semanticKeep(corpus: DataFrame, tables: Int = 4, planes: Int = 4,
      threshold: Double = 0.35, maxIters: Int = 50): DataFrame =
    semanticKeepCounted(corpus, tables, planes, threshold, maxIters)._1

  /** [[semanticKeep]] with the storage contract made STRUCTURAL:
    * `f` runs over the verdict frame and the embedded label
    * checkpoint is released in `finally`
    * ([[graft.StorageHygiene.scoped]]). Every action over the frame
    * (or anything derived from it) must happen inside `f`; return
    * materialized results, not lazy frames. */
  def withSemanticKeep[A](corpus: DataFrame, tables: Int = 4,
      planes: Int = 4, threshold: Double = 0.35, maxIters: Int = 50)(
      f: DataFrame => A): A =
    graft.StorageHygiene.scoped(
      semanticKeep(corpus, tables, planes, threshold, maxIters))(f)

  /** [[semanticKeep]] also returning the label-propagation round count,
    * and with an `observe` node named `semantic_keep` planting
    * free-of-charge telemetry into every action on the result:
    * `n_vectors` and `n_kept` (= cluster count). Read them from
    * `df.queryExecution.observedMetrics` after any action — the
    * noise-floor check an operator dashboard (or the companion spec)
    * watches: a threshold at the corpus's noise floor shows up as
    * n_kept collapsing toward 1 while rounds climb with the giant
    * component's diameter.
    *
    * ROUNDS SEMANTICS since the r21 bounded-graph fast path: rounds
    * is the number of DISTRIBUTED propagation rounds, so a graph small
    * enough for [[Dedup.labelPropagateCounted]]'s driver union-find
    * reports rounds = 0 regardless of its diameter — at small scale
    * the diameter signal lives in n_kept only. Above
    * [[Dedup.DriverEdgeCap]] edges (every 100 TB-shaped corpus, and
    * the forced-iterative specs) rounds carries the documented
    * noise-floor meaning unchanged.
    */
  private[graft] def semanticKeepCounted(corpus: DataFrame, tables: Int = 4,
      planes: Int = 4, threshold: Double = 0.35,
      maxIters: Int = 50): (DataFrame, Int) = {
    val (labels, rounds) = Dedup.labelPropagateCounted(
      lshNearPairsUnsorted(corpus, tables, planes, threshold)
        .select(col("vec_a").as("a"), col("vec_b").as("b")),
      corpus.select(col("vec_id")), maxIters, "semanticKeep")
    (labels
      .withColumn("kept", col("vec_id") === col("cluster"))
      .observe("semantic_keep",
        count(lit(1)).as("n_vectors"),
        coalesce(sum(when(col("kept"), 1L).otherwise(0L)), lit(0L))
          .as("n_kept"))
      .orderBy(col("vec_id")), rounds)
  }

  /** Semantic decontamination: flag TRAIN vectors whose cosine
    * similarity to ANY eval-set vector reaches `threshold` — the
    * embedding-space complement of the shingle-based
    * [[CorpusOps.decontaminate]] (paraphrased benchmark leakage shares
    * no 5-gram but sits on top of the eval point in embedding space).
    *
    * Per flagged train vector: how many eval vectors it collides with,
    * the most-similar one (ties toward the smaller eval id), and that
    * score. Downstream pipelines anti-join the train corpus against
    * column `train_id`.
    *
    * Scale shape — this exact formulation IS the 100 TB path, unlike
    * the text variant (which needs its Bloom prefilter): eval
    * benchmarks are tiny (10³–10⁵ vectors) against a 100 TB corpus, so
    * the eval side is broadcast once and the plan is ONE corpus scan ×
    * |eval| fused dot products per row with a partial-aggregable
    * (count / max / [[LastWrite]]) reduction on `train_id` — no shuffle
    * carries a vector, and the output is bounded by the contaminated
    * set. All arithmetic is the index-order double fold ([[dot]]), so
    * the DuckDB oracle reproduces scores bit-exactly.
    */
  def semanticContamination(train: DataFrame, eval: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    val t = withUnit(train).select(col("vec_id").as("train_id"),
      col("unit").as("tu"))
    val e = withUnit(eval).select(col("vec_id").as("eval_id"),
      col("unit").as("eu"))
    t.join(broadcast(e),
        dot(col("tu"), col("eu")) >= threshold)
      .select(col("train_id"), col("eval_id"),
        dot(col("tu"), col("eu")).as("score"))
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        LastWrite.bestId(col("eval_id"), col("score")).as("top_eval_id"),
        round(max(col("score")), 6).as("top_score"))
      .orderBy(col("train_id"))
  }

  /** Fixture adapter: eval set = `vec_id < evalMaxId` within the one
    * embeddings table — the same split-by-id shape as
    * [[CorpusOps.decontaminateById]]. */
  def semanticContaminationById(emb: DataFrame, evalMaxId: Long = 50,
      threshold: Double = 0.4): DataFrame =
    semanticContamination(
      emb.filter(col("vec_id") >= evalMaxId),
      emb.filter(col("vec_id") < evalMaxId), threshold)

  /** Spherical k-means (Lloyd's) for IVF coarse centroids — the
    * production swap for [[knnIvf]]'s deterministic stand-in.
    * Per iteration:
    *  - ASSIGN is a pure projection: centroids live on the driver
    *    (IVF coarse books are small — k ≤ ~64k), scores are k fused
    *    dot products per row, argmax via `array_position(array_max)`.
    *    No shuffle, no window — the corpus is scanned, never moved.
    *  - UPDATE is one `posexplode` + (cid, dim) aggregate: map-side
    *    partial means bound the shuffle at partitions × k × dims rows.
    *  - means re-normalize to unit length (cosine geometry); an empty
    *    cell keeps its previous centroid.
    * Seeding is the k lowest vec_ids — deterministic, so runs are
    * reproducible given the same corpus. This mirrors the classic
    * MLlib KMeans driver loop re-expressed on DataFrames.
    */
  def trainCentroids(corpus: DataFrame, k: Int = 16, iters: Int = 5): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0 ($k) and iters >= 0 ($iters)")
    val spark = corpus.sparkSession
    // normalize ONCE and materialize: the seed collect plus every
    // iteration's update job re-reads this frame (iters+1 scans).
    // Null embeddings (or null elements — possible in real embedding
    // dumps) are excluded up front: a null unit would NPE the collected
    // mean's unboxing and silently skew assignment.
    val base = withUnit(corpus).select(col("vec_id"), col("unit"))
      .filter(col("unit").isNotNull &&
        graft.functions.ArrayHashExprs.array_no_nulls(col("unit")))
    // iters = 0 (q_embed_knn_ivf_trained's seed-book path) reads the
    // frame once, for the k-row seed collect — skip the whole-corpus
    // materialization the iterating path amortizes (same seeds: the
    // TakeOrdered runs off the scan, vec_id order is unique)
    val cu = if (iters == 0) base else base.localCheckpoint(true)
    try {
    var cent: Array[Seq[Double]] = cu.orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Double](1))
    if (cent.isEmpty) {
      // an empty (or entirely hygiene-rejected) corpus trains an EMPTY
      // book — the probe paths all guard book.isEmpty and return empty
      // results. Without this, the first iteration's assign expression
      // builds a zero-arg array() literal (NullType element) and
      // crashes at ANALYSIS in array_position — a training pipeline
      // over an aggressively-filtered corpus slice would die instead
      // of producing the empty index its emptiness implies.
      import spark.implicits._
      return Seq.empty[(Long, Seq[Double])].toDF("cid", "cunit")
    }
    for (_ <- 0 until iters) {
      val scores = array(cent.map(v =>
        dot(col("unit"), typedLit(v))): _*)
      val assigned = cu
        .withColumn("scores", scores)
        // 0-based cell id; first max wins (array_position is 1-based)
        .withColumn("cid",
          (expr("array_position(scores, array_max(scores))") - 1).cast("int"))
      // ONE aggregate + a k×dims-bounded driver assembly (r21) —
      // [[centroidMeansFrame]], the posexplode + (cid, pos) scalar
      // aggregate. r22 MEASURED and REJECTED the "no generator"
      // alternative (dims avg(element_at) columns over plain cid
      // groups): same-JVM interleaved A/B at sf0.1/32 cores read
      // old 0.093–0.099 s min / 0.13–0.17 s med per UPDATE job vs
      // 0.202–0.210 / 0.26–0.35 for the wide-column shape — the
      // multi-avg wide buffer loses the codegen'd two-level hash-map
      // fast path, costing ~2× despite dims× fewer aggregate rows.
      // Scalar posexplode stays. The driver regroup falls back
      // per-position to the previous centroid on a missing key
      // (ragged-dimension rows) instead of throwing — the r21 advice
      // item.
      val means = centroidMeansFrame(assigned)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      cent = cent.indices.map { i =>
        // a cid with ≥1 assigned row emits every present pos
        // (posexplode is total per row); an empty cell has no keys and
        // keeps its previous centroid, as before
        if (!means.contains((i, 0))) cent(i)
        else {
          val m = cent(i).indices.map(p => means.getOrElse((i, p), cent(i)(p)))
          val nrm = math.sqrt(m.map(x => x * x).sum)
          if (nrm == 0.0) cent(i) else m.map(_ / nrm)
        }
      }.toArray
    }
    import spark.implicits._
    cent.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("cid", "cunit")
    } finally
      // the centroids live on the driver once trained — release the
      // checkpointed corpus blocks even when an iteration job fails
      // (a long-lived session would otherwise leak block-manager
      // storage on every call; Dataset.unpersist would be a
      // CacheManager no-op for a local checkpoint)
      if (iters > 0) ColumnBridge.unpersistCheckpoint(cu)
  }

  /** Lloyd's UPDATE-step means for [[trainCentroids]]: posexplode to
    * (cid, pos, value) scalars, then one (cid, pos) avg — the shape
    * that keeps the codegen'd two-level hash-map fast path (scalar
    * key, single avg buffer). Split out so the plan shape and value
    * semantics are pinnable, and so the r22 negative result (wide
    * avg(element_at) columns measured ~2× slower; see the trainer
    * comment above) has a named surface to re-measure against. */
  private[graft] def centroidMeansFrame(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("unit")))
      .groupBy(col("cid"), col("pos"))
      .agg(avg(col("col")).as("m"))

  /** IVF-style ANN top-k: corpus vectors are assigned to their nearest
    * coarse centroid; a query probes its `nProbes` nearest centroids
    * and scores only the vectors in those cells. The inverted-file
    * plan: corpus cell assignment is a shuffle-free argmax projection
    * over the driver-held codebook, candidate generation is a
    * centroid-id equi-join, and only the (tiny) probe side keeps a
    * top-nProbes window. Centroids default to a deterministic
    * stand-in (the first `nCentroids` vectors) so the oracle can
    * reproduce cell assignment — production passes
    * [[trainCentroids]]; the plan is identical either way.
    */
  /** Null-free unit-vector index frame — the ONE embedding-hygiene
    * gate every ANN surface routes through. Drops whole-null
    * embeddings AND element-null ones: an element null would flow
    * into the driver-collected coarse/PQ books (a below-nCentroids
    * vec_id becomes a stand-in centroid carrying the null), where
    * DotProductExpr silently skips that dimension for every scored
    * vector and the driver's `x*x` fold unboxes it to 0.0 — cell
    * assignment, codes, and the oracle all diverge with no error
    * anywhere (the guard [[trainCentroids]] always had, now applied
    * at the shared gate). The filter rides the RAW column —
    * `unit IS NULL ⟺ embedding IS NULL` (UnitVectorExpr is a
    * UnaryExpression: null out only for null in; element nulls stay
    * element nulls), and filtering on the derived column instead would
    * inline unitvectorexpr into the scan Filter, re-normalizing every
    * row a second time (round-5 plan sweep). Zero-norm vectors STAY
    * (they map to zero units: score 0 against everything,
    * deterministic and harmless) — except where a zero SIGNATURE
    * would bucket them together quadratically; see
    * [[lshNearPairsUnsorted]].
    */
  private def unitIndex(corpus: DataFrame,
      dropZeroNorm: Boolean = false): DataFrame = {
    // codegen'd guards, NOT the exists() HOFs: a HigherOrderFunction
    // evaluates its lambda interpreted per element, and this filter
    // sits on every ANN corpus scan — the HOF form cost 10–50% per
    // query at sf0.1 (worst on q_ann_recall's six corpus passes)
    val wellFormed = col("embedding").isNotNull &&
      graft.functions.ArrayHashExprs.array_no_nulls(col("embedding"))
    // the zero-norm test ALSO rides the raw column (zero unit ⟺ no
    // non-zero raw element): testing the derived unit would inline
    // UnitVectorExpr into the Filter — the re-normalize-twice plan
    // this function exists to avoid (PlanShapeSpec pins it)
    val cond =
      if (dropZeroNorm)
        wellFormed && graft.functions.ArrayHashExprs.array_has_nonzero(
          col("embedding").cast("array<double>"))
      else wellFormed
    withUnit(corpus.filter(cond)).select(col("vec_id"), col("unit"))
  }

  /** Driver-held coarse codebook (cid → unit centroid), cid-ascending.
    * The codebook is tiny by construction (k ≤ ~64k cells), so holding
    * it on the driver makes corpus cell ASSIGNMENT a pure shuffle-free
    * projection. Default: deterministic stand-in centroids (first
    * `nCentroids` vectors) so the DuckDB oracle can reproduce cell
    * assignment; production passes [[trainCentroids]] — the plan is
    * identical. Building the plan runs one tiny collect job (a
    * pushed-down filter scan for the stand-in, the k-means result for
    * the trained path). Empty result = empty corpus (or no vec_id
    * below nCentroids); callers return their empty frame then.
    */
  private def collectCoarseBook(cu: DataFrame, nCentroids: Int,
      centroids: Option[DataFrame]): Array[(Long, Seq[Double])] = {
    val cent = centroids.getOrElse(
      cu.filter(col("vec_id") < nCentroids)
        .select(col("vec_id").as("cid"), col("unit").as("cunit")))
    cent.select(col("cid"), col("cunit")).orderBy(col("cid"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
  }

  /** (vec_id, unit, cid): shuffle-free argmax cell assignment — k
    * fused dots + array_position argmax per row, the same ASSIGN shape
    * as [[trainCentroids]]. (The earlier formulation broadcast-joined
    * corpus × nCentroids rows and ranked with a row_number window — a
    * shuffle of k× the corpus just to pick each row's top-1.) First
    * max wins (array_position is 1-based) = lowest cid, since the book
    * is cid-ascending — the same tie-break as the probe window's
    * ORDER BY cscore DESC, cid. Null-embedding queries score null
    * against every candidate and rank last.
    */
  private def assignCells(cu: DataFrame,
      book: Array[(Long, Seq[Double])]): DataFrame =
    assignCellsIdx(cu, book).drop("cidx")

  /** THE definition of the cell assignment (argmax over the
    * driver-held book), shared by [[assignCells]], the PQ index
    * frame, and [[embeddingOutliers]]. Emits `cidx` (0-based position
    * in the cid-ascending book — the residual path selects the
    * centroid array by position) and `cscore` (the winning dot — the
    * outlier report ranks by it, and sharing the definition means the
    * report can never drift from the assignment it audits). */
  private def assignCellsIdx(cu: DataFrame,
      book: Array[(Long, Seq[Double])]): DataFrame = {
    val scores = array(book.toIndexedSeq.map { case (_, v) =>
      dot(col("unit"), typedLit(v)) }: _*)
    cu.withColumn("scores", scores)
      .withColumn("cidx",
        (expr("array_position(scores, array_max(scores))") - 1).cast("int"))
      .withColumn("cid",
        element_at(typedLit(book.map(_._1).toSeq), col("cidx") + 1))
      .withColumn("cscore", expr("array_max(scores)"))
      .select(col("vec_id"), col("unit"), col("cid"), col("cidx"),
        col("cscore"))
  }

  /** Replaces `unit` with the cell residual `unit − centroid(cid)` —
    * what residual PQ trains on and encodes: residual magnitudes are
    * a fraction of the raw vectors', so the same ksub cells quantize
    * them with less error. One fused [[graft.functions.ArrayHashExprs
    * .VecSubExpr]] loop per row; still a pure projection.
    */
  private def residualOf(assigned: DataFrame,
      book: Array[(Long, Seq[Double])]): DataFrame =
    assigned.withColumn("unit",
      graft.functions.ArrayHashExprs.vec_sub(col("unit"),
        element_at(typedLit(book.map(_._2).toSeq), col("cidx") + 1)))

  /** The (vec_id, cid, codes) index frame shared by the inline query,
    * the persisted build, and the quantization-error spec. */
  private[graft] def pqIndexFrame(cu: DataFrame,
      book: Array[(Long, Seq[Double])], pq: Array[Array[Seq[Double]]],
      residual: Boolean): DataFrame = {
    val assigned = assignCellsIdx(cu, book)
    val enc = if (residual) residualOf(assigned, book) else assigned
    withPqCodes(enc, pq, pq(0)(0).size)
      .select(col("vec_id"), col("cid"), col("codes"))
  }

  /** (query_id, qunit, cid) × nProbes: probe side keeps the
    * top-nProbes window — the query set is tiny, and the broadcast
    * codebook frame is built from driver-held rows (no second corpus
    * scan for the stand-in centroids).
    */
  private def probeCells(queries: DataFrame, book: Array[(Long, Seq[Double])],
      nProbes: Int): DataFrame = {
    val spark = queries.sparkSession
    val centDf = {
      import spark.implicits._
      book.toSeq.toDF("cid", "cunit")
    }
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cscore").desc, col("cid"))
    unitIndex(queries)
      .join(broadcast(centDf))
      .withColumn("cscore", dot(col("unit"), col("cunit")))
      .withColumn("crn", row_number().over(pw))
      .filter(col("crn") <= nProbes)
      // cscore rides along: residual ADC adds the query×centroid dot
      // back per probed cell (score = dot(q, centroid + decode(codes)));
      // crn rides along so a consumer needing ONE row per query (the
      // qunit rejoin in adcRefine) can filter crn = 1 instead of
      // paying a dropDuplicates shuffle on the probe frame
      .select(col("vec_id").as("query_id"), col("unit").as("qunit"),
        col("cid"), col("cscore"), col("crn"))
  }

  private def emptyKnnResult(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Long, Double)]
      .toDF("query_id", "rank", "neighbor_id", "score")
  }

  def knnIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbes: Int = 4,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cu = unitIndex(corpus)
    val book = collectCoarseBook(cu, nCentroids, centroids)
    if (book.isEmpty) return emptyKnnResult(corpus.sparkSession)
    val assigned = assignCells(cu, book)
    val probes = probeCells(queries, book, nProbes)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qunit"), col("unit")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-outlier report — the curation gate that catches
    * off-manifold vectors (mis-embedded rows, garbage inputs that
    * survived [[embeddingAudit]]'s well-formedness checks, genuine
    * novelty): the `k` vectors with the LOWEST cosine to their own
    * best-matching coarse centroid, i.e. the rows no cell of the
    * corpus' cluster structure explains. Reuses the exact IVF
    * machinery retrieval already built ([[knnIvf]]/`diverseSample`'s
    * driver-held codebook): cell assignment is the same shuffle-free
    * k-fused-dots argmax projection, so the whole operator is a
    * corpus scan plus ONE TakeOrderedAndProject cut (per-partition
    * bottom-k heaps, driver merges k×partitions rows — never a global
    * sort). Ordering compares UNROUNDED doubles (identical
    * sequential-fold products on both engines) with vec_id
    * tie-break; the output rounds to 6dp only at presentation.
    * Default centroids are the deterministic stand-in so the DuckDB
    * oracle reproduces assignment; production passes
    * [[trainCentroids]] — identical plan.
    */
  def embeddingOutliers(corpus: DataFrame, k: Int = 25,
      nCentroids: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cu = unitIndex(corpus)
    val book = collectCoarseBook(cu, nCentroids, centroids)
    if (book.isEmpty) {
      val spark = corpus.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)]
        .toDF("vec_id", "cid", "centroid_score")
    }
    assignCellsIdx(cu, book)
      .orderBy(col("cscore").asc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cid"),
        round(col("cscore"), 6).as("centroid_score"))
  }

  /** The driver-held coarse codebook as a public artifact — what a
    * streaming ingest job loads once and applies per batch (the
    * persisted-knowledge pattern: rates table, Bloom sketch, and now
    * the codebook). Deterministic stand-in by default; production
    * passes [[trainCentroids]]. */
  def coarseBook(corpus: DataFrame, nCentroids: Int = 16,
      centroids: Option[DataFrame] = None): Array[(Long, Seq[Double])] =
    collectCoarseBook(unitIndex(corpus), nCentroids, centroids)

  /** Shuffle-free cell routing over an explicit codebook — the same
    * argmax projection [[knnIvf]] assigns with, exposed for ingest:
    * works unchanged on a STREAMING frame (narrow filter + projection,
    * no state), routing each arriving vector to the cell whose
    * inverted-file partition it belongs in. */
  def cellAssignments(vecs: DataFrame,
      book: Array[(Long, Seq[Double])]): DataFrame =
    assignCells(unitIndex(vecs), book).select(col("vec_id"), col("cid"))

  /** At-rest cell-distribution baseline — (cid, n, ppm) per coarse
    * cell, the reference profile an ingest-side drift monitor compares
    * against ([[graft.streaming.StreamingSimilarity.cellCounts]]).
    * `ppm` floors `n·10⁶ / total` to an exact integer (the
    * mixtureSample rule: the float work is zero, the share is
    * engine-exact). A skewed ppm column is ALSO the IVF health check:
    * one giant cell means the codebook no longer fits the corpus and
    * probe cost degenerates toward a scan.
    */
  def cellBaseline(corpus: DataFrame, nCentroids: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cu = unitIndex(corpus)
    cellProfile(corpus.sparkSession, cu,
      collectCoarseBook(cu, nCentroids, centroids))
      .orderBy(col("cid"))
  }

  /** (cid, n, ppm) of `cu` under an already-collected `book` — the
    * shared core of [[cellBaseline]] and both [[cellDrift]] snapshots,
    * so the codebook is collected ONCE per report and every assignment
    * runs in the same coordinate system. */
  private def cellProfile(spark: org.apache.spark.sql.SparkSession,
      cu: DataFrame, book: Array[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    if (book.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("cid", "n", "ppm")
    val counts = assignCells(cu, book)
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
    val total = counts
      .filter(graft.functions.Barrier.reuseAnchor(col("n")))
      .agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .withColumn("ppm", expr("(n * 1000000) div total"))
      .select(col("cid"), col("n"), col("ppm"))
  }

  /** Batch cell-drift report — [[cellBaseline]] run on two corpus
    * snapshots against ONE shared codebook (trained on the reference
    * snapshot: drift is only meaningful in a fixed coordinate
    * system), full-outer-joined per cell: `(cid, n_ref, ppm_ref,
    * n_cur, ppm_cur, delta_ppm)`. All integers; a cell absent from a
    * snapshot reports 0, not null, so `delta_ppm` is always defined
    * and `Σ |delta_ppm|` (the total-variation drift, ×2·10⁶) is
    * computable downstream. The batch twin of the streaming
    * [[graft.streaming.StreamingSimilarity.cellCounts]] monitor —
    * same assignment projection, same integer shares.
    */
  def cellDrift(reference: DataFrame, current: DataFrame,
      nCentroids: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    // the codebook is collected ONCE and the same driver-held array
    // feeds both snapshots' assignments — with a caller-supplied
    // centroids frame whose plan is nondeterministic (e.g. unseeded
    // k-means), two independent collects could snapshot two different
    // coordinate systems and silently break the shared-book contract
    val spark = reference.sparkSession
    val book = coarseBook(reference, nCentroids, centroids)
    val refB = cellProfile(spark, unitIndex(reference), book)
      .select(col("cid"), col("n").as("n_ref"), col("ppm").as("ppm_ref"))
    val curB = cellProfile(spark, unitIndex(current), book)
      .select(col("cid"), col("n").as("n_cur"), col("ppm").as("ppm_cur"))
    refB.join(curB, Seq("cid"), "full_outer")
      .select(col("cid"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("ppm_ref"), lit(0L)).as("ppm_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        coalesce(col("ppm_cur"), lit(0L)).as("ppm_cur"))
      .withColumn("delta_ppm", col("ppm_cur") - col("ppm_ref"))
      .orderBy(col("cid"))
  }

  /** Self-measuring ANN quality — recall@k of the approximate search
    * paths (LSH, IVF) against the exact brute-force top-k, as a QUERY
    * rather than only a spec: an index whose quality can be monitored
    * in the same engine that serves it is an index whose degradation
    * (embedding drift, a stale codebook) is visible in production, not
    * just in CI. One row per method; `recall = n_hits / |exact top-k|`
    * is a single division of exact integers — the denominator is the
    * exact result's OWN row count (clamped to ≥1 so an empty query set
    * reports 0.0, not NaN), broadcast as a 1-row scalar, so a corpus
    * with fewer than `maxQueryId` vectors cannot deflate the 'exact'
    * anchor, which stays at recall 1.0 by construction and rides along
    * as the join-logic sanity check. Hash-matches the oracle exactly.
    */
  def annRecall(corpus: DataFrame, maxQueryId: Int = 16,
      k: Int = 5): DataFrame = {
    val q = corpus.filter(col("vec_id") < maxQueryId)
    val exact = knnBruteForce(corpus, q, k)
      .select(col("query_id"), col("neighbor_id"))
    // denominator = the EXACT top-k's own row count, not maxQueryId·k:
    // a corpus with fewer than maxQueryId vectors (or null embeddings
    // among the low ids) yields fewer exact rows, and dividing by the
    // nominal constant would deflate every method — including the
    // 'exact' anchor documented as recall 1.0 by construction. A
    // broadcast 1-row scalar, the cellBaseline total pattern.
    val denom = exact
      .filter(graft.functions.Barrier.reuseAnchorKey(col("query_id")))
      .agg(greatest(count(lit(1)), lit(1L)).cast("double").as("denom"))
    def row(res: DataFrame, label: String): DataFrame =
      exact.join(res.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(denom))
        .select(lit(label).as("method"), col("n_hits"),
          (col("n_hits").cast("double") / col("denom")).as("recall"))
    row(exact, "exact")
      .unionAll(row(knnLsh(corpus, q, k), "lsh"))
      .unionAll(row(knnLshMultiProbe(corpus, q, k), "lsh_mp"))
      .unionAll(row(knnIvf(corpus, q, k), "ivf"))
      .orderBy(col("method"))
  }

  /** Contrastive (anchor, positive, negative) triplet construction —
    * the training-data side of embedding-model work: positives are
    * each anchor's best semantic neighbor (the LSH near-pair graph
    * [[lshNearPairsUnsorted]] already builds — candidates banded,
    * cosine-verified, so the pair search is the scale path, never
    * all-pairs), negatives are deterministic hash-draws: the min-id
    * representative of the anchor's SALTED fnv bucket, joined from a
    * `negBuckets`-row broadcast table. Everything is integer/rounded
    * arithmetic the DuckDB oracle replays exactly — same triplets on
    * any cluster size, any run.
    *
    * Semantics pinned: only anchors WITH a neighbor ≥ `threshold`
    * appear (an isolated vector has no positive to contrast against);
    * the positive tie-breaks (score desc, id asc); the rare anchor
    * whose salted draw collides with itself or its positive is
    * dropped rather than silently re-drawn (deterministic, documented
    * — re-salting would make the output depend on collision order).
    */
  def contrastiveTriplets(corpus: DataFrame, threshold: Double = 0.4,
      tables: Int = 4, planes: Int = 4, negBuckets: Int = 32,
      negSalt: Int = 7): DataFrame = {
    val pairs = lshNearPairsUnsorted(corpus, tables, planes, threshold)
    val sym = pairs
      .select(col("vec_a").as("anchor"), col("vec_b").as("pos"), col("score"))
      .unionAll(pairs
        .select(col("vec_b").as("anchor"), col("vec_a").as("pos"),
          col("score")))
    // the winner's score is the group's max: NaN highest in both, and
    // every pair scores >= a positive threshold, so no signed zero
    val positives = sym.groupBy(col("anchor"))
      .agg(LastWrite.bestId(col("pos"), col("score")).as("positive_id"),
        max(col("score")).as("pos_score"))
    val bmin = corpus.filter(col("embedding").isNotNull)
      .select(CorpusOps.hashBucket(col("vec_id"), negBuckets).as("bucket"),
        col("vec_id"))
      .groupBy(col("bucket")).agg(min(col("vec_id")).as("negative_id"))
    positives
      .withColumn("nbucket",
        pmod(CorpusOps.hashBucket(col("anchor"), negBuckets) + negSalt,
          lit(negBuckets)))
      .join(broadcast(bmin), col("nbucket") === col("bucket"))
      .filter(col("negative_id") =!= col("anchor") &&
        col("negative_id") =!= col("positive_id"))
      .select(col("anchor"), col("positive_id"), col("pos_score"),
        col("negative_id"))
      .orderBy(col("anchor"))
  }

  /** Product-quantization codebook: the vector's dimensions split into
    * `m` contiguous subspaces; per subspace, `ksub` sub-centroids
    * trained by Lloyd's on the subvectors. Returned driver-held
    * (`[m][ksub][dims/m]` doubles — for the classic 8×16 over 64 dims,
    * 1024 doubles). PQ is THE 100 TB ANN memory story: the index holds
    * `m` small ints per vector (codes) instead of `dims` floats — 32×
    * smaller for 8×16/64-float vectors — and queries scan codes with
    * `m` table lookups per candidate ([[graft.functions.ArrayHashExprs
    * .PqAdcExpr]]) instead of a `dims`-wide dot product.
    *
    * One corpus scan per iteration handles ALL subspaces: assignment
    * is a projection (per subspace, `ksub` fused sub-dots; argmin of
    * L2 distance computed as argmax of `2·dot − |c|²` — `|x|²` is
    * constant within a row's argmin, so the available dot expression
    * suffices); the update explodes (subspace, cell, position) and
    * partial-aggregates means map-side, shuffling at most
    * `m × ksub × dims/m` rows per task. Seeding: the subvectors of the
    * `ksub` lowest vec_ids — deterministic, reproducible runs (fewer
    * rows than `ksub` → a smaller book, never a crash). Empty cells
    * keep their previous centroid, as in [[trainCentroids]].
    */
  /** Default PQ geometry (subspaces × sub-centroids). Named so
    * [[resolvePqBook]] can tell "caller left the defaults" from "caller
    * explicitly asked for a geometry that contradicts the provided
    * book" — only the latter is refused. */
  val DefaultPqM = 8
  val DefaultPqKsub = 16

  def trainPqCodebook(corpus: DataFrame, m: Int = DefaultPqM, ksub: Int = DefaultPqKsub,
      iters: Int = 2): Array[Array[Seq[Double]]] =
    trainPqOn(unitIndex(corpus), m, ksub, iters)

  /** A PQ codebook TAGGED with what it was trained on. Raw-vector and
    * residual books are not interchangeable: residual codes scored
    * against a raw-trained LUT (or vice versa) systematically mis-rank
    * with no error anywhere — the same hazard the persisted index's
    * meta sidecar records. Carrying the flag in the type lets
    * [[knnIvfPq]]/[[writePqIndex]] refuse a mismatched book loudly.
    * For residual books the hazard is two-level: residuals are only
    * meaningful against the SAME coarse codebook, so [[trainPq]] also
    * stamps `coarseKey` (a fingerprint of the coarse book) and
    * [[resolvePqBook]] refuses a book trained against a different one.
    * Hand-built books (coarseKey = None) skip that check — they have
    * nothing trustworthy to compare.
    */
  case class PqBook(subCentroids: Array[Array[Seq[Double]]],
      residual: Boolean, coarseKey: Option[Long] = None)

  /** Deterministic fingerprint of a coarse codebook, the identity
    * [[PqBook.coarseKey]] records: order-sensitive fold over cell ids
    * and exact double bits — any retrain or edit changes it.
    */
  private def coarseKeyOf(book: Array[(Long, Seq[Double])]): Long =
    book.foldLeft(17L) { case (h, (cid, vs)) =>
      vs.foldLeft(h * 31 + cid)((a, v) =>
        a * 31 + java.lang.Double.doubleToLongBits(v))
    }

  /** Train a [[PqBook]] standalone (the build-once side when the book
    * is reused across queries/indexes). `residual = true` trains on
    * `x − centroid(cell(x))` against the same coarse book the queries
    * will use — pass the SAME `centroids` there.
    */
  def trainPq(corpus: DataFrame, m: Int = DefaultPqM, ksub: Int = DefaultPqKsub,
      iters: Int = 2, residual: Boolean = false, nCentroids: Int = 16,
      centroids: Option[DataFrame] = None): PqBook = {
    val cu = unitIndex(corpus)
    if (residual) {
      val book = collectCoarseBook(cu, nCentroids, centroids)
      require(book.nonEmpty, "cannot train a residual book on an empty corpus")
      val frame = residualOf(assignCellsIdx(cu, book), book)
        .select(col("vec_id"), col("unit"))
      PqBook(trainPqOn(frame, m, ksub, iters), residual = true,
        coarseKey = Some(coarseKeyOf(book)))
    } else PqBook(trainPqOn(cu, m, ksub, iters), residual = false)
  }

  /** The one place a query/index obtains its PQ sub-centroids: a
    * provided book must carry the matching residual tag (refused
    * loudly otherwise); absent one, training runs here — on residuals
    * of the given coarse book when `residual`. Shared by the inline
    * query and the persisted build so the two can never drift.
    */
  private def resolvePqBook(cu: DataFrame, book: Array[(Long, Seq[Double])],
      residual: Boolean, m: Int, ksub: Int, pqIters: Int,
      provided: Option[PqBook]): Array[Array[Seq[Double]]] =
    provided match {
      case Some(pb) =>
        require(pb.residual == residual,
          s"pqBook was trained with residual=${pb.residual} but this " +
            s"call scores residual=$residual — codes and LUT would " +
            "silently disagree; train with the matching flag")
        // a provided book is authoritative for geometry; still refuse
        // an EXPLICIT m/ksub that contradicts it (defaulted args are
        // indistinguishable from explicit defaults — those pass)
        val bm = pb.subCentroids.length
        val bk = pb.subCentroids.headOption.map(_.length).getOrElse(ksub)
        require((m == DefaultPqM && ksub == DefaultPqKsub) ||
            (bm == m && bk == ksub),
          s"pqBook geometry is ${bm}x$bk but the call asked for " +
            s"${m}x$ksub — the book is authoritative; drop the m/ksub " +
            "arguments or train a matching book")
        if (residual) pb.coarseKey.foreach { key =>
          require(key == coarseKeyOf(book),
            "residual pqBook was trained against a DIFFERENT coarse " +
              "codebook than this call uses — residual codes are only " +
              "meaningful against their own coarse book; pass the same " +
              "`centroids` to trainPq and to this call")
        }
        pb.subCentroids
      case None =>
        trainPqOn(
          if (residual)
            residualOf(assignCellsIdx(cu, book), book)
              .select(col("vec_id"), col("unit"))
          else cu,
          m, ksub, pqIters)
    }

  /** [[trainPqCodebook]] over an arbitrary (vec_id, unit) frame — the
    * residual path trains on `x − centroid(cell(x))` instead of raw
    * unit vectors, everything else identical. */
  private def trainPqOn(vecs: DataFrame, m: Int, ksub: Int,
      iters: Int): Array[Array[Seq[Double]]] = {
    require(m > 0 && ksub > 0 && iters >= 0,
      s"need m > 0 ($m), ksub > 0 ($ksub), iters >= 0 ($iters)")
    // the eager checkpoint amortizes the frame over iters+1 scans; at
    // iters = 0 (the seed-book registry paths: q_embed_knn_ivfpq,
    // writePqIndex with pqIters = 0) the ONLY read is the ksub-row
    // seed TakeOrdered, so materializing the whole corpus first is
    // pure overhead — collect straight off the scan instead (same
    // rows: vec_id order is unique and engine-independent)
    val cu = if (iters == 0) vecs else vecs.localCheckpoint(true)
    try {
      val seeds = cu.orderBy(col("vec_id")).limit(ksub)
        .collect().map(_.getSeq[Double](1))
      require(seeds.nonEmpty, "cannot train a PQ codebook on an empty corpus")
      val dims = seeds(0).size
      require(dims % m == 0, s"dims ($dims) must split evenly into m ($m)")
      val dsub = dims / m
      var book: Array[Array[Seq[Double]]] = Array.tabulate(m)(mi =>
        seeds.map(v => v.slice(mi * dsub, (mi + 1) * dsub)))
      for (_ <- 0 until iters) {
        val assigned = withPqCodes(cu, book, dsub)
        // one aggregate + m×ksub×dsub-bounded driver assembly (r21) —
        // [[pqMeansFrame]], the struct-explode + posexplode scalar
        // aggregate. r22 MEASURED and REJECTED two alternatives
        // (same-JVM interleaved A/B, sf0.1/32 cores, per UPDATE job):
        // dsub avg(element_at) columns over (mq, cell) groups — one
        // generator, dsub× fewer agg rows — read 0.134–0.138 s min /
        // 0.15–0.20 med vs 0.121–0.132 / 0.14–0.18 for this shape
        // (the wide multi-avg buffer loses the codegen'd fast
        // hash-map, same mechanism as the coarse trainer's 2× hit);
        // a single posexplode(unit) with arithmetically-derived
        // (mq, cell, pos) keys measured ≈ equal (0.117/0.182), not
        // worth the shape change. The scalar aggregate stays. The
        // driver regroup falls back per-position to the previous
        // sub-centroid on a missing key (ragged-dimension rows)
        // instead of throwing — the r21 advice item.
        val means = pqMeansFrame(assigned, m, dsub)
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
          .toMap
        book = Array.tabulate(m)(mi =>
          book(mi).indices.map(c =>
            if (means.contains((mi, c, 0)))
              (0 until dsub).map(p => means.getOrElse((mi, c, p),
                book(mi)(c).lift(p).getOrElse(0.0))): Seq[Double]
            else book(mi)(c)).toArray)
      }
      book
    } finally if (iters > 0) ColumnBridge.unpersistCheckpoint(cu)
  }

  /** [[trainPqOn]]'s per-iteration means aggregate: m (mq, cell, sub)
    * structs per vector, posexploded to scalars, then one
    * (mq, cell, pos) avg — the shape that keeps the codegen'd scalar
    * hash aggregate. Split out so the plan shape and value semantics
    * are pinnable, and so the r22 negative results (wide
    * avg(element_at) columns and the derived-key single-posexplode
    * variant; numbers in the trainer comment above) have a named
    * surface to re-measure against. */
  private[graft] def pqMeansFrame(assigned: DataFrame, m: Int,
      dsub: Int): DataFrame =
    assigned
      .select(explode(array((0 until m).map(mi =>
        struct(lit(mi).as("mq"),
          element_at(col("codes"), mi + 1).as("cell"),
          slice(col("unit"), mi * dsub + 1, dsub).as("sub"))): _*)).as("e"))
      .select(col("e.mq"), col("e.cell"), posexplode(col("e.sub")))
      .groupBy(col("mq"), col("cell"), col("pos"))
      .agg(avg(col("col")).as("v"))

  /** The compressed-index build a deployment materializes once:
    * (vec_id, codes) — `m` small ints per vector. Pure projection
    * (encode is argmin-per-subspace over the driver-held book), so
    * writing the index is a single shuffle-free pass over the corpus.
    */
  def encodePq(corpus: DataFrame, book: Array[Array[Seq[Double]]]): DataFrame =
    withPqCodes(unitIndex(corpus), book, book(0)(0).size)
      .select(col("vec_id"), col("codes"))

  /** Adds `codes` (`array<int>`, one sub-cell id per subquantizer):
    * per subspace, argmin-L2 sub-centroid via the `2·dot − |c|²`
    * argmax — a pure projection, no shuffle. First max wins = lowest
    * cell id, deterministic. */
  private def withPqCodes(df: DataFrame, book: Array[Array[Seq[Double]]],
      dsub: Int): DataFrame = {
    val coded = book.indices.foldLeft(df) { (d, mi) =>
      val sub = slice(col("unit"), mi * dsub + 1, dsub)
      val scores = array(book(mi).toIndexedSeq.map(c =>
        dot(sub, typedLit(c)) * 2.0 - lit(c.map(x => x * x).sum)): _*)
      d.withColumn(s"pq_scores_$mi", scores)
        .withColumn(s"pq_cid_$mi",
          (expr(s"array_position(pq_scores_$mi, array_max(pq_scores_$mi))") - 1)
            .cast("int"))
    }
    coded
      .withColumn("codes",
        array(book.indices.map(mi => col(s"pq_cid_$mi")): _*))
      .drop(book.indices.flatMap(mi =>
        Seq(s"pq_scores_$mi", s"pq_cid_$mi")): _*)
  }

  /** IVF-PQ ANN top-k — the compressed-index composition of
    * [[knnIvf]]'s inverted file and [[trainPqCodebook]]'s product
    * quantization, with an exact re-rank:
    *
    *  1. INDEX (the table a 100 TB deployment materializes once): per
    *     vector, its coarse cell id + `m` PQ codes — `m` small ints
    *     instead of `dims` floats. Built here inline, shuffle-free.
    *  2. ADC SCAN: a query probes `nProbes` cells; every candidate in
    *     a probed cell is scored with `m` lookups into the query's
    *     per-subspace LUT (`lut[mi][c] = dot(q_sub, centroid)`, so the
    *     ADC sum reconstructs `dot(q, decode(codes))`) — the codegen'd
    *     [[graft.functions.ArrayHashExprs.PqAdcExpr]]. No vector
    *     arrays move; the scan reads codes only.
    *  3. REFINE: the top `k·refine` ADC candidates per query join back
    *     to the stored vectors (a broadcast of the tiny candidate set
    *     into one corpus scan — the standard re-rank read) and the
    *     exact dot re-ranks the final top-k, so emitted scores are
    *     exact and ADC error only costs recall, never wrong scores.
    *
    * With Lloyd's-trained books this is not SQL-oracle-expressible
    * (distributed float-AVG fold order); the recall gate vs
    * [[knnBruteForce]] lives in SimilaritySpec, and the trained
    * configuration runs as a bench-only train-time measurement
    * (`SparkEntry.benchQueries`). With `pqIters = 0` the books are the
    * closed-form SEEDS and the whole pipeline replays hash-exact
    * (`OracleSql.knnIvfPqSeed`) — since r15 BOTH registry twins
    * (`q_embed_knn_ivfpq` inline and `_indexed`) run this
    * configuration against the same oracle.
    */
  def knnIvfPq(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbes: Int = 4, m: Int = DefaultPqM, ksub: Int = DefaultPqKsub,
      pqIters: Int = 2, refine: Int = 4, residual: Boolean = false,
      centroids: Option[DataFrame] = None,
      pqBook: Option[PqBook] = None): DataFrame = {
    require(k > 0 && refine >= 1, s"need k > 0 ($k), refine >= 1 ($refine)")
    val cu = unitIndex(corpus)
    val book = collectCoarseBook(cu, nCentroids, centroids)
    if (book.isEmpty) return emptyKnnResult(corpus.sparkSession)
    // residual = true is the faiss-style refinement: train on and
    // encode `x − centroid(cell(x))` — when cells are tight and
    // outnumber the sub-cells, residuals quantize with less error;
    // ADC then adds the per-(query, cell) centroid dot (already
    // computed for probe ranking) back into the score:
    // dot(q, centroid + decode(codes))
    val pq = resolvePqBook(cu, book, residual, m, ksub, pqIters, pqBook)
    val index = pqIndexFrame(cu, book, pq, residual)
    val probes = withLut(probeCells(queries, book, nProbes), pq)
    adcRefine(index, cu, probes, k, refine,
      if (residual) col("cscore") else lit(0.0))
  }

  /** Adds the per-query ADC lookup table: m × ksub sub-dots, computed
    * once on the tiny probe frame; `lut[mi][c] = dot(q_sub, centroid)`,
    * so the ADC sum reconstructs `dot(q, decode(codes))`. Carried
    * through the broadcast with qunit (needed for the exact re-rank).
    */
  private def withLut(probes: DataFrame,
      pq: Array[Array[Seq[Double]]]): DataFrame = {
    val dsub = pq(0)(0).size
    probes.withColumn("lut", array(pq.indices.map(mi =>
      array(pq(mi).toIndexedSeq.map(c =>
        dot(slice(col("qunit"), mi * dsub + 1, dsub), typedLit(c))): _*)): _*))
  }

  /** The ADC candidate scan + exact re-rank shared by the inline and
    * persisted-index paths: probes (with LUT) broadcast into the codes
    * table, `PqAdcExpr` scores candidates with m lookups, the top
    * k·refine per query re-rank with exact dots by broadcasting the
    * candidate ids into one scan of the vector store.
    */
  private def adcRefine(index: DataFrame, cu: DataFrame, probes: DataFrame,
      k: Int, refine: Int, baseScore: Column = lit(0.0)): DataFrame = {
    val aw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val cand = index.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (baseScore + graft.functions.ArrayHashExprs.pq_adc(
          col("codes"), col("lut"))).as("adc"))
      // duplicate code rows (an at-least-once ingest replay re-appends
      // a batch) collapse BEFORE the refine cut, so a replay can
      // neither seat one neighbor in two top-k slots nor crowd genuine
      // candidates out of the k·refine budget; same books ⇒ identical
      // codes ⇒ the max is the one adc value. The explicit
      // query_id-only repartition makes ONE exchange serve both the
      // aggregate (hash partitioning on a subset of the grouping keys
      // satisfies its clustered distribution) and the rank window —
      // grouping straight on (query_id, neighbor_id) would hash on
      // both keys and force the window to re-exchange on query_id.
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("adc")).as("adc"))
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") <= k * refine)
      // qunit rejoins from the probe frame cut to ONE row per query
      // (probes carries nProbes rows each — joining it raw would
      // multiply every candidate by the probe count); crn = 1 is that
      // cut as a pure filter on the already-ranked probe frame, where
      // a dropDuplicates would shuffle it
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(probes.filter(col("crn") === 1)
        .select(col("query_id"), col("qunit"))), Seq("query_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cu.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qunit"), col("unit")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Materialize the IVF-PQ index at `dir` — the build-once side of a
    * deployment. Layout:
    *  - `dir/codes`: (vec_id, codes), hive-PARTITIONED BY the coarse
    *    cell id — probing then prunes at the directory LISTING, so a
    *    query's ADC scan reads `nProbes / nCells` of the index files,
    *    the at-rest inverted file;
    *  - `dir/coarse_book`, `dir/pq_book`: the two codebooks as tiny
    *    parquet sidecars, so later sessions query without retraining
    *    (and encode future vectors with the same books).
    */
  def writePqIndex(corpus: DataFrame, dir: String, nCentroids: Int = 16,
      m: Int = DefaultPqM, ksub: Int = DefaultPqKsub, pqIters: Int = 2,
      residual: Boolean = false,
      centroids: Option[DataFrame] = None,
      pqBook: Option[PqBook] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cu = unitIndex(corpus)
    val book = collectCoarseBook(cu, nCentroids, centroids)
    if (book.isEmpty) {
      // an empty corpus builds an EMPTY index, not an error: a nightly
      // rebuild over an aggressively-filtered corpus can legitimately
      // see zero vectors, and killing the pipeline is worse than an
      // index whose probes return empty ([[knnIvfPqIndexed]] guards
      // book.isEmpty before touching the codes). APPENDS to an empty
      // index stay loud ([[pinPqBooks]] refuses a store with no coarse
      // book): codes encoded against no book are undefined, and the
      // right fix there is a rebuild over the grown corpus.
      codesTable(dir).replaceWith(
        Seq.empty[(Long, Seq[Int], Long)].toDF("vec_id", "codes", "cid"))
      Seq.empty[(Long, Seq[Double])].toDF("cid", "cunit")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse_book")
      Seq.empty[(Int, Int, Seq[Double])].toDF("mq", "cell", "sub")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_book")
      Seq(residual).toDF("residual")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      return
    }
    val pq = resolvePqBook(cu, book, residual, m, ksub, pqIters, pqBook)
    // epoch-aware rebuild (EpochedTable.replaceWith): a fresh dir gets
    // the plain `codes` layout; a rebuild over a grown/compacted index
    // commits the next generation before retiring the old one
    codesTable(dir).replaceWith(pqIndexFrame(cu, book, pq, residual)
      .select(col("vec_id"), col("codes"), col("cid")))
    book.toSeq.toDF("cid", "cunit")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse_book")
    pq.indices.flatMap(mi => pq(mi).indices.map(c => (mi, c, pq(mi)(c))))
      .toDF("mq", "cell", "sub")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_book")
    // the codes' meaning (raw vs residual) is index metadata — a
    // reader scoring residual codes without the centroid add-back
    // would silently mis-rank, so it is recorded, not assumed
    Seq(residual).toDF("residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Query a [[writePqIndex]] index: books load from the sidecars (two
    * codebook-sized collects), the probed cell ids collect from the
    * tiny probe frame (≤ queries × nProbes values) and prune the codes
    * scan via a STATIC partition filter — the explain shows the cid
    * predicate under PartitionFilters, so unprobed cells' files are
    * never listed, let alone read. `corpus` is the vector store the
    * exact re-rank reads (the index itself holds no vectors — that is
    * its point); results are identical to the inline [[knnIvfPq]]
    * under the same books.
    */
  /** Load a [[writePqIndex]] index's sidecars: the coarse book, the
    * PQ book, and the residual flag — two codebook-sized collects plus
    * a 1-row read, shared by the query and append paths. */
  private def readPqBooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[(Long, Seq[Double])], Array[Array[Seq[Double]]],
      Boolean) = {
    val book = spark.read.parquet(s"$dir/coarse_book").orderBy(col("cid"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val pqRows = spark.read.parquet(s"$dir/pq_book")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val pq: Array[Array[Seq[Double]]] =
      if (pqRows.isEmpty) Array.empty
      else Array.tabulate(pqRows.map(_._1).max + 1)(mi =>
        pqRows.filter(_._1 == mi).sortBy(_._2).map(_._3))
    val residual = spark.read.parquet(s"$dir/meta")
      .collect().headOption.exists(_.getBoolean(0))
    (book, pq, residual)
  }

  /** Append new vectors to a [[writePqIndex]] index: encode with the
    * SIDECAR books — never retrained, because codes from different
    * books live in different coordinate systems and are not
    * comparable — and append to the cid-partitioned codes table. The
    * grow step of an ANN deployment: ingest encodes against the
    * frozen books at batch-sized cost, retrain-and-rebuild is the
    * scheduled batch job (the same frozen-artifact compromise as
    * [[graft.operators.Dedup.assignDedupLabels]]). Probing after an
    * append sees the new vectors immediately — same books ⇒ results
    * identical to an index built over the union in one shot
    * (spec-pinned). With a `batchId` (the streaming loop passes its
    * own), the batch lands in an overwrite-once
    * `codes_ingest/batch-<id>` dir, making at-least-once replays
    * rewrite rather than grow; without one, rows append to the active
    * generation's partitioned base (ad-hoc batch use).
    */
  def appendToPqIndex(vecs: DataFrame, dir: String,
      batchId: Option[Long] = None): Unit =
    appendToPqIndexWith(vecs, dir,
      pinPqBooks(vecs.sparkSession, dir), batchId)

  /** The sidecar books, loaded once and validated — for a long-lived
    * ingest loop ([[graft.streaming.StreamingSimilarity.pqIngest]])
    * that would otherwise pay three driver-side sidecar reads per
    * micro-batch for data that is FROZEN by contract. Pinned books
    * stay valid until the index is rebuilt; a rebuild that changes
    * them requires restarting any stream encoding against them anyway
    * (codes from different books are not comparable). */
  private[graft] def pinPqBooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[(Long, Seq[Double])], Array[Array[Seq[Double]]],
      Boolean) = {
    val books = readPqBooks(spark, dir)
    require(books._1.nonEmpty, s"no coarse book at $dir — not a PQ index")
    books
  }

  /** [[appendToPqIndex]] with the books already pinned. */
  private[graft] def appendToPqIndexWith(vecs: DataFrame, dir: String,
      books: (Array[(Long, Seq[Double])], Array[Array[Seq[Double]]], Boolean),
      batchId: Option[Long]): Unit = {
    val spark = vecs.sparkSession
    val (book, pq, residual) = books
    val rows = pqIndexFrame(unitIndex(vecs), book, pq, residual)
      .select(col("vec_id"), col("codes"), col("cid"))
    val ct = codesTable(dir)
    batchId match {
      // streaming ingest: per-batch overwrite-once dir — an
      // at-least-once replay rewrites identical code rows instead of
      // permanently growing the index on every recovery; the ADC
      // duplicate-collapse stays as the read-path backstop. Ingest
      // dirs are plain (cid as a column) and small between
      // compactions; compactPqIndex folds them back into the
      // cid-partitioned base so probes regain full listing pruning.
      case Some(id) => ct.appendBatch(rows, id)
      case None     =>
        // ad-hoc batch append: an in-place mode(append) into the
        // active generation dir (whose prior _SUCCESS survives) would
        // let a crash mid-job-commit leave a TORN append that READS
        // AS COMMITTED — the one write here that bypassed the epoch
        // contract everything else rides. Land it as a uniquely-named
        // overwrite-once batch dir instead: _SUCCESS-gated (a torn
        // dir is invisible to probes), folded into the cid-partitioned
        // base by the next compactPqIndex. The id is a random 63-bit
        // draw, uniqueness only — ad-hoc appends are not replay-keyed.
        // NOT nanoTime: its origin is arbitrary PER JVM, so two
        // concurrent appenders in different JVMs could collide on the
        // same batch-dir name and the overwrite-once/first-wins
        // discipline would silently drop one append's rows; random
        // longs also can't collide with streaming ids (small
        // integers), and a fresh draw is never named by a fold
        // manifest, so the replay stand-down in
        // [[graft.sources.EpochedTable.appendBatchAt]] never fires.
        ct.appendBatch(rows,
          java.util.UUID.randomUUID().getLeastSignificantBits & Long.MaxValue)
    }
  }

  /** Fold the codes table's streaming-ingest batch dirs back into the
    * cid-partitioned base — [[graft.operators.Dedup.compactDedupIndex]]'s
    * ANN twin, same generation scheme and crash contract
    * ([[graft.sources.EpochedTable]]): the folded generation commits
    * (with `_SUCCESS`) before anything old is retired. Quiesce the
    * ingest stream while compacting. */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    codesTable(dir).compact(spark)

  /** The codes table as an [[EpochedTable]]: generation writes are
    * hive-partitioned by `cid` (the probe's directory-listing prune);
    * `normalizeRead` re-widens the partition-discovered cid (inferred
    * int for small cell ids) to the long the code path carries. */
  private def codesTable(dir: String): EpochedTable =
    EpochedTable(dir, "codes", Seq("vec_id", "codes", "cid"),
      partitionCols = Seq("cid"),
      normalizeRead = df => df.withColumn("cid", col("cid").cast("long")))

  def knnIvfPqIndexed(dir: String, corpus: DataFrame, queries: DataFrame,
      k: Int, nProbes: Int = 4, refine: Int = 4): DataFrame = {
    require(k > 0 && refine >= 1, s"need k > 0 ($k), refine >= 1 ($refine)")
    val spark = corpus.sparkSession
    val (book, pq, residualMeta) = readPqBooks(spark, dir)
    if (book.isEmpty) return emptyKnnResult(spark)
    // materialize the (tiny) probe frame once: it is consumed twice —
    // the cid collect below and adcRefine's broadcast — and uncached
    // each use would re-run the query scan, the book cross-join, and
    // the top-nProbes window. Same storage contract as the label
    // family: the returned plan embeds the checkpoint; release with
    // ColumnBridge.unpersistCheckpoint after the last action.
    val probes = withLut(probeCells(queries, book, nProbes), pq)
      .localCheckpoint(true)
    // fallible steps below (cid collect, codes/meta reads) must not
    // leak the eager checkpoint: on ANY failure before the frame is
    // handed to the caller, release it here — afterwards releasing is
    // the caller's storage contract
    try {
      // probed cells, collected driver-side so the pruning predicate is
      // STATIC (a dynamic join-based prune would depend on runtime DPP)
      val probedCids = probes.select(col("cid")).distinct()
        .collect().map(_.getLong(0)).sorted
      // ONE directory listing resolves the generation; the base read
      // and the ingest union below reuse it (three separate
      // activeEpoch calls would triple the LIST/HEAD round-trips on
      // an object store — on the steady-state hot path)
      val ct = codesTable(dir)
      val epoch = ct.activeEpoch(spark)
      val raw = spark.read.parquet(ct.tableDir(epoch))
      // partition-column type inference may read cid back narrower than
      // long; filter in the INFERRED type (pruning survives — no cast
      // lands on the partition column), then widen for the probe join
      val cidLits = raw.schema("cid").dataType match {
        case org.apache.spark.sql.types.IntegerType => probedCids.toSeq.map(_.toInt)
        case _                                      => probedCids.toSeq
      }
      val baseIdx = raw.filter(col("cid").isin(cidLits: _*))
        .withColumn("cid", col("cid").cast("long"))
        .select(col("vec_id"), col("codes"), col("cid"))
      // streaming-ingest batches not yet folded by compactPqIndex ride
      // along as a plain (small) union side: their cid predicate is an
      // ordinary pushed filter rather than a listing prune — bounded
      // by the ingest volume since the last compaction, by design
      val batchDirs = ct.ingestBatchDirs(spark, epoch)
      val index =
        if (batchDirs.nonEmpty)
          baseIdx.unionAll(ct.readBatchDirs(spark, batchDirs)
            .filter(col("cid").isin(probedCids.toSeq: _*)))
        else baseIdx
      adcRefine(index, unitIndex(corpus), probes, k, refine,
        if (residualMeta) col("cscore") else lit(0.0))
    } catch {
      case t: Throwable =>
        ColumnBridge.unpersistCheckpoint(probes)
        throw t
    }
  }

  /** ANN top-k: LSH candidates (union over tables), exact cosine and
    * per-query top-k on candidates only — the scale path of
    * [[knnBruteForce]]. Recall depends on tables × planes.
    */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 8, planes: Int = 4): DataFrame = {
    // unitIndex (not raw withUnit): see knnBruteForce — null vectors
    // must not rank or be ranked
    val cu = unitIndex(corpus)
    val qu = unitIndex(queries)
    knnLshOn(cu, qu,
      withSigs(qu, tables, planes)
        .select(col("vec_id"), col("tbl"), col("sig")),
      tables, planes, k)
  }

  /** Multi-probe LSH ANN top-k — the standard recall lever that costs
    * probe volume, not index size: besides its own bucket, each query
    * also probes the `planes` buckets at Hamming distance 1 in every
    * table (one signature bit flipped — the bucket a borderline
    * hyperplane decision would have landed it in). Candidates grow
    * ~(planes+1)× on the TINY query side only; the corpus index, its
    * signatures, and the scoring plan are byte-identical to
    * [[knnLsh]]. [[annRecall]] reports both, so the recall-for-probes
    * trade is measured in-engine, not asserted.
    */
  def knnLshMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 8, planes: Int = 4): DataFrame = {
    val cu = unitIndex(corpus)
    val qu = unitIndex(queries)
    val expanded = withSigs(qu, tables, planes)
      .select(col("vec_id"), col("tbl"),
        explode(array(col("sig") +: (0 until planes).map(j =>
          col("sig").bitwiseXOR(lit(1L << j))): _*)).as("sig"))
    knnLshOn(cu, qu, expanded, tables, planes, k)
  }

  /** Shared LSH top-k tail: candidate equi-join on (tbl, sig) against
    * the (possibly probe-expanded) query signature frame, exact
    * cosine on candidates only, per-query rank window. */
  private def knnLshOn(cu: DataFrame, qu: DataFrame, qsigs: DataFrame,
      tables: Int, planes: Int, k: Int): DataFrame = {
    val cand = withSigs(cu, tables, planes).select(col("vec_id"), col("tbl"), col("sig")).as("c")
      .join(broadcast(qsigs.as("q")),
        col("q.tbl") === col("c.tbl") && col("q.sig") === col("c.sig") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cand
      .join(broadcast(qu).as("x"), col("query_id") === col("x.vec_id"))
      .join(cu.as("y"), col("neighbor_id") === col("y.vec_id"))
      .withColumn("score", dot(col("x.unit"), col("y.unit")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-table audit — the data-quality gate an embedding dump
    * passes BEFORE any ANN/semantic operator trusts it: null vectors
    * (failed encodes), wrong-dimension rows (mixed model versions —
    * the silent killer: a 768-dim row in a 64-dim index scores
    * garbage, not an error), zero-norm vectors (which [[withUnit]]
    * maps to zero units so they cannot NaN-poison top-k, but which a
    * pipeline wants counted), and the norm range. One scan, one
    * 1-row aggregate; norms are computed only for well-formed rows
    * (the guard pins identical null semantics on every engine) with
    * the same sequential-fold dot as the kNN family, so min/max are
    * engine-stable — min/max over a set is order-free, unlike a sum.
    */
  def embeddingAudit(corpus: DataFrame, dims: Int = LshDims): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      // element nulls are their own category: size() counts them, so
      // such a row passes the dims check, yet DotProductExpr silently
      // skips the null dimension — a partial norm would pollute
      // min/max and, uncaught, the row would flow into driver-held
      // codebooks (the round-15 unitIndex hazard). Audit it, and keep
      // norms to FULLY well-formed rows.
      .withColumn("has_null_elem",
        col("embedding").isNotNull &&
          !graft.functions.ArrayHashExprs.array_no_nulls(col("embedding")))
      .withColumn("nrm",
        when(col("embedding").isNotNull && size(col("embedding")) === dims &&
            !col("has_null_elem"),
          norm(col("embedding"))))
      .agg(
        count(lit(1)).as("n_vectors"),
        count_if(col("embedding").isNull).as("n_null_vec"),
        count_if(col("embedding").isNotNull &&
          size(col("embedding")) =!= dims).as("n_wrong_dim"),
        count_if(col("has_null_elem")).as("n_element_null"),
        count_if(col("nrm") === 0.0).as("n_zero_norm"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))

  /** Cluster-stratified diversity sampling — the embedding-space twin
    * of [[graft.operators.CorpusOps.sourceQuota]]: cap how many
    * vectors any one REGION of embedding space contributes, so a
    * downsampled corpus keeps its semantic spread instead of
    * collapsing onto the densest clusters (the cluster-balanced
    * selection step of data-curation pipelines). Each vector is
    * assigned to its nearest coarse centroid (the [[knnIvf]]
    * inverted-file assignment — a shuffle-free driver-held-codebook
    * argmax projection), then each cell keeps its first `quota`
    * vectors in deterministic hash order (FNV-32 of the vec id, the
    * engine's reproducible stand-in for a uniform draw — re-runs,
    * repartitionings, and other engines pick the identical sample).
    *
    * Plan: one exchange on `cid` shared by the rank and cell-size
    * windows; parallelism = number of cells, per-task cost = cell
    * population. A pathologically hot cell (most of the corpus in one
    * centroid's basin at 100 TB) is the [[graft.operators.CorpusOps
    * .sourceQuotaDistributed]] regime — its radix-histogram rank
    * applies verbatim with (group = cid, key = the 32-bit hash); with
    * a trained codebook, cells are near-balanced by construction
    * (that imbalance is exactly what k-means minimizes).
    *
    * Centroids default to the deterministic stand-in (first
    * `nCentroids` vectors) so the DuckDB oracle reproduces the
    * assignment; production passes [[trainCentroids]] — same plan.
    */
  def diverseSample(corpus: DataFrame, quota: Int = 40,
      nCentroids: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cu = unitIndex(corpus)
    val book = collectCoarseBook(cu, nCentroids, centroids)
    if (book.isEmpty) {
      import corpus.sparkSession.implicits._
      return Seq.empty[(Long, Long, Long, Boolean)]
        .toDF("vec_id", "cid", "cell_n", "kept")
    }
    val cellW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid"))
    val rankW = cellW.orderBy(col("hv"), col("vec_id"))
    assignCells(cu, book)
      .select(col("vec_id"), col("cid"),
        graft.functions.Fnv32.fnv32(
          col("vec_id").cast("string").cast("binary")).as("hv"))
      .withColumn("cell_rank", row_number().over(rankW))
      .withColumn("cell_n", count(lit(1)).over(cellW))
      .select(col("vec_id"), col("cid"), col("cell_n"),
        (col("cell_rank") <= quota).as("kept"))
      .orderBy(col("vec_id"))
  }
}
