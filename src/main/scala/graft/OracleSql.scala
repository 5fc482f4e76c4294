package graft

import graft.functions.{Hashing, TextFunctions}
import graft.operators.{Dedup, Similarity}

/** DuckDB oracle SQL mirroring each operator's exact arithmetic.
  *
  * Contract: every formula here is the SAME integer / IEEE-double
  * computation the Spark operator performs (same fold order, same
  * literals, same tie-breaks), so results hash-match bit-for-bit. The
  * shared sketch primitive is the 31-bit polynomial hash
  * ([[graft.functions.ArrayHashExprs.PolyHash31Expr]] ≡ [[baseHash]];
  * init values ride as the list head because DuckDB's list_reduce has
  * no initial-accumulator parameter).
  */
object OracleSql {

  /** Normalized text + token list over the `documents` view. */
  val docCte: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
      |  FROM documents),
      |tok AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks FROM t)""".stripMargin

  /** Raw (non-distinct) word-n-gram shingles; [[shingleHashCte]] then
    * hashes and dedups BY HASH, mirroring
    * [[graft.functions.ArrayHashExprs.ShingleHashExpr]]'s fused
    * tokenize→n-gram→hash→distinct loop. */
  def shingleCteN(n: Int): String =
    s"""sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= $n
       |              THEN list_transform(generate_series(1, len(toks) - ${n - 1}),
       |                     i -> array_to_string(toks[i:i+${n - 1}], ' '))
       |              ELSE [array_to_string(toks, ' ')] END AS raw
       |  FROM tok)""".stripMargin

  val shingleCte: String = shingleCteN(3)

  /** hx: (doc_id, xs) distinct shingle-hash lists. */
  def shingleHashCte: String =
    s"""hx AS (SELECT doc_id,
       |         list_distinct(list_transform(raw, g -> ${baseHash.format("g")})) AS xs
       |       FROM sh)""".stripMargin

  /** 31-bit polynomial hash over codepoints (== UTF-8 bytes on this
    * ASCII corpus), mirroring [[graft.functions.ArrayHashExprs.PolyHash31Expr]].
    * Init value is carried as the list head since DuckDB's list_reduce
    * has no initial-accumulator parameter.
    */
  val baseHash: String =
    """list_reduce(
      |  list_concat([0::BIGINT],
      |    list_transform(generate_series(1, length(%1$s)),
      |                   i -> unicode(substr(%1$s, i, 1))::BIGINT)),
      |  (h, b) -> (h * 1000003 + b) %% 2147483647)""".stripMargin

  def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  def hitsExpr(lang: String): String =
    s"len(list_filter(toks, x -> x IN ${inList(TextFunctions.Stopwords(lang))}))"

  val textStats: String =
    s"""$docCte
       |SELECT doc_id,
       |       len(toks) AS n_tokens,
       |       len(regexp_extract_all(text, '${TextFunctions.BpePattern}')) AS n_bpe_tokens,
       |       len(regexp_extract_all(text, '${TextFunctions.PunctPattern}')) AS n_punct,
       |       length(norm) AS n_chars_norm
       |FROM tok ORDER BY doc_id""".stripMargin

  /** Per-language hit columns over `tok` — shared by langId and
    * corpusFilter. */
  private def langHitsSelect: String =
    TextFunctions.Langs.map(l => s"${hitsExpr(l)} AS ${l}_hits")
      .mkString(",\n            ")

  /** The first-max language CASE — ONE definition so the tie-break
    * cannot drift between langId and corpusFilter. */
  private def langCaseSql: String = {
    val best = TextFunctions.Langs.map(l => s"${l}_hits")
      .mkString("greatest(", ", ", ")")
    val cases = TextFunctions.Langs
      .map(l => s"WHEN ${l}_hits = $best AND ${l}_hits > 0 THEN '$l'")
      .mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** quality-score inputs subquery over `tok` + the weighted formula —
    * ONE definition shared by quality and corpusFilter. */
  private val qualityInputsSql: String =
    s"""SELECT doc_id,
       |        CAST(length(norm) AS DOUBLE) AS chars,
       |        CAST(len(toks) AS DOUBLE) AS words,
       |        CAST(len(regexp_extract_all(text, '${TextFunctions.PunctPattern}')) AS DOUBLE) AS punct,
       |        CAST(${hitsExpr("en")} AS DOUBLE) AS stops
       |      FROM tok""".stripMargin
  private val qualityFormulaSql: String =
    """least(words / 100.0, 1.0) * 0.3
      |       + (1.0 - least(punct / greatest(chars, 1.0) * 5.0, 1.0)) * 0.3
      |       + least(stops / greatest(words, 1.0) * 3.0, 1.0) * 0.2
      |       + greatest(0.0, 1.0 - abs(chars / greatest(words, 1.0) - 5.0) / 10.0) * 0.2""".stripMargin

  /** Mirror of [[graft.operators.CorpusOps.selectByTokenBudget]] —
    * the SEMANTIC definition (one global prefix-sum window over
    * quality order); the Spark side reproduces it via the histogram
    * two-pass without the corpus-wide sort. */
  def selectByTokenBudget(budgetTokens: Long = 15000L): String =
    s"""$docCte,
       |q AS ($qualityInputsSql),
       |sel AS (SELECT doc_id,
       |               $qualityFormulaSql AS quality,
       |               CAST(words AS BIGINT) AS n_tokens
       |        FROM q),
       |w AS (SELECT *, SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |        ROWS UNBOUNDED PRECEDING) AS cum FROM sel)
       |SELECT doc_id, quality, n_tokens
       |FROM w WHERE cum <= $budgetTokens ORDER BY doc_id""".stripMargin

  /** Mirror of [[graft.operators.CorpusOps.docChunks]]: same token
    * list, same chunk-count formula (ceil((n − window)/stride) extra
    * chunks, floored at 0), same 1-based inclusive window slice —
    * DuckDB's `list_slice(xs, a, b)` and Spark's `slice(xs, a, len)`
    * both clamp at the list end, so the short final chunk agrees. */
  def docChunks(window: Int = 32, stride: Int = 16): String =
    s"""$docCte,
       |ex AS (
       |  SELECT doc_id, toks,
       |         unnest(generate_series(0,
       |           CAST(greatest(ceil((len(toks) - $window) / $stride.0), 0) AS BIGINT))) AS chunk_id
       |  FROM tok)
       |SELECT doc_id, chunk_id,
       |       array_to_string(list_slice(toks, chunk_id*$stride + 1, chunk_id*$stride + $window), ' ') AS chunk,
       |       CAST(least(len(toks) - chunk_id*$stride, $window) AS BIGINT) AS n_tokens
       |FROM ex ORDER BY doc_id, chunk_id""".stripMargin

  val langId: String =
    s"""$docCte,
       |h AS (SELECT doc_id, $langHitsSelect FROM tok)
       |SELECT doc_id, ${TextFunctions.Langs.map(l => s"${l}_hits").mkString(", ")},
       |       $langCaseSql AS lang_pred
       |FROM h ORDER BY doc_id""".stripMargin

  /** Mirrors [[graft.operators.TextAnalysis.langConfidence]]: same
    * hit counts, ranked by one DESC list sort, all-integer output. */
  val langConfidence: String = {
    val hitsList = TextFunctions.Langs.map(l => s"${l}_hits")
      .mkString("[", ", ", "]")
    s"""$docCte,
       |h AS (SELECT doc_id, len(toks) AS n_tokens, $langHitsSelect FROM tok),
       |s AS (SELECT doc_id, n_tokens,
       |        ${TextFunctions.Langs.map(l => s"${l}_hits").mkString(", ")},
       |        list_sort($hitsList, 'DESC') AS sh
       |      FROM h)
       |SELECT doc_id, $langCaseSql AS lang_pred,
       |       CAST(sh[1] AS BIGINT) AS top_hits,
       |       CAST(sh[2] AS BIGINT) AS second_hits,
       |       CAST(sh[1] - sh[2] AS BIGINT) AS margin,
       |       CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM s ORDER BY doc_id""".stripMargin
  }

  val quality: String =
    s"""$docCte,
       |q AS ($qualityInputsSql)
       |SELECT doc_id,
       |       $qualityFormulaSql
       |       AS quality
       |FROM q ORDER BY doc_id""".stripMargin

  /** Per-source quota ([[graft.operators.CorpusOps.sourceQuota]]):
    * same quality formula, ROW_NUMBER per source over (quality DESC,
    * doc_id) — rank and kept flag are engine-stable because the order
    * key is unique. */
  def sourceQuota(cap: Int = 50): String =
    s"""$docCte,
       |q AS ($qualityInputsSql),
       |sel AS (SELECT doc_id, $qualityFormulaSql AS quality FROM q),
       |j AS (SELECT d.doc_id, d.source, s.quality
       |      FROM documents d JOIN sel s USING (doc_id)),
       |r AS (SELECT *, ROW_NUMBER() OVER (
       |        PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
       |      FROM j)
       |SELECT doc_id, source, quality,
       |       CAST(rn AS INTEGER) AS src_rank, rn <= $cap AS kept
       |FROM r ORDER BY doc_id""".stripMargin

  val fingerprints: String =
    s"""$docCte
       |SELECT doc_id, md5(norm) AS fp_md5,
       |       list_reduce(
       |         list_concat([0::BIGINT],
       |           list_transform(generate_series(1, length(norm)),
       |                          i -> unicode(substr(norm, i, 1))::BIGINT)),
       |         (a, c) -> (a * 31 + c) % 1000000007) AS rolling_hash
       |FROM t ORDER BY doc_id""".stripMargin

  val dedupExact: String =
    s"""$docCte
       |SELECT md5(norm) AS fingerprint, MIN(doc_id) AS canonical_doc_id,
       |       COUNT(*) AS dup_count
       |FROM t WHERE norm IS NOT NULL
       |GROUP BY 1 ORDER BY canonical_doc_id""".stripMargin

  /** The MinHash signature list expression over `xs` — the same
    * universal-hash permutations [[graft.functions.Hashing.permCoeffs]]
    * drives on the Spark side; shared by every banded-LSH oracle. */
  private def minhashSigSql(numHashes: Int): String = {
    val p = Hashing.MersennePrime31
    (0 until numHashes).map { i =>
      val (a, b) = Hashing.permCoeffs(i)
      s"list_min(list_transform(xs, x -> ($a * (x % $p) + $b) % $p))"
    }.mkString("[\n         ", ",\n         ", "]")
  }

  def minhashPairs(numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): String = {
    val rows = numHashes / bands
    val sigExprs = minhashSigSql(numHashes)
    s"""$docCte,
       |$shingleCte,
       |$shingleHashCte,
       |sig AS (SELECT doc_id, $sigExprs AS mh FROM hx),
       |banded AS (
       |  SELECT doc_id, gs.bd AS band,
       |         array_to_string(mh[gs.bd*$rows+1:gs.bd*$rows+$rows], '_') AS band_sig
       |  FROM sig, generate_series(0, ${bands - 1}) gs(bd)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT doc_a, doc_b,
       |         len(list_filter(x.xs, e -> list_contains(y.xs, e))) AS inter,
       |         len(x.xs) AS na, len(y.xs) AS nb
       |  FROM cand JOIN hx x ON x.doc_id = doc_a JOIN hx y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, inter,
       |       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |FROM j WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Incremental dedup of the batch (`doc_id % mod = 0`) against the
    * remaining documents as corpus. Mirrors
    * [[Dedup.dedupIncrementalCore]]'s greedy first-wins rule:
    * exact_corpus > exact_batch > near_corpus > near_batch > kept,
    * `match_id` = smallest matching doc_id of the winning class (−1
    * when kept). Near-dup candidates come from the SAME banded LSH
    * construction as [[minhashPairs]], restricted to batch probes.
    */
  def dedupIncremental(numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, mod: Int = 5): String = {
    val rows = numHashes / bands
    val sigExprs = minhashSigSql(numHashes)
    s"""$docCte,
       |$shingleCte,
       |$shingleHashCte,
       |fp AS (SELECT doc_id, md5(norm) AS f, doc_id % $mod = 0 AS is_batch FROM t),
       |sig AS (SELECT doc_id, $sigExprs AS mh FROM hx),
       |banded AS (
       |  SELECT doc_id, doc_id % $mod = 0 AS is_batch, gs.bd AS band,
       |         array_to_string(mh[gs.bd*$rows+1:gs.bd*$rows+$rows], '_') AS band_sig
       |  FROM sig, generate_series(0, ${bands - 1}) gs(bd)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS b_id, b.doc_id AS o_id, b.is_batch AS o_batch
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_sig = b.band_sig
       |   AND a.is_batch AND (NOT b.is_batch OR b.doc_id < a.doc_id)),
       |near AS (
       |  SELECT b_id, o_id, o_batch,
       |         len(list_filter(x.xs, e -> list_contains(y.xs, e))) AS inter,
       |         len(x.xs) AS na, len(y.xs) AS nb
       |  FROM cand JOIN hx x ON x.doc_id = b_id JOIN hx y ON y.doc_id = o_id),
       |nd AS (SELECT b_id, o_id, o_batch FROM near
       |       WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= $threshold),
       |ec AS (SELECT a.doc_id AS doc_id, MIN(c.doc_id) AS m
       |       FROM fp a JOIN fp c ON a.f = c.f
       |       WHERE a.is_batch AND NOT c.is_batch GROUP BY 1),
       |eb AS (SELECT a.doc_id AS doc_id, MIN(c.doc_id) AS m
       |       FROM fp a JOIN fp c ON a.f = c.f
       |       WHERE a.is_batch AND c.is_batch AND c.doc_id < a.doc_id GROUP BY 1),
       |nc AS (SELECT b_id AS doc_id, MIN(o_id) AS m FROM nd WHERE NOT o_batch GROUP BY 1),
       |nb AS (SELECT b_id AS doc_id, MIN(o_id) AS m FROM nd WHERE o_batch GROUP BY 1)
       |SELECT d.doc_id,
       |       CASE WHEN ec.m IS NOT NULL THEN 'exact_corpus'
       |            WHEN eb.m IS NOT NULL THEN 'exact_batch'
       |            WHEN nc.m IS NOT NULL THEN 'near_corpus'
       |            WHEN nb.m IS NOT NULL THEN 'near_batch'
       |            ELSE 'kept' END AS verdict,
       |       CAST(COALESCE(ec.m, eb.m, nc.m, nb.m, -1) AS BIGINT) AS match_id
       |FROM (SELECT doc_id FROM documents WHERE doc_id % $mod = 0) d
       |LEFT JOIN ec ON ec.doc_id = d.doc_id
       |LEFT JOIN eb ON eb.doc_id = d.doc_id
       |LEFT JOIN nc ON nc.doc_id = d.doc_id
       |LEFT JOIN nb ON nb.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Mirrors [[Dedup.assignDedupLabels]] over the `doc_id % mod` batch
    * convention: corpus-only clusters (the frozen
    * [[Dedup.writeDedupLabels]] table) via a recursive closure, then
    * batch assignment = min reachable vertex over verified batch↔batch
    * pairs plus batch→corpus matches projected to CLUSTER ids.
    * Unmatched batch docs label themselves (the closure seed). */
  def assignLabels(numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, mod: Int = 5): String = {
    val rows = numHashes / bands
    val sigExprs = minhashSigSql(numHashes)
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, text,
       |         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |  FROM documents),
       |tok AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks FROM t),
       |$shingleCte,
       |$shingleHashCte,
       |sig AS (SELECT doc_id, $sigExprs AS mh FROM hx),
       |banded AS (
       |  SELECT doc_id, doc_id % $mod = 0 AS is_batch, gs.bd AS band,
       |         array_to_string(mh[gs.bd*$rows+1:gs.bd*$rows+$rows], '_') AS band_sig
       |  FROM sig, generate_series(0, ${bands - 1}) gs(bd)),
       |ccand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_sig = b.band_sig
       |   AND NOT a.is_batch AND NOT b.is_batch AND a.doc_id < b.doc_id),
       |cnear AS (
       |  SELECT da, db FROM (
       |    SELECT da, db,
       |           len(list_filter(x.xs, e -> list_contains(y.xs, e))) AS inter,
       |           len(x.xs) AS na, len(y.xs) AS nb2
       |    FROM ccand JOIN hx x ON x.doc_id = da JOIN hx y ON y.doc_id = db)
       |  WHERE CAST(inter AS DOUBLE) / (na + nb2 - inter) >= $threshold),
       |cedges AS (SELECT da AS a, db AS b FROM cnear
       |           UNION ALL SELECT db, da FROM cnear),
       |creach(s, t2) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE doc_id % $mod <> 0
       |  UNION
       |  SELECT r.s, e.b FROM creach r JOIN cedges e ON r.t2 = e.a),
       |clusters AS (SELECT s AS doc_id, MIN(t2) AS cluster FROM creach GROUP BY s),
       |bcand AS (
       |  SELECT DISTINCT a.doc_id AS b_id, b.doc_id AS o_id, b.is_batch AS o_batch
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_sig = b.band_sig
       |   AND a.is_batch AND (NOT b.is_batch OR b.doc_id < a.doc_id)),
       |bnear AS (
       |  SELECT b_id, o_id, o_batch FROM (
       |    SELECT b_id, o_id, o_batch,
       |           len(list_filter(x.xs, e -> list_contains(y.xs, e))) AS inter,
       |           len(x.xs) AS na, len(y.xs) AS nb2
       |    FROM bcand JOIN hx x ON x.doc_id = b_id JOIN hx y ON y.doc_id = o_id)
       |  WHERE CAST(inter AS DOUBLE) / (na + nb2 - inter) >= $threshold),
       |edges2 AS (
       |  SELECT b_id AS a, o_id AS b FROM bnear WHERE o_batch
       |  UNION ALL SELECT o_id, b_id FROM bnear WHERE o_batch
       |  UNION ALL SELECT bn.b_id, c.cluster
       |    FROM bnear bn JOIN clusters c ON c.doc_id = bn.o_id WHERE NOT bn.o_batch
       |  UNION ALL SELECT c.cluster, bn.b_id
       |    FROM bnear bn JOIN clusters c ON c.doc_id = bn.o_id WHERE NOT bn.o_batch),
       |breach(s, t2) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE doc_id % $mod = 0
       |  UNION
       |  SELECT r.s, e.b FROM breach r JOIN edges2 e ON r.t2 = e.a)
       |SELECT s AS doc_id, MIN(t2) AS cluster
       |FROM breach GROUP BY s ORDER BY doc_id""".stripMargin
  }

  /** Transitive closure over the minhash near-dup pair graph via a
    * recursive CTE: cluster = min reachable doc_id. Mirrors
    * [[Dedup.nearDupClusters]] (label propagation run to fixpoint).
    */
  def nearDupClusters(numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): String = {
    val pairsSql = minhashPairs(numHashes, bands, threshold)
    // the pair query nests verbatim as a CTE body (a CTE may contain
    // its own WITH clause)
    s"""WITH RECURSIVE pairs AS (
       |$pairsSql
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, t) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a)
       |SELECT s AS doc_id, MIN(t) AS cluster
       |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin
  }

  /** End-to-end training-corpus filter: canonical-of-near-dup-cluster
    * AND quality >= minQuality AND predicted language = lang. */
  def corpusFilter(minQuality: Double = 0.65, lang: String = "en"): String = {
    s"""WITH RECURSIVE pairs AS (
       |${minhashPairs()}
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, t2) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t2 = e.a),
       |clusters AS (SELECT s AS doc_id, MIN(t2) AS cluster FROM reach GROUP BY s),
       |t AS (SELECT doc_id, text,
       |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |      FROM documents),
       |tok AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks FROM t),
       |qv AS (SELECT doc_id,
       |       $qualityFormulaSql
       |        AS quality
       |      FROM ($qualityInputsSql)),
       |lh AS (SELECT doc_id, $langHitsSelect FROM tok),
       |lp AS (SELECT doc_id, $langCaseSql AS lang_pred FROM lh)
       |SELECT qv.doc_id
       |FROM qv JOIN lp USING (doc_id) JOIN clusters USING (doc_id)
       |WHERE cluster = doc_id AND quality >= $minQuality AND lang_pred = '$lang'
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirrors [[graft.operators.Dedup.sharedSpans]]: the minhashPairs
    * query as a CTE, NON-distinct positional shingles (slices clamp,
    * so a short doc yields its single whole-text shingle), diagonal
    * gaps-and-islands, per-pair run maxima. */
  def sharedSpans(shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5): String =
    s"""WITH pairs AS (
       |${minhashPairs(numHashes, bands, threshold)}
       |),
       |t2 AS (SELECT doc_id,
       |         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |       FROM documents),
       |tok2 AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM t2),
       |pos0 AS (SELECT doc_id, toks,
       |           unnest(generate_series(1,
       |             CASE WHEN len(toks) >= $shingleN
       |                  THEN len(toks) - ${shingleN - 1} ELSE 1 END)) AS i
       |         FROM tok2),
       |-- the shingle string MUST materialize before hashing: baseHash's
       |-- internal lambda variable is also `i`, and DuckDB lambda scope
       |-- SHADOWS the outer position — hashing the slice inline hashes a
       |-- per-character-drifting window instead (caught by the engine
       |-- mismatch on sf0.01; the longest-run column agreed, the match
       |-- counts did not)
       |psr AS (SELECT doc_id, i - 1 AS pos,
       |          array_to_string(toks[i:i+${shingleN - 1}], ' ') AS sstr
       |        FROM pos0),
       |ps AS (SELECT doc_id, pos, ${baseHash.format("sstr")} AS g
       |       FROM psr),
       |m AS (SELECT p.doc_a, p.doc_b, a.pos AS pos_a, b.pos AS pos_b
       |      FROM pairs p
       |      JOIN ps a ON a.doc_id = p.doc_a
       |      JOIN ps b ON b.doc_id = p.doc_b AND b.g = a.g),
       |r AS (SELECT *, pos_a - pos_b AS diag,
       |        pos_a - ROW_NUMBER() OVER (
       |          PARTITION BY doc_a, doc_b, pos_a - pos_b
       |          ORDER BY pos_a) AS island
       |      FROM m),
       |runs AS (SELECT doc_a, doc_b, diag, island, COUNT(*) AS run_len
       |         FROM r GROUP BY 1, 2, 3, 4),
       |tc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM tok2),
       |agg AS (SELECT doc_a, doc_b,
       |          CAST(SUM(run_len) AS BIGINT) AS n_matches,
       |          CAST(MAX(run_len) AS BIGINT) AS longest_run
       |        FROM runs GROUP BY 1, 2)
       |-- sub-shingle clamp: a short doc's whole-text fallback shingle
       |-- has fewer than n tokens, so run + n − 1 is capped by the
       |-- shorter doc's token count (no-op for docs >= n tokens)
       |SELECT agg.doc_a, agg.doc_b, agg.n_matches, agg.longest_run,
       |       LEAST(agg.longest_run + ${shingleN - 1},
       |             LEAST(ta.n_toks, tb.n_toks)) AS longest_span_tokens
       |FROM agg
       |JOIN tc ta ON ta.doc_id = agg.doc_a
       |JOIN tc tb ON tb.doc_id = agg.doc_b
       |ORDER BY 1, 2""".stripMargin

  /** Mirrors [[graft.operators.Dedup.qualityDupProfile]]: the
    * recursive cluster closure + the exact quality formula, integer
    * buckets and ppm. */
  def qualityDupProfile(): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashPairs()}
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, t2) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t2 = e.a),
       |clusters AS (SELECT s AS doc_id, MIN(t2) AS cluster
       |             FROM reach GROUP BY s),
       |sizes AS (SELECT cluster, COUNT(*) AS csize FROM clusters GROUP BY 1),
       |t AS (SELECT doc_id, text,
       |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |      FROM documents),
       |tok AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks FROM t),
       |qv AS (SELECT doc_id, $qualityFormulaSql AS quality
       |       FROM ($qualityInputsSql)),
       |b AS (SELECT c.doc_id,
       |        CAST(floor(quality * 10) AS BIGINT) AS q_bucket,
       |        (csize > 1) AS is_duped
       |      FROM clusters c JOIN sizes USING (cluster)
       |      JOIN qv ON qv.doc_id = c.doc_id)
       |SELECT q_bucket, COUNT(*) AS n_docs,
       |       CAST(COUNT(*) FILTER (WHERE is_duped) AS BIGINT) AS n_duped,
       |       (CAST(COUNT(*) FILTER (WHERE is_duped) AS BIGINT) * 1000000)
       |         // COUNT(*) AS dup_ppm
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  def ngramJaccardPairs(threshold: Double = 0.5): String =
    s"""$docCte,
       |$shingleCte,
       |$shingleHashCte,
       |ex AS (SELECT doc_id, len(xs) AS n, unnest(xs) AS g FROM hx),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
       |         COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b, inter,
       |       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |FROM p WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-document duplicated-n-gram audit; mirrors
    * [[graft.operators.Dedup.duplicatedNgrams]] — same shingle-hash
    * frame, df threshold, and count/ratio arithmetic.
    */
  def duplicatedNgrams(minDf: Int = 2): String =
    s"""$docCte,
       |$shingleCte,
       |$shingleHashCte,
       |ex AS (SELECT doc_id, unnest(xs) AS h FROM hx),
       |hot AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) >= $minDf),
       |dup AS (SELECT doc_id, COUNT(*) AS dup_ngrams
       |        FROM ex WHERE h IN (SELECT h FROM hot) GROUP BY doc_id)
       |SELECT hx.doc_id,
       |       CAST(coalesce(len(xs), 0) AS BIGINT) AS total_ngrams,
       |       CAST(coalesce(dup_ngrams, 0) AS BIGINT) AS dup_ngrams,
       |       CASE WHEN coalesce(len(xs), 0) > 0
       |            THEN CAST(coalesce(dup_ngrams, 0) AS DOUBLE)
       |                 / CAST(len(xs) AS DOUBLE)
       |            ELSE 0.0 END AS dup_frac
       |FROM hx LEFT JOIN dup ON hx.doc_id = dup.doc_id
       |ORDER BY hx.doc_id""".stripMargin

  /** Per-source boilerplate rollup; mirrors
    * [[graft.operators.Dedup.sourceDupProfile]] — source joins in from
    * the base table, counts stay integers, one final division.
    */
  def sourceDupProfile(minDf: Int = 2): String =
    s"""$docCte,
       |$shingleCte,
       |$shingleHashCte,
       |ex AS (SELECT hx.doc_id, d.source, unnest(hx.xs) AS h
       |       FROM hx JOIN documents d ON hx.doc_id = d.doc_id),
       |hot AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) >= $minDf),
       |agg AS (SELECT source,
       |               COUNT(*) AS total_ngrams,
       |               CAST(COUNT(CASE WHEN h IN (SELECT h FROM hot)
       |                          THEN 1 END) AS BIGINT) AS dup_ngrams
       |        FROM ex GROUP BY source),
       |-- every doc counts toward n_docs, null-text docs included (the
       |-- engine side keeps them via explode_outer): a source whose
       |-- docs are ALL null-text must surface with zero totals, not
       |-- vanish from the profile
       |ds AS (SELECT source, COUNT(*) AS n_docs FROM documents
       |       GROUP BY source)
       |SELECT ds.source, ds.n_docs,
       |       CAST(coalesce(agg.total_ngrams, 0) AS BIGINT) AS total_ngrams,
       |       CAST(coalesce(agg.dup_ngrams, 0) AS BIGINT) AS dup_ngrams,
       |       CASE WHEN coalesce(agg.total_ngrams, 0) > 0
       |            THEN CAST(agg.dup_ngrams AS DOUBLE)
       |                 / CAST(agg.total_ngrams AS DOUBLE)
       |            ELSE 0.0 END AS dup_ratio
       |FROM ds LEFT JOIN agg ON ds.source = agg.source
       |ORDER BY ds.source""".stripMargin

  private def simhashSigSql(xsExpr: String): String =
    (0 until Dedup.SimhashBits).map { j =>
      s"""CASE WHEN list_reduce(list_transform($xsExpr,
         |  x -> CASE WHEN (x >> $j) & 1 = 1 THEN 1 ELSE -1 END),
         |  (a, b) -> a + b) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString("(", "\n + ", ")")

  val simhash: String =
    s"""$docCte,
       |$shingleCte,
       |$shingleHashCte
       |SELECT doc_id, ${simhashSigSql("xs")} AS simhash
       |FROM hx ORDER BY doc_id""".stripMargin

  def simhashPairs(maxHamming: Int = 3, bands: Int = 4): String = {
    val bandBits = Dedup.SimhashBits / bands
    val mask = (1L << bandBits) - 1
    s"""$docCte,
       |$shingleCte,
       |$shingleHashCte,
       |sg AS (SELECT doc_id, ${simhashSigSql("xs")} AS sig FROM hx),
       |banded AS (
       |  SELECT doc_id, sig, gs.bd AS band, (sig >> (gs.bd * $bandBits)) & $mask AS band_val
       |  FROM sg, generate_series(0, ${bands - 1}) gs(bd)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Sequential double dot product over 64-dim double-cast lists —
    * index-order fold, same as [[Similarity.dot]]. */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, ${Similarity.LshDims}),
       |  i -> $a[i] * $b[i]), (acc, v) -> acc + v)""".stripMargin

  /** The reference's FNV-1a-variant over the ASCII bytes of `e`
    * (codepoint == byte), init via list_concat since DuckDB's
    * list_reduce has no initial-value parameter. */
  def fnvOf(e: String): String =
    s"""list_reduce(
       |  list_concat([2166136261::BIGINT],
       |    list_transform(generate_series(1, length($e)),
       |                   i -> unicode(substr($e, i, 1))::BIGINT)),
       |  (h, b) -> CAST((CAST(xor(h, b) AS HUGEINT) * 2166136261) % 4294967296 AS BIGINT))""".stripMargin

  val fnvBucket: String = fnvOf("\"key\"")

  def aliveKeysFnv32(recordsCte: String): String =
    s"""$recordsCte
       |SELECT COUNT(*) FILTER (WHERE NOT dead_at_end) AS alive_keys_fnv32 FROM (
       |  SELECT bucket, ("value" IS NULL) AS dead_at_end,
       |         ROW_NUMBER() OVER (PARTITION BY bucket
       |           ORDER BY "partition" DESC, "offset" DESC) AS rn
       |  FROM (SELECT $fnvBucket AS bucket, "partition", "offset", "value"
       |        FROM records WHERE "key" IS NOT NULL)) WHERE rn = 1""".stripMargin

  // ---- Pinned-HLL replay ([[graft.functions.HllSketch]]) ------------

  /** `[2^0 .. 2^63]` / `[2^0 .. 2^64]` as exact HUGEINT literals
    * (index k+1 ↔ 2^k): the bit-length probe and the exact register
    * sum both index these instead of trusting float `pow`. */
  private val hllPow2To63: String =
    (0 to 63).map(k => (BigInt(1) << k).toString)
      .mkString("[", "::HUGEINT, ", "]")
  private val hllPow2To64: String =
    (0 to 64).map(k => (BigInt(1) << k).toString)
      .mkString("[", "::HUGEINT, ", "]")

  /** `alpha·m²·2^64` spliced from the Scala constant's EXACT integer
    * value (88 bits, inside HUGEINT) so both engines compute the
    * identical integer quotient and take the identical branch — no
    * float appears anywhere in the raw path (round-14 advice: DuckDB's
    * HUGEINT→DOUBLE cast can double-round where BigInt rounds once). */
  private val hllNumerator: String =
    graft.functions.HllSketch.RawNumeratorBig.toString + "::HUGEINT"

  /** FNV-1a 64-bit generalized to CODEPOINT units (the cross-engine
    * fold unit — identical to the byte fold on ASCII, and what
    * [[graft.functions.HllSketch.Hash64Expr]] computes for any
    * script), in HUGEINT mod-2^64 arithmetic. The per-unit xor only
    * touches the low 21 bits (max codepoint 0x10FFFF < 2^21), so it
    * runs in BIGINT on the split-off low word (HUGEINT×prime stays
    * under 2^105, inside HUGEINT range). */
  def fnv64Of(e: String): String =
    s"""list_reduce(
       |  list_concat([14695981039346656037::HUGEINT],
       |    list_transform(generate_series(1, length($e)),
       |                   i -> unicode(substr($e, i, 1))::HUGEINT)),
       |  (h, b) -> ((h - (h % 2097152)
       |              + xor((h % 2097152)::BIGINT, b::BIGINT)::HUGEINT)
       |             * 1099511628211) % 18446744073709551616)""".stripMargin

  /** `xor(h, h >> 33)` on a mod-2^64 HUGEINT: the shifted operand is
    * < 2^31, so the xor only touches the low 31 bits and runs in
    * BIGINT on the split-off low word. */
  private def fmixXs33(e: String): String =
    s"($e - ($e % 2147483648) + " +
      s"xor(($e % 2147483648)::BIGINT, ($e // 8589934592)::BIGINT)::HUGEINT)"

  /** `(h * c) % 2^64` with a 64-bit constant, split so no HUGEINT
    * intermediate exceeds 2^97: `h·c_lo + ((h mod 2^32)·c_hi mod
    * 2^32)·2^32`, all mod 2^64. */
  private def fmixMul(e: String, c: BigInt): String = {
    val cLo = c & 0xffffffffL
    val cHi = c >> 32
    s"(($e * $cLo + (($e % 4294967296) * $cHi % 4294967296) * 4294967296) " +
      "% 18446744073709551616)"
  }

  private val fmixC1 = BigInt(java.lang.Long.toUnsignedString(
    graft.functions.HllSketch.FmixC1))
  private val fmixC2 = BigInt(java.lang.Long.toUnsignedString(
    graft.functions.HllSketch.FmixC2))

  /** CTE chain `<px>h .. <px>e(grp, distinct_approx)` replaying the
    * pinned HLL over `vals` = a subquery producing `(grp, s)`:
    * register index = top 12 hash bits, rho = 53 when the shifted
    * remainder is zero else nlz+1 via the power-of-two bit-length
    * probe, register MAX over DISTINCT values (max is idempotent, so
    * pre-distinct is free), empty registers 0, then the exact HUGEINT
    * sum of `2^(64-rho)`, the exact-integer branch test
    * `sum·10240 ≥ num`, and the exact half-up quotient
    * `(2·num + sum) // (2·sum)` — integer-for-integer what
    * [[graft.functions.HllSketch.estimateLong]] computes; only the
    * small-range `ln` is floating point. */
  def hllDistinctCtes(px: String, vals: String): String =
    s"""${px}h0 AS (SELECT grp, ${fnv64Of("s")} AS h
       |           FROM (SELECT DISTINCT grp, s FROM ($vals))),
       |${px}h1 AS (SELECT grp, ${fmixXs33("h")} AS h FROM ${px}h0),
       |${px}h2 AS (SELECT grp, ${fmixMul("h", fmixC1)} AS h FROM ${px}h1),
       |${px}h3 AS (SELECT grp, ${fmixXs33("h")} AS h FROM ${px}h2),
       |${px}h4 AS (SELECT grp, ${fmixMul("h", fmixC2)} AS h FROM ${px}h3),
       |${px}h AS (SELECT grp, ${fmixXs33("h")} AS h FROM ${px}h4),
       |${px}w AS (SELECT grp, CAST(h // 4503599627370496 AS BIGINT) AS idx,
       |                  (h * 4096) % 18446744073709551616 AS w FROM ${px}h),
       |${px}r AS (SELECT grp, idx,
       |                  max(CASE WHEN w = 0 THEN 53
       |                           ELSE 65 - len(list_filter($hllPow2To63,
       |                                          p -> p <= w)) END) AS rho
       |           FROM ${px}w GROUP BY grp, idx),
       |${px}a AS (SELECT g.grp, i.idx, coalesce(r.rho, 0) AS rho
       |           FROM (SELECT DISTINCT grp FROM ${px}h) g
       |           CROSS JOIN (SELECT unnest(generate_series(0, 4095)) AS idx) i
       |           LEFT JOIN ${px}r r ON r.grp = g.grp AND r.idx = i.idx),
       |${px}s AS (SELECT grp, sum(($hllPow2To64)[65 - rho]) AS s,
       |                  count(*) FILTER (WHERE rho = 0) AS zeros
       |           FROM ${px}a GROUP BY grp),
       |${px}e AS (SELECT grp,
       |                  CASE
       |                    WHEN zeros > 0 AND s * 10240 >= $hllNumerator
       |                    THEN CAST(round(4096.0 *
       |                           ln(4096.0 / CAST(zeros AS DOUBLE)))
       |                         AS BIGINT)
       |                    ELSE CAST((2 * $hllNumerator + s) // (2 * s)
       |                         AS BIGINT) END AS distinct_approx
       |           FROM ${px}s)""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.sourceDistinctApprox]]: the
    * `__all__` union row maxes the same registers the per-source rows
    * fold, which is exactly a second grp over the same values. */
  val sourceDistinctApprox: String = {
    val fp = """md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"""
    val vals =
      s"""SELECT source AS grp, $fp AS s FROM documents
         |UNION ALL
         |SELECT '__all__' AS grp, $fp AS s FROM documents""".stripMargin
    s"""WITH ${hllDistinctCtes("hd", vals)},
       |nd AS (SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs
       |       FROM documents GROUP BY source
       |       UNION ALL
       |       SELECT '__all__', CAST(COUNT(*) AS BIGINT) FROM documents)
       |SELECT nd.grp AS source, nd.n_docs,
       |       CAST(COALESCE(e.distinct_approx, 0) AS BIGINT)
       |         AS distinct_approx
       |FROM nd LEFT JOIN hde e ON e.grp = nd.grp
       |ORDER BY source""".stripMargin
  }

  /** Mirrors [[graft.operators.TextAnalysis.vocabularySummaryApprox]]:
    * two pinned-HLL chains (terms; doc ids via their decimal-string
    * form) plus the exact token total over the same exploded stream. */
  val vocabularySummaryApprox: String =
    s"""$docCte,
       |vex AS (SELECT doc_id, token FROM
       |          (SELECT doc_id, unnest(toks) AS token FROM tok)
       |        WHERE token <> ''),
       |${hllDistinctCtes("vt", "SELECT 'x' AS grp, token AS s FROM vex")},
       |${hllDistinctCtes("vd",
          "SELECT 'x' AS grp, CAST(doc_id AS VARCHAR) AS s FROM vex")}
       |SELECT CAST(COALESCE((SELECT distinct_approx FROM vte), 0) AS BIGINT)
       |         AS distinct_terms_approx,
       |       CAST(COALESCE((SELECT distinct_approx FROM vde), 0) AS BIGINT)
       |         AS distinct_docs_approx,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM vex) AS total_tokens""".stripMargin

  /** Mirrors [[graft.operators.TopicMetrics.keyCardinalityApprox]]:
    * the pinned-HLL chain over non-null keys grouped by partition
    * (keys are ASCII decimal strings — VARCHAR here, BinaryType
    * UTF-8 on the engine side, same bytes). */
  def keyCardinalityApprox(recordsCte: String): String =
    s"""$recordsCte,
       |${hllDistinctCtes("kc",
        """SELECT "partition" AS grp, "key" AS s FROM records
          |WHERE "key" IS NOT NULL""".stripMargin)},
       |kn AS (SELECT "partition" AS grp,
       |              CAST(COUNT("key") AS BIGINT) AS n_keyed_records
       |       FROM records GROUP BY 1)
       |SELECT e.grp AS "partition", e.distinct_approx AS n_keys_approx,
       |       kn.n_keyed_records
       |FROM kce e JOIN kn ON kn.grp = e.grp
       |ORDER BY "partition"""".stripMargin

  /** Mirrors [[graft.operators.EventAnalytics.valuePercentilesHistogram]]
    * arithmetic-for-arithmetic: exact per-type min/max/count (or the
    * caller's fixed domain with end-bin clamping), integer bin counts
    * over fixed widths, `ceil(p·n)` rank pick via the cumulative BIN
    * sum, then the identical interpolation expression (only +,-,×,÷
    * on doubles — no transcendentals to diverge on). With `domain`,
    * `vmin`/`width` are the SAME double constants the Spark side
    * folds, spliced via Double.toString (shortest round-trip — DuckDB
    * parses back the identical double). */
  def valuePercentilesHistogram(ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
      bins: Int = 1024,
      domain: Option[(Double, Double)] = None): String = {
    val psList = ps.mkString("[", ", ", "]")
    val picks = ps.map { p =>
      s"MAX(CASE WHEN p = $p THEN est END) AS p${(p * 100).toInt}"
    }.mkString(",\n       ")
    // the rank-pick + interpolation tail is IDENTICAL in both modes —
    // shared so a fix can never silently diverge them; the modes
    // differ only in the `c` CTE's provenance of (bin, cnt, cum, n,
    // vmin, width)
    def tail(fromC: String): String =
      s"""h AS (SELECT c.event_type, pp.p, c.vmin, c.width, c.bin, c.cnt,
         |             c.cum, c.cum - c.cnt AS cumb,
         |             CAST(CEIL(CAST(c.n AS DOUBLE) * pp.p) AS BIGINT) AS t
         |      FROM $fromC c
         |      CROSS JOIN (SELECT unnest($psList) AS p) pp),
         |e AS (SELECT event_type, p,
         |             CASE WHEN width = 0.0 THEN vmin
         |                  ELSE vmin + ((CAST(bin AS DOUBLE) +
         |                        CAST(t - cumb AS DOUBLE) / CAST(cnt AS DOUBLE))
         |                        * width) END AS est
         |      FROM h WHERE cumb < t AND t <= cum)
         |SELECT event_type,
         |       $picks
         |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin
    domain match {
      case None =>
        s"""WITH v AS (SELECT event_type, "value" FROM events
           |           WHERE "value" IS NOT NULL AND NOT isnan("value")
           |             AND "value" > '-inf'::DOUBLE
           |             AND "value" < 'inf'::DOUBLE),
           |st AS (SELECT event_type, min("value") AS vmin, max("value") AS vmax,
           |              COUNT(*) AS n,
           |              (max("value") - min("value")) / ${bins.toDouble} AS width
           |       FROM v GROUP BY event_type),
           |b AS (SELECT v.event_type,
           |             CASE WHEN st.width = 0.0 THEN 0
           |                  ELSE LEAST(${bins - 1},
           |                    CAST(floor(("value" - st.vmin) / st.width)
           |                         AS BIGINT)) END AS bin,
           |             COUNT(*) AS cnt
           |      FROM v JOIN st USING (event_type) GROUP BY 1, 2),
           |c AS (SELECT b.event_type, b.bin, b.cnt,
           |             SUM(b.cnt) OVER (PARTITION BY b.event_type
           |                              ORDER BY b.bin) AS cum,
           |             st.n, st.vmin, st.width
           |      FROM b JOIN st USING (event_type)),
           |${tail("c")}""".stripMargin
      case Some((lo, hi)) =>
        val vmin = java.lang.Double.toString(lo)
        val width = java.lang.Double.toString((hi - lo) / bins)
        // end-bin clamp via COMPARISONS, never a cast of an extreme:
        // CAST(floor(±Inf/NaN/huge) AS BIGINT) throws in DuckDB where
        // Spark's f2l saturates — a verification crash, not a clamp.
        // Every value reaching the CAST is already inside (0, bins-1).
        // NaN lands in the TOP bin on both engines (both define
        // NaN = NaN and NaN > every other double in comparisons).
        s"""WITH v AS (SELECT event_type,
           |             ("value" - $vmin) / $width AS s FROM events
           |           WHERE "value" IS NOT NULL),
           |b AS (SELECT event_type,
           |             CASE WHEN s >= ${(bins - 1).toDouble} THEN ${bins - 1}
           |                  WHEN s > 0.0 THEN CAST(floor(s) AS BIGINT)
           |                  ELSE 0 END AS bin,
           |             COUNT(*) AS cnt
           |      FROM v GROUP BY 1, 2),
           |c AS (SELECT event_type, bin, cnt,
           |             SUM(cnt) OVER (PARTITION BY event_type
           |                            ORDER BY bin) AS cum,
           |             SUM(cnt) OVER (PARTITION BY event_type) AS n,
           |             $vmin AS vmin, $width AS width
           |      FROM b),
           |${tail("c")}""".stripMargin
    }
  }

  val eventWindows: String =
    """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
      |       CAST(SUM(TRY_CAST(CASE WHEN isnan("value") THEN NULL ELSE "value" END AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def sessions(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    s"""WITH x AS (
       |  SELECT user_id, event_id, ts, "value",
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS prev_us
       |  FROM events),
       |y AS (SELECT *, CASE WHEN prev_us IS NULL
       |        OR epoch_us(ts) - prev_us > $gapUs THEN 1 ELSE 0 END AS new_session
       |      FROM x),
       |z AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
       |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
       |      FROM y)
       |SELECT user_id, session_idx,
       |       CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
       |       CAST(epoch_us(MAX(ts)) AS BIGINT) AS session_end_us,
       |       COUNT(*) AS n_events,
       |       CAST(SUM(TRY_CAST(CASE WHEN isnan("value") THEN NULL ELSE "value" END AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM z GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val topEventTypePerUser: String =
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY cnt DESC, event_type) AS rn FROM c)
      |SELECT user_id, event_type AS top_type, cnt
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Mirror of [[graft.operators.EventAnalytics.dailySpikes]] —
    * identical integer cross-multiplied flag, no float folds. */
  def dailySpikes(factor: Int = 2, window: Int = 7): String =
    s"""WITH d AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, day, n,
       |       CAST(COALESCE(SUM(n) OVER w, 0) AS BIGINT) AS prev_sum,
       |       COUNT(n) OVER w AS prev_cnt,
       |       (COUNT(n) OVER w > 0 AND
       |        n * (COUNT(n) OVER w) > $factor * COALESCE(SUM(n) OVER w, 0))
       |         AS is_spike
       |FROM d
       |WINDOW w AS (PARTITION BY event_type ORDER BY day
       |             ROWS BETWEEN $window PRECEDING AND 1 PRECEDING)
       |ORDER BY event_type, day""".stripMargin

  val interEventGaps: String =
    """WITH g AS (
      |  SELECT user_id,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT user_id, COUNT(gap_us) AS n_gaps,
      |       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
      |       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
      |       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
      |       CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(gap_us) AS DOUBLE)
      |         AS avg_gap_us
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  def rollingValue(frame: Int = 3): String =
    s"""SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       |       CAST(SUM(TRY_CAST(CASE WHEN isnan("value") THEN NULL ELSE "value" END AS DECIMAL(18,2))) OVER w AS DOUBLE)
       |         AS rolling_sum,
       |       COUNT(*) OVER w AS n_in_frame
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |             ROWS BETWEEN $frame PRECEDING AND CURRENT ROW)""".stripMargin

  def userSpendDeciles(buckets: Int = 10): String =
    s"""WITH t AS (
       |  SELECT user_id, SUM(TRY_CAST(CASE WHEN isnan("value") THEN NULL ELSE "value" END AS DECIMAL(18,2))) AS total_dec
       |  FROM events GROUP BY 1)
       |SELECT user_id, CAST(total_dec AS DOUBLE) AS total_value,
       |       CAST(DENSE_RANK() OVER w AS INTEGER) AS spend_rank,
       |       CAST(NTILE($buckets) OVER w AS INTEGER) AS decile
       |FROM t
       |WINDOW w AS (ORDER BY total_dec DESC, user_id)
       |ORDER BY user_id""".stripMargin

  /** Mirror of [[graft.operators.EventAnalytics.asOfLastPrior]] — the
    * identical union-merge + last-ignore-nulls formulation (DuckDB's
    * native ASOF JOIN would also work, but spelling out the window
    * keeps the tie semantics — builds before probes, highest event_id
    * among equal-ts builds — explicit and engine-independent). */
  def asOfLastPrior(probeType: String = "click",
      buildType: String = "purchase"): String =
    s"""WITH tagged AS (
       |  SELECT user_id, ts, event_id, 0 AS side, event_id AS build_id,
       |         CAST(epoch_us(ts) AS BIGINT) AS build_ts_us
       |  FROM events WHERE event_type = '$buildType'
       |  UNION ALL
       |  SELECT user_id, ts, event_id, 1, NULL, NULL
       |  FROM events WHERE event_type = '$probeType'),
       |m AS (
       |  SELECT *, last_value(build_id IGNORE NULLS) OVER w AS asof_build_id,
       |         last_value(build_ts_us IGNORE NULLS) OVER w AS asof_build_ts_us
       |  FROM tagged
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_id AS probe_id, user_id,
       |       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       |       asof_build_id, asof_build_ts_us,
       |       CAST(epoch_us(ts) AS BIGINT) - asof_build_ts_us AS gap_us
       |FROM m WHERE side = 1""".stripMargin

  /** Mirror of errorIncidents ∘ incidentEvents: same islands logic;
    * the range join is spelled as the plain inequality join (DuckDB's
    * optimizer handles it at oracle scale — the banded rewrite is the
    * Spark-side scale concern, not a semantic one). */
  def incidentRangeJoin(minErrors: Int = 2, bridgeMinutes: Int = 5): String =
    s"""WITH em AS (
       |  SELECT date_trunc('minute', ts) AS m_start, COUNT(*) AS n_errors
       |  FROM events WHERE event_type = 'error'
       |  GROUP BY 1 HAVING COUNT(*) >= $minErrors),
       |x AS (SELECT *, lag(m_start) OVER (ORDER BY m_start) AS prev_start
       |      FROM em),
       |y AS (SELECT *, CASE WHEN prev_start IS NULL OR m_start >
       |        prev_start + INTERVAL ${bridgeMinutes + 1} MINUTE
       |        THEN 1 ELSE 0 END AS new_island FROM x),
       |z AS (SELECT *, CAST(SUM(new_island) OVER (ORDER BY m_start
       |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island FROM y),
       |inc AS (SELECT island, MIN(m_start) AS i_start,
       |               MAX(m_start) + INTERVAL 1 MINUTE AS i_end,
       |               COUNT(*) AS n_busy_minutes,
       |               CAST(SUM(n_errors) AS BIGINT) AS n_errors
       |        FROM z GROUP BY 1)
       |SELECT CAST(epoch_us(i_start) AS BIGINT) AS incident_start_us,
       |       CAST(epoch_us(i_end) AS BIGINT) AS incident_end_us,
       |       n_busy_minutes, n_errors,
       |       COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users
       |FROM inc JOIN events e ON e.ts >= i_start AND e.ts < i_end
       |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin

  /** Plain-join mirror of the salted enrichment — the salt is a
    * physical-layout device only, so the oracle doesn't know it
    * exists. */
  val saltedUserEnrichment: String =
    """WITH t AS (SELECT user_id,
      |                  SUM(TRY_CAST(CASE WHEN isnan("value") THEN NULL ELSE "value" END AS DECIMAL(18,2))) AS ut
      |           FROM events GROUP BY 1)
      |SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(ut) AS DOUBLE) AS sum_user_totals
      |FROM events JOIN t USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val propsStats: String =
    // TRY_CAST-to-JSON first: Spark's from_json is PERMISSIVE (NULL on
    // malformed props) while DuckDB's json_extract RAISES — the cast
    // nulls bad payloads so both engines agree row-for-row instead of
    // the oracle erroring out on the first garbage row
    """WITH x AS (SELECT event_type,
      |                  CAST(json_extract(TRY_CAST(props AS JSON), '$.k')
      |                       AS BIGINT) AS k
      |           FROM events)
      |SELECT event_type, COUNT(k) AS n_with_k,
      |       CAST(SUM(k) AS BIGINT) AS sum_k,
      |       MIN(k) AS min_k, MAX(k) AS max_k
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  private val eventTypeNames = graft.operators.EventAnalytics.EventTypes

  val eventTypePivot: String = {
    // event-type names become column identifiers — quote them ("view"
    // is a keyword in several dialects, and nothing stops a future
    // event type from carrying spaces or reserved words)
    val cols = eventTypeNames.map(t =>
      s"""COUNT(*) FILTER (WHERE event_type = '$t') AS "$t"""")
      .mkString(",\n|       ")
    s"""SELECT user_id,
       |       $cols
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val eventTypeLong: String = {
    val arms = eventTypeNames.map(t =>
      s"""SELECT user_id, '$t' AS event_type, "$t" AS n FROM p""")
      .mkString("\n|  UNION ALL\n|  ")
    s"""WITH p AS ($eventTypePivot)
       |  $arms
       |ORDER BY user_id, event_type""".stripMargin
  }

  def audienceSetOps(typeA: String = "click",
      typeB: String = "purchase"): String =
    s"""WITH a AS (SELECT DISTINCT user_id FROM events
       |           WHERE event_type = '$typeA'),
       |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = '$typeB')
       |SELECT 'a_and_b' AS op, COUNT(*) AS n_users
       |  FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
       |UNION ALL
       |SELECT 'a_only', COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
       |UNION ALL
       |SELECT 'b_only', COUNT(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
       |ORDER BY op""".stripMargin

  def valuePercentiles(ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): String = {
    val picks = ps.map { p =>
      s"""MAX(CASE WHEN rn = CEIL(n * $p) THEN "value" END) AS p${(p * 100).toInt}"""
    }.mkString(",\n       ")
    s"""WITH r AS (
       |  SELECT event_type, "value",
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY "value") AS rn,
       |         COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM events WHERE "value" IS NOT NULL)
       |SELECT event_type,
       |       $picks
       |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  def repetition(shingleN: Int = 3): String =
    s"""$docCte,
       |$shingleCte,
       |$shingleHashCte
       |SELECT tok.doc_id,
       |       GREATEST(len(tok.toks) - ${shingleN - 1}, 1) AS total_shingles,
       |       len(hx.xs) AS distinct_shingles,
       |       1.0 - CAST(len(hx.xs) AS DOUBLE)
       |             / GREATEST(len(tok.toks) - ${shingleN - 1}, 1) AS dup_ratio
       |FROM tok JOIN hx USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def vocabulary(k: Int = 100): String =
    s"""$docCte
       |SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
       |FROM (SELECT doc_id, unnest(toks) AS token FROM tok)
       |WHERE token <> ''
       |GROUP BY token ORDER BY tf DESC, token LIMIT $k""".stripMargin

  /** Mirrors [[graft.operators.TextAnalysis.tokenRarity]]: integer
    * counts + one terminal division, so the doubles hash-match. */
  val tokenRarity: String =
    s"""$docCte,
       |ex AS (SELECT doc_id, unnest(toks) AS term FROM tok),
       |exf AS (SELECT doc_id, term FROM ex WHERE term <> ''),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tfc FROM exf GROUP BY 1, 2),
       |ctf AS (SELECT term, SUM(tfc) AS ctfc FROM tf GROUP BY 1)
       |SELECT tf.doc_id,
       |       CAST(SUM(tfc) AS BIGINT) AS n_tokens,
       |       CAST(SUM(tfc * ctfc) AS BIGINT) AS sum_ctf,
       |       CAST(MIN(ctfc) AS BIGINT) AS min_ctf,
       |       CAST(SUM(tfc * ctfc) AS DOUBLE) / CAST(SUM(tfc) AS DOUBLE)
       |         AS mean_ctf
       |FROM tf JOIN ctf USING (term)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The [[graft.operators.Bpe.PinnedMerges]] greedy segmentation of
    * `word`, replayed at the STRING level — shared by [[bpeEncode]]
    * and [[tokenizerFit]]. Each symbol is wrapped as `\t sym \n` (both
    * wrappers are whitespace, which normalization collapses — no token
    * can contain them, so a pattern match is always an exact
    * symbol-boundary match), and one merge application is one
    * `replace(s, \tl\n\tr\n, \tlr\n)`: DuckDB's replace scans
    * left-to-right, non-overlapping, resuming AFTER each replacement —
    * exactly the fold's greedy pairing (a run of k equal symbols
    * merges floor(k/2) times). Chaining the pinned merges in rank
    * order reproduces the segmentation; the symbol count is then the
    * wrapper count. Verified against an independent per-symbol fold
    * implementation, not just against the Spark twin. */
  private def pinnedSegChainSql: String = {
    def wrap(s: String): String =
      "chr(9) || '" + s.replace("'", "''") + "' || chr(10)"
    graft.operators.Bpe.PinnedMerges.foldLeft(
      "array_to_string(list_transform(string_split(word, ''), " +
        "c -> chr(9) || c || chr(10)), '')") { (acc, m) =>
      s"replace($acc, ${wrap(m.left)} || ${wrap(m.right)}, ${wrap(m.left + m.right)})"
    }
  }

  /** Mirrors [[graft.operators.Bpe.encodePinnedQuery]]: per-doc word
    * and piece counts under the shipped merge table, segmentation via
    * [[pinnedSegChainSql]] once per distinct word. */
  def bpeEncode(): String = {
    val seg = pinnedSegChainSql
    s"""$docCte,
       |tf AS (
       |  SELECT doc_id, u.tok AS word, COUNT(*) AS tf
       |  FROM tok, unnest(toks) AS u(tok)
       |  WHERE u.tok <> ''
       |  GROUP BY doc_id, u.tok),
       |seg AS (
       |  SELECT word,
       |         CAST(length(s) - length(replace(s, chr(9), '')) AS BIGINT) AS n_seg
       |  FROM (SELECT word, $seg AS s FROM (SELECT DISTINCT word FROM tf)))
       |SELECT tf.doc_id,
       |       CAST(SUM(tf.tf) AS BIGINT) AS n_words,
       |       CAST(SUM(tf.tf * seg.n_seg) AS BIGINT) AS n_pieces
       |FROM tf JOIN seg USING (word)
       |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin
  }

  /** Mirrors [[graft.operators.Bpe.mergesFrame]] — BPE TRAINING as
    * static SQL. The trainer's loop cannot be a recursive CTE (the
    * per-round argmax aggregates over the recursive reference, which
    * SQL forbids), but `numMerges` is a compile-time constant, so the
    * rounds UNROLL: each round is a (pair-count, argmax, merge-apply)
    * CTE triple chained off the previous word table. Pair counting
    * extracts the wrapped symbol list back out of the string form
    * (`\t sym \n` wrappers — the [[bpeEncode]] representation) and
    * counts SLIDING adjacent pairs weighted by word count; the argmax
    * replays the trainer's (weight desc, left, right) tie-break; the
    * merge applies with the same boundary-safe replace. CTEs are
    * MATERIALIZED: each word table is referenced twice per round, and
    * inlining would double the expression tree every round. A round
    * with no pairs left yields an empty argmax row — the LEFT JOIN
    * passes the word table through unchanged and the round emits no
    * merge, matching the trainer's early exhaustion.
    */
  def bpeMerges(numMerges: Int = 20): String = {
    val rounds = (0 until numMerges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT l, r, CAST(SUM(wc) AS BIGINT) AS w
         |  FROM (
         |    SELECT syms[j] AS l, syms[j+1] AS r, wc
         |    FROM (SELECT regexp_extract_all(s, '\\t([^\\n]*)\\n', 1) AS syms, wc
         |          FROM w$i) ws,
         |         unnest(generate_series(1, len(ws.syms) - 1)) AS g(j)
         |    WHERE len(ws.syms) >= 2)
         |  GROUP BY l, r),
         |b$i AS MATERIALIZED (SELECT l, r, w FROM p$i ORDER BY w DESC, l, r LIMIT 1),
         |w${i + 1} AS MATERIALIZED (
         |  SELECT CASE WHEN b.l IS NULL THEN w.s
         |         ELSE replace(w.s, chr(9)||b.l||chr(10)||chr(9)||b.r||chr(10),
         |                      chr(9)||b.l||b.r||chr(10)) END AS s, w.wc
         |  FROM w$i w LEFT JOIN b$i b ON TRUE)""".stripMargin
    }.mkString(",\n")
    val unions = (0 until numMerges).map { i =>
      s"""SELECT CAST($i AS INTEGER) AS rank, l AS "left", r AS "right",
         |       l || r AS merged, w AS weight FROM b$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |  FROM documents),
       |words AS (
       |  SELECT u.tok AS word, COUNT(*) AS wc
       |  FROM t, unnest(string_split(norm, ' ')) AS u(tok)
       |  WHERE u.tok <> '' GROUP BY u.tok),
       |w0 AS MATERIALIZED (
       |  SELECT array_to_string(list_transform(string_split(word, ''),
       |           c -> chr(9) || c || chr(10)), '') AS s, wc
       |  FROM words),
       |$rounds
       |SELECT * FROM (
       |$unions) ORDER BY rank""".stripMargin
  }

  /** Mirrors [[graft.operators.Bpe.tokenizerFit]] — the [[bpeEncode]]
    * replace-chain segmentation, aggregated per source with the word's
    * character length riding along. */
  def tokenizerFit(): String = {
    val seg = pinnedSegChainSql
    s"""WITH t AS (
       |  SELECT source,
       |         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |  FROM documents),
       |tf AS (
       |  SELECT source, u.tok AS word, COUNT(*) AS tf
       |  FROM t, unnest(string_split(norm, ' ')) AS u(tok)
       |  WHERE u.tok <> ''
       |  GROUP BY source, u.tok),
       |seg AS (
       |  SELECT word, CAST(length(word) AS BIGINT) AS n_chars_w,
       |         CAST(length(s) - length(replace(s, chr(9), '')) AS BIGINT) AS n_seg
       |  FROM (SELECT word, $seg AS s FROM (SELECT DISTINCT word FROM tf)))
       |SELECT tf.source,
       |       CAST(SUM(tf.tf) AS BIGINT) AS n_words,
       |       CAST(SUM(tf.tf * seg.n_chars_w) AS BIGINT) AS n_chars,
       |       CAST(SUM(tf.tf * seg.n_seg) AS BIGINT) AS n_pieces,
       |       CAST((SUM(tf.tf * seg.n_seg) * 1000000)
       |            // SUM(tf.tf * seg.n_chars_w) AS BIGINT) AS pieces_per_mchar
       |FROM tf JOIN seg USING (word)
       |GROUP BY tf.source ORDER BY tf.source""".stripMargin
  }

  /** Mirrors [[graft.operators.CorpusOps.effectiveTokens]]: per-source
    * raw vs canonical-only token totals over the near-dup cluster
    * closure. */
  def effectiveTokens(): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashPairs()}
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, t2) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t2 = e.a),
       |clusters AS (SELECT s AS doc_id, MIN(t2) AS cluster
       |             FROM reach GROUP BY s),
       |t AS (SELECT doc_id, source,
       |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |      FROM documents),
       |tc AS (SELECT doc_id, source,
       |         CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_toks
       |       FROM t)
       |SELECT tc.source,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(tc.n_toks) AS BIGINT) AS raw_tokens,
       |       CAST(SUM(CASE WHEN c.cluster = tc.doc_id THEN tc.n_toks
       |                     ELSE 0 END) AS BIGINT) AS effective_tokens,
       |       CASE WHEN coalesce(SUM(tc.n_toks), 0) > 0
       |            THEN CAST(((SUM(tc.n_toks)
       |                   - SUM(CASE WHEN c.cluster = tc.doc_id
       |                         THEN tc.n_toks ELSE 0 END)) * 1000000)
       |                 // SUM(tc.n_toks) AS BIGINT)
       |            ELSE 0 END AS dup_tax_ppm
       |FROM tc JOIN clusters c ON c.doc_id = tc.doc_id
       |GROUP BY tc.source ORDER BY tc.source""".stripMargin

  def lengthHistogram(bucket: Int = 50): String =
    s"""SELECT CAST(FLOOR(length(text) * 1.0 / $bucket) * $bucket AS BIGINT) AS len_bucket,
       |       COUNT(*) AS n_docs
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Mirrors [[TextFunctions.cleanText]] — note DuckDB backreferences
    * are `\1` where Java's are `$1`; the semantics match. */
  val textClean: String =
    """SELECT doc_id,
      |       md5(clean) AS clean_md5,
      |       length(clean) AS clean_len
      |FROM (
      |  SELECT doc_id, lower(trim(regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(text, 'https?://[^ \t\n\r]+', ' ', 'g'),
      |          '[^ \t\n\r]+@[^ \t\n\r]+', ' ', 'g'),
      |        '[\x00-\x1f]', ' ', 'g'),
      |      '([!?.,;:])\1+', '\1', 'g'),
      |    '\s+', ' ', 'g'))) AS clean
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  val eventTypeStats: String =
    """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
      |       CAST(SUM(TRY_CAST(CASE WHEN isnan("value") THEN NULL ELSE "value" END AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |       CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
      |       CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Byte statistics of the UTF-8 payload (ASCII corpus: codepoint ==
    * byte), mirroring [[graft.operators.Multimodal.decodeStub]]. */
  val multimodalFeatures: String = {
    def stripeMean(lo: String, hi: String): String =
      s"""CASE WHEN ($hi) <= ($lo) THEN 0.0 ELSE
         |  CAST(list_reduce(list_transform(generate_series(($lo) + 1, $hi),
         |    i -> unicode(substr(text, i, 1))::BIGINT), (a, b) -> a + b) AS DOUBLE)
         |  / (($hi) - ($lo)) END""".stripMargin
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |         CASE WHEN doc_id % 3 = 0 THEN 'image'
       |              WHEN doc_id % 3 = 1 THEN 'audio'
       |              ELSE 'video' END AS kind,
       |         text, length(text) AS n
       |  FROM documents
       |  WHERE text IS NOT NULL)
       |SELECT media_id, kind, CAST(n AS BIGINT) AS n_bytes,
       |       ${stripeMean("0", "n")} AS byte_mean,
       |       ${stripeMean("0", "n // 4")} AS stripe0,
       |       ${stripeMean("n // 4", "n // 2")} AS stripe1,
       |       ${stripeMean("n // 2", "3 * n // 4")} AS stripe2,
       |       ${stripeMean("3 * n // 4", "n")} AS stripe3
       |FROM m ORDER BY media_id""".stripMargin
  }

  /** Closed-form pixel statistics for the REAL PNG decode round trip
    * ([[graft.operators.Multimodal.decodeQuery]]): the generator puts
    * `(doc_id*31 + p) mod 256` at pixel index p of an 8×8 grayscale
    * PNG, so the oracle recomputes every decoded statistic from the
    * formula alone — no image parsing on the DuckDB side, and any
    * decoder pixel error hash-mismatches. Sums are exact integers;
    * the divisors (64, 16) are powers of two, so the double means are
    * IEEE-exact on both engines.
    */
  val multimodalDecode: String = {
    def stripe(lo: Int, hi: Int): String =
      s"""CAST(SUM(CASE WHEN p >= $lo AND p < $hi THEN v ELSE 0 END) AS DOUBLE)
         |  / ${hi - lo}""".stripMargin
    s"""WITH px AS (
       |  SELECT d.doc_id, t.p, (d.doc_id * 31 + t.p) % 256 AS v
       |  FROM documents d, generate_series(0, 63) AS t(p))
       |SELECT doc_id AS media_id,
       |       CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       |       CAST(SUM(v) AS DOUBLE) / 64 AS px_mean,
       |       ${stripe(0, 16)} AS stripe0,
       |       ${stripe(16, 32)} AS stripe1,
       |       ${stripe(32, 48)} AS stripe2,
       |       ${stripe(48, 64)} AS stripe3
       |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin
  }

  /** Closed-form sample statistics for the REAL WAV decode round trip
    * ([[graft.operators.Multimodal.audioDecodeQuery]]): the generator
    * puts `((doc_id*37 + i*13) mod 65536) - 32768` at sample index i of
    * a 64-sample 16-bit mono PCM WAV, so the oracle recomputes every
    * decoded statistic from the formula alone — no audio parsing on the
    * DuckDB side, and any decoder sample error hash-mismatches. Sums
    * are exact integers; the divisors (64, 16) are powers of two, so
    * the double means are IEEE-exact on both engines.
    */
  val multimodalAudio: String = {
    def stripe(lo: Int, hi: Int): String =
      s"""CAST(SUM(CASE WHEN p >= $lo AND p < $hi THEN v ELSE 0 END) AS DOUBLE)
         |  / ${hi - lo}""".stripMargin
    s"""WITH smp AS (
       |  SELECT d.doc_id, t.p,
       |         -- floor-mod form: DuckDB % is dividend-signed like
       |         -- Scala's, so the double-mod keeps the contract total
       |         -- over negative doc_ids (mirrors Multimodal.wavPayload)
       |         (((d.doc_id * 37 + t.p * 13) % 65536 + 65536) % 65536) - 32768 AS v
       |  FROM documents d, generate_series(0, 63) AS t(p))
       |SELECT doc_id AS media_id,
       |       CAST(8000 AS INTEGER) AS sample_rate,
       |       CAST(64 AS BIGINT) AS n_samples,
       |       CAST(SUM(v) AS DOUBLE) / 64 AS amp_mean,
       |       ${stripe(0, 16)} AS stripe0,
       |       ${stripe(16, 32)} AS stripe1,
       |       ${stripe(32, 48)} AS stripe2,
       |       ${stripe(48, 64)} AS stripe3,
       |       CAST(MAX(ABS(v)) AS INTEGER) AS peak
       |FROM smp GROUP BY doc_id ORDER BY media_id""".stripMargin
  }

  /** Frame-count / stride sampling over the ASCII payload, mirroring
    * [[graft.operators.Multimodal.sampleStub]]. */
  def multimodalSample(frameBytes: Int = 256, everyK: Int = 3,
      strideK: Int = 4): String =
    s"""SELECT doc_id AS media_id,
       |       (length(text) + ${frameBytes - 1}) // $frameBytes AS n_frames,
       |       (((length(text) + ${frameBytes - 1}) // $frameBytes) + ${everyK - 1}) // $everyK AS kept_frames,
       |       length(strided) AS strided_len,
       |       md5(strided) AS strided_md5
       |FROM (
       |  SELECT doc_id, text,
       |         array_to_string(list_transform(
       |           generate_series(1, length(text), $strideK),
       |           i -> substr(text, i, 1)), '') AS strided
       |  FROM documents
       |  WHERE text IS NOT NULL)
       |ORDER BY media_id""".stripMargin

  /** TPC-H-style relational mirrors. Money doubles are 2-dp values, so
    * the DECIMAL(18,2) casts are exact and decimal sums are
    * order-free; both engines' decimal type widening keeps the 6
    * fractional digits of the triple product exactly. Averages are
    * spelled as sum/count double divisions so the operation sequence
    * is identical (DuckDB's avg(decimal) returns double directly,
    * Spark's returns a rescaled decimal — neither matches the other).
    */
  private val dec1 = "CAST(1.0 AS DECIMAL(18,2))"
  private def decCol(c: String) = s"CAST($c AS DECIMAL(18,2))"
  private val discPriceSql =
    s"${decCol("l_extendedprice")} * ($dec1 - ${decCol("l_discount")})"

  def tpchQ1(shipBefore: String = "1998-09-02 00:00:00"): String =
    s"""SELECT l_returnflag, l_linestatus,
       |       CAST(SUM(${decCol("l_quantity")}) AS DOUBLE) AS sum_qty,
       |       CAST(SUM(${decCol("l_extendedprice")}) AS DOUBLE) AS sum_base_price,
       |       CAST(SUM($discPriceSql) AS DOUBLE) AS sum_disc_price,
       |       CAST(SUM($discPriceSql * ($dec1 + ${decCol("l_tax")})) AS DOUBLE) AS sum_charge,
       |       CAST(SUM(${decCol("l_quantity")}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       |       CAST(SUM(${decCol("l_extendedprice")}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
       |       COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '$shipBefore'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def tpchQ3(segment: String = "BUILDING",
      cutoff: String = "1995-03-15 00:00:00"): String =
    s"""SELECT l_orderkey,
       |       CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us,
       |       CAST(SUM($discPriceSql) AS DOUBLE) AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = '$segment'
       |  AND o_orderdate < TIMESTAMP '$cutoff'
       |  AND l_shipdate > TIMESTAMP '$cutoff'
       |GROUP BY 1, 2
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  def tpchQ5(regionName: String = "ASIA",
      from: String = "1996-01-01 00:00:00",
      until: String = "1997-01-01 00:00:00"): String =
    s"""SELECT n_name, CAST(SUM($discPriceSql) AS DOUBLE) AS revenue
       |FROM customer
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = '$regionName'
       |  AND o_orderdate >= TIMESTAMP '$from'
       |  AND o_orderdate < TIMESTAMP '$until'
       |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin

  def tpchQ4(from: String = "1996-01-01 00:00:00",
      until: String = "1996-04-01 00:00:00"): String =
    s"""SELECT o_orderpriority, COUNT(*) AS order_count
       |FROM orders o
       |WHERE o_orderdate >= TIMESTAMP '$from'
       |  AND o_orderdate < TIMESTAMP '$until'
       |  AND EXISTS (SELECT 1 FROM lineitem l
       |              WHERE l.l_orderkey = o.o_orderkey
       |                AND l.l_shipdate > o.o_orderdate)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Mirror of `Relational.inactiveHighBalanceCustomers`. The
    * above-average test multiplies in exact decimal (bal × n > total)
    * instead of comparing against a double average — double fold order
    * differs across engines, decimal products don't. */
  def tpchQ22(inactiveSince: String = "2000-01-01 00:00:00"): String =
    s"""WITH t AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total_bal,
       |                  COUNT(*) AS n_pos
       |           FROM customer WHERE c_acctbal > 0.0)
       |SELECT c_nationkey, COUNT(*) AS n_custs,
       |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
       |FROM customer, t
       |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > total_bal
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderdate >= TIMESTAMP '$inactiveSince')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  def tpchQ6(from: String = "1996-01-01 00:00:00",
      until: String = "1997-01-01 00:00:00"): String =
    s"""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |                CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '$from'
       |  AND l_shipdate < TIMESTAMP '$until'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  def tpchQ18(minTotalQty: Int = 250, k: Int = 100): String =
    s"""WITH big AS (
       |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
       |  FROM lineitem GROUP BY 1
       |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > $minTotalQty)
       |SELECT c_name, c_custkey, o_orderkey,
       |       CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us,
       |       o_totalprice, CAST(total_qty AS DOUBLE) AS total_qty
       |FROM big
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT $k""".stripMargin

  def tpchQ10(from: String = "1996-01-01 00:00:00",
      until: String = "1996-04-01 00:00:00", k: Int = 20): String =
    s"""SELECT c_custkey, c_name, n_name,
       |       CAST(SUM($discPriceSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '$from'
       |  AND o_orderdate < TIMESTAMP '$until'
       |GROUP BY 1, 2, 3
       |ORDER BY revenue DESC, c_custkey LIMIT $k""".stripMargin

  def tpchQ14(from: String = "1996-01-01 00:00:00",
      until: String = "1996-02-01 00:00:00"): String =
    s"""SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
       |                             THEN $discPriceSql END) AS DOUBLE)
       |       / CAST(SUM($discPriceSql) AS DOUBLE) AS promo_revenue_pct
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '$from'
       |  AND l_shipdate < TIMESTAMP '$until'""".stripMargin

  /** Mirrors of [[graft.operators.DecisionSupport]] — the remaining
    * TPC-H shapes. Same conventions as above: DECIMAL(18,2) money,
    * double casts only at the output edge, `CAST(year(..) AS INTEGER)`
    * (DuckDB's `year` returns BIGINT; Spark's returns INT), exact
    * decimal-by-integer threshold products instead of float ratios.
    */
  def tpchQ2(regionName: String = "EUROPE", partType: String = "STANDARD",
      sizeMin: Int = 10, sizeMax: Int = 20, k: Int = 100): String =
    s"""WITH rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
       |            FROM supplier
       |            JOIN nation ON s_nationkey = n_nationkey
       |            JOIN region ON n_regionkey = r_regionkey
       |            WHERE r_name = '$regionName'),
       |fp AS (SELECT p_partkey FROM part
       |       WHERE p_type = '$partType'
       |         AND p_size BETWEEN $sizeMin AND $sizeMax),
       |cost AS (SELECT l_partkey, l_suppkey,
       |                MIN(l_extendedprice / l_quantity) AS unit_cost
       |         FROM lineitem
       |         JOIN fp ON p_partkey = l_partkey
       |         JOIN rs ON rs.s_suppkey = l_suppkey
       |         GROUP BY 1, 2),
       |mc AS (SELECT l_partkey AS mc_partkey, MIN(unit_cost) AS min_cost
       |       FROM cost GROUP BY 1)
       |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, min_cost
       |FROM cost
       |JOIN mc ON l_partkey = mc_partkey AND unit_cost = min_cost
       |JOIN rs ON rs.s_suppkey = l_suppkey
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT $k""".stripMargin

  def tpchQ7(nationA: String = "NATION_1", nationB: String = "NATION_2",
      from: String = "1995-01-01 00:00:00",
      until: String = "1997-01-01 00:00:00"): String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       |       CAST(SUM($discPriceSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '$from'
       |  AND l_shipdate < TIMESTAMP '$until'
       |  AND ((n1.n_name = '$nationA' AND n2.n_name = '$nationB') OR
       |       (n1.n_name = '$nationB' AND n2.n_name = '$nationA'))
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  def tpchQ8(regionName: String = "ASIA", nationName: String = "NATION_3",
      partType: String = "ECONOMY", from: String = "1995-01-01 00:00:00",
      until: String = "1997-01-01 00:00:00"): String =
    s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |       CAST(SUM(CASE WHEN n1.n_name = '$nationName'
       |                     THEN $discPriceSql
       |                     ELSE CAST(0.0 AS DECIMAL(18,2)) END) AS DOUBLE)
       |       / CAST(SUM($discPriceSql) AS DOUBLE) AS mkt_share
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |JOIN region ON n2.n_regionkey = r_regionkey
       |WHERE r_name = '$regionName' AND p_type = '$partType'
       |  AND o_orderdate >= TIMESTAMP '$from'
       |  AND o_orderdate < TIMESTAMP '$until'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  def tpchQ9(nameToken: String = "widget"): String =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |       CAST(SUM($discPriceSql -
       |                ${decCol("p_retailprice")} *
       |                CAST(FLOOR(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_profit
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%$nameToken%'
       |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin

  def tpchQ11(thresholdTenths: Int = 15): String =
    s"""WITH pp AS (SELECT l_partkey, SUM($discPriceSql) AS value
       |            FROM lineitem GROUP BY 1),
       |t AS (SELECT SUM(value) AS total_value, COUNT(*) AS n_parts FROM pp)
       |SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS value
       |FROM pp, t
       |WHERE value * n_parts * 10 > total_value * $thresholdTenths
       |ORDER BY 2 DESC, 1""".stripMargin

  def tpchQ12(lateDays: Int = 60, from: String = "1996-01-01 00:00:00",
      until: String = "1997-01-01 00:00:00"): String =
    s"""SELECT l_linestatus,
       |       COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
       |         AS high_line_count,
       |       COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
       |         AS low_line_count
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_shipdate >= TIMESTAMP '$from'
       |  AND l_shipdate < TIMESTAMP '$until'
       |  AND l_shipdate > o_orderdate + INTERVAL $lateDays DAY
       |GROUP BY 1 ORDER BY 1""".stripMargin

  def tpchQ13(excludePriority: String = "1-URGENT"): String =
    s"""WITH co AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
       |            FROM customer
       |            LEFT JOIN orders ON c_custkey = o_custkey
       |                 AND o_orderpriority <> '$excludePriority'
       |            GROUP BY 1)
       |SELECT c_count, COUNT(*) AS custdist
       |FROM co GROUP BY 1 ORDER BY 2 DESC, 1 DESC""".stripMargin

  def tpchQ15(from: String = "1996-01-01 00:00:00",
      until: String = "1996-04-01 00:00:00"): String =
    s"""WITH rev AS (SELECT l_suppkey, SUM($discPriceSql) AS total_revenue
       |             FROM lineitem
       |             WHERE l_shipdate >= TIMESTAMP '$from'
       |               AND l_shipdate < TIMESTAMP '$until'
       |             GROUP BY 1),
       |m AS (SELECT MAX(total_revenue) AS max_revenue FROM rev)
       |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
       |FROM rev CROSS JOIN m
       |JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_revenue = max_revenue
       |ORDER BY 1""".stripMargin

  def tpchQ16(excludeBrand: String = "Brand#1", excludeType: String = "PROMO",
      sizes: Seq[Int] = Seq(1, 5, 9, 14, 19, 23, 36, 45)): String =
    s"""SELECT p_brand, p_type, p_size,
       |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |WHERE p_brand <> '$excludeBrand' AND p_type <> '$excludeType'
       |  AND p_size IN (${sizes.mkString(", ")})
       |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
       |                        WHERE s_acctbal < 0.0)
       |GROUP BY 1, 2, 3 ORDER BY 4 DESC, 1, 2, 3""".stripMargin

  def tpchQ17(brand: String = "Brand#23"): String =
    s"""WITH bl AS (SELECT l_partkey, l_quantity, l_extendedprice
       |            FROM lineitem JOIN part ON l_partkey = p_partkey
       |            WHERE p_brand = '$brand'),
       |cap AS (SELECT l_partkey AS cap_partkey,
       |               CAST(SUM(${decCol("l_quantity")}) AS DOUBLE)
       |               / CAST(COUNT(*) AS DOUBLE) * 0.2 AS qty_cap
       |        FROM bl GROUP BY 1)
       |SELECT CAST(SUM(${decCol("l_extendedprice")}) AS DOUBLE) / 7.0
       |       AS avg_yearly
       |FROM bl JOIN cap ON l_partkey = cap_partkey
       |WHERE l_quantity < qty_cap""".stripMargin

  def tpchQ19(): String = {
    def band(brand: String, sizeMax: Int, qtyMin: Int, qtyMax: Int) =
      s"""(p_brand = '$brand' AND p_size BETWEEN 1 AND $sizeMax
         |   AND l_quantity BETWEEN $qtyMin AND $qtyMax)""".stripMargin
    s"""SELECT CAST(SUM($discPriceSql) AS DOUBLE) AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE ${band("Brand#12", 5, 1, 11)}
       |   OR ${band("Brand#23", 10, 10, 20)}
       |   OR ${band("Brand#3", 15, 20, 30)}""".stripMargin
  }

  def tpchQ20(namePrefix: String = "red", nationName: String = "NATION_5",
      from: String = "1996-01-01 00:00:00",
      until: String = "1997-01-01 00:00:00"): String =
    s"""WITH fp AS (SELECT p_partkey FROM part
       |            WHERE p_name LIKE '$namePrefix%'),
       |pq AS (SELECT l_partkey, l_suppkey,
       |              SUM(${decCol("l_quantity")}) AS pair_qty
       |       FROM lineitem JOIN fp ON p_partkey = l_partkey
       |       WHERE l_shipdate >= TIMESTAMP '$from'
       |         AND l_shipdate < TIMESTAMP '$until'
       |       GROUP BY 1, 2),
       |tot AS (SELECT l_partkey AS pq_partkey, SUM(pair_qty) AS part_qty
       |        FROM pq GROUP BY 1)
       |SELECT s_suppkey, s_name
       |FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |WHERE n_name = '$nationName'
       |  AND EXISTS (SELECT 1 FROM pq JOIN tot ON l_partkey = pq_partkey
       |              WHERE pair_qty * 2 > part_qty
       |                AND pq.l_suppkey = s_suppkey)
       |ORDER BY 1""".stripMargin

  def tpchQ21(lateDays: Int = 30, k: Int = 100): String =
    s"""SELECT s_name, COUNT(*) AS numwait
       |FROM lineitem l1
       |JOIN orders ON o_orderkey = l1.l_orderkey
       |JOIN supplier ON s_suppkey = l1.l_suppkey
       |WHERE o_orderstatus = 'F'
       |  AND l1.l_shipdate > o_orderdate + INTERVAL $lateDays DAY
       |  AND EXISTS (SELECT 1 FROM lineitem l2
       |              WHERE l2.l_orderkey = l1.l_orderkey
       |                AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
       |                  WHERE l3.l_orderkey = l1.l_orderkey
       |                    AND l3.l_suppkey <> l1.l_suppkey
       |                    AND l3.l_shipdate > l1.l_shipdate)
       |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT $k""".stripMargin

  /** Unit-normalized double vectors, mirroring [[Similarity.withUnit]]:
    * norm once per vector, then element-wise division. */
  private val unitCte: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |      WHERE embedding IS NOT NULL
       |        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
       |nn AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
       |u AS (SELECT vec_id,
       |        list_transform(v, x -> CASE WHEN nrm = 0.0 THEN 0.0 ELSE x / nrm END) AS un
       |      FROM nn)""".stripMargin

  def knn(k: Int = 5, maxQueryId: Int = 16): String =
    s"""WITH $unitCte,
       |q AS (SELECT * FROM u WHERE vec_id < $maxQueryId),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${dotSql("q.un", "c.un")} AS score
       |  FROM q, u c WHERE q.vec_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  private def sigsUnionSql(tables: Int, planes: Int): String = {
    def planeList(t: Int, j: Int): String =
      (0 until Similarity.LshDims).map(d => Similarity.planeComponent(t, j, d))
        .mkString("[", ", ", "]")
    def sigExpr(t: Int): String =
      (0 until planes).map { j =>
        s"CASE WHEN ${dotSql("un", planeList(t, j))} > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString("(", " + ", ")")
    (0 until tables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${sigExpr(t)} AS sig FROM u"
    }.mkString("\nUNION ALL\n")
  }

  def knnLsh(k: Int = 5, maxQueryId: Int = 16, tables: Int = 8,
      planes: Int = 4): String =
    s"""WITH $unitCte,
       |sigs AS (
       |${sigsUnionSql(tables, planes)}),
       |qsigs AS (SELECT * FROM sigs WHERE vec_id < $maxQueryId),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qsigs q JOIN sigs c
       |    ON q.tbl = c.tbl AND q.sig = c.sig AND q.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${dotSql("x.un", "y.un")} AS score
       |  FROM cand JOIN u x ON x.vec_id = query_id JOIN u y ON y.vec_id = neighbor_id),
       |r AS (SELECT query_id, neighbor_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Mirrors [[graft.operators.Similarity.knnLshMultiProbe]]: the
    * query signature set expands with every 1-bit flip per table. */
  def knnLshMultiProbe(k: Int = 5, maxQueryId: Int = 16, tables: Int = 8,
      planes: Int = 4): String = {
    val flips = (0 until planes)
      .map(j => s"SELECT vec_id, tbl, xor(sig, ${1L << j}) AS sig FROM qs")
      .mkString("\nUNION ALL\n")
    s"""WITH $unitCte,
       |sigs AS (
       |${sigsUnionSql(tables, planes)}),
       |qs AS (SELECT * FROM sigs WHERE vec_id < $maxQueryId),
       |qsigs AS (SELECT vec_id, tbl, sig FROM qs
       |UNION ALL
       |$flips),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qsigs q JOIN sigs c
       |    ON q.tbl = c.tbl AND q.sig = c.sig AND q.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${dotSql("x.un", "y.un")} AS score
       |  FROM cand JOIN u x ON x.vec_id = query_id JOIN u y ON y.vec_id = neighbor_id),
       |r AS (SELECT query_id, neighbor_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Sequential double dot over a `dsub`-wide SUBSPACE: `a`'s window
    * starting after `off` elements against the dsub-element list `b` —
    * index-order fold, same shape as [[dotSql]]. Mirrors the engine's
    * `dot(slice(unit, off+1, dsub), book)` subspace dots. */
  private def dotSubSql(a: String, off: String, b: String, dsub: Int): String =
    s"""list_reduce(list_transform(generate_series(1, $dsub),
       |  j -> $a[$off + j] * $b[j]), (acc, v) -> acc + v)""".stripMargin

  /** Mirrors [[graft.operators.Similarity.knnIvfPqIndexed]] over an
    * index built with `pqIters = 0` — the SEED-BOOK configuration:
    * coarse centroids are the first `nCentroids` unit vectors (the
    * [[knnIvf]] stand-in) and each PQ sub-centroid `(mi, c)` is the
    * `mi`-th dsub-slice of the `c`-th-smallest-vec_id unit vector
    * (exactly `trainPqOn`'s seeding, which zero Lloyd's iterations
    * leave untouched). With the books in closed form the WHOLE
    * pipeline replays: cell assignment (argmax dot, ties -> lowest
    * cid), PQ encoding (argmax of `2*dot - |c|^2`, ties -> lowest
    * sub-cell), the per-query LUT dots, the ADC sum in subspace order
    * from 0.0 (PqAdcExpr's left fold), the top `k*refine` cut by
    * (adc DESC, neighbor_id), and the exact re-rank — every float in
    * the same IEEE order as the engine, so the check is hash-exact
    * rather than rows-only. Lloyd's-trained books remain rows-only by
    * design (`q_embed_knn_ivfpq`/`_trained`): distributed float AVG
    * fold order is not engine-stable — that is precisely what the
    * frozen seed book removes.
    */
  def knnIvfPqSeed(k: Int = 5, maxQueryId: Int = 16, nCentroids: Int = 16,
      nProbes: Int = 8, m: Int = 8, ksub: Int = 16, refine: Int = 4): String = {
    val dims = Similarity.LshDims
    val dsub = dims / m
    val codeCols = (0 until m).map(mi => s"c$mi")
    val codePivot = (0 until m).map(mi =>
      s"MAX(CASE WHEN mi = $mi THEN c END) AS c$mi").mkString(",\n|            ")
    val subJoins = (0 until m).map(mi =>
      s"JOIN subn s$mi ON s$mi.mi = $mi AND s$mi.c = n.c$mi")
      .mkString("\n|  ")
    // PqAdcExpr folds left from 0.0 in subspace order; keep that exact
    // association: 0.0 + t0 + t1 + ...
    val adcTerms = (0 until m).map(mi =>
      dotSubSql("p.qun", s"${mi * dsub}", s"s$mi.sub", dsub))
      .mkString("0.0 + (", ") + (", ")")
    s"""WITH $unitCte,
       |cent AS (SELECT vec_id AS cid, un AS cu FROM u
       |         WHERE vec_id < $nCentroids AND un IS NOT NULL),
       |seedbase AS (SELECT vec_id, un FROM u WHERE un IS NOT NULL
       |             ORDER BY vec_id LIMIT $ksub),
       |seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, un
       |          FROM seedbase),
       |subc AS (
       |  SELECT t.mi, s.c,
       |         list_transform(generate_series(1, $dsub),
       |           j -> s.un[t.mi * $dsub + j]) AS sub
       |  FROM seeds s, range($m) t(mi)),
       |subn AS (
       |  SELECT mi, c, sub,
       |         list_reduce(list_transform(generate_series(1, $dsub),
       |           j -> sub[j] * sub[j]), (acc, v) -> acc + v) AS nsq
       |  FROM subc),
       |assigned AS (
       |  SELECT vec_id, un, cid FROM (
       |    SELECT e.vec_id, e.un, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u e, cent c WHERE e.un IS NOT NULL) WHERE crn = 1),
       |enc AS (
       |  SELECT a.vec_id, s.mi, s.c,
       |         ${dotSubSql("a.un", "s.mi * " + dsub, "s.sub", dsub)} * 2.0
       |           - s.nsq AS score
       |  FROM assigned a, subn s),
       |codesl AS (SELECT vec_id, mi, c FROM (
       |  SELECT vec_id, mi, c,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id, mi
       |           ORDER BY score DESC, c) AS rn FROM enc) WHERE rn = 1),
       |codes AS (SELECT vec_id,
       |            $codePivot
       |          FROM codesl GROUP BY vec_id),
       |probes AS (
       |  SELECT vec_id AS query_id, un AS qun, cid FROM (
       |    SELECT q.vec_id, q.un, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u q, cent c WHERE q.vec_id < $maxQueryId) WHERE crn <= $nProbes),
       |cand AS (
       |  SELECT p.query_id, p.qun, a.vec_id AS neighbor_id,
       |         $adcTerms AS adc
       |  FROM probes p
       |  JOIN assigned a ON a.cid = p.cid AND p.query_id <> a.vec_id
       |  JOIN codes n ON n.vec_id = a.vec_id
       |  $subJoins),
       |rcut AS (SELECT query_id, qun, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY adc DESC, neighbor_id) AS arn
       |         FROM cand),
       |refined AS (SELECT c.query_id, c.neighbor_id,
       |              ${dotSql("c.qun", "nu.un")} AS score
       |            FROM rcut c JOIN u nu ON nu.vec_id = c.neighbor_id
       |            WHERE c.arn <= ${k * refine}),
       |r AS (SELECT query_id, neighbor_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, neighbor_id) AS rank
       |      FROM refined)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  def knnIvf(k: Int = 5, maxQueryId: Int = 16, nCentroids: Int = 16,
      nProbes: Int = 4): String =
    s"""WITH $unitCte,
       |cent AS (SELECT vec_id AS cid, un AS cu FROM u WHERE vec_id < $nCentroids),
       |assigned AS (
       |  SELECT vec_id, un, cid FROM (
       |    SELECT e.vec_id, e.un, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u e, cent c) WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, un AS qun, cid FROM (
       |    SELECT q.vec_id, q.un, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u q, cent c WHERE q.vec_id < $maxQueryId) WHERE crn <= $nProbes),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${dotSql("p.qun", "a.un")} AS score
       |  FROM assigned a JOIN probes p ON a.cid = p.cid
       |  WHERE p.query_id <> a.vec_id),
       |r AS (SELECT query_id, neighbor_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Mirrors [[graft.operators.Similarity.knnIvf]] with the INJECTED
    * seed book — `trainCentroids(iters = 0)`, i.e. k-means init in
    * closed form: the `kCent` lowest-vec_id unit vectors (excluding
    * null units / null elements, `trainCentroids`' guard), with cid =
    * seed RANK 0..k-1 in vec_id order (`zipWithIndex`), NOT the raw
    * vec_id the [[knnIvf]] stand-in uses. cid only matters for the
    * argmax/probe tie-breaks, and rank order equals vec_id order over
    * the seed set, so ties resolve identically; every dot is the same
    * sequential IEEE fold as the engine's — hash-exact. Lloyd's
    * ITERATIONS stay un-oracle-able (distributed float-AVG fold
    * order); those run only in the bench-only train twins.
    */
  def knnIvfSeedTrained(k: Int = 5, maxQueryId: Int = 16, kCent: Int = 16,
      nProbes: Int = 4): String =
    s"""WITH $unitCte,
       |seedb AS (SELECT vec_id, un FROM u
       |          WHERE un IS NOT NULL
       |            AND len(list_filter(un, x -> x IS NULL)) = 0
       |          ORDER BY vec_id LIMIT $kCent),
       |cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
       |                un AS cu
       |         FROM seedb),
       |assigned AS (
       |  SELECT vec_id, un, cid FROM (
       |    SELECT e.vec_id, e.un, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u e, cent c WHERE e.un IS NOT NULL) WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, un AS qun, cid FROM (
       |    SELECT q.vec_id, q.un, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u q, cent c WHERE q.vec_id < $maxQueryId) WHERE crn <= $nProbes),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${dotSql("p.qun", "a.un")} AS score
       |  FROM assigned a JOIN probes p ON a.cid = p.cid
       |  WHERE p.query_id <> a.vec_id),
       |r AS (SELECT query_id, neighbor_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Mirrors [[graft.operators.Similarity.semanticContaminationById]]:
    * id split, unit vectors, pairwise index-order-fold dot, per-train
    * verdict with arg-max via row_number (ties toward smaller eval id,
    * same as the engine's arg-max over the (score, -eval_id) order).
    */
  def semanticContamination(evalMaxId: Long = 50,
      threshold: Double = 0.4): String =
    s"""WITH $unitCte,
       |t AS (SELECT vec_id AS train_id, un AS tu FROM u WHERE vec_id >= $evalMaxId),
       |e2 AS (SELECT vec_id AS eval_id, un AS eu FROM u WHERE vec_id < $evalMaxId),
       |hits AS (
       |  SELECT train_id, eval_id, ${dotSql("tu", "eu")} AS score
       |  FROM t, e2 WHERE ${dotSql("tu", "eu")} >= $threshold),
       |r AS (SELECT train_id, eval_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY train_id
       |          ORDER BY score DESC, eval_id) AS rn,
       |        COUNT(*) OVER (PARTITION BY train_id) AS n_hits,
       |        MAX(score) OVER (PARTITION BY train_id) AS mx
       |      FROM hits)
       |SELECT train_id, n_hits AS n_eval_hits, eval_id AS top_eval_id,
       |       round(mx, 6) AS top_score
       |FROM r WHERE rn = 1 ORDER BY train_id""".stripMargin

  /** Mirrors [[graft.operators.Similarity.embeddingAudit]]: same
    * well-formed guard, same sequential-fold norm. */
  def embeddingAudit(dims: Int = Similarity.LshDims): String =
    s"""WITH e AS (SELECT vec_id, embedding,
       |             list_transform(embedding, x -> x::DOUBLE) AS v,
       |             (embedding IS NOT NULL AND len(list_filter(embedding,
       |                x -> x IS NULL)) > 0) AS has_null_elem
       |           FROM embeddings),
       |n AS (SELECT vec_id, embedding, has_null_elem,
       |        CASE WHEN embedding IS NOT NULL AND len(embedding) = $dims
       |                  AND NOT has_null_elem
       |             THEN sqrt(${dotSql("v", "v")}) END AS nrm
       |      FROM e)
       |SELECT COUNT(*) AS n_vectors,
       |       COUNT(*) FILTER (WHERE embedding IS NULL) AS n_null_vec,
       |       COUNT(*) FILTER (WHERE embedding IS NOT NULL
       |                          AND len(embedding) <> $dims) AS n_wrong_dim,
       |       COUNT(*) FILTER (WHERE has_null_elem) AS n_element_null,
       |       COUNT(*) FILTER (WHERE nrm = 0.0) AS n_zero_norm,
       |       round(MIN(nrm), 6) AS min_norm,
       |       round(MAX(nrm), 6) AS max_norm
       |FROM n""".stripMargin

  /** Cluster-stratified diversity sample
    * ([[graft.operators.Similarity.diverseSample]]): the knnIvf
    * assignment CTE + a per-cell quota in FNV-hash order. */
  def diverseSample(quota: Int = 40, nCentroids: Int = 16): String =
    s"""WITH $unitCte,
       |cent AS (SELECT vec_id AS cid, un AS cu FROM u WHERE vec_id < $nCentroids),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u e, cent c) WHERE crn = 1),
       |h AS (SELECT vec_id, cid,
       |        ${fnvOf("CAST(vec_id AS VARCHAR)")} AS hv FROM assigned),
       |r AS (SELECT vec_id, cid,
       |        ROW_NUMBER() OVER (PARTITION BY cid ORDER BY hv, vec_id) AS rk,
       |        COUNT(*) OVER (PARTITION BY cid) AS cell_n FROM h)
       |SELECT vec_id, cid, CAST(cell_n AS BIGINT) AS cell_n,
       |       rk <= $quota AS kept
       |FROM r ORDER BY vec_id""".stripMargin

  def lshNearPairs(tables: Int = 4, planes: Int = 4,
      threshold: Double = 0.35): String = {
    val sigsUnion = sigsUnionSql(tables, planes)
    s"""WITH $unitCte,
       |sigs AS (
       |$sigsUnion),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sigs a JOIN sigs b
       |    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT vec_a, vec_b, ${dotSql("x.un", "y.un")} AS score
       |  FROM cand JOIN u x ON x.vec_id = vec_a JOIN u y ON y.vec_id = vec_b)
       |SELECT vec_a, vec_b, round(score, 6) AS score
       |FROM scored WHERE score >= $threshold ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Mirrors [[graft.operators.Similarity.cellBaseline]]: the knnIvf
    * stand-in assignment grouped per cell, integer-floored ppm. */
  def cellBaseline(nCentroids: Int = 16): String =
    s"""WITH $unitCte,
       |cent AS (SELECT vec_id AS cid, un AS cu FROM u WHERE vec_id < $nCentroids),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u e, cent c WHERE e.un IS NOT NULL) WHERE crn = 1),
       |counts AS (SELECT cid, COUNT(*) AS n FROM assigned GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
       |SELECT cid, n, (n * 1000000) // total AS ppm
       |FROM counts, tot ORDER BY cid""".stripMargin

  /** Mirrors [[graft.operators.Similarity.cellDrift]] under the
    * driver-query convention (current = vec_id % 3 <> 0): ONE shared
    * reference-trained codebook, per-snapshot integer ppm, outer-join
    * deltas. Snapshot filtering commutes with assignment because the
    * book is fixed. */
  def cellDrift(nCentroids: Int = 16, curMod: Int = 3): String =
    s"""WITH $unitCte,
       |cent AS (SELECT vec_id AS cid, un AS cu FROM u WHERE vec_id < $nCentroids),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u e, cent c WHERE e.un IS NOT NULL) WHERE crn = 1),
       |refc AS (SELECT cid, COUNT(*) AS n_ref FROM assigned GROUP BY 1),
       |rt AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS total FROM refc),
       |refb AS (SELECT cid, n_ref, (n_ref * 1000000) // total AS ppm_ref
       |         FROM refc, rt),
       |curc AS (SELECT cid, COUNT(*) AS n_cur FROM assigned
       |         WHERE vec_id % $curMod <> 0 GROUP BY 1),
       |ct AS (SELECT CAST(SUM(n_cur) AS BIGINT) AS total FROM curc),
       |curb AS (SELECT cid, n_cur, (n_cur * 1000000) // total AS ppm_cur
       |         FROM curc, ct)
       |SELECT cid,
       |       coalesce(n_ref, 0) AS n_ref, coalesce(ppm_ref, 0) AS ppm_ref,
       |       coalesce(n_cur, 0) AS n_cur, coalesce(ppm_cur, 0) AS ppm_cur,
       |       coalesce(ppm_cur, 0) - coalesce(ppm_ref, 0) AS delta_ppm
       |FROM refb FULL OUTER JOIN curb USING (cid) ORDER BY cid""".stripMargin

  /** Mirrors [[graft.operators.Similarity.annRecall]]: the three knn
    * oracles joined back to the exact top-k, one integer-exact recall
    * division per method. */
  def annRecall(maxQueryId: Int = 16, k: Int = 5, lshTables: Int = 8,
      lshPlanes: Int = 4, nCentroids: Int = 16, nProbes: Int = 4): String =
    s"""WITH exact AS (
       |${knn(k, maxQueryId)}
       |),
       |lsh AS (
       |${knnLsh(k, maxQueryId, lshTables, lshPlanes)}
       |),
       |lshmp AS (
       |${knnLshMultiProbe(k, maxQueryId, lshTables, lshPlanes)}
       |),
       |ivf AS (
       |${knnIvf(k, maxQueryId, nCentroids, nProbes)}
       |),
       |e AS (SELECT query_id, neighbor_id FROM exact),
       |-- denominator = the exact top-k's own cardinality (matches the
       |-- engine: recall stays 1.0 for 'exact' even when the corpus has
       |-- fewer than maxQueryId query vectors)
       |d AS (SELECT CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS denom FROM e)
       |SELECT method, n_hits, CAST(n_hits AS DOUBLE) / denom AS recall
       |FROM (
       |  SELECT 'exact' AS method, COUNT(*) AS n_hits
       |  FROM e JOIN exact USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'ivf', COUNT(*) FROM e JOIN ivf USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'lsh', COUNT(*) FROM e JOIN lsh USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'lsh_mp', COUNT(*)
       |  FROM e JOIN lshmp USING (query_id, neighbor_id)), d
       |ORDER BY method""".stripMargin

  /** Mirrors [[graft.operators.Similarity.contrastiveTriplets]]: best
    * near-pair positive (score desc, id tie-break over the rounded
    * pair scores), salted-fnv-bucket min-id negative, self/positive
    * collisions dropped. */
  def contrastiveTriplets(threshold: Double = 0.4, tables: Int = 4,
      planes: Int = 4, negBuckets: Int = 32, negSalt: Int = 7): String = {
    val pairsSql = lshNearPairs(tables, planes, threshold)
    s"""WITH pairs AS (
       |$pairsSql
       |),
       |sym AS (SELECT vec_a AS anchor, vec_b AS pos, score FROM pairs
       |        UNION ALL SELECT vec_b, vec_a, score FROM pairs),
       |best AS (
       |  SELECT anchor, pos AS positive_id, score AS pos_score FROM (
       |    SELECT anchor, pos, score,
       |           ROW_NUMBER() OVER (PARTITION BY anchor
       |             ORDER BY score DESC, pos) AS rn
       |    FROM sym) WHERE rn = 1),
       |bmin AS (SELECT ${idBucket("vec_id", negBuckets)} AS bucket,
       |                MIN(vec_id) AS negative_id
       |         FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1)
       |SELECT anchor, positive_id, pos_score, negative_id
       |FROM best JOIN bmin
       |  ON (${idBucket("anchor", negBuckets)} + $negSalt) % $negBuckets = bucket
       |WHERE negative_id <> anchor AND negative_id <> positive_id
       |ORDER BY anchor""".stripMargin
  }

  /** Semantic-dedup representatives
    * ([[graft.operators.Similarity.semanticKeep]]): transitive closure
    * over the LSH near-pair graph via a recursive CTE (the
    * [[nearDupClusters]] pattern on embeddings), kept = is-own-cluster.
    */
  def semanticKeep(tables: Int = 4, planes: Int = 4,
      threshold: Double = 0.35): String = {
    val pairsSql = lshNearPairs(tables, planes, threshold)
    s"""WITH RECURSIVE pairs AS (
       |$pairsSql
       |),
       |edges AS (
       |  SELECT vec_a AS a, vec_b AS b FROM pairs
       |  UNION ALL SELECT vec_b, vec_a FROM pairs),
       |reach(s, t) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a)
       |SELECT s AS vec_id, MIN(t) AS cluster, s = MIN(t) AS kept
       |FROM reach GROUP BY s ORDER BY vec_id""".stripMargin
  }

  // ── corpus-curation ops ([[graft.operators.CorpusOps]]) ──────────────

  /** FNV-1a-variant bucket of the ASCII doc-id string — mirrors
    * [[graft.operators.CorpusOps.hashBucket]] (fnv32 is non-negative,
    * so plain % == Spark's pmod). */
  private def docIdBucket(buckets: Int): String = idBucket("doc_id", buckets)

  /** [[graft.operators.CorpusOps.hashBucket]] for an arbitrary id
    * expression (fnv32 is non-negative, so plain % == Spark's pmod). */
  private def idBucket(e: String, buckets: Int): String =
    s"(${fnvOf(s"CAST($e AS VARCHAR)")}) % $buckets"

  def splitStats(trainPct: Int = 80, valPct: Int = 10): String =
    s"""WITH b AS (SELECT ${docIdBucket(100)} AS bucket, n_chars FROM documents),
       |s AS (SELECT CASE WHEN bucket < $trainPct THEN 'train'
       |                  WHEN bucket < ${trainPct + valPct} THEN 'val'
       |                  ELSE 'test' END AS split, n_chars FROM b)
       |SELECT split, COUNT(*) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  def stratifiedSampleStats(enPermille: Int = 250): String =
    s"""WITH k AS (
       |  SELECT lang, n_chars,
       |         ${docIdBucket(1000)} <
       |           CASE WHEN lang = 'en' THEN $enPermille ELSE 1000 END AS kept
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_total,
       |       COUNT(*) FILTER (WHERE kept) AS n_kept,
       |       CAST(COALESCE(SUM(n_chars) FILTER (WHERE kept), 0) AS BIGINT) AS chars_kept
       |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.packStats]]: same FNV stream
    * bucketing, same exclusive-prefix window, same double-division bin
    * arithmetic. */
  def packStats(budgetTokens: Int = 512, packBuckets: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(${docIdBucket(packBuckets)} AS BIGINT) AS pack_bucket,
       |         CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY pack_bucket
       |           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |         0) AS start_tok
       |  FROM t)
       |SELECT pack_bucket,
       |       CAST(FLOOR(start_tok / ${budgetTokens.toDouble}) AS BIGINT) AS bin_id,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       |       MIN(doc_id) AS first_doc
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.sourceMixture]]: integer
    * token sums, IEEE-exact sqrt, MAX normalizer — every float op is
    * a single identically-shaped rounding on both engines. */
  val sourceMixture: String =
    s"""$docCte,
       |per AS (
       |  SELECT d.source, COUNT(*) AS n_docs,
       |         CAST(SUM(len(t.toks)) AS BIGINT) AS tokens
       |  FROM tok t JOIN documents d USING (doc_id)
       |  GROUP BY d.source),
       |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot_tokens,
       |               MAX(tokens) AS max_tokens FROM per)
       |SELECT source, n_docs, tokens,
       |       CAST(tokens AS DOUBLE) / tot_tokens AS raw_share,
       |       sqrt(CAST(tokens AS DOUBLE)) / sqrt(CAST(max_tokens AS DOUBLE)) AS rel_weight
       |FROM per, tot ORDER BY source""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.sourceMixtureEffective]]:
    * the near-dup closure restricts token sums to cluster canonicals,
    * then the same IEEE-exact mixture arithmetic as [[sourceMixture]].
    */
  def sourceMixtureEffective(): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashPairs()}
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, t2) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t2 = e.a),
       |clusters AS (SELECT s AS doc_id, MIN(t2) AS cluster
       |             FROM reach GROUP BY s),
       |t AS (SELECT doc_id, source,
       |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |      FROM documents),
       |tc AS (SELECT doc_id, source,
       |         CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_toks
       |       FROM t),
       |per AS (
       |  SELECT tc.source, COUNT(*) AS n_docs,
       |         CAST(SUM(CASE WHEN c.cluster = tc.doc_id THEN tc.n_toks
       |                       ELSE 0 END) AS BIGINT) AS tokens
       |  FROM tc JOIN clusters c ON c.doc_id = tc.doc_id
       |  GROUP BY tc.source),
       |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot_tokens,
       |               MAX(tokens) AS max_tokens FROM per)
       |SELECT source, n_docs, tokens,
       |       CAST(tokens AS DOUBLE) / tot_tokens AS raw_share,
       |       sqrt(CAST(tokens AS DOUBLE)) / sqrt(CAST(max_tokens AS DOUBLE)) AS rel_weight
       |FROM per, tot ORDER BY source""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.mixtureSampleStats]]: same
    * sqrt/floor ppm rate, same FNV membership, integer output. */
  val mixtureSampleStats: String =
    s"""$docCte,
       |per AS (
       |  SELECT d.source, d.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens
       |  FROM tok t JOIN documents d USING (doc_id)),
       |st AS (SELECT source, CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT)
       |                        AS tokens
       |       FROM per GROUP BY 1),
       |mn AS (SELECT MIN(tokens) AS min_tokens FROM st WHERE tokens > 0),
       |r AS (SELECT source, tokens,
       |        CASE WHEN tokens > 0
       |             THEN CAST(FLOOR(sqrt(CAST(min_tokens AS DOUBLE)) /
       |                  sqrt(CAST(tokens AS DOUBLE)) * 1000000) AS BIGINT)
       |             ELSE 1000000 END AS ppm
       |      FROM st, mn),
       |k AS (SELECT per.source, per.n_tokens, r.tokens, r.ppm,
       |        (${fnvOf("CAST(doc_id AS VARCHAR)")}) % 1000000 < r.ppm AS kept
       |      FROM per JOIN r
       |        ON per.source IS NOT DISTINCT FROM r.source)
       |SELECT source, tokens, ppm,
       |       COUNT(*) AS n_docs,
       |       COUNT(*) FILTER (WHERE kept) AS n_kept,
       |       CAST(COALESCE(SUM(n_tokens) FILTER (WHERE kept), 0) AS BIGINT)
       |         AS kept_tokens
       |FROM k GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.batchPadding]]: same integer
    * length-bucket formula, same FNV stream, same per-(bucket, stream)
    * row_number batching — all integer arithmetic, so batches and the
    * padding metric are bit-identical across engines. */
  def batchPadding(batchSize: Int = 8, streams: Int = 4,
      bucketTokens: Int = 16, maxBucket: Int = 8): String =
    s"""$docCte,
       |tt AS (
       |  SELECT doc_id,
       |         CAST(COALESCE(len(toks), 0) AS BIGINT) AS n_tokens,
       |         CAST(${docIdBucket(streams)} AS BIGINT) AS stream
       |  FROM tok),
       |b AS (SELECT *, least(n_tokens // $bucketTokens, $maxBucket) AS len_bucket FROM tt),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY len_bucket, stream ORDER BY doc_id) - 1 AS rn
       |      FROM b)
       |SELECT len_bucket, stream, CAST(rn // $batchSize AS BIGINT) AS batch_id,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens,
       |       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       |       CAST(MAX(n_tokens)*COUNT(*) - SUM(n_tokens) AS BIGINT) AS padding_tokens
       |FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.paddingSweep]]: each
    * candidate's full batchPadding query re-aggregated as a subquery
    * (a subquery may carry its own WITH), integer pad shares. */
  def paddingSweep(bucketSizes: Seq[Int] = Seq(4, 16, 64),
      batchSize: Int = 8, streams: Int = 4, maxBucket: Int = 8): String =
    bucketSizes.distinct.sorted.map { b =>
      s"""SELECT $b AS bucket_tokens, COUNT(*) AS n_batches,
         |       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |       CAST(SUM(batch_tokens) AS BIGINT) AS real_tokens,
         |       CAST(SUM(padding_tokens) AS BIGINT) AS padding_tokens,
         |       (CAST(SUM(padding_tokens) AS BIGINT) * 1000000) //
         |         nullif(CAST(SUM(batch_tokens) AS BIGINT) +
         |                CAST(SUM(padding_tokens) AS BIGINT), 0) AS pad_ppm
         |FROM (
         |${batchPadding(batchSize, streams, b, maxBucket)}
         |)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY bucket_tokens")

  /** Mirrors [[graft.operators.CorpusOps.docKeywords]]: linear idf
    * (tf × N/df) in the same two IEEE double ops — deliberately no
    * `ln`, whose final-ulp differences across libm implementations
    * could flip ranks between engines. */
  def docKeywords(k: Int = 3): String =
    s"""$docCte,
       |ex AS (SELECT doc_id, unnest(toks) AS term FROM tok),
       |exf AS (SELECT doc_id, term FROM ex WHERE term <> ''),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tfc FROM exf GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |s AS (SELECT tf.doc_id, tf.term,
       |        CAST(tfc AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(dfc AS DOUBLE)) AS score
       |      FROM tf JOIN df USING (term), n),
       |r AS (SELECT doc_id, term, score,
       |        ROW_NUMBER() OVER (PARTITION BY doc_id
       |          ORDER BY score DESC, term) AS rank
       |      FROM s)
       |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
       |       round(score, 6) AS score
       |FROM r WHERE rank <= $k ORDER BY doc_id, rank""".stripMargin

  val sourceCube: String =
    """SELECT source, lang, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY CUBE (source, lang)
      |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.cleanCorpus]]: training docs
    * with NO eval shingle overlap at the threshold. */
  def cleanCorpus(evalMaxId: Long = 100, shingleN: Int = 5,
      minShared: Long = 1): String =
    s"""$docCte,
       |${shingleCteN(shingleN)},
       |$shingleHashCte,
       |ex AS (SELECT doc_id, unnest(xs) AS g FROM hx),
       |p AS (
       |  SELECT tr.doc_id AS train_doc, COUNT(*) AS shared
       |  FROM (SELECT * FROM ex WHERE doc_id >= $evalMaxId) tr
       |  JOIN (SELECT * FROM ex WHERE doc_id < $evalMaxId) ev ON tr.g = ev.g
       |  GROUP BY tr.doc_id, ev.doc_id)
       |SELECT doc_id FROM documents
       |WHERE doc_id >= $evalMaxId
       |  AND NOT EXISTS (SELECT 1 FROM p
       |                  WHERE train_doc = doc_id AND shared >= $minShared)
       |ORDER BY doc_id""".stripMargin

  def decontaminate(evalMaxId: Long = 100, shingleN: Int = 5,
      minShared: Long = 1): String =
    s"""$docCte,
       |${shingleCteN(shingleN)},
       |$shingleHashCte,
       |ex AS (SELECT doc_id, unnest(xs) AS g FROM hx),
       |p AS (
       |  SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
       |         COUNT(*) AS shared
       |  FROM (SELECT * FROM ex WHERE doc_id >= $evalMaxId) tr
       |  JOIN (SELECT * FROM ex WHERE doc_id < $evalMaxId) ev ON tr.g = ev.g
       |  GROUP BY 1, 2)
       |SELECT train_doc, eval_doc, shared FROM p
       |WHERE shared >= $minShared ORDER BY train_doc, eval_doc""".stripMargin

  /** Best-of-near-dup-cluster by quality (ties → smallest doc_id) —
    * mirrors [[graft.operators.CorpusOps.bestOfCluster]]: the same
    * recursive-closure clusters as [[nearDupClusters]] joined to the
    * same quality formula as [[quality]], argmax via a window. */
  /** Mirrors [[graft.operators.CorpusOps.corpusHealth]]: same audits
    * nested as CTEs (DuckDB allows a recursive WITH inside a CTE
    * body), same exact-integer columns. */
  def corpusHealth(evalMaxId: Long = 100, minQuality: Double = 0.65,
      lang: String = "en"): String =
    s"""WITH cont AS (
       |${decontaminate(evalMaxId)}
       |),
       |leaks AS (
       |${splitLeakage()}
       |),
       |t AS (SELECT doc_id, text,
       |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |      FROM documents),
       |tok AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks FROM t),
       |h AS (SELECT doc_id, $langHitsSelect FROM tok),
       |lp AS (SELECT doc_id, $langCaseSql AS lang_pred FROM h),
       |qv AS (SELECT doc_id, $qualityFormulaSql AS quality
       |       FROM ($qualityInputsSql)),
       |base AS (SELECT COUNT(*) AS n_docs,
       |                COUNT(DISTINCT md5(norm)) AS n_distinct_fp
       |         FROM t),
       |lc AS (SELECT COUNT(*) AS n_lang FROM lp WHERE lang_pred = '$lang'),
       |qc AS (SELECT COUNT(*) AS n_quality_pass FROM qv
       |       WHERE quality >= $minQuality),
       |cc AS (SELECT COUNT(DISTINCT train_doc) AS n_contaminated FROM cont),
       |lk AS (SELECT COUNT(*) AS n_leaky_clusters FROM leaks)
       |SELECT n_docs, n_distinct_fp,
       |       n_docs - n_distinct_fp AS n_exact_dup_docs,
       |       n_lang, n_quality_pass, n_contaminated, n_leaky_clusters
       |FROM base, lc, qc, cc, lk""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.splitLeakage]]: the
    * nearDupClusters recursive CTE + the FNV split rule, aggregated
    * per cluster, leaking clusters only. */
  def splitLeakage(numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, trainPct: Int = 80,
      valPct: Int = 10): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashPairs(numHashes, bands, threshold)}
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, t2) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t2 = e.a),
       |clusters AS (SELECT s AS doc_id, MIN(t2) AS cluster FROM reach GROUP BY s),
       |sp AS (SELECT doc_id, cluster,
       |         CASE WHEN ${docIdBucket(100)} < $trainPct THEN 'train'
       |              WHEN ${docIdBucket(100)} < ${trainPct + valPct} THEN 'val'
       |              ELSE 'test' END AS split
       |       FROM clusters)
       |SELECT cluster, COUNT(*) AS n_docs,
       |       COUNT(DISTINCT split) AS n_splits,
       |       MIN(split) AS split_a, MAX(split) AS split_b
       |FROM sp GROUP BY 1 HAVING COUNT(DISTINCT split) > 1
       |ORDER BY 1""".stripMargin

  /** Mirrors [[graft.operators.CorpusOps.repairSplits]]: the
    * splitLeakage transitive closure, with BOTH split derivations
    * (doc-id hash and cluster-id hash) emitted per document. */
  def repairSplits(numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, trainPct: Int = 80,
      valPct: Int = 10): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashPairs(numHashes, bands, threshold)}
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, t2) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t2 = e.a),
       |clusters AS (SELECT s AS doc_id, MIN(t2) AS cluster FROM reach GROUP BY s),
       |sp AS (SELECT doc_id, cluster,
       |         CASE WHEN ${docIdBucket(100)} < $trainPct THEN 'train'
       |              WHEN ${docIdBucket(100)} < ${trainPct + valPct} THEN 'val'
       |              ELSE 'test' END AS old_split,
       |         CASE WHEN ${idBucket("cluster", 100)} < $trainPct THEN 'train'
       |              WHEN ${idBucket("cluster", 100)} < ${trainPct + valPct} THEN 'val'
       |              ELSE 'test' END AS split
       |       FROM clusters)
       |SELECT doc_id, cluster, old_split, split,
       |       (old_split <> split) AS moved
       |FROM sp ORDER BY doc_id""".stripMargin

  def clusterBest(numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashPairs(numHashes, bands, threshold)}
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, t2) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t2 = e.a),
       |clusters AS (SELECT s AS doc_id, MIN(t2) AS cluster FROM reach GROUP BY s),
       |t AS (SELECT doc_id, text,
       |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |      FROM documents),
       |tok AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks FROM t),
       |qv AS (SELECT doc_id,
       |       $qualityFormulaSql
       |        AS quality
       |      FROM ($qualityInputsSql)),
       |j AS (SELECT c.cluster, q.doc_id, q.quality
       |      FROM clusters c JOIN qv q USING (doc_id)),
       |b AS (SELECT cluster, doc_id, quality,
       |             ROW_NUMBER() OVER (PARTITION BY cluster
       |               ORDER BY quality DESC, doc_id) AS rn,
       |             COUNT(*) OVER (PARTITION BY cluster) AS n_docs
       |      FROM j)
       |SELECT cluster, n_docs, doc_id AS best_doc_id, quality AS best_quality
       |FROM b WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** PII redaction chain — same patterns, same order as
    * [[graft.functions.TextFunctions.redactPii]] (the patterns avoid
    * backrefs/lookaround so Java regex and RE2 agree; 'g' because
    * DuckDB replaces only the first match by default). */
  val piiRedact: String = {
    val email = TextFunctions.EmailPiiPattern
    val ssn = TextFunctions.SsnPiiPattern
    val phone = TextFunctions.PhonePiiPattern
    s"""WITH r AS (
       |  SELECT doc_id,
       |         regexp_replace(regexp_replace(regexp_replace(text,
       |           '$email', '<email>', 'g'),
       |           '$ssn', '<ssn>', 'g'),
       |           '$phone', '<phone>', 'g') AS red
       |  FROM documents)
       |SELECT doc_id, md5(red) AS redacted_md5,
       |       length(red) AS redacted_len
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Snapshot diff against the deterministic synthetic next crawl
    * ([[graft.operators.CorpusOps.syntheticNextSnapshot]]): the oracle
    * rebuilds the same snapshot in SQL and recomputes the md5
    * fingerprints — both engines emit lowercase-hex md5 over UTF-8
    * bytes, so statuses and digests are hash-exact.
    */
  val corpusDiff: String =
    """WITH newsnap AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 11 = 0),
      |o AS (SELECT doc_id, md5(COALESCE(text, '')) AS old_fp FROM documents),
      |n AS (SELECT doc_id, md5(COALESCE(text, '')) AS new_fp FROM newsnap),
      |d AS (
      |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.old_fp, n.new_fp,
      |         CASE WHEN o.old_fp IS NULL THEN 'added'
      |              WHEN n.new_fp IS NULL THEN 'removed'
      |              WHEN o.old_fp <> n.new_fp THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT doc_id, status, old_fp, new_fp FROM d
      |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin

  def sourceOverlap(numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): String =
    s"""WITH pairs AS (
       |${minhashPairs(numHashes, bands, threshold)}
       |),
       |j AS (
       |  SELECT least(a.source, b.source) AS source_lo,
       |         greatest(a.source, b.source) AS source_hi
       |  FROM pairs p
       |  JOIN documents a ON a.doc_id = p.doc_a
       |  JOIN documents b ON b.doc_id = p.doc_b)
       |SELECT source_lo, source_hi, COUNT(*) AS n_pairs
       |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val sourceStats: String =
    """SELECT source, lang, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val langConfusion: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |  FROM documents),
       |tok AS (SELECT doc_id, lang, string_split(norm, ' ') AS toks FROM t),
       |h AS (SELECT lang AS lang_label, $langHitsSelect FROM tok)
       |SELECT lang_label, $langCaseSql AS lang_pred, COUNT(*) AS n_docs
       |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Mirrors [[graft.operators.EventAnalytics.typeTransitions]]: same
    * lead tie-break (ts, event_id), same integer counts, ONE terminal
    * division per row. */
  val typeTransitions: String =
    """WITH x AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |g AS (SELECT event_type, next_type, COUNT(*) AS n_trans,
      |             COUNT(DISTINCT user_id) AS n_users
      |      FROM x WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, n_trans, n_users,
      |       CAST(n_trans AS DOUBLE) /
      |         CAST(SUM(n_trans) OVER (PARTITION BY event_type) AS DOUBLE)
      |         AS p_next
      |FROM g ORDER BY 1, 2""".stripMargin

  /** Mirrors [[graft.operators.TextAnalysis.searchTopK]]: identical
    * mid-frequency query-term derivation (rank window over the corpus
    * vocabulary, Zipf head skipped), identical BIGINT tf×(N−df)
    * scoring, identical (score desc, doc_id) rank tie-break. */
  def searchTopK(nTerms: Int = 6, termsPerQuery: Int = 2,
      skipTop: Int = 20, k: Int = 10): String =
    s"""$docCte,
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf
       |       FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
       |       WHERE term <> '' GROUP BY 1, 2),
       |v AS (SELECT term, SUM(tf) AS ctf, COUNT(DISTINCT doc_id) AS df
       |      FROM tf GROUP BY 1),
       |r AS (SELECT term, df,
       |        ROW_NUMBER() OVER (ORDER BY ctf DESC, term) AS rn
       |      FROM v),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |q AS (SELECT CAST((rn - 1 - $skipTop) // $termsPerQuery AS BIGINT)
       |               AS query_id,
       |             term, n_docs - df AS w
       |      FROM r, n WHERE rn > $skipTop AND rn <= ${skipTop + nTerms}),
       |s AS (SELECT query_id, doc_id,
       |             CAST(SUM(tf * w) AS BIGINT) AS score,
       |             COUNT(*) AS n_hit_terms
       |      FROM tf JOIN q USING (term) GROUP BY 1, 2),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY score DESC, doc_id) AS rank FROM s)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score,
       |       n_hit_terms
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Mirrors [[graft.operators.TextAnalysis.collocations]]: same
    * 1-based adjacent pairs, same BIGINT marginals re-aggregated from
    * the pair counts, one division of exact < 2^53 products. */
  def collocations(minCount: Int = 3, k: Int = 50): String =
    s"""$docCte,
       |bgi AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM tok),
       |bp AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM bgi
       |       WHERE toks[i] <> '' AND toks[i + 1] <> ''),
       |p AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bp GROUP BY 1, 2),
       |l AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_left
       |      FROM p GROUP BY 1),
       |r AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_right
       |      FROM p GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_total FROM p)
       |SELECT w1, w2, n_pair, n_left, n_right,
       |       (CAST(n_pair AS DOUBLE) * CAST(n_total AS DOUBLE)) /
       |         (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)) AS lift
       |FROM p JOIN l USING (w1) JOIN r USING (w2), tot
       |WHERE n_pair >= $minCount
       |ORDER BY lift DESC, w1, w2 LIMIT $k""".stripMargin

  /** Mirrors [[graft.operators.Similarity.embeddingOutliers]]: the
    * knnIvf stand-in-codebook cell assignment (score desc, cid
    * tie-break == the engine's first-max argmax over a cid-ascending
    * book), bottom-k by UNROUNDED score with vec_id tie-break. */
  def embeddingOutliers(k: Int = 25, nCentroids: Int = 16): String =
    s"""WITH $unitCte,
       |cent AS (SELECT vec_id AS cid, un AS cu FROM u WHERE vec_id < $nCentroids),
       |assigned AS (
       |  SELECT vec_id, cid, score FROM (
       |    SELECT e.vec_id, c.cid, ${dotSql("e.un", "c.cu")} AS score,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.un", "c.cu")} DESC, c.cid) AS crn
       |    FROM u e, cent c WHERE e.un IS NOT NULL) WHERE crn = 1)
       |SELECT vec_id, cid, round(score, 6) AS centroid_score
       |FROM assigned ORDER BY score ASC, vec_id LIMIT $k""".stripMargin
}
