package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level engine-discipline audit, pinned as a test: the
  * scale-review checklist (driver-side materialization, cartesian
  * joins, RDD drops, UDFs, imperative partition loops) greps the main
  * tree and compares per-file counts against a JUSTIFIED allowlist.
  * A new `.collect()` (etc.) anywhere fails here with intent: either
  * the new site is bounded/justified — add it WITH its bound — or it
  * is a scale bug caught before it ships. Counts also fail when an
  * allowlisted site disappears, so the list cannot rot.
  */
class SourceDisciplineSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def countIn(pattern: String, under: Path): Map[String, Int] = {
    val re = pattern.r
    Files.walk(under).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .map { p =>
        val body = new String(Files.readAllBytes(p), "UTF-8")
        // strip string literals FIRST (a "//" inside one — s3://… —
        // must not truncate the code after it: that would blind the
        // audit to a real violation), then line comments, so prose
        // mentioning a pattern doesn't count. Block comments are left
        // in: a pattern there fails LOUDLY (allowlist mismatch) rather
        // than silently passing — the safe direction for an audit.
        val code = body
          .replaceAll("\"\"\"(?s).*?\"\"\"", "\"\"")
          .replaceAll("\"(\\\\.|[^\"\\\\])*\"", "\"\"")
          .linesIterator
          .map(l => l.indexOf("//") match {
            case -1 => l
            case i  => l.substring(0, i)
          })
          .mkString("\n")
        p.toString -> re.findAllIn(code).length
      }
      .filter(_._2 > 0)
      .toMap
  }

  private def audit(what: String, pattern: String,
      allow: Map[String, Int], under: Path = root): Unit = {
    val got = countIn(pattern, under)
    val unexpected = got.filter { case (f, n) => allow.getOrElse(f, 0) != n }
    val vanished = allow.keys.filterNot(got.contains)
    assert(unexpected.isEmpty && vanished.isEmpty,
      s"$what sites changed.\n" +
        s"  unexpected/changed: ${unexpected.toSeq.sorted.mkString(", ")}\n" +
        s"  vanished (stale allowlist): ${vanished.toSeq.sorted.mkString(", ")}\n" +
        "Every site must be bounded and justified — update the allowlist " +
        "WITH the bound, or fix the scale bug.")
  }

  test("every driver-side collect() is a bounded one") {
    // bounds, per file (the round-5 verdict's audit, now executable):
    //   TopicAnalyzer    O(#partitions) report rows
    //   AliveKeys        two 1-row aggregates
    //   CorpusOps        O(bins) histogram longs (token budget) + the
    //                    serialized eval-shingle Bloom sketch
    //                    (numBits/8 bytes, never rows — decontaminateBloom)
    //   EventAnalytics   O(#types), O(targets×1024) histogram counts,
    //                    O(1024) bin prefix counts (radix rank/select),
    //                    and planSpendBins' two per-level histograms —
    //                    O(1024) counts per hot bin, never rows
    //   Similarity       k×dims codebooks (documented IVF trade); PQ
    //                    adds ksub seed rows + m×ksub×(dims/m)
    //                    sub-centroid means per training iteration —
    //                    codebook-sized, never corpus rows; the
    //                    persisted-index reader adds the two codebook
    //                    sidecars + the probed-cell id list
    //                    (≤ queries × nProbes values, the static
    //                    partition-pruning predicate)
    //   TopicMetrics     1-row global summary
    //   Bpe              ONE row per merge round (the argmax pair) —
    //                    the codebook pattern, never word rows
    //   Dedup            assignDedupLabels' driver-local closure:
    //                    ≤ DriverEdgeCap+1 batch-graph edge rows
    //                    (limit-probed bound; above it the iterative
    //                    path runs and nothing is collected)
    audit("collect()", raw"\.collect\(\)", Map(
      "src/main/scala/graft/TopicAnalyzer.scala" -> 1,
      // the multi-JVM fired-guard probe: collects distinct
      // (executorId, pid, canary) triples — ≤ #executors rows by
      // construction (the distinct() runs cluster-side), and only
      // under a local-cluster master; never a data path
      "src/main/scala/graft/Verify.scala" -> 1,
      // canonicalHash in the golden-format GATE tooling: collects the
      // deliberately tiny committed fixture (≤60 rows) to hash it —
      // never a corpus path
      "src/main/scala/graft/tools/GoldenStoreGen.scala" -> 1,
      "src/main/scala/graft/operators/AliveKeys.scala" -> 2,
      "src/main/scala/graft/operators/Bpe.scala" -> 1,
      "src/main/scala/graft/operators/CorpusOps.scala" -> 2,
      // Dedup: assignDedupLabels' and labelPropagate's bounded-graph
      // probes — both limit(DriverEdgeCap + 1) reads of an
      // already-materialized edge checkpoint, never corpus rows
      "src/main/scala/graft/operators/Dedup.scala" -> 2,
      "src/main/scala/graft/operators/EventAnalytics.scala" -> 4,
      "src/main/scala/graft/operators/Similarity.scala" -> 9,
      "src/main/scala/graft/operators/TopicMetrics.scala" -> 1))
  }

  test("every crossJoin is a broadcast 1-row scalar subquery") {
    // all eleven are the Q22 idiom: broadcast(1-row aggregate) ⨯ frame
    // (CorpusOps: token-budget total + mixtureTail's totals scalar —
    // ONE site since r15 serves both sourceMixture and
    // sourceMixtureEffective — + mixtureRates' min-tokens scalar +
    // corpusHealth's two audit scalars; TextAnalysis: searchTopK's
    // corpus-size scalar onto the ≤26-row query-term table +
    // collocations' bigram-total scalar onto the minCount-pruned
    // pairs)
    audit("crossJoin", raw"\.crossJoin\(", Map(
      "src/main/scala/graft/operators/CorpusOps.scala" -> 5,
      "src/main/scala/graft/operators/DecisionSupport.scala" -> 1,
      "src/main/scala/graft/operators/Relational.scala" -> 1,
      "src/main/scala/graft/operators/Similarity.scala" -> 2,
      "src/main/scala/graft/operators/TextAnalysis.scala" -> 2))
  }

  test("mapPartitions only where no expression can express the op") {
    // Multimodal: batched binary decode/encode loops (codec calls —
    // PNG + WAV generators and decoders) — the one imperative shape;
    // everything else is declarative/codegen'd
    audit("mapPartitions", raw"\.mapPartitions\(", Map(
      "src/main/scala/graft/operators/Multimodal.scala" -> 6))
  }

  test("no Scala UDFs; no raw RDD drops outside the internals bridge") {
    audit("udf()", raw"\budf\(", Map.empty)
    // ColumnBridge: the documented narrow internals bridge (checkpoint
    // block release needs the RDD id). Verify (3 token matches): the
    // fetch-chaos sweep's injection point — the ONE supported way to
    // throw a fetch failure is from inside a task of the plan's own
    // RDD (gated on SPARK_GRAFT_FETCH_CHAOS; the canonical dump never
    // drops to RDD) — plus the lineage walk's `Dependency.rdd` access
    // and the `org.apache.spark.rdd.RDD` type name in its signature
    // (metadata-only, no data ever leaves the Dataset plan)
    audit(".rdd", raw"\.rdd\b", Map(
      "src/main/scala/graft/Verify.scala" -> 3,
      "src/main/scala/org/apache/spark/sql/graftbridge/ColumnBridge.scala" -> 1))
  }

  test("GraftSession is the only session builder, main and test trees alike") {
    // one conf for the CLI, Bench, Verify, the tools and the suite: a
    // second builder is how plan dumps drifted off Bench's conf before
    audit("session builder", raw"SparkSession\.builder\(", Map(
      "src/main/scala/graft/GraftSession.scala" -> 1), Paths.get("src"))
  }

  test("no main-tree code sets a conf on a live session") {
    // GraftSession resolves every session's conf before the session
    // exists; a reader that set one on the session it was handed
    // changed the conf of every later query on that session
    audit("conf.set", raw"\.conf\.set\(", Map.empty)
  }

  test("fixture tables are read through Tables; other reads are own stores") {
    // Tables holds the <dir>/<name>.parquet layout. Every other site
    // reads back a store its own module persisted:
    //   Similarity   readPqBooks' three PQ-index sidecars (coarse book,
    //                PQ book, residual flag) + the epoched codes
    //                table's active base
    //   Dedup        nearDupClustersBucketed's final labels file +
    //                the index and label stores' meta sidecars
    //   EpochedTable the committed ingest batch dirs + the active
    //                epoch's base dir
    //   CorpusStore  readSlice over the hive-partitioned corpus store
    //                its own write laid out
    audit("read.parquet", raw"\.read\.parquet\(", Map(
      "src/main/scala/graft/sources/Tables.scala" -> 1,
      "src/main/scala/graft/operators/Similarity.scala" -> 4,
      "src/main/scala/graft/operators/Dedup.scala" -> 3,
      "src/main/scala/graft/sources/EpochedTable.scala" -> 2,
      "src/main/scala/graft/sources/CorpusStore.scala" -> 1))
  }
}
