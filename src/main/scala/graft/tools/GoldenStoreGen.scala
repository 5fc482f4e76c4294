package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.operators.{CorpusOps, Dedup, Similarity}
import graft.sources.{EpochedTable, Tables}

/** Generator + shared read surface for the persisted-format golden
  * store (`src/test/resources/golden/v1`). At 100 TB the persisted
  * artifacts — epoched tables, dedup label/index stores, PQ indexes,
  * sketch tables — outlive any single deploy: rebuilding them on a
  * format change costs corpus-scale compute, so the at-rest layout is
  * a COMPATIBILITY CONTRACT, not an implementation detail. The golden
  * store pins it: bytes written ONCE by the build that defined v1 are
  * committed, and GoldenFormatSpec asserts the CURRENT build still
  * reads them to byte-identical results. A failing spec means the
  * at-rest format or its read semantics changed — either restore
  * compatibility or consciously regenerate as v2 alongside a
  * documented migration story (never silently).
  *
  * `readers` is the ONE definition of what gets read and hashed —
  * the generator prints each artifact's canonical hash for pinning,
  * and the spec replays the same readers against the committed bytes.
  *
  * Usage: runMain graft.tools.GoldenStoreGen <outDir>
  */
object GoldenStoreGen {

  /** Content hash independent of row/partition order: rows rendered
    * as JSON (binary → base64 at ANY nesting depth, field names
    * included — Row.toString would print JVM array identity for
    * byte[] and silently drop column renames), sorted, then fed to
    * SHA-256 with a per-row delimiter (an undelimited concatenation
    * would let equal-cardinality multisets collide on text containing
    * the rows' own boundary characters). */
  def canonicalHash(df: DataFrame): (Long, String) = {
    val rows = df.toJSON.collect().sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** The deterministic probe frames both the generator and the spec
    * use — defined once so the hashes they produce are comparable. */
  def fixtureDocs(spark: SparkSession, fixtureDir: String): DataFrame =
    Tables.documents(spark, fixtureDir)
      .filter(col("doc_id") < 60)

  def fixtureBatch(spark: SparkSession, fixtureDir: String): DataFrame =
    Tables.documents(spark, fixtureDir)
      .filter(col("doc_id") >= 60 && col("doc_id") < 72)

  def fixtureEmb(spark: SparkSession, fixtureDir: String): DataFrame =
    Tables.embeddings(spark, fixtureDir)
      .filter(col("vec_id") < 96)

  def fixtureQueries(spark: SparkSession, fixtureDir: String): DataFrame =
    Tables.embeddings(spark, fixtureDir)
      .filter(col("vec_id") < 6)

  /** Every golden artifact's read path, (name, reader). Readers may
    * return frames with embedded checkpoints — the caller releases. */
  def readers(spark: SparkSession, goldenDir: String,
      fixtureDir: String): Seq[(String, () => DataFrame)] = Seq(
    "epoched" -> (() =>
      EpochedTable(s"$goldenDir/epoched", "t", Seq("id", "v")).read(spark)),
    "labels" -> (() =>
      Dedup.readDedupLabels(spark, s"$goldenDir/labels")),
    "dedup_incremental" -> (() =>
      Dedup.dedupIncrementalIndexed(s"$goldenDir/dedup_index",
        fixtureBatch(spark, fixtureDir))),
    "pq_knn" -> (() =>
      Similarity.knnIvfPqIndexed(s"$goldenDir/pq", fixtureEmb(spark, fixtureDir),
        fixtureQueries(spark, fixtureDir), k = 3)),
    "sketches" -> (() =>
      CorpusOps.readDistinctSketches(spark, s"$goldenDir/sketches")),
    "sketches_dashboard" -> (() =>
      CorpusOps.sourceDistinctFromSketches(
        CorpusOps.readDistinctSketches(spark, s"$goldenDir/sketches"))))

  def main(args: Array[String]): Unit = {
    // the arity check must cover BOTH forms: a bare `--hashes` would
    // otherwise reach args(1) and die with ArrayIndexOutOfBounds
    // instead of this usage message
    require(args.nonEmpty && (args(0) != "--hashes" || args.length >= 2),
      "usage: GoldenStoreGen <outDir> [fixtureDir] | --hashes <goldenDir> [fixtureDir]")
    // --hashes: READ-ONLY re-pin over an existing store — for when
    // the hash definition (not the format) changes, or to print a
    // committed store's current read-back without touching its bytes
    if (args(0) == "--hashes") {
      val goldenDir = args(1)
      val fixtureDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
      val spark = GraftSession(GraftSession.BenchLayout)
      readers(spark, goldenDir, fixtureDir).foreach { case (name, rd) =>
        val df = rd()
        val (n, h) = canonicalHash(df)
        graft.StorageHygiene.releaseAndSweep(spark, "golden-hashes", name, Some(df))
        println(s"""GOLDEN "$name" -> ($n""" + s"""L, "$h"),""")
      }
      spark.stop()
      return
    }
    val out = args(0)
    // a fresh dir only: re-running over an existing store trips the
    // stores' own replay/recycled-id protections (batch ids restart)
    // and silently generates a DIFFERENT, degenerate lifecycle shape
    require(!new java.io.File(out).exists(),
      s"golden out dir $out already exists — rm it first (generation " +
        "must start from scratch)")
    val fixtureDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession(GraftSession.BenchLayout)
    import spark.implicits._

    val docs = fixtureDocs(spark, fixtureDir)
    val emb = fixtureEmb(spark, fixtureDir)

    // 1. epoched table through its full lifecycle: base, ingest,
    //    compaction, post-compaction ingest — the read must assemble
    //    generation base + surviving batches
    val t = EpochedTable(s"$out/epoched", "t", Seq("id", "v"))
    t.replaceWith(Seq(1L -> 10L, 2L -> 20L, 3L -> 30L).toDF("id", "v"))
    t.appendBatch(Seq(4L -> 40L, 5L -> 50L).toDF("id", "v"), batchId = 0L)
    t.compact(spark)
    t.appendBatch(Seq(6L -> 60L).toDF("id", "v"), batchId = 1L)

    // 2-5. the four production stores
    Dedup.writeDedupLabels(docs, s"$out/labels")
    Dedup.writeDedupIndex(docs, s"$out/dedup_index")
    Similarity.writePqIndex(emb, s"$out/pq")
    CorpusOps.writeDistinctSketches(docs, s"$out/sketches")

    readers(spark, out, fixtureDir).foreach { case (name, rd) =>
      val df = rd()
      val (n, h) = canonicalHash(df)
      graft.StorageHygiene.releaseAndSweep(spark, "golden-gen", name, Some(df))
      println(s"""GOLDEN "$name" -> ($n""" + s"""L, "$h"),""")
    }
    spark.stop()
  }
}
