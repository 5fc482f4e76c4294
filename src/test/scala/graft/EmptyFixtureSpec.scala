package graft

/** Whole-registry EXECUTION gate over an all-empty fixture — the
  * degenerate input a 100 TB deployment is guaranteed to feed every
  * operator eventually (an empty partition of a date-partitioned
  * corpus, a filter that matched nothing upstream, a brand-new topic).
  * [[QueryContractSpec]] proves every registered query ANALYZES
  * against the live fixture; this spec proves every one EXECUTES on
  * zero rows: an analytics query over an empty corpus must return an
  * empty (or identity-aggregate) result, never throw. The class of
  * bug it hunts is driver-side peeking at data-dependent state —
  * `.head()` on an empty stats frame, a max that came back null and
  * got unboxed, a seed book derived from no vectors — which
  * per-operator specs only catch for the operators someone thought to
  * probe, and which detonates in production as a crashed stage on the
  * one empty slice of ten thousand.
  *
  * The empty fixture is the LIVE sf0.001 schema with zero rows (each
  * table re-written via limit(0)), so schema drift in the driver's
  * generator propagates here automatically. Persisted-artifact
  * queries build their scratch stores FROM the empty fixture (the
  * scratch key embeds the data dir), so index build-on-empty and
  * probe-on-empty are both under the gate.
  */
class EmptyFixtureSpec extends SparkSuite {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Run every registered + bench-only query against `dir`, executing
    * (not just analyzing) each; returns (name, first error line) per
    * crash, releasing embedded checkpoint storage either way. */
  private def executeRegistry(dir: String): Seq[(String, String)] =
    (SparkEntry.queries ++ SparkEntry.benchQueries)
      .toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        var df: Option[org.apache.spark.sql.DataFrame] = None
        try {
          val d = fn(spark, dir); df = Some(d)
          d.collect()
          StorageHygiene.releaseAndSweep(spark, "degenerate", name, df)
          None
        } catch {
          case e: Throwable =>
            StorageHygiene.releaseAndSweep(spark, "degenerate", name, df,
              cleanRun = false)
            Some(name -> Option(e.getMessage).flatMap(
              _.linesIterator.nextOption()).getOrElse(e.getClass.getName))
        }
      }

  test("every registered query EXECUTES on an all-empty fixture") {
    val dst = java.nio.file.Files.createTempDirectory("graft-empty").toString
    try {
      tables.foreach { t =>
        spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
          .limit(0).coalesce(1)
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      val broken = executeRegistry(dst)
      assert(broken.isEmpty,
        s"${broken.size} queries crash on an empty corpus:\n" +
          broken.map { case (n, m) => s"  $n: $m" }.mkString("\n"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dst))
  }

  test("every registered query EXECUTES when every payload column is null") {
    // the OTHER guaranteed-at-scale degenerate shape: a shard whose
    // rows exist but whose payloads are all null (a broken extractor
    // upstream, a schema-evolved column the old files lack). Keys stay
    // non-null — a null id is store corruption, which loud failure
    // serves better than tolerance — but every value-carrying column
    // of the LLM-pipeline tables is nulled: documents.text/lang/
    // source/n_chars, embeddings.embedding/label, events.ts/event_type/
    // value/props. TPC-H tables copy through unchanged (their
    // non-nullable relational semantics are the reference's contract,
    // and the DuckDB oracles assume it too).
    val nulled: Map[String, Set[String]] = Map(
      "documents" -> Set("text", "lang", "source", "n_chars"),
      "embeddings" -> Set("embedding", "label"),
      "events" -> Set("ts", "event_type", "value", "props"))
    val dst = java.nio.file.Files.createTempDirectory("graft-nulls").toString
    try {
      tables.foreach { t =>
        val src = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        val out = nulled.get(t).fold(src) { cols =>
          src.select(src.columns.map(c =>
            if (cols(c))
              org.apache.spark.sql.functions.lit(null)
                .cast(src.schema(c).dataType).as(c)
            else org.apache.spark.sql.functions.col(c)): _*)
        }
        out.coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      val broken = executeRegistry(dst)
      assert(broken.isEmpty,
        s"${broken.size} queries crash on all-null payloads:\n" +
          broken.map { case (n, m) => s"  $n: $m" }.mkString("\n"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dst))
  }

  test("every registered query EXECUTES on poisoned payloads") {
    // third degenerate shape: rows exist, payloads PRESENT but
    // adversarial — the dirty tail a 100 TB corpus is guaranteed to
    // contain. Text: empty, whitespace-only, control chars, a 10k-char
    // run, numeric-looking strings, multi-script unicode. Embeddings:
    // NaN / ±Inf elements, all-zero (zero norm), EMPTY array, a null
    // ELEMENT, a wrong-dimension vector. Events: NaN / ±Inf / -0.0 /
    // 1e308 values, epoch-0 and pre-1970 timestamps, malformed props
    // JSON. Keys keep their real values so joins/groupings execute.
    // The gate asserts crash-freedom, not output values — the hygiene
    // contracts (what gets filtered vs scored) are pinned per-operator.
    import org.apache.spark.sql.functions._
    val dst = java.nio.file.Files.createTempDirectory("graft-poison").toString
    try {
      tables.foreach { t =>
        val src = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        val out = t match {
          case "documents" =>
            val cases = Seq(
              lit(""), lit("   \n\t  "), lit("\u0000\u0001ctrl\u0007"),
              lit("x" * 10000), lit("NaN Inf -inf 1e308"),
              lit("🦀 日本語 العربية"),
              lit("x"), lit(null).cast("string"))
            val poisonText = cases.zipWithIndex.tail.foldLeft(
              when(col("doc_id") % cases.size === 0, cases.head)) {
              case (w, (c, i)) => w.when(col("doc_id") % cases.size === i, c)
            }
            // 160 rows = 20 per poison class: the classes are what the
            // gate exercises, and 500 docs × 10k-char runs would spend
            // minutes on the near-dup family's positional shingles for
            // no added class coverage
            src.orderBy(col("doc_id")).limit(160)
              .select(col("doc_id"), poisonText.as("text"),
                when(col("doc_id") % 3 === 0, lit("")).otherwise(col("lang"))
                  .as("lang"),
                when(col("doc_id") % 5 === 0, lit("")).otherwise(col("source"))
                  .as("source"),
                lit(-1L).as("n_chars"))
          case "embeddings" =>
            val dim = 64 // the live fixture's (and LshDims') width
            def const(x: Double) =
              array(Seq.fill(dim)(lit(x.toFloat)): _*)
            val withNull = array((lit(null).cast("float") +:
              Seq.fill(dim - 1)(lit(0.5f))): _*)
            val poison = when(col("vec_id") % 6 === 0, const(Double.NaN))
              .when(col("vec_id") % 6 === 1, const(Double.PositiveInfinity))
              .when(col("vec_id") % 6 === 2, const(0.0)) // zero norm
              .when(col("vec_id") % 6 === 3, array().cast("array<float>"))
              .when(col("vec_id") % 6 === 4, withNull)
              .otherwise(array(lit(1.0f), lit(2.0f))) // wrong dimension
            src.select(col("vec_id"), poison.as("embedding"),
              lit(-1).as("label"))
          case "events" =>
            val poisonV = when(col("event_id") % 6 === 0, lit(Double.NaN))
              .when(col("event_id") % 6 === 1, lit(Double.PositiveInfinity))
              .when(col("event_id") % 6 === 2, lit(Double.NegativeInfinity))
              .when(col("event_id") % 6 === 3, lit(-0.0))
              .when(col("event_id") % 6 === 4, lit(1e308))
              .otherwise(col("value"))
            // the fixture's ts encoding has drifted across driver
            // versions (TIMESTAMP(NANOS) read as long under the conf,
            // vs TIMESTAMP_NTZ) — poison in whichever type it reads as
            val tsT = src.schema("ts").dataType
            def tsLit(epochSec: Long) = tsT match {
              case org.apache.spark.sql.types.LongType =>
                lit(epochSec * 1000000000L) // nanos
              case other =>
                lit(new java.sql.Timestamp(epochSec * 1000L)).cast(other)
            }
            val poisonTs = when(col("event_id") % 4 === 0, tsLit(-3600L))
              .when(col("event_id") % 4 === 1, tsLit(0L))
              .otherwise(col("ts"))
            val poisonProps = when(col("event_id") % 5 === 0, lit("{"))
              .when(col("event_id") % 5 === 1, lit(""))
              .when(col("event_id") % 5 === 2, lit("null"))
              .otherwise(col("props"))
            src.select(col("event_id"), poisonTs.as("ts"), col("user_id"),
              col("event_type"), poisonV.as("value"),
              poisonProps.as("props"))
          case _ => src
        }
        out.coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      val broken = executeRegistry(dst)
      assert(broken.isEmpty,
        s"${broken.size} queries crash on poisoned payloads:\n" +
          broken.map { case (n, m) => s"  $n: $m" }.mkString("\n"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dst))
  }
}
