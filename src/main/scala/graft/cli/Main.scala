package graft.cli

import graft.{GraftSession, TopicAnalyzer}
import graft.sources.{EventsAsRecords, KafkaRecordSource}

/** CLI entry — the reference's flag surface (`src/main.rs:32-67`):
  *
  *   -t/--topic <name>              topic to analyze (required in kafka mode)
  *   -b/--bootstrap-server <hosts>  Kafka bootstrap servers
  *   -c/--count-alive-keys          also count last-write-wins alive keys
  *   --librdkafka k=v[,k=v...]      pass-through consumer config
  *                                  (`src/main.rs:84-92`)
  *   --parquet <sfDir>              read the events fixture mapping
  *                                  instead of Kafka (test/dev mode)
  *   --compat                       reference-fidelity report layout
  *                                  (second-truncated timestamps,
  *                                  `src/metric.rs:210-211`)
  *
  * Clap-surface fidelity (`src/main.rs:32-67`): long flags accept the
  * attached `--topic=events` form as well as the detached one;
  * unknown arguments, value-taking flags without a value, and
  * REPEATED flags are each rejected with exit 1 and a clap-shaped
  * message (clap errors on a duplicate rather than last-wins). Exit
  * codes: -2 (=254) on empty topic (`src/main.rs:98-101`), 1 on bad
  * usage.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    // strict unknown-arg rejection, like the reference's clap parser
    opts.get("unknown").foreach { u =>
      System.err.println(s"error: Found argument '$u' which wasn't expected, or isn't valid in this context")
      sys.exit(1)
    }
    opts.get("missing-value").foreach { f =>
      System.err.println(s"error: The argument '$f' requires a value but none was supplied")
      sys.exit(1)
    }
    opts.get("duplicate").foreach { f =>
      System.err.println(s"error: The argument '$f' was provided more " +
        "than once, but cannot be used multiple times")
      sys.exit(1)
    }
    val topic = opts.get("topic")
    val parquetDir = opts.get("parquet")
    if (topic.isEmpty && parquetDir.isEmpty) {
      System.err.println(
        "usage: graft [-t topic -b servers [--librdkafka k=v,...] | --parquet sfDir] [-c]")
      sys.exit(1)
    }
    val spark = GraftSession(GraftSession.CliLayout)
    val t0 = System.nanoTime()
    val records = parquetDir match {
      case Some(dir) => EventsAsRecords.records(spark, dir)
      case None =>
        new KafkaRecordSource(
          opts.getOrElse("bootstrap", "localhost:9092"), topic.get,
          Main.parseLibrdkafka(opts.get("librdkafka")))
          .records(spark)
    }
    analyzeAndRender(records, opts, topic.orElse(parquetDir).get, t0) match {
      case Left(msg) =>
        System.err.println(msg)
        spark.stop()
        sys.exit(-2)
      case Right(report) =>
        println(report)
        spark.stop()
    }
  }

  /** The post-source CLI core — analyze, empty-topic guard
    * (`src/main.rs:98-101`; compat mode echoes the reference's error!
    * text verbatim), render. The guard reads the stats pass itself: zero
    * partition rows means an empty topic, and `analyze` then skips the
    * alive-key job, so no separate probe job scans the source.
    * Session-agnostic and exit-free so tests can drive the exact
    * `--parquet` end-to-end path in-JVM; `main` owns the process
    * concerns (stderr, exit −2, session stop) around it.
    */
  private[cli] def analyzeAndRender(
      records: org.apache.spark.sql.DataFrame, opts: Map[String, String],
      label: String, t0: Long): Either[String, String] = {
    val result = TopicAnalyzer.analyze(records, opts.contains("alive"))
    if (result.partitionStats.isEmpty)
      Left(
        if (opts.contains("compat"))
          "Given topic has no content, no analysis possible. Exiting."
        else "The topic is empty, exiting.")
    else {
      val elapsed = (System.nanoTime() - t0) / 1000000000L
      Right(TopicAnalyzer.report(
        result, label, elapsed, opts.contains("compat")))
    }
  }

  /** The `--librdkafka k=v[,k=v...]` list as Spark Kafka-source
    * options (`kafka.` prefix, like the reference passes raw consumer
    * config through, `src/main.rs:84-92`). Malformed entries (no '=')
    * are dropped.
    */
  private[cli] def parseLibrdkafka(arg: Option[String]): Map[String, String] =
    arg.map(_.split(',').toSeq
      .map(_.split("=", 2)).collect { case Array(k, v) => s"kafka.$k" -> v }
      .toMap).getOrElse(Map.empty)

  /** A token in flag position (clap never accepts a detached `-x` as
    * a value — but DOES accept one that arrived attached: `--topic=-x`
    * binds `-x` verbatim, so attached tokens bypass this check). */
  private def flagLike(v: Tok): Boolean = !v.attached && v.text.startsWith("-")

  /** A parse token: `attached` marks a value that arrived glued to its
    * flag (`--topic=events`), which clap binds literally — even when
    * it looks like a flag — where a detached one would be refused. */
  private final case class Tok(text: String, attached: Boolean = false)

  /** Expand clap's attached long form: `--topic=events` parses like
    * `--topic events`, with the value tagged `attached` so a leading
    * '-' stays a literal value (`--topic=-part` binds `-part`, as
    * clap does). Only the FIRST '=' splits — `--librdkafka
    * auto.offset.reset=earliest` values embed their own '='. A
    * non-value flag given an attached value (`--compat=true`) expands
    * to flag + stray token and is rejected as unknown — an error, as
    * clap makes it, if with a different message. */
  private def expand(args: List[String]): List[Tok] = args.flatMap {
    case a if a.startsWith("--") && a.contains('=') =>
      val i = a.indexOf('=')
      List(Tok(a.substring(0, i)), Tok(a.substring(i + 1), attached = true))
    case a => List(Tok(a))
  }

  /** Record `key -> value`, flagging the FIRST re-occurrence: clap
    * errors on a repeated argument rather than silently last-wins,
    * and a script passing `-t a -t b` deserves the same refusal here.
    */
  private def put(acc: Map[String, String], key: String, flag: String,
      value: String): Map[String, String] = {
    val dup =
      if (acc.contains(key) && !acc.contains("duplicate"))
        Map("duplicate" -> flag)
      else Map.empty[String, String]
    acc ++ dup + (key -> value)
  }

  private[cli] def parse(args: List[String],
      acc: Map[String, String]): Map[String, String] =
    parseLoop(expand(args), acc)

  @annotation.tailrec
  private def parseLoop(args: List[Tok],
      acc: Map[String, String]): Map[String, String] = args match {
    case Tok(f @ ("-t" | "--topic"), false) :: v :: rest if !flagLike(v) =>
      parseLoop(rest, put(acc, "topic", f, v.text))
    case Tok(f @ ("-b" | "--bootstrap-server"), false) :: v :: rest
        if !flagLike(v) =>
      parseLoop(rest, put(acc, "bootstrap", f, v.text))
    case Tok(f @ ("-c" | "--count-alive-keys"), false) :: rest =>
      parseLoop(rest, put(acc, "alive", f, "true"))
    case Tok(f @ "--librdkafka", false) :: v :: rest if !flagLike(v) =>
      parseLoop(rest, put(acc, "librdkafka", f, v.text))
    case Tok(f @ "--parquet", false) :: v :: rest if !flagLike(v) =>
      parseLoop(rest, put(acc, "parquet", f, v.text))
    case Tok(f @ "--compat", false) :: rest =>
      parseLoop(rest, put(acc, "compat", f, "true"))
    // a value-taking flag with no value — trailing, or followed by
    // another flag (which clap refuses to consume as a value) — is a
    // distinct usage error; misreporting it as "unknown" (or silently
    // swallowing the next flag as its value) would be wrong. The
    // flag-looking token stays in the stream for normal parsing.
    case Tok(f @ ("-t" | "--topic" | "-b" | "--bootstrap-server" |
               "--librdkafka" | "--parquet"), false) :: rest =>
      parseLoop(rest, if (acc.contains("missing-value")) acc
        else acc + ("missing-value" -> f))
    case Nil => acc
    // record the FIRST unknown argument; main rejects it (exit 1) the
    // way the reference's clap parser does — parse stays sys.exit-free
    // so specs can exercise it
    case other :: rest =>
      parseLoop(rest, if (acc.contains("unknown")) acc
        else acc + ("unknown" -> other.text))
  }
}
