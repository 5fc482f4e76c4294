package graft.cli

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KafkaRecordSource

/** Pure-function coverage of the CLI/Kafka plumbing that cannot run
  * against a live broker in this environment.
  */
class CliSpec extends AnyFunSuite {

  test("arg parsing covers the reference's flag surface") {
    val opts = Main.parse(List("-t", "events", "-b", "k1:9092,k2:9092",
      "-c", "--librdkafka", "fetch.min.bytes=1,queue.buffering.max.ms=1000"),
      Map.empty)
    assert(opts("topic") == "events")
    assert(opts("bootstrap") == "k1:9092,k2:9092")
    assert(opts.contains("alive"))
    assert(opts("librdkafka") == "fetch.min.bytes=1,queue.buffering.max.ms=1000")
    assert(!opts.contains("unknown"))
  }

  test("unknown arguments are captured for strict clap-style rejection") {
    val opts = Main.parse(List("-t", "events", "--bogus", "-x"), Map.empty)
    assert(opts("topic") == "events")
    assert(opts("unknown") == "--bogus") // first unknown wins
    assert(Main.parse(List("--compat"), Map.empty).contains("compat"))
  }

  test("clap's attached --flag=value form parses; values keep embedded '='") {
    val opts = Main.parse(List("--topic=events",
      "--librdkafka=auto.offset.reset=earliest,fetch.min.bytes=1",
      "--bootstrap-server=k1:9092"), Map.empty)
    assert(opts("topic") == "events")
    assert(opts("bootstrap") == "k1:9092")
    // only the FIRST '=' splits — librdkafka entries carry their own
    assert(opts("librdkafka") == "auto.offset.reset=earliest,fetch.min.bytes=1")
    assert(!opts.contains("unknown") && !opts.contains("missing-value"))
    // a non-value flag given an attached value is an error (clap
    // refuses it too, with a different message)
    assert(Main.parse(List("--compat=true"), Map.empty).contains("unknown"))
  }

  test("an attached value beginning with '-' binds literally, like clap") {
    // clap v2 accepts `--topic=-part` verbatim (only DETACHED values
    // may not look like flags); the '=' form must not expand into a
    // flag + stray token
    val opts = Main.parse(List("--topic=-part", "--bootstrap-server=-b:9092"),
      Map.empty)
    assert(opts("topic") == "-part")
    assert(opts("bootstrap") == "-b:9092")
    assert(!opts.contains("unknown") && !opts.contains("missing-value"))
    // and an attached value that spells a real flag is still a value
    assert(Main.parse(List("--topic=--compat"), Map.empty)("topic") == "--compat")
  }

  test("a repeated flag is captured for clap-style duplicate rejection") {
    val opts = Main.parse(List("-t", "a", "--topic", "b"), Map.empty)
    assert(opts("duplicate") == "--topic") // the re-occurrence's spelling
    assert(opts("topic") == "b")
    // boolean flags repeat-error too, like clap's default
    assert(Main.parse(List("-c", "-c"), Map.empty)("duplicate") == "-c")
    assert(!Main.parse(List("-t", "a", "-b", "x"), Map.empty)
      .contains("duplicate"))
  }

  test("a trailing value-taking flag reports missing-value, not unknown") {
    val opts = Main.parse(List("-t"), Map.empty)
    assert(opts("missing-value") == "-t")
    assert(!opts.contains("unknown"))
    assert(Main.parse(List("--parquet"), Map.empty)("missing-value") == "--parquet")
  }

  test("a value-taking flag never swallows the next flag as its value") {
    // clap rejects `-t --compat`; the flag-looking token must survive
    val opts = Main.parse(List("-t", "--compat", "--parquet", "/data"), Map.empty)
    assert(opts("missing-value") == "-t")
    assert(!opts.contains("topic"))
    assert(opts.contains("compat")) // still parsed, not consumed as a value
    assert(opts("parquet") == "/data")
    val o2 = Main.parse(List("--parquet", "-c"), Map.empty)
    assert(o2("missing-value") == "--parquet" && o2.contains("alive"))
  }

  test("randomized round trip: any rendering of an assignment parses back exactly") {
    // serialize a known assignment into a random legal arg list —
    // random flag order, random attached/detached form per value flag,
    // random short/long spelling — and require parse() to recover the
    // assignment with no unknown/missing-value/duplicate. Dash-leading
    // and '='-carrying values ride the attached form (the only legal
    // rendering, as in clap). A round trip, not a mirror model.
    val rnd = new scala.util.Random(1713)
    val valueFlags = Seq(
      ("topic", Seq("-t", "--topic")),
      ("bootstrap", Seq("-b", "--bootstrap-server")),
      ("librdkafka", Seq("--librdkafka")),
      ("parquet", Seq("--parquet")))
    val boolFlags = Seq(
      ("alive", Seq("-c", "--count-alive-keys")),
      ("compat", Seq("--compat")))
    val plainVals = Seq("events", "k1:9092,k2:9092", "x=1,y=2", "/data/sf")
    val dashVals = Seq("-part", "--compat", "-x=y")
    for (_ <- 0 until 300) {
      val chosenV = valueFlags.filter(_ => rnd.nextBoolean())
      val chosenB = boolFlags.filter(_ => rnd.nextBoolean())
      val rendered = new scala.util.Random(rnd.nextLong()).shuffle(
        chosenV.map { case (key, spellings) =>
          val dashy = rnd.nextInt(4) == 0
          val v =
            if (dashy) dashVals(rnd.nextInt(dashVals.length))
            else plainVals(rnd.nextInt(plainVals.length))
          // a dash-leading value's only legal rendering is the
          // attached long form; otherwise pick spelling + form freely
          val sp =
            if (dashy) spellings.find(_.startsWith("--")).get
            else spellings(rnd.nextInt(spellings.length))
          val attached = sp.startsWith("--") && (dashy || rnd.nextBoolean())
          (key, v, if (attached) Seq(s"$sp=$v") else Seq(sp, v))
        } ++ chosenB.map { case (key, spellings) =>
          (key, "true", Seq(spellings(rnd.nextInt(spellings.length))))
        })
      val args = rendered.flatMap(_._3).toList
      val opts = Main.parse(args, Map.empty)
      for (bad <- Seq("unknown", "missing-value", "duplicate"))
        assert(!opts.contains(bad),
          s"args=$args flagged $bad=${opts.get(bad)}")
      rendered.foreach { case (key, v, _) =>
        assert(opts.get(key).contains(v), s"args=$args key=$key got=$opts")
      }
      assert(opts.size == rendered.size, s"extra keys: $opts from $args")
    }
  }

  test("librdkafka pass-through gets the kafka. option prefix; junk dropped") {
    val m = Main.parseLibrdkafka(Some("fetch.min.bytes=1,junk,isolation.level=read_committed"))
    assert(m == Map("kafka.fetch.min.bytes" -> "1",
      "kafka.isolation.level" -> "read_committed"))
    assert(Main.parseLibrdkafka(None).isEmpty)
  }

  test("kafka batch options: bounded scan defaults, user overrides win") {
    val opts = KafkaRecordSource.batchOptions("b:9092", "t",
      Map("startingOffsets" -> "latest", "kafka.fetch.min.bytes" -> "1")).toMap
    assert(opts("subscribe") == "t")
    assert(opts("endingOffsets") == "latest")
    assert(opts("startingOffsets") == "latest") // user override last wins
    assert(opts("kafka.fetch.min.bytes") == "1")
    val stream = KafkaRecordSource.streamOptions("b:9092", "t", Map.empty).toMap
    assert(!stream.contains("endingOffsets")) // unbounded
  }

  test("--parquet end-to-end: parse -> source -> analyze -> report, in the CLI core") {
    val spark = graft.SparkSuite.spark
    val opts = Main.parse(
      List("--parquet", "/root/testdata/sf0.001", "-c", "--compat"), Map.empty)
    assert(!opts.contains("unknown") && !opts.contains("missing-value"))
    val records =
      graft.sources.EventsAsRecords.records(spark, opts("parquet"))
    val out = Main.analyzeAndRender(records, opts, opts("parquet"),
      System.nanoTime())
    assert(out.isRight, s"CLI core failed: $out")
    val report = out.toOption.get
    // the full 15-column report rendered with the alive-key column
    // populated (the -c path) and the compat legend present
    assert(report.contains("K = Key, V = Value, P = Partition"))
    assert(report.contains("/root/testdata/sf0.001"))
    assert(report.linesIterator.size > 8)
  }

  test("-c reads the source twice: the stats pass is the empty guard") {
    // stats pass + alive keys, each scanning sf0.001's 1,000 events; a
    // separate isEmpty probe job would add a third full scan (the
    // EventsAsRecords offset window needs every row before limit 1)
    val spark = graft.SparkSuite.spark
    val opts = Main.parse(List("--parquet", "/root/testdata/sf0.001", "-c"),
      Map.empty)
    val records = graft.sources.EventsAsRecords.records(spark, opts("parquet"))
    val (out, run) = graft.RunRecorder(spark).window {
      Main.analyzeAndRender(records, opts, "t", System.nanoTime())
    }
    assert(out.isRight, s"CLI core failed: $out")
    assert(run.inputRecords == 2 * 1000L,
      s"expected 2 scans of 1,000 records, read ${run.inputRecords}")
  }

  test("--parquet end-to-end: the empty guard takes the compat exit text") {
    val spark = graft.SparkSuite.spark
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      graft.model.RecordSchema.schema)
    assert(Main.analyzeAndRender(empty, Map("compat" -> "true"), "t", 0L) ==
      Left("Given topic has no content, no analysis possible. Exiting."))
    assert(Main.analyzeAndRender(empty, Map.empty, "t", 0L) ==
      Left("The topic is empty, exiting."))
  }
}
