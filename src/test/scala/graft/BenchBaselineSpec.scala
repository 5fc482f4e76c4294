package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench v4 baseline parser: it must round-trip the exact
  * one-line artifact shape `Bench.main` emits, and degrade to None —
  * never throw — on anything else (missing file, partial artifact,
  * malformed JSON). A parse regression here silently disables the
  * suspect re-timing pass, so the shape is spec-pinned.
  */
class BenchBaselineSpec extends AnyFunSuite {

  private def withTemp(content: String)(f: String => Unit): Unit = {
    val p = Files.createTempFile("bench-baseline", ".json")
    try {
      Files.write(p, content.getBytes(StandardCharsets.UTF_8))
      f(p.toString)
    } finally Files.delete(p)
  }

  test("round-trips the emitted artifact shape") {
    val line =
      """{"metric":"total","value":93.4,"unit":"sec","queries":{"q_agg":1.25,"q_knn":0.5,"q_neg":-1.0,"q_sci":1.2E-3},"sf":"/x","warmup":"/x","passes":2,"sweep":true,"leaked":0,"regime":"pass-major-rotate-v4","sentinel_s":0.129}"""
    withTemp(line) { path =>
      val Some(b) = Bench.loadBaseline(path)
      assert(b.sentinel == 0.129)
      assert(b.regime == "pass-major-rotate-v4")
      assert(b.queries == Map("q_agg" -> 1.25, "q_knn" -> 0.5, "q_neg" -> -1.0, "q_sci" -> 1.2e-3))
      // a pre-r19 artifact has no drift_watch — parses empty, not None
      assert(b.watch.isEmpty)
    }
    // the phase split (construct_s/plan_s/exec_s) sits right after
    // "queries" and reuses its keys — the timings still come only from
    // the `"queries":{` object
    val phased =
      """{"metric":"total","value":1.75,"unit":"sec","gc_s":{"q_agg":0.01,"q_knn":0.0},"queries":{"q_agg":1.25,"q_knn":0.5},"construct_s":{"q_agg":0.25,"q_knn":0.125},"plan_s":{"q_agg":0.5,"q_knn":0.125},"exec_s":{"q_agg":0.5,"q_knn":0.25},"sf":"/x","passes":2,"regime":"pass-major-rotate-v5","sentinel_s":0.1,"drift_watch":{"q_knn":1.2}}"""
    withTemp(phased) { path =>
      val Some(b) = Bench.loadBaseline(path)
      assert(b.queries == Map("q_agg" -> 1.25, "q_knn" -> 0.5),
        s"timing misread from a phase object: ${b.queries}")
      assert(b.regime == Bench.Regime && b.sentinel == 0.1)
      assert(b.watch == Map("q_knn" -> 1.2))
    }
    // a pre-regime artifact parses with an empty tag (never compared
    // raw against a tagged run — the caller's mismatch check handles it)
    withTemp("""{"queries":{"q":1.0},"sentinel_s":0.2}""") { p =>
      val Some(b) = Bench.loadBaseline(p)
      assert(b.regime == "")
    }
  }

  test("parses the r18 artifact shape: diagnostic objects precede queries") {
    // jit_s/cleaned_n/cleaner_pending (and gc_s) sit BEFORE "queries"
    // and reuse query names as keys — the flat-object scan must anchor
    // on the literal `"queries":{` marker, never on a diagnostic
    // object, or every timing would be misread as its own gc/jit value
    val line =
      """{"metric":"total","value":9.9,"unit":"sec","gc_s":{"q_agg":0.5},"jit_s":{"q_agg":7.7},"cleaned_n":{"q_agg":123},"cleaner_pending":{"q_agg":6000},"queries":{"q_agg":1.25},"sf":"/x","passes":2,"regime":"pass-major-rotate-v4","sentinel_s":0.1,"isolated_s":{},"isolated_gc_s":{},"isolated_jit_s":{},"isolated_cleaned_n":{},"isolated_pending":{}}"""
    withTemp(line) { path =>
      val Some(b) = Bench.loadBaseline(path)
      assert(b.sentinel == 0.1)
      assert(b.queries == Map("q_agg" -> 1.25),
        s"timing misread from a diagnostic object: ${b.queries}")
    }
  }

  test("the tracked baseline carries the bench-only train entries under the live regime") {
    // the suspect pass adjudicates *_train_bench drift exactly like
    // registry queries IFF the tracked bench.json carries them under
    // the current regime tag — a baseline refresh that dropped them
    // would silently blind the pass to the suite's most expensive
    // entry's drift, so the precondition is pinned here
    val Some(base) = Bench.loadBaseline("bench.json")
    val (qs, sent, regime) = (base.queries, base.sentinel, base.regime)
    assert(regime == Bench.Regime,
      s"tracked baseline regime '$regime' != live '${Bench.Regime}' — " +
        "every run would skip the suspect pass until a refresh")
    assert(sent > 0)
    assert(SparkEntry.benchQueries.nonEmpty)
    for (k <- SparkEntry.benchQueries.keys)
      assert(qs.get(k).exists(_ > 0),
        s"tracked bench.json lost bench-only entry $k — its drift " +
          "would be invisible to the suspect pass")
  }

  test("parses the r19 drift_watch object for the compounding trigger") {
    // drift_watch reuses query names as keys and sits AFTER "queries";
    // both objects must parse independently — the compounding-drift
    // trigger reads the BASELINE's watch list, so a parse regression
    // here silently disables two-consecutive-moves adjudication
    val line =
      """{"metric":"total","value":9.9,"unit":"sec","queries":{"q_agg":1.25,"q_train":4.4},"regime":"pass-major-rotate-v4","sentinel_s":0.1,"suspect_ratio":{},"drift_watch":{"q_train":1.13},"suspect_jit_share":{},"isolated_s":{}}"""
    withTemp(line) { path =>
      val Some(b) = Bench.loadBaseline(path)
      assert(b.queries == Map("q_agg" -> 1.25, "q_train" -> 4.4),
        s"queries contaminated by a later query-keyed object: ${b.queries}")
      assert(b.watch == Map("q_train" -> 1.13),
        s"drift_watch misparsed: ${b.watch}")
    }
  }

  test("suspect selection: over-threshold first, compounding promoted, capped") {
    val norm = Map(
      "q_big" -> 2.0,    // over the 1.5 suspect threshold
      "q_bigger" -> 3.0, // over, worse — must sort first
      "q_comp" -> 1.2,   // sub-threshold BUT on the baseline watch → promoted
      "q_fresh" -> 1.2,  // sub-threshold, NOT on the baseline watch → watch-only
      "q_flat" -> 1.0,   // no drift
      "q_faster" -> 0.7) // improvement — never a suspect
    val baseWatch = Map("q_comp" -> 1.15, "q_gone" -> 1.3)
    val (got, _) = Bench.selectSuspects(norm, baseWatch,
      watchThreshold = 1.1, suspectThreshold = 1.5, max = 12)
    assert(got == Seq("q_bigger" -> 3.0, "q_big" -> 2.0, "q_comp" -> 1.2),
      s"selection wrong: $got")
    // the cap keeps worst offenders
    assert(Bench.selectSuspects(norm, baseWatch, 1.1, 1.5, 1)._1 ==
      Seq("q_bigger" -> 3.0))
    // a baseline-watch entry that did NOT move again this run is not
    // promoted (q_gone), and an empty baseline watch promotes nothing
    assert(Bench.selectSuspects(norm, Map.empty, 1.1, 1.5, 12)._1 ==
      Seq("q_bigger" -> 3.0, "q_big" -> 2.0))
  }

  test("qualifying beyond the cap is COUNTED (watch_overflow), never silent") {
    // 14 queries over the suspect threshold + 2 compounding promotions
    // against a 12 cap: selection keeps the worst 12, and the overflow
    // arithmetic the artifact's "watch_overflow" field carries must
    // say 4 — r19 hit exactly this shape (16 qualifying vs cap 12)
    // with no trace in the artifact
    val norm = (1 to 14).map(i => f"q_over_$i%02d" -> (1.6 + i * 0.01)).toMap ++
      Map("q_comp_a" -> 1.2, "q_comp_b" -> 1.15, "q_flat" -> 1.0)
    val baseWatch = Map("q_comp_a" -> 1.3, "q_comp_b" -> 1.12)
    val (capped, overflow) = Bench.selectSuspects(norm, baseWatch,
      watchThreshold = 1.1, suspectThreshold = 1.5, max = 12)
    assert(capped.size + overflow == 16,
      s"expected 16 qualifying: $capped + $overflow dropped")
    assert(capped.size == 12)
    // worst offenders survive the cap; the overflow count is exact
    assert(capped.head._1 == "q_over_14")
    assert(overflow == 4)
    // no overflow when everything fits
    assert(Bench.selectSuspects(Map("q" -> 2.0), Map.empty, 1.1, 1.5, 12) ==
      (Seq("q" -> 2.0), 0))
  }

  test("drift normalization: a uniformly-slowed run yields zero watch entries") {
    // the r21 close artifact's 9 drift-watch entries were all sentinel
    // over-correction; the suite-median estimator makes a pure
    // environment change (every query slowed/sped the same factor)
    // normalize to exactly 1.0 — no phantom watch entries
    val raw = (1 to 40).map(i => f"q_$i%02d" -> 1.7).toMap
    val drift = Bench.robustDrift(raw.values, sentinelDrift = 1.0)
    assert(drift == 1.7)
    val norm = raw.map { case (k, v) => k -> v / drift }
    assert(norm.values.forall(v => math.abs(v - 1.0) < 1e-9))
    assert(norm.count(_._2 >= 1.1) == 0, "uniform drift produced watch entries")
    // robust to a minority of genuinely-changed queries: one real
    // regression and one real improvement do not move the estimator
    val mixed = raw ++ Map("q_reg" -> 5.0, "q_opt" -> 0.3)
    assert(Bench.robustDrift(mixed.values, 1.0) == 1.7)
    // small-N fallback (filtered SPARK_GRAFT_ONLY runs): the median
    // would be dominated by the queries under study — sentinel stays
    assert(Bench.robustDrift(Seq(2.0, 2.0, 2.0), 1.3) == 1.3)
    // even-N median is the midpoint of the two middles
    assert(Bench.robustDrift((1 to 16).map(_.toDouble), 1.0) == 8.5)
  }

  test("summary line: bounded under 1900 chars, headline fields present") {
    // the driver captures a 2000-char stdout tail; the final line must
    // always fit it WITH sbt's trailing [success] line, whatever the
    // run produced — worst-case list inputs are capped, spec-pinned
    val failed = (1 to 30).map(i => s"q_very_long_failed_query_name_$i")
    val suspects = (1 to 12).map(i =>
      s"q_very_long_suspect_query_name_$i" -> (2.0 + i))
    val s = Bench.summaryLine(86.612345, "/root/testdata/sf0.1", "32", 2, 0,
      0.127, Bench.Regime, 143, failed, suspects, 0.78, 1.01, 9, 0)
    assert(s.length < 1900, s"summary too long: ${s.length}")
    // the strings are bounded too: a 5,000-char sf dir and 200-char
    // query names in both lists still fit
    val longName = (i: Int) => f"q_$i%02d_" + "x" * 195
    val sLong = Bench.summaryLine(86.612345, "/d" * 2500, "32", 2, 0, 0.127,
      Bench.Regime, 143, (1 to 30).map(longName),
      (1 to 12).map(i => longName(i) -> (2.0 + i)), 0.78, 1.01, 9, 0)
    assert(sLong.length < 1900, s"summary too long: ${sLong.length}")
    assert(sLong.contains("\"n_failed\":30") && sLong.endsWith("}"))
    for (k <- Seq("\"metric\":\"total\"", "\"value\":86.612345",
        "\"unit\":\"sec\"", "\"cpus\":32", "\"sentinel_s\":0.127",
        "\"regime\":", "\"n_queries\":143", "\"n_failed\":30",
        "\"queries_file\":\"bench.json\"", "\"summary\":true"))
      assert(s.contains(k), s"missing $k in $s")
    assert(s.startsWith("{") && s.endsWith("}") && !s.contains("\n"))
    // non-numeric cpus (a hostile env var) still emits valid JSON
    val s2 = Bench.summaryLine(1.0, "/x", "8\"x", 1, 0, 0.1, Bench.Regime,
      1, Nil, Nil, -1.0, -1.0, 0, 0)
    assert(s2.contains("\"cpus\":\"8\\\"x\""))
    // a short sf path is kept whole
    assert(s2.contains("\"sf\":\"/x\""))
  }

  test("a baseline at another scale factor, or with no sf, skips the suspect pass") {
    val line = (sf: String) =>
      s"""{"metric":"total","queries":{"q_agg":1.25},$sf"regime":"${Bench.Regime}","sentinel_s":0.1}"""
    withTemp(line(""""sf":"/data/sf0.1",""")) { path =>
      val Some(b) = Bench.loadBaseline(path)
      assert(b.sf == "/data/sf0.1")
      assert(Bench.incomparable(b, "/data/sf0.1").isEmpty)
      val why = Bench.incomparable(b, "/data/sf0.01")
      assert(why.exists(w => w.contains("/data/sf0.1") && w.contains("/data/sf0.01")),
        s"an sf0.01 run was adjudicated against an sf0.1 baseline: $why")
    }
    withTemp(line("")) { path =>
      val Some(b) = Bench.loadBaseline(path)
      assert(b.sf == "" && Bench.incomparable(b, "/data/sf0.1").isDefined)
    }
    // the regime arm still wins over a matching sf
    withTemp(line(""""sf":"/data/sf0.1",""").replace(Bench.Regime, "v4")) { path =>
      val Some(b) = Bench.loadBaseline(path)
      assert(Bench.incomparable(b, "/data/sf0.1").exists(_.contains("regime")))
    }
  }

  test("missing file, missing sentinel, empty queries, garbage → None") {
    assert(Bench.loadBaseline("/nonexistent/bench.json").isEmpty)
    withTemp("""{"queries":{"q":1.0}}""") { p =>
      assert(Bench.loadBaseline(p).isEmpty) // no sentinel
    }
    withTemp("""{"queries":{},"sentinel_s":0.1}""") { p =>
      assert(Bench.loadBaseline(p).isEmpty) // no queries
    }
    withTemp("not json at all") { p =>
      assert(Bench.loadBaseline(p).isEmpty)
    }
  }
}
