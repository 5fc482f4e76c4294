package graft

import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  * A small warmup job first absorbs session/codegen startup so query
  * timings measure the plans, not JVM warmup.
  *
  * Block-manager hygiene: after every query execution (warmup and
  * timed, outside the timed window) the embedded checkpoint storage is
  * released via [[StorageHygiene.run]]'s release step and the session is
  * asserted back to its persistent-RDD fixed point (empty). Without
  * this, iterative operators' label checkpoints accumulate across the
  * suite and block-manager pressure bleeds into every LATER query's
  * timing — measured at 3.5–4× on queries alphabetically after the
  * dedup family. A leak that survives the release is LOUD (stderr +
  * a "leaked" counter in the JSON), never silently absorbed.
  */
object Bench {
  /** Timing-methodology tag, stamped into the artifact and REQUIRED to
    * match on the baseline before the suspect pass compares timings —
    * bump it whenever the measurement procedure or artifact schema
    * changes (warmup policy, rotation, quiesce, sentinel, fields) so
    * artifacts from different regimes are never compared raw.
    * v2 = pass-major rotation + quiesce (round 6); v3 adds the
    * end-of-run min-of-5 sentinel; v4 adds the self-adjudicating
    * suspect pass — "suspect_ratio" (sentinel-normalized in-suite vs
    * baseline) and "isolated_s" (post-suite min-of-5 isolated
    * re-timings of the worst offenders); v5 sizes the generated-class
    * cache to the registry (spark.sql.codegen.cache.maxEntries, r21):
    * the default 100-entry cache cannot hold ~143 plans' classes, so
    * the warmup's compiled classes were evicted before the timed pass
    * re-ran them and every window paid Janino + C2 again — 55.7 s of
    * in-window JIT on a 78.4 s 30-query subset; 37.0 s / 50.5 s with
    * the cache sized (matched sentinels). Timings shift broadly
    * (down), so v4 artifacts are not comparable raw. Purely DIAGNOSTIC fields
    * (gc_s in r17; jit_s / cleaned_n / cleaner_pending and their
    * isolated_* twins in r18; drift_watch / suspect_jit_share in r19;
    * the construct_s / plan_s / exec_s split of the same window) do not
    * bump the regime: timings and their methodology are
    * untouched, so baselines stay comparable. Likewise the r19
    * compounding-drift trigger only ADDS entries to the isolated
    * re-timing pass (suspect SELECTION, not measurement), so it rides
    * v4.
    */
  private[graft] val Regime = "pass-major-rotate-v5"

  /** Sentinel-normalized in-suite/baseline ratio over which a query is
    * a suspect and gets an isolated re-timing. */
  private val SuspectRatio = 1.5

  /** Cap on isolated re-timings, worst offenders first, so a
    * drift-heavy run cannot double the suite's wall clock. */
  private val MaxSuspects = 12

  /** Ratio at or over which a query enters the artifact's drift_watch;
    * a query on the baseline's watch that moves this much again is
    * promoted to the re-timing pass (the compounding trigger). */
  private val WatchRatio = 1.1

  /** A parsed prior artifact: per-query seconds, the sentinel
    * yardstick, the regime tag ("" on pre-v2 artifacts), the run's
    * drift-watch list (empty when the artifact predates it) and its
    * scale-factor dir ("" when absent). */
  private[graft] case class Baseline(queries: Map[String, Double],
      sentinel: Double, regime: String, watch: Map[String, Double],
      sf: String)

  /** Why `b` cannot adjudicate a run of this regime over `sfDir`, or
    * None when it can. Timings from another regime compare
    * methodologies, not plans; timings from another scale factor
    * compare data sizes, and their sentinel ratio reads as machine
    * drift (an sf0.01 run against an sf0.1 baseline normalized every
    * query by a phantom 1.86x). A baseline without an `sf` cannot show
    * it matches, so it is skipped too. */
  private[graft] def incomparable(b: Baseline, sfDir: String): Option[String] =
    if (b.regime != Regime)
      Some(s"regime '${b.regime}', this run is '$Regime' — cross-regime " +
        "timings are not comparable")
    else if (b.sf != sfDir)
      Some(s"sf '${b.sf}', this run is '$sfDir' — timings at another " +
        "scale factor are not comparable")
    else None

  /** Suspect selection for the isolated re-timing pass, given this
    * run's sentinel-normalized per-query ratios vs the baseline and
    * the BASELINE's drift-watch list: everything over the suspect
    * threshold (worst first), then the compounding sub-threshold
    * entries — on the baseline's watch AND ≥ the watch threshold
    * again this run, i.e. two consecutive same-direction moves —
    * capped at `max`. Also returns how many qualifying entries the cap
    * dropped, the artifact's `watch_overflow`: r19 produced 16 watch
    * entries against the 12 cap, and a worst-case next round would
    * have skipped 4 compounding entries' adjudication with no trace in
    * the artifact. Pure, called by main as is and spec-pinned
    * (BenchBaselineSpec): a selection regression here silently blinds
    * the adjudication pass.
    */
  private[graft] def selectSuspects(norm: Map[String, Double],
      baseWatch: Map[String, Double], watchThreshold: Double,
      suspectThreshold: Double, max: Int): (Seq[(String, Double)], Int) = {
    val over = norm.filter(_._2 > suspectThreshold).toSeq.sortBy(-_._2)
    val compounding = norm.filter { case (name, r) =>
      r >= watchThreshold && r <= suspectThreshold &&
        baseWatch.get(name).exists(_ >= watchThreshold)
    }.toSeq.sortBy(-_._2)
    val qualifying = over ++ compounding
    (qualifying.take(max), (qualifying.size - max).max(0))
  }

  /** Environment-drift estimator for watch/suspect normalization.
    * The sentinel (one trivial 2-stage query) is a machine yardstick,
    * but its sensitivity profile differs from the suite's (it carries
    * no JIT/cleaner load), so normalizing per-query ratios by the
    * sentinel ratio alone over-corrects — the r21 close artifact's 9
    * drift-watch entries were ALL sentinel over-correction (sentinel
    * 0.163→0.127 while real queries moved less). With enough
    * comparable queries the suite's own MEDIAN raw ratio is the
    * strictly better environment estimator (robust to the minority of
    * genuinely-changed queries); below `minN` comparable entries
    * (filtered SPARK_GRAFT_ONLY runs) the median would be dominated by
    * the very queries under study, so the sentinel ratio stays the
    * normalizer there. A uniformly-slowed machine yields median =
    * slowdown ⇒ every normalized ratio is exactly 1.0 ⇒ zero watch
    * entries (spec-pinned). Selection-only: timings and their
    * methodology are untouched, so the regime tag does not bump (the
    * r19 precedent).
    */
  private[graft] def robustDrift(rawRatios: Iterable[Double],
      sentinelDrift: Double, minN: Int = 16): Double = {
    val xs = rawRatios.toArray.sorted
    val n = xs.length
    if (n < minN) sentinelDrift
    else if (n % 2 == 1) xs(n / 2)
    else (xs(n / 2 - 1) + xs(n / 2)) / 2.0
  }

  /** JSON string body: an env-provided path with a quote or backslash
    * must not produce unparseable JSON. */
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def ms(v: Double): String = (math.rint(v * 1000) / 1000).toString

  private def cpusJson(cpus: String) =
    if (cpus.nonEmpty && cpus.forall(_.isDigit)) cpus else "\"" + esc(cpus) + "\""

  /** The compact machine-readable run summary printed as the FINAL
    * stdout line. The full artifact line is ~20 KB (5 query-keyed
    * diagnostic objects + the isolated_* family) and the queries map
    * alone is ~3.7 KB — consumers that capture a bounded stdout tail
    * (the round driver keeps 2000 chars) could never see a complete
    * JSON object, so two rounds of PERF comparisons ran blind. This
    * line carries the headline numbers and pointers and is guaranteed
    * under 1900 chars (suspect/failed lists are capped, the sf path
    * keeps its last 120 chars and each query name its first 64; sizes
    * are spec-pinned); the full per-query artifact is unchanged and
    * lives in bench.json plus the earlier stdout line.
    */
  private[graft] def summaryLine(total: Double, sfDir: String, cpus: String,
      passes: Int, leaked: Long, sentinel: Double, regime: String,
      nQueries: Int, failed: Seq[String], suspects: Seq[(String, Double)],
      driftSentinel: Double, driftUsed: Double, watchN: Int,
      watchOverflow: Int): String = {
    def name(q: String) = esc(q.take(64))
    val sf = if (sfDir.length <= 120) sfDir else "..." + sfDir.takeRight(117)
    val failedJson = failed.take(8).map("\"" + name(_) + "\"")
      .mkString("[", ",", "]")
    val suspectsJson = suspects.take(5)
      .map { case (k, v) => "\"" + name(k) + "\":" + ms(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","sf":"${esc(sf)}","cpus":${cpusJson(cpus)},"passes":$passes,"regime":"${esc(regime)}","sentinel_s":$sentinel,"leaked":$leaked,"n_queries":$nQueries,"n_failed":${failed.size},"failed":$failedJson,"drift_sentinel":${ms(driftSentinel)},"drift_used":${ms(driftUsed)},"watch_n":$watchN,"watch_overflow":$watchOverflow,"suspects":$suspectsJson,"queries_file":"bench.json","summary":true}"""
  }

  /** Parse one flat (string→number) object by its literal marker; the
    * first '}' after the marker closes it. Empty map when absent. */
  private def flatObj(text: String, marker: String): Map[String, Double] = {
    val start = text.indexOf(marker)
    val end = if (start < 0) -1 else text.indexOf('}', start)
    if (start < 0 || end < 0) Map.empty
    else """"([^"]+)"\s*:\s*(-?[0-9.eE+\-]+)""".r
      .findAllMatchIn(text.substring(start + marker.length, end))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Parse a prior one-line bench artifact (the exact shape this main
    * emits at the bottom): per-query seconds from the flat
    * `"queries":{...}` object, the `"sentinel_s"` yardstick, the
    * `"regime"` tag (empty string when absent — pre-v2 artifacts), the
    * `"drift_watch"` list (empty when absent — pre-r19 artifacts) and
    * the `"sf"` dir (empty string when absent).
    * Returns None when the file is missing, unparseable, or carries no
    * usable sentinel — the suspect re-timing pass simply doesn't run
    * then. A ~20-line manual parse keeps the binary dependency-free;
    * both numeric shapes the emitter produces (plain and scientific
    * notation) are accepted.
    */
  private[graft] def loadBaseline(path: String): Option[Baseline] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isReadable(p)) None
      else {
        val text = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val sent = """"sentinel_s"\s*:\s*(-?[0-9.eE+\-]+)""".r
          .findFirstMatchIn(text).map(_.group(1).toDouble)
        val regime = """"regime"\s*:\s*"([^"]*)"""".r
          .findFirstMatchIn(text).map(_.group(1)).getOrElse("")
        val sf = """"sf"\s*:\s*"([^"]*)"""".r
          .findFirstMatchIn(text).map(_.group(1)).getOrElse("")
        val qs = flatObj(text, "\"queries\":{")
        if (qs.isEmpty || sent.isEmpty) None
        else Some(Baseline(qs, sent.get, regime,
          flatObj(text, "\"drift_watch\":{"), sf))
      }
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the bench measures the correctness registry PLUS the bench-only
    // train-time twins (Lloyd's paths — recall-gated in specs, never
    // oracle-checkable, but their cost is worth tracking round over
    // round; see SparkEntry.benchQueries). Because they live in this
    // SAME registry, the v4 suspect pass adjudicates them exactly like
    // registry queries — in-suite vs baseline, sentinel-normalized,
    // isolated re-timing on breach. (They had no adjudication in r15
    // only because they were new: no baseline entry existed to compare
    // against. The baseline has carried them since ef2ba89.)
    // SPARK_GRAFT_ONLY is an optional comma-separated query filter for
    // targeted iteration; an unknown name fails here, before the
    // session or the warmup, and no artifact is written
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val ordered = SparkEntry.select(only.getOrElse(Nil),
      SparkEntry.queries ++ SparkEntry.benchQueries)
    val spark = GraftSession(GraftSession.BenchLayout)
    val cpus = spark.sparkContext.defaultParallelism.toString
    // the one fixed trivial frame behind the warmup, every quiesce and
    // the drift sentinel: a raw events scan grouped by event_type, so
    // its plan never changes round over round
    def sentinelFrame() =
      Tables.read(spark, sfDir, "events").groupBy("event_type").count()
    // warmup: parquet reader + shuffle machinery, then one untimed run
    // of EVERY query at the SAME scale factor. Janino compilation of
    // generated code dominates first-run cost (7.5s cold vs 0.8s warm
    // observed on q_quality) and is a per-JVM one-off: on a long-lived
    // cluster app it amortizes to zero, so timing it per-query would
    // measure the compiler, not the plan. The warmup must run at the
    // measured SF — AQE picks different join strategies at different
    // sizes (broadcast vs sort-merge), and a different physical plan
    // compiles different generated classes, missing the cache.
    sentinelFrame().count()
    // one run into the noop sink: forces full materialization of every
    // output column (a bare count() lets Catalyst prune projection-only
    // plans away). StorageHygiene.run binds the frame BEFORE the action,
    // so a failed save still gets a targeted checkpoint release
    def runOnce(tag: String, name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame) =
      StorageHygiene.run(spark, tag, name)(fn(spark, sfDir))(
        _.write.mode("overwrite").format("noop").save())
    // a straggler after a run's release is an operator fixed-point
    // violation, counted in the artifact (a CRASHED run's debris is not)
    var leaked = 0L
    ordered.foreach { case (name, fn) =>
      leaked += runOnce("bench warmup", name, fn).release().leaked
    }
    // quiesce: the warmup sweep just executed EVERY query once, leaving
    // an async backlog (ContextCleaner queue, shuffle-file deletion, GC
    // debt from 80 plans' worth of codegen classes). Whatever drains at
    // the warmup→timed boundary lands on the FIRST timed query — round 5
    // measured the alphabetically-first query at 2.36 s in-suite vs
    // 0.53 s isolated, same plan. Force the collection pauses to happen
    // HERE, then run one sacrificial untimed query to absorb any
    // remaining boundary cost, then collect again.
    def quiesce(): Unit = {
      System.gc(); Thread.sleep(500)
      sentinelFrame().count()
      System.gc(); Thread.sleep(200)
    }
    quiesce()
    // min over N timed passes: the standard steady-state estimator —
    // GC pauses and scheduler jitter only ever ADD time, so the min is
    // the least-noisy view of the plan's cost
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    // every timed window is a RunRecorder window: its record carries
    // the JVM-global mechanism diagnostics (GC, JIT, ContextCleaner
    // drain and pending depth) that separate a heavy NEIGHBOR's backlog
    // from plan cost without a re-run, and the planning seconds that
    // split the window into construct / plan / execute. Diagnostics
    // only: the timed span is the same body as before, so the regime
    // tag stays v5 and baselines remain comparable.
    val recorder = RunRecorder(spark)
    // sec carries the timing (or the -1 failure sentinel); construct is
    // the registry function's own share of it
    case class Diag(sec: Double, construct: Double, rec: RunRecorder.Record) {
      def plan: Double = if (sec < 0) -1.0 else rec.planSeconds
      def exec: Double = if (sec < 0) -1.0 else sec - construct - plan
    }
    // the all-passes-crashed fallback: every field carries the -1
    // unmeasurable sentinel — a 0 here would read as "window measured,
    // no JIT/cleaner/GC activity" for a window that never ran clean
    val CrashedDiag = Diag(-1.0, -1.0, RunRecorder.Unmeasured)
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Diag = {
      val (run, rec) = recorder.window(runOnce("bench", name, fn))
      // checkpoint release runs OUTSIDE the timed window: timings
      // measure the plan, and every query starts from the same empty
      // block manager (the "isolated" condition) instead of inheriting
      // earlier queries' leaked storage pressure
      leaked += run.release().leaked
      // a failed query must be loud IN THE JSON too: -1 is
      // unmistakably not a timing, so consumers cannot mistake a
      // crash for speed
      if (run.ok) Diag(rec.seconds, run.constructSeconds, rec) else Diag(-1.0, -1.0, rec)
    }
    // pass-major with a rotated start per pass: any residual boundary
    // overhead a quiesce misses lands on a DIFFERENT query each pass, so
    // the per-query min escapes it (back-to-back passes on the same
    // query cannot — both runs sit inside the same overhead window)
    val timesByQuery =
      scala.collection.mutable.Map.empty[String, List[Diag]]
    for (p <- 0 until passes) {
      val off = if (ordered.isEmpty) 0 else (p * ordered.size / passes) % ordered.size
      val rotated = ordered.drop(off) ++ ordered.take(off)
      if (p > 0) quiesce()
      rotated.foreach { case (name, fn) =>
        timesByQuery(name) = timeOnce(name, fn) :: timesByQuery.getOrElse(name, Nil)
      }
    }
    // the pass that supplied each reported min (CrashedDiag when any
    // pass crashed): its sec is the "queries" entry, and its
    // construct / plan / exec split sums to it
    val reported = ordered.map { case (name, _) =>
      val times = timesByQuery.getOrElse(name, List(CrashedDiag))
      name -> (if (times.exists(_.sec < 0)) CrashedDiag else times.minBy(_.sec))
    }
    val results = reported.map { case (name, d) => name -> d.sec }
    // the diagnostics of the pass that SUPPLIED each query's reported
    // min — pairing them keeps "how much of this number was collection
    // pauses / JIT / cleaner drain" answerable per artifact entry.
    // Crashed passes (-1.0) are excluded from the pairing: they sort
    // below every real timing, so a naive minBy would record a failed
    // attempt's diagnostics as if they belonged to the reported
    // (non-)minimum
    val diagOfMin = ordered.map { case (name, _) =>
      val ok = timesByQuery.getOrElse(name, Nil).filter(_.sec >= 0)
      name -> (if (ok.isEmpty) CrashedDiag else ok.minBy(_.sec))
    }
    // drift sentinel: one fixed trivial query (the warmup's
    // groupBy(event_type).count at the measured SF) timed min-of-5 AFTER
    // the suite. Its plan never changes round-over-round, so its timing
    // is a pure machine+regime yardstick: consumers divide per-query
    // ratios by the sentinel ratio to separate environment drift from
    // plan drift. Two consecutive judges burned isolated re-timing
    // passes adjudicating regressions that were really regime/machine
    // drift — this field makes the artifact self-adjudicating.
    quiesce()
    // same containment as every query run: a sentinel failure (transient
    // FS error, end-of-run heap pressure) must not discard the whole
    // suite's timings — it reports -1, unmistakably not a timing
    val sentinel =
      try (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        sentinelFrame().write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      catch { case e: Throwable =>
        System.err.println(s"[bench] sentinel FAILED: ${e.getMessage}")
        -1.0
      }
    // v4: self-adjudicating interference check. Pass-major rotation
    // bounds boundary overhead but cannot escape a NEIGHBOR effect that
    // follows a query across rotations (round 7 manufactured an 8.3×
    // phantom on untouched q_embed_knn — its alphabetical neighbors
    // were the round's new heavy queries). Rather than leave the
    // adjudication to a judge's manual re-timing pass (burned three
    // rounds running), the artifact now carries it: each query's
    // in-suite timing is compared against the previous committed
    // bench.json, normalized by the sentinel ratio (pure environment
    // drift), and anything over the threshold is re-timed ISOLATED
    // min-of-5 in this same JVM — post-suite, post-quiesce, empty
    // block manager — and recorded as "isolated_s". A reader needs no
    // re-run: isolated_s IS the isolated number.
    // baseline defaults to the committed working-tree bench.json; a
    // re-run in the same tree would otherwise compare against its own
    // immediately previous output (this run overwrites the file at the
    // bottom), so CI / judges can pin a specific artifact via the env
    // var (e.g. a BENCH_rNN.json snapshot)
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "bench.json")
    // (name, sentinel-normalized ratio vs baseline) — recorded in the
    // artifact so suspect selection is auditable without a re-run.
    // The baseline must share THIS run's regime and scale factor
    // ([[incomparable]]): a procedure or data-size change shifts
    // in-suite timings in ways the sentinel (a pure machine yardstick)
    // cannot normalize, and every shifted query would become a phantom
    // suspect burning 5 isolated re-timings. Skipping is loud, and a
    // full run self-heals the regime (it commits a same-regime artifact).
    // (normalized ratios for every comparable query, baseline's watch
    // list, sentinel drift, drift actually used) — None when no usable
    // comparable baseline exists. Normalization divides each query's
    // raw ratio by [[robustDrift]] — the suite-median environment
    // estimator with the sentinel ratio as the small-N fallback (the
    // sentinel alone over-corrected; see robustDrift's scaladoc).
    val comparison: Option[(Map[String, Double], Map[String, Double], Double, Double)] =
      loadBaseline(baselinePath).map(b => b -> incomparable(b, sfDir)) match {
        case Some((_, Some(why))) =>
          System.err.println(s"[bench] baseline $baselinePath is $why; " +
            "skipping the suspect re-timing pass")
          None
        case Some((b, None)) if sentinel > 0 && b.sentinel > 0 =>
          val driftSentinel = sentinel / b.sentinel
          val raw = results.flatMap { case (name, t) =>
            b.queries.get(name) match {
              case Some(p) if t > 0 && p > 0 => Some(name -> (t / p))
              case _ => None
            }
          }.toMap
          val drift = robustDrift(raw.values, driftSentinel)
          val norm = raw.map { case (name, r) => name -> r / drift }
          Some((norm, b.watch, driftSentinel, drift))
        case _ => None
      }
    val driftSentinel = comparison.fold(-1.0)(_._3)
    val driftUsed = comparison.fold(-1.0)(_._4)
    // compounding-drift trigger (r19): a sequence of sub-threshold
    // same-direction moves can reach 2× without ever tripping the 1.5×
    // radar (the exact shape the r18 IVF-PQ adjudication disproved for
    // the probe family and the r18 verdict flagged unresolved for
    // train_bench: ~1.13×/round for three rounds ≈ 1.45× unexamined).
    // Every query ≥ the watch threshold is recorded in the artifact as
    // "drift_watch"; a query on the BASELINE's drift_watch that moves
    // ≥ the watch threshold AGAIN this run is promoted into the
    // isolated re-timing pass even though below the suspect threshold
    // — two consecutive compounding moves always get adjudicated.
    val watch: Seq[(String, Double)] = comparison
      .fold(Seq.empty[(String, Double)]) { case (norm, _, _, _) =>
        norm.filter(_._2 >= WatchRatio).toSeq.sortBy(-_._2)
      }
    // watchOverflow counts the qualifying entries the cap dropped from
    // the isolated re-timing pass — nonzero means the artifact's
    // adjudication is INCOMPLETE this run: the dropped entries are
    // still listed in drift_watch / suspect_ratio, and a
    // SPARK_GRAFT_ONLY run of them re-times them
    val (suspects, watchOverflow) = comparison
      .fold((Seq.empty[(String, Double)], 0)) { case (norm, baseWatch, _, _) =>
        selectSuspects(norm, baseWatch, WatchRatio, SuspectRatio, MaxSuspects)
      }
    // isolated re-timings carry their OWN min-pass diagnostics: one
    // artifact then answers the mechanism question per suspect — if
    // the in-suite window shows a JIT/cleaner/GC load the isolated
    // window lacks, that load IS the in-suite/isolated gap, measured
    val isolated: Seq[(String, Diag)] = suspects.map { case (name, _) =>
      quiesce()
      val fn = ordered.find(_._1 == name).get._2
      val ds = (0 until 5).map(_ => timeOnce(name, fn))
      name -> (if (ds.exists(_.sec < 0)) CrashedDiag
               else ds.minBy(_.sec))
    }
    def obj[T](xs: Seq[(String, T)])(f: T => String): String =
      xs.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
    val qs = obj(results)(_.toString)
    // millisecond precision keeps the line short. Artifact layout: the
    // pre-"queries" placement invariant covers gc_s/jit_s/cleaned_n/
    // cleaner_pending ONLY — construct_s/plan_s/exec_s, suspect_ratio/
    // drift_watch/suspect_jit_share and the isolated_* family are also
    // query-name-keyed but sit AFTER "queries", so a tail-fragment
    // regex for "q_*":number MUST anchor on the literal `"queries":{`
    // marker (loadBaseline does; BenchBaselineSpec pins both shapes)
    // rather than scan the whole line
    val gcJson = obj(diagOfMin)(d => ms(d.rec.gcSeconds))
    val jitJson = obj(diagOfMin)(d => ms(d.rec.jitSeconds))
    val cleanedJson = obj(diagOfMin)(_.rec.cleaned.toString)
    val pendingJson = obj(diagOfMin)(_.rec.cleanerPending.toString)
    // full precision, so the three sum to the "queries" entry:
    // construct is the registry function, plan the write's
    // QueryExecution tracker, exec the remainder
    val constructJson = obj(reported)(_.construct.toString)
    val planJson = obj(reported)(_.plan.toString)
    val execJson = obj(reported)(_.exec.toString)
    val isoJson = obj(isolated)(_.sec.toString)
    val isoGcJson = obj(isolated)(d => ms(d.rec.gcSeconds))
    val isoJitJson = obj(isolated)(d => ms(d.rec.jitSeconds))
    val isoCleanedJson = obj(isolated)(_.rec.cleaned.toString)
    val isoPendingJson = obj(isolated)(_.rec.cleanerPending.toString)
    val suspectJson = obj(suspects)(_.toString)
    val watchJson = obj(watch)(r => ms(r))
    // self-explaining degraded runs (r19): for each isolated-re-timed
    // suspect, the share of its in-suite inflation attributable to JIT
    // compilation — (jit_in_suite − jit_isolated)/(t_in_suite −
    // t_isolated). The r18 adjudications all came down to exactly this
    // arithmetic done by hand (shares ~0.6–0.9 on all six suspects);
    // carrying it in the artifact closes the common case without any
    // isolated re-run by a reader. −1 = undefined (a crashed window,
    // unmeasurable JIT, or an inflation too small to attribute).
    val diagMap = diagOfMin.toMap
    val resMap = results.toMap
    val jitShare: Seq[(String, Double)] = isolated.map { case (name, iso) =>
      val tIn = resMap.getOrElse(name, -1.0)
      val dIn = diagMap.getOrElse(name, CrashedDiag)
      val dt = tIn - iso.sec
      val share =
        if (tIn <= 0 || iso.sec <= 0 || dIn.rec.jitSeconds < 0 ||
            iso.rec.jitSeconds < 0 || dt <= 0.05) -1.0
        else ((dIn.rec.jitSeconds - iso.rec.jitSeconds) / dt).max(0.0)
      name -> share
    }
    val jitShareJson = obj(jitShare)(v => ms(v))
    // total covers successful queries only — summing the -1 failure
    // sentinels would make a crashed query IMPROVE the headline number
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // "sweep":true documents the per-query release mode (bench hygiene:
    // timings are storage-isolated); "leaked" counts fixed-point
    // violations the sweep had to absorb — anything non-zero is a bug
    // "regime" names the timing methodology; bump it whenever the
    // measurement procedure changes (warmup policy, rotation, quiesce,
    // sentinel) so artifacts from different regimes are never compared
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","gc_s":$gcJson,"jit_s":$jitJson,"cleaned_n":$cleanedJson,"cleaner_pending":$pendingJson,"queries":$qs,"construct_s":$constructJson,"plan_s":$planJson,"exec_s":$execJson,"sf":"${esc(sfDir)}","warmup":"${esc(sfDir)}","cpus":${cpusJson(cpus)},"passes":$passes,"sweep":true,"leaked":$leaked,"regime":"$Regime","sentinel_s":$sentinel,"baseline":"${esc(baselinePath)}","drift_sentinel":${ms(driftSentinel)},"drift_used":${ms(driftUsed)},"suspect_ratio":$suspectJson,"drift_watch":$watchJson,"watch_overflow":$watchOverflow,"suspect_jit_share":$jitShareJson,"isolated_s":$isoJson,"isolated_gc_s":$isoGcJson,"isolated_jit_s":$isoJitJson,"isolated_cleaned_n":$isoCleanedJson,"isolated_pending":$isoPendingJson}"""
    println(line)
    // also persist to a file: stdout can get interleaved with stray
    // [error] log lines under sbt, which breaks line-oriented parsers.
    // A filtered (SPARK_GRAFT_ONLY) run must NOT clobber the canonical
    // full-suite artifact with a partial total — it gets its own file.
    val outFile = if (only.isEmpty) "bench.json" else "bench_partial.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // FINAL stdout line: the compact summary (see summaryLine's
    // scaladoc — the full line above cannot fit a bounded stdout tail,
    // which left the round driver's PERF view blind for two rounds).
    // The full artifact is unchanged: it precedes this line on stdout
    // and is the entire content of bench.json; the summary also lands
    // in bench_summary.json for file consumers.
    val failed = results.collect { case (n, v) if v < 0 => n }
    val summary = summaryLine(total, sfDir, cpus, passes, leaked, sentinel,
      Regime, results.size, failed, suspects, driftSentinel, driftUsed,
      watch.size, watchOverflow)
    println(summary)
    val summaryFile =
      if (only.isEmpty) "bench_summary.json" else "bench_summary_partial.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(summaryFile),
      (summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
