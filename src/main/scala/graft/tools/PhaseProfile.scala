package graft.tools

import graft.GraftSession

/** Splits a named SparkEntry query's wall clock into its three phases:
  * frame CONSTRUCTION (the registry function itself — for operators
  * like the IVF-PQ probe this is real driver work: probe collects,
  * eager localCheckpoints, book reads), PLANNING (analysis +
  * optimization + physical planning, forced via `executedPlan` —
  * where a plan carrying large literal trees pays Catalyst's
  * per-transform tree walks), and EXECUTION (the noop write). The
  * bench's per-query seconds are the SUM of all three; when one query
  * drifts, this names which phase moved before anyone stares at
  * executors for a driver-side cost.
  * Usage: runMain graft.tools.PhaseProfile <sfDir> <reps> <query...>
  */
object PhaseProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val spark = GraftSession(GraftSession.BenchLayout)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        graft.SparkEntry.benchQueries(name))
      (1 to reps).foreach { rep =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        // forces the whole frontend ONCE on this QueryExecution
        val qe = df.queryExecution
        qe.executedPlan
        val t2 = System.nanoTime()
        // execute the SAME QueryExecution (a write would build a new
        // one over df.logicalPlan and re-run optimization + physical
        // planning inside the exec window, smearing frontend cost into
        // the exec column — the exact misattribution this tool exists
        // to prevent); draining toRdd is the noop-sink pull without a
        // second frontend pass. The iterator must actually be PULLED:
        // foreachPartition(_ => ()) discards it unconsumed, so lazy
        // final-stage work (whole-stage-codegen pipelines, final
        // aggregates, result-stage shuffle fetches) never executes and
        // the exec column under-measures exactly the cost this tool
        // exists to attribute — only upstream shuffle-map stages run
        qe.toRdd.foreachPartition { it =>
          while (it.hasNext) it.next()
        }
        val t3 = System.nanoTime()
        graft.StorageHygiene.releaseAndSweep(spark, "phase", name, Some(df))
        println(f"PHASES $name rep=$rep construct=${(t1 - t0) / 1e9}%.3f " +
          f"plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f")
      }
    }
    spark.stop()
  }
}
