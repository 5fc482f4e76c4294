package graft.tools

import graft.GraftSession

/** Dumps `.explain("formatted")` for every SparkEntry query (or the
  * ones named in args) — the per-operator plan-review loop: check
  * PushedFilters/ReadSchema on scans, WholeStageCodegen spans, join
  * strategies, and exchange counts.
  *
  * Usage: runMain graft.tools.ExplainDump [sfDir] [queryName...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = GraftSession(GraftSession.BenchLayout)
    graft.SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        fn(spark, sfDir).explain("formatted")
      }
    spark.stop()
  }
}
