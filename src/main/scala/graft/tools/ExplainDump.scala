package graft.tools

import graft.{GraftSession, SparkEntry, StorageHygiene}

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
    val selected = SparkEntry.select(args.drop(1).toSeq, SparkEntry.queries)
    val spark = GraftSession(GraftSession.BenchLayout)
    val failed = selected.count { case (name, fn) =>
      println(s"\n========== $name ==========")
      !StorageHygiene.run(spark, "explain", name)(fn(spark, sfDir))(
        _.explain("formatted")).release().ok
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
