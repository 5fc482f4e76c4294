package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Similarity
import graft.sources.Tables

/** Dumps `.explain("formatted")` for the Lloyd's trainers'
  * per-iteration means aggregates ([[Similarity.centroidMeansFrame]] /
  * [[Similarity.pqMeansFrame]]). These UPDATE-step jobs run inside the
  * driver training loop and never appear in any registry query's final
  * plan, so the standard plan-review loop (ExplainDump over
  * SparkEntry.queries) cannot see them — this tool is the direct plan
  * surface for them (added in r22, where the generator-free and
  * single-generator alternatives were measured against these shapes
  * and rejected; the dumps pin what actually ships).
  *
  * The `assigned` input is the real embeddings parquet through
  * [[Similarity.withUnit]] with a SYNTHETIC stand-in for the argmax
  * cell/code projection (pmod over vec_id): the assignment is a pure
  * per-row projection either way, and the aggregate's plan shape —
  * what this dump pins: Generate node count, aggregate keys, partial
  * aggregation — is independent of how the cell ids were computed.
  *
  * Usage: runMain graft.tools.TrainerPlanDump [sfDir]
  */
object TrainerPlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession(GraftSession.BenchLayout)
    val m = Similarity.DefaultPqM
    val ksub = Similarity.DefaultPqKsub
    val unit = Similarity.withUnit(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("unit"))
      .filter(col("unit").isNotNull)
    val dims = unit.select(size(col("unit"))).head().getInt(0)
    val dsub = dims / m

    println(s"\n========== trainCentroids UPDATE means (dims=$dims) ==========")
    Similarity.centroidMeansFrame(
      unit.withColumn("cid", pmod(col("vec_id"), lit(16)).cast("int")))
      .explain("formatted")

    println(s"\n========== trainPqOn UPDATE means (m=$m, ksub=$ksub, dsub=$dsub) ==========")
    Similarity.pqMeansFrame(
      unit.withColumn("codes", array((0 until m).map(mi =>
        pmod(col("vec_id") + mi, lit(ksub)).cast("int")): _*)),
      m, dsub).explain("formatted")
    spark.stop()
  }
}
