package graft.tools

import graft.GraftSession
import graft.sources.Tables

/** Measures the BPE trainer's driver-sequenced-round cost at growing
  * merge counts — the evidence behind the documented O(numMerges)
  * driver-rounds bound: if seconds-per-merge stays flat as the count
  * grows (50 → 100 → 200), total train time is linear in the vocab
  * size with a small constant, and a real 50k-merge vocabulary is a
  * (long) linear walk, not a blow-up. Each count retrains from
  * scratch, so the per-merge figure includes every round's argmax job
  * and word-table re-checkpoint.
  *
  * Usage: runMain graft.tools.BpeTrainBench [sfDir] [counts...]
  */
object BpeTrainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val counts =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(50, 100, 200)
    val spark = GraftSession(GraftSession.BenchLayout)
    val docs = Tables.documents(spark, sfDir)
    // warm the scan/codegen paths so the first count isn't penalized
    graft.operators.Bpe.trainMerges(docs, 5)
    counts.foreach { n =>
      val t0 = System.nanoTime()
      val merges = graft.operators.Bpe.trainMerges(docs, n)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"BPE_TRAIN merges=$n%-4d learned=${merges.size}%-4d " +
        f"total=$secs%.2fs per_merge=${secs / merges.size}%.4fs")
    }
    spark.stop()
  }
}
