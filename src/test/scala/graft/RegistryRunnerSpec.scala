package graft

/** Pins the one way a registry query is selected, run and released:
  * [[SparkEntry.select]] (Bench, Verify, ExplainDump) and
  * [[StorageHygiene.run]] with its release step (every registry
  * walker, main or spec). A selector that drops an unknown name or a
  * runner that skips the release on a failure would let a typo pass a
  * gate as a smaller run, or leak a checkpoint per crashed query.
  */
class RegistryRunnerSpec extends SparkSuite {

  private def persisted = spark.sparkContext.getPersistentRDDs

  private def checkpointIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }

  test("select rejects and names every unknown entry; no names selects all in name order") {
    val reg = Map("q_c" -> 3, "q_a" -> 1, "q_b" -> 2)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q_b", "q_typo", "q_a", "q_other"), reg))
    assert(e.getMessage.contains("q_typo") && e.getMessage.contains("q_other"),
      e.getMessage)
    assert(!e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"),
      e.getMessage)
    assert(SparkEntry.select(Nil, reg) == Seq("q_a" -> 1, "q_b" -> 2, "q_c" -> 3))
    assert(SparkEntry.select(Seq("q_c", "q_a"), reg) == Seq("q_a" -> 1, "q_c" -> 3))
    assert(SparkEntry.select(Nil, SparkEntry.queries).map(_._1) ==
      SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a failed action still releases the frame's checkpoint, reports the failure, leaks 0") {
    persisted.values.foreach(_.unpersist(blocking = true))
    var ids = Seq.empty[Int]
    val r = StorageHygiene.run(spark, "runner-spec", "q_boom") {
      val df = spark.range(5).toDF("x").localCheckpoint(true)
      ids = checkpointIds(df)
      df
    } { df =>
      df.count()
      throw new RuntimeException("boom\nsecond line")
    }
    assert(ids.nonEmpty && ids.forall(persisted.contains),
      "the checkpoint must be held until the release step")
    r.release()
    assert(!r.ok && r.failure.contains("boom"))
    assert(r.constructSeconds >= 0, "the build itself succeeded")
    assert(ids.forall(id => !persisted.contains(id)),
      "the failed run's checkpoint was not released")
    assert(r.leaked == 0)
    intercept[RuntimeException](r.get)
    // a null message is reported as the class name, not as "null"
    val npe = StorageHygiene.run(spark, "runner-spec", "q_npe")(
      spark.range(1).toDF())(_ => throw new NullPointerException())
    assert(npe.release().failure.contains("java.lang.NullPointerException"))
  }

  test("a clean run that leaves a stray persisted RDD leaks 1 and the sweep clears it") {
    persisted.values.foreach(_.unpersist(blocking = true))
    // held here: the session tracks persisted RDDs by weak reference,
    // so an unreferenced stray could be collected before the sweep
    var stray: org.apache.spark.rdd.RDD[Int] = null
    val r = StorageHygiene.run(spark, "runner-spec", "q_stray")(
      spark.range(3).toDF("x")) { df =>
      stray = spark.sparkContext.parallelize(1 to 3).cache()
      stray.count()
      df.count()
    }
    assert(r.ok && r.get == 3L)
    assert(persisted.keySet == Set(stray.id))
    assert(r.release().leaked == 1)
    assert(persisted.isEmpty, "the sweep left the stray RDD behind")
    assert(stray.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(r.release().leaked == 1, "release is idempotent")
  }
}
