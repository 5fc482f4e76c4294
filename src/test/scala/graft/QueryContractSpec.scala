package graft

/** Driver-contract guards over the whole query registry. The round-10
  * incident showed a whole failure class the per-operator suites can
  * miss: a fixture-encoding drift that breaks queries at ANALYSIS time
  * — eight registered queries silently vanished from the correctness
  * artifact while `sbt test` stayed green, because no test constructed
  * those exact query frames against the LIVE fixture. This spec closes
  * that gap for every present and future registry entry at once.
  */
class QueryContractSpec extends SparkSuite {

  test("every oracle entry names a registered query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty,
      s"oracleSql keys without a query (the driver would NPE): $dangling")
  }

  test("bench-only queries stay OUT of the correctness registry") {
    // benchQueries exists precisely because its entries (Lloyd's-train
    // paths) can never be oracle-checked — a key leaking into queries
    // would re-create the no_oracle rows r15 removed, and an oracle
    // for one would contradict its reason for being here
    val overlap = SparkEntry.benchQueries.keySet & SparkEntry.queries.keySet
    assert(overlap.isEmpty, s"benchQueries duplicated in queries: $overlap")
    val oracled = SparkEntry.benchQueries.keySet & SparkEntry.oracleSql.keySet
    assert(oracled.isEmpty, s"benchQueries with oracles (move them to " +
      s"the registry instead): $oracled")
  }

  test("every registered query ANALYZES against the live sf0.001 fixture") {
    val broken = (SparkEntry.queries ++ SparkEntry.benchQueries)
      .toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        // constructing the frame and touching .schema forces full
        // analysis (resolution + type checks) without executing the
        // query — seconds for the whole registry, and exactly the
        // stage where an encoding drift (unix_micros on NTZ, a cast
        // on a vanished column) detonates. Iterative operators that
        // execute during CONSTRUCTION (the label family, centroid
        // training) run here at sf0.001 cost; release their
        // embedded checkpoints like the driver mains do.
        StorageHygiene.run(spark, "contract", name)(
          fn(spark, "/root/testdata/sf0.001"))(
          df => assert(df.schema.fieldNames.nonEmpty))
          .release().failure.map(name -> _)
      }
    assert(broken.isEmpty,
      broken.map { case (n, m) => s"$n: $m" }.mkString("\n"))
  }
}
