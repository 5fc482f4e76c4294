package graft
class EntrySmokeSpec extends SparkSuite {
  test("entry() returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }
}
