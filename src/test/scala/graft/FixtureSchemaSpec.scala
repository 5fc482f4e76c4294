package graft

import org.apache.spark.sql.types._

/** Environment guard over EVERY driver-written fixture table. The
  * round-10 lesson (`ts` silently flipping TIMESTAMP(NANOS) →
  * TIMESTAMP_NTZ and killing eight queries at analysis time) applies
  * to all tables: the driver regenerates them per round, so schema
  * drift is an external hazard, not a code bug. This spec fails ONE
  * obvious test per table naming the drifted column, instead of
  * letting the drift surface as dozens of cryptic per-query failures
  * — or worse, as silently wrong values (`cast("timestamp")` on a
  * raw nanos LONG yields a seconds interpretation, off by 10^9, with
  * no error at all).
  */
class FixtureSchemaSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Types the engine tolerates per column. Temporal columns accept
    * TimestampType or TIMESTAMP_NTZ because every consumer either
    * normalizes (events via [[graft.sources.EventsAsRecords]]) or
    * casts (the TPC-H date emitters) — both handle either encoding.
    * LongType is deliberately NOT accepted for the TPC-H dates: the
    * emitters' cast would misread nanos-as-long by 10^9.
    */
  private val temporal: Set[DataType] = Set(TimestampType, TimestampNTZType)

  private def expect(table: String, cols: (String, Set[DataType])*): Unit = {
    val schema = spark.read.parquet(s"$dir/$table.parquet").schema
    assert(schema.fieldNames.toSeq == cols.map(_._1),
      s"$table columns drifted: got ${schema.fieldNames.mkString(",")}")
    cols.foreach { case (name, allowed) =>
      val got = schema(name).dataType
      assert(allowed.contains(got),
        s"$table.$name drifted to $got (engine handles: ${allowed.mkString("/")})" +
          " — audit every reader of this column before widening this set")
    }
  }

  private def t(d: DataType): Set[DataType] = Set(d)

  test("events schema (plus long-nanos fallback) stays engine-readable") {
    // ts additionally tolerates LongType: that is the nanosAsLong
    // fallback EventsAsRecords.normalizeTs explicitly converts
    expect("events",
      "event_id" -> t(LongType), "ts" -> (temporal + LongType),
      "user_id" -> t(LongType), "event_type" -> t(StringType),
      "value" -> t(DoubleType), "props" -> t(StringType))
  }

  test("documents schema stays engine-readable") {
    expect("documents",
      "doc_id" -> t(LongType), "text" -> t(StringType),
      "lang" -> t(StringType), "source" -> t(StringType),
      "n_chars" -> t(LongType))
  }

  test("embeddings schema stays engine-readable") {
    // the ANN family's distance kernels (PqAdcExpr, dot products)
    // compute in Float and would silently change results on a
    // Double-element drift, so the element type is pinned exactly
    expect("embeddings",
      "vec_id" -> t(LongType),
      "embedding" -> Set[DataType](ArrayType(FloatType, true),
        ArrayType(FloatType, false)),
      "label" -> t(IntegerType))
  }

  test("TPC-H star schema stays engine-readable") {
    expect("region", "r_regionkey" -> t(IntegerType), "r_name" -> t(StringType))
    expect("nation", "n_nationkey" -> t(IntegerType),
      "n_name" -> t(StringType), "n_regionkey" -> t(IntegerType))
    expect("customer", "c_custkey" -> t(LongType), "c_name" -> t(StringType),
      "c_nationkey" -> t(IntegerType), "c_acctbal" -> t(DoubleType),
      "c_mktsegment" -> t(StringType))
    expect("supplier", "s_suppkey" -> t(LongType), "s_name" -> t(StringType),
      "s_nationkey" -> t(IntegerType), "s_acctbal" -> t(DoubleType))
    expect("part", "p_partkey" -> t(LongType), "p_name" -> t(StringType),
      "p_brand" -> t(StringType), "p_type" -> t(StringType),
      "p_size" -> t(IntegerType), "p_retailprice" -> t(DoubleType))
    expect("orders", "o_orderkey" -> t(LongType), "o_custkey" -> t(LongType),
      "o_orderstatus" -> t(StringType), "o_totalprice" -> t(DoubleType),
      "o_orderdate" -> temporal, "o_orderpriority" -> t(StringType))
    expect("lineitem", "l_orderkey" -> t(LongType), "l_partkey" -> t(LongType),
      "l_suppkey" -> t(LongType), "l_linenumber" -> t(IntegerType),
      "l_quantity" -> t(DoubleType), "l_extendedprice" -> t(DoubleType),
      "l_discount" -> t(DoubleType), "l_tax" -> t(DoubleType),
      "l_returnflag" -> t(StringType), "l_linestatus" -> t(StringType),
      "l_shipdate" -> temporal)
  }
}
