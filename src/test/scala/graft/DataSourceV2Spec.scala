package graft

import org.apache.spark.sql.functions._

class DataSourceV2Spec extends SparkSpec {

  // ---- AllTypesDataSource: the planner-test external source ----
  // (reference ext-data-source/test/.../AllTypesDataSource.java; plan-shape
  // parity lives in PlannerGoldenSpec's data-source-tables.test — these pin
  // the data and the partial-acceptance contract's CORRECTNESS.)

  private val allTypes = "graft.sources.AllTypesDataSource"

  test("alltypes source: reference row pattern, 4-way parallel scan") {
    val df = spark.read.format(allTypes).load()
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 5000)
    // every 5th string_col is NULL (AllTypesDataSource.java:262-268)
    assert(df.filter(col("string_col").isNull).count() == 1000)
    val r = df.filter(col("id") === 1991).head()
    assert(!r.getBoolean(1) && r.getByte(2) == 1 && r.getShort(3) == 91)
    assert(r.getInt(4) == 1991 && r.getLong(5) == 19910L)
    assert(r.getFloat(6) == (1.1d * 1991).toFloat && r.getDouble(7) == 1991d)
    // timestamp_col = new Timestamp(currRow) — epoch millis = row index
    assert(r.getTimestamp(8).getTime == 1991L)
    assert(r.getString(9) == "1991")
    // DECIMAL pattern: (10^p - (i+1)) mod 10^p, negated on even rows
    assert(r.getDecimal(10).toPlainString == "999998008")
    assert(r.getDecimal(14).toPlainString == "99999.98008")
  }

  /** The load-bearing pin: the source accepts only EVERY OTHER evaluable
    * conjunct, and Spark trusts it for those — so the filtered result must
    * equal the same predicate applied in Spark over the unfiltered rows
    * (null string rows included). A wrong `eval` would silently corrupt
    * results here, not just plans. */
  test("alltypes source: partial filter acceptance is still correct") {
    val full = spark.read.format(allTypes).load().cache()
    try {
      val preds = Seq(
        "int_col < 10 and double_col > 2 and string_col != '5' and bool_col",
        "string_col is null and tinyint_col >= 5",
        "string_col in ('7', '11', '5000') or int_col = 0",
        "not (float_col <= 110.0) and smallint_col between 3 and 40",
        "id >= 4990 and (string_col is not null or bigint_col = 49900)")
      preds.foreach { p =>
        val viaSource = spark.read.format(allTypes).load().where(p)
        val expected = full.where(p) // same plan, but cached: no pushdown
        assert(viaSource.exceptAll(expected).isEmpty &&
          expected.exceptAll(viaSource).isEmpty,
          s"pushdown changed results for: $p")
        assert(viaSource.count() == expected.count(), s"count for: $p")
      }
    } finally full.unpersist()
  }

  test("alltypes source: pushed/residual split visible in the plan") {
    val df = spark.read.format(allTypes).load()
      .where("int_col < 10 and double_col > 2 and string_col != 'x' and " +
        "cast(bigint_col as string) != 'y'")
    val plan = df.queryExecution.executedPlan
    val scan = plan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.AllTypesScan]
    }.get
    assert(scan.pushedFilterSeq.nonEmpty, "no conjunct reached the source")
    // the cast-to-string conjunct is never evaluable by the source; with
    // residuals present there must be a Filter above the scan
    assert(plan.collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec => f }.nonEmpty,
      s"residual Filter missing:\n$plan")
  }
}
