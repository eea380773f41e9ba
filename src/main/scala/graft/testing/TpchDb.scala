package graft.testing

import org.apache.spark.sql.SparkSession

/** Materializes the `tpch` database the reference's planner fixtures
  * reference (`functional-planner/queries/PlannerTest/tpch-all.test` scans
  * `tpch.lineitem` etc.) from the driver-generated testdata parquet.
  *
  * The testdata corpus has no `partsupp` table, so it is derived
  * deterministically from `lineitem`'s distinct (partkey, suppkey) pairs —
  * the exact relationship TPC-H's generator guarantees (every lineitem's
  * pair exists in partsupp). Values for the non-key columns are synthetic
  * but deterministic; the planner fixtures only ever project/aggregate
  * them, so plan shape — not values — is what they pin.
  *
  * Tables are materialized as managed parquet tables (not views) so the
  * physical plans under test show real `FileSourceScanExec` nodes with
  * size statistics, the same planning inputs the reference's planner had.
  */
object TpchDb {

  private val BaseTables = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** The testdata corpus is a TPC-H *subset*; the planner fixtures use the
    * full TPC-H column lists. Missing columns are padded with deterministic
    * expressions over the row's keys — the fixtures pin plan shape, never
    * these values. */
  private val PadColumns: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq(
      "c_address" -> "concat('addr_', cast(c_custkey as string))",
      "c_phone" -> "concat('27-', lpad(cast(c_custkey % 10000000 as string), 7, '0'))",
      "c_comment" -> "concat('cust comment ', cast(c_custkey % 7 as string))"),
    "lineitem" -> Seq(
      "l_commitdate" -> "date_add(l_shipdate, cast(l_orderkey % 30 as int) - 15)",
      "l_receiptdate" -> "date_add(l_shipdate, cast(l_orderkey % 14 as int) + 1)",
      "l_shipinstruct" -> "elt(1 + cast(l_orderkey % 4 as int), 'DELIVER IN PERSON', 'COLLECT COD', 'NONE', 'TAKE BACK RETURN')",
      "l_shipmode" -> "elt(1 + cast(l_linenumber % 7 as int), 'REG AIR', 'AIR', 'RAIL', 'SHIP', 'TRUCK', 'MAIL', 'FOB')"),
    "orders" -> Seq(
      "o_shippriority" -> "cast(0 as int)",
      "o_comment" -> "concat('order comment ', cast(o_orderkey % 11 as string))"),
    "part" -> Seq(
      "p_mfgr" -> "concat('Manufacturer#', cast(1 + p_partkey % 5 as string))",
      "p_container" -> "elt(1 + cast(p_partkey % 4 as int), 'SM CASE', 'MED BOX', 'LG PACK', 'JUMBO JAR')"),
    "supplier" -> Seq(
      "s_address" -> "concat('saddr_', cast(s_suppkey as string))",
      "s_phone" -> "concat('17-', lpad(cast(s_suppkey % 10000000 as string), 7, '0'))",
      "s_comment" -> "concat('supp comment ', cast(s_suppkey % 5 as string))"))

  private val TmpTables = Seq(
    "q2_minimum_cost_supplier_tmp1" -> ("s_acctbal double, s_name string, " +
      "n_name string, p_partkey bigint, ps_supplycost double, " +
      "p_mfgr string, s_address string, s_phone string, s_comment string"),
    "q2_minimum_cost_supplier_tmp2" ->
      "p_partkey bigint, ps_min_supplycost double",
    "q7_volume_shipping_tmp" -> ("supp_nation string, cust_nation string, " +
      "s_nationkey smallint, c_nationkey smallint"),
    "q11_part_tmp" -> "ps_partkey bigint, part_value double",
    "q11_sum_tmp" -> "total_value double",
    "revenue" -> "supplier_no bigint, total_revenue double",
    "max_revenue" -> "max_revenue double",
    "supplier_tmp" -> "s_suppkey bigint",
    "q16_tmp" -> "p_brand string, p_type string, p_size int, ps_suppkey bigint",
    "lineitem_tmp" -> "t_partkey bigint, t_avg_quantity double",
    "q18_tmp" -> "l_orderkey bigint, t_sum_quantity double",
    "q20_tmp1" -> "p_partkey bigint",
    "q20_tmp2" -> "l_partkey bigint, l_suppkey bigint, sum_quantity double",
    "q20_tmp3" -> "ps_suppkey bigint, ps_availqty int, sum_quantity double",
    "q20_tmp4" -> "ps_suppkey bigint",
    "q22_customer_tmp1" -> "avg_acctbal double, cust_name_char string")

  def ensure(spark: SparkSession, sfDir: String): Unit = synchronized {
    if (spark.catalog.databaseExists("tpch")) return
    spark.sql("CREATE DATABASE tpch")
    BaseTables.foreach { t =>
      val base = graft.Tables.readParquet(spark, s"$sfDir/$t.parquet")
      val padded = PadColumns.getOrElse(t, Nil).foldLeft(base) {
        case (df, (name, expr)) =>
          df.withColumn(name, org.apache.spark.sql.functions.expr(expr))
      }
      padded.write.saveAsTable(s"tpch.$t")
    }
    // The multi-stage TPC-H fixtures (Q2/Q11/Q15/Q16/Q18/Q20/Q22) INSERT
    // OVERWRITE into pre-created tmp tables and scan them in later stages;
    // schemas ported from the reference's tpch_schema_template.sql:163-318
    // (inserts map columns by position, as the reference's do).
    TmpTables.foreach { case (name, cols) =>
      spark.sql(s"CREATE TABLE tpch.$name ($cols) USING PARQUET")
    }
    spark.sql(
      """CREATE TABLE tpch.partsupp USING PARQUET AS
        |SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |       CAST(1 + (l_partkey + l_suppkey) % 9999 AS INT) AS ps_availqty,
        |       CAST((l_partkey * 7 % 100000) / 100.0 AS DECIMAL(12,2))
        |         AS ps_supplycost,
        |       concat('ps_', CAST(l_partkey AS STRING)) AS ps_comment
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM tpch.lineitem)
        |""".stripMargin)
  }
}
