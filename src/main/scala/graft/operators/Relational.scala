package graft.operators

import graft.{Ora, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational surface: scan -> filter -> project -> join -> aggregate ->
  * sort (SURVEY.md §2-B groups: projection/filter, joins, aggregation,
  * sort/limit).
  *
  * Every query is declarative DataFrame DSL so Catalyst supplies predicate
  * pushdown, column pruning, join selection and whole-stage codegen; dimension
  * tables (region/nation/supplier — O(100) rows at any scale factor) are
  * explicitly `broadcast()` so the big fact-table joins never shuffle the small
  * side even at 100 TB.
  */
object Relational {
  import Ora._

  /** TPC-H Q1-style pricing summary: the flagship scan->filter->agg->sort.
    * Exercises partial (map-side) aggregation: 6 groups x 32 partitions of
    * partials, trivially scalable.
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= lit("2000-12-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | ${sqlSum("l_quantity")} AS sum_qty,
       | ${sqlSum("l_extendedprice")} AS sum_base_price,
       | ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       | ${sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       | ${sqlAvg("l_quantity")} AS avg_qty,
       | ${sqlAvg("l_extendedprice")} AS avg_price,
       | ${sqlAvg("l_discount")} AS avg_disc,
       | COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Projection + predicate pack: IN, range, LIKE, IS NOT NULL. All four
    * predicates are parquet-pushable (`PushedFilters` in the explain output).
    */
  def q2FilterProject(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .filter(
        $"o_orderstatus".isin("O", "F") &&
        $"o_totalprice" >= 1000.0 && $"o_totalprice" < 200000.0 &&
        $"o_orderpriority".like("1%") &&
        $"o_custkey".isNotNull)
      .select(
        $"o_orderkey",
        $"o_custkey",
        concat($"o_orderstatus", lit("-"), $"o_orderpriority").as("status_prio"),
        $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  val q2Sql: String =
    """SELECT o_orderkey, o_custkey,
      | o_orderstatus || '-' || o_orderpriority AS status_prio,
      | o_totalprice
      |FROM orders
      |WHERE o_orderstatus IN ('O','F')
      |  AND o_totalprice >= 1000.0 AND o_totalprice < 200000.0
      |  AND o_orderpriority LIKE '1%'
      |  AND o_custkey IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  /** TPC-H Q5-style multi-way join: fact-fact joins shuffle on their keys,
    * dimension joins broadcast. Revenue per nation.
    */
  def q3JoinRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
    val ord  = Tables.orders(s, d)
    val li   = Tables.lineitem(s, d)
    val sup  = Tables.supplier(s, d)
    val nat  = Tables.nation(s, d)
    cust
      .join(ord, $"c_custkey" === $"o_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .join(broadcast(sup),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q3Sql: String =
    s"""SELECT n_name,
       | ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       | COUNT(*) AS n_items
       |FROM customer
       |JOIN orders   ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** q60: data-quality profile (the Deequ/Great-Expectations audit shape)
    * — per-column completeness, distinctness, and rule conformance over
    * orders, emitted long-form (one row per column). All metrics ride in
    * ONE aggregate: Spark plans the six countDistincts as a single Expand
    * (6x row fan-out, one scan, one exchange of six partial-agg cells) —
    * the standard one-pass profile; per-column passes would re-scan the
    * fact six times. Conformance rules (mirrored literally in the
    * oracle): keys > 0, status in (O,F,P), price > 0, date in the TPC-H
    * window, priority matching '^[1-5]-'. Counts only — no min/max on
    * the double column, keeping the surface float-free.
    */
  def dqProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      count($"o_orderkey").as("nn1"), countDistinct($"o_orderkey").as("nd1"),
      count(when($"o_orderkey" > 0, 1)).as("nc1"),
      count($"o_custkey").as("nn2"), countDistinct($"o_custkey").as("nd2"),
      count(when($"o_custkey" > 0, 1)).as("nc2"),
      count($"o_orderstatus").as("nn3"), countDistinct($"o_orderstatus").as("nd3"),
      count(when($"o_orderstatus".isin("O", "F", "P"), 1)).as("nc3"),
      count($"o_totalprice").as("nn4"), countDistinct($"o_totalprice").as("nd4"),
      count(when($"o_totalprice" > 0.0, 1)).as("nc4"),
      count($"o_orderdate").as("nn5"), countDistinct($"o_orderdate").as("nd5"),
      count(when($"o_orderdate" >= lit("1992-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1999-01-01").cast("timestamp"), 1)).as("nc5"),
      count($"o_orderpriority").as("nn6"), countDistinct($"o_orderpriority").as("nd6"),
      count(when($"o_orderpriority".rlike("^[1-5]-"), 1)).as("nc6"))
    agg.selectExpr("n_rows",
      """stack(6,
        |  'o_orderkey', nn1, nd1, nc1,
        |  'o_custkey', nn2, nd2, nc2,
        |  'o_orderstatus', nn3, nd3, nc3,
        |  'o_totalprice', nn4, nd4, nc4,
        |  'o_orderdate', nn5, nd5, nc5,
        |  'o_orderpriority', nn6, nd6, nc6)
        |AS (col, n_nonnull, n_distinct, n_conforming)""".stripMargin)
      .select($"col", $"n_rows", $"n_nonnull", $"n_distinct", $"n_conforming",
        ($"n_nonnull" === $"n_rows").as("complete"),
        ($"n_distinct" === $"n_rows").as("unique_key"))
      .orderBy($"col")
  }

  val dqProfileSql: String =
    """WITH m AS (
      |  SELECT COUNT(*) AS n_rows,
      |    COUNT(o_orderkey) AS nn1, COUNT(DISTINCT o_orderkey) AS nd1,
      |    COUNT(*) FILTER (WHERE o_orderkey > 0) AS nc1,
      |    COUNT(o_custkey) AS nn2, COUNT(DISTINCT o_custkey) AS nd2,
      |    COUNT(*) FILTER (WHERE o_custkey > 0) AS nc2,
      |    COUNT(o_orderstatus) AS nn3, COUNT(DISTINCT o_orderstatus) AS nd3,
      |    COUNT(*) FILTER (WHERE o_orderstatus IN ('O','F','P')) AS nc3,
      |    COUNT(o_totalprice) AS nn4, COUNT(DISTINCT o_totalprice) AS nd4,
      |    COUNT(*) FILTER (WHERE o_totalprice > 0.0) AS nc4,
      |    COUNT(o_orderdate) AS nn5, COUNT(DISTINCT o_orderdate) AS nd5,
      |    COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1992-01-01'
      |                       AND o_orderdate < TIMESTAMP '1999-01-01') AS nc5,
      |    COUNT(o_orderpriority) AS nn6, COUNT(DISTINCT o_orderpriority) AS nd6,
      |    COUNT(*) FILTER (WHERE regexp_matches(o_orderpriority, '^[1-5]-')) AS nc6
      |  FROM orders),
      |long AS (
      |  SELECT 'o_orderkey' AS col, n_rows, nn1 AS n_nonnull, nd1 AS n_distinct, nc1 AS n_conforming FROM m
      |  UNION ALL SELECT 'o_custkey', n_rows, nn2, nd2, nc2 FROM m
      |  UNION ALL SELECT 'o_orderstatus', n_rows, nn3, nd3, nc3 FROM m
      |  UNION ALL SELECT 'o_totalprice', n_rows, nn4, nd4, nc4 FROM m
      |  UNION ALL SELECT 'o_orderdate', n_rows, nn5, nd5, nc5 FROM m
      |  UNION ALL SELECT 'o_orderpriority', n_rows, nn6, nd6, nc6 FROM m)
      |SELECT col, n_rows, n_nonnull, n_distinct, n_conforming,
      |  n_nonnull = n_rows AS complete,
      |  n_distinct = n_rows AS unique_key
      |FROM long
      |ORDER BY col""".stripMargin

  /** q70: heterogeneous-format FEDERATION — the same relation split across
    * CSV, JSON and ORC (the mixed estate every real lake has), read back
    * through each format's Spark source with an EXPLICIT schema (never
    * inference — schema drift is a silent killer at 100 TB), unioned, and
    * aggregated. The oracle aggregates the parquet original directly: the
    * format plumbing must be invisible in the values, which also proves
    * the text formats round-trip doubles exactly (Spark writes
    * shortest-round-trip representations).
    *
    * Scale: each leg is an independent parallel scan; the union is a
    * plan-level concat (no shuffle); the one exchange is the final
    * aggregation's.
    */
  def multiformatUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-formats") { dir =>
      val li = Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
      li.filter($"l_linenumber" % 3 === 0)
        .write.option("header", "true").csv(s"$dir/csv")
      li.filter($"l_linenumber" % 3 === 1).write.json(s"$dir/json")
      li.filter($"l_linenumber" % 3 === 2).write.orc(s"$dir/orc")
      val schema = li.schema
      val back = s.read.option("header", "true").schema(schema).csv(s"$dir/csv")
        .unionByName(s.read.schema(schema).json(s"$dir/json"))
        .unionByName(s.read.schema(schema).orc(s"$dir/orc"))
      back.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), Ora.dsum($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag")
        .localCheckpoint(true)
    }
  }

  val multiformatUnionSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${Ora.sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q70_multiformat_union" -> (multiformatUnion _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_filter_project"  -> (q2FilterProject _),
    "q60_dq_profile"     -> (dqProfile _),
    "q3_join_revenue"    -> (q3JoinRevenue _))

  val oracle: Map[String, String] = Map(
    "q70_multiformat_union" -> multiformatUnionSql,
    "q1_pricing_summary" -> q1Sql,
    "q2_filter_project"  -> q2Sql,
    "q60_dq_profile"     -> dqProfileSql,
    "q3_join_revenue"    -> q3Sql)
}
