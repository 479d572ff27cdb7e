package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Oracle-stability helpers.
  *
  * The driver hash-compares Spark results against a DuckDB oracle
  * (BASELINE.json "metric"). Double aggregation is order-dependent, and Spark's
  * parallel partial aggregation sums in a different order than DuckDB's
  * single-node scan — the last ulp diverges and the hash mismatches. The fix is
  * to aggregate in exact decimal arithmetic and cast the exact result back to
  * double at the end:
  *
  *   - the double -> DECIMAL(38,6) cast rounds to the nearest 6-decimal value.
  *     Fixture monetary columns carry <= 2 decimal digits and products of three
  *     such values carry <= 6, so the cast recovers the exact decimal value on
  *     both engines (a binary double is never exactly on a .5*10^-6 boundary,
  *     so rounding-mode differences can't bite);
  *   - decimal SUM is exact and associative => identical on both engines
  *     regardless of partitioning / aggregation order — this also holds on a
  *     1000-executor cluster, where partial-aggregate order is nondeterministic;
  *   - the final decimal -> double cast is deterministic.
  *
  * AVG is expressed as exact-decimal-sum cast to double, divided by the row
  * count: one IEEE double division on identical operands => identical result.
  * Every oracle SQL string mirrors the same shape
  * (CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)).
  */
object Ora {
  /** Order-independent, engine-exact sum of a double column, computed by
    * the codegen'd fixed-point aggregate ([[graft.functions.FixedPointSum]]):
    * bit-identical to the stock `sum(cast(x as decimal(38,6)))` form
    * (FixedPointSumSpec pins it) at ~4x less per-row cost (no
    * Double.toString/BigDecimal churn, long-pair buffer).
    */
  def dsum(c: Column): Column = graft.functions.FixedPointSum.fixedSum(c)

  /** Order-independent, engine-exact average of a double column. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** SQL fragment mirroring [[dsum]] for the DuckDB side. */
  def sqlSum(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(38,6))) AS DOUBLE)"

  /** SQL fragment mirroring [[davg]] for the DuckDB side. */
  def sqlAvg(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)"
}
