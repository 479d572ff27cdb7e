package graft.operators

import graft.{Ora, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation surface: distinct counts, HAVING, ROLLUP / CUBE / GROUPING
  * SETS, approximate distinct (SURVEY.md §2-B "aggregation").
  *
  * All group-bys partial-aggregate map-side before the shuffle (Tungsten hash
  * aggregate), so the shuffled volume is O(groups), not O(rows) — the property
  * that keeps these plans viable at 100 TB. `approx_count_distinct` is the HLL
  * path whose sketch merges associatively across 1000 executors; its exact
  * value is implementation-specific so it is declared rows-only (no oracle).
  */
object Aggregates {
  import Ora._

  /** COUNT(DISTINCT) + plain count per group. */
  def aggDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderstatus")
      .agg(
        countDistinct($"o_custkey").as("n_cust"),
        countDistinct($"o_orderpriority").as("n_prio"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderstatus")
  }

  val aggDistinctSql: String =
    """SELECT o_orderstatus,
      | COUNT(DISTINCT o_custkey) AS n_cust,
      | COUNT(DISTINCT o_orderpriority) AS n_prio,
      | COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** HAVING: big-spender customers only (filter over an aggregate). */
  def having(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(dsum($"o_totalprice").as("total"), count(lit(1)).as("n_orders"))
      .filter($"total" > 400000.0)
      .orderBy($"o_custkey")
  }

  val havingSql: String =
    s"""SELECT o_custkey, ${sqlSum("o_totalprice")} AS total, COUNT(*) AS n_orders
       |FROM orders
       |GROUP BY o_custkey
       |HAVING ${sqlSum("o_totalprice")} > 400000.0
       |ORDER BY o_custkey""".stripMargin

  /** ROLLUP over (status, priority): subtotals + grand total. Grouping
    * columns have no data NULLs, so rollup NULLs are unambiguous.
    */
  def rollupAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      .orderBy(
        $"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val rollupSql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       | COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
       |FROM orders
       |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** CUBE over (returnflag, linestatus). */
  def cubeAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .orderBy(
        $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  val cubeSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | COUNT(*) AS n, ${sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** GROUPING SETS via SQL (the DSL surface for this is SQL-first). */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_gs")
    s.sql(
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
         |FROM orders_gs
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** HLL approximate distinct — rows-only check (sketch values are
    * engine-specific; DuckDB's approx_count_distinct uses a different HLL).
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey").as("approx_orders"),
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
      .orderBy($"l_returnflag")
  }

  /** Shared rho stream for q43/q52: one row per (l_returnflag, l_orderkey)
    * with its HLL bucket `b` and rank `rho`, fully md5-deterministic.
    */
  private def hllRhos(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_orderkey",
        md5($"l_orderkey".cast("string")).as("h"))
      .select($"l_returnflag", $"l_orderkey",
        expr("CAST(conv(substring(h, 1, 2), 16, 10) AS INT) % 64").as("b"),
        expr("length(regexp_extract(substring(h, 3, 15), '^(0*)', 1))").as("z"),
        $"h")
      .select($"l_returnflag", $"l_orderkey", $"b",
        expr(
          """CASE WHEN z = 15 THEN 61
            |     ELSE z * 4 + (CASE
            |       WHEN CAST(conv(substring(h, 3 + z, 1), 16, 10) AS INT) >= 8 THEN 0
            |       WHEN CAST(conv(substring(h, 3 + z, 1), 16, 10) AS INT) >= 4 THEN 1
            |       WHEN CAST(conv(substring(h, 3 + z, 1), 16, 10) AS INT) >= 2 THEN 2
            |       ELSE 3 END) + 1 END""".stripMargin).as("rho"))
  }

  /** Estimate (BIGINT) from a register frame (`b`, `mj`) — q43's exact
    * integer arithmetic with the DECIMAL(38,0) denominator kept INTERNAL
    * (never emitted; the driver-hash-unsafe width stays inside the plan).
    */
  private def hllEstimate(regs: DataFrame, name: String): DataFrame =
    regs.agg(
      sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - mj) AS DECIMAL(38,0))"))
        .as("s_present"),
      count(lit(1)).as("nb"))
      .selectExpr(
        s"""CAST(6696315672709156913020928 AS DECIMAL(38,0))
           |  div (CAST(1000 AS DECIMAL(38,0))
           |    * CAST(s_present
           |        + CAST(64 - nb AS DECIMAL(38,0))
           |          * CAST(2305843009213693952 AS DECIMAL(38,0))
           |      AS DECIMAL(38,0))) AS $name""".stripMargin)

  /** q43: a DETERMINISTIC HyperLogLog, oracle-checked bit-for-bit — the
    * exactness answer to q15's rows-only caveat. The whole sketch derives
    * from md5 so both engines build identical registers:
    *
    *   - value hash h = md5(key); bucket = first byte mod 64 (m = 64);
    *   - rank rho = position of the first 1-bit in the next 60 bits
    *     (hex chars 3..17), 61 if all zero — so rho ∈ [1, 61];
    *   - register M_b = max rho per bucket: EXACT integers, associative
    *     max — merges across 1000 executors like any HLL (q52 checks the
    *     merge property itself);
    *   - the harmonic denominator sum(2^-M_b) is kept EXACT by scaling to
    *     the common denominator 2^61: S = sum(1 << (61 - M_b)) over
    *     present buckets + (64 - n_present) * 2^61, accumulated as
    *     DECIMAL(38,0) (max 2^67, order-independent integer addition);
    *   - the estimate floor(alpha_64 * m^2 * 2^61 / S) is computed in
    *     EXACT integer arithmetic: alpha_64 = 0.709 = 709/1000, so the
    *     estimate is (709 * 4096 * 2^61) div (1000 * S) — a constant
    *     38-digit numerator integer-divided by a decimal; no floating
    *     point anywhere in the query (a decimal→double cast of S needs
    *     ~60 mantissa bits, and engines differ in >53-bit rounding).
    *
    * Emitted next to the exact distinct count, so the result also
    * hash-checks the sketch's error (m = 64 → ~13% standard error). The
    * 2^61-scaled S itself surfaces as two BIGINT halves (base 2^34):
    * raw DECIMAL(38,0) is past float64-exact range and renders
    * divergently across the driver's hash canonicalization.
    */
  def hllDeterministic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val regs = hllRhos(s, d).groupBy($"l_returnflag", $"b")
      .agg(max($"rho").as("mj"))
    val sketch = regs.groupBy($"l_returnflag")
      .agg(
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - mj) AS DECIMAL(38,0))"))
          .as("s_present"),
        count(lit(1)).as("nb"))
      .select($"l_returnflag",
        expr("""CAST(s_present
                |  + CAST(64 - nb AS DECIMAL(38,0))
                |    * CAST(2305843009213693952 AS DECIMAL(38,0))
                |  AS DECIMAL(38,0))""".stripMargin).as("hll_s"))
      .select($"l_returnflag",
        // The raw 2^61-scaled sum S reaches ~2^67 — past BIGINT and past
        // float64-exact range — and DECIMAL(38,0) renders differently across
        // engines' hash canonicalizations. Emit S as two BIGINT halves
        // (base 2^34) instead: hi = S div 2^34 (< 2^33), lo = S mod 2^34.
        expr("CAST(hll_s div 17179869184 AS BIGINT)").as("hll_s_hi"),
        expr("CAST(hll_s % 17179869184 AS BIGINT)").as("hll_s_lo"),
        expr("""CAST(6696315672709156913020928 AS DECIMAL(38,0))
                |  div (CAST(1000 AS DECIMAL(38,0)) * hll_s)""".stripMargin)
          .as("hll_estimate"))
    val exact = Tables.lineitem(s, d).groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("exact_distinct"))
    sketch.join(exact, "l_returnflag")
      .select($"l_returnflag", $"hll_s_hi", $"hll_s_lo", $"hll_estimate",
        $"exact_distinct")
      .orderBy($"l_returnflag")
  }

  /** Oracle CTE prefix shared by q43/q52 — the SQL mirror of [[hllRhos]].
    * Spliced via `.replace("__RHOS__", ...)` (stripMargin-first rule);
    * change it and [[hllRhos]] together or neither.
    */
  private[operators] val hllRhosCte: String =
    """hashed AS (
      |  SELECT l_returnflag, l_orderkey,
      |    md5(CAST(l_orderkey AS VARCHAR)) AS h
      |  FROM lineitem),
      |zed AS (
      |  SELECT l_returnflag, l_orderkey,
      |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS b,
      |    length(regexp_extract(substr(h, 3, 15), '^(0*)', 1)) AS z,
      |    h
      |  FROM hashed),
      |rhos AS (
      |  SELECT l_returnflag, l_orderkey, b,
      |    CASE WHEN z = 15 THEN 61
      |         ELSE z * 4 + (CASE
      |           WHEN strpos('0123456789abcdef', substr(h, 3 + z, 1)) - 1 >= 8 THEN 0
      |           WHEN strpos('0123456789abcdef', substr(h, 3 + z, 1)) - 1 >= 4 THEN 1
      |           WHEN strpos('0123456789abcdef', substr(h, 3 + z, 1)) - 1 >= 2 THEN 2
      |           ELSE 3 END) + 1 END AS rho
      |  FROM zed)""".stripMargin

  /** Oracle estimate subquery over a register CTE (`b`, `mj`) — the SQL
    * mirror of [[hllEstimate]]. */
  private def hllEstimateSql(regsCte: String, alias: String): String =
    """SELECT CAST(CAST('6696315672709156913020928' AS HUGEINT)
      |    // (CAST(1000 AS HUGEINT)
      |       * (SUM(CAST(CAST(1 AS BIGINT) << (61 - mj) AS HUGEINT))
      |          + CAST(64 - COUNT(*) AS HUGEINT)
      |            * CAST(2305843009213693952 AS HUGEINT)))
      |    AS BIGINT) AS __ALIAS__
      |  FROM __REGS__""".stripMargin
      .replace("__ALIAS__", alias).replace("__REGS__", regsCte)

  val hllDeterministicSql: String =
    """WITH __RHOS__,
      |regs AS (
      |  SELECT l_returnflag, b, MAX(rho) AS mj
      |  FROM rhos GROUP BY 1, 2),
      |sk AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(CAST(1 AS BIGINT) << (61 - mj) AS DECIMAL(38,0)))
      |      + CAST(64 - COUNT(*) AS DECIMAL(38,0))
      |        * CAST(2305843009213693952 AS DECIMAL(38,0))
      |      AS DECIMAL(38,0)) AS hll_s
      |  FROM regs GROUP BY 1),
      |ex AS (
      |  SELECT l_returnflag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
      |  FROM lineitem GROUP BY 1)
      |SELECT sk.l_returnflag,
      |  CAST(CAST(hll_s AS HUGEINT) // 17179869184 AS BIGINT) AS hll_s_hi,
      |  CAST(CAST(hll_s AS HUGEINT) % 17179869184 AS BIGINT) AS hll_s_lo,
      |  CAST(CAST('6696315672709156913020928' AS HUGEINT)
      |    // (CAST(1000 AS HUGEINT) * CAST(hll_s AS HUGEINT))
      |    AS BIGINT) AS hll_estimate,
      |  ex.exact_distinct
      |FROM sk JOIN ex USING (l_returnflag)
      |ORDER BY l_returnflag""".stripMargin
      .replace("__RHOS__", hllRhosCte)

  /** q52: HLL sketch MERGE — the property that makes q43's sketch a
    * 1000-executor aggregate rather than a single-pass trick. Per-group
    * (l_returnflag) registers merge by per-bucket max (associative,
    * commutative — any tree of partial merges lands on the same
    * registers), and the claim checked bit-for-bit here is that the
    * MERGED global sketch equals the sketch built DIRECTLY over the whole
    * table: identical registers, hence identical estimate. Emits both
    * estimates plus the equality flag; the DECIMAL(38,0) harmonic sum
    * stays internal ([[hllEstimate]]) — only BIGINT-safe values surface.
    */
  def hllMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The two branches each scan lineitem once (column-pruned to 2 cols).
    // Deliberately NOT persisted/checkpointed: the rho stream is O(n), so
    // at corpus scale materializing it costs more than the second pruned
    // scan — the opposite trade from d11, which checkpoints a small pair
    // set.
    val rhos = hllRhos(s, d)
    // partial sketches per group, then merged: max-of-max per bucket
    val merged = rhos.groupBy($"l_returnflag", $"b").agg(max($"rho").as("mj"))
      .groupBy($"b").agg(max($"mj").as("mj"))
    // direct whole-table sketch
    val direct = rhos.groupBy($"b").agg(max($"rho").as("mj"))
    hllEstimate(merged, "merged_estimate")
      .crossJoin(hllEstimate(direct, "direct_estimate"))
      .select($"merged_estimate", $"direct_estimate",
        ($"merged_estimate" === $"direct_estimate").as("consistent"))
      .orderBy($"merged_estimate") // single row; total order per hard rule
  }

  val hllMergeSql: String =
    """WITH __RHOS__,
      |mreg AS (
      |  SELECT b, MAX(mj) AS mj FROM (
      |    SELECT l_returnflag, b, MAX(rho) AS mj FROM rhos GROUP BY 1, 2) g
      |  GROUP BY b),
      |dreg AS (SELECT b, MAX(rho) AS mj FROM rhos GROUP BY b),
      |mest AS (__MEST__),
      |dest AS (__DEST__)
      |SELECT merged_estimate, direct_estimate,
      |  merged_estimate = direct_estimate AS consistent
      |FROM mest, dest
      |ORDER BY merged_estimate""".stripMargin
      .replace("__RHOS__", hllRhosCte)
      .replace("__MEST__", hllEstimateSql("mreg", "merged_estimate"))
      .replace("__DEST__", hllEstimateSql("dreg", "direct_estimate"))

  /** q57: HLL INTERSECTION estimate via inclusion-exclusion — the
    * audience-overlap question (|users in segment A ∩ segment B|) every
    * analytics deployment answers with sketches because the exact
    * distinct-intersection needs both key sets co-shuffled. Segments:
    * orders seen with returnflag 'A' vs 'R' (an order's lineitems carry
    * multiple flags, so the sets genuinely overlap). The union sketch is
    * the per-bucket MAX of the two segment registers — the same
    * associative merge q52 proves — and the intersection estimate is
    * E(A) + E(B) − E(A∪B) in exact integer arithmetic (can go negative
    * at sketch error; emitted as-is, both engines identical). The exact
    * intersection rides along, so the result hash-checks the
    * inclusion-exclusion error too.
    *
    * Scale: three register frames of 64 rows each from ONE rho stream
    * (two column-pruned scans as in q52), estimates over 64-row
    * aggregates, exact side one distinct-agg — nothing here grows with
    * the table beyond the pruned scans.
    */
  def hllIntersect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rhos = hllRhos(s, d).filter($"l_returnflag".isin("A", "R"))
    def regsOf(flag: String) = rhos.filter($"l_returnflag" === flag)
      .groupBy($"b").agg(max($"rho").as("mj"))
    val regsA = regsOf("A")
    val regsR = regsOf("R")
    val regsU = regsA.unionByName(regsR)
      .groupBy($"b").agg(max($"mj").as("mj"))
    val exact = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_returnflag")
      .filter($"l_returnflag".isin("A", "R"))
      .distinct()
      .groupBy($"l_orderkey").agg(count(lit(1)).as("nf"))
      .filter($"nf" === 2)
      .agg(count(lit(1)).as("exact_intersect"))
    hllEstimate(regsA, "est_a")
      .crossJoin(hllEstimate(regsR, "est_r"))
      .crossJoin(hllEstimate(regsU, "est_union"))
      .crossJoin(exact)
      .select($"est_a", $"est_r", $"est_union",
        ($"est_a" + $"est_r" - $"est_union").as("est_intersect"),
        $"exact_intersect")
      .orderBy($"est_a") // single row; total order per hard rule
  }

  val hllIntersectSql: String =
    """WITH __RHOS__,
      |areg AS (SELECT b, MAX(rho) AS mj FROM rhos
      |         WHERE l_returnflag = 'A' GROUP BY b),
      |rreg AS (SELECT b, MAX(rho) AS mj FROM rhos
      |         WHERE l_returnflag = 'R' GROUP BY b),
      |ureg AS (SELECT b, MAX(mj) AS mj FROM (
      |           SELECT b, mj FROM areg UNION ALL SELECT b, mj FROM rreg) u
      |         GROUP BY b),
      |aest AS (__AEST__),
      |rest AS (__REST__),
      |uest AS (__UEST__),
      |ex AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersect FROM (
      |    SELECT l_orderkey FROM (
      |      SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem
      |      WHERE l_returnflag IN ('A', 'R')) d
      |    GROUP BY l_orderkey HAVING COUNT(*) = 2) i)
      |SELECT est_a, est_r, est_union,
      |  est_a + est_r - est_union AS est_intersect,
      |  exact_intersect
      |FROM aest, rest, uest, ex
      |ORDER BY est_a""".stripMargin
      .replace("__RHOS__", hllRhosCte)
      .replace("__AEST__", hllEstimateSql("areg", "est_a"))
      .replace("__REST__", hllEstimateSql("rreg", "est_r"))
      .replace("__UEST__", hllEstimateSql("ureg", "est_union"))

  /** Count-Min geometry for q48: d hash rows × w counters. Mirrored
    * literally in the oracle SQL — change both or neither. */
  val CmDepth = 4
  val CmWidth = 256

  /** q48: a DETERMINISTIC Count-Min sketch, oracle-checked bit-for-bit —
    * the heavy-hitters companion to q43's HLL. Every row of lineitem
    * increments [[CmDepth]] counters (row j's position = hex chars
    * 4j+1..4j+4 of md5(partkey) mod [[CmWidth]]); a key's estimate is the
    * MIN of its d counters, always >= the true count. Emitted beside the
    * exact count for the top-25 estimated keys, so the sketch's
    * overcount — the number a production sketch deployment needs to
    * know — is itself hash-checked. All-integer arithmetic.
    *
    * Scale shape: the sketch build is a map-side explode into a bounded
    * d×w = 1024-cell aggregation (partial aggregation collapses each
    * partition to <=1024 rows before the one tiny shuffle — this is why
    * sketches exist); the estimate pass joins per-key positions against
    * the BROADCAST counter table, so the big side never shuffles. The
    * counter table merges across 1000 executors by plain addition,
    * exactly like the production sketch would.
    */
  def countMin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19 opt: pin one k-keyed exchange — the md5 position explode below
    // is map-side work over the scan's few input splits, and BOTH
    // branches (counter table + exact counts) reuse the single spread
    // exchange instead of re-scanning.
    val src = Tables.spread(
      Tables.lineitem(s, d)
        .select($"l_partkey".cast("string").as("k")),
      $"k")
    val posCols = (0 until CmDepth).map { j =>
      struct(lit(j).as("j"),
        expr(s"CAST(conv(substring(md5(k), ${j * 4 + 1}, 4), 16, 10) AS BIGINT)" +
          s" % $CmWidth").as("pos"))
    }
    val counters = src
      .select(explode(array(posCols: _*)).as("jp"))
      .groupBy($"jp.j".as("j"), $"jp.pos".as("pos"))
      .agg(count(lit(1)).as("c"))
    val keys = src.groupBy($"k").agg(count(lit(1)).as("exact_n"))
    keys
      .select($"k", $"exact_n", explode(array(posCols: _*)).as("jp"))
      .select($"k", $"exact_n", $"jp.j".as("j"), $"jp.pos".as("pos"))
      .join(broadcast(counters), Seq("j", "pos"))
      .groupBy($"k", $"exact_n")
      .agg(min($"c").as("cm_est"))
      .withColumn("overcount", $"cm_est" - $"exact_n")
      .orderBy($"cm_est".desc, $"k".asc)
      .limit(25)
  }

  val countMinSql: String =
    s"""WITH src AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
       |pos AS (
       |  SELECT k, j,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 5),
       |        i -> CAST(strpos('0123456789abcdef',
       |               substr(md5(k), j * 4 + i, 1)) - 1 AS BIGINT))),
       |      (acc, v) -> acc * 16 + v) % $CmWidth AS p
       |  FROM src CROSS JOIN generate_series(0, ${CmDepth - 1}) g(j)),
       |counters AS (SELECT j, p, COUNT(*) AS c FROM pos GROUP BY 1, 2),
       |keys AS (SELECT k, COUNT(*) AS exact_n FROM src GROUP BY k),
       |kpos AS (
       |  SELECT kk.k, kk.exact_n, g.j,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 5),
       |        i -> CAST(strpos('0123456789abcdef',
       |               substr(md5(kk.k), g.j * 4 + i, 1)) - 1 AS BIGINT))),
       |      (acc, v) -> acc * 16 + v) % $CmWidth AS p
       |  FROM keys kk CROSS JOIN generate_series(0, ${CmDepth - 1}) g(j)),
       |est AS (
       |  SELECT kp.k, kp.exact_n, MIN(c.c) AS cm_est
       |  FROM kpos kp JOIN counters c ON c.j = kp.j AND c.p = kp.p
       |  GROUP BY 1, 2)
       |SELECT k, exact_n, cm_est, cm_est - exact_n AS overcount
       |FROM est
       |ORDER BY cm_est DESC, k ASC
       |LIMIT 25""".stripMargin

  /** q58 basket-size cap: baskets with more distinct parts are dropped
    * BEFORE pairing, bounding the self-join at cap^2 rows per basket —
    * the guard that keeps frequent-pair mining from going quadratic on a
    * mega-basket at 100 TB. Mirrored literally in the oracle; the sf
    * fixtures' baskets are ~4 parts so nothing is actually dropped there
    * (the cap exists for the pathological tail, not the median).
    */
  val BasketCap = 25
  /** Minimum pair support surfaced (HAVING on the pair count). */
  val MinSupport = 2

  /** q58: frequent-pair mining (market-basket co-purchase) — parts that
    * co-occur in the same order with support >= [[MinSupport]], plus a
    * lift >= 1.5 test done in EXACT cross-multiplied integers
    * (n_ab * n_orders * 10 >= 15 * n_a * n_b — no division, no floats).
    *
    * Scale shapes: one distinct per (order, part) [map-side combinable],
    * basket-size cap before the self-join (see [[BasketCap]]), the pair
    * build is a single equi-join keyed by l_orderkey (one co-partitioned
    * shuffle — both sides are the SAME relation, so AQE reuses the
    * exchange), the pair agg is keyed by (pa, pb), and the per-part
    * marginals are a dimension-sized frame that broadcasts into the
    * result join. Nothing enumerates the part x part space.
    */
  /** Capped-basket (order, part) relation shared by q58/q61. */
  private[operators] def cappedBaskets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_partkey").distinct()
    val capped = items.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("bsize"))
      .filter($"bsize" <= BasketCap)
      .select($"l_orderkey")
    items.join(capped, Seq("l_orderkey"))
  }

  /** Support-filtered co-purchase pairs (pa < pb, n_ab >= MinSupport) —
    * shared by q58 and the q61 graph build. */
  private[graft] def basketPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19 opt: pin the basket self-join's parallelism — AQE's byte-based
    // coalescing shrank the orderkey exchange to a couple of tasks, and
    // the pair explosion + partial aggregation (the expensive part of
    // this plan) ran there serially (q58 measured 1.26x slower with
    // coalescing on). Both join sides reuse ONE pinned exchange.
    val b = graft.Tables.spread(cappedBaskets(s, d), $"l_orderkey")
    b.select($"l_orderkey", $"l_partkey".as("pa"))
      .join(b.select($"l_orderkey", $"l_partkey".as("pb")), Seq("l_orderkey"))
      .filter($"pa" < $"pb")
      .groupBy($"pa", $"pb").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= MinSupport)
  }

  /** Oracle CTE mirror of [[cappedBaskets]]/[[basketPairs]] (constants
    * literal — change with BasketCap/MinSupport or neither). */
  private[operators] val basketPairsCte: String =
    """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |capped AS (SELECT l_orderkey FROM items GROUP BY 1 HAVING COUNT(*) <= 25),
      |b AS (SELECT i.l_orderkey, i.l_partkey
      |      FROM items i JOIN capped USING (l_orderkey)),
      |pairs AS (
      |  SELECT a.l_partkey AS pa, c.l_partkey AS pb, COUNT(*) AS n_ab
      |  FROM b a JOIN b c
      |    ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  def copurchase(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b = cappedBaskets(s, d)
    val pairs = basketPairs(s, d)
    val marg = b.groupBy($"l_partkey").agg(count(lit(1)).as("nx"))
    val tot = b.agg(countDistinct($"l_orderkey").as("n_orders"))
    pairs
      .join(broadcast(marg.select($"l_partkey".as("pa"), $"nx".as("n_a"))), Seq("pa"))
      .join(broadcast(marg.select($"l_partkey".as("pb"), $"nx".as("n_b"))), Seq("pb"))
      .crossJoin(broadcast(tot))
      .select($"pa", $"pb", $"n_ab", $"n_a", $"n_b", $"n_orders",
        ($"n_ab" * $"n_orders" * 10 >= $"n_a" * $"n_b" * 15).as("lifted"))
      .orderBy($"n_ab".desc, $"pa", $"pb")
  }

  val copurchaseSql: String =
    """WITH __PAIRS__,
      |marg AS (SELECT l_partkey, COUNT(*) AS nx FROM b GROUP BY 1),
      |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b)
      |SELECT pa, pb, n_ab, ma.nx AS n_a, mb.nx AS n_b, n_orders,
      |  n_ab * n_orders * 10 >= ma.nx * mb.nx * 15 AS lifted
      |FROM pairs
      |JOIN marg ma ON pa = ma.l_partkey
      |JOIN marg mb ON pb = mb.l_partkey
      |CROSS JOIN tot
      |ORDER BY n_ab DESC, pa, pb""".stripMargin
      .replace("__PAIRS__", basketPairsCte)

  /** q66: histogram profile — the two bucketing families every column
    * profiler/optimizer statistics job computes, side by side over
    * `o_totalprice`: equi-WIDTH (fixed 1000-wide bins; floor of an IEEE
    * double division is bit-identical across engines, so the bin id is
    * exact without any decimal detour) and equi-DEPTH (NTILE(10) over the
    * unique (price, orderkey) order — the quantile sketch every
    * cost-based optimizer wants). Per bucket: row count + exact min/max
    * (order-free double comparisons, no sums — the one double aggregate
    * family that needs no [[graft.Ora]] decimal guard).
    *
    * Scale: equi-width is one partial-aggregating groupBy (bin count is
    * value-bounded). The exact NTILE goes through [[DistRank]]'s
    * distributed rank ((price, orderkey) range partitions + per-partition
    * offsets) — exact same values as a flat window, no single-partition
    * stage.
    */
  def histograms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_orderkey", $"o_totalprice")
    def profile(df: org.apache.spark.sql.DataFrame, kind: String) = df
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
      .select(lit(kind).as("kind"), $"bucket", $"n", $"lo", $"hi")
    val width = profile(
      o.withColumn("bucket", floor($"o_totalprice" / 1000.0)), "width")
    val depth = profile(
      DistRank.withNtile(o, 10, "bucket",
          $"o_totalprice", desc = false, Seq($"o_orderkey"))
        .withColumn("bucket", $"bucket".cast("long")),
      "depth")
    width.unionByName(depth).orderBy($"kind", $"bucket")
  }

  val histogramsSql: String =
    """WITH w AS (
      |  SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bucket,
      |    COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |  FROM orders GROUP BY 1),
      |dep AS (
      |  SELECT CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)
      |    AS BIGINT) AS bucket, o_totalprice
      |  FROM orders),
      |dg AS (
      |  SELECT bucket, COUNT(*) AS n, MIN(o_totalprice) AS lo,
      |    MAX(o_totalprice) AS hi
      |  FROM dep GROUP BY 1)
      |SELECT 'width' AS kind, bucket, n, lo, hi FROM w
      |UNION ALL
      |SELECT 'depth' AS kind, bucket, n, lo, hi FROM dg
      |ORDER BY kind, bucket""".stripMargin

  /** q67: revenue concentration (Pareto table) — how much of total
    * revenue the top deciles of orders carry, the skew diagnostic behind
    * "80/20" claims and the input to any revenue-weighted sampling. The
    * monetary column goes through EXACT CENTS (2-decimal double →
    * DECIMAL(38,2) → ×100 BIGINT — no float summation anywhere), so the
    * shares are exact integer ppm and the cumulative column is a plain
    * BIGINT running sum. Decile 1 = highest-value orders.
    *
    * Scale: p19's shape — [[DistRank]] NTILE assignment (no
    * single-partition window), then a triangle self-join over the 10-row
    * decile frame for the exact-BIGINT cumulative; the only corpus-sized
    * work is one partial-agg groupBy.
    */
  def revenueConcentration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
      .select($"o_orderkey",
        ($"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(38, 2))
          * 100).cast("long").as("cents"))
    val deciled = DistRank.withNtile(o, 10, "decile",
      $"cents", desc = true, Seq($"o_orderkey"))
    val per = deciled.groupBy($"decile")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("cents_decile"))
    per
      .join(broadcast(per.select($"decile".as("d2"), $"cents_decile".as("c2"))),
        $"d2" <= $"decile")
      .groupBy($"decile", $"n_orders", $"cents_decile")
      .agg(sum($"c2").as("cents_cum"))
      .crossJoin(broadcast(o.agg(sum($"cents").as("cents_total"))))
      .select($"decile", $"n_orders", $"cents_decile",
        expr("cents_decile * 1000000L div cents_total").as("share_ppm"),
        expr("cents_cum * 1000000L div cents_total").as("cum_share_ppm"))
      .orderBy($"decile")
  }

  val revenueConcentrationSql: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |deciled AS (
      |  SELECT cents,
      |    CAST(NTILE(10) OVER (ORDER BY cents DESC, o_orderkey) AS INTEGER)
      |      AS decile
      |  FROM o),
      |per AS (
      |  SELECT decile, COUNT(*) AS n_orders,
      |    CAST(SUM(cents) AS BIGINT) AS cents_decile
      |  FROM deciled GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS cents_total FROM o)
      |SELECT decile, n_orders, cents_decile,
      |  cents_decile * 1000000 // cents_total AS share_ppm,
      |  CAST(SUM(cents_decile) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    * 1000000 // cents_total AS cum_share_ppm
      |FROM per CROSS JOIN tot
      |ORDER BY decile""".stripMargin

  /** q69: SLIDING-WINDOW distinct users via HLL pane merge — the sketch
    * trick that makes sliding distinct-counts affordable: registers are
    * built once per 15-minute PANE and every 1-hour window (slide 15 min)
    * is the max-merge of its 4 panes — each event is hashed once and each
    * pane aggregated once however many windows overlap it, vs the naive
    * form re-scanning every event 4×. Same deterministic md5 register
    * algebra as q43/q52 (associative max ⇒ identical on any partitioning);
    * the exact sliding distinct rides along so the per-window sketch error
    * hash-checks too.
    *
    * Scale: the rho stream is one narrow scan; pane registers are
    * (panes × 64) rows — the pane→window explode is over REGISTERS, not
    * events, which is the whole point at 100 TB/day.
    */
  def slidingHll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val paneUs = 900L * 1000000L
    val ev = Tables.events(s, d).select($"user_id",
      expr(s"unix_micros(ts) div ${paneUs}L").as("pane"))
    val rhos = ev
      .withColumn("h", md5($"user_id".cast("string")))
      .select($"pane",
        expr("CAST(conv(substring(h, 1, 2), 16, 10) AS INT) % 64").as("b"),
        expr("length(regexp_extract(substring(h, 3, 15), '^(0*)', 1))").as("z"),
        $"h")
      .select($"pane", $"b",
        expr(
          """CASE WHEN z = 15 THEN 61
            |     ELSE z * 4 + (CASE
            |       WHEN CAST(conv(substring(h, 3 + z, 1), 16, 10) AS INT) >= 8 THEN 0
            |       WHEN CAST(conv(substring(h, 3 + z, 1), 16, 10) AS INT) >= 4 THEN 1
            |       WHEN CAST(conv(substring(h, 3 + z, 1), 16, 10) AS INT) >= 2 THEN 2
            |       ELSE 3 END) + 1 END""".stripMargin).as("rho"))
    val panereg = rhos.groupBy($"pane", $"b").agg(max($"rho").as("mj"))
    val offs = typedlit(Seq(0L, 1L, 2L, 3L))
    val winreg = panereg.withColumn("off", explode(offs))
      .select(($"pane" - $"off").as("w"), $"b", $"mj")
      .groupBy($"w", $"b").agg(max($"mj").as("mj"))
    val est = winreg.groupBy($"w").agg(
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - mj) AS DECIMAL(38,0))"))
          .as("s_present"),
        count(lit(1)).as("nb"))
      .selectExpr("w",
        s"""CAST(6696315672709156913020928 AS DECIMAL(38,0))
           |  div (CAST(1000 AS DECIMAL(38,0))
           |    * CAST(s_present
           |        + CAST(64 - nb AS DECIMAL(38,0))
           |          * CAST(2305843009213693952 AS DECIMAL(38,0))
           |      AS DECIMAL(38,0))) AS est_users""".stripMargin)
    val exact = ev.withColumn("off", explode(offs))
      .select(($"pane" - $"off").as("w"), $"user_id").distinct()
      .groupBy($"w").agg(count(lit(1)).as("exact_users"))
    est.join(exact, Seq("w"))
      .select(($"w" * 900L).as("w_start_s"), $"est_users", $"exact_users")
      .orderBy($"w_start_s")
  }

  val slidingHllSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 900000000 AS pane FROM events),
      |hashed AS (
      |  SELECT pane, md5(CAST(user_id AS VARCHAR)) AS h FROM ev),
      |zed AS (
      |  SELECT pane,
      |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS b,
      |    length(regexp_extract(substr(h, 3, 15), '^(0*)', 1)) AS z,
      |    h
      |  FROM hashed),
      |rhos AS (
      |  SELECT pane, b,
      |    CASE WHEN z = 15 THEN 61
      |         ELSE z * 4 + (CASE
      |           WHEN strpos('0123456789abcdef', substr(h, 3 + z, 1)) - 1 >= 8 THEN 0
      |           WHEN strpos('0123456789abcdef', substr(h, 3 + z, 1)) - 1 >= 4 THEN 1
      |           WHEN strpos('0123456789abcdef', substr(h, 3 + z, 1)) - 1 >= 2 THEN 2
      |           ELSE 3 END) + 1 END AS rho
      |  FROM zed),
      |panereg AS (SELECT pane, b, MAX(rho) AS mj FROM rhos GROUP BY 1, 2),
      |offs AS (SELECT unnest([0, 1, 2, 3]) AS off),
      |winreg AS (
      |  SELECT pane - off AS w, b, MAX(mj) AS mj
      |  FROM panereg CROSS JOIN offs
      |  GROUP BY 1, b),
      |est AS (
      |  SELECT w,
      |    CAST(CAST('6696315672709156913020928' AS HUGEINT)
      |      // (CAST(1000 AS HUGEINT)
      |         * (SUM(CAST(CAST(1 AS BIGINT) << (61 - mj) AS HUGEINT))
      |            + CAST(64 - COUNT(*) AS HUGEINT)
      |              * CAST(2305843009213693952 AS HUGEINT)))
      |      AS BIGINT) AS est_users
      |  FROM winreg GROUP BY w),
      |exact AS (
      |  SELECT w, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      |  FROM (SELECT pane - off AS w, user_id FROM ev CROSS JOIN offs)
      |  GROUP BY w)
      |SELECT w * 900 AS w_start_s, est_users, exact_users
      |FROM est JOIN exact USING (w)
      |ORDER BY w_start_s""".stripMargin

  /** q73: EXACT sliding-window distinct users via pane runs — the exact
    * twin of q69's HLL pane merge, and the production shape for "distinct
    * users over a trailing hour, every 15 min" when the answer must be
    * exact. q69's exact leg re-explodes EVENTS into all 4 covering
    * windows and distincts (w, user) at event scale ×4; this operator
    * pays event scale exactly ONCE — the (user, pane) distinct — and is
    * pane-granular ever after. The identity: a user is in window
    * w = panes [w, w+3] iff some active pane lands in it; merging a
    * user's active panes into COVERAGE RUNS (successive panes ≤ 4 apart
    * share a run, because their covered-window intervals [p-3, p] touch)
    * yields disjoint intervals [a-3, b] of covered windows, so each run
    * contributes the user exactly once to each window it covers — no
    * per-window re-count, no double-count across a user's runs.
    *
    * Scale: one events scan → (user, pane) distinct (the only
    * event-sized exchange), a user-keyed lag/run window over each user's
    * few pane rows, then a ≤(b-a+4)-element sequence explode at RUN
    * granularity. PlanAuditSpec pins the single scan. The oracle replays
    * runs via the same gaps-and-islands SQL with a range join.
    */
  def slidingExactPanes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val paneUs = 900L * 1000000L
    val ev = Tables.events(s, d)
      .select($"user_id", expr(s"unix_micros(ts) div ${paneUs}L").as("pane"))
      .distinct()
    val uw = Window.partitionBy($"user_id").orderBy($"pane")
    val runs = ev
      .withColumn("brk",
        when(lag($"pane", 1).over(uw).isNull ||
          $"pane" - lag($"pane", 1).over(uw) > 4, 1L).otherwise(0L))
      .withColumn("rid", sum($"brk").over(
        uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy($"user_id", $"rid")
      .agg(min($"pane").as("a"), max($"pane").as("b"))
      .select(explode(expr("sequence(a - 3L, b)")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("users"))
      .select(($"w" * 900L).as("w_start_s"), $"users")
      .orderBy($"w_start_s")
  }

  val slidingExactPanesSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 900000000 AS pane
      |  FROM events),
      |lagged AS (
      |  SELECT user_id, pane,
      |    CASE WHEN LAG(pane) OVER (PARTITION BY user_id ORDER BY pane)
      |             IS NULL
      |           OR pane - LAG(pane) OVER (PARTITION BY user_id
      |             ORDER BY pane) > 4
      |         THEN 1 ELSE 0 END AS brk
      |  FROM ev),
      |grp AS (
      |  SELECT user_id, pane,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY pane
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
      |  FROM lagged),
      |iv AS (
      |  SELECT user_id, rid, MIN(pane) AS a, MAX(pane) AS b
      |  FROM grp GROUP BY 1, 2),
      |wins AS (
      |  SELECT DISTINCT pane - off AS w
      |  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS off) o)
      |SELECT w * 900 AS w_start_s, CAST(COUNT(*) AS BIGINT) AS users
      |FROM wins JOIN iv ON iv.a - 3 <= wins.w AND wins.w <= iv.b
      |GROUP BY w
      |ORDER BY w_start_s""".stripMargin

  /** q74: APPROXIMATE equi-depth histogram with its price tag MEASURED —
    * the 100 TB path for q66's depth leg, shipped q48-style (the suite's
    * "approximation with an exact bill" pattern: s6 recall, d11 MinHash
    * error, s13 quantization error). Boundaries come from a DETERMINISTIC
    * sample (md5-coin: orders whose `md5('aq:'||key)` starts with '0' —
    * a fixed 1/16 rate, no RNG state, replayable in SQL), selected at
    * fixed ranks i·n/10 of the sample's (price, key) order; every order
    * is then assigned by comparing against the ≤9 boundary literals — a
    * pure codegen CASE chain, no join, no global sort of the corpus. The
    * output reports, per EXACT decile: its size, the approx bucket's
    * size, and how many of its rows the approx assignment misplaced —
    * the exact-vs-approx disagreement a profiler consults before trusting
    * sampled boundaries.
    *
    * Scale: the only corpus-sized work is one scan for the sample filter,
    * one for the CASE assignment, and the exact side's [[DistRank]]
    * NTILE (which exists to BE the yardstick); boundaries are a bounded
    * ≤9-row collect (the KMeans-centroid pattern). Rank selection over
    * the sample is [[DistRank]] again — no unpartitioned window anywhere.
    */
  def histogramApproxDepth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_orderkey", $"o_totalprice")
    val sample = o.filter(substring(
      md5(concat(lit("aq:"), $"o_orderkey".cast("string"))), 1, 1) === "0")
    val n = sample.count()
    val ranks = (1 to 9).map(i => i.toLong * n / 10L)
      .filter(_ >= 1L).distinct
    val bounds = DistRank
      .withRowNumber(sample, "r", $"o_totalprice", desc = false,
        Seq($"o_orderkey"))
      .filter($"r".isin(ranks: _*))
      .select($"o_totalprice", $"o_orderkey")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).distinct.toSeq
    val approx = bounds.foldLeft(lit(1)) { case (acc, (bp, bk)) =>
      acc + when($"o_totalprice" > bp ||
        ($"o_totalprice" === bp && $"o_orderkey" > bk), 1).otherwise(0)
    }
    val j = DistRank.withNtile(o, 10, "eb",
        $"o_totalprice", desc = false, Seq($"o_orderkey"))
      .withColumn("ab", approx.cast("int"))
    val ea = j.groupBy($"eb")
      .agg(count(lit(1)).as("n_exact"),
        sum(when($"ab" =!= $"eb", 1L).otherwise(0L)).as("n_mismatch"))
    val aa = j.groupBy($"ab").agg(count(lit(1)).as("n_approx"))
    ea.join(aa, $"eb" === $"ab", "left")
      .select($"eb".as("bucket"), $"n_exact",
        coalesce($"n_approx", lit(0L)).as("n_approx"), $"n_mismatch")
      .orderBy($"bucket")
  }

  val histogramApproxDepthSql: String =
    """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
      |sample AS (
      |  SELECT o_orderkey, o_totalprice FROM o
      |  WHERE substr(md5('aq:' || CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'),
      |sn AS (SELECT COUNT(*) AS n FROM sample),
      |ranked AS (
      |  SELECT o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS r
      |  FROM sample),
      |bounds AS (
      |  SELECT DISTINCT rk.o_totalprice AS bp, rk.o_orderkey AS bk
      |  FROM ranked rk CROSS JOIN sn CROSS JOIN range(1, 10) t(i)
      |  WHERE rk.r = (i * sn.n) // 10 AND (i * sn.n) // 10 >= 1),
      |assigned AS (
      |  SELECT o.o_orderkey,
      |    CAST(1 + (SELECT COUNT(*) FROM bounds b
      |      WHERE b.bp < o.o_totalprice
      |         OR (b.bp = o.o_totalprice AND b.bk < o.o_orderkey))
      |      AS INTEGER) AS ab
      |  FROM o),
      |ex AS (
      |  SELECT o_orderkey,
      |    CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)
      |      AS INTEGER) AS eb
      |  FROM o),
      |j AS (SELECT e.eb, a.ab FROM ex e JOIN assigned a USING (o_orderkey)),
      |ea AS (
      |  SELECT eb, COUNT(*) AS n_exact,
      |    CAST(SUM(CASE WHEN ab <> eb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_mismatch
      |  FROM j GROUP BY 1),
      |aa AS (SELECT ab, COUNT(*) AS n_approx FROM j GROUP BY 1)
      |SELECT ea.eb AS bucket, ea.n_exact,
      |  COALESCE(aa.n_approx, 0) AS n_approx, ea.n_mismatch
      |FROM ea LEFT JOIN aa ON aa.ab = ea.eb
      |ORDER BY bucket""".stripMargin

  /** q79: EXACT robust statistics — per-status lower median and median
    * absolute deviation of order totals, the outlier-resistant location/
    * scale pair a data-quality monitor wants where mean/stddev are
    * wrecked by tails. "Exact" is the contract: the lower median is the
    * element at rank (n+1) div 2 under the (value, orderkey) total
    * order — an actual data value both engines select identically (no
    * interpolation, whose float arithmetic diverges across engines) —
    * and MAD re-ranks |p - med| the same way (one IEEE subtraction on
    * identical operands — bit-stable). Both ranks are PARTITIONED
    * windows (per status) — never corpus-wide; n via one group-by, med
    * and n broadcast back.
    */
  def robustStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select(
      $"o_orderstatus".as("status"), $"o_totalprice".as("p"),
      $"o_orderkey".as("k"))
    val n = o.groupBy($"status").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"status").orderBy($"p", $"k")
    val med = o.withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(n), Seq("status"))
      .filter($"rn" === expr("(n + 1) div 2"))
      .select($"status", $"p".as("med"))
    val dev = o.join(broadcast(med), Seq("status"))
      .withColumn("ad", abs($"p" - $"med"))
    val w2 = Window.partitionBy($"status").orderBy($"ad", $"k")
    val mad = dev.withColumn("rn", row_number().over(w2).cast("long"))
      .join(broadcast(n), Seq("status"))
      .filter($"rn" === expr("(n + 1) div 2"))
      .select($"status", $"ad".as("mad"))
    n.join(med, Seq("status")).join(mad, Seq("status"))
      .select($"status", $"n", $"med", $"mad")
      .orderBy($"status")
  }

  val robustStatsSql: String =
    """WITH o AS (
      |  SELECT o_orderstatus AS status, o_totalprice AS p,
      |    o_orderkey AS k
      |  FROM orders),
      |cnt AS (
      |  SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1),
      |med AS (
      |  SELECT t.status, t.p AS med FROM (
      |    SELECT status, p,
      |      ROW_NUMBER() OVER (PARTITION BY status ORDER BY p, k) AS rn
      |    FROM o) t JOIN cnt USING (status)
      |  WHERE t.rn = (cnt.n + 1) // 2),
      |dev AS (
      |  SELECT o.status, abs(o.p - m.med) AS ad, o.k
      |  FROM o JOIN med m USING (status)),
      |mad AS (
      |  SELECT t.status, t.ad AS mad FROM (
      |    SELECT status, ad, k,
      |      ROW_NUMBER() OVER (PARTITION BY status ORDER BY ad, k) AS rn
      |    FROM dev) t JOIN cnt USING (status)
      |  WHERE t.rn = (cnt.n + 1) // 2)
      |SELECT status, n, med, mad
      |FROM cnt JOIN med USING (status) JOIN mad USING (status)
      |ORDER BY status""".stripMargin

  /** q81: exact per-group MODE — the most frequent order priority per
    * customer market segment, with a deterministic smallest-value
    * tie-break. The scale point is the SHAPE: mode needs no window and
    * no sort — a keyed fact-dimension join, then two cascaded hash
    * aggregations, both with map-side partials ((segment, priority)
    * counts, then per-segment `min(struct(-cnt, priority))` whose
    * lexicographic struct order IS the "highest count, then smallest
    * value" rule). A window-based mode (rank per group) would sort
    * every group at every scale for the same five rows.
    */
  def groupMode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_custkey", $"o_orderpriority")
    val c = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
    o.join(c, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"c_mktsegment")
      .agg(min(struct((-$"cnt").as("negc"),
        $"o_orderpriority".as("m"))).as("b"))
      .select($"c_mktsegment", $"b.m".as("mode_priority"),
        (-$"b.negc").as("mode_count"))
      .orderBy($"c_mktsegment")
  }

  val groupModeSql: String =
    """WITH c AS (
      |  SELECT c_mktsegment, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT c_mktsegment, o_orderpriority, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY cnt DESC, o_orderpriority ASC) AS rn
      |  FROM c)
      |SELECT c_mktsegment, o_orderpriority AS mode_priority,
      |  cnt AS mode_count
      |FROM r WHERE rn = 1
      |ORDER BY c_mktsegment""".stripMargin

  /** q83: Z-ORDER vs linear layout — the pruning arithmetic behind
    * multi-dimensional clustering, measured on this corpus. Rows carry
    * two lookup dimensions (supplier, part, both pmod 256); a LINEAR
    * layout buckets by the leading dimension (`a div 8`), the Z layout
    * buckets by the 16-bit bit-interleave (`z div 2048`) — 32 buckets
    * either way. For a SECONDARY-dimension predicate (`b in [64,127]`)
    * the linear layout's bucket min/max boxes are full-range on b
    * (every bucket scanned: the file-skipping failure that motivates
    * Z-ordering at 100 TB), while the Z layout's top bucket bits
    * interleave b's high bits, so only the boxes whose b-range overlaps
    * survive. Emitted per layout: buckets scanned / rows in scanned
    * buckets / rows matched (identical across layouts — the sanity
    * check). ONE corpus scan: both layout assignments ride a 2-way
    * in-row explode into a (layout, bucket) aggregation with map-side
    * partials; bit math and every constant mirrored literally.
    */
  def zorderPruning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val zExpr = (0 until 8).map(i =>
      s"(((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    val l = Tables.lineitem(s, d)
      .select(pmod($"l_suppkey", lit(256)).cast("long").as("a"),
        pmod($"l_partkey", lit(256)).cast("long").as("b"))
      .withColumn("z", expr(zExpr))
      .select($"b", explode(expr(
        "array(struct('zorder' AS layout, z div 2048 AS bucket), " +
          "struct('linear' AS layout, a div 8 AS bucket))")).as("v"))
      .select($"v.layout", $"v.bucket", $"b")
    val boxes = l.groupBy($"layout", $"bucket")
      .agg(min($"b").as("bmin"), max($"b").as("bmax"),
        count(lit(1)).as("n"),
        sum(when($"b".between(64, 127), 1L).otherwise(0L)).as("hits"))
    boxes.groupBy($"layout")
      .agg(count(lit(1)).as("buckets_total"),
        sum(when($"bmin" <= 127 && $"bmax" >= 64, 1L).otherwise(0L))
          .as("buckets_scanned"),
        sum(when($"bmin" <= 127 && $"bmax" >= 64, $"n").otherwise(0L))
          .as("rows_scanned"),
        sum($"hits").as("rows_matched"))
      .orderBy($"layout")
  }

  val zorderPruningSql: String = {
    val zExpr = (0 until 8).map(i =>
      s"(((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH base AS (
       |  SELECT CAST(l_suppkey % 256 AS BIGINT) AS a,
       |    CAST(l_partkey % 256 AS BIGINT) AS b
       |  FROM lineitem),
       |z AS (SELECT a, b, ($zExpr) AS z FROM base),
       |v AS (
       |  SELECT 'zorder' AS layout, z // 2048 AS bucket, b FROM z
       |  UNION ALL
       |  SELECT 'linear' AS layout, a // 8 AS bucket, b FROM z),
       |boxes AS (
       |  SELECT layout, bucket, MIN(b) AS bmin, MAX(b) AS bmax,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN b BETWEEN 64 AND 127 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits
       |  FROM v GROUP BY layout, bucket)
       |SELECT layout, CAST(COUNT(*) AS BIGINT) AS buckets_total,
       |  CAST(SUM(CASE WHEN bmin <= 127 AND bmax >= 64 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS buckets_scanned,
       |  CAST(SUM(CASE WHEN bmin <= 127 AND bmax >= 64 THEN n ELSE 0 END)
       |    AS BIGINT) AS rows_scanned,
       |  CAST(SUM(hits) AS BIGINT) AS rows_matched
       |FROM boxes GROUP BY layout
       |ORDER BY layout""".stripMargin
  }

  /** q84: Z-ORDER LAYOUT as a physical operation (r15) — q83 measured
    * the arithmetic; this WRITES the layout and proves the skipping on
    * disk. Lineitem (projected to the two q83 lookup dimensions) is
    * clustered via [[ZOrderLayout.cluster]] into 32 `zb=` parquet
    * partitions; the secondary-dimension read (`b BETWEEN 64 AND 127`)
    * goes through [[ZOrderLayout.readBRange]], whose driver-derived
    * bucket set is a literal partition filter — the scan OPENS 8 of the
    * 32 buckets (q83's predicted fraction; PlanAuditSpec asserts the
    * file-count drop and the PartitionFilters entry). Oracle: the same
    * aggregate straight off lineitem — the layout must change WHAT IS
    * READ, never the answer.
    */
  private[graft] def zorderLayoutBuild(
      s: SparkSession, d: String, root: String): DataFrame = {
    import s.implicits._
    val dir = s"$root/zl"
    val base = Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_orderkey",
        pmod($"l_suppkey", lit(256)).cast("long").as("a"),
        pmod($"l_partkey", lit(256)).cast("long").as("b"))
    ZOrderLayout.cluster(base, $"a", $"b", dir)
    ZOrderLayout.readBRange(s, dir, 64, 127)
      .filter($"b".between(64, 127))
  }

  def zorderLayoutScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.pinned("graft-zorder") { root =>
      zorderLayoutBuild(s, d, root).groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum($"l_orderkey").as("sum_okey"))
        .orderBy($"l_returnflag")
    }
  }

  val zorderLayoutScanSql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
      |FROM lineitem
      |WHERE l_partkey % 256 BETWEEN 64 AND 127
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q85: PERSISTED store-native z-order (r16) — q84's mechanism moved
    * onto the store where a 100 TB lookup table actually runs it:
    * documents live in a [[graft.kv.BucketedPotTable]] (content-addressed
    * under tmpdir per fixture — the AnnIndex warm-store discipline, with
    * the fixture file's length+mtime in the key so a driver regen can
    * never serve a stale store), `cluster()` publishes a 3-dim z-layout
    * GENERATION under `_zorder/` (CommitMarker CAS, pinned to its source
    * generation), and TWO SEPARATE range reads — one on dim `b`, one on
    * dim `c` — ADOPT the persisted layout (Verify and Bench, separate
    * processes, both open it; within the query the two reads share
    * nothing but the published artifact). Each read's structurally
    * derived bucket set is a literal `zb IN` partition filter: 3 dims ×
    * 8 bits interleaved, bucketBits=6 pins 2 bits of EVERY dim, so each
    * single-dim range of one quarter-domain opens 16 of 64 buckets
    * (PlanAuditSpec pins the numFiles drop for both dims). Dims
    * (doc_id%256, length%256, (doc_id*37)%256 — the multiplicative
    * spread keeps every dim's HIGH bits live at 500 docs) mirrored
    * literally;
    * oracle = the same aggregates straight off documents — the layout
    * changes WHAT IS READ, never the answer.
    */
  private[graft] def storeZorderRoot(s: SparkSession, d: String): String = {
    val docsFile = new java.io.File(s"$d/documents.parquet")
    val fp = s"$d|${docsFile.length()}|${docsFile.lastModified()}"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft-zstore-$key").toString
  }

  private[graft] def storeZorderTable(
      s: SparkSession, d: String): graft.kv.BucketedPotTable = {
    import s.implicits._
    val root = storeZorderRoot(s, d)
    val t = graft.kv.BucketedPotTable(s, root, "docs_z", 16)
    if (t.generation == 0L)
      t.upsert(Tables.documents(s, d).select(
        concat(lit("d"), $"doc_id").as("key"),
        $"doc_id",
        pmod($"doc_id", lit(256)).as("a"),
        pmod(length($"text"), lit(256)).cast("long").as("b"),
        pmod($"doc_id" * 37, lit(256)).as("c")))
    if (!t.layoutFresh())
      try t.cluster(Seq("a" -> $"a", "b" -> $"b", "c" -> $"c"))
      catch { // concurrent builder published: adopt its layout
        case _: graft.kv.PotTable.CommitConflict => ()
      }
    t
  }

  def storeZorder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = storeZorderTable(s, d)
    def probe(name: String, dim: String, lo: Int, hi: Int): DataFrame =
      t.readClustered(dim, lo, hi)
        .agg(count(lit(1)).as("n_rows"), sum($"doc_id").as("sum_id"))
        .select(lit(name).as("probe"), $"n_rows", $"sum_id")
    probe("b64_127", "b", 64, 127)
      .unionByName(probe("c0_63", "c", 0, 63))
      .orderBy($"probe")
      .localCheckpoint(true)
  }

  val storeZorderSql: String =
    """SELECT probe, n_rows, sum_id FROM (
      |  SELECT 'b64_127' AS probe, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(doc_id) AS BIGINT) AS sum_id
      |  FROM documents WHERE length(text) % 256 BETWEEN 64 AND 127
      |  UNION ALL
      |  SELECT 'c0_63', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(doc_id) AS BIGINT)
      |  FROM documents WHERE (doc_id * 37) % 256 BETWEEN 0 AND 63) t
      |ORDER BY probe""".stripMargin

  /** q86: RECURSIVE CTE hierarchy rollup (r16) — Spark 4's `WITH
    * RECURSIVE` (UnionLoop, SPARK-24497) on a derived customer tree:
    * parent(k) = k DIV 10, so the closure is every (node, ancestor) pair
    * up the decimal tree, built level-synchronously in O(log10 N)
    * iterations each a narrow scan of the previous level — no joins, the
    * account balance rides the recursion. Subtree rollup = one GROUP BY
    * over the closure (internal nodes only), exact-decimal sum (Ora
    * discipline). Scale: closure size N*log10(N) rows of 4 narrow
    * columns; each UnionLoop step is a full shuffle-free map of the
    * prior level, so a 1000-executor run is |levels| = ~12 rounds at
    * 100 TB, not row-count-bounded recursion depth. DuckDB replays the
    * identical recursion (`//` = DIV).
    */
  def recursiveRollup(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("g_customer86")
    s.sql(
      """WITH RECURSIVE up(node, anc, lvl, bal) AS (
        |  SELECT c_custkey, c_custkey, 0, c_acctbal FROM g_customer86
        |  UNION ALL
        |  SELECT node, anc DIV 10, lvl + 1, bal FROM up WHERE anc >= 10
        |)
        |SELECT anc, CAST(COUNT(*) AS BIGINT) AS n_desc,
        |  CAST(MAX(lvl) AS INT) AS depth,
        |  CAST(SUM(CAST(bal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
        |FROM up
        |GROUP BY anc
        |HAVING COUNT(*) > 1
        |ORDER BY anc""".stripMargin)
  }

  val recursiveRollupSql: String =
    """WITH RECURSIVE up(node, anc, lvl, bal) AS (
      |  SELECT c_custkey, c_custkey, 0, c_acctbal FROM customer
      |  UNION ALL
      |  SELECT node, anc // 10, lvl + 1, bal FROM up WHERE anc >= 10
      |)
      |SELECT anc, CAST(COUNT(*) AS BIGINT) AS n_desc,
      |  CAST(MAX(lvl) AS INTEGER) AS depth,
      |  CAST(SUM(CAST(bal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM up
      |GROUP BY anc
      |HAVING COUNT(*) > 1
      |ORDER BY anc""".stripMargin

  /** q87 constants — mirrored LITERALLY in [[kmvOverlapSql]] (change both
    * or neither). K = sketch size (bottom-k distinct hash values); U =
    * the 48-bit hash universe (p7's md5 fold domain — engine-portable,
    * unlike xxhash64); Cap = the map-side PREFILTER: a uniform hash
    * means the k-th minimum concentrates near K/n·U, so only hashes
    * under U/4 can ever reach a 32-value sketch once n ≥ 128 — the
    * filter drops ~3/4 of rows before any exchange. At 100 TB the cap
    * tightens to Θ(K/n̂)·U from a row-count estimate (the planner
    * statistic) and survivors stay O(K) per corpus; the fixture pins
    * U/4 literally so the oracle replays the identical survivor set. */
  private val KmvK = 32
  private val KmvU = 1L << 48
  private val KmvCap = KmvU / 4

  /** q87: KMV (k-minimum-values / bottom-k) DISTINCT SKETCH + sketch
    * set operations — Beyer et al. SIGMOD'07, the third sketch family
    * next to HLL (q15/q43/q52/q57, distinct counts only) and Count-Min
    * (q48, frequencies): a KMV sketch supports UNION and INTERSECTION
    * estimates, which is what corpus-overlap questions at training-data
    * scale actually need ("how much of corpus B is already in A?"
    * BEFORE paying the exact dedup join). Two overlapping corpora are
    * derived from `documents` with known ground truth (doc_id mod 3 /
    * mod 2 slices, true Jaccard ≈ 0.4); each keeps its K smallest
    * distinct 48-bit text hashes. Estimators (all integer-exact, both
    * engines): distinct ≈ (K−1)·U / h_K; union from the merged bottom-K
    * of the two sketches; intersection ≈ (|merged ∩ A ∩ B| · union_est)
    * / K. Emitted beside EXACT counts — the price tag: at sf0.01 a
    * 32-value sketch estimates 333/250/416/167 within ~15%. Undersized
    * sketch (fixture regen shrinking a corpus below K survivors) raises
    * NAMED, never estimates from a silently short sketch. Scale: the
    * prefilter makes survivors O(K), the bottom-k is one tiny
    * collect_set per corpus, sketch ops are single-row array math —
    * no corpus-sized exchange anywhere.
    */
  def kmvOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = Tables.documents(s, d).select($"doc_id", expr(
      "CAST(conv(substring(md5(text), 1, 12), 16, 10) AS BIGINT)").as("h"))
    def corpus(name: String, keep: org.apache.spark.sql.Column) =
      h.filter(keep).select(lit(name).as("corpus"), $"h")
    val tagged = corpus("corpus_a", $"doc_id" % 3 =!= 0)
      .unionByName(corpus("corpus_b", $"doc_id" % 2 =!= 0))
    val sk = tagged.groupBy($"corpus").agg(
      slice(sort_array(collect_set(when($"h" < KmvCap, $"h"))),
        1, KmvK).as("ks0"),
      countDistinct($"h").as("exact_nd"))
      .withColumn("ks", expr(
        s"""CASE WHEN size(ks0) >= $KmvK THEN ks0
           |  ELSE CAST(raise_error(concat('q87: corpus ', corpus,
           |    ' has only ', CAST(size(ks0) AS STRING), ' distinct ',
           |    'hashes under the U/4 prefilter — the fixture shrank ',
           |    'below the 32-value sketch; re-derive FIXTURES.md and ',
           |    'retune K/Cap together')) AS ARRAY<BIGINT>)
           |END""".stripMargin))
      .select($"corpus", $"ks", $"exact_nd",
        expr(s"element_at(ks, $KmvK)").as("hk"),
        expr(s"CAST((${KmvK - 1}L * ${KmvU}L) DIV element_at(ks, $KmvK) " +
          "AS BIGINT)").as("est"))
    val a = sk.filter($"corpus" === "corpus_a")
      .select($"ks".as("ks_a"), $"exact_nd".as("nd_a"),
        $"hk".as("hk_a"), $"est".as("est_a"))
    val b = sk.filter($"corpus" === "corpus_b")
      .select($"ks".as("ks_b"), $"exact_nd".as("nd_b"),
        $"hk".as("hk_b"), $"est".as("est_b"))
    // exact union / intersection ground truth (the price-tag baseline)
    val exact = tagged.groupBy($"h")
      .agg(countDistinct($"corpus").as("nc"))
      .agg(count(lit(1)).as("nd_union"),
        count(when($"nc" === 2, 1)).as("nd_inter"))
    // sketch set ops: merged bottom-K of the union; intersection
    // estimate = (merged values present in BOTH sketches) · union / K
    val ops = a.crossJoin(b).crossJoin(exact).select(
      expr(s"slice(sort_array(array_union(ks_a, ks_b)), 1, $KmvK)")
        .as("mk"),
      $"ks_a", $"ks_b", $"nd_a", $"nd_b", $"hk_a", $"hk_b",
      $"est_a", $"est_b", $"nd_union", $"nd_inter")
      .select($"ks_a", $"ks_b", $"nd_a", $"nd_b", $"hk_a", $"hk_b",
        $"est_a", $"est_b", $"nd_union", $"nd_inter",
        expr(s"element_at(mk, $KmvK)").as("hk_u"),
        expr(s"CAST((${KmvK - 1}L * ${KmvU}L) DIV element_at(mk, $KmvK) " +
          "AS BIGINT)").as("est_union"),
        expr("CAST(size(array_intersect(array_intersect(mk, ks_a), " +
          "ks_b)) AS BIGINT)").as("jacc_num"))
    ops.select(explode(array(
      struct(lit("1_sketch").as("kind"), lit("corpus_a").as("name"),
        $"est_a".as("est"), $"nd_a".as("exact"), $"hk_a".as("aux")),
      struct(lit("1_sketch").as("kind"), lit("corpus_b").as("name"),
        $"est_b".as("est"), $"nd_b".as("exact"), $"hk_b".as("aux")),
      struct(lit("2_union").as("kind"), lit("a_b").as("name"),
        $"est_union".as("est"), $"nd_union".as("exact"), $"hk_u".as("aux")),
      struct(lit("3_intersect").as("kind"), lit("a_b").as("name"),
        expr(s"CAST((jacc_num * est_union) DIV $KmvK AS BIGINT)")
          .as("est"),
        $"nd_inter".as("exact"), $"jacc_num".as("aux")))).as("r"))
      .select($"r.kind", $"r.name", $"r.est", $"r.exact", $"r.aux")
      .orderBy($"kind", $"name")
  }

  val kmvOverlapSql: String =
    s"""WITH h AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 13),
       |        i -> CAST(strpos('0123456789abcdef',
       |               substr(md5(text), i, 1)) - 1 AS BIGINT))),
       |      (acc, v) -> acc * 16 + v) AS h
       |  FROM documents),
       |tag AS MATERIALIZED (
       |  SELECT 'corpus_a' AS corpus, h FROM h WHERE doc_id % 3 != 0
       |  UNION ALL
       |  SELECT 'corpus_b' AS corpus, h FROM h WHERE doc_id % 2 != 0),
       |surv AS (SELECT DISTINCT corpus, h FROM tag
       |         WHERE h < ${KmvCap}),
       |rk AS (SELECT corpus, h,
       |         row_number() OVER (PARTITION BY corpus ORDER BY h) AS r
       |       FROM surv),
       |ks AS MATERIALIZED (SELECT corpus, h, r FROM rk WHERE r <= $KmvK),
       |sk AS (
       |  SELECT corpus, MAX(h) AS hk,
       |    CAST((${KmvK - 1} * CAST(${KmvU} AS BIGINT)) // MAX(h) AS BIGINT)
       |      AS est
       |  FROM ks GROUP BY corpus),
       |exact AS (
       |  SELECT corpus, CAST(COUNT(DISTINCT h) AS BIGINT) AS nd
       |  FROM tag GROUP BY corpus),
       |uni AS (
       |  SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS nd_union,
       |    CAST(COUNT(DISTINCT CASE WHEN na > 0 AND nb > 0 THEN h END)
       |      AS BIGINT) AS nd_inter
       |  FROM (SELECT h,
       |          COUNT(DISTINCT CASE WHEN corpus = 'corpus_a' THEN 1 END)
       |            AS na,
       |          COUNT(DISTINCT CASE WHEN corpus = 'corpus_b' THEN 1 END)
       |            AS nb
       |        FROM tag GROUP BY h)),
       |mrk AS (SELECT h, row_number() OVER (ORDER BY h) AS r
       |        FROM (SELECT DISTINCT h FROM ks)),
       |mk AS MATERIALIZED (SELECT h FROM mrk WHERE r <= $KmvK),
       |musk AS (
       |  SELECT MAX(h) AS hk_u,
       |    CAST((${KmvK - 1} * CAST(${KmvU} AS BIGINT)) // MAX(h) AS BIGINT)
       |      AS est_union
       |  FROM mk),
       |jn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS jacc_num FROM mk
       |  WHERE h IN (SELECT h FROM ks WHERE corpus = 'corpus_a')
       |    AND h IN (SELECT h FROM ks WHERE corpus = 'corpus_b'))
       |SELECT '1_sketch' AS kind, corpus AS name, est,
       |  nd AS "exact", hk AS aux
       |FROM sk JOIN exact USING (corpus)
       |UNION ALL
       |SELECT '2_union', 'a_b', est_union, nd_union, hk_u
       |FROM musk, uni
       |UNION ALL
       |SELECT '3_intersect', 'a_b',
       |  CAST((jacc_num * est_union) // $KmvK AS BIGINT),
       |  nd_inter, jacc_num
       |FROM jn, musk, uni
       |ORDER BY kind, name""".stripMargin

  /** q88: TOP-K PER GROUP through the custom physical operator
    * ([[graft.plans.GroupedTopK]] — logical node + planner Strategy +
    * two-phase SparkPlan, the full extension ladder): per (source,
    * lang) the 3 longest documents, ties broken by doc_id. The window
    * form (`row_number() <= 3`) sorts every group in full AND shuffles
    * every row before dropping any; the operator keeps a k-bounded
    * heap map-side, so the exchange carries at most k·groups·partitions
    * rows — the candidate-selection shape (per-probe ANN shortlists,
    * per-source leaderboards) at its right cost. PlanAuditSpec pins
    * the physical shape (partial exec → ONE hash exchange → final
    * exec) and bit-equality with the flat window form; the oracle is
    * that window form.
    */
  def groupedTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"source", $"lang", $"doc_id", $"n_chars")
    graft.plans.GroupedTopK.topKPerGroup(docs, 3,
      Seq("source", "lang"), Seq(("n_chars", false), ("doc_id", true)))
      .orderBy($"source", $"lang", $"n_chars".desc, $"doc_id")
  }

  val groupedTopKSql: String =
    """SELECT source, lang, doc_id, n_chars FROM (
      |  SELECT source, lang, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source, lang
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 3
      |ORDER BY source, lang, n_chars DESC, doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q88_grouped_topk" -> (groupedTopK _),
    "q87_kmv_overlap" -> (kmvOverlap _),
    "q86_recursive_rollup" -> (recursiveRollup _),
    "q85_store_zorder" -> (storeZorder _),
    "q84_zorder_layout" -> (zorderLayoutScan _),
    "q83_zorder_pruning" -> (zorderPruning _),
    "q81_group_mode" -> (groupMode _),
    "q79_robust_stats" -> (robustStats _),
    "q74_histogram_approx_depth" -> (histogramApproxDepth _),
    "q73_sliding_exact_panes" -> (slidingExactPanes _),
    "q69_sliding_hll" -> (slidingHll _),
    "q67_revenue_concentration" -> (revenueConcentration _),
    "q66_histograms"      -> (histograms _),
    "q48_countmin_sketch" -> (countMin _),
    "q10_agg_distinct"    -> (aggDistinct _),
    "q11_agg_having"      -> (having _),
    "q12_agg_rollup"      -> (rollupAgg _),
    "q13_agg_cube"        -> (cubeAgg _),
    "q14_agg_gsets"       -> (groupingSets _),
    "q15_agg_approx_hll"  -> (approxDistinct _),
    "q43_hll_deterministic" -> (hllDeterministic _),
    "q58_copurchase"        -> (copurchase _),
    "q57_hll_intersect"     -> (hllIntersect _),
    "q52_hll_merge"         -> (hllMerge _))

  val oracle: Map[String, String] = Map(
    "q88_grouped_topk" -> groupedTopKSql,
    "q87_kmv_overlap" -> kmvOverlapSql,
    "q86_recursive_rollup" -> recursiveRollupSql,
    "q85_store_zorder" -> storeZorderSql,
    "q84_zorder_layout" -> zorderLayoutScanSql,
    "q83_zorder_pruning" -> zorderPruningSql,
    "q81_group_mode" -> groupModeSql,
    "q79_robust_stats" -> robustStatsSql,
    "q74_histogram_approx_depth" -> histogramApproxDepthSql,
    "q73_sliding_exact_panes" -> slidingExactPanesSql,
    "q69_sliding_hll" -> slidingHllSql,
    "q67_revenue_concentration" -> revenueConcentrationSql,
    "q66_histograms"   -> histogramsSql,
    "q10_agg_distinct" -> aggDistinctSql,
    "q11_agg_having"   -> havingSql,
    "q12_agg_rollup"   -> rollupSql,
    "q13_agg_cube"     -> cubeSql,
    "q14_agg_gsets"    -> groupingSetsSql,
    "q43_hll_deterministic" -> hllDeterministicSql,
    "q58_copurchase"        -> copurchaseSql,
    "q57_hll_intersect"     -> hllIntersectSql,
    "q52_hll_merge"         -> hllMergeSql,
    "q48_countmin_sketch"   -> countMinSql)
}
