package graft.operators

import graft.{Ora, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window-function surface: ranking, running frames, range frames, lag/lead,
  * top-k per group (SURVEY.md §2-B "windows", "sort/limit").
  *
  * Every window partitions by a real key so the single shuffle distributes by
  * partition key — no global single-partition window anywhere (the classic
  * scale killer). Running sums go through exact decimal so frame-evaluation
  * order (Spark incremental vs DuckDB segment-tree) can't change the double
  * result.
  */
object Windows {
  import Ora._
  private val Dec = DecimalType(38, 6)

  /** row_number / rank / dense_rank over customers per market segment. */
  def ranking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val total = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    val byBal = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal".desc)
    Tables.customer(s, d)
      .select(
        $"c_mktsegment", $"c_custkey", $"c_acctbal",
        row_number().over(total).as("rn"),
        rank().over(byBal).as("rnk"),
        dense_rank().over(byBal).as("drnk"))
      .orderBy($"c_mktsegment", $"c_custkey")
  }

  val rankingSql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      | CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |                    ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rn,
      | CAST(RANK()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS INTEGER) AS rnk,
      | CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS INTEGER) AS drnk
      |FROM customer
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  /** Running sum + running count per customer over order history (ROWS
    * unbounded-preceding frame, exact decimal accumulation).
    */
  def runningSum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(
        $"o_custkey", $"o_orderkey", $"o_totalprice",
        sum($"o_totalprice".cast(Dec)).over(w).cast("double").as("running_total"),
        count(lit(1)).over(w).as("running_n"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val runningSumSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      | COUNT(*) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** RANGE frame on a numeric order key: how many orders fall within 5000 of
    * this order's price (per status).
    *
    * Scale shape: a naive per-status range frame serializes each status into
    * ONE window partition (parallelism = #statuses — the classic range-frame
    * scale killer). Here each status is range-split on `o_totalprice` into
    * width-`SplitW` splits, and every row in the top 5000 band of a split is
    * REPLICATED into the next split as a frame-only "halo" row. The window
    * then runs per (status, split) — embarrassingly parallel, parallelism
    * scales with the price domain — and halo copies are dropped afterwards.
    * Row-identical to the single-partition form because every frame
    * [x-5000, x] lies entirely within x's split plus its halo (SplitW >=
    * frame depth), and each original row appears exactly once per partition
    * that can need it. The halo predicate carries 1.0 of slack so a
    * floor(price/SplitW) double-rounding tie can never drop a boundary row;
    * extra halo rows are frame-members only, never emitted, and a range
    * frame ignores out-of-range rows — results are unaffected.
    */
  def rangeFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val SplitW = 20000L // split width; must exceed the 5000 frame depth
    val o = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .withColumn("_split", floor($"o_totalprice" / SplitW))
    val halo = o
      .filter($"o_totalprice" >= ($"_split" + 1) * SplitW - 5001L)
      .withColumn("_split", $"_split" + 1)
      .withColumn("_halo", lit(true))
    val w = Window.partitionBy($"o_orderstatus", $"_split")
      .orderBy($"o_totalprice")
      .rangeBetween(-5000L, 0L)
    o.withColumn("_halo", lit(false))
      .unionByName(halo)
      .withColumn("n_within_5k_below", count(lit(1)).over(w))
      .filter(!$"_halo")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        $"n_within_5k_below")
      .orderBy($"o_orderkey")
  }

  val rangeFrameSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      | COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
      |   RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS n_within_5k_below
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** lag/lead over per-user event sequences. */
  def lagLead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    Tables.events(s, d)
      .select(
        $"user_id", $"event_id", $"value",
        lag($"value", 1).over(w).as("prev_value"),
        lead($"value", 1).over(w).as("next_value"),
        ($"value" - coalesce(lag($"value", 1).over(w), lit(0.0))).as("delta"))
      .orderBy($"user_id", $"event_id")
  }

  val lagLeadSql: String =
    """SELECT user_id, event_id, value,
      | LAG(value, 1)  OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
      | LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value,
      | value - COALESCE(LAG(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), 0.0) AS delta
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  /** q56 rolling-anomaly frame: statistics over the [[AnomFrame]] events
    * BEFORE the current one (never including it — a spike must not dilute
    * the baseline it is judged against), flagged only once [[AnomMinPrior]]
    * priors exist. Both constants are mirrored literally in the oracle.
    */
  val AnomFrame = 24
  val AnomMinPrior = 8

  /** q56: rolling z-score anomaly detection over per-user event streams —
    * the metrics-monitoring classic (flag events more than 3 sigma from the
    * user's own trailing baseline). Everything runs in EXACT integer
    * algebra: values scale to cents (the fixture's 2-decimal domain), and
    * the 3-sigma test |x - mean| > 3*sigma is cross-multiplied to
    * (n*x - s)^2 > 9*(n*q - s^2) over the frame's count/sum/sum-of-squares
    * — no division, no sqrt, no float accumulation, so frame-evaluation
    * order can't change a bit on either engine. Bounds: cents <= 56,021
    * (value <= 560.21), frame n <= 24 -> every term < 2^44, far inside
    * BIGINT even at 100x the value range.
    *
    * Scale: ONE window exchange keyed by user_id; all three frame
    * aggregates share the same WindowSpec so Spark evaluates them in a
    * single Window operator over per-user bounded frames — the same shape
    * at 100 TB (a hot user costs its own event count, never a global sort).
    */
  def rollingAnomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(-AnomFrame, -1)
    Tables.events(s, d)
      .select($"user_id", $"event_id",
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
      .select($"user_id", $"event_id", $"v_cents",
        count(lit(1)).over(w).as("n_prior"),
        sum($"v_cents").over(w).as("s"),
        sum($"v_cents" * $"v_cents").over(w).as("q"))
      .filter($"n_prior" >= AnomMinPrior)
      .withColumn("dev", $"n_prior" * $"v_cents" - $"s")
      .select($"user_id", $"event_id", $"v_cents", $"n_prior",
        ($"dev" * $"dev").as("dev2"),
        (lit(9L) * ($"n_prior" * $"q" - $"s" * $"s")).as("nvar9"),
        ($"dev" * $"dev" > lit(9L) * ($"n_prior" * $"q" - $"s" * $"s"))
          .as("is_anomaly"))
      .orderBy($"user_id", $"event_id")
  }

  val rollingAnomalySql: String =
    s"""WITH v AS (SELECT user_id, event_id,
       |  CAST(round(value * 100) AS BIGINT) AS v_cents FROM events),
       |w AS (SELECT user_id, event_id, v_cents,
       |  COUNT(*) OVER win AS n_prior,
       |  CAST(SUM(v_cents) OVER win AS BIGINT) AS s,
       |  CAST(SUM(v_cents * v_cents) OVER win AS BIGINT) AS q
       |  FROM v WINDOW win AS (PARTITION BY user_id ORDER BY event_id
       |    ROWS BETWEEN $AnomFrame PRECEDING AND 1 PRECEDING))
       |SELECT user_id, event_id, v_cents, n_prior,
       |  (n_prior * v_cents - s) * (n_prior * v_cents - s) AS dev2,
       |  9 * (n_prior * q - s * s) AS nvar9,
       |  (n_prior * v_cents - s) * (n_prior * v_cents - s)
       |    > 9 * (n_prior * q - s * s) AS is_anomaly
       |FROM w WHERE n_prior >= $AnomMinPrior
       |ORDER BY user_id, event_id""".stripMargin

  /** Top-3 customers by balance per market segment (window + filter — the
    * scalable top-k-per-group idiom: no global sort, one shuffle by group).
    */
  def topKPerGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"c_mktsegment", $"rn", $"c_custkey", $"c_acctbal")
      .orderBy($"c_mktsegment", $"rn")
  }

  val topKSql: String =
    """SELECT c_mktsegment, rn, c_custkey, c_acctbal
      |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |                           ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rn
      |      FROM customer) t
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** Global ORDER BY + LIMIT with total tie-break order (sort/limit pack).
    * Spark executes this as TakeOrderedAndProject — per-partition top-k then
    * a k-row merge on the driver, no global sort even at 100 TB.
    */
  def orderByLimit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(25)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }

  val orderByLimitSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 25""".stripMargin

  /** q45: the distribution window family — ntile / percent_rank /
    * cume_dist — completing the ranking group (q16 covers
    * row_number/rank/dense_rank). Exactness notes: ntile is
    * ROW-order-dependent, so its window carries the unique
    * (acctbal, custkey) tie-break; percent_rank = (rank-1)/(N-1) and
    * cume_dist = peers/N are single IEEE divisions of exactly-represented
    * small integers — the same dividend and divisor on both engines, hence
    * bit-identical doubles (no accumulation, nothing to drift).
    */
  def distributionWindows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val total = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    val byBal = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal".desc)
    Tables.customer(s, d)
      .select(
        $"c_mktsegment", $"c_custkey", $"c_acctbal",
        ntile(4).over(total).as("quartile"),
        percent_rank().over(byBal).as("pct_rank"),
        cume_dist().over(byBal).as("cume"))
      .orderBy($"c_mktsegment", $"c_custkey")
  }

  val distributionWindowsSql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      | CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
      |                     ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS quartile,
      | PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS pct_rank,
      | CUME_DIST()    OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS cume
      |FROM customer
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  /** q46: the value window family — first_value / last_value / nth_value —
    * completing the window surface (q16 ranks, q17 running frames, q19
    * lag/lead, q45 distributions). Frames are EXPLICIT on both engines:
    * first_value over the growing frame (unbounded preceding..current row,
    * the default, spelled out anyway), last_value and nth_value over the
    * whole partition (unbounded..unbounded — the default frame would make
    * last_value degenerate to the current row). The window order carries
    * the unique (o_orderdate, o_orderkey) tie-break, and the propagated
    * values are BIGINT keys — no float arithmetic anywhere.
    *
    * Scale: one exchange keyed by o_custkey; partitions are per-customer
    * order histories (bounded), so the unbounded-following frame never
    * buffers more than one customer's rows.
    */
  def valueWindows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val grow = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = ord.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(
        $"o_custkey", $"o_orderkey", $"o_orderdate",
        first($"o_orderkey").over(grow).as("first_key"),
        last($"o_orderkey").over(full).as("last_key"),
        nth_value($"o_orderkey", 2).over(full).as("second_key"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val valueWindowsSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      | FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate ASC, o_orderkey ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
      | LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate ASC, o_orderkey ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
      | NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate ASC, o_orderkey ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q59: SCD2 dimension build — collapse each user's event stream into
    * slowly-changing-dimension rows (state = event_type; one row per
    * consecutive run, [valid_from, valid_to) half-open, last run open).
    * The classic gaps-and-islands construction: run id = difference of
    * the two row_numbers (global vs per-state), both over the SAME
    * (user_id) partitioning — ONE hash exchange feeds every window and
    * the run aggregation (Spark chains the window operators without
    * re-shuffling), then valid_to = lead(valid_from) over the collapsed
    * runs (a frame that is #runs, not #events). Interval bounds surface
    * as epoch-MICROSECOND BIGINTs (exact on both engines — no
    * second-floor ambiguity), tie-broken by event_id so same-timestamp
    * events order identically in both engines.
    */
  /** The SCD2 run collapse over an arbitrary (user_id, state, ts,
    * event_id) stream — shared by q59 (full stream) and q75's temporal
    * lookup (non-purchase dimension stream). Validity intervals
    * [vf_us, vt_us) partition each user's timeline: vt = next run's vf,
    * so intervals are disjoint even under ts ties (a tied run is empty).
    */
  private[operators] def scd2Of(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val wAll = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wState = Window.partitionBy($"user_id", $"state").orderBy($"ts", $"event_id")
    val runs = ev
      .withColumn("grp", row_number().over(wAll) - row_number().over(wState))
      .groupBy($"user_id", $"state", $"grp")
      .agg(min($"ts").as("vf"), count(lit(1)).as("n_events"),
        min($"event_id").as("first_eid"))
    val wRuns = Window.partitionBy($"user_id").orderBy($"vf", $"first_eid")
    runs
      .select($"user_id", $"state",
        unix_micros($"vf").as("vf_us"),
        unix_micros(lead($"vf", 1).over(wRuns)).as("vt_us"),
        $"n_events", $"first_eid")
  }

  def scd2Build(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    scd2Of(Tables.events(s, d)
        .select($"user_id", $"event_type".as("state"), $"ts", $"event_id"))
      .orderBy($"user_id", $"vf_us", $"first_eid")
  }

  val scd2BuildSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type AS state, ts, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts, event_id) AS grp
      |  FROM events),
      |runs AS (
      |  SELECT user_id, state, grp, MIN(ts) AS vf,
      |    CAST(COUNT(*) AS BIGINT) AS n_events, MIN(event_id) AS first_eid
      |  FROM e GROUP BY 1, 2, 3)
      |SELECT user_id, state, epoch_us(vf) AS vf_us,
      |  epoch_us(LEAD(vf) OVER (PARTITION BY user_id
      |                          ORDER BY vf, first_eid)) AS vt_us,
      |  n_events, first_eid
      |FROM runs
      |ORDER BY user_id, vf_us, first_eid""".stripMargin

  /** q78: corpus-wide leaderboard with a STRING tie-break — DistRank's
    * heavy-tie path driven through the driver gate, not just the property
    * suite: ranking by `c_nationkey` makes EVERY value a heavy tie
    * (sf0.1: ~600 rows per nation), and the tie-break is `c_name` — a
    * string with a shared "Customer#" prefix and a digit suffix, which the
    * range partitioner's sample of the full (nation, name, custkey) key
    * splits within a nation. Same global-total-order contract as p17/q66
    * (flat ROW_NUMBER in the oracle); the scale path is DistRank's range
    * partitions — no unpartitioned window anywhere.
    */
  def stringTieRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d).select(
      $"c_custkey".cast("long").as("custkey"),
      $"c_nationkey".cast("int").as("nation"), $"c_name")
    DistRank.withRowNumber(c, "rk", $"nation", desc = false,
        Seq($"c_name", $"custkey"))
      .filter($"rk" <= 200)
      .select($"rk", $"custkey", $"nation", $"c_name")
      .orderBy($"rk")
  }

  val stringTieRankSql: String =
    """SELECT rk, custkey, nation, c_name FROM (
      |  SELECT CAST(c_custkey AS BIGINT) AS custkey,
      |    CAST(c_nationkey AS INTEGER) AS nation, c_name,
      |    CAST(ROW_NUMBER() OVER (
      |      ORDER BY c_nationkey, c_name, c_custkey) AS BIGINT) AS rk
      |  FROM customer) t
      |WHERE rk <= 200
      |ORDER BY rk""".stripMargin

  /** q80: exact per-supplier WEIGHTED median of line price (weight =
    * quantity) — the robust per-key price point q79's unweighted median
    * can't give (a 50-unit line should pull the median 50× harder than a
    * 1-unit line). Lower weighted median: the smallest price whose
    * cumulative weight reaches half the supplier's total, picked by the
    * exact crossing condition `2·cum ≥ tot ∧ 2·(cum−w) < tot` (one row
    * per key since weights are ≥1). All weight arithmetic is BIGINT
    * (quantity is integral), so the comparison is exact on both engines;
    * the median itself is a SELECTED data value, never arithmetic.
    * Shapes: ONE exchange keyed by `sk` shared by the partitioned
    * cumulative window and the total-weight aggregate (map-side partial)
    * — partition count grows with suppliers, per-partition size is the
    * supplier's line count (bounded ~600 in TPC-H), so the window never
    * degenerates into a corpus-sized sort at scale.
    */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, d).select(
      $"l_suppkey".as("sk"), $"l_extendedprice".as("p"),
      expr("CAST(l_quantity AS BIGINT)").as("w"),
      $"l_orderkey".as("k"), $"l_linenumber".as("ln"))
    val tot = l.groupBy($"sk")
      .agg(sum($"w").as("tw"), count(lit(1)).as("n"))
    val win = Window.partitionBy($"sk").orderBy($"p", $"k", $"ln")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.withColumn("cw", sum($"w").over(win))
      .join(tot, Seq("sk"))
      .filter($"cw" * 2 >= $"tw" && ($"cw" - $"w") * 2 < $"tw")
      .select($"sk", $"n", $"tw", $"p".as("wmed"))
      .orderBy($"sk")
  }

  val weightedMedianSql: String =
    """WITH l AS (
      |  SELECT l_suppkey AS sk, l_extendedprice AS p,
      |    CAST(l_quantity AS BIGINT) AS w, l_orderkey AS k,
      |    l_linenumber AS ln
      |  FROM lineitem),
      |tot AS (
      |  SELECT sk, CAST(SUM(w) AS BIGINT) AS tw,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM l GROUP BY 1),
      |c AS (
      |  SELECT sk, p, w,
      |    CAST(SUM(w) OVER (PARTITION BY sk ORDER BY p, k, ln
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cw
      |  FROM l)
      |SELECT c.sk, t.n, t.tw, c.p AS wmed
      |FROM c JOIN tot t USING (sk)
      |WHERE c.cw * 2 >= t.tw AND (c.cw - c.w) * 2 < t.tw
      |ORDER BY c.sk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q80_weighted_median" -> (weightedMedian _),
    "q78_string_tie_rank" -> (stringTieRank _),
    "q59_scd2_build" -> (scd2Build _),
    "q46_value_windows" -> (valueWindows _),
    "q45_distribution_windows" -> (distributionWindows _),
    "q16_window_rank"    -> (ranking _),
    "q17_window_running" -> (runningSum _),
    "q18_window_range"   -> (rangeFrame _),
    "q19_window_laglead" -> (lagLead _),
    "q56_rolling_anomaly" -> (rollingAnomaly _),
    "q20_topk_per_group" -> (topKPerGroup _),
    "q21_orderby_limit"  -> (orderByLimit _))

  val oracle: Map[String, String] = Map(
    "q80_weighted_median" -> weightedMedianSql,
    "q78_string_tie_rank" -> stringTieRankSql,
    "q59_scd2_build" -> scd2BuildSql,
    "q16_window_rank"    -> rankingSql,
    "q17_window_running" -> runningSumSql,
    "q18_window_range"   -> rangeFrameSql,
    "q19_window_laglead" -> lagLeadSql,
    "q56_rolling_anomaly" -> rollingAnomalySql,
    "q20_topk_per_group" -> topKSql,
    "q21_orderby_limit"  -> orderByLimitSql,
    "q45_distribution_windows" -> distributionWindowsSql,
    "q46_value_windows" -> valueWindowsSql)
}
