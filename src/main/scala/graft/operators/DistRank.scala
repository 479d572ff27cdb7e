package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Exact global ROW_NUMBER / NTILE without a single-partition window.
  *
  * `Window.orderBy(...)` with no partition key moves the whole relation
  * into ONE task — fixture-correct, 100 TB-fatal. Here Spark's own range
  * partitioner carries the global order instead (`RDD.zipWithIndex`'s
  * recipe in DataFrame form): `repartitionByRange` on the full sort order,
  * a sort within each partition, a `monotonically_increasing_id` tag
  * (partition index in the high bits, position within the partition in the
  * low 33), and then `rank = offset(partition) + position + 1`, where the
  * offsets are running sums of the partitions' actual row counts — one
  * bounded collect, spliced into the plan as a literal array, so the rank
  * needs no window, no join and no broadcast.
  *
  * WHY IT IS EXACT. The range partitioner orders its partitions by the same
  * `SortOrder` the sort uses (ASC = nulls first, DESC = nulls last) and
  * sends equal keys to one partition, so every row of partition p precedes
  * every row of partition p+1. The sampler's boundaries decide parallelism
  * only, never values: the offsets are counted, not estimated. A heavy
  * leading value still spreads, because the sampler sees the tie-break
  * columns too, whatever their type. As for any ROW_NUMBER, the output is
  * exact only when the full key (`leading` plus `ties`) is unique; rows
  * tied on the full key take an arbitrary order among themselves.
  *
  * STAGING. The tagged rows are pinned with `localCheckpoint`, so the
  * counts and the caller's downstream read the same rows: the upstream
  * runs twice (the sampler's job and the shuffle), never more. A local
  * checkpoint lives in executor storage and is NOT fault-tolerant — at
  * cluster scale, losing an executor kills the query instead of recomputing
  * the lineage (on `local[n]` the executor is the driver). How such frames
  * are staged on a cluster belongs to one policy for every
  * `localCheckpoint` site in the engine, not to an option here.
  *
  * NTILE(k) is pure arithmetic on the global rank with ANSI bucket sizes —
  * the first `N mod k` buckets get one extra row — matching Spark's and
  * DuckDB's NTILE exactly.
  */
object DistRank {
  private val Id = "__drk_id"
  private val Rank = "__drk_rank"
  /** `monotonically_increasing_id` keeps the position in the low 33 bits. */
  private val PosBits = 33
  private val PosMask = (1L << PosBits) - 1L

  /** `df` plus `__drk_rank` (1-based global BIGINT row number over
    * `order`), and the row count. */
  private def ranked(df: DataFrame, order: Seq[Column]): (DataFrame, Long) = {
    val tagged = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(Id, monotonically_increasing_id())
      .localCheckpoint(true)
    // a partition's largest id is (index << 33) + its row count - 1
    val counts = tagged.select(col(Id)).as(Encoders.scalaLong)
      .mapPartitions(_.maxOption.iterator)(Encoders.scalaLong)
      .collect()
      .map(id => (id >>> PosBits).toInt -> ((id & PosMask) + 1L)).toMap
    // cum(p) = rows in partitions before p; cum.last = all rows
    val cum = (0 until (if (counts.isEmpty) 0 else counts.keys.max + 1))
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val rank = element_at(lit(cum.init.toArray),
      shiftrightunsigned(col(Id), PosBits).cast("int") + 1) +
      col(Id).bitwiseAND(PosMask) + 1L
    (tagged.withColumn(Rank, rank).drop(Id), cum.last)
  }

  private def orderOf(leading: Column, desc: Boolean,
      ties: Seq[Column]): Seq[Column] =
    (if (desc) leading.desc else leading.asc) +: ties

  /** Global row_number named `out` (BIGINT) ordered by `leading` (asc, or
    * desc when `desc`) then `ties`. */
  def withRowNumber(df: DataFrame, out: String, leading: Column,
      desc: Boolean, ties: Seq[Column]): DataFrame =
    ranked(df, orderOf(leading, desc, ties))._1.withColumnRenamed(Rank, out)

  /** Global NTILE(k) named `out` (INT, matching the builtin's type) over
    * (`leading` asc/desc, `ties`): ANSI sizes via arithmetic on the
    * distributed rank — first N mod k buckets get one extra row. */
  def withNtile(df: DataFrame, k: Int, out: String, leading: Column,
      desc: Boolean, ties: Seq[Column]): DataFrame = {
    val (r, n) = ranked(df, orderOf(leading, desc, ties))
    val q = n / k
    val rem = n % k
    val cut = rem * (q + 1)
    val tile =
      if (n == 0L) lit(1)
      else if (rem == 0L) expr(s"($Rank - 1) div $q + 1")
      else expr(
        s"CASE WHEN $Rank <= $cut THEN ($Rank - 1) div ${q + 1} + 1 " +
        s"ELSE $rem + ($Rank - $cut - 1) div ${math.max(q, 1L)} + 1 END")
    r.withColumn(out, tile.cast("int")).drop(Rank)
  }
}
