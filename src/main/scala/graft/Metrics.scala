package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Observability parity with the reference's OTel instruments
  * (pot_writes/pot_reads/pot_lists/pot_removes counters + the
  * avg_local_lock_duration ms histogram; reference server.go:64-87,
  * increments server_routes.go:66-72,133-135,155-157, histogram record
  * server.go:616-626; SURVEY.md §2-A A12).
  *
  * Two layers, both visible:
  *
  *   - ENGINE layer (`pot_reads`/`pot_writes`): a QueryExecutionListener
  *     classifies each completed Spark query by plan shape (write command
  *     vs read) — every job the engine runs lands in exactly one.
  *   - OPERATION layer (`pot_lists`/`pot_removes`): list and remove are
  *     commit-metadata operations — a list runs no Spark query, and a
  *     remove publishes a tombstone marker without one — so the KV layer
  *     records them at the call site ([[kv.PotTable]]), the way the
  *     reference increments inside its route handlers. A remove that
  *     passes the tombstone bound restages its data, and that rewrite
  *     also counts as an engine write.
  *
  * The lock histogram mirrors `avg_local_lock_duration`: the duration of
  * the commit-marker publish protocol (our write-side mutual exclusion,
  * the analogue of the reference's localLock hold) recorded in ms into
  * OTel's default explicit bucket boundaries. Counters are process-local
  * LongAdders — in cluster mode the same listener and the KV entry points
  * run on the driver, where all query completions land, so the design is
  * scale-independent.
  */
final class Metrics extends QueryExecutionListener {
  val reads = new LongAdder
  val writes = new LongAdder
  val lists = new LongAdder
  val removes = new LongAdder
  val failures = new LongAdder
  val totalNanos = new LongAdder

  // OTel default explicit-bucket-histogram boundaries (ms). A recorded
  // value v lands in the first bucket with v <= bound, else the overflow.
  val lockBoundsMs: Array[Long] =
    Array(0L, 5L, 10L, 25L, 50L, 75L, 100L, 250L, 500L, 750L, 1000L,
      2500L, 5000L, 7500L, 10000L)
  private val lockBucketCounts = Array.fill(lockBoundsMs.length + 1)(new LongAdder)
  val lockCount = new LongAdder
  val lockSumMs = new LongAdder

  /** Record one commit-protocol (lock analogue) duration in ms. */
  def recordLockMs(ms: Long): Unit = {
    val i = lockBoundsMs.indexWhere(ms <= _)
    lockBucketCounts(if (i < 0) lockBoundsMs.length else i).increment()
    lockCount.increment()
    lockSumMs.add(ms)
  }

  /** One list operation (FS/catalog listing — no Spark query runs). */
  def recordList(): Unit = lists.increment()

  /** One remove operation (a restaging remove's rewrite also counts as a
    * write at the engine layer — see class doc).
    */
  def recordRemove(): Unit = removes.increment()

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    // Command covers both V1 (InsertInto..., CreateTable...) and V2 write
    // plans (AppendData, OverwriteByExpression extend V2WriteCommand)
    val isWrite = qe.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command]
    if (isWrite) writes.increment() else reads.increment()
    totalNanos.add(durationNs)
  }

  override def onSuccess(
      funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)

  override def onFailure(
      funcName: String, qe: QueryExecution, exception: Exception): Unit =
    failures.increment()

  /** Bucketed lock-duration distribution: cumulative-style per-bucket
    * counts keyed `lock_ms_le_<bound>` plus the `lock_ms_gt_10000`
    * overflow — the queryable form of the reference's
    * avg_local_lock_duration histogram.
    */
  def lockHistogram: Map[String, Long] =
    lockBoundsMs.zipWithIndex.map { case (b, i) =>
      s"lock_ms_le_$b" -> lockBucketCounts(i).sum()
    }.toMap + ("lock_ms_gt_10000" -> lockBucketCounts(lockBoundsMs.length).sum())

  def snapshot: Map[String, Long] = Map(
    "pot_reads"    -> reads.sum(),
    "pot_writes"   -> writes.sum(),
    "pot_lists"    -> lists.sum(),
    "pot_removes"  -> removes.sum(),
    "pot_failures" -> failures.sum(),
    "lock_count"   -> lockCount.sum(),
    "lock_sum_ms"  -> lockSumMs.sum(),
    "total_ms"     -> totalNanos.sum() / 1000000L) ++ lockHistogram
}

object Metrics {
  // weak keys: a metrics registration must not pin a stopped session
  private val bySession =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Metrics]())

  /** Install a fresh metrics listener on the session and return it. The
    * KV layer ([[kv.PotTable]]) records its operation-level events
    * (lists, removes, commit-lock durations) into the instance installed
    * for its session; without an install those events are simply not
    * recorded, like the reference with MetricsOptions.Enabled=false.
    */
  def install(spark: SparkSession): Metrics = {
    val m = new Metrics
    spark.listenerManager.register(m)
    bySession.put(spark, m)
    m
  }

  /** The metrics instance installed for this session, if any. */
  def of(spark: SparkSession): Option[Metrics] = Option(bySession.get(spark))
}
